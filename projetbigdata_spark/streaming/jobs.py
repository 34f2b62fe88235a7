"""True Structured Streaming jobs over the events table (SURVEY.md
§2.12 north-star). The batch twins in events_batch.py are the
oracle-checked specs; these run the same Catalyst expressions through
readStream/writeStream with watermarks, so batch result == streaming
result is the correctness property (asserted in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projetbigdata_spark.session import tune
from projetbigdata_spark.sources.catalog import read_parquet


EVENTS_RAW_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def open_events_stream(spark: SparkSession, source: dict) -> DataFrame:
    """Thin source abstraction: every streaming job consumes the SAME
    normalized events stream (event_id, ts timestamp, user_id,
    event_type, value, props), whatever transport delivers it. The
    spec is a plain dict so deployment config can come straight from
    JSON/env:

      {"kind": "files", "path": dir, "max_files_per_trigger": 1}
          — parquet directory (FileStreamSource); local tests + replay.
      {"kind": "kafka", "bootstrap_servers": ..., "topic": ...,
       "starting_offsets": "earliest", "max_offsets_per_trigger": N}
          — deployment transport; JSON-encoded event per record,
            decoded with from_json against the same schema. Needs the
            spark-sql-kafka connector on the classpath (absent in this
            container — construction is the tested surface elsewhere).
      {"kind": "rate", "rows_per_second": N, "users": U}
          — built-in synthetic source mapped deterministically onto the
            events schema (user_id = counter % U, default 100);
            soak/load testing with zero fixtures — `users` sizes the
            keyed-state cardinality under test.

    Jobs stay transport-agnostic; only this function changes between
    local runs and the cluster."""
    tune(spark)
    kind = source.get("kind", "files")
    if kind == "files":
        from pyspark.sql import types as T

        # FileStreamSource needs a user schema; peek at the directory
        # with a one-footer batch read so the declared ts type matches
        # whatever physical layout this fixture generation used
        # (TIMESTAMP(NANOS) -> long under nanosAsLong; TIMESTAMP(MICROS)
        # with/without tz -> timestamp/timestamp_ntz). nanosAsLong is a
        # session-wide legacy conf, so probe WITHOUT it first and set it
        # only when the footer really is TIMESTAMP(NANOS) — a MICROS
        # fixture must not leave the legacy conf flipped for every
        # later reader in the session (same hygiene as
        # sources/catalog.load_events). An empty or not-yet-created
        # directory (watch-before-first-file) falls back to the nanos
        # layout the fixtures use. read_parquet memoizes the footer per
        # file fingerprint, so repeated set-ups on unchanged files launch
        # no schema job.
        try:
            ts_physical = read_parquet(spark, source["path"]).schema["ts"].dataType
        except Exception:
            if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true":
                ts_physical = T.LongType()  # empty/missing dir, conf already legacy
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                try:  # PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS) -> retry as long
                    ts_physical = (
                        read_parquet(spark, source["path"]).schema["ts"].dataType
                    )
                    if not isinstance(ts_physical, T.LongType):
                        # first probe failed for a non-nanos reason
                        # (transient IO, partial write): the files are
                        # MICROS — revert the legacy conf so the rest
                        # of the session reads timestamps normally
                        spark.conf.unset(
                            "spark.sql.legacy.parquet.nanosAsLong"
                        )
                except Exception:  # genuinely empty/missing dir
                    # assume the nanos layout the fixtures use; the
                    # conf DELIBERATELY stays set — the stream we
                    # return reads future files under it (a bigint ts
                    # schema on NANOS parquet needs it per-batch)
                    ts_physical = T.LongType()
        nanos = isinstance(ts_physical, T.LongType)
        # rebuild the declared schema field-by-field from the observed
        # physical type (no substring surgery on the DDL string)
        ts_ddl = ts_physical.simpleString()  # 'bigint'|'timestamp_ntz'|'timestamp'
        schema = ", ".join(
            f"ts {ts_ddl}" if f.startswith("ts ") else f
            for f in EVENTS_RAW_SCHEMA.split(", ")
        )
        raw = (
            spark.readStream.schema(schema)
            .option(
                "maxFilesPerTrigger", int(source.get("max_files_per_trigger", 1))
            )
            .parquet(source["path"])
        )
        if nanos:  # integer-truncate ns -> µs, as DuckDB does
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    if kind == "kafka":
        reader = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", source["bootstrap_servers"])
            .option("subscribe", source["topic"])
            .option("startingOffsets", source.get("starting_offsets", "earliest"))
        )
        if "max_offsets_per_trigger" in source:
            reader = reader.option(
                "maxOffsetsPerTrigger", int(source["max_offsets_per_trigger"])
            )
        parsed = reader.load().select(
            F.from_json(F.col("value").cast("string"), EVENTS_RAW_SCHEMA).alias("e")
        )
        return parsed.select("e.*").withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    if kind == "rate":
        raw = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", int(source.get("rows_per_second", 100)))
            .load()
        )
        # deterministic synthetic events keyed off the rate counter
        return raw.select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % int(source.get("users", 100))).alias("user_id"),
            F.element_at(
                F.array(F.lit("click"), F.lit("view"), F.lit("purchase")),
                (F.col("value") % 3 + 1).cast("int"),
            ).alias("event_type"),
            ((F.col("value") % 1000) / 10.0).alias("value"),
            F.to_json(F.struct(F.col("value").alias("seq"))).alias("props"),
        )
    raise KeyError(f"unknown stream source kind {kind!r}")


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """Back-compat wrapper: the file-transport spec of
    open_events_stream (in deployment the same jobs run on Kafka by
    swapping the source dict)."""
    return open_events_stream(spark, {"kind": "files", "path": events_dir})


def tumbling_counts_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling 1h aggregation — the streaming twin of
    events_batch.events_tumbling_1h."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Watermarked streaming dedup on (user_id, event_type) — the
    streaming spelling of events_batch.events_dedup_keyed."""
    return events.withWatermark("ts", "2 hours").dropDuplicates(
        ["user_id", "event_type"]
    )


def session_windows_stream(events: DataFrame) -> DataFrame:
    """Watermarked session windows (30-minute gap) per user — the
    streaming twin of events_batch.events_session_30m. Append mode
    emits a session only once its window can no longer grow (watermark
    passed session end) — the late-data-drop semantics the batch twin
    can't show."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def running_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running event count + value total, state carried across triggers.

    This is the applyInPandasWithState escape hatch for operators the
    built-in windowed aggs can't express (arbitrary per-key state
    machines). Arrow-batched: each trigger hands the group's new rows
    to pandas, state is a tiny tuple — at scale, state lives in the
    executor state store partitioned by user_id (one shuffle)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        import pandas as pd

        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def incremental_dedup_stream(
    docs_stream: DataFrame, corpus_sigs: DataFrame, out_dir: str
):
    """Streaming ingest dedup: each micro-batch of incoming documents
    (doc_id, text) is minhash-signed and matched against the STATIC
    corpus signature table via foreachBatch — the production shape for
    'dedup today's crawl against the corpus' (the batch twin is
    operators/dedup.dedup_incremental; both call the same
    signatures_of + incremental_match core, so batch == streaming
    verdicts is the tested property).

    foreachBatch rather than a stateful streaming agg because the
    corpus side is a big static table: per trigger we run a normal
    batch join (broadcast/AQE apply as usual), and append verdicts to
    a parquet sink. corpus_sigs should be a materialized signature
    table (localCheckpoint/persist or a parquet read) so it isn't
    recomputed per batch."""
    from projetbigdata_spark.operators.dedup import (
        incremental_match,
        signatures_of,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # anchor on the full micro-batch: docs with <2 tokens carry no
        # signature but must still get a verdict row (is_dup=FALSE)
        verdicts = incremental_match(
            signatures_of(batch_df), corpus_sigs,
            anchor=batch_df.select("doc_id"),
        )
        verdicts.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    return docs_stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )


def ann_ingest_stream(
    vec_stream: DataFrame,
    cents: DataFrame,
    posting: DataFrame,
    base_norm: DataFrame,
    out_dir: str,
):
    """Streaming ANN ingest: each micro-batch of incoming vectors
    (vec_id, embedding) is probed against the STATIC frozen-codebook
    IVF index via foreachBatch — 'find each new embedding's nearest
    corpus neighbors as it arrives', the continuous-ingest shape of
    sim_ivf_incremental (operators/similarity.py). Both call the same
    incremental_ann_match core on an index from build_ivf_base_index,
    so batch == streaming verdicts is the tested property (the
    dedup incremental_dedup_stream pattern, applied to vectors).

    foreachBatch rather than a stateful streaming agg for the same
    reason as the dedup twin: the index side is big and static — per
    trigger we run a normal batch probe (broadcast k-row centroid
    fold + posting equi-join) and append top-k verdicts to parquet.
    cents/posting/base_norm should be materialized (localCheckpoint
    or parquet reads) so no micro-batch pays the training cost."""
    from pyspark.sql import functions as SF

    from projetbigdata_spark.operators.similarity import (
        _micro_arr,
        _with_norm,
        incremental_ann_match,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        matches = incremental_ann_match(
            _micro_arr(batch_df), _with_norm(batch_df),
            cents, posting, base_norm,
        )
        matches.withColumn("batch_id", SF.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    return vec_stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )


def quality_scores_stream(docs_stream, out_dir: str):
    """Streaming quality-filter scoring: each micro-batch of incoming
    documents (doc_id, lang, text) is scored by the FROZEN classifier
    via foreachBatch — 'gate today's crawl on the learned quality
    filter as it arrives', extending the ingest-twin family
    (dedup / ANN / span / selection) to the classifier tier. The model
    is a stateless 64-row coefficient table, so there is no state
    store and no ordering sensitivity: scoring a micro-batch IS the
    batch query on that slice (the shared
    operators/classifier.quality_scores_of core — batch == streaming
    verdicts is the tested property, tests/test_streaming.py)."""
    from projetbigdata_spark.operators.classifier import quality_scores_of

    def process(batch_df: DataFrame, batch_id: int) -> None:
        verdicts = quality_scores_of(batch_df.sparkSession, batch_df)
        verdicts.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    return docs_stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )


def gopher_clean_stream(docs_stream, out_dir: str):
    """Streaming Gopher rule gating: each micro-batch of incoming
    documents (doc_id, text) gets the published A1.1 quality verdict
    via foreachBatch — 'rule-gate today's crawl as it arrives', the
    cheapest member of the ingest-twin family: the rules are a
    stateless zero-shuffle in-row projection (no model table, no
    state store, no ordering sensitivity), so gating a micro-batch IS
    the batch query on that slice (the shared
    operators/repetition.gopher_clean_of core — batch == streaming
    verdicts is the tested property, tests/test_streaming.py). This
    is where rule filters sit in a real ingest pipeline: in front of
    everything that shuffles."""
    from projetbigdata_spark.operators.repetition import gopher_clean_of

    def process(batch_df: DataFrame, batch_id: int) -> None:
        verdicts = gopher_clean_of(batch_df)
        verdicts.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    return docs_stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )


def normalize_stream(docs_stream, out_dir: str):
    """Streaming text normalization: each micro-batch of incoming
    documents (doc_id, text) gets the pre-dedup folding pass
    (operators/curation.text_normalize's expression chain) via
    foreachBatch — normalize the crawl AS IT ARRIVES so every
    downstream ingest twin (Bloom membership, line dedup, span
    fold-in) hashes canonical bytes. Stateless zero-shuffle in-row
    rules, the gopher_clean_stream class: batch == streaming outputs
    is the tested property (tests/test_streaming.py)."""
    from projetbigdata_spark.operators.curation import normalize_frame

    def process(batch_df: DataFrame, batch_id: int) -> None:
        normalize_frame(batch_df).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(out_dir)

    return docs_stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )


def trigram_scores_stream(
    docs_stream,
    standing_sf_dir: str,
    out_dir: str,
    model_path: str | None = None,
):
    """Streaming LM scoring: each micro-batch of incoming documents
    (doc_id, lang, text) is scored by the FROZEN Stupid-Backoff trigram
    model via foreachBatch — 'CCNet-score today's crawl as it arrives',
    extending the ingest-twin family to the LM tier. The model is built
    ONCE from the standing corpus's target slice (closure-captured
    frames, the ann_ingest_stream pattern) and persisted; like
    quality_scores_stream there is no state store and no ordering
    sensitivity — scoring a micro-batch IS the batch twin
    (text_trigram_backoff_score_incremental) on that slice, which is
    the tested property (tests/test_streaming.py)."""
    from projetbigdata_spark.operators.dedup import INCR_NEW_SOURCE
    from projetbigdata_spark.operators.selection import (
        DSIR_TARGET_LANG,
        _sb_model,
        _sb_score_with_model,
        load_sb_model,
    )
    from projetbigdata_spark.sources.catalog import load_table

    spark = docs_stream.sparkSession
    if model_path is not None:
        # r11 epoch-artifact form: the frozen model was persisted once
        # per epoch (save_sb_model, optionally count-pruned); workers
        # load the parquet tables instead of re-training.
        model = load_sb_model(spark, model_path)
    else:
        # the standing slice (source <> 'src0') of the corpus dir — the
        # exact model the batch twin trains, so batch == streaming holds
        standing = load_table(spark, standing_sf_dir, "documents").where(
            F.col("source") != INCR_NEW_SOURCE
        )
        model = _sb_model(
            standing.where(F.col("lang") == DSIR_TARGET_LANG)
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        scores = _sb_score_with_model(batch_df, model)
        scores.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    return docs_stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )



def bloom_membership_stream(
    docs_stream,
    standing_sf_dir: str,
    out_dir: str,
    bits_path: str | None = None,
    m: int | None = None,
):
    """Streaming Bloom membership: each micro-batch of incoming
    documents is probed against the standing corpus's FROZEN bit set
    via foreachBatch — the at-ingest exact-membership prefilter as a
    stream job. The filter frame is built ONCE from the standing slice
    (closure-captured, like the LM/ANN twins) and is MONOTONE (bits
    only turn on), so a filter snapshot is always a valid — merely
    conservative-in-time — prefilter for later batches; there is no
    state store and no ordering sensitivity, and probing a micro-batch
    IS the batch twin (dedup_incremental_bloom) on that slice — the
    tested property (tests/test_streaming.py).

    Geometry (ADVICE r11): the probe must hash at the m the bit set
    was BUILT with. With bits_path the persisted meta's m wins (the
    artifact knows its own geometry); otherwise `m` (default BLOOM_M)
    sizes both the in-session build and the probe, so they cannot
    diverge. The per-batch probe is bloom_apply itself — one spelling,
    no inline drift."""
    from projetbigdata_spark.operators.dedup import (
        BLOOM_M,
        INCR_NEW_SOURCE,
        bloom_apply,
        bloom_bits_frame,
        load_bloom_bits,
    )
    from projetbigdata_spark.sources.catalog import load_table

    spark = docs_stream.sparkSession
    if bits_path is not None:
        # r11 epoch-artifact form: the monotone bit set was persisted
        # once per epoch (save_bloom_bits); workers load the skinny
        # (bit, set) parquet instead of re-scanning the standing keys.
        # The meta table's m overrides — the artifact's geometry is
        # authoritative over any caller guess.
        bits, m = load_bloom_bits(spark, bits_path)
        bits = bits.persist()
    else:
        m = BLOOM_M if m is None else m
        standing = load_table(spark, standing_sf_dir, "documents").where(
            F.col("source") != INCR_NEW_SOURCE
        )
        bits = bloom_bits_frame(standing, m=m).persist()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bloom_apply(batch_df, bits, m=m).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(out_dir)

    return docs_stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )



def anomaly_state_path(state_dir: str) -> str:
    """The VERSIONED partials root under a state_dir (ADVICE r6). The
    r6 idempotence fix changed the state layout from flat appended
    parquet to batch_id=<N> partition subdirectories; Spark partition
    discovery rejects a directory mixing both shapes, so a pre-r6
    state dir restarted against the new code would fail on read. The
    layout therefore gets its own version segment — old flat files at
    the state_dir root and the new partitioned tree never share a
    scan root. Migration from a pre-r6 deployment: either clear the
    state dir (the availableNow source replays and rebuilds it), or
    move the flat files aside; they are NOT read by v2."""
    return f"{state_dir}/partials_v2"


def anomaly_process(state_dir: str, out_dir: str):
    """foreachBatch body of anomaly_stream, factored out so tests can
    replay a batch_id directly. IDEMPOTENT per batch (ADVICE r5):
    foreachBatch is at-least-once, so each micro-batch's (event_type,
    hour) count partials land in a batch_id=<N> subdirectory with
    OVERWRITE — a retried/replayed trigger rewrites identical content
    instead of appending a second copy, and the sum-on-read stays
    exact. Partials live under anomaly_state_path(state_dir), a
    versioned subtree, so a legacy flat-layout state dir cannot
    poison partition discovery (ADVICE r6). Counts are additive, so
    partial-per-trigger + sum-on-read reproduces the batch hourly
    frame; the detector then re-runs the shared median/3·MAD rule
    over the accumulated frame and overwrites the flags snapshot
    (medians are corpus-level order statistics — they cannot be
    folded incrementally, so each trigger re-ranks the tiny
    |types × hours| frame; at scale that frame stays thousands of
    rows when the raw stream is billions)."""
    from projetbigdata_spark.streaming.events_batch import mad_flags

    partials_root = anomaly_state_path(state_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(
                F.col("event_type"),
                F.date_trunc("hour", "ts").alias("hour"),
            )
            .agg(F.count("*").alias("n_events"))
            .write.mode("overwrite")
            .parquet(f"{partials_root}/batch_id={batch_id}")
        )
        spark = batch_df.sparkSession
        hourly = (
            spark.read.parquet(partials_root)
            .groupBy("event_type", "hour")
            .agg(F.sum("n_events").alias("n_events"))
        )
        mad_flags(hourly).write.mode("overwrite").parquet(out_dir)

    return process


def anomaly_stream(
    events_stream: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
):
    """Streaming volume-anomaly detection: the foreachBatch twin of
    events_batch.events_anomaly_mad, with exactly-once state effects
    (see anomaly_process). A checkpointLocation is pinned by default
    (under the state dir, underscore-prefixed so the parquet reader
    ignores it) so a restarted query RESUMES from the last committed
    offset instead of replaying the whole source — and if a committed
    batch does replay, the batch_id-keyed overwrite absorbs it.

    Batch == streaming flags is a structural identity: both paths end
    in events_batch.mad_flags."""
    return (
        events_stream.writeStream.foreachBatch(
            anomaly_process(state_dir, out_dir)
        )
        .option(
            "checkpointLocation",
            checkpoint_dir or f"{state_dir}/_checkpoint",
        )
        .trigger(availableNow=True)
    )


def user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static per-user enrichment dim derived from the historical
    events table: lifetime event count + total purchase value. The
    static side of the stream-static join below; at deployment this is
    any slowly-changing dim or feature table (broadcast under the
    auto threshold, shuffle-join above it)."""
    from projetbigdata_spark.sources.catalog import load_events

    ev = load_events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count("*").alias("lifetime_events"),
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))
                  .otherwise(0.0)),
            2,
        ).alias("lifetime_purchase_value"),
    )


def enriched_events_stream(events: DataFrame, profile: DataFrame) -> DataFrame:
    """Stream-static INNER join (native Structured Streaming support —
    no state store involved: the static side is re-planned per
    micro-batch, so a dim refresh lands without restarting the query).
    Every event is enriched with the user's historical profile; the
    batch twin is a plain events⋈profile join, asserted equal in
    tests/test_streaming.py."""
    return events.join(profile, "user_id").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "lifetime_events",
        "lifetime_purchase_value",
    )


def tws_available() -> bool:
    """transformWithStateInPandas needs the protobuf Python package
    for its state-server protocol; absent in this container (no pip),
    so the TWS tier is construction-tested and gated, exactly like the
    kafka jar and the NLTK/pillow tiers."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_totals_stream_tws(events: DataFrame) -> DataFrame:
    """The transformWithStateInPandas spelling of running_totals_stream
    — Spark 4's replacement for applyInPandasWithState: explicit typed
    state variables on a handle (value/list/map state, timers, TTL)
    instead of one opaque state tuple, and the processor outlives a
    single batch. Same semantics as the applyInPandasWithState job
    above, asserted equal to the batch totals when the runtime
    supports it (tws_available()); requires the RocksDB state store
    provider (set by the caller on the session, see
    tests/test_streaming.py)."""
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState(
                "totals", "n long, total double"
            )

        def handleInputRows(self, key, rows, timer_values):
            prev = self.state.get()
            n, total = prev if prev is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self.state.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        def close(self) -> None:
            """Mandatory StatefulProcessor teardown hook. Nothing to
            release: the value-state handle is owned and closed by the
            JVM state store, and this processor holds no Python-side
            resources (no files, sockets, or executors)."""

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def click_attribution_stream(
    purchases: DataFrame, clicks: DataFrame
) -> DataFrame:
    """STREAM-STREAM inner join with watermark-bounded state: each
    purchase joined to every click by the same user within the
    preceding 30 minutes. Both sides carry a 1-hour watermark and the
    join condition is time-bounded, so the state store retains clicks
    for only (watermark delay + 30 min) of event time — the
    requirements Structured Streaming imposes before it will agree to
    clean up join state at all. Batch twin (oracle-checked spec):
    events_batch.events_click_attribution; equality asserted in
    tests/test_streaming.py.

    Takes the two pre-filtered streams (usually both derived from one
    open_events_stream) so tests and deployments can feed independent
    transports per side — the common case where clicks and purchases
    arrive on different topics."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", "1 hour")
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", "1 hour")
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")
        ),
    ).select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "purchase_ts",
        "click_id",
        "click_ts",
        F.expr(
            "(unix_micros(purchase_ts) - unix_micros(click_ts)) div 1000000"
        ).alias("delta_s"),
    )


def run_to_memory_sink(df: DataFrame, name: str, mode: str = "append"):
    """Drain a stream with availableNow into an in-memory table;
    returns the finished StreamingQuery."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return q


def ccnet_select_stream(
    docs_stream,
    standing_sf_dir: str,
    out_dir: str,
    policy_path: str | None = None,
):
    """Streaming CCNet selection: each micro-batch of incoming
    documents is gated, share-capped, and perplexity-bucketed against
    the standing corpus's FROZEN policy via foreachBatch — the
    composed keep verdict at a crawl frontier. The whole policy
    (accept table, LM model, tercile thresholds) is built ONCE from
    the standing slice (ccnet_frozen_policy — closure-captured frames,
    the trigram/ANN twins' pattern) and applied per batch through the
    shared ccnet_apply_policy core; the gate is stateless in-row
    rules, the cap probe and bucket assignment are broadcast joins
    against frozen |langs|-row tables — no state store, no ordering
    sensitivity, and verdicting a micro-batch IS the batch twin
    (corpus_ccnet_select_incremental) on that slice, which is the
    tested property (tests/test_streaming.py)."""
    from projetbigdata_spark.operators.dedup import INCR_NEW_SOURCE
    from projetbigdata_spark.operators.selection import (
        ccnet_apply_policy,
        ccnet_frozen_policy,
        load_ccnet_policy,
    )
    from projetbigdata_spark.sources.catalog import load_table

    spark = docs_stream.sparkSession
    if policy_path is not None:
        # r11 (VERDICT r10 item 4): the deployment form — the policy
        # was built and persisted once per epoch (save_ccnet_policy);
        # ingest workers load the parquet tables instead of re-running
        # the epoch build. load-then-apply ≡ build-then-apply is
        # pinned in test_selection_ops.py.
        policy = load_ccnet_policy(spark, policy_path)
    else:
        standing = load_table(spark, standing_sf_dir, "documents").where(
            F.col("source") != INCR_NEW_SOURCE
        )
        policy = ccnet_frozen_policy(standing)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        verdicts = ccnet_apply_policy(batch_df, policy)
        verdicts.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    return docs_stream.writeStream.foreachBatch(process).trigger(
        availableNow=True
    )
