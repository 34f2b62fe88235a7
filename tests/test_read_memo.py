"""Driver-side per-query metadata work that repeats only when its inputs
change: the fingerprint-checked parquet schema memo behind
sources.catalog.read_parquet, and the compiled-class cache that
session.get_spark sizes to the registered query surface."""

from __future__ import annotations

import shutil
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _jobs_in_group(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return (its result, the ids
    of the jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job starts reach the status tracker through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_path_launches_no_job(spark, tmp_path):
    from projetbigdata_spark.sources.catalog import load_table

    shutil.copytree(SF_SMOKE, tmp_path / "sf")
    sf = str(tmp_path / "sf")
    first, jobs1 = _jobs_in_group(
        spark, "memo-first", lambda: load_table(spark, sf, "orders")
    )
    second, jobs2 = _jobs_in_group(
        spark, "memo-second", lambda: load_table(spark, sf, "orders")
    )
    assert jobs1, "the first read infers the schema with a Spark job"
    assert jobs2 == []
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_rewritten_path_is_inferred_again(spark, tmp_path):
    """Overwriting a path with a different schema serves the new schema
    and rows — for a Spark-written directory and a single file rewritten
    in place under the same name."""
    from projetbigdata_spark.sources.catalog import read_parquet

    d = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").write.parquet(d)
    assert read_parquet(spark, d).columns == ["k", "v"]
    assert read_parquet(spark, d).count() == 2  # memo hit
    spark.createDataFrame([(0.5,)], "x double").write.mode("overwrite").parquet(d)
    df = read_parquet(spark, d)
    assert df.columns == ["x"]
    assert [r.x for r in df.collect()] == [0.5]

    f = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), f)
    assert read_parquet(spark, f).columns == ["a"]
    pq.write_table(pa.table({"a": [7], "c": ["z"]}), f)
    df = read_parquet(spark, f)
    assert df.columns == ["a", "c"]
    assert [tuple(r) for r in df.collect()] == [(7, "z")]


def test_nanos_as_long_entry_is_not_served_with_the_conf_off(spark, tmp_path):
    from projetbigdata_spark.sources.catalog import read_parquet

    f = str(tmp_path / "ev.parquet")
    ts = pa.array([1_000_000_123, 2_000_000_456], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), f, version="2.6")
    prev = spark.conf.get(NANOS_CONF, None)
    try:
        spark.conf.set(NANOS_CONF, "true")
        assert read_parquet(spark, f).schema["ts"].dataType.simpleString() == "bigint"
        spark.conf.set(NANOS_CONF, "false")
        # exactly what an unmemoized read does with the conf off
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL|NANOS"):
            read_parquet(spark, f).schema
    finally:
        if prev is None:
            spark.conf.unset(NANOS_CONF)
        else:
            spark.conf.set(NANOS_CONF, prev)


def test_concurrent_first_reads_of_one_path(spark, tmp_path):
    from projetbigdata_spark.sources.catalog import load_table

    shutil.copytree(SF_SMOKE, tmp_path / "sf")
    sf = str(tmp_path / "sf")
    barrier = threading.Barrier(2)
    counts, errors = [], []

    def client():
        try:
            barrier.wait()
            counts.append(load_table(spark, sf, "lineitem").count())
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=client) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert len(counts) == 2 and counts[0] == counts[1] > 0


def test_unfingerprintable_paths_read_as_before(spark, tmp_path):
    from projetbigdata_spark.sources import catalog

    shutil.copytree(SF_SMOKE, tmp_path / "sf")
    glob = f"{tmp_path}/sf/nat*.parquet"
    assert catalog.read_parquet(spark, glob).count() == 25
    assert glob not in catalog._PATH_MEMO
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        catalog.read_parquet(spark, f"{tmp_path}/missing.parquet")


def test_scan_width_follows_the_file_fingerprint(spark, tmp_path):
    from projetbigdata_spark.sources import catalog

    d = str(tmp_path / "docs.parquet")
    spark.range(100).write.parquet(d)
    catalog.parallel_scan(
        spark, catalog.read_parquet(spark, d), bytes_per_task=1024, cache_key=d
    )
    assert 1024 in catalog._PATH_MEMO[d].widths
    spark.range(5000).repartition(3).write.mode("overwrite").parquet(d)
    assert catalog._path_memo(spark, d).widths == {}


def test_codegen_cache_holds_the_analyst_surface(spark, tmp_path):
    """A query re-run after ~15 others (~125 generated classes, more than
    the 100-entry default cache holds) finds its classes still cached.

    Spark keys the cache by (thread context class loader, source), and
    the driver's threads and the executor's task threads carry different
    loaders, so the few classes that q8 happens to build on a thread of
    the other kind compile once more: 0-8 of q8's 27 classes on a 4-core
    VM. With the 100-entry default the re-run recompiled 19-24."""
    import itertools

    from projetbigdata_spark.operators import relational, relational2, relational4

    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    q8 = relational4.q8_market_share
    others = [
        q
        for q in itertools.chain(
            relational.QUERIES.values(), relational2.QUERIES.values()
        )
        if q is not q8
    ][:15]
    a, b = tmp_path / "a", tmp_path / "b"
    shutil.copytree(SF_SMOKE, a)
    shutil.copytree(SF_SMOKE, b)
    q8(spark, str(a)).collect()
    for q in others:
        q(spark, str(a)).collect()
    before = cm.METRIC_COMPILATION_TIME().getCount()
    q8(spark, str(b)).collect()
    assert cm.METRIC_COMPILATION_TIME().getCount() - before <= 12
