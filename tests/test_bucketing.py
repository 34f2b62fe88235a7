"""Bucketed co-located joins — the 100 TB shuffle-elimination story
made concrete: persist both fact tables bucketed by the join key, and
the sort-merge join runs with ZERO Exchange on either side (each
bucket pair joins locally). This is what you deploy when the same
fact⋈fact join runs every day at 10^11 rows — pay the shuffle once at
write time, never again at read time."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    from projetbigdata_spark.sources.catalog import load_table

    wh = str(tmp_path_factory.mktemp("warehouse"))
    for name, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        df = load_table(spark, SF_SMOKE, name)
        (
            df.write.bucketBy(N_BUCKETS, key)
            .sortBy(key)
            .mode("overwrite")
            .option("path", f"{wh}/{name}_bucketed")
            .saveAsTable(f"{name}_bucketed")
        )
    yield
    for name in ("orders", "lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {name}_bucketed")


def test_catalog_ensure_bucketed_colocated_join(spark, tmp_path):
    """The catalog's opt-in bucketed layout (ensure_bucketed) gives the
    same zero-Exchange SMJ without per-test setup, reuses the
    materialized table on repeat calls, and roundtrips values."""
    from projetbigdata_spark.sources.catalog import (
        _bucketed_name,
        ensure_bucketed,
        load_table,
    )

    root = str(tmp_path)
    o = ensure_bucketed(spark, SF_SMOKE, "orders", path_root=root)
    li = ensure_bucketed(spark, SF_SMOKE, "lineitem", path_root=root)
    try:
        assert spark.catalog.tableExists(_bucketed_name(SF_SMOKE, "orders"))
        # repeat call must reuse the catalog entry, not rewrite
        o2 = ensure_bucketed(spark, SF_SMOKE, "orders", path_root=root)
        assert o2.count() == o.count()

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
            assert "Exchange hashpartitioning(l_orderkey" not in plan
            assert "Exchange hashpartitioning(o_orderkey" not in plan
            n_bucketed = joined.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

        n_plain = (
            load_table(spark, SF_SMOKE, "lineitem")
            .join(
                load_table(spark, SF_SMOKE, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert n_bucketed == n_plain
    finally:
        for name in ("orders", "lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {_bucketed_name(SF_SMOKE, name)}")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    o = spark.table("orders_bucketed")
    l = spark.table("lineitem_bucketed")
    # at fixture scale Catalyst would broadcast instead (tiny tables);
    # disable it to exercise the path bucketing exists for — the
    # fact⋈fact SMJ that at 10^11 rows can't broadcast
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
            "o_orderpriority"
        ).agg(F.count("*").alias("n"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Bucketed: true" in plan
        # the join inputs come straight from the bucketed scans —
        # no Exchange on either join key
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        joined = joined.localCheckpoint(eager=True)  # pin result pre-restore
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # and the result matches the plain (shuffling) join
    from projetbigdata_spark.sources.catalog import load_table

    plain = (
        load_table(spark, SF_SMOKE, "lineitem")
        .join(
            load_table(spark, SF_SMOKE, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )
    assert joined.subtract(plain).count() == 0
    assert plain.subtract(joined).count() == 0


def test_bucketed_join_first_touch_from_two_threads(spark, tmp_path):
    """Two clients make the first call of join_bucketed_priority_counts
    on one fresh directory at the same time: each bucketed table is
    written once and both results match the oracle."""
    import os
    import shutil
    import threading

    import duckdb

    from projetbigdata_spark.operators import relational3
    from projetbigdata_spark.sources.catalog import _bucketed_name
    from tests.conftest import TABLES, assert_matches_oracle

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_SMOKE, sf)
    barrier = threading.Barrier(2)
    frames, errors = [], []

    def client():
        try:
            barrier.wait()
            df = relational3.join_bucketed_priority_counts(spark, sf)
            df.collect()
            frames.append(df)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=client) for _ in range(2)]
    con = duckdb.connect()
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert errors == [] and len(frames) == 2
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
            )
        for df in frames:
            assert_matches_oracle(
                df, con, relational3.BUCKETED_JOIN_SQL, "join_bucketed_priority_counts"
            )
    finally:
        con.close()
        # the query pins its tables under <repo>/spark-warehouse
        wh = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "spark-warehouse",
        )
        for name in ("orders", "lineitem"):
            tbl = _bucketed_name(sf, name)
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)
