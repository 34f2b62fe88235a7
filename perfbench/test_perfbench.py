"""The benchmark's own tests.

    python -m pytest perfbench/test_perfbench.py -q

The generator and failure-accounting tests need no Spark. The race test
starts one session; the smoke test runs all three workloads end to end
on sf0.001-derived inputs (a few minutes on 4 cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.check import Expected  # noqa: E402


def _digests(d: str) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _rows(d: str) -> dict[str, int]:
    return {f: pq.ParquetFile(os.path.join(d, f)).metadata.num_rows for f in sorted(os.listdir(d))}


def test_generator_is_deterministic(tmp_path):
    a = gen.tables("sf0.001", str(tmp_path / "a"), seed=7)
    b = gen.tables("sf0.001", str(tmp_path / "b"), seed=7)
    c = gen.tables("sf0.001", str(tmp_path / "c"), seed=8)
    assert _digests(a) == _digests(b)
    assert _digests(a) != _digests(c)
    assert _rows(a) == _rows(c)


def test_generator_keeps_query_properties(tmp_path):
    d = gen.tables("sf0.01", str(tmp_path / "t"), seed=3)
    orders = pq.read_table(f"{d}/orders.parquet").to_pandas()
    items = pq.read_table(f"{d}/lineitem.parquet").to_pandas()
    assert set(items.l_orderkey) <= set(orders.o_orderkey)  # FK integrity
    vecs = pq.read_table(f"{d}/embeddings.parquet").to_pandas()
    assert sorted(vecs.vec_id[vecs.vec_id < 10]) == list(range(10))
    base = pq.read_table(os.path.join(gen.FIXTURES, "sf0.01", "events.parquet")).to_pandas()
    events = pq.read_table(f"{d}/events.parquet").to_pandas()
    assert (events.ts.min(), events.ts.max()) == (base.ts.min(), base.ts.max())


def test_documents_are_deterministic_with_fixed_near_dup_share():
    a = gen.documents("sf0.01", 2500, seed=5, salt="labeled")
    b = gen.documents("sf0.01", 2500, seed=5, salt="labeled")
    c = gen.documents("sf0.01", 2500, seed=6, salt="labeled")
    assert a.equals(b) and not a.equals(c) and c.num_rows == 2500
    df = a.to_pandas()
    assert df.doc_id.is_unique
    assert (df.source == "src" + (df.doc_id % 20).astype(str)).all()
    assert (df.n_chars == df.text.str.len()).all()
    replicas = df[df.doc_id >= gen.DOC_STRIDE]
    share = replicas.text.str.endswith(gen.NEAR_DUP_SUFFIX).mean()
    assert 0.02 < share < 0.10


def _harness(tmp_path):
    from perfbench.harness import Harness

    args = SimpleNamespace(workload="analyst-sql", seed=1, seconds=1, trace=0, smoke=True)
    h = Harness(args)
    h.run_dir = str(tmp_path)
    return h


def test_dropped_row_is_a_failed_op(tmp_path):
    h = _harness(tmp_path)
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    want = Expected.of(df)
    h.check_later("good", lambda: h._check(df.copy(), want, None, None))
    h.check_later("client_rows", lambda: h._check(df.iloc[1:].copy(), want, None, None))
    path = str(tmp_path / "written")
    os.makedirs(path)
    pq.write_table(pa.Table.from_pandas(df.iloc[:2], preserve_index=False), f"{path}/part-0.parquet")
    h.check_later("written", lambda: h._check(path, want, None, None))
    h.run_checks()
    assert [name for name, _ in h.failures] == ["client_rows", "written"]


@pytest.mark.xfail(strict=False, reason="known program defect: two concurrent first calls of "
                   "sources.catalog.ensure_bucketed race on saveAsTable (see NOTES.md)")
def test_bucketed_join_first_touch_from_two_clients(tmp_path, monkeypatch):
    """Two clients issue join_bucketed_priority_counts on a new directory
    at the same time. The analyst-sql pass runs each query once, so it
    cannot show this race; this test does, counting the ops through the
    harness without retries."""
    from perfbench.harness import stop_spark
    from perfbench.tracing import JobGroups
    from perfbench.workloads import _run_all
    from projetbigdata_spark.operators.relational3 import join_bucketed_priority_counts
    from projetbigdata_spark.session import get_spark
    from projetbigdata_spark.sources.catalog import _bucketed_name

    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS",
                       f"--conf spark.sql.warehouse.dir={tmp_path / 'warehouse'} pyspark-shell")
    sf = gen.fresh_copy(os.path.join(gen.FIXTURES, "sf0.001"), str(tmp_path / "sf"))
    h = _harness(tmp_path)
    h.spark = get_spark("perfbench-race")
    h.groups = JobGroups(h.spark.sparkContext)

    def op(i):
        return lambda: h.run_op("timed", i, "join_bucketed_priority_counts", None,
                                build=lambda: join_bucketed_priority_counts(h.spark, sf),
                                action=lambda df: df.toPandas(), check=None)

    try:
        _run_all([op(0), op(1)], 2)
    finally:
        stop_spark(h.spark)
        # the program pins these tables under <repo>/spark-warehouse
        wh = os.path.join(ROOT, "spark-warehouse")
        for t in ("orders", "lineitem"):
            shutil.rmtree(os.path.join(wh, _bucketed_name(sf, t)), ignore_errors=True)
        if os.path.isdir(wh) and not os.listdir(wh):
            os.rmdir(wh)
    assert h.attempted == 2
    assert h.failures == []


@pytest.mark.parametrize("workload", ["analyst-sql", "curate-ingest", "sentiment-ml"])
def test_smoke(workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "1", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["attempted"] > 0 and res["failed"] == 0 and res["correct"], res
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["per_layer"]}
    assert names <= set(res["metrics"])
