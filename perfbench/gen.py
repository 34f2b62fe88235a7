"""Seeded input generator for the benchmark.

Every input is derived from the fixtures vendored under
``perfbench/fixtures`` (copies of the repo's sf0.001 / sf0.01 test
tables), so a run needs nothing outside its checkout. The seed is the
only input: the same seed gives byte-identical parquet files, and every
seed gives the same row counts.

Properties the registered queries rely on are kept:

- FK integrity: ``orders`` and ``lineitem`` shift their order keys by
  the SAME seed-derived offset (the ``examples/gen_soak.py`` idiom);
  dimension keys are untouched.
- ``vec_id < 10`` stays the query-vector set (vector ids are not
  shifted), ``source = 'src' || doc_id % 20`` stays true (document ids
  shift only by multiples of 20), so the ``INCR_NEW_SOURCE`` slice is
  the same set of documents.
- Timestamp columns are copied, never shifted, so every date range a
  query filters on still matches.

Row order is a seeded permutation of each table.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# document ids are shifted by multiples of this so source/label survive
DOC_STRIDE = 10_000
# the documents marked as near-duplicates carry this suffix, as in the
# fixtures (5% of the fixture corpus is `<other doc> dup`)
NEAR_DUP_SUFFIX = " dup"
NEAR_DUP_SHARE = 0.05


def _rng(seed: int, *salt: str) -> np.random.Generator:
    digest = hashlib.sha256(":".join([str(seed), *salt]).encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _shift(table: pa.Table, col: str, offset: int) -> pa.Table:
    i = table.schema.get_field_index(col)
    shifted = pc.add(table.column(col), pa.scalar(offset, table.schema.field(i).type))
    return table.set_column(i, table.schema.field(i), shifted)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _permuted(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def tables(base: str, out: str, seed: int, names=TABLES) -> str:
    """Copy the fixture tables at ``fixtures/<base>`` into ``out`` in a
    seeded row order, with order and event keys shifted by seeded
    offsets. Returns ``out``."""
    os.makedirs(out, exist_ok=True)
    src = os.path.join(FIXTURES, base)
    order_off = int(_rng(seed, base, "orderkey").integers(0, 1_000_000))
    event_off = int(_rng(seed, base, "event_id").integers(0, 1_000_000))
    shifts = {
        "orders": {"o_orderkey": order_off},
        "lineitem": {"l_orderkey": order_off},
        "events": {"event_id": event_off},
    }
    for name in names:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        for col, off in shifts.get(name, {}).items():
            t = _shift(t, col, off)
        _write(_permuted(t, _rng(seed, base, name)), os.path.join(out, f"{name}.parquet"))
    return out


def documents(base: str, n_docs: int, seed: int, salt: str) -> pa.Table:
    """``n_docs`` documents grown from the fixture corpus by replication.

    Replica ``r`` shifts ``doc_id`` by ``r * DOC_STRIDE`` (keeps
    ``doc_id % 20`` and so the source and the derived label). Replica 0
    is the fixture corpus itself; in later replicas a fixed
    ``NEAR_DUP_SHARE`` of the documents are near-duplicates of their
    fixture original (original text plus ``NEAR_DUP_SUFFIX``) and the
    rest are seeded word shuffles of it, so they are new documents with
    the same length, language and word distribution."""
    docs = pq.read_table(os.path.join(FIXTURES, base, "documents.parquet"))
    docs = docs.sort_by("doc_id")
    n_base = docs.num_rows
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    rng = _rng(seed, base, "documents", salt)
    out_ids, out_text = [], []
    rows = []
    for k in range(n_docs):
        r, j = divmod(k, n_base)
        rows.append(j)
        out_ids.append(int(ids[j]) + r * DOC_STRIDE)
        if r == 0:
            out_text.append(texts[j])
        elif rng.random() < NEAR_DUP_SHARE:
            out_text.append(texts[j] + NEAR_DUP_SUFFIX)
        else:
            words = texts[j].split(" ")
            out_text.append(" ".join(words[i] for i in rng.permutation(len(words))))
    base_rows = docs.take(pa.array(rows))
    t = pa.table(
        {
            "doc_id": pa.array(out_ids, pa.int64()),
            "text": pa.array(out_text, pa.string()),
            "lang": base_rows.column("lang"),
            "source": base_rows.column("source"),
            "n_chars": pa.array([len(s) for s in out_text], pa.int64()),
        }
    )
    return _permuted(t, rng)


def split_files(table: pa.Table, out_dir: str, n_files: int, seed: int, salt: str) -> list[str]:
    """Write ``table`` as ``n_files`` seeded, disjoint, non-empty parquet
    files (the new-doc files an ingest stream picks up one per
    micro-batch)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "split", salt)
    perm = rng.permutation(table.num_rows)
    paths = []
    for i, part in enumerate(np.array_split(perm, n_files)):
        p = os.path.join(out_dir, f"part-{i:03d}.parquet")
        _write(table.take(pa.array(np.sort(part))), p)
        paths.append(p)
    return paths


def fresh_copy(src: str, dst: str) -> str:
    """Copy an input directory to a new path, so path-keyed caches in
    the program start cold."""
    if os.path.exists(dst):
        shutil.rmtree(dst)
    shutil.copytree(src, dst)
    return dst
