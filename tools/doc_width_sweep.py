"""Sweep the documents-loader scan width (r13, VERDICT r12 item 2).

The r12 scaling block showed the text tier over-fanned at sf0.1
(vocab_topk 2.7x faster at 8 cores than 32). This sweep times the
document-heavy bench queries at explicit loader widths by setting
catalog.DOC_BYTES_PER_TASK = ceil(scan_bytes / width), so the
committed dial is a measured number, not a guess — the
VEC_FOLD_BYTES_PER_TASK methodology applied to the text tier.

    python tools/doc_width_sweep.py [width ...]      # default 1 2 4 8 16 32
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
QUERIES_TO_TIME = [
    "vocab_topk",
    "text_tfidf_top",
    "bow_vectorize",
    "dedup_jaccard_pairs",
    "dedup_components_minhash",
    "text_gopher_repetition",
    "corpus_perplexity_buckets",
    "corpus_ccnet_select",
    "corpus_curate_calibrated",
]
N_ITERS = 3


def main() -> None:
    widths = [int(w) for w in sys.argv[1:]] or [1, 2, 4, 8, 16, 32]

    from projetbigdata_spark import registry
    from projetbigdata_spark.session import get_spark
    from projetbigdata_spark.sources import catalog

    spark = get_spark("doc-width-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = registry.collect()

    doc_bytes = os.path.getsize(os.path.join(SF, "documents.parquet"))
    print(f"documents.parquet = {doc_bytes} bytes at {SF}")

    for warm in ("q1_pricing_summary", "dedup_exact", "sim_lsh_buckets"):
        queries[warm](spark, SF).write.format("noop").mode("overwrite").save()

    results: dict[int, dict[str, float]] = {}
    for w in widths:
        catalog.DOC_BYTES_PER_TASK = max(1, -(-doc_bytes // w))
        catalog._PATH_MEMO.clear()
        row: dict[str, float] = {}
        for name in QUERIES_TO_TIME:
            best = float("inf")
            for _ in range(N_ITERS):
                t0 = time.perf_counter()
                queries[name](spark, SF).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            row[name] = round(best, 3)
        results[w] = row
        print(f"w={w:3d}  " + "  ".join(f"{k}={v:.2f}" for k, v in row.items()))

    print("\nwidth " + " ".join(f"{q[:14]:>14}" for q in QUERIES_TO_TIME))
    for w, row in results.items():
        print(
            f"{w:5d} "
            + " ".join(f"{row[q]:14.3f}" for q in QUERIES_TO_TIME)
        )
    spark.stop()


if __name__ == "__main__":
    main()
