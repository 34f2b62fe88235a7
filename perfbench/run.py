"""Benchmark entry point.

    python3 perfbench/run.py --workload analyst-sql --seed 1 --seconds 10 --trace 0

Runs one workload (see ``perfbench/NOTES.md``) against the repo's public
entry points on ``local[<cores>]`` through the unmodified
``session.get_spark``, checks every timed op's output against its DuckDB
oracle, and prints one JSON object as the last line of stdout:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. Everything it writes stays under ``perfbench/.work``
(apart from the bucketed tables the program itself pins under
``<repo>/spark-warehouse``, which the run removes again).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import the benchmark as a package from the checkout root, never its
# modules as top-level names
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_p90_s": "s"}
DEADLINE_S = 170
BASELINE_MAX_AGE_S = 3600
# per-layer metrics only sentiment-ml sets; the other workloads omit them
SENTIMENT_ONLY = ("ml.cv_s", "phase.train_s", "phase.score_docs_per_s")


def _snapshot(root: str) -> set:
    """What ``git status`` would call the state of the checkout: the
    porcelain status when this is a git work tree, else every file
    outside the benchmark's scratch space and the program's pinned
    ``spark-warehouse``."""
    if os.path.isdir(os.path.join(root, ".git")) and shutil.which("git"):
        out = subprocess.run(
            ["git", "-C", root, "status", "--porcelain", "--untracked-files=all"],
            capture_output=True, text=True, check=True,
        ).stdout
        return {line for line in out.splitlines() if " spark-warehouse/" not in line}
    skip = {".work", "spark-warehouse", "__pycache__", ".bench_build", ".git"}
    state = set()
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in skip]
        for f in files:
            st = os.stat(os.path.join(d, f))
            state.add((os.path.relpath(os.path.join(d, f), root), st.st_size, st.st_mtime_ns))
    return state


def _watchdog(h) -> None:
    """Abort without a result if the run overruns its time limit."""
    def fire():
        print("[perfbench] deadline exceeded; aborting", file=sys.stderr)
        proc = getattr(getattr(h.spark, "sparkContext", None), "_gateway", None)
        proc = getattr(proc, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(3)

    t = threading.Timer(DEADLINE_S - (time.perf_counter() - T_PROCESS), fire)
    t.daemon = True
    t.start()


def _percentile(samples: list[float], q: int) -> float:
    if len(samples) < 2:
        return samples[0] if samples else 0.0
    return statistics.quantiles(samples, n=100, method="inclusive")[q - 1]


def _bucketed_dirs(h) -> list[str]:
    """The program pins join_bucketed_priority_counts' tables under
    <repo>/spark-warehouse, named after the input directory."""
    from projetbigdata_spark.sources.catalog import _bucketed_name

    wh = os.path.join(ROOT, "spark-warehouse")
    return [os.path.join(wh, _bucketed_name(d, t)) for d in h.used_dirs for t in ("orders", "lineitem")]


def _results_dir(h) -> str:
    """Untraced results of this workload at this input size."""
    return os.path.join(h.work, "results", h.workload + ("-smoke" if h.smoke else ""))


def _recent_walls(h) -> list[float]:
    """``wall_s`` of the untraced runs written in the last hour: the
    baseline of the tracing overhead, taken from the same period of the
    machine's load as the traced run."""
    path = _results_dir(h)
    cutoff = time.time() - BASELINE_MAX_AGE_S
    out = []
    if os.path.isdir(path):
        for f in sorted(os.listdir(path)):
            f = os.path.join(path, f)
            if os.path.getmtime(f) >= cutoff:
                with open(f) as fh:
                    out.append(json.load(fh)["wall_s"])
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001-derived inputs")
    args = ap.parse_args(argv)

    try:
        import projetbigdata_spark  # noqa: F401
        import tools.local_correctness  # noqa: F401

        from perfbench import tracing as tr
        from perfbench.harness import Harness, stop_spark
        from perfbench.workloads import WORKLOADS, sink_stats
    except ImportError as e:
        print(f"[perfbench] program not found next to the benchmark: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    h = Harness(args)
    _watchdog(h)
    before = _snapshot(ROOT)
    wl = WORKLOADS[args.workload](h)
    wl.inputs()

    # run isolation: shuffle files, warehouse, temp files and (traced)
    # the event log all go to the run's scratch directory
    for d in ("local", "warehouse", "tmp", "eventlog"):
        os.makedirs(h.path(d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = h.path("local")
    os.environ["TMPDIR"] = h.path("tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(h.cores)
    submit = [
        "--conf", f"spark.sql.warehouse.dir={h.path('warehouse')}",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={h.path('tmp')}",
    ]
    if h.trace:
        submit += tr.event_log_conf(h.path("eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    t0 = tr.now()
    from projetbigdata_spark.session import get_spark

    h.spark = spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = tr.now() - t0
    h.groups = tr.JobGroups(spark.sparkContext)
    probe = tr.ReadProbe(h.groups)
    if h.trace:
        probe.install()

    t0 = tr.now()
    from projetbigdata_spark import registry

    queries, oracles = registry.collect()
    collect_s = tr.now() - t0

    t0 = tr.now()
    wl.prepare(queries, oracles)  # oracle answers: outside every timing
    prepare_s = tr.now() - t0

    warm_span = h.spans.open("warmup", "pass", h.run_span)
    t0 = tr.now()
    wl.warmup()
    warmup_s = tr.now() - t0
    h.spans.close(warm_span)

    reads_before = (probe.calls, probe.seconds)
    wl.timed()
    reads = (probe.calls - reads_before[0], probe.seconds - reads_before[1])
    cache_mb, cached_frames = tr.cache_state(spark.sparkContext)  # at the end of the pass

    text_pass_s = 0.0
    if h.trace:
        probe.uninstall()
        from projetbigdata_spark.functions.text import clean_lower, filter_stopwords, ngrams, tokenize
        from projetbigdata_spark.sources.catalog import load_table

        t0 = tr.now()
        load_table(spark, wl.docs_dir, "documents").select(
            ngrams(filter_stopwords(tokenize(clean_lower("text"))), 2).alias("g")
        ).write.format("noop").mode("overwrite").save()
        text_pass_s = tr.now() - t0

    jvm_rss = tr.jvm_peak_rss_mb(spark.sparkContext)
    stop_spark(spark)
    h.spans.close(h.run_span)

    h.run_checks()
    for d in _bucketed_dirs(h):
        shutil.rmtree(d, ignore_errors=True)
    wh = os.path.join(ROOT, "spark-warehouse")
    if os.path.isdir(wh) and not os.listdir(wh):
        os.rmdir(wh)
    after = _snapshot(ROOT)
    if before != after:
        changed = sorted(map(str, before ^ after))[:5]
        h.fail("run-isolation", f"checkout changed outside the scratch space: {changed}")

    timed_ops = [o for o in h.ops if o["timed"]]
    samples = [o["t2"] - o["t0"] for o in timed_ops]
    wall_s = statistics.median(h.pass_walls)
    setup_s = start_s + collect_s + warmup_s
    failed = len(h.failures)
    end_to_end = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "op_p50_s": statistics.median(samples) if samples else 0.0,
        "op_p90_s": _percentile(samples, 90),
    }

    detail = {
        "workload": args.workload, "seed": args.seed, "cores": h.cores, "passes": len(h.pass_walls),
        "op_samples": len(samples),
        "op_s": {f"{o['phase']}:{o['name']}": round(o["t2"] - o["t0"], 3) for o in timed_ops},
        "stream_s": {f"{x['phase']}:{x['name']}": round(x["t2"] - x["t0"], 3)
                     for x in h.streams if x["phase"] != "warm"},
        "phase": {k: statistics.median(v) for k, v in h.phase.items()},
        "failures": h.failures[:20], "oracle_prepare_s": prepare_s, "setup": {"session.start_s": start_s,
                                               "registry.collect_s": collect_s,
                                               "session.warmup_s": warmup_s},
    }

    if h.trace:
        layer = {
            "session.start_s": start_s, "registry.collect_s": collect_s, "session.warmup_s": warmup_s,
            "sources.read_calls": reads[0], "sources.read_s": reads[1],
            "operators.cache_mb": cache_mb, "operators.cached_frames": cached_frames,
            "functions.text_pass_s": text_pass_s,
            "jvm.peak_rss_mb": jvm_rss, "py.peak_rss_mb": tr.py_peak_rss_mb(),
            "trace.wall_s": wall_s,
        }
        layer.update(_layers_from_log(h, tr))
        untraced = _recent_walls(h)
        layer["trace.overhead_s"] = wall_s - statistics.median(untraced) if untraced else 0.0
        sink_mb, sink_files = sink_stats(h.sink_dirs)
        layer["sink.write_mb"], layer["sink.files"] = sink_mb, sink_files
        for k in ("curate_s", "ingest_docs_per_s", "train_s", "score_docs_per_s"):
            layer[f"phase.{k}"] = detail["phase"].get(k, 0.0)
        if args.workload != "sentiment-ml":
            for k in SENTIMENT_ONLY:
                del layer[k]
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(layer.items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end.items()}
        if not failed:
            res_dir = _results_dir(h)
            os.makedirs(res_dir, exist_ok=True)
            with open(os.path.join(res_dir, f"{args.seed}-{os.getpid()}.json"), "w") as fh:
                json.dump(end_to_end, fh)
    detail["end_to_end"] = end_to_end

    if h.trace:
        spans = os.path.join(h.work, "spans", f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        h.spans.dump(spans)
    shutil.rmtree(h.run_dir, ignore_errors=True)

    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": h.attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name.endswith("per_row_out"):
        return "ratio"
    return "count"


def _layers_from_log(h, tr) -> dict:
    """Per-layer numbers read back from the event log, for the jobs the
    timed passes caused."""
    log = tr.EventLog(h.path("eventlog"))
    log.annotate(h.spans)
    t0 = h.spans.epoch_ms(h.windows[0][0])
    t1 = h.spans.epoch_ms(h.windows[-1][1])
    walls = sum(b - a for a, b in h.windows)
    out = log.engine(t0, t1, walls, h.cores)
    groups = log.jobs_by_group(t0, t1)
    timed = [o for o in h.ops if o["timed"]]
    out["sources.read_jobs"] = sum(len(j) for g, j in groups.items() if g.endswith("|read"))
    out["operators.eager_jobs"] = sum(len(j) for g, j in groups.items() if g.endswith("|build"))
    build_s = sum(o["t1"] - o["t0"] for o in timed)
    op_s = sum(o["t2"] - o["t0"] for o in timed)
    out["operators.build_s"] = build_s
    out["operators.build_frac"] = build_s / op_s if op_s else 0.0
    rows_out = sum(o.get("rows", 0) for o in timed) + sum(
        s["rows"] for s in h.streams if s["phase"] != "warm")
    out["sources.rows_in_per_row_out"] = out["sources.scan_rows"] / rows_out if rows_out else 0.0
    # client collect: from the action's last job end until the rows are in
    collect = 0.0
    for o in timed:
        if not o.get("client"):
            continue
        ends = [log.jobs[j]["end_ms"] for j in groups.get(o["group"] + "|action", [])
                if log.jobs[j]["end_ms"]]
        if ends:
            collect += max(0.0, h.spans.epoch_ms(o["t2"]) - max(ends)) / 1e3
    out["client.collect_s"] = collect
    ml = [o for o in timed if o["layer"]]
    for key in ("ml.fit_s", "ml.cv_s", "ml.score_s"):
        out[key] = sum(o["t2"] - o["t0"] for o in ml if o["layer"] == key)
    out["ml.jobs"] = sum(len(groups.get(o["group"] + part, []))
                         for o in ml for part in ("|build", "|action", "|build|read"))
    timed_streams = [s for s in h.streams if s["phase"] != "warm"]
    batches = [p for s in timed_streams for p in s["progress"]]
    trig = [p["durationMs"].get("triggerExecution", 0) for p in batches]
    add = [p["durationMs"].get("addBatch", 0) for p in batches]
    out["streaming.batches"] = len(batches)
    out["streaming.batch_p50_ms"] = statistics.median(trig) if trig else 0.0
    out["streaming.overhead_frac"] = 1 - sum(add) / sum(trig) if sum(trig) else 0.0
    out["streaming.policy_build_s"] = sum(s["t1"] - s["t0"] for s in timed_streams)
    return out


if __name__ == "__main__":
    sys.exit(main())
