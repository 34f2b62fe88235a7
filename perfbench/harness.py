"""Per-run state and the op runner: every op the workloads issue goes
through ``Harness.run_op`` or ``Harness.run_stream``, which time it, tag
its Spark jobs, count failures and queue the check of its output."""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import subprocess
import sys
import threading

from perfbench.check import check_frame, frame_from_parquet
from perfbench.gen import fresh_copy
from perfbench.tracing import Spans, now

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")


def _describe(e: Exception) -> str:
    first = str(e).splitlines()[0][:300] if str(e) else ""
    return f"{type(e).__name__}: {first}"


class Harness:
    """State of one benchmark run: its paths, ops, failures, spans and
    the Spark session it drives."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.warm_seed = int(hashlib.sha256(f"warm:{args.seed}".encode()).hexdigest()[:8], 16)
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        self.cores = len(os.sched_getaffinity(0))
        self.work = WORK
        self.run_dir = os.path.join(self.work, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(self.run_dir, exist_ok=True)
        self.used_dirs: list[str] = []
        self.lock = threading.Lock()
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.ops: list[dict] = []
        self.pending: list[tuple] = []
        self.pass_walls: list[float] = []
        self.windows: list[tuple[float, float]] = []
        self.phase: dict[str, list[float]] = {}
        self.sink_dirs: list[str] = []
        self.streams: list[dict] = []
        self.spark = None
        self.groups = None  # JobGroups, once the session is up
        self.spans = Spans()
        self.run_span = self.spans.open(f"{args.workload}/{args.seed}", "run", None)

    # ---- paths and inputs -------------------------------------------------

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def cached_inputs(self, key: str, seed: int, make) -> str:
        """Inputs ``make(dir)`` builds for (key, seed), generated once per
        checkout."""
        out = os.path.join(self.work, "inputs", f"{key}-{seed}")
        if not os.path.isdir(out):
            t0 = now()
            tmp = f"{out}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            make(tmp)
            os.rename(tmp, out)
            print(f"[perfbench] generated {key} seed {seed} in {now() - t0:.1f}s", file=sys.stderr)
        return out

    def fresh(self, src: str, tag: str) -> str:
        dst = fresh_copy(src, self.path(f"data-{tag}"))
        self.used_dirs.append(dst)
        return dst

    def shuffled(self, items: list, salt: str) -> list:
        out = list(items)
        random.Random(f"{self.seed}:{salt}").shuffle(out)
        return out

    # ---- ops ---------------------------------------------------------------

    def fail(self, name: str, reason: str) -> None:
        with self.lock:
            self.failures.append((name, reason))
        print(f"[perfbench] FAILED {name}: {reason}", file=sys.stderr)

    def run_op(self, phase, i, name, span, build, action, check, output=None, layer=None) -> bool:
        """One op: build (the query-function call) then the action (the
        client collect or the sink write). No retries: an exception is a
        failed op."""
        with self.lock:
            self.attempted += 1
        group = f"pb|{phase}|{i}|{name}"
        sid = self.spans.open(name, "op", span, phase=phase, group=group)
        t0 = now()
        try:
            self.groups.set(group + "|build")
            df = build()
            t1 = now()
            self.groups.set(group + "|action")
            result = action(df) if action is not None else None
            t2 = now()
        except Exception as e:  # noqa: BLE001 - every op failure is counted
            self.spans.close(sid, error=type(e).__name__)
            self.fail(name, _describe(e))
            return False
        finally:
            self.groups.set(None)
        self.spans.add("build", "build", sid, t0, t1)
        self.spans.add("write" if output else "action", "action", sid, t1, t2)
        self.spans.close(sid)
        rec = {"phase": phase, "name": name, "group": group, "t0": t0, "t1": t1, "t2": t2,
               "layer": layer, "timed": phase != "warm"}
        if hasattr(result, "shape"):  # rows delivered to the client
            rec["rows"], rec["client"] = len(result), True
        with self.lock:
            self.ops.append(rec)
        if check is not None:
            got = result if output is None else output
            self.check_later(name, lambda: self._check(got, check, None, rec))
        return True

    def run_stream(self, phase, i, name, span, build, out, check, columns) -> int:
        """One ingest stream: build the query (policy / corpus state),
        start it, drain it with ``availableNow``. Returns verdict rows."""
        with self.lock:
            self.attempted += 1
        group = f"pb|{phase}|{i}|{name}"
        sid = self.spans.open(name, "stream", span, phase=phase, group=group)
        t0 = now()
        try:
            self.groups.set(group + "|build")
            writer = build()
            t1 = now()
            self.groups.set(group + "|action")
            q = writer.start()
            q.awaitTermination(120)
            t2 = now()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        except Exception as e:  # noqa: BLE001
            self.spans.close(sid, error=type(e).__name__)
            self.fail(name, _describe(e))
            return 0
        finally:
            self.groups.set(None)
        self.spans.add("build", "build", sid, t0, t1)
        for p in progress:
            d = p["durationMs"]
            b0 = self.spans.from_iso(p["timestamp"])
            self.spans.add(f"batch{p['batchId']}", "micro-batch", sid,
                           b0, b0 + d.get("triggerExecution", 0) / 1e3,
                           add_batch_ms=d.get("addBatch", 0), rows=p.get("numInputRows", 0))
        self.spans.close(sid)
        rows = len(frame_from_parquet(out)) if os.path.isdir(out) else 0
        with self.lock:
            self.streams.append({"phase": phase, "name": name, "t0": t0, "t1": t1, "t2": t2,
                                 "group": group, "progress": progress, "rows": rows})
        if check is not None:
            self.check_later(name, lambda: self._check(out, check, columns, None))
        return rows

    def check_later(self, name: str, check) -> None:
        """Queue an output check; it runs after the timed phase and
        returns None or the reason the output is wrong."""
        with self.lock:
            self.pending.append((name, check))

    @staticmethod
    def _check(got, want, columns, rec) -> str | None:
        df = frame_from_parquet(got) if isinstance(got, str) else got
        if rec is not None:
            rec["rows"] = len(df)
        return check_frame(df, want, columns)

    def run_checks(self) -> None:
        for name, check in self.pending:
            try:
                err = check()
            except Exception as e:  # noqa: BLE001
                err = f"{type(e).__name__}: {e}"
            if err:
                self.fail(name, f"output check: {err}")
        self.pending.clear()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
