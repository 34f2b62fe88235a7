"""Spans and per-layer counters, measured from outside the program.

The benchmark never patches program code. It times its own calls into
each layer, tags every Spark job it causes with a job group
(``pb|<phase>|<op>|<part>``), and — in a traced run only — reads the
task metrics back from the Spark event log (the data the REST API and
the history server serve; the program's session pins
``spark.ui.enabled=false``, so the log is the way to reach them).

Spans live in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import glob
import json
import os
import resource
import statistics
import threading
import time
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"


def now() -> float:
    return time.perf_counter()


class Spans:
    """In-memory span tree: run > pass > op > build/action/write/batch."""

    def __init__(self) -> None:
        self.items: list[dict] = []
        self._lock = threading.Lock()
        # perf_counter -> epoch ms, to line spans up with Spark's clocks
        self.epoch_off = time.time() - time.perf_counter()

    def open(self, name: str, kind: str, parent: int | None = None, **attrs) -> int:
        with self._lock:
            self.items.append(
                {"id": len(self.items), "name": name, "kind": kind,
                 "parent": parent, "t0": now(), "t1": None, "attrs": attrs}
            )
            return len(self.items) - 1

    def close(self, sid: int, **attrs) -> float:
        s = self.items[sid]
        s["t1"] = now()
        s["attrs"].update(attrs)
        return s["t1"] - s["t0"]

    def add(self, name: str, kind: str, parent: int | None, t0: float, t1: float, **attrs) -> int:
        sid = self.open(name, kind, parent, **attrs)
        self.items[sid]["t0"], self.items[sid]["t1"] = t0, t1
        return sid

    def epoch_ms(self, t: float) -> float:
        return (t + self.epoch_off) * 1000.0

    def from_iso(self, stamp: str) -> float:
        """A Spark progress timestamp (UTC ISO-8601) on this clock."""
        from datetime import datetime, timezone

        t = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
        return t.timestamp() - self.epoch_off

    def self_times(self) -> None:
        """Self time = duration minus the union of the children's
        intervals (children of a pass overlap when clients run
        concurrently)."""
        kids = defaultdict(list)
        for s in self.items:
            if s["parent"] is not None and s["t1"] is not None:
                kids[s["parent"]].append((s["t0"], s["t1"]))
        for s in self.items:
            if s["t1"] is None:
                continue
            covered, end = 0.0, s["t0"]
            for a, b in sorted(kids[s["id"]]):
                a = max(a, end)
                if b > a:
                    covered += b - a
                    end = b
            s["self_s"] = max(0.0, (s["t1"] - s["t0"]) - covered)

    def dump(self, path: str) -> None:
        self.self_times()
        with open(path, "w") as fh:
            json.dump(self.items, fh)


class JobGroups:
    """Thread-local job-group tagging through the SparkContext's local
    properties (inherited by the JVM thread each Python thread is pinned
    to)."""

    def __init__(self, sc) -> None:
        self.sc = sc

    def set(self, group: str | None) -> None:
        self.sc.setLocalProperty(GROUP_KEY, group)

    def get(self) -> str | None:
        return self.sc.getLocalProperty(GROUP_KEY)


class ReadProbe:
    """Times the driver inside ``DataFrameReader.parquet`` and tags the
    jobs it launches (schema inference) with a ``|read`` group suffix.
    Wrapped at the class, because operators import ``load_table`` by
    name; installed only in a traced run."""

    def __init__(self, groups: JobGroups) -> None:
        self.groups = groups
        self.calls = 0
        self.seconds = 0.0
        self._lock = threading.Lock()
        self._orig = None

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader

        self._orig = orig = DataFrameReader.parquet
        probe = self

        def parquet(reader, *paths, **options):
            prev = probe.groups.get()
            if prev:
                probe.groups.set(prev + "|read")
            t0 = now()
            try:
                return orig(reader, *paths, **options)
            finally:
                dt = now() - t0
                probe.groups.set(prev)
                with probe._lock:
                    probe.calls += 1
                    probe.seconds += dt

        DataFrameReader.parquet = parquet

    def uninstall(self) -> None:
        if self._orig is not None:
            from pyspark.sql.readwriter import DataFrameReader

            DataFrameReader.parquet = self._orig
            self._orig = None


def event_log_conf(log_dir: str) -> list[str]:
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


_WANTED = tuple(
    f'{{"Event":"SparkListener{k}"'
    for k in ("JobStart", "JobEnd", "StageSubmitted", "TaskEnd")
)


class EventLog:
    """Task, stage and job records parsed from a finished event log."""

    def __init__(self, log_dir: str) -> None:
        files = sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        with open(files[-1]) as fh:
            for line in fh:
                if not line.startswith(_WANTED):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = {
                        "group": (ev.get("Properties") or {}).get(GROUP_KEY),
                        "submit_ms": ev["Submission Time"],
                        "stage_ids": ev.get("Stage IDs", []),
                        "end_ms": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in self.jobs:
                        self.jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    self.stages.setdefault(info["Stage ID"], {
                        "group": (ev.get("Properties") or {}).get(GROUP_KEY),
                        "submit_ms": info.get("Submission Time"),
                    })
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    self.tasks.append({
                        "stage": ev["Stage ID"],
                        "launch_ms": info.get("Launch Time", 0),
                        "failed": bool(info.get("Failed")),
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "in_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "in_rows": (m.get("Input Metrics") or {}).get("Records Read", 0),
                        "sr_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "sw_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                    })

    def annotate(self, spans: Spans) -> None:
        """Attach job, stage, task and byte counts to every span that
        carries a job group (its build and action parts together)."""
        by_group: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        stage_group = {}
        for s, d in self.stages.items():
            if d["group"]:
                g = d["group"].split("|")
                stage_group[s] = "|".join(g[:4])
                by_group[stage_group[s]]["stages"] += 1
        for d in self.jobs.values():
            if d["group"]:
                by_group["|".join(d["group"].split("|")[:4])]["jobs"] += 1
        for t in self.tasks:
            g = stage_group.get(t["stage"])
            if g:
                c = by_group[g]
                c["tasks"] += 1
                c["input_bytes"] += t["in_bytes"]
                c["shuffle_bytes"] += t["sr_bytes"] + t["sw_bytes"]
        for s in spans.items:
            g = s["attrs"].get("group")
            if g in by_group:
                s["attrs"].update(by_group[g])

    def jobs_in(self, t0_ms: float, t1_ms: float) -> dict[int, dict]:
        return {j: d for j, d in self.jobs.items() if t0_ms <= d["submit_ms"] <= t1_ms}

    def engine(self, t0_ms: float, t1_ms: float, wall_s: float, cores: int) -> dict:
        """Engine totals for every job submitted inside [t0, t1]."""
        jobs = self.jobs_in(t0_ms, t1_ms)
        listed = {s for d in jobs.values() for s in d["stage_ids"]}
        ran = {s for s in listed if s in self.stages}
        tasks = [t for t in self.tasks if t["stage"] in ran]
        run_s = sum(t["run_ms"] for t in tasks) / 1e3
        mb = 1 / (1 << 20)
        return {
            "engine.jobs": len(jobs),
            "engine.stages": len(ran),
            "engine.stages_skipped_frac": (len(listed) - len(ran)) / len(listed) if listed else 0.0,
            "engine.tasks": len(tasks),
            "engine.task_p50_ms": statistics.median([t["run_ms"] for t in tasks]) if tasks else 0.0,
            "engine.task_run_s": run_s,
            "engine.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "engine.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "engine.tasks_failed": sum(t["failed"] for t in tasks),
            "engine.core_idle_frac": max(0.0, 1 - run_s / (wall_s * cores)) if wall_s else 0.0,
            "engine.shuffle_write_mb": sum(t["sw_bytes"] for t in tasks) * mb,
            "engine.shuffle_read_mb": sum(t["sr_bytes"] for t in tasks) * mb,
            "engine.spill_mb": sum(t["spill"] for t in tasks) * mb,
            "sources.scan_mb": sum(t["in_bytes"] for t in tasks) * mb,
            "sources.scan_rows": sum(t["in_rows"] for t in tasks),
        }

    def jobs_by_group(self, t0_ms: float, t1_ms: float) -> dict[str, list[int]]:
        out: dict[str, list[int]] = defaultdict(list)
        for j, d in self.jobs_in(t0_ms, t1_ms).items():
            out[d["group"] or ""].append(j)
        return out


def cache_state(sc) -> tuple[float, int]:
    """(MB, frames) of the RDDs persisted right now."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / (1 << 20)
    return mb, len(infos)


def jvm_peak_rss_mb(sc) -> float:
    proc = getattr(sc._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    # spark-submit may have forked the JVM as its child
    for child in glob.glob(f"/proc/{proc.pid}/task/*/children"):
        with open(child) as fh:
            for pid in fh.read().split():
                with open(f"/proc/{pid}/status") as st:
                    for line in st:
                        if line.startswith("VmHWM:"):
                            return int(line.split()[1]) / 1024
    return 0.0


def py_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def dir_size(path: str) -> tuple[float, int]:
    """(MB, data files) under an output directory."""
    total, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total / (1 << 20), files
