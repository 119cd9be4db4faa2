"""Per-layer tracing, kept in memory and turned into metrics at the end.

Batch spans are wall-clock intervals the benchmark opens around each call
into a layer. Their Spark counters come from the event log: a task or job
belongs to the span during which it was launched or submitted. Attributing
by time rather than by job group is exact because traced spans run back to
back on one thread, and it also catches the jobs Spark submits from its own
threads (broadcast exchanges set a job group of their own).

Streaming counters come from ``query.recentProgress`` plus timing wrappers
around the public sink and key-store calls.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

BATCH_SPANS = [
    "session.start",
    "diaries.identity",
    "transcript.lifecycle",
    "pipeline.build",
    "compile.accepted",
    "compile.rejected",
    "compile.issues",
    "pipeline.turn_stats",
]
SPAN_COUNTERS = {
    "wall_s": "s",
    "task_s": "s",
    "tasks": "count",
    "jobs": "count",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "busy_share": "ratio",
    "idle_s": "s",
}
STREAM_METRICS = {
    "stream.batches": "count",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.planning_s": "s",
    "stream.latest_offset_s": "s",
    "stream.commit_log_s": "s",
    **{
        f"state.{op}.{k}": u
        for op in ("dedup", "session")
        for k, u in (
            ("rows_total", "count"),
            ("rows_updated", "count"),
            ("update_s", "s"),
            ("commit_s", "s"),
            ("memory_mb", "MB"),
        )
    },
    "sink.write_s": "s",
    "sink.writes": "count",
    "keystore.ingest_s": "s",
    "keystore.read_s": "s",
}
TRACE_METRICS = {
    "pipeline.staged_mb": "MB",
    "trace.wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.span_cover": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in print order."""
    units = {
        f"{span}.{k}": u for span in BATCH_SPANS for k, u in SPAN_COUNTERS.items()
    }
    units.update(STREAM_METRICS)
    units.update(TRACE_METRICS)
    return units


def with_units(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric with its unit; a layer the workload does not
    run reads 0."""
    return {k: (float(values.get(k, 0.0)), u) for k, u in per_layer_units().items()}


class SpanRecorder:
    """Back-to-back wall-clock spans, each also set as the Spark job group."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []

    @contextlib.contextmanager
    def span(self, spark, name: str):
        sc = spark.sparkContext if spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time()))
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)


def _events(eventlog_dir: str):
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        if os.path.isdir(path):
            yield from _events(path)
            continue
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def span_counters(
    eventlog_dir: str, spans: list[tuple[str, float, float]], cores: int
) -> dict[str, float]:
    """Spark counters per span from a finished event log (the SparkContext
    must be stopped first so the log is complete)."""
    acc = {
        name: {"task_ms": 0.0, "tasks": 0, "jobs": 0, "sr": 0, "sw": 0, "spill": 0}
        for name, _, _ in spans
    }
    job_iv: dict[int, list[float]] = {}

    def owner(t_ms: float) -> str | None:
        t = t_ms / 1000.0
        for name, t0, t1 in spans:
            if t0 <= t <= t1:
                return name
        return None

    for ev in _events(eventlog_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job_iv[ev["Job ID"]] = [ev["Submission Time"], None]
            name = owner(ev["Submission Time"])
            if name:
                acc[name]["jobs"] += 1
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_iv:
            job_iv[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            name = owner(info.get("Launch Time", 0))
            if not name:
                continue
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            a = acc[name]
            a["tasks"] += 1
            a["task_ms"] += max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0))
            a["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            a["sw"] += sw.get("Shuffle Bytes Written", 0)
            a["spill"] += m.get("Disk Bytes Spilled", 0)

    out: dict[str, float] = {}
    mb = 1024.0 * 1024.0
    for name, t0, t1 in spans:
        a = acc[name]
        wall = t1 - t0
        # idle: span time not covered by any running job
        ivs = sorted(
            (max(s / 1000.0, t0), min((e if e else s) / 1000.0, t1))
            for s, e in job_iv.values()
            if s / 1000.0 < t1 and (e is None or e / 1000.0 > t0)
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        task_s = a["task_ms"] / 1000.0
        out.update(
            {
                f"{name}.wall_s": wall,
                f"{name}.task_s": task_s,
                f"{name}.tasks": a["tasks"],
                f"{name}.jobs": a["jobs"],
                f"{name}.shuffle_read_mb": a["sr"] / mb,
                f"{name}.shuffle_write_mb": a["sw"] / mb,
                f"{name}.spill_mb": a["spill"] / mb,
                f"{name}.busy_share": task_s / (wall * cores) if wall > 0 else 0.0,
                f"{name}.idle_s": max(0.0, wall - covered),
            }
        )
    return out


def stream_counters(progress: list[dict]) -> dict[str, float]:
    """Sum the per-trigger progress of one query into the stream/state
    metrics; state rows held and state memory are peaks over triggers."""
    out = {k: 0.0 for k in STREAM_METRICS if k.startswith(("stream.", "state."))}
    dur_keys = {
        "stream.trigger_s": "triggerExecution",
        "stream.add_batch_s": "addBatch",
        "stream.planning_s": "queryPlanning",
        "stream.latest_offset_s": "latestOffset",
        "stream.commit_log_s": "commitOffsets",
    }
    out["stream.batches"] = float(len(progress))
    for p in progress:
        d = p.get("durationMs") or {}
        for metric, key in dur_keys.items():
            out[metric] += d.get(key, 0) / 1000.0
        for op in p.get("stateOperators") or []:
            name = op.get("operatorName", "")
            kind = "session" if "session" in name.lower() else "dedup"
            out[f"state.{kind}.rows_total"] = max(
                out[f"state.{kind}.rows_total"], float(op.get("numRowsTotal", 0))
            )
            out[f"state.{kind}.rows_updated"] += op.get("numRowsUpdated", 0)
            out[f"state.{kind}.update_s"] += op.get("allUpdatesTimeMs", 0) / 1000.0
            out[f"state.{kind}.commit_s"] += op.get("commitTimeMs", 0) / 1000.0
            out[f"state.{kind}.memory_mb"] = max(
                out[f"state.{kind}.memory_mb"],
                op.get("memoryUsedBytes", 0) / (1024.0 * 1024.0),
            )
    return out


class CallTimer:
    """Wall time and call count of one public method, wrapped on its class
    for the duration of a ``with`` block. Thread-safe: the streaming job
    calls sink writes from a thread pool."""

    def __init__(self, cls, method: str):
        self.cls, self.method = cls, method
        self.seconds = 0.0
        self.calls = 0
        self._lock = threading.Lock()
        self._orig = getattr(cls, method)

    def __enter__(self) -> "CallTimer":
        orig, timer = self._orig, self

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with timer._lock:
                    timer.seconds += dt
                    timer.calls += 1

        setattr(self.cls, self.method, timed)
        return self

    def __exit__(self, *exc) -> None:
        setattr(self.cls, self.method, self._orig)
