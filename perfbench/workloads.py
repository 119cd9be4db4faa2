"""The benchmark's workloads, driven through the engine's public functions.

``datagen`` is the load generator: it runs in a child process before set-up,
outside every timed region, together with the pandas oracle that the outputs
are checked against. The engine only ever sees the parquet files it writes.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import check
import host
import spans

# (base_convs, replicas) per workload. "tiny" is the self-test size.
SIZES = {
    "full": {"batch_daily": (30, 1), "stream_drain": (30, 1)},
    "tiny": {"batch_daily": (6, 1), "stream_drain": (6, 1)},
}
# Timed warm runs: at least MIN_TIMED, then more until --seconds have passed.
# The first warm run is timed: the second run in a JVM still reads above the
# steady state, but an untimed run does not fit the run budget (see NOTES.md).
MIN_TIMED = 1
# a run must leave time for checks and shut-down inside 180 s
RUN_DEADLINE_S = 110.0
DRAIN_TIMEOUT_S = 100.0
BATCH_OUTPUTS = ("accepted", "rejected", "issues", "turn_stats")


@dataclass
class Result:
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    mismatch: str | None = None
    details: list[dict] = field(default_factory=list)

    def record(self, op: str, wall_s: float, cpu_s: float, error: str | None = None) -> None:
        self.attempted += 1
        if error:
            self.failed += 1
        self.details.append(
            {"op": op, "wall_s": wall_s, "cpu_s": cpu_s, "loadavg_1m": os.getloadavg()[0],
             "error": error}
        )

    def mismatched(self, why: str | None) -> None:
        if why:
            self.failed += 1
            self.mismatch = self.mismatch or why


class Bench:
    """One benchmark process: its paths, Spark conf and clocks."""

    def __init__(self, workload: str, seed: int, seconds: float, size: str, work: str,
                 conf: dict[str, str], t_start: float):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.conf, self.t_start = conf, t_start
        self.base_convs, self.replicas = SIZES[size][workload]
        self.cores = host.cores()
        self.scratch = os.path.join(work, "scratch", str(os.getpid()))
        self.eventlog = os.path.join(self.scratch, "eventlog")
        self.data_dir = os.path.join(
            work, "data", f"s{seed}_b{self.base_convs}_r{self.replicas}"
        )
        self.gen_s = 0.0
        self.phases: dict[str, float] = {}
        self.steal0 = host.steal_s()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time an untimed stage of the run, reported beside the metrics."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    # -- load generator and reference -----------------------------------
    def generate(self) -> None:
        """Inputs and the oracle's answer for this seed, made by gen.py in a
        child process so the generator's memory never counts as the engine's."""
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
             self.data_dir, str(self.base_convs), str(self.replicas), str(self.seed),
             str(int(self.workload == "stream_drain"))],
            check=True, timeout=120,
        )
        self.gen_s = time.perf_counter() - t0

    def oracle(self) -> dict:
        import pandas as pd

        return pd.read_pickle(os.path.join(self.data_dir, "oracle.pkl"))

    # -- system under test ----------------------------------------------
    def start_spark(self, eventlog: bool = False):
        from daily_journal_dataflow_qc_spark.session import get_spark

        extra = dict(self.conf)
        if eventlog:
            os.makedirs(self.eventlog, exist_ok=True)
            extra.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.eventlog,
                    "spark.eventLog.compress": "false",
                }
            )
        # shuffle width = core count, so the streaming state partitions are
        # fixed at the core count when each checkpoint is created; the batch
        # plan gets the same width (the engine default of 256 makes one warm
        # batch run ~4x longer at 4 cores, see NOTES.md)
        spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=extra,
        )
        _warm_up(spark)
        return spark

    def measure(self, op) -> tuple[tuple[float, float], list[tuple[float, float]], int]:
        """The cold operation, then timed warm ones for at least ``seconds``.
        ``op(i, kind)`` runs operation ``i`` and returns its (wall, CPU)
        seconds. Returns (cold, timed warm ones, next index)."""
        first = op(0, "cold")
        warm = []
        i = 1
        t_window = time.perf_counter()
        while True:
            warm.append(op(i, "warm"))
            i += 1
            if self.elapsed() > RUN_DEADLINE_S or (
                len(warm) >= MIN_TIMED and time.perf_counter() - t_window >= self.seconds
            ):
                return first, warm, i

    def end_to_end(self, setup, first, warm, peak_mb) -> dict[str, tuple[float, str]]:
        # run times are CPU seconds, not wall seconds: on the shared host
        # the wall time of one run moves with the neighbours' load (steal)
        # by more than any bound allows, its CPU time much less (NOTES.md)
        return {
            "setup_s": (setup, "s"),
            "first_run_cpu_s": (first[1], "s"),
            "cpu_s": (statistics.median(c for _, c in warm), "s"),
            "peak_rss_mb": (peak_mb, "MB"),
        }


def _warm_up(spark) -> None:
    """Start the JVM's code paths and one Python worker per core, so timed
    runs do not pay the workers' pandas/pyarrow import."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.DoubleType())
    def _double(s):
        return s * 1.0

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, n * 1000, 1, n * 2)
    df.select(_double(df.id.cast("double")).alias("x")).agg(F.sum("x")).collect()
    df.groupBy((df.id % 7).alias("k")).count().collect()


def _timed(spark, fn) -> tuple[float, float, str | None]:
    """Wall and CPU seconds of one operation and its error, if any. A
    failure is reported, not raised, so it counts in ``failed`` and the
    remaining operations still run. Each operation starts from a collected
    JVM heap, so the garbage the previous one left does not land in it."""
    spark._jvm.java.lang.System.gc()
    c0 = host.tree_cpu_s()
    t0 = time.perf_counter()
    try:
        fn()
        err = None
    except Exception as e:  # noqa: BLE001 - any engine error fails the operation
        err = f"{type(e).__name__}: {e}"[:500]
    wall = time.perf_counter() - t0
    return wall, host.tree_cpu_s() - c0, err


def _noop(df) -> None:
    """Compute every column without collecting (a count would prune)."""
    df.write.format("noop").mode("overwrite").save()


def _dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


# ---------------------------------------------------------------- batch_daily
def _write_outputs(out, root: str, threads: int) -> None:
    """The cron's product: the four tables, written concurrently."""

    def write(name: str) -> None:
        getattr(out, name).write.mode("overwrite").parquet(os.path.join(root, name))

    with ThreadPoolExecutor(threads) as pool:
        list(pool.map(write, BATCH_OUTPUTS))


def _read_outputs(root: str) -> dict:
    import pandas as pd

    return {name: pd.read_parquet(os.path.join(root, name)) for name in BATCH_OUTPUTS}


def batch_daily(b: Bench, trace: bool) -> Result:
    from daily_journal_dataflow_qc_spark.config import DEFAULT_CONFIG as cfg
    from daily_journal_dataflow_qc_spark.operators import diaries as d_ops
    from daily_journal_dataflow_qc_spark.operators import transcript as t_ops
    from daily_journal_dataflow_qc_spark.pipeline import load_inputs, run_batch_staged

    res = Result()
    b.generate()
    rec = spans.SpanRecorder()
    rss = host.RssSampler().start()
    with rec.span(None, "session.start"):
        spark = b.start_spark(eventlog=trace)
        inputs = load_inputs(spark, b.data_dir)
    # process start to the first timed call, data generation excluded
    setup = b.elapsed() - b.gen_s
    written = []  # output roots of the runs that completed

    def op(i: int, kind: str) -> tuple[float, float]:
        spark.catalog.clearCache()
        staging = os.path.join(b.scratch, f"staging_{i}")
        root = os.path.join(b.scratch, f"out_{i}")
        w, c, err = _timed(
            spark,
            lambda: _write_outputs(
                run_batch_staged(spark, *inputs, staging), root, min(4, b.cores)
            ),
        )
        res.record(kind, w, c, err)
        if err is None:
            written.append(root)
        return w, c

    first, warm, i = b.measure(op)

    if trace:
        # the traced run: spans back to back, outputs written one by one
        tr, tc, cm = inputs
        spark.catalog.clearCache()
        staging = os.path.join(b.scratch, "staging_traced")
        root = os.path.join(b.scratch, "out_traced")

        def traced() -> None:
            with rec.span(spark, "diaries.identity"):
                turns = d_ops.sessionize(d_ops.dedup_turns(tr), cfg)
                _noop(d_ops.audio_qc(d_ops.diary_identity(turns, cm, cfg), cfg))
            with rec.span(spark, "transcript.lifecycle"):
                _noop(t_ops.tool_call_lifecycle(tc))
            with rec.span(spark, "pipeline.build"):
                out = run_batch_staged(spark, tr, tc, cm, staging)
                # the lazy persists behind every output (violation flags and
                # diary rollup), so compile.* spans hold only their own work
                _noop(out.transcript_qc)
            for span, name in zip(
                ("compile.accepted", "compile.rejected", "compile.issues", "pipeline.turn_stats"),
                BATCH_OUTPUTS,
            ):
                with rec.span(spark, span):
                    getattr(out, name).write.parquet(os.path.join(root, name))

        traced_wall, traced_cpu, err = _timed(spark, traced)
        res.record("traced", traced_wall, traced_cpu, err)
        if err is None:
            written.append(root)
        staged_mb = _dir_mb(staging)
    rss.stop()

    with b.phase("check_s"):
        oracle = b.oracle()
        for root in written:
            why = check.batch_mismatch(_read_outputs(root), oracle)
            res.mismatched(why and f"{os.path.basename(root)}: {why}")

    with b.phase("shutdown_s"):
        host.shutdown_spark()

    if trace:
        covered = sum(t1 - t0 for name, t0, t1 in rec.spans if name != "session.start")
        untraced = statistics.median(w for w, _ in warm)
        layer = spans.span_counters(b.eventlog, rec.spans, b.cores)
        layer.update(
            {
                "pipeline.staged_mb": staged_mb,
                "trace.wall_s": traced_wall,
                "trace.untraced_wall_s": untraced,
                "trace.overhead_s": traced_wall - untraced,
                "trace.span_cover": covered / traced_wall,
            }
        )
        res.metrics = spans.with_units(layer)
    else:
        res.metrics = b.end_to_end(setup, first, warm, rss.peak_mb)
        res.details.append(
            {"gen_s": b.gen_s, **b.phases, "host_steal_s": host.steal_s() - b.steal0}
        )
    return res


# --------------------------------------------------------------- stream_drain
def stream_drain(b: Bench, trace: bool) -> Result:
    from daily_journal_dataflow_qc_spark.streaming.job import start_session_qc_query
    from daily_journal_dataflow_qc_spark.streaming.keystore import IncrementalKeyStore
    from daily_journal_dataflow_qc_spark.streaming.sink import IdempotentBatchSink

    res = Result()
    b.generate()
    stream_in = os.path.join(b.data_dir, "stream_transcripts")
    conv_meta_path = os.path.join(b.data_dir, "conv_meta.parquet")
    rec = spans.SpanRecorder()
    rss = host.RssSampler().start()
    with rec.span(None, "session.start"):
        spark = b.start_spark(eventlog=trace)
        conv_meta = spark.read.parquet(conv_meta_path)
    # process start to the first timed call, data generation excluded
    setup = b.elapsed() - b.gen_s
    done = []  # sinks of the drains that completed
    last = {}

    def op(i: int, kind: str, **kwargs) -> tuple[float, float]:
        out_root = os.path.join(b.scratch, f"drain_{i}")  # fresh checkpoint

        def drain() -> None:
            q, sinks = start_session_qc_query(spark, stream_in, out_root, conv_meta, **kwargs)
            last["q"] = q
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                q.stop()
                raise TimeoutError(f"drain did not finish in {DRAIN_TIMEOUT_S} s")
            done.append(sinks)

        w, c, err = _timed(spark, drain)
        res.record(kind, w, c, err)
        return w, c

    first, warm, i = b.measure(op)

    layer = {}
    if trace:
        with spans.CallTimer(IdempotentBatchSink, "write") as sink_w:
            traced_wall, _ = op(i, "traced")
        layer.update(spans.stream_counters(last["q"].recentProgress))
        layer["sink.write_s"] = sink_w.seconds
        layer["sink.writes"] = sink_w.calls
        # the key store only runs when transcript outputs are gated on tool
        # calls: one gated drain, timed for the keystore layer
        with spans.CallTimer(IncrementalKeyStore, "ingest") as ks_in, spans.CallTimer(
            IncrementalKeyStore, "read"
        ) as ks_read:
            op(i + 1, "gated", tool_calls_dir=os.path.join(b.data_dir, "stream_tool_calls"))
        layer["keystore.ingest_s"] = ks_in.seconds
        layer["keystore.read_s"] = ks_read.seconds
    rss.stop()

    with b.phase("check_s"):
        oracle = b.oracle()
        for sinks in done:
            got = sinks["audio_qc"].read(spark).select(*check.AUDIO_QC_COLS).toPandas()
            res.mismatched(check.audio_qc_mismatch(got, oracle))

    with b.phase("shutdown_s"):
        host.shutdown_spark()

    if trace:
        untraced = statistics.median(w for w, _ in warm)
        layer.update(spans.span_counters(b.eventlog, rec.spans, b.cores))
        layer.update(
            {
                "trace.wall_s": traced_wall,
                "trace.untraced_wall_s": untraced,
                "trace.overhead_s": traced_wall - untraced,
                "trace.span_cover": layer["stream.trigger_s"] / traced_wall,
            }
        )
        res.metrics = spans.with_units(layer)
    else:
        res.metrics = b.end_to_end(setup, first, warm, rss.peak_mb)
        res.details.append(
            {"gen_s": b.gen_s, **b.phases, "host_steal_s": host.steal_s() - b.steal0}
        )
    return res


RUNNERS = {"batch_daily": batch_daily, "stream_drain": stream_drain}
