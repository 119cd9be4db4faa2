#!/usr/bin/env python3
"""Smoke self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

1. Runs ``run.py --size tiny`` on every workload, untraced and traced, and
   asserts that the last line is a correct result naming every metric of
   BENCHMARK.json with its unit.
2. Drops one row from each checked output of a tiny oracle run and asserts
   that the output check reports the mismatch (and passes the untouched
   frames).

Takes a few minutes: each run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + [
                "--workload", w["name"], "--seed", "3", "--seconds", "1",
                "--trace", str(trace), "--size", "tiny",
            ]
            proc = subprocess.run(
                cmd, cwd=ROOT, capture_output=True, text=True, timeout=300
            )
            assert proc.returncode == 0, proc.stderr[-2000:]
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] is True and res["failed"] == 0, res
            assert res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, (w["name"], trace, set(got) ^ set(want))
            for k, v in res["metrics"].items():
                assert isinstance(v["value"], (int, float)), (k, v)
            print(f"ok  {w['name']} trace={trace}: {len(got)} metrics", flush=True)


def check_detects_dropped_rows() -> None:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import check
    from daily_journal_dataflow_qc_spark.config import PipelineConfig
    from daily_journal_dataflow_qc_spark.datagen import generate_scaled
    from daily_journal_dataflow_qc_spark.oracle import pandas_oracle

    oracle = pandas_oracle.compute(*generate_scaled(6, 1, 3), PipelineConfig())
    outputs = ("accepted", "rejected", "issues", "turn_stats")
    assert check.batch_mismatch({k: oracle[k] for k in outputs}, oracle) is None
    for name in outputs:
        got = {k: oracle[k] for k in outputs}
        got[name] = oracle[name].iloc[1:]
        assert check.batch_mismatch(got, oracle), f"dropped {name} row not detected"
    qc = oracle["audio_qc"][check.AUDIO_QC_COLS]
    assert check.audio_qc_mismatch(qc, oracle) is None
    assert check.audio_qc_mismatch(qc.iloc[1:], oracle), "dropped audio_qc row not detected"
    print("ok  output checks detect one dropped row", flush=True)


if __name__ == "__main__":
    check_detects_dropped_rows()
    check_runs()
