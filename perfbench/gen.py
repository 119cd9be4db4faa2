#!/usr/bin/env python3
"""Load generator and reference answer for one benchmark seed.

    python3 perfbench/gen.py DATA_DIR BASE_CONVS REPLICAS SEED STREAM(0|1)

Writes into DATA_DIR the engine's three input tables from ``datagen`` (and,
with STREAM=1, the multi-file stream copies), then ``oracle.pkl``: the
pandas oracle's outputs over those same files. Idempotent per directory.
Runs as its own process, outside the system under test.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import zlib

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STREAM_FILES = 8


def generate(data_dir: str, base_convs: int, replicas: int, seed: int, stream: bool) -> None:
    import pandas as pd

    from daily_journal_dataflow_qc_spark.config import PipelineConfig
    from daily_journal_dataflow_qc_spark.datagen import write_parquet_scaled
    from daily_journal_dataflow_qc_spark.oracle import pandas_oracle

    write_parquet_scaled(data_dir, base_convs=base_convs, replicas=replicas, seed=seed)
    if stream:
        stream_copy(data_dir)
    cache = os.path.join(data_dir, "oracle.pkl")
    if not os.path.isfile(cache):
        # the oracle reads the very files the engine reads
        frames = []
        for table in ("transcripts", "tool_calls", "conv_meta"):
            df = pd.read_parquet(os.path.join(data_dir, f"{table}.parquet"))
            if "ts" in df:
                df["ts"] = df["ts"].dt.tz_convert(None)  # naive UTC, as datagen makes
            frames.append(df)
        pd.to_pickle(pandas_oracle.compute(*frames, PipelineConfig()), cache + ".tmp")
        os.replace(cache + ".tmp", cache)


def stream_copy(data_dir: str) -> None:
    """Multi-file copy of the transcripts (one conversation per file, so each
    diary's turns arrive together) plus a far-future sentinel file that
    closes every real session under the watermark; and a multi-file copy of
    the tool calls for the tool-call-gated drain."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    marker = os.path.join(data_dir, "_STREAM_READY")
    if os.path.isfile(marker):
        return
    for table in ("transcripts", "tool_calls"):
        out = os.path.join(data_dir, f"stream_{table}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        t = pq.read_table(os.path.join(data_dir, f"{table}.parquet"))
        bucket = pa.array(
            [zlib.crc32(c.encode()) % STREAM_FILES for c in t.column("conv_id").to_pylist()]
        )
        for b in range(STREAM_FILES):
            part = t.filter(pc.equal(bucket, b))
            pq.write_table(part, os.path.join(out, f"part-{b:02d}.parquet"))
        if table == "transcripts":
            sentinel = pa.table(
                {
                    "conv_id": ["__sentinel__"],
                    "turn_idx": pa.array([1], pa.int32()),
                    "role": ["S1"],
                    "text": ["end"],
                    "tool": pa.array([None], pa.string()),
                    "ts": pa.array([4102444800_000000], pa.timestamp("us", tz="UTC")),
                },
                schema=t.schema.remove_metadata(),
            )
            path = os.path.join(out, "part-99-sentinel.parquet")
            pq.write_table(sentinel, path)
            # the file source admits files in mtime order: the sentinel last
            later = time.time() + 5
            os.utime(path, (later, later))
    with open(marker, "w") as f:
        f.write("ok")


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    data_dir, base_convs, replicas, seed, stream = sys.argv[1:6]
    generate(data_dir, int(base_convs), int(replicas), int(seed), stream == "1")
