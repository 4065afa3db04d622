"""Throughput of the numpy block kernels, called directly (no Spark).

The sample is real rollup data: the 1m rollup rows of the first
``SAMPLE_CONVS`` conversations (by ``conv_id``) of the workload's seeded
input, collected once and kept in the workload's work directory. Each
conversation is cut into one-day blocks the way ``pack_rollup_blocks``
cuts it, encoded with ``encode_blocks_gapfilled_batch`` (one call per
conversation, as the pack stage does) and decoded block by block with
``decode_block`` (as the unpack stage does).
"""

from __future__ import annotations

import functools
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from tmframe_spark.codec.blocks import decode_block, encode_blocks_gapfilled_batch
from tmframe_spark.codec.udfs import bucket_ts_ns
from tmframe_spark.ops.rollup import rollup

STEP_NS = 60_000_000_000
DAY_NS = 86_400_000_000_000
SAMPLE_CONVS = 40


def write_sample(rollup_1m, path: str) -> None:
    """Collect the 1m rollup rows of the first ``SAMPLE_CONVS``
    conversations to ``path`` (parquet), once."""
    if os.path.exists(path):
        return
    convs = [r[0] for r in rollup_1m.select("conv_id").distinct().orderBy("conv_id").limit(SAMPLE_CONVS).collect()]
    rollup_1m.where(F.col("conv_id").isin(convs)).select(
        "conv_id",
        bucket_ts_ns().alias("ts"),
        F.col("token_volume").cast("double").alias("v0"),
        F.col("turns").cast("long").alias("v1"),
    ).toPandas().to_parquet(path)


def _series(path: str) -> list[tuple]:
    """Per conversation, the arguments of one ``encode_blocks_gapfilled_batch``
    call over its one-day blocks."""
    out = []
    for _, g in pd.read_parquet(path).sort_values(["conv_id", "ts"]).groupby("conv_id"):
        ts = g["ts"].to_numpy(np.int64)
        t0 = int(ts[0])
        n_total = (int(ts[-1]) - t0) // STEP_NS + 1
        grp = np.arange(t0 // DAY_NS, int(ts[-1]) // DAY_NS + 1, dtype=np.int64) * DAY_NS
        starts = np.maximum((grp - t0) // STEP_NS, 0)
        ends = np.append(starts[1:], n_total)
        pos = (ts - t0) // STEP_NS
        bids = np.searchsorted(starts, pos, side="right") - 1
        out.append((t0 + starts * STEP_NS, ends - starts, bids, pos - starts[bids],
                    g["v0"].to_numpy(np.float64), g["v1"].to_numpy(np.int64)))
    return out


@functools.cache
def kernel_rates(path: str, reps: int = 3) -> dict:
    """Encode and decode spine points per second over the sample at
    ``path``, each the median of ``reps``; computed once per process."""
    series = _series(path)
    points = int(sum(ns.sum() for _, ns, *_ in series))
    enc, dec = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        blocks = [
            b
            for t0s, ns, bids, idx, v0, v1 in series
            for b in encode_blocks_gapfilled_batch(t0s, STEP_NS, ns, bids, idx, v0, v1)
        ]
        enc.append(points / (time.perf_counter() - t0))
        t0 = time.perf_counter()
        n = sum(len(decode_block(b)[0]) for b in blocks)
        dec.append(n / (time.perf_counter() - t0))
    return {
        "codec.blocks.encode_pts_per_s": float(np.median(enc)),
        "codec.blocks.decode_pts_per_s": float(np.median(dec)),
    }


def rates(ctx, transcripts) -> dict:
    """Kernel rates over the sample of ``transcripts``' 1m rollup, kept as
    ``kernel_sample.parquet`` in the workload's work directory."""
    path = ctx.path("kernel_sample.parquet")
    write_sample(rollup(transcripts, "1m"), path)
    return kernel_rates(path)
