"""Output checks. They run outside the timed windows; each returns a list of
failure messages (empty when the outputs are right). ``selftest.py`` feeds
them corrupted inputs to show that they fail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tmframe_spark.codec.udfs import bucket_ts_ns, unpack_blocks
from tmframe_spark.ops.checkpoint import read_manifests
from tmframe_spark.ops.rollup import rollup


def _row_digest(*cols):
    """Order-independent digest of a row set: (rows, xor of row hashes)."""
    return [F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("x")]


def block_digest(blocks: DataFrame, keys: list[str]) -> tuple[int, int]:
    """(blocks, xor of hash(keys, frame)) — equal iff the same block bytes
    (up to hash collisions) under the same keys."""
    r = blocks.agg(*_row_digest(*keys, "frame")).collect()[0]
    return int(r["n"]), int(r["x"] or 0)


def input_totals(transcripts: DataFrame) -> tuple[int, int]:
    """(turns, sum(length(text))) of a transcript table."""
    r = transcripts.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("c")
    ).collect()[0]
    return int(r["n"]), int(r["c"] or 0)


def check_decoded_tiers(blocks: DataFrame, keys: list[str], transcripts: DataFrame) -> list[str]:
    """Decode every tier's blocks (``blocks`` carries a ``tier`` column) and
    compare each tier with the same tier rolled up straight from the
    transcripts:

    - every decoded point with turns > 0 is a rollup row, with the same
      (conv, bucket, turns, token_volume), and vice versa;
    - decoded sum(turns) is the input row count and decoded
      sum(token_volume) is sum(length(text));
    - the decoded point count equals the blocks' n_points.
    """
    n_points = {r["tier"]: r[1] for r in blocks.groupBy("tier").agg(F.sum("n_points")).collect()}
    tiers = sorted(n_points)
    pts = unpack_blocks(blocks, ["tier", *keys], v0="v0", v1="v1")
    point = ("conv_id", "ts_ns", "t", "v")
    dec = {
        r["tier"]: r
        for r in pts.select(
            "tier", "conv_id", "ts_ns", "v1", "v0",
            F.col("v1").cast("long").alias("t"), F.col("v0").cast("long").alias("v"),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("pts"),
            F.sum("v1").alias("turns"),
            F.sum("v0").alias("tokens"),
            F.count(F.when(F.col("v1") > 0, 1)).alias("n"),
            F.bit_xor(F.when(F.col("v1") > 0, F.xxhash64(*point))).alias("x"),
        )
        .collect()
    }
    refs = None
    for tier in tiers:
        ref = rollup(transcripts, tier).select(
            F.lit(tier).alias("tier"),
            "conv_id",
            bucket_ts_ns().alias("ts_ns"),
            F.col("turns").cast("long").alias("t"),
            F.col("token_volume").cast("long").alias("v"),
        )
        refs = ref if refs is None else refs.unionByName(ref)
    want = {r["tier"]: r for r in refs.groupBy("tier").agg(*_row_digest(*point)).collect()}
    rows, chars = input_totals(transcripts)
    fails = []
    for tier in tiers:
        got, ref = dec[tier], want[tier]
        if (got["n"], got["x"]) != (ref["n"], ref["x"]):
            fails.append(f"{tier}: decoded data points differ from the rollup ({got['n']} vs {ref['n']} rows)")
        if int(got["turns"] or 0) != rows:
            fails.append(f"{tier}: decoded sum(turns) {got['turns']} != input rows {rows}")
        if int(got["tokens"] or 0) != chars:
            fails.append(f"{tier}: decoded sum(token_volume) {got['tokens']} != sum(length(text)) {chars}")
        if int(got["pts"]) != int(n_points[tier]):
            fails.append(f"{tier}: decoded {got['pts']} points, blocks claim {n_points[tier]}")
    return fails


def check_same(values: list, what: str) -> list[str]:
    """Every op of a run produced the same value."""
    distinct = sorted({repr(v) for v in values})
    return [] if len(distinct) <= 1 else [f"{what} differs across ops: {distinct[:3]}"]


def check_manifests(manifest_root: str, expected_rows: dict[str, int]) -> list[str]:
    """Each committed day has a manifest whose input_rows equals the rows
    landed for that day when it was last (re)committed."""
    have = {p.split("=", 1)[1]: m for p, m in read_manifests(manifest_root).items()}
    fails = []
    for day, rows in sorted(expected_rows.items()):
        if day not in have:
            fails.append(f"manifest missing for day {day}")
        elif int(have[day]["input_rows"]) != rows:
            fails.append(f"manifest {day}: input_rows {have[day]['input_rows']} != landed {rows}")
    return fails


def check_equal(got, want, what: str) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]
