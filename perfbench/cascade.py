"""rollup_cascade: the three-tier rollup + pack cascade as one batch job.

One op: ``rollup`` to 1m (persisted) -> ``cascade_up`` to 1h and 1d ->
``pack_rollup_blocks`` per tier (1m/day, 1h/month, 1d/year) -> one action
over the three tiers (points, bytes and a block digest per tier) -> an
``unpack_blocks`` decode-verify of the 1d tier.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from perfbench import checks, kernels
from perfbench.harness import median
from tmframe_spark.codec.udfs import pack_rollup_blocks, unpack_blocks
from tmframe_spark.data.transcripts import synth_transcripts
from tmframe_spark.ops.rollup import cascade_up, rollup

TIERS = (("1m", "day"), ("1h", "month"), ("1d", "year"))
KEYS = ["conv_id", "grp"]


def write_input(ctx, n_turns: int, n_convs: int, hot_conv_pct: int, path: str) -> float:
    """Write the seeded transcripts as parquet; returns seconds taken."""
    t0 = time.perf_counter()
    synth_transcripts(
        ctx.spark, n_turns, n_convs, seed=ctx.seed, hot_conv_pct=hot_conv_pct
    ).write.mode("overwrite").parquet(path)
    return time.perf_counter() - t0


def build_tiers(tr, transcripts):
    """The cascade's three packed tiers (lazy) and the persisted 1m rollup."""
    with tr.span("ops.rollup.rollup"):
        m = rollup(transcripts, "1m").persist()
    with tr.span("ops.rollup.cascade_up"):
        h = cascade_up(m, "1h")
        d = cascade_up(h, "1d")
    out = {}
    for (tier, unit), df in zip(TIERS, (m, h, d)):
        with tr.span("codec.pack_rollup_blocks"):
            out[tier] = pack_rollup_blocks(df, tier, unit).withColumn("tier", F.lit(tier))
    return m, out


class RollupCascade:
    name = "rollup_cascade"

    def __init__(self, ctx):
        self.ctx = ctx
        self.params = {"n_turns": 100_000, "n_convs": 500, "hot_conv_pct": 10}
        self.input = ctx.path("input")

    def setup(self) -> dict:
        p = self.params
        gen_s = write_input(self.ctx, p["n_turns"], p["n_convs"], p["hot_conv_pct"], self.input)
        return {"data.gen_s": gen_s}

    def _transcripts(self):
        with self.ctx.tracer.span("data.read_parquet"):
            return self.ctx.spark.read.parquet(self.input)

    def warmup(self) -> None:
        # one cold op, then a cascade kept (local checkpoint) for the decode
        # check: every timed op must reproduce its block digest. The third
        # cascade of a process runs within a few percent of the ones after
        # it; the second does not.
        self.op(-1)
        m, tiers = build_tiers(self.ctx.tracer, self._transcripts())
        self.check_blocks = tiers["1m"].unionByName(tiers["1h"]).unionByName(tiers["1d"]).localCheckpoint()
        m.unpersist()
        kept = (
            self.check_blocks.groupBy("tier")
            .agg(
                F.bit_xor(F.xxhash64(*KEYS, "frame")).alias("x"),
                F.sum("n_points").alias("pts"),
                F.sum(F.length("frame")).alias("nbytes"),
            )
            .collect()
        )
        self.check_digest = {r["tier"]: int(r["x"]) for r in kept}
        self.check_points = sum(int(r["pts"]) for r in kept)
        self.check_bytes = sum(int(r["nbytes"]) for r in kept)

    def op(self, i: int) -> dict:
        tr = self.ctx.tracer
        m, tiers = build_tiers(tr, self._transcripts())
        d_blocks = tiers["1d"].persist()
        all_blocks = tiers["1m"].unionByName(tiers["1h"]).unionByName(d_blocks)
        with tr.span("action.pack_all_tiers"):
            rows = (
                all_blocks.groupBy("tier")
                .agg(
                    F.sum("n_points").alias("pts"),
                    F.sum(F.length("frame")).alias("nbytes"),
                    F.bit_xor(F.xxhash64("conv_id", "grp", "frame")).alias("digest"),
                )
                .collect()
            )
        with tr.span("codec.unpack_blocks"):
            dec = unpack_blocks(d_blocks, KEYS, v0="v0", v1="v1")
        with tr.span("action.decode_verify_1d"):
            r = dec.agg(F.count(F.lit(1)).alias("n"), F.sum("v1").alias("turns")).collect()[0]
        d_blocks.unpersist()
        m.unpersist()
        by_tier = {x["tier"]: x for x in rows}
        return {
            "points": {t: int(by_tier[t]["pts"]) for t, _ in TIERS},
            "bytes": sum(int(x["nbytes"]) for x in rows),
            "digest": {t: int(by_tier[t]["digest"]) for t, _ in TIERS},
            "decoded_1d": int(r["n"]),
            "decoded_1d_turns": int(r["turns"] or 0),
        }

    def check(self, records: list[dict]) -> tuple[set, list]:
        spark = self.ctx.spark
        t = spark.read.parquet(self.input)
        rows, _ = checks.input_totals(t)
        self.rows = rows
        bad, msgs = set(), []
        for r in records:
            if r["decoded_1d_turns"] != rows or r["decoded_1d"] != r["points"]["1d"]:
                bad.add(r["op"])
                msgs.append(f"op {r['op']}: 1d decode-verify {r['decoded_1d_turns']} turns, {r['decoded_1d']} points")
        digests = [self.check_digest] + [r["digest"] for r in records]
        msgs += checks.check_same(digests, "block digest")
        if msgs and not bad:
            bad = {r["op"] for r in records if r["digest"] != self.check_digest}
        # decode every tier of the checked blocks and compare it with the
        # rollup straight from the input
        msgs += checks.check_decoded_tiers(self.check_blocks, KEYS, t)
        return bad, msgs

    def metrics(self, records: list[dict]) -> dict:
        untimed = [r for r in records if not r["traced"]]
        pts = [sum(r["points"].values()) / r["wall_s"] for r in untimed]
        return {
            "cascade_pts_per_s": (median(pts), "points/s"),
            "archive_bytes_per_turn": (self.check_bytes / self.rows, "bytes"),
        }

    def layer_metrics(self, records: list[dict]) -> dict:
        return {"codec.bytes_per_point": self.check_bytes / self.check_points}

    def trace_probe(self, rec: dict, layers: dict) -> dict:
        return kernels.rates(self.ctx, self.ctx.spark.read.parquet(self.input))
