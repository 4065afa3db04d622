"""Self-test of the benchmark's output checks: each corrupted input must make
its check fail, and the uncorrupted input must pass.

    python3 perfbench/selftest.py

- one flipped byte in a block   -> the decoded-tier check and the digest;
- one dropped input row         -> the decoded-tier check;
- one missing manifest          -> the manifest check.

Runs on a small seeded input in a local[2] session; exits 0 when every
check behaves, 1 otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _fails(fn) -> list[str]:
    """A check's failures; a check that raises on bad data has failed too."""
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 - a raising check reports a failure
        return [f"raised {type(e).__name__}"]


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import checks
    from perfbench.harness import Context
    from perfbench.run import _stop_gateway
    from tmframe_spark.codec.udfs import pack_rollup_blocks
    from tmframe_spark.data.transcripts import synth_transcripts
    from tmframe_spark.ops.checkpoint import checkpointed_rollup_run
    from tmframe_spark.ops.rollup import rollup
    from pyspark.sql import functions as F

    ctx = Context(ROOT, "selftest", 7)
    results = {}
    try:
        spark = ctx.start_spark()
        synth_transcripts(spark, 40_000, 20, seed=7).write.parquet(ctx.path("input"))
        t = spark.read.parquet(ctx.path("input"))
        keys = ["conv_id", "grp"]
        blocks = (
            pack_rollup_blocks(rollup(t, "1m"), "1m", "day").withColumn("tier", F.lit("1m")).localCheckpoint()
        )
        results["baseline decoded tier"] = not _fails(lambda: checks.check_decoded_tiers(blocks, keys, t))

        pdf = blocks.toPandas()
        frame = bytearray(pdf.at[0, "frame"])
        pos = 24 + (len(frame) - 24) // 2  # inside the block bitstream
        frame[pos] ^= 0xFF
        pdf.at[0, "frame"] = bytes(frame)
        flipped = spark.createDataFrame(pdf, blocks.schema)
        results["flipped byte: decoded tier"] = bool(
            _fails(lambda: checks.check_decoded_tiers(flipped, keys, t))
        )
        results["flipped byte: digest"] = bool(
            checks.check_equal(checks.block_digest(flipped, keys), checks.block_digest(blocks, keys), "digest")
        )

        first = t.orderBy("ts_ns").limit(1)
        short = t.exceptAll(first)
        short_blocks = pack_rollup_blocks(rollup(short, "1m"), "1m", "day").withColumn("tier", F.lit("1m"))
        results["dropped row: decoded tier"] = bool(_fails(lambda: checks.check_decoded_tiers(short_blocks, keys, t)))

        man = ctx.path("manifests")
        done = checkpointed_rollup_run(t, ctx.path("archive"), man)
        counts = t.groupBy(F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("d")).count().collect()
        expected = {r["d"]: int(r["count"]) for r in counts}
        results["baseline manifests"] = len(done) == len(expected) and not checks.check_manifests(man, expected)
        os.remove(sorted(glob.glob(os.path.join(man, "*.json")))[0])
        results["missing manifest: manifests"] = bool(checks.check_manifests(man, expected))
    finally:
        ctx.close()
        _stop_gateway()
    for name, ok in results.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    print(json.dumps({"selftest_passed": all(results.values()), "cases": results}))
    return 0 if all(results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
