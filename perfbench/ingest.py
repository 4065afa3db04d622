"""ingest_maintain: the daily ingest, backfill, archiver and retention loop.

Set-up cuts the seeded input into three calendar days and holds back a
seeded share of each day's rows to land one day later. The warm-up lands
days 0 and 1 and day 0's late rows, commits them while the archiver drains
them, reads and vacuums once, and snapshots the state: batch input,
landing directory, archive, manifests and the archiver's checkpoint and
table. Every op starts from that snapshot (restored before the op's timed
window), so every op is the same day step. It first lands day 2's on-time
rows and day 1's late rows in the batch input and in the archiver's
landing directory: a copy of a few MB of parquet, inside the op's wall but
outside its step timings. Then it runs one day step of the rollup
(``--backfill``), archiver and maintenance jobs:

1. ``checkpointed_rollup_run`` commits day 2;
2. ``backfill_run`` re-rolls day 1, whose input grew;
3. ``materialize_continuous_blocks`` (availableNow) drains what landed;
4. one read-after-write ``serve_range`` over day 2, through
   ``Catalog.read``;
5. ``vacuum_expired_days`` on the 1m tier, which drops day 0.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import date

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import checks
from perfbench.harness import median
from tmframe_spark.codec.udfs import pack_rollup_blocks
from tmframe_spark.data.catalog import Catalog
from tmframe_spark.data.transcripts import synth_transcripts
from tmframe_spark.ops.checkpoint import (
    PartitionManifest,
    backfill_run,
    checkpointed_rollup_run,
    pending_days,
    stale_days,
    write_manifest,
)
from tmframe_spark.ops.retention import vacuum_expired_days
from tmframe_spark.ops.rollup import rollup
from tmframe_spark.ops.serve import serve_range
from tmframe_spark.streaming.materialize import materialize_continuous_blocks, record_late_drops

TABLE = "rollup_1m_blocks"
STREAM_TABLE = "blocks_1m_stream"
DAY_NS = 86_400_000_000_000
TURNS_PER_DAY = 34_560  # the generator's 2.5 s mean cadence
#: what the snapshot holds, by attribute name
STATE = ("input", "landing", "archive", "manifests", "stream_root")


class IngestMaintain:
    name = "ingest_maintain"

    def __init__(self, ctx):
        self.ctx = ctx
        self.params = {
            "n_days": 3,
            "n_turns": 3 * TURNS_PER_DAY,
            "n_convs": 1_000,
            "hot_conv_pct": 10,
            "late_pct": 5,
            "retention_days_1m": 1,
        }
        self.source = ctx.path("source")
        self.input = ctx.path("input")
        self.landing = ctx.path("landing")
        self.archive = ctx.path("archive")
        self.manifests = ctx.path("manifests")
        self.stream_root = ctx.path("stream")
        self.landed: dict[str, int] = {}  # rows landed so far per day
        self.expected: dict[str, int] = {}  # input_rows each manifest must hold

    def setup(self) -> dict:
        p, spark = self.params, self.ctx.spark
        t0 = time.perf_counter()
        t = synth_transcripts(spark, p["n_turns"], p["n_convs"], seed=self.ctx.seed, hot_conv_pct=p["hot_conv_pct"])
        late = F.pmod(F.xxhash64("conv_id", "turn_idx", F.lit(self.ctx.seed)), F.lit(100)) < p["late_pct"]
        (
            t.withColumn("day", F.date_format(F.to_date("ts"), "yyyy-MM-dd"))
            .withColumn("late", late)
            .repartition("day", "late")
            .write.partitionBy("day", "late")
            .parquet(self.source)
        )
        self.counts: dict[tuple[str, bool], int] = {}
        files = glob.glob(os.path.join(self.source, "day=*", "late=*", "*.parquet"))
        for f in files:
            day, late = (part.split("=", 1)[1] for part in f.split(os.sep)[-3:-1])
            key = (day, late == "true")
            self.counts[key] = self.counts.get(key, 0) + pq.ParquetFile(f).metadata.num_rows
        self.days = sorted({d for d, _ in self.counts})
        self.schema = spark.read.parquet(files[0]).schema
        for d in (self.input, self.landing):
            os.makedirs(d)
        return {"data.gen_s": time.perf_counter() - t0}

    def _land(self, day: str, late: bool) -> None:
        files = sorted(glob.glob(os.path.join(self.source, f"day={day}", f"late={str(late).lower()}", "*.parquet")))
        for k, f in enumerate(files):
            name = f"{day}-{'late' if late else 'ontime'}-{k:03d}.parquet"
            shutil.copyfile(f, os.path.join(self.input, name))
            shutil.copyfile(f, os.path.join(self.landing, name))
        self.landed[day] = self.landed.get(day, 0) + self.counts.get((day, late), 0)

    def warmup(self) -> None:
        d0, d1 = self.days[0], self.days[1]
        self._land(d0, False)
        self._land(d1, False)
        self._land(d0, True)
        # the archiver drains on a second thread while the rollup job
        # commits both days: the two jobs run side by side in production,
        # and their cold starts overlap
        with ThreadPoolExecutor(1) as pool:
            drained = pool.submit(self._drain)
            t = self.ctx.spark.read.parquet(self.input)
            self._committed(checkpointed_rollup_run(t, self.archive, self.manifests, table=TABLE))
            drained.result()
        self._read(d1)
        self._vacuum(d1)
        snap = self.ctx.path("snapshot")
        for attr in STATE:
            shutil.copytree(getattr(self, attr), os.path.join(snap, attr))
        self.snapshot = (snap, dict(self.landed), dict(self.expected))

    def prepare(self, i: int) -> None:
        """Restore the post-warm-up state, outside the op's timed window."""
        snap, landed, expected = self.snapshot
        for attr in STATE:
            shutil.rmtree(getattr(self, attr))
            shutil.copytree(os.path.join(snap, attr), getattr(self, attr))
        self.landed, self.expected = dict(landed), dict(expected)

    def op(self, i: int) -> dict:
        day, back = self.days[2], self.days[1]
        self._land(day, False)
        self._land(back, True)
        tr, spark = self.ctx.tracer, self.ctx.spark
        t_start = time.perf_counter()
        t = spark.read.parquet(self.input)
        with tr.span("ops.checkpoint.checkpointed_rollup_run"):
            committed = checkpointed_rollup_run(t, self.archive, self.manifests, table=TABLE)
        t_commit = time.perf_counter()
        with tr.span("ops.checkpoint.backfill_run"):
            backfilled = backfill_run(t, self.archive, self.manifests, table=TABLE)
        t_backfill = time.perf_counter()
        late, progress = self._drain()
        t_drain = time.perf_counter()
        read_turns = self._read(day)
        t_read = time.perf_counter()
        dropped = self._vacuum(day)
        t_end = time.perf_counter()
        self._committed(committed + backfilled)
        rec = {
            "day": day,
            "backfill_day": back,
            "committed": [m.partition for m in committed],
            "backfilled": [m.partition for m in backfilled],
            "commit_s": t_commit - t_start,
            "backfill_s": t_backfill - t_commit,
            "drain_s": t_drain - t_backfill,
            "read_ms": (t_read - t_drain) * 1e3,
            "vacuum_ms": (t_end - t_read) * 1e3,
            "read_turns": read_turns,
            "day_turns": self.landed[day],
            "dropped": dropped,
            "batches": len(progress),
            "add_batch_ms": sum(x.get("durationMs", {}).get("addBatch", 0) for x in progress),
            "trigger_ms": sum(x.get("durationMs", {}).get("triggerExecution", 0) for x in progress),
            "late_dropped": sum(late.values()),
        }
        # the backfilled day is complete: its archive bytes per turn
        nbytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(self.archive, TABLE, f"day={back}", "*.parquet")))
        rec["backfill_bytes_per_turn"] = nbytes / self.landed[back]
        return rec

    def _committed(self, manifests) -> None:
        for m in manifests:
            d = m.partition.split("=", 1)[1]
            self.expected[d] = self.landed[d]

    def _drain(self) -> tuple[dict, list]:
        """The archiver: drain what landed; (late rows dropped, progress)."""
        with self.ctx.tracer.span("streaming.materialize_continuous_blocks"):
            q = materialize_continuous_blocks(
                self.ctx.spark, self.landing, self.schema, self.stream_root, tier="1m", table=STREAM_TABLE
            )
            q.awaitTermination()
            late = record_late_drops(q, self.stream_root, STREAM_TABLE)
            return late, [json.loads(x.json) for x in q.recentProgress]

    def _read(self, day: str) -> int:
        """Read-after-write: sum(turns) served over ``day``."""
        tr = self.ctx.tracer
        lo = (date.fromisoformat(day) - date(1970, 1, 1)).days * DAY_NS
        with tr.span("data.catalog.read"):
            blocks = Catalog(self.ctx.spark, self.archive).read(TABLE)
        with tr.span("ops.serve.serve_range"):
            pts = serve_range(blocks, ["conv_id", "day"], lo, lo + DAY_NS - 1)
        with tr.span("action.read_after_write"):
            return int(pts.agg(F.sum("v1")).collect()[0][0] or 0)

    def _vacuum(self, day: str) -> list:
        with self.ctx.tracer.span("ops.retention.vacuum_expired_days"):
            return vacuum_expired_days(
                Catalog(self.ctx.spark, self.archive), TABLE, "1m", day,
                policy={"1m": self.params["retention_days_1m"]},
            )

    def check(self, records: list[dict]) -> tuple[set, list]:
        bad, msgs = set(), []
        for r in records:
            if [f"day={r['day']}"] != r["committed"] or [f"day={r['backfill_day']}"] != r["backfilled"]:
                bad.add(r["op"])
                msgs.append(f"op {r['op']}: committed {r['committed']}, backfilled {r['backfilled']}")
            if r["read_turns"] != r["day_turns"]:
                bad.add(r["op"])
                msgs.append(f"op {r['op']}: read-after-write {r['read_turns']} turns != committed {r['day_turns']}")
        msgs += checks.check_manifests(self.manifests, self.expected)
        # each backfilled day still retained equals a from-scratch pack of
        # the complete day
        spark = self.ctx.spark
        t = spark.read.parquet(self.input)
        cat = Catalog(spark, self.archive)
        retained = set(cat.days(TABLE))
        for r in records:
            d = r["backfill_day"]
            if d is None or d not in retained:
                continue
            got = checks.block_digest(cat.read_day(TABLE, d), ["conv_id"])
            ref = pack_rollup_blocks(rollup(t.where(F.to_date("ts") == F.lit(d)), "1m"), "1m", "day")
            want = checks.block_digest(ref, ["conv_id"])
            if got != want:
                bad.add(r["op"])
                msgs.append(f"op {r['op']}: backfilled day {d} blocks differ from a from-scratch pack")
        return bad, msgs

    def metrics(self, records: list[dict]) -> dict:
        rs = [r for r in records if not r["traced"]]
        return {
            "ingest_day_p50_s": (median([r["commit_s"] for r in rs]), "s"),
            "backfill_day_p50_s": (median([r["backfill_s"] for r in rs]), "s"),
            "stream_drain_p50_s": (median([r["drain_s"] for r in rs]), "s"),
            "read_after_write_p50_ms": (median([r["read_ms"] for r in rs]), "ms"),
            "archive_bytes_per_turn": (median([r["backfill_bytes_per_turn"] for r in records]), "bytes"),
        }

    def layer_metrics(self, records: list[dict]) -> dict:
        return {
            "streaming.batches": median([r["batches"] for r in records]),
            "streaming.add_batch_ms": median([r["add_batch_ms"] for r in records]),
            "streaming.trigger_ms": median([r["trigger_ms"] for r in records]),
            "streaming.late_rows_dropped": median([r["late_dropped"] for r in records]),
            "ops.retention.vacuum_ms": median([r["vacuum_ms"] for r in records]),
            "ops.retention.days_dropped": median([len(r["dropped"]) for r in records]),
        }

    def trace_probe(self, rec: dict, layers: dict) -> dict:
        """After the traced op: the two all-input scans the jobs start with,
        one manifest commit, the archive's bytes per point, and the catalog
        writes seen in the plans."""
        spans = self.ctx.tracer.last_op_spans
        t = self.ctx.spark.read.parquet(self.input)
        t0 = time.perf_counter()
        pending_days(t, self.manifests)
        t1 = time.perf_counter()
        stale_days(t, self.manifests)
        t2 = time.perf_counter()
        probe_root = self.ctx.path("manifest-probe")
        write_manifest(probe_root, PartitionManifest("day=probe", 0, 0, 0, 0.0, 0.0, "probe", {}))
        t3 = time.perf_counter()
        shutil.rmtree(probe_root, ignore_errors=True)
        st = Catalog(self.ctx.spark, self.archive).read(TABLE).agg(
            F.sum(F.length("frame")).alias("nbytes"), F.sum("n_points").alias("pts")
        ).collect()[0]
        ck = [spans.get(n, {}) for n in ("ops.checkpoint.checkpointed_rollup_run", "ops.checkpoint.backfill_run")]
        days = len(rec.get("committed", ())) + len(rec.get("backfilled", ())) or 1
        return {
            "codec.bytes_per_point": int(st["nbytes"]) / int(st["pts"]),
            "ops.checkpoint.pending_days_s": t1 - t0,
            "ops.checkpoint.stale_days_s": t2 - t1,
            "ops.checkpoint.manifest_ms": (t3 - t2) * 1e3,
            "ops.checkpoint.jobs_per_day": sum(s.get("jobs", 0) for s in ck) / days,
            "data.catalog_write_s": sum(s.get("plan", {}).get("data.write_s", 0.0) for s in ck),
            "data.files_written": sum(s.get("plan", {}).get("data.files_written", 0.0) for s in ck),
        }
