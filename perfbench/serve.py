"""archive_query: reads of a packed 1m block archive, plus the registry's
dedup, merge, text and vec queries.

Set-up packs the seeded input's 1m tier into a ``day``-partitioned parquet
block table and opens it once, as a serving process would, and writes the
registry's seeded stand-in tables (``regdata.py``). One op is one round
with seeded request parameters:

- narrow: ``serve_range`` over one conversation, one hour inside its life;
- asof: ``serve_asof`` with 100 seeded (conversation, instant) probes;
- the four registry queries of ``registry.py``, each with ``.count()``.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from perfbench import kernels, registry
from perfbench.cascade import write_input
from perfbench.harness import log, median
from perfbench.regdata import write_tables
from tmframe_spark.codec.udfs import pack_rollup_blocks, unpack_blocks
from tmframe_spark.ops.asof import asof_join
from tmframe_spark.ops.rollup import rollup
from tmframe_spark.ops.serve import blocks_for_asof, blocks_overlapping, serve_asof, serve_range

KEYS = ["conv_id", "grp"]
MIN_NS = 60_000_000_000
KINDS = ("narrow", "asof")
#: warm-up rounds before the timed ops
WARM_ROUNDS = 2
PROBE_SCHEMA = StructType([StructField("conv_id", StringType()), StructField("ts_ns", LongType())])


class ArchiveQuery:
    name = "archive_query"

    def __init__(self, ctx):
        self.ctx = ctx
        self.params = {
            "n_turns": 100_000,
            "n_convs": 500,
            "hot_conv_pct": 10,
            "narrow_minutes": 60,
            "asof_probes": 100,
            "registry": {"n_events": 100_000, "n_users": 1_500, "n_docs": 5_000, "n_vecs": 2_000},
        }
        self.input = ctx.path("input")
        self.archive = ctx.path("archive")
        self.sf_dir = ctx.path("tables")
        self.rng = np.random.default_rng(ctx.seed)

    def setup(self) -> dict:
        p = self.params
        spark = self.ctx.spark
        t0 = time.perf_counter()
        write_tables(self.sf_dir, self.ctx.seed, **p["registry"])
        # the registry queries' warm-up runs on a second thread from here on:
        # its cold start (planning, codegen, class loading) overlaps the
        # input generation and the pack; warmup() joins it
        self._pool = ThreadPoolExecutor(1)
        self._warm_queries = self._pool.submit(self._warm_registry, spark)
        gen_s = write_input(self.ctx, p["n_turns"], p["n_convs"], p["hot_conv_pct"], self.input)
        log(f"[perfbench] registry tables, then input {time.perf_counter() - t0:.2f}s")
        t0 = time.perf_counter()
        blocks = pack_rollup_blocks(rollup(spark.read.parquet(self.input), "1m"), "1m", "day")
        blocks.withColumn("day", F.to_date("grp")).repartition("day").write.partitionBy(
            "day"
        ).parquet(self.archive)
        pack_s = time.perf_counter() - t0
        self.blocks = spark.read.parquet(self.archive)
        life = self.blocks.groupBy("conv_id").agg(
            F.min("ts_first").alias("lo"), F.max("ts_last").alias("hi"),
            F.sum("n_points").alias("pts"), F.sum(F.length("frame")).alias("nbytes"),
        ).collect()
        self.life = {r["conv_id"]: (int(r["lo"]), int(r["hi"])) for r in life}
        self.convs = sorted(self.life)
        self.span = (min(v[0] for v in self.life.values()), max(v[1] for v in self.life.values()))
        self.archive_bytes = sum(int(r["nbytes"]) for r in life)
        self.bytes_per_point = self.archive_bytes / sum(int(r["pts"]) for r in life)
        return {"data.gen_s": gen_s + pack_s}

    # -- seeded request parameters -------------------------------------

    def _narrow(self) -> dict:
        n_min = self.params["narrow_minutes"]
        long_lived = [c for c in self.convs if self.life[c][1] - self.life[c][0] >= n_min * MIN_NS]
        c = long_lived[int(self.rng.integers(0, len(long_lived)))]
        lo, hi = self.life[c]
        start = lo + int(self.rng.integers(0, (hi - lo) // MIN_NS - n_min + 2)) * MIN_NS
        return {"kind": "narrow", "conv": c, "lo": start, "hi": start + (n_min - 1) * MIN_NS}

    def _asof(self) -> dict:
        n = self.params["asof_probes"]
        lo, hi = self.span
        convs = [self.convs[k] for k in self.rng.integers(0, len(self.convs), n)]
        ts = self.rng.integers(lo - 3600 * 10**9, hi + 3600 * 10**9, n) & ~7
        return {"kind": "asof", "probes": list(zip(convs, (int(t) for t in ts)))}

    # -- requests ------------------------------------------------------

    def _range(self, req: dict) -> dict:
        tr = self.ctx.tracer
        blocks = self.blocks.where(F.col("conv_id") == req["conv"])
        with tr.span("ops.serve.serve_range"):
            pts = serve_range(blocks, KEYS, req["lo"], req["hi"])
        with tr.span(f"action.serve_{req['kind']}"):
            r = pts.agg(F.count(F.lit(1)).alias("n"), F.sum("v1").alias("t")).collect()[0]
        return {"rows": int(r["n"]), "turns": int(r["t"] or 0)}

    def _probes(self, req: dict):
        return self.ctx.spark.createDataFrame(pd.DataFrame(req["probes"], columns=["conv_id", "ts_ns"]), PROBE_SCHEMA)

    def _serve_asof(self, req: dict) -> dict:
        tr = self.ctx.tracer
        probes = self._probes(req)
        with tr.span("ops.serve.serve_asof"):
            out = serve_asof(self.blocks, KEYS, ["conv_id"], probes)
        with tr.span("action.serve_asof"):
            rows = out.select("conv_id", "ts_ns", "m_ts_ns", "m_v0", "m_v1", "status").collect()
        return {"rows": len(rows), "_answer": sorted(tuple(r) for r in rows)}

    def _request(self, req: dict) -> dict:
        t0 = time.perf_counter()
        out = self._serve_asof(req) if req["kind"] == "asof" else self._range(req)
        out["latency_s"] = time.perf_counter() - t0
        return {**req, **out}

    def _warm_registry(self, spark):
        runs = [registry.run_queries(self.ctx.tracer, spark, self.sf_dir) for _ in range(WARM_ROUNDS)]
        return runs[-1]

    def warmup(self) -> None:
        # the first round after a cold one is still ~20% slower than the
        # ones after it, and its serve_asof varies most
        t0 = time.perf_counter()
        for _ in range(WARM_ROUNDS):
            served = [self._request(r) for r in (self._narrow(), self._asof())]
        lat, counts = self._warm_queries.result()
        self._pool.shutdown()
        self.warm = {"requests": served, "query_s": lat, "counts": counts}
        log(f"[perfbench] warm-up round {time.perf_counter() - t0:.2f}s: "
            + " ".join(f"{q['kind']} {q['latency_s']:.2f}" for q in served)
            + " " + " ".join(f"{n} {v:.2f}" for n, v in lat.items()))

    def op(self, i: int) -> dict:
        reqs = [self._narrow(), self._asof()]
        served = [self._request(r) for r in reqs]
        lat, counts = registry.run_queries(self.ctx.tracer, self.ctx.spark, self.sf_dir)
        return {"requests": served, "query_s": lat, "counts": counts}

    # -- checks --------------------------------------------------------

    def check(self, records: list[dict]) -> tuple[set, list]:
        spark = self.ctx.spark
        bad, msgs = set(), []
        ranges = [(r["op"], q) for r in records for q in r["requests"] if q["kind"] != "asof"]
        self.rows, life, turns = self._raw_oracle([q for _, q in ranges])
        for k, (op, q) in enumerate(ranges):
            lo, hi = life[q["conv"]]
            want = (max(0, (min(q["hi"], hi) - max(q["lo"], lo)) // MIN_NS + 1), turns.get(k, 0))
            if (q["rows"], q["turns"]) != want:
                bad.add(op)
                msgs.append(f"op {op} {q['kind']}: (rows, turns) {(q['rows'], q['turns'])} != raw {want}")
        # serve_asof == asof_join over the decoded archive (its docstring's
        # equivalence), for every probe of the run in one job
        asofs = [(r["op"], q) for r in records for q in r["requests"] if q["kind"] == "asof"]
        if asofs:
            probes = spark.createDataFrame(
                [(k, c, ts) for k, (_, q) in enumerate(asofs) for c, ts in q["probes"]],
                "req long, conv_id string, ts_ns long",
            )
            convs = sorted({c for _, q in asofs for c, _ in q["probes"]})
            pts = unpack_blocks(self.blocks.where(F.col("conv_id").isin(convs)), KEYS, v0="v0", v1="v1")
            ref = asof_join(
                probes,
                pts.withColumn("_pseq", F.col("ts_ns")),
                on="ts_ns",
                by=["conv_id"],
                seq="_pseq",
                value_cols=["v0", "v1"],
                prefix="m_",
            ).select("req", "conv_id", "ts_ns", "m_ts_ns", "m_v0", "m_v1", "status")
            want: dict = {}
            for r in ref.collect():
                want.setdefault(r["req"], []).append(tuple(r)[1:])
            for k, (op, q) in enumerate(asofs):
                if q["_answer"] != sorted(want.get(k, [])):
                    bad.add(op)
                    msgs.append(f"op {op} asof: {q['rows']} rows differ from asof_join over unpack_blocks")
        # every registry query's row count, in the warm-up and in every op,
        # equals its DuckDB oracle's over the same tables
        oracle = registry.oracle_counts(self.sf_dir)
        for r in [dict(self.warm, op=-1)] + records:
            for n, c in r["counts"].items():
                if c != oracle[n] or c == 0:
                    bad.add(r["op"])
                    msgs.append(f"op {r['op']} {n}: {c} rows, oracle {oracle[n]}")
        bad.discard(-1)
        return bad, msgs

    def _raw_oracle(self, ranges: list[dict]) -> tuple[int, dict, dict]:
        """DuckDB straight over the input parquet: the input row count, each
        conversation's life in 1m buckets, and the turns inside each range
        request's window (by its index)."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads = 2")
            con.execute(
                "CREATE VIEW raw AS SELECT conv_id, epoch_us(date_trunc('minute', ts)) * 1000 AS b "
                f"FROM read_parquet('{self.input}/*.parquet')"
            )
            rows = con.execute("SELECT count(*) FROM raw").fetchone()[0]
            life = {c: (lo, hi) for c, lo, hi in con.execute("SELECT conv_id, min(b), max(b) FROM raw GROUP BY conv_id").fetchall()}
            turns = {}
            if ranges:
                con.register("win", pd.DataFrame(
                    [(k, q["conv"], q["lo"], q["hi"]) for k, q in enumerate(ranges)], columns=["req", "wconv", "lo", "hi"]
                ))
                turns = dict(con.execute(
                    "SELECT req, count(*) FROM raw JOIN win ON wconv = conv_id "
                    "AND b BETWEEN lo AND hi GROUP BY req"
                ).fetchall())
            return rows, life, turns
        finally:
            con.close()

    # -- metrics -------------------------------------------------------

    def _lat(self, records, kind):
        return [q["latency_s"] for r in records if not r["traced"] for q in r["requests"] if q["kind"] == kind]

    def _query_medians(self, records) -> dict:
        rs = [r for r in records if not r["traced"]] or records
        return {n: median([r["query_s"][n] for r in rs]) for n in registry.QUERIES}

    def metrics(self, records: list[dict]) -> dict:
        out = {f"serve_{k}_p50_ms": (median(self._lat(records, k)) * 1e3, "ms") for k in KINDS}
        out["registry_queries_s"] = (sum(self._query_medians(records).values()), "s")
        out["archive_bytes_per_turn"] = (self.archive_bytes / self.rows, "bytes")
        return out

    def layer_metrics(self, records: list[dict]) -> dict:
        return {
            "codec.bytes_per_point": self.bytes_per_point,
            **{f"registry.{n}_s": v for n, v in self._query_medians(records).items()},
        }

    def trace_probe(self, rec: dict, layers: dict) -> dict:
        """Blocks each request decodes (zone-map survivors), counted after
        the op; construction time and jobs per request from the spans."""
        spans = self.ctx.tracer.last_op_spans
        reqs = rec.get("requests", ())
        decoded = 0
        for q in reqs:
            if q["kind"] == "asof":
                decoded += blocks_for_asof(self.blocks, ["conv_id"], self._probes(q), "ts_ns").count()
            else:
                b = self.blocks.where(F.col("conv_id") == q["conv"])
                decoded += blocks_overlapping(b, q["lo"], q["hi"]).count()
        returned = sum(q["rows"] for q in reqs)
        n_req = len(reqs) or 1
        construct = sum(spans.get(n, {}).get("self_ms", 0.0) for n in ("ops.serve.serve_range", "ops.serve.serve_asof"))
        jobs = sum(v["jobs"] for n, v in spans.items() if n.startswith("action.serve_"))
        return {
            **kernels.rates(self.ctx, self.ctx.spark.read.parquet(self.input)),
            "ops.serve.construct_ms": construct / n_req,
            "ops.serve.jobs_per_request": jobs / n_req,
            "ops.serve.blocks_decoded": decoded / n_req,
            "ops.serve.decoded_per_returned": layers.get("codec.unpack.points_decoded", 0.0) / max(1, returned),
        }
