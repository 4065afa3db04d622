"""Seeded benchmark of the tmframe_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload on local[4] from this process with one closed-loop
client: set up (session, seeded inputs, warm-up), then ops back to
back until ``--seconds`` have passed, then the output checks. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``. The lines before it print every
metric the workload measures, by name with its unit, and the host stamp.
The full result (and, traced, the spans and the per-layer table) is
written under ``.perfbench/results/``. Exits 1 when a check fails, 2 when
the engine sources are missing.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("rollup_cascade", "ingest_maintain", "archive_query")


def _load_workload(name: str):
    if name == "rollup_cascade":
        from perfbench.cascade import RollupCascade as W
    elif name == "ingest_maintain":
        from perfbench.ingest import IngestMaintain as W
    else:
        from perfbench.serve import ArchiveQuery as W
    return W


def _declared(kind: str) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def _stop_gateway() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "tmframe_spark")):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import harness as H

    ctx = H.Context(ROOT, args.workload, args.seed)
    rss = H.RssSampler()
    rss.start()
    try:
        return _run(args, ctx, rss)
    finally:
        ctx.close()
        _stop_gateway()
        rss.stop()


def _run(args, ctx, rss) -> int:
    from perfbench import harness as H
    from perfbench.spans import Tracer, dump_spans, span_table

    t0 = time.perf_counter()
    ctx.start_spark()
    session_start_s = time.perf_counter() - t0
    ctx.tracer = Tracer(ctx.spark if args.trace else None)
    W = _load_workload(args.workload)
    wl = W(ctx)
    stamp = H.host_stamp(ROOT, args.seed, args.workload, wl.params)
    H.log(f"[perfbench] {args.workload} seed={args.seed} nproc={stamp['nproc']} session {session_start_s:.2f}s")

    setup_layers = wl.setup()
    t0 = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_PROCESS
    H.log(f"[perfbench] setup {setup_s:.2f}s (warm-up {warmup_s:.2f}s)")

    records, op_layers, walls = [], [], []
    failed_ops: set[int] = set()
    cpu0 = H.cpu_times()
    deadline = time.perf_counter() + args.seconds
    i = 0
    # a traced run times untraced, traced, untraced ops: the first warms,
    # and the traced op has an untraced op after it to compare with
    min_ops = 3 if args.trace else 1
    while i < min_ops or time.perf_counter() < deadline:
        # traced runs alternate untraced and traced ops, so the same run
        # gives the tracing overhead
        traced = bool(args.trace) and i % 2 == 1
        if hasattr(wl, "prepare"):
            t_prep = time.perf_counter()
            wl.prepare(i)  # outside the op's wall and the timed window
            deadline += time.perf_counter() - t_prep
        ctx.tracer.begin_op(i, traced)
        cpu_op = H.tree_cpu_s()
        t_op = time.perf_counter()
        try:
            with ctx.tracer.span(f"op.{args.workload}"):
                rec = wl.op(i)
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            H.log(f"[perfbench] op {i} failed:\n{traceback.format_exc()}")
            rec = {"error": True}
            failed_ops.add(i)
        wall = time.perf_counter() - t_op
        rec.update(op=i, wall_s=wall, cpu_s=H.tree_cpu_s() - cpu_op, traced=traced)
        records.append(rec)
        walls.append(wall)
        if traced:
            layers = dict(ctx.tracer.finish_op())
            layers.update(wl.trace_probe(rec, layers))
            op_layers.append(layers)
        i += 1
    timed_s = sum(walls)
    stamp["cpu_steal_share"] = H.steal_share(cpu0, H.cpu_times())

    t0 = time.perf_counter()
    bad_ops, messages = wl.check([r for r in records if not r.get("error")])
    H.log(f"[perfbench] {len(records)} ops in {timed_s:.2f}s; checks {time.perf_counter() - t0:.2f}s")
    failed_ops |= bad_ops
    if messages and not bad_ops:
        failed_ops.add(-1)  # a run-level check failed: count it once
    for m in messages:
        H.log(f"[perfbench] CHECK FAILED: {m}")
    attempted = len(records)
    failed = min(len(failed_ops), attempted)
    ok_records = [r for r in records if not r.get("error") and r["op"] not in failed_ops]

    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (H.median([r["wall_s"] for r in records if not r["traced"]]) * 1e3, "ms"),
        "op_cpu_p50_s": (H.median([r["cpu_s"] for r in records if not r["traced"]]), "s"),
        "peak_rss_mb": (rss.peak_kb / 1024.0, "MB"),
        "ops_failed_frac": (failed / attempted, "ratio"),
    }
    e2e.update(wl.metrics(ok_records))
    layers = {
        "session.start_s": session_start_s,
        "session.warmup_s": warmup_s,
        **setup_layers,
        **wl.layer_metrics(ok_records),
    }
    for k in sorted({k for d in op_layers for k in d}):
        layers[k] = H.median([d.get(k, 0.0) for d in op_layers])

    trace_report = None
    if args.trace:
        trace_report = _trace_report(records, span_table(ctx.tracer.spans), f"op.{args.workload}", H)
        layers.update(
            {
                "trace.residual_ms": trace_report["residual_ms"],
                "trace.overhead_ms": trace_report["overhead_ms"],
            }
        )

    correct = not messages and not failed_ops
    result = {
        "stamp": stamp,
        "ops": attempted,
        "ops_failed": failed,
        "timed_s": timed_s,
        "check_failures": messages,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "layers": layers,
        "records": [{k: v for k, v in r.items() if not k.startswith("_")} for r in records],
    }
    _write_result(args, result, trace_report, ctx.tracer.spans, dump_spans)

    for k, (v, u) in sorted(e2e.items()):
        print(f"{k:28s} {v:16.4f} {u}")
    if args.trace:
        for k, v in sorted(layers.items()):
            print(f"  {k:40s} {v:16.4f}")
        _print_trace_table(trace_report)
    print(json.dumps({"stamp": stamp}))

    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in _declared(kind):
        if kind == "end_to_end":
            if m["name"] not in e2e:
                continue  # a workload outside BENCHMARK.json's list
            value = e2e[m["name"]][0]
        else:
            value = float(layers.get(m["name"], 0.0))
            value = value if math.isfinite(value) else 0.0  # a layer this run never reached
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _trace_report(records, table: dict, root: str, H) -> dict:
    """Per-layer table from the spans of the traced ops, reconciled with
    the op walls. The residual is traced op wall minus the summed self time
    of the layer spans (every span but the op's root): the time no layer
    span covers. The overhead is the median, over traced ops, of the op's
    wall minus that of the untraced op after it."""
    traced = [r for r in records if r["traced"]]
    layer_self_ms = sum(row["self_ms"] for name, row in table.items() if name != root)
    wall_ms = sum(r["wall_s"] for r in traced) * 1e3
    # the first op of a run is still markedly slower than the rest, so a
    # traced op is compared with the untraced op right after it; ops still
    # speed up a little, which biases this toward overstating the overhead
    overhead = H.median(
        [r["wall_s"] - records[k + 1]["wall_s"] for k, r in enumerate(records[:-1]) if r["traced"]]
    ) * 1e3
    return {
        "traced_ops": len(traced),
        "traced_wall_ms": wall_ms,
        "span_self_ms": layer_self_ms,
        "residual_ms": (wall_ms - layer_self_ms) / max(1, len(traced)),
        "overhead_ms": overhead,
        "spans": table,
    }


def _print_trace_table(rep: dict) -> None:
    print(f"per-layer span table over {rep['traced_ops']} traced ops (ms per traced op)")
    n = max(1, rep["traced_ops"])
    print(f"  {'span':44s} {'calls':>6s} {'total':>10s} {'self':>10s} {'queries':>8s} {'jobs':>6s}")
    for name, row in sorted(rep["spans"].items(), key=lambda kv: -kv[1]["self_ms"]):
        print(
            f"  {name:44s} {row['count'] / n:6.1f} {row['total_ms'] / n:10.1f} "
            f"{row['self_ms'] / n:10.1f} {row['queries'] / n:8.1f} {row['jobs'] / n:6.1f}"
        )
    print(
        f"  layer spans' summed self time {rep['span_self_ms'] / n:.1f} ms/op vs wall "
        f"{rep['traced_wall_ms'] / n:.1f} ms/op: residual (outside every layer span) "
        f"{rep['residual_ms']:.1f} ms/op; tracing overhead {rep['overhead_ms']:.1f} ms/op"
    )


def _write_result(args, result, trace_report, spans, dump_spans) -> None:
    out = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}"
    with open(os.path.join(out, stem + ".json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    if trace_report is not None:
        with open(os.path.join(out, stem + ".trace.json"), "w") as f:
            json.dump({"table": trace_report, "spans": dump_spans(spans)}, f, indent=1, default=str)


if __name__ == "__main__":
    sys.exit(main())
