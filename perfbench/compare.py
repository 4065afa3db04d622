"""Compare benchmark results of two commits.

    python3 perfbench/compare.py --base A1.json A2.json ... --new B1.json B2.json ...

Each file is a result written by run.py under .perfbench/results/. Prints,
per end-to-end metric, each side's median and quartiles and the change of
the medians. Refuses results of different workloads, core counts, Spark
masters or shuffle-partition settings: numbers from different hosts do not
compare.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys

STAMP_KEYS = ("workload", "nproc", "spark_master", "spark.sql.shuffle.partitions", "workload_params")


def _load(paths):
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def _quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", nargs="+", required=True)
    p.add_argument("--new", nargs="+", required=True)
    args = p.parse_args(argv)
    base, new = _load(args.base), _load(args.new)
    stamps = {json.dumps({k: r["stamp"].get(k) for k in STAMP_KEYS}, sort_keys=True) for r in base + new}
    if len(stamps) > 1:
        print("refusing to compare results taken under different settings:", file=sys.stderr)
        for s in sorted(stamps):
            print(f"  {s}", file=sys.stderr)
        return 2
    names = sorted(set().union(*(r["end_to_end"] for r in base + new)))
    print(f"{'metric':28s} {'unit':10s} {'base q1/med/q3':>32s} {'new q1/med/q3':>32s} {'change':>8s}")
    for n in names:
        b = [r["end_to_end"][n]["value"] for r in base if n in r["end_to_end"]]
        w = [r["end_to_end"][n]["value"] for r in new if n in r["end_to_end"]]
        if not b or not w:
            continue
        unit = (base + new)[0]["end_to_end"].get(n, {}).get("unit", "")
        bq, wq = _quartiles(b), _quartiles(w)
        change = (wq[1] - bq[1]) / bq[1] * 100 if bq[1] else float("nan")
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        print(f"{n:28s} {unit:10s} {fmt(bq):>32s} {fmt(wq):>32s} {change:+7.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main())
