#!/usr/bin/env python3
"""Per-op Spark job table of one traced perfbench run.

Usage:
  python3 tools/span_ops.py [SPANS_JSON | WORKLOAD SEED]

Reads `.bench_build/results/<workload>-seed<N>-trace1.spans.json` (the span
file `perfbench/run.py --trace 1` keeps; default: catalog_ingest, seed 1)
and prints one line per op of the traced window, in run order: the op id,
its kind, its wall ms, the Spark jobs it ran and their summed wall ms. A
summary per kind follows (op count, median wall ms, min/max jobs per op)
and the window's total job count, which is the `spark.jobs` metric.

A span is {"id", "parent", "name", "op", "start_us", "end_us"}; an op's
root span is named "op/<kind>" and has parent -1, and each Spark job is a
"spark.job" span tagged with the op it ran under.
"""
import json
import statistics
import sys
from collections import defaultdict


def load(argv):
    if len(argv) == 2:
        path = argv[1]
    else:
        workload, seed = (argv[1], argv[2]) if len(argv) > 2 else ("catalog_ingest", "1")
        path = f".bench_build/results/{workload}-seed{seed}-trace1.spans.json"
    with open(path) as f:
        return path, json.load(f)


def ms(span):
    return (span["end_us"] - span["start_us"]) / 1000.0


def main(argv):
    path, spans = load(argv)
    roots = sorted((s for s in spans if s["parent"] == -1 and s["name"].startswith("op/")),
                   key=lambda s: s["start_us"])
    jobs = defaultdict(list)
    for s in spans:
        if s["name"] == "spark.job":
            jobs[s["op"]].append(ms(s))
    print(f"# {path}")
    print(f"{'op':<10} {'kind':<10} {'wall_ms':>9} {'jobs':>5} {'job_ms':>9}")
    by_kind = defaultdict(list)
    for r in roots:
        kind = r["name"][len("op/"):]
        js = jobs.get(r["op"], [])
        by_kind[kind].append((ms(r), len(js)))
        print(f"{r['op']:<10} {kind:<10} {ms(r):>9.1f} {len(js):>5} {sum(js):>9.1f}")
    print()
    print(f"{'kind':<10} {'ops':>4} {'p50_ms':>9} {'jobs':>7}")
    for kind in sorted(by_kind):
        walls = [w for w, _ in by_kind[kind]]
        counts = [n for _, n in by_kind[kind]]
        lo, hi = min(counts), max(counts)
        span = f"{lo}" if lo == hi else f"{lo}-{hi}"
        print(f"{kind:<10} {len(walls):>4} {statistics.median(walls):>9.1f} {span:>7}")
    print(f"\nspark.jobs {sum(len(v) for v in jobs.values())}")


if __name__ == "__main__":
    main(sys.argv)
