#!/usr/bin/env python3
"""Runs the benchmark on several seeds and summarises every metric.

Usage (from the root of a checkout):
  python3 perfbench/stats.py --workloads events_olap,catalog_ingest
      --seeds 101-110 [--trace 0] [--out perfbench/baseline/<name>.json]

For each workload and metric it reports the median, the quartiles
(`statistics.quantiles(values, n=4)`) and the spread (Q3 - Q1) / median,
next to the metric's bound from BENCHMARK.json. The workload-specific
detail figures (query/commit/read percentiles, rows/s, ...) are summarised
the same way.
"""
import argparse
import json
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summary(values: list) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {"host": {"machine": platform.machine(), "cpus": __import__("os").cpu_count(),
                       "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())},
              "run_seconds": bench["run_seconds"], "trace": a.trace, "workloads": {}}
    for w in a.workloads.split(","):
        metrics, detail, runs = {}, {}, []
        for s in seeds(a.seeds):
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                runs.append({"seed": s, "exit": p.returncode, "wall_s": wall})
                continue
            res = json.loads(lines[-1])
            runs.append({"seed": s, "wall_s": wall, "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"]})
            for k, v in res["metrics"].items():
                metrics.setdefault(k, []).append(v["value"])
            for line in lines[:-1]:
                if line.startswith('{"detail"'):
                    for k, v in json.loads(line)["detail"].items():
                        if isinstance(v, (int, float)) and not isinstance(v, bool):
                            detail.setdefault(k, []).append(v)
            print(f"{w} seed {s}: {wall:.0f} s, correct={res['correct']} "
                  f"{ {k: round(v['value'], 3) for k, v in res['metrics'].items()} }", flush=True)
        report["workloads"][w] = {
            "runs": runs,
            "metrics": {k: dict(summary(v), bound=bounds.get(k)) for k, v in metrics.items()},
            "detail": {k: summary(v) for k, v in detail.items()},
        }
        for k, v in report["workloads"][w]["metrics"].items():
            spread = "n/a" if v["spread"] is None else f"{v['spread']:.3f}"
            print(f"  {w:15s} {k:36s} median {v['median']:.4g}  q1 {v['q1']:.4g}  "
                  f"q3 {v['q3']:.4g}  spread {spread}  bound {v['bound']}", flush=True)
    if a.out:
        Path(a.out).parent.mkdir(parents=True, exist_ok=True)
        Path(a.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
