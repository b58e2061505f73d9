#!/usr/bin/env python3
"""graft benchmark: one seeded run of one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <events_olap|catalog_ingest>
      --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (sbt, output
under `.bench_build/`), generates the workload's inputs from the seed,
runs one JVM (set-up, measured window, optional traced window, checks),
compares every checked output with its DuckDB oracle and prints, as the
last line of stdout, one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics. A detail line with the
workload-specific metrics precedes it; the full record, the span file and
the JVM log stay under `.bench_build/results/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("events_olap", "catalog_ingest")
SETUPS = 3

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg: str) -> "None":
    log(msg)
    sys.exit(2)


def wait(p: subprocess.Popen, timeout: float) -> int:
    """Waits for `p`, started in its own session; on timeout kills the whole
    process group (the sbt launcher script forks a JVM) and waits again."""
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1


def sources_digest() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*")) + sorted((HERE / "src").rglob("*")) + \
        [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compiles engine + benchmark once per source state; returns the
    runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    digest = sources_digest()
    stamp, cp_file = BUILD / "build.sha256", BUILD / "classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.override.build.repos=true",
           "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={BUILD / 'sbt-global'}",
           "compile", "export Runtime/fullClasspath"]
    log("building engine and benchmark (sbt compile)")
    build_log = BUILD / "build.log"
    with open(build_log, "w") as lf:
        rc = wait(subprocess.Popen(cmd, cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                   start_new_session=True), 850)
    if rc != 0:
        fail(f"build failed (exit {rc}); see .bench_build/build.log")
    lines = [ln for ln in build_log.read_text().splitlines()
             if ln.startswith("/") and "classes" in ln]
    if not lines:
        fail("build printed no classpath; see .bench_build/build.log")
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1]


def heap() -> str:
    """Half of MemTotal in GiB, clamped to [2, 8] (the tier-1 sizing)."""
    try:
        kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo") if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def loadavg() -> float:
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def quantile(xs: list, q: float) -> float:
    s = sorted(xs)
    if not s:
        return float("nan")
    k = q * (len(s) - 1)
    lo, hi = int(k), min(int(k) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def detail_metrics(workload: str, win: dict) -> dict:
    """The workload-specific end-to-end figures (with sample counts)."""
    recs, wall = [r for r in win["records"] if r["timed"]], win["wall_s"]
    ms = lambda kinds: [r["ms"] for r in recs if r["kind"] in kinds]  # noqa: E731
    d = {"window_s": wall, "ops": len(recs), "cycles": win["cycles"],
         "op_p50_ms": quantile([r["ms"] for r in recs], 0.5)}

    def lat(name: str, xs: list) -> None:
        d[f"{name}_p50_ms"] = quantile(xs, 0.5)
        d[f"{name}_p90_ms"] = quantile(xs, 0.9)
        d[f"{name}_n"] = len(xs)

    if workload == "events_olap":
        q = ms({"dsl", "row"})
        lat("query", q)
        d["queries_per_s"] = len(q) / wall
        s = ms({"stream"})
        d["stream_p50_ms"], d["stream_n"] = quantile(s, 0.5), len(s)
    else:
        lat("commit", ms({"insert", "merge", "delete", "compact"}))
        lat("read", ms({"read", "read_at"}))
        ingested = sum(r["result"][0] for r in recs if r["kind"] == "insert" and not r["error"]) + \
            sum(sum(r["result"]) for r in recs if r["kind"] == "merge" and not r["error"])
        d["rows_ingested_per_s"] = ingested / wall
        d.update({k: win["stats"][k] for k in ("stored_bytes_per_row", "live_rows", "versions")})
    return d


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    load_start = loadavg()
    classpath = build()
    t_built = time.monotonic()

    sys.path.insert(0, str(HERE))
    sys.dont_write_bytecode = True
    import gen
    import oracle

    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out = run_dir / "inputs", run_dir / "out"
    t0 = time.monotonic()
    plan = gen.generate(a.workload, a.seed, inputs)
    (inputs / "plan.json").write_text(json.dumps(plan))
    gen_s = time.monotonic() - t0

    (out / "work" / "tmp").mkdir(parents=True)
    cpus = str(os.cpu_count() or 1)
    jvm = ["java", f"-Xmx{heap()}", "-Xms1g", "-Xmn512m", "-XX:+ExplicitGCInvokesConcurrent",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={out / 'work' / 'tmp'}"]
    for o in JDK17_OPENS:
        jvm += ["--add-opens", f"{o}=ALL-UNNAMED"]
    jvm += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--inputs", str(inputs), "--out", str(out), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--setups", str(SETUPS), "--cpus", cpus]
    jvm_log = out / "jvm.log"
    with open(jvm_log, "w") as lf:
        rc = wait(subprocess.Popen(jvm, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                                   start_new_session=True), 160 - (time.monotonic() - t_built))
    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.copy(jvm_log, results / f"{tag}.jvm.log")
    if rc != 0 or not (out / "results.json").exists():
        tail = jvm_log.read_text()[-3000:]
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"JVM exited {rc} (-1: timed out); log tail:\n{tail}")
    res = json.loads((out / "results.json").read_text())

    # ---- correctness (untimed): oracle compare of every executed op
    check = res["check"]
    windows = [res[k] for k in ("untraced", "traced", "untraced_after") if k in res]
    records = [r for w in windows for r in w["records"]]
    errors = {}
    if a.workload == "catalog_ingest":
        # each window starts from the base rows; the final table is the last window's
        for i, win in enumerate(windows):
            final = out / "checks" / "final_table" if i == len(windows) - 1 else None
            errors.update({k: v for k, v in oracle.replay_catalog(
                inputs, win["records"], final).items() if v})
        if check.get("final_error"):
            errors["final_table"] = check["final_error"]
        bad_ops = {r["id"] for r in records if errors.get(r["id"]) or r["error"]}
    else:
        verdict = oracle.check_outputs(inputs, out / "checks", check["manifest"])
        errors = {k: v for k, v in verdict.items() if v}
        bad_ops = {r["id"] for r in records if r["error"] or errors.get(r["instance"])}
    for r in records:
        if r["error"]:
            errors.setdefault(r["instance"], r["error"])
    if a.trace and any(r["kind"] == "stream" for r in res["traced"]["records"]) \
            and res.get("streaming_events", 0) == 0:
        errors["streaming_progress"] = "no QueryProgressEvent reached the SparkListener"
    attempted, failed = len(records), len(bad_ops)
    correct = not errors

    # ---- metrics
    win = res["untraced"]
    ms = [r["ms"] for r in win["records"] if r["timed"]]
    setup_s = gen_s + res["launch_s"] + statistics.median(res["setup_s_each"]) + res["prime_s"]
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": len(ms) / win["wall_s"],
        "cpu_ms_per_op": win["cpu_s"] * 1000.0 / max(1, len(ms)),
    }
    detail = detail_metrics(a.workload, win)
    detail.update({"failed_ops_ratio": failed / max(1, attempted), "gen_s": gen_s,
                   "peak_rss_mb": res["peak_rss_mb"],
                   "launch_s": res["launch_s"], "setup_s_each": res["setup_s_each"],
                   "prime_s": res["prime_s"],
                   "load_avg_start": load_start, "load_avg_end": loadavg(),
                   "exec_cpu_s": win["cpu_s"], "wall_s": win["wall_s"],
                   "env": res["env"], "errors": errors})
    if a.trace:
        layers = res["layers"]
        names = [m["name"] for m in bench["per_layer"]]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in ((m["name"], m["unit"]) for m in bench["per_layer"])}
        missing = [n for n in names if n not in layers]
        if missing:
            errors["per_layer_missing"] = ",".join(missing)
            correct = False
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}

    shutil.copy(out / "results.json", results / f"{tag}.json")
    if (out / "spans.json").exists():
        shutil.copy(out / "spans.json", results / f"{tag}.spans.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    for k, v in errors.items():
        log(f"FAILED {k}: {v}")
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
