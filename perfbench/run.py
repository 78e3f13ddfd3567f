#!/usr/bin/env python3
"""Benchmark runner for the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --census [--sf 0.1] [--seed 0] [--only q_a,q_b]

Run from the repository root. The first run builds the harness (and the
engine it compiles from source) with sbt; later runs reuse the build until a
source file changes. Each run generates its inputs from --seed, launches one
JVM (`local[nproc]`), checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer ones.
See perfbench/README.md.
"""
import argparse
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HARNESS = BENCH / "harness"
CLASSPATH = HARNESS / "target" / "classpath.txt"
WORK = BENCH / ".work"
DEADLINE_S = 175.0
BUILD_TIMEOUT_S = 850.0

sys.path.insert(0, str(BENCH))
import check  # noqa: E402
import datagen  # noqa: E402

# Batch workloads: their query sets, in run order. README.md says why each
# is a subset of the workload's full list.
WORKLOADS = {
    "llm_curation": [
        "q_set_cover", "q_dedup_clusters", "q_knn_ivfpq", "q_dup_spans",
        "q_stream_table_feed", "q_delete_where"],
    "warehouse_sql": [
        "q_revenue_by_nation", "q_sessionize", "q_asof_nearest", "q_gap_fill_locf",
        "q_weighted_median", "q_countmin_tokens", "q_mad_outliers", "q_bloom_pruned_join"],
}
STREAM_WORKLOADS = {"river_stream"}

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
               "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


CHILDREN = []


def _stop_children(signum, _frame):
    """Stop every process this runner started, wait for them, then exit."""
    for p in CHILDREN:
        if p.poll() is None:
            p.kill()
            p.wait()
    sys.exit(128 + signum)


def run_child(cmd, cwd, env, out, timeout):
    """Run a child process; returns its exit code, or None on timeout (the
    child is then killed and reaped)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT)
    CHILDREN.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return None
    finally:
        CHILDREN.remove(p)


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg):
    log("ERROR:", msg)
    sys.exit(2)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if p.is_file():
            newest = max(newest, p.stat().st_mtime)
        elif p.is_dir():
            for f in p.rglob("*"):
                if f.is_file() and "target" not in f.relative_to(p).parts:
                    newest = max(newest, f.stat().st_mtime)
    return newest


def build(t_start):
    """Compile the engine and the harness once; reuse until a source changes."""
    engine = ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala"
    if not engine.is_file() or not (ROOT / "build.sbt").is_file():
        fail(f"no engine sources under {ROOT} (expected src/main/scala and build.sbt)")
    sources = [ROOT / "src" / "main", ROOT / "build.sbt", ROOT / "project" / "build.properties",
               HARNESS / "src", HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    if CLASSPATH.is_file() and CLASSPATH.stat().st_mtime >= newest_mtime(sources):
        return CLASSPATH.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # keep sbt's global settings and server socket inside the checkout
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       f" -Dsbt.global.base={WORK / 'sbt-global'} -Dsbt.server.autostart=false")
    log("building harness and engine with sbt (first run in this checkout)")
    WORK.mkdir(parents=True, exist_ok=True)
    build_log = WORK / "build.log"
    with open(build_log, "w") as out:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       HARNESS, env, out, max(30.0, BUILD_TIMEOUT_S - (time.time() - t_start)))
    if rc != 0 or not CLASSPATH.is_file():
        sys.stderr.write(build_log.read_text(errors="replace")[-6000:])
        fail("sbt build timed out" if rc is None else "sbt build failed")
    return CLASSPATH.read_text().strip()


def java_cmd(classpath, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java:
        fail("java not found (set JAVA_HOME or put java on PATH)")
    opens = []
    for p in JDK17_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return [java, *opens, "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main"]


def run_jvm(cmd, work, deadline):
    """Run the harness JVM with every file it writes inside `work`."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    with open(work / "jvm.log", "w") as out:
        rc = run_child(cmd, work, env, out, max(5.0, deadline - time.time()))
    if rc is None:
        fail("harness JVM exceeded the run deadline")
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(l for l in tail if not l.lstrip().startswith("at ")) + "\n")
        fail(f"harness JVM exited with {rc}")


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def batch_run(args, classpath, work, deadline):
    names = WORKLOADS[args.workload]
    data = work / "data"
    datagen.generate(str(data), args.sf, args.seed)
    res_path = work / "result.json"
    cmd = java_cmd(classpath, work) + [
        "batch", "--workload", args.workload, "--queries", ",".join(names),
        "--data", str(data), "--out", str(work / "out"), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--spans", str(work / "spans.jsonl"),
        "--result", str(res_path)]
    run_jvm(cmd, work, deadline)
    res = json.loads(res_path.read_text())
    runs = res["queries"]
    expect = json.loads(Path(args.expect).read_text()) if args.expect else {}
    problems = check.check_batch(runs, res["oracle_sql"], str(data),
                                 expect, f"sf{args.sf}/seed{args.seed}")
    for name, probs in problems.items():
        for p in probs:
            log(f"check {name}: {p}")
    if args.record:
        fps = json.loads(Path(args.record).read_text()) if Path(args.record).is_file() else {}
        fps.update(check.fingerprints(runs, f"sf{args.sf}/seed{args.seed}"))
        Path(args.record).write_text(json.dumps(fps, indent=1, sort_keys=True) + "\n")
    # an execution that returned exactly its first written result inherits
    # that result's verdict
    first_checked = {}
    for r in runs:
        if r["output"]:
            first_checked.setdefault(r["name"], f"{r['name']}#{r['pass']}")
    failed = sum(1 for r in runs if r["error"] or problems.get(
        f"{r['name']}#{r['pass']}" if r["output"] else first_checked.get(r["name"], "")))
    passes = sorted({r["pass"] for r in runs})
    pass_sums = [sum(r["build_s"] + r["plan_s"] + r["exec_s"] for r in runs if r["pass"] == p)
                 for p in passes]
    per_query = [median([r["build_s"] + r["plan_s"] + r["exec_s"]
                         for r in runs if r["name"] == n]) for n in names]
    e2e = {
        "setup_s": median(res["setup_s"]),
        "suite_s": median(pass_sums),
        "query_geomean_s": geomean(per_query),
    }
    layers = dict(res.get("layers", {}))
    layers.update(host_layers(res, e2e))
    log(f"{args.workload}: {len(passes)} pass(es), pass sums {[round(x, 3) for x in pass_sums]}")
    log("per query (build, plan, exec): " + ", ".join(
        f"{r['name']}#{r['pass']} {r['build_s']:.2f}/{r['plan_s']:.2f}/{r['exec_s']:.2f}" for r in runs))
    return len(runs), failed, e2e, layers


def river_run(args, classpath, work, deadline):
    res_path = work / "result.json"
    cmd = java_cmd(classpath, work) + [
        "river", "--seed", str(args.seed), "--out", str(work / "river"),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--spans", str(work / "spans.jsonl"), "--result", str(res_path)]
    run_jvm(cmd, work, deadline)
    res = json.loads(res_path.read_text())
    for f in res["failures"]:
        log("check river:", f)
    c = res["checks"]
    attempted = 2 * res["offered_rows"]
    failed = (c.get("bronze_missing", 0) + c.get("bronze_duplicates", 0)
              + c.get("gold_missing", 0) + c.get("gold_unexpected", 0))
    land = {k: v for k, v in res["landing_s"].items() if v is not None}
    if (res["failures"] or len(land) < 2) and failed == 0:
        failed = attempted
    land = land or {"none": 0.0}
    e2e = {
        "setup_s": median(res["setup_s"]),
        "suite_s": max(land.values()),
        "query_geomean_s": geomean(list(land.values())),
    }
    layers = dict(res.get("layers", {}))
    layers.update(host_layers(res, e2e))
    log(f"river_stream: landing {land}, latency {res['latency']}, "
        f"generator late {res['generator_late_ms']} ms, rung valid {res['rung_valid']}")
    invalid = [r for r, ok in res["rung_valid"].items() if not ok]
    if invalid:
        fail(f"rung(s) {invalid} invalid in every attempt: the generator ran more than one "
             "tick late, so the host could not hold the schedule; no result is reported")
    return attempted, failed, e2e, layers


def host_layers(res, e2e):
    return {"host.probe_s": res.get("host_probe_s", 0.0), "trace.suite_s": e2e["suite_s"],
            "memory.peak_rss_mb": res["peak_rss_mb"]}


def load_config():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def census(args, classpath):
    work = WORK / f"census-sf{args.sf}-seed{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    data = work / "data"
    datagen.generate(str(data), args.sf, args.seed)
    out = Path(args.census_out or (WORK / f"census-sf{args.sf}.json")).resolve()
    cmd = java_cmd(classpath, work) + ["census", "--data", str(data), "--result", str(out)]
    if args.only:
        cmd += ["--only", args.only]
    run_jvm(cmd, work, time.time() + 36000)
    shutil.rmtree(work, ignore_errors=True)
    write_census(out, args.sf, args.seed)
    log(f"census written to {out}")


def write_census(path, sf, seed):
    """Describe the inputs by scale and seed, and drop machine paths from
    error messages, so the census file reads the same on any host."""
    c = json.loads(path.read_text())
    c["data"] = {"sf": sf, "seed": seed}
    for q in c["queries"]:
        if q["error"]:
            q["error"] = re.sub(r"(file:)?/[^\s,;]+", "<path>", q["error"])
    path.write_text(json.dumps(c, indent=1) + "\n")


def main():
    t_start = time.time()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.01, help="batch input scale factor")
    ap.add_argument("--expect", help="JSON of expected output fingerprints to check")
    ap.add_argument("--record", help="add this run's output fingerprints to a JSON file")
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    ap.add_argument("--census", action="store_true", help="traced pass over every query")
    ap.add_argument("--census-out")
    ap.add_argument("--only", help="census: comma-separated query names")
    args = ap.parse_args()

    classpath = build(t_start)
    if args.census:
        census(args, classpath)
        return
    cfg = load_config()
    if args.workload not in WORKLOADS and args.workload not in STREAM_WORKLOADS:
        fail(f"unknown workload {args.workload}")
    deadline = t_start + (BUILD_TIMEOUT_S if time.time() - t_start > 60 else DEADLINE_S)
    work = WORK / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if args.workload in STREAM_WORKLOADS:
            attempted, failed, e2e, layers = river_run(args, classpath, work, deadline)
        else:
            attempted, failed, e2e, layers = batch_run(args, classpath, work, deadline)
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
    layers["failed_ratio"] = failed / max(attempted, 1)
    wanted = cfg["per_layer"] if args.trace else cfg["end_to_end"]
    source = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"]) or 0.0), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
