#!/usr/bin/env python3
"""The engine's benchmark: one command, two workloads.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for the full definitions):
  catalog_batch  closed loop over 18 catalog steps (greedy NN, GRINCH,
                 evaluation, near-duplicate and ANN search), sf0.1 shape
  stream_ingest  open-loop parquet arrivals into StreamingClustering.greedyCluster

The command builds the harness from source when the sources changed
(sbt, into perfbench/target), generates the seeded inputs (cached per
seed and size under perfbench/.work), runs the workload in one JVM,
checks outputs against the DuckDB oracles, and prints one JSON line last:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. It exits non-zero on a wrong output, and with code 3 (no
result) when the stream generator fell behind its own schedule.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("catalog_batch", "stream_ingest")
# catalog_batch reads the sf0.1 test-data shape; --smoke the sf0.001 shape
ROWS = {"documents": 5_000, "embeddings": 2_000}
SMOKE_ROWS = {"documents": 500, "embeddings": 500}
# The oracle check set: fixed seed, small enough for the recursive-CTE
# oracles, large enough to hold the GRINCH steps' fixed vec_id slices and
# a few near-duplicate groups.
CHECK_SEED = 0
CHECK_ROWS = {"documents": 400, "embeddings": 300}
# Steps whose check output must hold rows: an empty candidate or
# duplicate set would pass its oracle without testing the matching.
NONEMPTY_CHECKS = ("d5b_jaccard_capped", "d7_cc_dedup")
# stream_ingest schedule: the reference rate (rows/s) sits below the
# drain rate the burst measures; see README.md for the calibration.
STREAM = {"rate": 1000, "interval_ms": 100, "lead_in_ms": 2000, "burst": 20_000, "bursts": 3,
          "gap_ms": 1500}
SMOKE_STREAM = {"rate": 200, "interval_ms": 100, "lead_in_ms": 500, "burst": 1_000, "bursts": 1,
                "gap_ms": 500}
STREAM_PREFIX_ROWS = 300   # must match StreamIngest.prefixRows
MAX_GEN_LAG_MS = 100.0     # a later publish marks the run invalid

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

END_TO_END = {"setup_s": "s", "pass_p50_s": "s", "rows_per_s": "1/s",
              "lat_p50_ms": "ms", "lat_p99_ms": "ms"}


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host() -> dict:
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1])
    return {"cpus": len(os.sched_getaffinity(0)), "mem_total_kb": mem}


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build() -> str:
    """Compile when any source changed; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ROOT}/src/main/scala")
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed, see {WORK}/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read()


# ---------------------------------------------------------------- inputs

def dataset(name: str, seed: int, rows: dict) -> str:
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    key = "-".join(f"{t}{n}" for t, n in sorted(rows.items()))
    path = os.path.join(WORK, "data", f"{name}-seed{seed}-{key}-{version}")
    if not os.path.exists(os.path.join(path, "manifest.json")):
        shutil.rmtree(path + ".tmp", ignore_errors=True)
        gen.generate(path, seed, rows)
    return path


# ---------------------------------------------------------------- engine

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm(cp: str, run_dir: str, args: list) -> subprocess.Popen:
    heap_gb = max(2, min(3, host()["mem_total_kb"] // (4 << 20)))
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd += [f"-Xmx{heap_gb}g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main"] + args
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(host()["cpus"]), TMPDIR=f"{run_dir}/tmp")
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    return subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)


def stop(p: subprocess.Popen):
    if p is not None and p.poll() is None:
        p.kill()
    if p is not None:
        p.wait()


def wait(p: subprocess.Popen, deadline: float, what: str, run_dir: str):
    try:
        p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop(p)
        fail(f"{what} timed out, see {run_dir}/jvm.log")
    if p.returncode != 0:
        fail(f"{what} exited with {p.returncode}, see {run_dir}/jvm.log")


def run_batch(a, cp: str, run_dir: str, deadline: float):
    shape = SMOKE_ROWS if a.smoke else ROWS
    data = dataset(a.workload, a.seed, shape)
    check = dataset("check", CHECK_SEED, CHECK_ROWS)
    rows = sum(shape.values())
    p = jvm(cp, run_dir, ["--workload", a.workload, "--data", data, "--check-data", check,
                          "--input-rows", str(rows),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--out", run_dir, "--work", run_dir])
    try:
        wait(p, deadline, "engine", run_dir)
    finally:
        stop(p)
    checks = oracle.check(run_dir, check, os.path.join(WORK, "oracle"), nonempty=NONEMPTY_CHECKS)
    return data, checks, {}


def run_stream(a, cp: str, run_dir: str, deadline: float):
    sched = SMOKE_STREAM if a.smoke else STREAM
    n = (sched["rate"] * (a.seconds * 1000 + sched["lead_in_ms"]) // 1000
         + sched["burst"] * sched["bursts"])
    data = dataset("stream", a.seed, {"embeddings": n})
    sdir = os.path.join(run_dir, "stream")
    os.makedirs(os.path.join(sdir, "watch"))
    feeder = [sys.executable, os.path.join(BENCH, "feeder.py")]
    subprocess.run(feeder + ["warm", data, os.path.join(sdir, "warm-staging")],
                   check=True, timeout=60)
    p = jvm(cp, run_dir, ["--workload", a.workload, "--data", data, "--stream-dir", sdir,
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--out", run_dir, "--work", run_dir])
    f = None
    try:
        while not os.path.exists(os.path.join(sdir, "ready")):
            if p.poll() is not None or time.time() > deadline:
                break
            time.sleep(0.05)
        if os.path.exists(os.path.join(sdir, "ready")):
            f = subprocess.Popen(feeder + [
                "run", data, sdir, "--rate", str(sched["rate"]), "--seconds", str(a.seconds),
                "--lead-in-ms", str(sched["lead_in_ms"]),
                "--interval-ms", str(sched["interval_ms"]), "--burst", str(sched["burst"]),
                "--bursts", str(sched["bursts"]), "--gap-ms", str(sched["gap_ms"])],
                stdin=subprocess.DEVNULL)
            f.wait(timeout=max(1.0, deadline - time.time()))
        wait(p, deadline, "engine", run_dir)
    finally:
        stop(f)
        stop(p)
    if not os.path.exists(os.path.join(sdir, "published.txt")):
        fail(f"the stream generator did not finish, see {run_dir}/jvm.log")
    with open(os.path.join(sdir, "published.txt")) as fh:
        lags = [float(line.split()[2]) for line in fh if line.strip()]
    if max(lags) > MAX_GEN_LAG_MS:
        fail(f"invalid run: the generator published {max(lags):.0f} ms behind schedule "
             f"(limit {MAX_GEN_LAG_MS:.0f} ms); this is not a program measurement", 3)
    checks = oracle.check(run_dir, data, os.path.join(WORK, "oracle"),
                          where={"embeddings": f"vec_id < {STREAM_PREFIX_ROWS}"})
    return data, checks, {"gen_lag_ms": max(lags)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="the sf0.001 shape and a short stream schedule (perfbench/test/smoke.py)")
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + JVM_TIMEOUT_S

    cp = build()
    deadline = max(deadline, time.time() + JVM_TIMEOUT_S - 30)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    runner = run_stream if a.workload == "stream_ingest" else run_batch
    data, checks, extra = runner(a, cp, run_dir, deadline)
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(data, "manifest.json")) as f:
        manifest = json.load(f)

    check_errors = [e for e in checks.values() if e]
    attempted = int(res["attempted"]) + len(checks)
    failed = int(res["failed"]) + len(check_errors)
    errors = res["errors"] + check_errors
    correct = failed == 0

    for s in res.get("steps", []):
        print("step " + json.dumps(s, sort_keys=True))
    summary = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "host": host(), "inputs": manifest["tables"], "fail_ratio": failed / attempted,
               "oracle_checks": {k: ("ok" if v is None else v) for k, v in checks.items()},
               "detail": dict(res["detail"], **extra), "errors": errors}
    print("summary " + json.dumps(summary, sort_keys=True))
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(res["layer"].items())}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(dict(summary, metrics=metrics), f, indent=1, sort_keys=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


def layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_ms"):
        return "ms"
    if "bytes" in leaf:
        return "bytes"
    if leaf == "verify_yield":
        return "ratio"
    if leaf.endswith("_mb"):
        return "MB"
    return "count"


if __name__ == "__main__":
    main()
