#!/usr/bin/env python3
"""graft benchmark: one workload run, one result line.

Usage (from the root of a checkout):

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: warehouse_queries, review_etl (see perfbench/METRICS.md). The script builds the benchmark package (graft's own
sources plus perfbench/src) with sbt when the sources changed, generates the
seeded inputs, runs the workload in a fresh JVM with an explicit Spark
config, checks the outputs and prints, as its last line, one JSON object
with the keys correct, attempted, failed and metrics. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones; the traced run also keeps its spans under perfbench/traces/.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "graftbench.stamp")
CLASSPATH = os.path.join(TARGET, "graftbench.classpath")
JVM_LIMIT_S = 170
HEAP = "3g"

# Workload sizes. warehouse_queries reads a fixed corpus (generator seed 42,
# sf 0.01) so its query results can be pinned; --seed orders the queries.
WAREHOUSE_SF = 0.01
WAREHOUSE_SEED = 42
# review_etl offers RATE_PER_S reviews a second with +-JITTER on each gap,
# the reference producer's default pacing, released as one file every
# INTERVAL_S seconds, after a closed-loop ramp of PREROLL_FILES files that
# is not measured
RATE_PER_S = 100
JITTER = 0.5
INTERVAL_S = 2.5
PREROLL_FILES = 5

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    pats = [os.path.join(ROOT, "src", "main", "**", "*"),
            os.path.join(BENCH, "src", "**", "*.scala"),
            os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(p, recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def tree_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    digest = tree_hash()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as g:
                    return g.read().strip()
    log("building the benchmark package with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    # `export` prints the classpath as a bare line (no log prefix)
    cps = [l.strip() for l in proc.stdout.splitlines()
           if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    sys.stderr.write("\n".join(l for l in proc.stdout.splitlines()[-40:]
                                if l.strip() not in cps) + "\n")
    if proc.returncode != 0:
        fail("sbt build failed", 3)
    if not cps:
        fail("could not read the classpath from sbt", 3)
    cp = cps[-1]
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(digest)
    return cp


def stage_inputs(workload, seed, seconds, work):
    """Generate the run's inputs; returns the directory the JVM reads."""
    if workload == "warehouse_queries":
        with open(gen.__file__, "rb") as f:
            key = hashlib.sha256(f.read()).hexdigest()[:16]
        corpus = os.path.join(BENCH, ".cache", f"warehouse-{key}")
        if not os.path.isdir(corpus):
            for old in glob.glob(os.path.join(BENCH, ".cache", "warehouse-*")):
                shutil.rmtree(old, ignore_errors=True)
            tmp = f"{corpus}.tmp{os.getpid()}"
            gen.warehouse(tmp, sf=WAREHOUSE_SF, seed=WAREHOUSE_SEED)
            os.replace(tmp, corpus)
        return corpus
    data = os.path.join(work, "data")
    gen.reviews(data, seed,
                n_files=PREROLL_FILES + max(3, round(seconds / INTERVAL_S)),
                rate=RATE_PER_S, interval_s=INTERVAL_S,
                preroll=PREROLL_FILES, jitter=JITTER)
    return data


def host_stamp():
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) // 1024
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem,
            "heap": HEAP}


def stop_on_signal(proc):
    """Stop the JVM's whole process group if this script is told to stop."""
    def handler(signum, _frame):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise SystemExit(128 + signum)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, handler)


def run_jvm(cp, args, work):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_", "SPARK_LOCAL"))}
    env["GRAFT_INDEX_DIR"] = os.path.join(work, "graft-index")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    stop_on_signal(proc)
    try:
        out, err = proc.communicate(timeout=JVM_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the JVM ran past {JVM_LIMIT_S} s and was stopped", 4)
    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-6000:])
        fail(f"the JVM exited with code {proc.returncode}", 4)
    return json.loads(lines[-1][len("GRAFTBENCH "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["warehouse_queries", "review_etl"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if os.environ.get("SPARK_GRAFT_CONF"):
        fail("SPARK_GRAFT_CONF is set: it would change the measured "
             "configuration; unset it to run the benchmark")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        fail(f"no graft sources under {ROOT}/src: run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    t0 = time.time()
    cp = build()
    build_s = time.time() - t0
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = stage_inputs(a.workload, a.seed, a.seconds, work)
        pins = os.path.join(BENCH, "pins", "warehouse.tsv")
        r = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds),
                         "--trace", str(a.trace), "--work", work,
                         "--data", data, "--pins", pins,
                         "--cpus", str(len(os.sched_getaffinity(0)))], work)
        if a.trace:
            traces = os.path.join(BENCH, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                traces, f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # keep the untraced end-to-end figures, so a traced run of the same
    # workload and seed can report what tracing cost
    results = os.path.join(BENCH, ".cache", "results",
                           f"{a.workload}-seed{a.seed}.json")
    source = tree_hash()
    overhead = {}
    if not a.trace:
        os.makedirs(os.path.dirname(results), exist_ok=True)
        with open(results, "w") as f:
            json.dump({"source": source, "metrics": r["metrics"]}, f)
    elif os.path.isfile(results):
        with open(results) as f:
            base = json.load(f)
        if base["source"] == source:
            overhead = {k: r["metrics"][k] - v
                        for k, v in base["metrics"].items() if k in r["metrics"]}

    measured = r["layers"] if a.trace else r["metrics"]
    metrics, idle = {}, []
    for m in wanted:
        if m["name"] in measured:
            v = measured[m["name"]]
            if not isinstance(v, (int, float)) or not math.isfinite(v):
                v = None  # NaN or infinite: reported as missing
        elif a.trace:
            v = 0.0  # the workload does not run this layer
            idle.append(m["name"])
        else:
            v = None
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    stamp = dict(host_stamp(), **r["stamp"], workload=a.workload,
                 seed=a.seed, seconds=a.seconds, trace=a.trace,
                 source_sha256=source, build_s=round(build_s, 3),
                 spark_graft_conf=None)
    print(json.dumps({"stamp": stamp}, sort_keys=True))
    print(json.dumps({"details": r["details"], "failures": r["failures"],
                      "idle_layers": idle, "missing": missing,
                      "self_s": r["self_s"],
                      "traced_minus_untraced": overhead}, sort_keys=True))
    print(json.dumps({
        "correct": r["failed"] == 0 and not missing,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: v for k, v in metrics.items() if v["value"] is not None},
    }))


if __name__ == "__main__":
    main()
