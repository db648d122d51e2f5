#!/usr/bin/env python3
"""The engine's benchmark: one run of one workload.

  python3 perfbench/run.py --workload cdc_validate|corpus_serve
      --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and the harness (sbt, offline); later runs reuse the build while the
sources are unchanged. Each run generates its inputs from the seed in a
run directory of its own (also the JVM's temp dir and Spark's local dir),
starts one JVM for set-up and timed passes, checks every pass's outputs
against DuckDB or the generator's replay, deletes the run directory and
prints one JSON line: correct, attempted, failed and the metrics
(end-to-end with --trace 0, per-layer with --trace 1). See README.md.
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

import checks
import gen_cdc
import gen_corpus

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "harness", "target", "runtime-classpath")

WORKLOADS = ("cdc_validate", "corpus_serve")
JVM_HEAP = "3g"
DEADLINE_S = 170            # a run ends (or is killed) within this


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ----------------------------------------------------------------- build

def _sources():
    """Every file the build reads: engine sources and build definition,
    the harness and its build file."""
    for top in ("build.sbt", "project", "src/main", "perfbench/harness"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            yield p
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    yield os.path.join(d, f)


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources here: run from the root of a source checkout")
    h = hashlib.sha256()
    for p in _sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp_dir = os.path.join(HERE, ".build")
    stamp = os.path.join(stamp_dir, "stamp")
    if (os.path.exists(stamp) and os.path.exists(CLASSPATH)
            and open(stamp).read() == h.hexdigest()):
        return
    os.makedirs(os.path.join(stamp_dir, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g",
                f"-Djava.io.tmpdir={stamp_dir}/tmp"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt compile)")
    t0 = time.time()
    with open(os.path.join(stamp_dir, "sbt.log"), "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "classpathFile"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=850)
    if rc != 0:
        with open(os.path.join(stamp_dir, "sbt.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


# ------------------------------------------------------------------- JVM

ADD_OPENS = ("java.lang java.lang.invoke java.lang.reflect java.io java.net "
             "java.nio java.util java.util.concurrent "
             "java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
             "sun.security.action sun.util.calendar").split()


def run_jvm(args, run_dir, traced, budget_s):
    """Start the harness JVM; return (result, epoch seconds at its start)."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    props = [f"-Djava.io.tmpdir={run_dir}/tmp",
             f"-Dderby.system.home={run_dir}",
             f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC"]
    if traced:
        props.append("-Dspark.hadoop.fs.file.impl="
                     "graft.perfbench.CountingLocalFileSystem")
    cmd = (["java"] + [x for p in ADD_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + props + ["-cp", cp, "graft.perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/local")
    jlog = open(f"{run_dir}/jvm.log", "w")
    start = time.time()
    proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, env=env,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        jlog.close()
    res = f"{run_dir}/result.json"
    if rc != 0 or not os.path.exists(res):
        with open(f"{run_dir}/jvm.log") as f:
            sys.stderr.write(f.read()[-6000:])
        fail("harness JVM " + ("timed out" if rc is None else f"exited {rc}"))
    with open(res) as f:
        return json.load(f), start


# --------------------------------------------------------------- metrics

def end_to_end(result, start):
    passes = result["passes"]
    ops = [ms for p in passes for ms in p["ops_ms"]]
    med = lambda k: statistics.median(p[k] for p in passes)
    return {
        "setup_s": (result["first_pass_epoch_ms"] / 1e3 - start, "s"),
        "pass_s": (med("wall_s"), "s"),
        "query_p50_ms": (statistics.median(ops), "ms"),
        "scan_mb": (med("scan_mb"), "MB"),
        "shuffle_mb": (med("shuffle_mb"), "MB"),
        "retained_heap_mb": (result["retained_heap_mb"], "MB"),
    }


def per_layer(result):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    passes = result["passes"]
    out = {}
    for m in spec:
        name = m["name"]
        vals = [p["layers"][name] for p in passes if name in p["layers"]]
        if vals:
            v = statistics.median(vals)
        else:           # set-up figures, or a layer this workload skips
            v = result["setup"].get(name, 0.0)
        out[name] = (v, m["unit"])
    return out


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build()
    t_begin = time.time()
    run_dir = os.path.join(HERE, ".runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "in"):
        os.makedirs(os.path.join(run_dir, d))
    cores = len(os.sched_getaffinity(0))
    try:
        t0 = time.time()
        if a.workload == "corpus_serve":
            info = gen_corpus.generate(f"{run_dir}/in", a.seed)
            extra = ["--corpus-dir", info["corpus_dir"]]
        else:
            info = gen_cdc.generate(f"{run_dir}/in", a.seed,
                                    drift=a.workload == "cdc_validate")
            extra = ["--base-dir", info["base_dir"],
                     "--start-date", info["start_date"]]
            if a.workload == "cdc_validate":
                extra += ["--expected", info["drift_source"]]
        log(f"inputs generated in {time.time() - t0:.1f} s")
        trace_dir = os.path.join(HERE, "traces")
        if a.trace:
            os.makedirs(trace_dir, exist_ok=True)
        args = ["--workload", a.workload, "--run-dir", run_dir,
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(cores), "--trace-file",
                os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.jsonl")
                ] + extra
        budget = DEADLINE_S - (time.time() - t_begin) - 15
        result, start = run_jvm(args, run_dir, a.trace == 1, budget)
        t0 = time.time()
        errs = checks.CHECKS[a.workload](result, info, a.trace == 1)
        log(f"checked in {time.time() - t0:.1f} s")
        for e in errs[:20]:
            log(f"CHECK FAILED: {e}")
        metrics = per_layer(result) if a.trace else end_to_end(result, start)
        print(json.dumps({
            "correct": not errs,
            "attempted": sum(len(p["ops_ms"]) for p in result["passes"]),
            "failed": 0,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
