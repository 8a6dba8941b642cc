#!/usr/bin/env python3
"""Benchmark entry point for the nightly SCD1 pipeline and the read-side
query mix.

    python3 bench/run.py --workload <nightly_ref|nightly_scale|query_mix>
                         --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline) into bench/work/build; later runs reuse
that build while no source file changed. The first run of a nightly
workload on a build also runs its initial-load night once, into
bench/work/cache; each run copies that warehouse, runs a warm-up night and
times the next one. Each run starts one JVM (`graftbench.Main`) on local[N],
N = the machine's cores, then checks the outputs (DuckDB oracles) and
prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (see bench/README.md). Everything the run writes stays under
bench/work; the run's work dir, bench/work/run-<workload>, is left in
place for inspection and cleared by the next run of that workload.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import metrics  # noqa: E402
import qmix_data  # noqa: E402

WORKLOADS = ("nightly_ref", "nightly_scale", "query_mix")
QMIX_SF = 0.01
SETUP_REPS = 3
JVM_HEAP = "3g"
CPUS = len(os.sched_getaffinity(0))  # what nproc reports
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = []
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        files += glob.glob(os.path.join(d, "**", "*"), recursive=True)
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(p for p in files if os.path.isfile(p)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    out = os.path.join(WORK, "build")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and "scala-library" in ln]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1], stamp


def gen_query_data(run_dir, seed):
    """Generate the query-mix tables SETUP_REPS times; keep the last."""
    times, rows = [], 0
    for rep in range(SETUP_REPS):
        d = os.path.join(run_dir, f"data{rep}")
        t0 = time.perf_counter()
        rows = qmix_data.generate(d, seed, QMIX_SF)
        times.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            shutil.rmtree(d)
    data = os.path.join(run_dir, f"data{SETUP_REPS - 1}")
    files = sorted(glob.glob(os.path.join(data, "*.parquet")))
    digest = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            digest.update(fh.read())
    return data, {"times": times, "rows": rows, "digest": digest.hexdigest(),
                  "bytes": sum(os.path.getsize(f) for f in files)}


def initial_load(cp, workload, stamp, run_dir, deadline):
    """The nightly workload's initial-load night, run once per build (from
    a fixed seed) in `run_dir` and cached; every run restores it into the
    same `run_dir`, because the warehouse catalog records absolute paths."""
    cache = os.path.join(WORK, "cache", f"{workload}-{stamp[:16]}")
    if not os.path.isdir(cache):
        run_jvm(cp, ["--workload", workload, "--seed", "0", "--init", "1",
                     "--work", run_dir, "--out", os.path.join(run_dir, "init.json"),
                     "--cpus", str(CPUS)], run_dir, deadline)
        shutil.rmtree(cache + ".tmp", ignore_errors=True)
        os.makedirs(cache + ".tmp")
        # cp -a keeps the hard links between bucket files
        subprocess.run(["cp", "-a", os.path.join(run_dir, "nightly"), cache + ".tmp"], check=True)
        os.replace(cache + ".tmp", cache)
        shutil.rmtree(run_dir)
        os.makedirs(run_dir)
    return os.path.join(cache, "nightly")


def run_jvm(cp, args, run_dir, deadline):
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{JVM_HEAP}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dderby.system.home={run_dir}",
            f"-Dgraft.refwh.dir={os.path.join(ROOT, 'src', 'test', 'resources', 'refwh')}",
            "-cp", cp, "graftbench.Main"] + args)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM / KeyboardInterrupt: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        sys.stderr.write("".join(open(log).readlines()[-60:]))
        fail(f"benchmark JVM failed ({rc})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # a run is a fixed amount of work (a warm-up night or pass, then one
    # timed night or pass), so its inputs do not depend on the machine's speed
    ap.add_argument("--seconds", type=int, required=True, help="accepted and ignored")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.monotonic()

    for need in (os.path.join(ROOT, "src", "main", "scala", "graft", "etl", "Pipeline.scala"),
                 os.path.join(ROOT, "src", "test", "resources", "refwh")):
        if not os.path.exists(need):
            fail(f"engine sources not found ({os.path.relpath(need, ROOT)}); "
                 "run from the repository root")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not on PATH")

    cp, stamp = build()
    run_dir = os.path.join(WORK, f"run-{a.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if a.workload.startswith("nightly"):
        cached = initial_load(cp, a.workload, stamp, run_dir, time.monotonic() + 600.0)
    build_s = time.monotonic() - start
    # 180 s for the run itself, on top of a first-run build and initial load
    deadline = time.monotonic() + 170.0
    jargs = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
             "--work", run_dir, "--out", os.path.join(run_dir, "raw.json"), "--cpus", str(CPUS)]
    gen = None
    t_gen = time.monotonic()
    restore_s = None
    if a.workload.startswith("nightly"):
        subprocess.run(["cp", "-a", cached, run_dir], check=True)
        restore_s = time.monotonic() - t_gen
    if a.workload == "query_mix":
        data, gen = gen_query_data(run_dir, a.seed)
        jargs += ["--data", data]
    t_jvm = time.monotonic()
    run_jvm(cp, jargs, run_dir, deadline)
    t_check = time.monotonic()
    raw = json.load(open(os.path.join(run_dir, "raw.json")))
    raw["gen"], raw["restore_s"] = gen, restore_s
    outcome = checks.run(a.workload, raw)
    if a.trace:
        m = metrics.per_layer(a.workload, raw)
    else:
        m = metrics.end_to_end(a.workload, raw)
    with open(os.path.join(WORK, f"last-{a.workload}.json"), "w") as fh:
        json.dump({"seed": a.seed, "trace": a.trace, "build_s": build_s,
                   "gen_s": t_jvm - t_gen, "jvm_s": t_check - t_jvm,
                   "check_s": time.monotonic() - t_check,
                   "cores": int(raw["cores"]),
                   "master_cores": metrics.master_cores(raw["master"]),
                   "digest": (gen or raw["result"])["digest"],
                   "checks": outcome["details"], "metrics": m}, fh, indent=1)
    print(json.dumps({"correct": outcome["correct"], "attempted": outcome["attempted"],
                      "failed": outcome["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))

if __name__ == "__main__":
    main()
