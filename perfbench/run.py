#!/usr/bin/env python3
"""Nightly-refresh benchmark entry point.

    python3 perfbench/run.py --workload qb_nightly --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program and the harness from
source with sbt on first use (the build is reused while the sources are
unchanged), then runs harness JVMs, each timing one cold pass, until
--seconds of passes have been measured (at least one JVM). It prints as
its last line one JSON object: correct, attempted, failed and the
metrics BENCHMARK.json lists (end_to_end with --trace 0, per_layer with
--trace 1), each with its unit and its median over the JVMs. Everything
it writes stays under perfbench/work/; the full result of each run, with
per-pass walls, steal readings and spans, is kept in
perfbench/work/results/<build>/.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(WORK, "build")

# Spark on JDK 17 outside spark-submit needs these (the program's
# build.sbt passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# A/B knobs of the program; the benchmark measures the shipped defaults.
UNSET_ENV = ["SPARK_GRAFT_DAG_THREADS", "SPARK_GRAFT_IO_CODEC",
             "SPARK_GRAFT_SCHEDULER"]

BUILD_TIMEOUT_S = 840
PREPARE_TIMEOUT_S = 600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"),
            os.path.join(HERE, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            for f in files
            if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def build():
    """Compile with sbt, offline, and return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as f:
                    return f.read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        code = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if code != 0 or not cps:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {code}); log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], stamp


def heap():
    """The heap the program's test suite runs with: half the RAM, 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f
                      if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def harness(cp, args, tag, timeout):
    """One harness JVM (perfbench.Main) with the program's JVM options;
    its output goes to perfbench/work/logs/<tag>.log."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k not in UNSET_ENV}
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + [f"-Xmx{heap()}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')}",
              f"-Dderby.system.home={tmp}",
              "-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log = os.path.join(WORK, "logs", tag + ".log")
    t0 = time.time()
    with open(log, "w") as f:
        code = run_group(cmd, timeout, cwd=ROOT, env=env, stdout=f,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness {'timed out' if code is None else f'exited {code}'}"
             f" after {time.time() - t0:.0f} s; log in {log}")


def jvm_timeout(cache, workload):
    """Room for a harness JVM's passes to take three times as long as
    the workload's slowest prepared seed pass."""
    walls = [60.0]
    for v in sorted(os.listdir(os.path.join(cache, workload))):
        meta = os.path.join(cache, workload, v, "seeded.json")
        if os.path.exists(meta):
            with open(meta) as f:
                walls.append(json.load(f)["seed_s"])
    return 60 + 3 * max(walls)


def tracing_overhead(res, workload, results):
    """Adds to a traced result's detail its incremental wall less the
    median incremental wall of the untraced runs of the workload kept in
    `results` (the no-op pass runs in traced runs only)."""
    walls = []
    for name in os.listdir(results):
        if name.startswith(workload + "-") and name.endswith("-trace0.json"):
            with open(os.path.join(results, name)) as f:
                walls += [p["wall_s"] for d in json.load(f)["detail"]["jvms"]
                          for p in d["passes"]
                          if p["pass"] == "incremental" and "problems" not in p]
    if walls:
        res["detail"]["tracing_overhead_s"] = (
            res["metrics"]["incremental.trace.wall_s"]["value"]
            - statistics.median(walls))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--pin", action="store_true",
                    help="record the marts' hashes in golden.json")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not "
             "beside perfbench/; run from the root of a checkout")

    # one run at a time per checkout: runs share the build, the seeded
    # state and the run directory
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    cp, stamp = build()
    # Seeded state and results are kept per build: a changed program
    # re-seeds, and its runs are not compared with an older build's.
    for top in ("cache", "results"):
        top = os.path.join(WORK, top)
        if os.path.isdir(top):
            for d in os.listdir(top):
                if d != stamp[:16]:
                    shutil.rmtree(os.path.join(top, d))
    cache = os.path.join(WORK, "cache", stamp[:16])
    results = os.path.join(WORK, "results", stamp[:16])
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(results, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    common = ["--workload", a.workload, "--seed", str(a.seed),
              "--cpus", str(len(os.sched_getaffinity(0))), "--work", WORK,
              "--cache", cache,
              "--golden", os.path.join(HERE, "golden.json")]
    pin = ["--pin"] if a.pin else []
    if not os.path.exists(os.path.join(cache, "complete")):
        harness(cp, ["--prepare"] + common + pin, f"{tag}-prepare",
                PREPARE_TIMEOUT_S)
    # A second pass in one JVM would run warm; each JVM times one cold
    # pass, as the nightly job does.
    jvms, measured = [], 0.0
    while not jvms or measured < a.seconds:
        part = f"{out}.{len(jvms)}"
        harness(cp, common + ["--trace", str(a.trace), "--out", part] + pin,
                f"{tag}.{len(jvms)}", jvm_timeout(cache, a.workload))
        if not os.path.exists(part):
            fail(f"harness wrote no result to {part}")
        with open(part) as f:
            jvms.append(json.load(f))
        os.remove(part)
        measured += sum(p["wall_s"] for p in jvms[-1]["detail"]["passes"])
    res = {"correct": all(r["correct"] for r in jvms),
           "attempted": sum(r["attempted"] for r in jvms),
           "failed": sum(r["failed"] for r in jvms),
           "metrics": {n: {"value": statistics.median(
                               r["metrics"][n]["value"] for r in jvms),
                           "unit": m["unit"]}
                       for n, m in jvms[0]["metrics"].items()},
           "detail": {"jvms": [r["detail"] for r in jvms]}}
    if a.trace:
        tracing_overhead(res, a.workload, results)
    with open(out, "w") as f:
        json.dump(res, f, indent=2)
    listed = spec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in res["metrics"]]
    if missing:
        fail(f"harness did not report {missing}")
    metrics = {}
    for m in listed:
        got = res["metrics"][m["name"]]
        if got["unit"] != m["unit"]:
            fail(f"{m['name']} reported in {got['unit']}, listed in {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
