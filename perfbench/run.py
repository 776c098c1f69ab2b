#!/usr/bin/env python3
"""Pipeline benchmark: ingest, admission and dashboard workloads.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

The first run builds the engine and the harness from source with sbt into
`.bench_build/`. Each run works in a fresh directory under
`.bench_build/runs/`, removed afterwards. The JVM prints a detailed record
(`PERFBENCH_RECORD {...}`); this script prints that record, then as its
last line the result object: `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics untraced, per-layer metrics with
`--trace 1`). Exit code 0 only when the run completed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("streams", "dashboard", "ingest", "admission")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_jars():
    submit = shutil.which("spark-submit")
    if submit:
        jars = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")
        if os.path.isdir(jars):
            return jars
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark installation found (spark-submit or SPARK_HOME)")


def build(stamp):
    """Compile engine + harness once per source state; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath-" + stamp + ".txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_JARS_DIR"] = spark_jars()
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts.strip()
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Djava.io.tmpdir=" + tmp, "-J-XX:-UsePerfData",
           "compile", "export Runtime/fullClasspath"]
    log("building (" + stamp + ")")
    t0 = time.time()
    res = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, timeout=840)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    lines = [l for l in res.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if not lines:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    log("built in %.1f s" % (time.time() - t0))
    return cp


def cpu_mhz():
    try:
        with open("/proc/cpuinfo") as fh:
            v = [float(l.split(":")[1]) for l in fh if l.startswith("cpu MHz")]
        return sum(v) / len(v) if v else None
    except OSError:
        return None


def loadavg1():
    try:
        return os.getloadavg()[0]
    except OSError:
        return None


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, args, base):
    cmd = ["java", "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(base, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(base, "tmp"), exist_ok=True)
    err_path = os.path.join(base, "jvm.err")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=base, stdout=subprocess.PIPE, stderr=err, text=True,
                                env=dict(os.environ, TMPDIR=os.path.join(base, "tmp"),
                                         SPARK_LOCAL_DIRS=os.path.join(base, "spark-local")))
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            out = ""
            log("JVM timed out after %d s" % JVM_TIMEOUT_S)
    rec = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RECORD "):
            rec = json.loads(line[len("PERFBENCH_RECORD "):])
    if rec is None or proc.returncode != 0:
        with open(err_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        return None
    return rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--event-time", choices=("ordered", "random"), default="ordered",
                    help="admission stream event time; 'random' demonstrates the "
                         "watermark trap the decision-count check guards")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources not found under " +
                         os.path.join(ROOT, "src", "main", "scala"))
    stamp = source_hash()
    cp = build(stamp)

    # Spark runs local[N] with N = the CPUs this process may use
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    env_rec = {"seed": a.seed, "nproc": cores, "cpu_count": os.cpu_count(), "cores": cores,
               "cpu_mhz_start": cpu_mhz(),
               "loadavg_1m_start": loadavg1(), "heap": HEAP, "git_commit": commit(),
               "source_hash": stamp, "run_seconds": a.seconds}
    base = os.path.join(BUILD, "runs", "%d-%d" % (os.getpid(), int(time.time() * 1000)))
    os.makedirs(base)
    try:
        rec = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--base", base, "--cores", str(cores), "--scale", a.scale,
                           "--event-time", a.event_time], base)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    if rec is None:
        raise SystemExit("perfbench: the run produced no record")
    env_rec["cpu_mhz_end"] = cpu_mhz()
    rec["environment"] = env_rec
    correct = all(c["ok"] for c in rec["checks"]) and rec["failed"] == 0
    print("record " + json.dumps(rec, sort_keys=True))
    metrics = rec["per_layer"] if a.trace else rec["end_to_end"]
    for name, m in metrics.items():
        if m["value"] is None:
            raise SystemExit("perfbench: metric %s was not measured" % name)
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
