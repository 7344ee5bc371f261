#!/usr/bin/env python3
"""Repo benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the program
(`src/main/scala`) and the harness (`perfbench/harness`) with the Scala
compiler shipped in the Spark jars, into `.perfbench/build`; later runs
reuse the build while the sources are unchanged. Everything a run writes
stays under `.perfbench/`.

The last stdout line is `{"correct", "attempted", "failed", "metrics"}`:
with `--trace 0` the end-to-end metrics of BENCHMARK.json, with `--trace 1`
the per-layer ones, and the traced run also writes a structured artifact to
`.perfbench/artifacts/`. See perfbench/README.md for the workloads and the
metric definitions.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS = os.path.join(HERE, "harness")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = spark_jars()

# A fixed 4 GB heap with the parallel collector: with G1, whose concurrent
# threads compete with local[4]'s task threads on a 4-core host, runs of
# query_tail split into a fast and a 25% slower mode.
JVM_HEAP = ["-Xms4g", "-Xmx4g", "-XX:+UseParallelGC"]
RUN_LIMIT_S = 170       # a run must end within 180 s
BUILD_LIMIT_S = 800     # the first run, which builds, within 900 s
RECORD_LIMIT_S = 1800   # recording expected outputs is not a timed run
BRONZE_ROWS = 50000
SETUP_REPS = 3

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_files(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def run_group(cmd, limit, **kw):
    """Runs cmd in its own process group and waits for it. The group is
    killed, and waited for, on timeout and when this script is told to
    stop, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(*_):
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()

    def on_signal(signum, _):
        stop()
        fail(f"stopped by signal {signum}")

    old = [signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)]
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"timed out after {limit:.0f} s: {cmd[0]} ... {cmd[-1]}")
    finally:
        stop()
        for s, h in zip((signal.SIGTERM, signal.SIGINT), old):
            signal.signal(s, h)


def build(deadline):
    """Compiles the program and the harness unless the stamped build matches
    the current sources. Returns the classpath."""
    main_src, harness_src = scala_files(SRC), scala_files(HARNESS)
    if not main_src or not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        fail("no program sources or Spark jars: run from the root of a checkout")
    h = hashlib.sha256()
    for f in main_src + harness_src:
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    classes, hclasses = os.path.join(bdir, "classes"), os.path.join(bdir, "harness")
    os.makedirs(bdir, exist_ok=True)
    with open(os.path.join(bdir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(bdir, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return [hclasses, classes]
        for d in (classes, hclasses):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        jars = os.path.join(SPARK_JARS, "*")
        log = open(os.path.join(bdir, "build.log"), "w")
        for out, cp, srcs in ((classes, jars, main_src),
                              (hclasses, f"{classes}:{jars}", harness_src)):
            rc = run_group(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", jars,
                            "scala.tools.nsc.Main",
                            "-nowarn", "-d", out, "-classpath", cp] + srcs,
                           max(1, deadline - time.time()), stdout=log, stderr=log)
            if rc != 0:
                fail(f"build failed, see {log.name}")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return [hclasses, classes]


def workload_spec(name):
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if name not in spec["workloads"]:
        fail(f"unknown workload {name}; known: {sorted(spec['workloads'])}")
    return spec["workloads"][name]


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Hooks for perfbench/tests and for redefining the benchmark: make one
    # query throw, or record every query's expected output into a file.
    ap.add_argument("--inject-fail", default="")
    ap.add_argument("--record", default="")
    a = ap.parse_args()

    t_start = time.time()
    built = os.path.exists(os.path.join(WORK, "build", "stamp"))
    deadline = t_start + (RUN_LIMIT_S if built else BUILD_LIMIT_S)
    spec = workload_spec(a.workload)
    cp = build(deadline)

    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(WORK, "artifacts"), exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    conf = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": len(os.sched_getaffinity(0)), "work_dir": run_dir,
        "setup_reps": SETUP_REPS, "result_file": result,
        "artifact_file": os.path.join(WORK, "artifacts", f"{a.workload}_seed{a.seed}_trace.json"),
        "workloads_json": os.path.join(HERE, "workloads.json"),
        "git_commit": git_commit(), "inject_fail": a.inject_fail,
        "python": sys.executable, "gen_script": os.path.join(HERE, "gen_bronze.py"),
        "bronze_rows": BRONZE_ROWS,
    }
    if "queries" in spec:
        qfile = os.path.join(run_dir, "queries.txt")
        with open(qfile, "w") as f:
            f.write("\n".join(spec["queries"]) + "\n")
        conf.update(data_dir=os.path.join(HERE, "data", spec["data"]), queries_file=qfile,
                    expected_file=os.path.join(HERE, "expected", f"{spec['data']}.tsv"))
    if a.record:
        conf.update(mode="record", result_file=os.path.abspath(a.record), expected_file="")
    conf_file = os.path.join(run_dir, "run.conf")
    with open(conf_file, "w") as f:
        f.writelines(f"{k}={v}\n" for k, v in conf.items())

    # -XX:-UsePerfData: no hsperfdata file in the system temp dir.
    cmd = ["java", "-XX:-UsePerfData"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        *JVM_HEAP, f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Dderby.system.home={run_dir}",
        "-cp", ":".join(cp + [os.path.join(SPARK_JARS, "*")]), "perfbench.Main", conf_file]
    if a.record:
        deadline += RECORD_LIMIT_S
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        rc = run_group(cmd, max(1, deadline - time.time()), cwd=run_dir,
                       stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        fail(f"harness exited with {rc}, see {run_dir}/jvm.log")
    if a.record:
        return
    with open(result) as f:
        line = f.read().strip()
    json.loads(line)
    print(line)


if __name__ == "__main__":
    main()
