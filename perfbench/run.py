#!/usr/bin/env python3
"""Run one benchmark measurement.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from the checkout's sources when they
changed since the last build (sbt, offline), then runs one JVM that sets up
the workload, measures it for about --seconds and checks every op's output.
Report lines go to stdout; the last line is the result object whose metrics
are BENCHMARK.json's end_to_end set (--trace 0) or per_layer set (--trace 1).
Exits non-zero, without a result line, when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
CLASSPATH = os.path.join(BUILD_DIR, "perfbench.classpath")
RUN_TIMEOUT_S = 170
# a fixed heap, committed at start: G1 then sizes its generations the same
# way in every run, which narrowed the spread between runs
HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: both source trees and build files."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src", "main", "scala")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}"]).strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=600)
    sys.stderr.write(proc.stdout[-2000:])
    if proc.returncode != 0:
        fail("build failed", 3)
    cp = [l for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if not cp:
        fail("build printed no classpath", 3)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def cpu_jiffies():
    """(steal, total) CPU jiffies of the host so far; None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return f[7] if len(f) > 7 else 0, sum(f[:8])


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    build()
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              "-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--root", ROOT, "--work", work,
              "--out", os.path.join(HERE, "out")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cpu0 = cpu_jiffies()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"run failed with exit code {proc.returncode}", 5)
    try:
        got = sorted(json.loads(lines[-1])["metrics"])
    except (ValueError, KeyError, TypeError):
        sys.stderr.write(out)
        fail("the run printed no result line", 6)
    want = sorted(declared_metrics(a.trace))
    if got != want:
        sys.stderr.write(out)
        fail(f"result metrics differ from BENCHMARK.json: {sorted(set(want) ^ set(got))}", 6)
    # CPU time the hypervisor gave to other guests while the run ran: the
    # usual cause when a whole run reads slower than its neighbours
    cpu1 = cpu_jiffies()
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        steal = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
        lines.insert(-1, json.dumps({"workload": a.workload, "metric": "host.cpu_steal_frac",
                                     "value": round(steal, 4), "unit": "frac"}))
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
