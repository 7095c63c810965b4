#!/usr/bin/env python3
"""Segment-platform benchmark runner.

Run from the root of a checkout:

    python3 segbench/run.py --workload refresh-many --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source with sbt (once per source
state; the classpath is cached under .bench_build/), then runs one workload
on a single local Spark driver JVM. Prints each metric by name with its unit,
then, as the last line, one JSON object with the keys correct, attempted,
failed and metrics. `--workload all` runs every workload in one JVM.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ["refresh-many", "refresh-wide", "analyst-session"]
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "segbench")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "1g"
# The driver JVM runs on this many of the machine's CPUs. On a shared
# virtual machine, a JVM spread over every vCPU lost up to a fifth of its
# CPU time to the hypervisor and its tick times doubled from run to run;
# pinned to two it lost 1-2% and held steady.
CPUS = 2

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"segbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    out = []
    for top in ["build.sbt", "project", "src/main", "segbench/build.sbt",
                "segbench/project", "segbench/src/main"]:
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    cache = os.path.join(BUILD, "classpath.json")
    fp = fingerprint()
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("fingerprint") == fp:
            return c["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.supershell=false", "export segbench/Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                             stderr=lf, text=True)
        try:
            out, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}")
        lf.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in out:
        die(f"build failed (exit {p.returncode}); see {log}")
    classpath = lines[-1].strip()
    with open(cache, "w") as f:
        json.dump({"fingerprint": fp, "classpath": classpath}, f)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1")
    for need in ["build.sbt", "src/main/scala/graft", "segbench/build.sbt"]:
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} at {ROOT}: run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    classpath = build()
    cpus = set(sorted(os.sched_getaffinity(0))[:CPUS])
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed, pre-touched heap keeps the resident-memory peak from depending
    # on when the collector happened to grow the heap; the parallel collector
    # gave steadier tick times than G1 here.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "segbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    log = os.path.join(BUILD, f"{a.workload}.log")
    t0 = time.time()
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=lf, text=True,
                                 preexec_fn=lambda: os.sched_setaffinity(0, cpus))
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                die(f"run timed out after {RUN_TIMEOUT_S} s; see {log}")
            finally:
                if p.poll() is None:
                    p.kill()
                    p.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for l in lines[:-1]:
        print(l)
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if p.returncode != 0 or not isinstance(result, dict):
        die(f"run failed (exit {p.returncode}) after {time.time() - t0:.0f} s; see {log}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
