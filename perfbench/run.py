#!/usr/bin/env python3
"""Crawl-round and WARC-ingest benchmark runner.

    python3 perfbench/run.py --workload crawl-round --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run compiles the program and the
benchmark with sbt (offline), and every new (workload, seed, scale)
generates its inputs once; both are cached under `.bench_build/perfbench`. The benchmark JVM
prints a table and, as its last stdout line, one JSON result object.
See perfbench/README.md.
"""

import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("crawl-round", "warc-ingest")
DEADLINE_S = 170  # a run must end within 180 s once built

# Spark on JDK 17 outside spark-submit: the module opens build.sbt gives
# forked mains.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources():
    """Files whose content decides the build: the program and the benchmark."""
    picked = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            picked.append(path)
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            picked += [os.path.join(d, f) for f in sorted(files)]
    return picked


def fingerprint():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def run(cmd, timeout, **kw):
    """Run to completion in its own process group. The group is killed on
    timeout, and when this script is interrupted or terminated."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()

    def on_signal(signum, _):
        stop()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, on_signal) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return proc.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        stop()
        sys.exit(f"perfbench: {cmd[0]} did not finish within {timeout:.0f} s")
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def build(fp):
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{fp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    log(f"building with sbt (log: {os.path.relpath(log_path, ROOT)})")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.server.autostart=false",
    ] + [f"-Dsbt.repository.config={p}" for p in
         [os.path.expanduser("~/.sbt/repositories")] if os.path.exists(p)])
    with open(log_path, "w") as out:
        code = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], 840, cwd=HERE, env=env,
                   stdout=out, stderr=subprocess.STDOUT)
    with open(log_path) as f:
        lines = [l.strip() for l in f if ".jar" in l and os.pathsep in l and "[" not in l]
    if code != 0 or not lines:
        sys.exit(f"perfbench: sbt build failed (exit {code}); see {log_path}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def java(cp, main, args, timeout):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    env = dict(os.environ, LC_ALL="C.UTF-8")
    return run(cmd, timeout, env=env)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the self-tests")
    ap.add_argument("--inputs-root", default=os.path.join(BUILD, "inputs"),
                    help="where generated inputs are cached")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit(f"perfbench: no program sources under {ROOT} (build.sbt, src/main/scala/graft)")

    fp = fingerprint()
    cp = build(fp)
    start = time.monotonic()
    inputs = os.path.join(a.inputs_root, f"{a.workload}-s{a.seed}-{a.scale}-{fp}")
    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    common = ["--workload", a.workload, "--seed", str(a.seed), "--scale", a.scale,
              "--inputs", inputs, "--work", work]
    spans = os.path.join(BUILD, "trace", f"{a.workload}-s{a.seed}.jsonl")
    code = java(cp, "perfbench.Main", common + [
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--spans", spans],
        DEADLINE_S - (time.monotonic() - start))
    if a.trace and code == 0:
        log(f"spans: {os.path.relpath(spans, ROOT)} (table: python3 perfbench/trace_summary.py FILE)")
    sys.exit(code)


if __name__ == "__main__":
    main()
