#!/usr/bin/env python3
"""Medallion lakehouse benchmark.

Run from the root of a checkout:

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the program from its sources (with the
program's own sbt build) together with the benchmark harness under
lakebench/src; later runs reuse that build while the sources are unchanged.
Each run starts one JVM, builds the workload's tables from the seed, warms
up, measures for --seconds, checks every answer against an in-memory model
and prints one JSON object as the last line of standard output.
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
BUILD = os.path.join(ROOT, ".bench_build", "lakebench")
WORKLOADS = ("medallion", "corpus_dedup")
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 165
HEAP = "2g"

# what `spark-submit` would add on JDK 17 (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, so a changed source forces a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail("build timed out", 1)
        lf.write(out)
    if proc.returncode != 0:
        sys.stderr.write(tail(log))
        fail(f"build failed (exit {proc.returncode}); see {log}", 1)
    lines = [l.strip() for l in out.splitlines()
             if l.strip() and not l.startswith("[") and ".jar" in l]
    if not lines:
        fail("build printed no classpath", 1)
    cp = lines[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def stop(proc):
    """Kill the process group and wait until it has exited."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def declared_metrics(trace):
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError):
        return None
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not "
             "in this checkout")

    cp = build()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{a.workload}-{a.seed}-t{a.trace}.log")
    cmd = (["java"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}",
            "-cp", cp, "lakebench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--src", os.path.join(ROOT, "src", "main", "scala"),
            "--bench-src", os.path.join(HERE, "src", "main", "scala"),
            "--data", os.path.join(HERE, "data"),
            "--out", out])
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            rc = None
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(tail(log))
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out" if rc is None else f"run failed (exit {rc}); see {log}", 1)
    with open(out) as fh:
        result = json.load(fh)
    trace_file = out + ".trace.json"
    if os.path.exists(trace_file):
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.move(trace_file, os.path.join(traces, f"{a.workload}-{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)
    for line in open(log, errors="replace"):
        if line.startswith("[lakebench]"):
            sys.stderr.write(line)

    want = declared_metrics(a.trace == 1)
    if want is not None:
        missing = [m for m in want if m not in result["metrics"]]
        if missing:
            fail(f"metrics missing from the run: {missing}", 1)
        result["metrics"] = {m: result["metrics"][m] for m in want}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
