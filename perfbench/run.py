#!/usr/bin/env python3
"""Run one benchmark workload of the lakehouse engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into .bench_build/; later runs reuse
the build while the sources are unchanged. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. Anything else
the benchmark prints comes before it. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's sources and build, and ours."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH_DIR, "build.sbt"), os.path.join(BENCH_DIR, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt once per source fingerprint; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint.txt")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read() == fp:
                with open(cp_file) as c:
                    return c.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"],
                               cwd=BENCH_DIR, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if p.returncode != 0 or not cps:
        fail("build failed:\n" + "\n".join(lines[-30:]))
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(fp_file, "w") as f:
        f.write(fp)
    return cps[-1].strip()


def check_result(line, trace):
    """The result line must carry every metric BENCHMARK.json names."""
    r = json.loads(line)
    with open(os.path.join(BENCH_DIR, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    for name, unit in want.items():
        m = r["metrics"].get(name)
        if m is None or m["unit"] != unit or not math.isfinite(m["value"]):
            fail(f"metric {name} missing or malformed in {line}")
    if not (isinstance(r["attempted"], int) and r["attempted"] >= 1 and isinstance(r["failed"], int)):
        fail(f"bad counts in {line}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use small ones)")
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0,
                    help="falsify every expectation (to test that the checks can fail)")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the root of a checkout: the engine sources (build.sbt, src/main/scala) are missing", 2)
    cp = build()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    tmp = os.path.join(BUILD, "tmp", tag)
    for d in (work, tmp, os.path.join(BUILD, "logs")):
        os.makedirs(d, exist_ok=True)
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", str(a.scale),
            "--corrupt", str(a.corrupt), "--work-dir", work,
            "--trace-out", os.path.join(BUILD, "traces", tag + ".jsonl")])
    log = os.path.join(BUILD, "logs", tag + ".log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            out = None
        finally:
            shutil.rmtree(work, ignore_errors=True)
            shutil.rmtree(tmp, ignore_errors=True)
    lines = (out or "").splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for l in lines[:-1] if result else lines:
        print(l)
    if p.returncode != 0 or result is None:
        with open(log) as f:
            tail = f.read().splitlines()[-40:]
        fail(f"run failed (exit {p.returncode}); last log lines:\n" + "\n".join(tail))
    check_result(result, a.trace == 1)
    print(result, flush=True)


if __name__ == "__main__":
    main()
