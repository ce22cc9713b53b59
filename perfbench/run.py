#!/usr/bin/env python3
"""Benchmark of the KG-construction path.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: crawl_build, recrawl_merge, operator_suite
(see perfbench/NOTES.md). The script builds the program and the harness from
the checkout's sources with sbt (once per source state), runs one workload in
one JVM, and prints the result as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

It exits non-zero when the build fails, the run fails, or an output check
fails. Extra options for the benchmark's own tests: --tiny (small inputs),
--corrupt store|leaf (damage an output so the check must trip), --record
(rewrite perfbench/expected.json from the current program).
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
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench-build.json")
WORKLOADS = ("crawl_build", "recrawl_merge", "operator_suite")
RUN_TIMEOUT_S = 170  # a run must end within 180 s
BUILD_TIMEOUT_S = 840  # a first run may also build, within 900 s

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt unless this source state is built;
    returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            prev = json.load(fh)
        if prev.get("stamp") == stamp:
            return prev["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(HERE, "work", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "--batch", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill_group(p)
            fail("build timed out")
    with open(log) as fh:
        lines = fh.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    cp = [l for l in lines if "scala-2.13/classes" in l and os.pathsep in l]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip()


def kill_group(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt", choices=("store", "leaf"))
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    for need in ("src/main/scala", "src/test/resources/inputs", "src/test/resources/golden"):
        if not os.path.isdir(os.path.join(ROOT, need)):
            fail(f"{need} not found next to perfbench/: run from a full checkout")

    classpath = build()

    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "jtmp", "spark"):
        os.makedirs(os.path.join(work, d))
    heap = "1g"
    cmd = ["java"] + [x for o in JAVA_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] + [
        "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8", "-Dsun.stdout.encoding=UTF-8",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        # pinned, pre-touched heap as the program's own build runs it
        f"-Xmx{heap}", f"-Xms{heap}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')}",
        f"-Dperfbench.tmp={os.path.join(work, 'tmp')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--repo", ROOT,
        "--tiny", "1" if a.tiny else "0"]
    if a.corrupt:
        cmd += ["--corrupt", a.corrupt]
    if a.record:
        cmd += ["--record", os.path.join(HERE, "expected.json")]
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    log = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill_group(p)
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run timed out; log in {log}")
    with open(log) as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    result_file = os.path.join(work, "result.json")
    result = None
    if os.path.exists(result_file):
        with open(result_file) as fh:
            result = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    if a.record:
        sys.exit(code)
    if code != 0 or result is None:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"run failed (exit {code}); log in {log}", 1)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
