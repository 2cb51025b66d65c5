#!/usr/bin/env python3
"""Runs one workload of the repository benchmark and prints its result.

    python3 bench/run.py --workload loan_train --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the harness with sbt
(offline), on top of the engine's own build in the checkout root; later runs
reuse that build while the build files and sources are unchanged. The workload
runs in one JVM with `local[<cpus>]`. Its scratch files go under
bench/work, which is removed when the run ends; the traced run
(`--trace 1`) writes its spans to bench/out.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. The exit code is non-zero, and no result
is printed, when the build or the run fails or overruns its deadline.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(BENCH, "work")
OUT = os.path.join(BENCH, "out")
WORKLOADS = ("loan_train", "loan_serve")
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a fixed order."""
    files = [os.path.join(d, f) for d in (ROOT, BENCH)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def run_bounded(cmd, deadline, **kw):
    """Runs cmd in its own process group; kills the group on overrun."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=deadline)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} overran {deadline} s")
    return proc.returncode, out


def build():
    """Compiles engine + harness unless the sources are unchanged since the
    last build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    cp_file = os.path.join(TARGET, "bench-classpath.txt")
    stamp_file = os.path.join(TARGET, "bench-stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as cf:
                    return cf.read().strip()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_DEADLINE_S, cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    lines = out.splitlines()
    cp = [ln for ln in lines if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code})")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp[-1].strip()


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classpath, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap and ParallelGC, as the engine's own bench JVM, so heap
    # resizing does not move timings between runs
    return (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false",
               f"-Djava.io.tmpdir={tmp}",
               f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
               f"-Dderby.stream.error.file={os.path.join(WORK, 'derby.log')}",
               # Derby shares one compiled MERGE plan between connections
               # through its statement cache, and concurrent MERGEs from the
               # upsert's per-partition connections then race on that plan
               # (NullPointerException in MatchingClauseConstantAction);
               # without the cache each connection compiles its own plan
               "-Dderby.language.statementCacheSize=0",
               f"-Dgraft.repo.root={ROOT}",
               f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
               "-cp", classpath, "graftbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work", WORK, "--out", OUT, "--cores", str(cpus())])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    classpath = build()
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        code, out = run_bounded(java_cmd(classpath, args), RUN_DEADLINE_S, cwd=ROOT,
                                stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    lines = out.splitlines()
    sys.stdout.write("".join(ln + "\n" for ln in lines[:-1]))
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if code != 0 or not isinstance(result, dict) or \
            sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        fail(f"workload {args.workload} failed (exit {code})")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
