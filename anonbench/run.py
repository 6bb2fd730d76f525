#!/usr/bin/env python3
"""Run one workload of the anonymization benchmark and print its result.

    python3 anonbench/run.py --workload anon_dbscan_cc --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. The first run compiles the engine's sources
(src/main/scala) together with the benchmark's own into anonbench/target;
later runs reuse that build until a source file changes. Each run starts
one JVM, which prints the result as the last line of standard output:

    {"correct": true, "attempted": 6, "failed": 0, "metrics": {...}}

`--workload all` runs every workload in turn and prints one result line
each. Exit status is non-zero, with no result line, when the engine's
sources are missing, the build fails, or no job of the run succeeds.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(BENCH, ".work")
BUILD_INFO = os.path.join(BENCH, "target", "anonbench-build.json")
WORKLOADS = ("anon_dbscan_cc", "anon_dbscan_scc", "anon_kmeans")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

# Spark 4 on JDK 17 needs these when it is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"
SBT = shutil.which("sbt")
JAVA = (os.path.join(os.environ["JAVA_HOME"], "bin", "java")
        if os.environ.get("JAVA_HOME") else "java")


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the first Spark installation (a directory with bin/
    spark-submit and jars/) found through PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("anonbench: no Spark installation; set SPARK_HOME")


def sbt_env():
    if SBT is None:
        raise SystemExit("anonbench: sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def finish(proc, timeout, what):
    """Wait for `proc`; on a timeout or any interruption, kill its whole
    process group and wait for it before giving up."""
    try:
        stdout, _ = proc.communicate(timeout=timeout)
        return proc.returncode, stdout
    except BaseException as e:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            raise SystemExit("anonbench: %s did not finish in %ds"
                             % (what, timeout))
        raise


def build():
    """Compile if any source changed since the last build; return the
    runtime classpath."""
    want = stamp()
    if os.path.isfile(BUILD_INFO):
        with open(BUILD_INFO) as fh:
            info = json.load(fh)
        if info.get("stamp") == want:
            return info["classpath"]
    print("anonbench: compiling", file=sys.stderr, flush=True)
    code, stdout = finish(subprocess.Popen(
        [SBT, "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, start_new_session=True),
        BUILD_TIMEOUT_S, "the build")
    cp = [l for l in stdout.splitlines()
          if ".jar" in l and not l.startswith("[")]
    if code != 0 or not cp:
        sys.stderr.write(stdout[-4000:])
        raise SystemExit("anonbench: build failed")
    os.makedirs(os.path.dirname(BUILD_INFO), exist_ok=True)
    with open(BUILD_INFO, "w") as fh:
        json.dump({"stamp": want, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip()


def run_one(classpath, workload, seed, seconds, trace, rows):
    run_dir = os.path.join(WORK, "run-%d" % os.getpid())
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cmd = ([JAVA]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Xms" + HEAP, "-Xmx" + HEAP,
              "-Djava.io.tmpdir=" + tmp,
              "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
              "-cp", classpath, "anonbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--work", run_dir])
    if rows is not None:
        cmd += ["--rows", str(rows)]
    try:
        code, stdout = finish(subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
            start_new_session=True), RUN_TIMEOUT_S, workload)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = stdout.rstrip("\n").splitlines()
    if code != 0 or not lines:
        raise SystemExit("anonbench: %s exited with %d" % (workload, code))
    result = json.loads(lines[-1])
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        raise SystemExit("anonbench: malformed result line: " + lines[-1])
    return lines[:-1], result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int,
                    help="input rows instead of the workload's own size")
    args = ap.parse_args()
    # a terminated run still stops the JVM or build it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("anonbench: engine sources not found under %s"
                         % ENGINE_SRC)
    classpath = build()
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    for name in names:
        notes, result = run_one(classpath, name, args.seed, args.seconds,
                                args.trace, args.rows)
        for line in notes:
            print(line)
        print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
