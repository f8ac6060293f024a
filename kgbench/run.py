#!/usr/bin/env python3
"""KG benchmark entry point.

    python3 kgbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the harness (the sbt project in this
directory, which compiles the engine through the root build) when its
sources are newer than the last build, then runs one workload in a fresh JVM
and relays its output; the last line of stdout is the JSON result. Workloads
and metrics are described in BENCHMARK.json at the repository root.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "kgbench.classpath")
RUN_TIMEOUT_S = 170

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
    print(f"[kgbench] {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    for f in files:
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compiles the harness and the engine; returns the runtime classpath."""
    if (os.path.exists(CLASSPATH_FILE)
            and os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime()):
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export kgbench/Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    sys.stderr.write(p.stdout[-4000:])
    if p.returncode != 0:
        fail(f"build failed (sbt exit {p.returncode})")
    lines = [l for l in p.stdout.splitlines()
             if os.pathsep in l and "kgbench" in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need}); run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    cp = build()
    work = os.path.join(TARGET, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # C1 only: every Pipeline.run compiles a few dozen fresh generated
           # classes, and C2 recompiling them in the background took a third
           # to a half of an op's CPU and made the same op's median differ by
           # up to 1.5x between JVMs; C1 compiles them cheaply. The code cache
           # is raised from C1's 48 MB default to leave room for them.
           + ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]
           + ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "kgbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep its scratch
    # files inside the work directory either way
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        # never leave the JVM behind when this process is told to stop
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        print(f"[kgbench] harness exited {proc.returncode}", file=sys.stderr)
        sys.exit(proc.returncode or 1)
    sys.stdout.write(out)
    sys.exit(0)


if __name__ == "__main__":
    main()
