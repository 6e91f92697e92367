#!/usr/bin/env python3
"""End-to-end benchmark of the graft backfill, run from the repository root.

    python3 e2ebench/run.py --workload backfill_states --seed 1 --seconds 10 --trace 0

Builds the benchmark (this directory's sbt project, which compiles the
program's sources under src/main unmodified) when the sources changed since
the last build, then runs one workload in a fresh JVM and prints its result.
The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. Build and run output stays under e2ebench/target/.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")

WORKLOADS = ["backfill_states", "backfill_remote", "reverse_statistics", "analytics_mix"]
# A fixed heap and a fixed young generation: the heap never resizes, so the
# peak resident set follows what the run retains, not the collector's sizing.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
RUN_TIMEOUT_S = 170
# analytics_mix runs by hand over a large fixture; one pass takes tens of seconds
ANALYTICS_TIMEOUT_S = 900

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
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build: program and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    stamp = source_stamp()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    print("e2ebench: building", file=sys.stderr)
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--data", help="fixture directory of parquet tables (analytics_mix)")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not beside this benchmark")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(TARGET, "work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_MEMORY + [f"-Djava.io.tmpdir={tmp}", f"-De2ebench.home={HERE}",
                                  "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--cores", str(cores),
            "--work", work, "--out", os.path.join(TARGET, "traces")]
    if a.data:
        cmd += ["--data", os.path.abspath(a.data)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True)
    timeout = ANALYTICS_TIMEOUT_S if a.workload == "analytics_mix" else RUN_TIMEOUT_S
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {timeout} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"run failed (java exit {proc.returncode})")
    print(lines[-1])


if __name__ == "__main__":
    main()
