#!/usr/bin/env python3
"""User-operation benchmark for the graft ETL / correlation / curation CLI.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source with sbt (once per
source state; the classpath is cached under perfbench/out/), then runs
perfbench.Bench in one JVM and relays its result as the last line of
standard output: {"correct", "attempted", "failed", "metrics"}.

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ("ingest_incremental", "curate_corpus")

# JVM flags the program's own build passes to forked runs: Spark on
# JDK 17 needs the module opens, and wide generated methods need the
# JIT size limit lifted.
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so edits trigger a rebuild."""
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt and returns the runtime classpath."""
    stamp = source_stamp()
    cache = os.path.join(OUT, "classpath.txt")
    if os.path.exists(cache):
        with open(cache) as fh:
            cached_stamp, cp = fh.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(cache, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def jvm(cp, main, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = str(min(4, os.cpu_count() or 1))
    cmd = ["java"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:-DontCompileHugeMethods", "-XX:ReservedCodeCacheSize=512m",
            # Spark's periodic cleaner calls System.gc(); a stop-the-world
            # full collection there would land at random in a timed call
            "-XX:+ExplicitGCInvokesConcurrent",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main] + args + ["--cores", cores]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores)
    proc = subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, text=True)
    return proc.returncode, proc.stdout


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true",
                   help="check that the output checks reject corrupted outputs")
    a = p.parse_args()
    if not a.selftest and not a.workload:
        p.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: run from a checkout of the repository "
                         "(the program's sources are not here)")
    cp = build()
    name = "selftest" if a.selftest else f"{a.workload}-seed{a.seed}"
    work = os.path.join(OUT, f"run-{name}-{os.getpid()}")
    os.makedirs(work)
    try:
        if a.selftest:
            code, out = jvm(cp, "perfbench.SelfTest", ["--work", work], work)
        else:
            code, out = jvm(cp, "perfbench.Bench",
                            ["--workload", a.workload, "--seed", str(a.seed),
                             "--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--work", work], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        raise SystemExit(f"perfbench: run failed (exit {code})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
