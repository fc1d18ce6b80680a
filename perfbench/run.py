#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload adtech_etl --seed 1 --seconds 12 --trace 0

The first run in a checkout compiles the engine's sources together with the
benchmark (an sbt project in this directory) and caches the classpath under
perfbench/target; later runs start the JVM directly. The last line on stdout
is the result object. Scratch data lives under perfbench/work and is removed
when the run ends; per-run details (ops, failures, spans) go to perfbench/out.
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CP_CACHE = os.path.join(BENCH, "target", "perfbench-classpath.txt")
WORKLOADS = ("adtech_etl", "curation_sweep")
JVM_RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars the engine builds against: $SPARK_HOME/jars, else the
    directory the root build.sbt names as its unmanaged base."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    return None


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath(jars):
    """Compile (once per source state) and return the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CP_CACHE):
        with open(CP_CACHE) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    log("building the engine and the benchmark (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           f"-Dperfbench.sparkJars={jars}", "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(p.stdout[-4000:])
    if p.returncode != 0:
        raise SystemExit(f"[perfbench] build failed (sbt exit {p.returncode})")
    cps = [l.strip() for l in p.stdout.splitlines()
           if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if not cps:
        raise SystemExit("[perfbench] build printed no classpath")
    os.makedirs(os.path.dirname(CP_CACHE), exist_ok=True)
    with open(CP_CACHE, "w") as f:
        f.write(f"{stamp}\n{cps[-1]}\n")
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"[perfbench] engine sources not found under {ENGINE_SRC}; "
                         "run from a full checkout of the repository")
    jars = spark_jars()
    if jars is None:
        raise SystemExit("[perfbench] Spark jars not found: set SPARK_HOME")
    cp = classpath(jars)

    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    work = os.path.join(BENCH, "work", f"{tag}-{os.getpid()}")
    out = os.path.join(BENCH, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse")]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
              "--detail", os.path.join(out, f"detail-{tag}.json")]
           + (["--spans", os.path.join(out, f"spans-{tag}.jsonl")] if args.trace else []))
    try:
        p = subprocess.run(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           text=True, timeout=JVM_RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"[perfbench] run exceeded {JVM_RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = p.stdout.strip().splitlines()
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if p.returncode != 0 or not lines:
        # a failed output check still reports its result line, then exits non-zero
        if lines:
            print(lines[-1])
        raise SystemExit(p.returncode or 1)
    print(lines[-1])


if __name__ == "__main__":
    main()
