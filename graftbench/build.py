#!/usr/bin/env python3
"""Build file of the graft benchmark package.

Compiles graft's main sources (``src/main/scala`` at the repository root)
together with the benchmark's own sources (``graftbench/src``) with the
Scala compiler that ships in the Spark distribution, and copies graft's
main resources next to the classes.  The output lands in
``.bench_build/graftbench-<digest>/`` under the repository root, keyed by
a digest of every input, so an unchanged tree is built once and a
changed tree never reuses an older build.

Usage: python3 graftbench/build.py        (prints the classes directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
MAIN_SCALA = os.path.join(ROOT, "src", "main", "scala")
MAIN_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
BUILD_ROOT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark distribution's jar directory, graft's only dependencies:
    `$SPARK_HOME/jars`, else the `unmanagedBase` graft's build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(sbt).read()) if os.path.isfile(sbt) else None
        if not m:
            raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no Spark jars at {jars}")
    return jars


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.join(d, n))
    return sorted(out)


def inputs():
    """Every file the build reads, as (kind, path) pairs."""
    if not os.path.isdir(MAIN_SCALA):
        raise SystemExit(f"build: graft sources not found at {MAIN_SCALA}")
    srcs = _files(MAIN_SCALA, ".scala") + _files(BENCH_SRC, ".scala")
    res = _files(MAIN_RESOURCES) if os.path.isdir(MAIN_RESOURCES) else []
    return srcs, res


def digest(srcs, res, jars):
    h = hashlib.sha256()
    for p in srcs + res + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for n in sorted(os.listdir(jars)):
        h.update(n.encode())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Return (classes_dir, digest, built_now)."""
    jars = spark_jars()
    srcs, res = inputs()
    key = digest(srcs, res, jars)
    out = os.path.join(BUILD_ROOT, f"graftbench-{key}")
    classes = os.path.join(out, "classes")
    if os.path.isfile(os.path.join(out, "_SUCCESS")):
        return classes, key, False
    staging = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(os.path.join(staging, "classes"))
    argfile = os.path.join(staging, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", os.path.join(staging, "classes"), "@" + argfile]
    print(f"build: compiling {len(srcs)} sources -> {out}", file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for p in res:
        dst = os.path.join(staging, "classes", os.path.relpath(p, MAIN_RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(staging, "_SUCCESS"), "w").close()
    if os.path.isfile(os.path.join(out, "_SUCCESS")):  # a concurrent build won
        shutil.rmtree(staging, ignore_errors=True)
    else:
        shutil.rmtree(out, ignore_errors=True)  # a partial dir left by a killed build
        os.rename(staging, out)
    return classes, key, True


if __name__ == "__main__":
    print(build()[0])
