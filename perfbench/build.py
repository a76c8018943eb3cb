#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/scala) with the Scala compiler that
ships among the Spark jars named by build.sbt's `unmanagedBase`.

    python3 perfbench/build.py      # prints the runtime classpath

Classes land in $CARGO_TARGET_DIR (default .bench_build) under the checkout
root; a stamp of every source's hash skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class BuildError(Exception):
    pass


def jars_dir():
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("build.sbt not found: not a checkout of the engine")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        raise BuildError(f"Spark jars directory {d!r} not found")
    return d


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/scala"):
        found += glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True)
    if not any("/src/main/scala/" in s for s in found):
        raise BuildError("src/main/scala holds no sources")
    return sorted(found)


def build(log=sys.stderr):
    """Compile if needed; return the classpath (classes first, then jars)."""
    jars = sorted(glob.glob(os.path.join(jars_dir(), "*.jar")))
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(os.path.relpath(p, ROOT).encode())
        if p.endswith(".scala"):
            h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    cp = os.pathsep.join([classes] + jars)
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jar_cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jar_cp, "scala.tools.nsc.Main",
           "-classpath", jar_cp, "-d", tmp, "-nowarn",
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} Scala sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
