#!/usr/bin/env python3
"""Build the benchmark: compile the library's sources (src/main/scala of
the checkout) together with the benchmark's own (perfbench/src) with the
Scala compiler that ships among the Spark jars. No sbt: a plain scalac
run writes nothing outside the build directory.

    python3 perfbench/build.py      # prints the classpath to run with

The build directory is $CARGO_TARGET_DIR if set, else .bench_build in
the checkout. A build is reused while the sources and the jar listing
are unchanged. The Spark jar directory is $PERFBENCH_JARS if set, else
the `unmanagedBase` that the repository's build.sbt names.
"""
import hashlib
import os
import re
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]


class BuildError(Exception):
    pass


def jars_dir():
    d = os.environ.get("PERFBENCH_JARS")
    if not d:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(sbt):
            raise BuildError("no build.sbt at the checkout root: not a checkout of the library")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase jar directory")
        d = m.group(1)
    if not os.path.isdir(d):
        raise BuildError(f"jar directory {d} does not exist")
    return d


def sources():
    found = []
    for top in SOURCES:
        if not os.path.isdir(top):
            raise BuildError(f"missing source directory {top}")
        for dirpath, _, names in os.walk(top):
            found += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def build():
    """Compile if needed; return the classpath (classes + jars)."""
    jars = jars_dir()
    srcs = sources()
    out = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    out = os.path.join(ROOT, out) if not os.path.isabs(out) else out
    classes = os.path.join(out, "perfbench-classes")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp_path = os.path.join(out, "perfbench-stamp")
    stamp = h.hexdigest()
    if not (os.path.isdir(classes) and os.path.isfile(stamp_path)
            and open(stamp_path).read() == stamp):
        tmp = classes + ".tmp"
        subprocess.run(["rm", "-rf", tmp, classes, stamp_path], check=True)
        os.makedirs(tmp)
        r = subprocess.run(
            ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        os.rename(tmp, classes)
        with open(stamp_path, "w") as f:
            f.write(stamp)
    return classes + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
