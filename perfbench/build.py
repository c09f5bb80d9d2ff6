#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own sources into one class directory with the Scala
compiler that ships among the Spark jars. No sbt, no network.

    python3 perfbench/build.py          # from the repository root

The Spark jars are the ones the project's own build.sbt names as its
`unmanagedBase` ($SPARK_JARS overrides). The build is skipped when a
stamp over every source file matches the last build. Output goes to
$CARGO_TARGET_DIR (default `.bench_build`).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def classpath(root):
    """The Spark jars (which include the Scala compiler), as a classpath."""
    jars = os.environ.get("SPARK_JARS")
    if not jars:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise SystemExit("graftbench: no unmanagedBase in build.sbt; set SPARK_JARS")
    return os.path.join(jars, "*")


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    found = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(found)


def build(root):
    """Compile if needed; return the class directory and the stamp of
    the sources it was compiled from."""
    srcs = sources(root)
    if not any("/src/main/scala/graft/" in s for s in srcs):
        raise SystemExit("graftbench: graft sources not found under src/main/scala")
    stamp = hashlib.sha256()
    for s in srcs:
        with open(s, "rb") as f:
            stamp.update(s.encode() + b"\0" + f.read())
    out = os.path.join(build_dir(root), "classes")
    stamp_file = os.path.join(build_dir(root), "classes.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp.hexdigest():
                return out, stamp.hexdigest()
        os.remove(stamp_file)
    shutil.rmtree(out, ignore_errors=True)  # no classes of deleted sources
    os.makedirs(out)
    cp = classpath(root)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", cp] + srcs
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit("graftbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp.hexdigest())
    return out, stamp.hexdigest()


if __name__ == "__main__":
    print(build(os.getcwd())[0])
