"""Build file of the benchmark harness: compiles the graft library
(`src/main/scala`) together with the harness (`perfbench/harness`) into one
class directory, with the Scala compiler that ships among the Spark jars
named by the repository's `build.sbt` (`unmanagedBase`).

    python3 perfbench/build.py [--out DIR]

The build is skipped when a stamp of every source file's content matches
the last successful build's.
"""
import argparse
import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = os.path.join(ROOT, "perfbench", "harness")
DEFAULT_OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark jar directory, as the repository's build.sbt names it."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit("no graft sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HARNESS, "*.scala")))


def classpath(out):
    return os.path.join(out, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build(out=DEFAULT_OUT):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(out, exist_ok=True)
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"compile failed with exit code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=DEFAULT_OUT)
    build(ap.parse_args().out)
