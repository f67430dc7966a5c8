"""Build file of the benchmark package: compiles the engine from the
checkout's sources (``src/main/scala``) together with the benchmark's own
harness (``cubebench/src``) with the Scala compiler that ships with Spark,
into ``$CARGO_TARGET_DIR`` (default ``.bench_build``) at the checkout root.

A build is skipped when a stamp of every source file's path and contents
matches the last one, so only the first run in a checkout compiles.

    python3 cubebench/build.py        # build, print the classes directory
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALA_VERSION = "2.13.17"


def spark_jars():
    """The Spark jar directory the engine's own build compiles against
    (`unmanagedBase` in build.sbt), else `$SPARK_HOME/jars`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("build: build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit("build: no engine sources at %s" % engine)
    found = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return found


def out_dir():
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT if not os.path.isabs(target) else "", target)


def ensure():
    """Return the classes directory, compiling first if sources changed."""
    srcs = sources()
    h = hashlib.sha256(SCALA_VERSION.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    target = out_dir()
    classes = os.path.join(target, "classes")
    stamp_file = os.path.join(target, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    compiler = [os.path.join(jars, "scala-%s-%s.jar" % (n, SCALA_VERSION))
                for n in ("compiler", "library", "reflect")]
    for j in compiler:
        if not os.path.exists(j):
            raise SystemExit("build: missing %s" % j)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("build: scalac failed (%d)" % r.returncode)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(ensure())
