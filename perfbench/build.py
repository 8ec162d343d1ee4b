#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with this directory's JVM harness (perfbench/src) into
one classes directory, with the Scala compiler that ships in Spark's jar
directory. No sbt and no dependency resolution: the program's only
compile-time dependencies are Spark's jars (build.sbt's unmanagedBase).

    python3 perfbench/build.py        # from the checkout root

The build is skipped when a stamp of every source file matches the last
successful build. Prints the classes directory on stdout.
"""
import hashlib
import os
import re
import subprocess
import sys

OUT = ".bench_build"
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]


def sources():
    out = []
    for root in SOURCE_ROOTS:
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build_sbt(pattern):
    """The first group of `pattern` in the program's build.sbt, or None."""
    m = re.search(pattern, open("build.sbt").read())
    return m.group(1) if m else None


def spark_jars():
    """Spark's jar directory: build.sbt's unmanagedBase, else $SPARK_HOME/jars."""
    return (build_sbt(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')
            or os.path.join(os.environ["SPARK_HOME"], "jars"))


def spark_classpath():
    jars = spark_jars()
    return ":".join(sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))


def stamp(files, scala):
    h = hashlib.sha256(scala.encode())
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed; return the classes directory."""
    if not all(os.path.isdir(r) for r in SOURCE_ROOTS):
        raise SystemExit("perfbench/build.py: run from the checkout root "
                         f"(needs {', '.join(SOURCE_ROOTS)})")
    files = sources()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    scala = build_sbt(r'scalaVersion\s*:=\s*"([^"]+)"')
    want = stamp(files, scala)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    jar = lambda n: os.path.join(spark_jars(), f"scala-{n}-{scala}.jar")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g",
           "-cp", ":".join(jar(n) for n in ("compiler", "library", "reflect")),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", spark_classpath(), "-d", classes,
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1))] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench/build.py: scalac failed ({r.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    print(build())
