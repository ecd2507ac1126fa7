#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark harness (perfbench/scala) into one class directory.

The engine's only dependencies are the Spark jars (the same unmanaged
jars the repo's build.sbt uses), and those jars ship the Scala 2.13
compiler, so the build runs scalac directly and needs no sbt and no
network. The output is reused while no source changed.

Usage: python3 perfbench/build.py    (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# No hsperfdata files outside the checkout.
NO_PERF_DATA = "-XX:-UsePerfData"
# Spark's JavaModuleOptions: a SparkSession started outside
# spark-submit on JDK 17 needs these opens (build.sbt passes the same).
JVM_OPTS = [NO_PERF_DATA] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


class BuildFailure(Exception):
    pass


def build_dir():
    """Where build outputs and run scratch live, inside the checkout."""
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the unmanagedBase
    declared in the repo's build.sbt."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildFailure("no Spark jars: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.is_file() else "java"


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((ROOT / "perfbench" / "scala").glob("*.scala"))
    if not engine:
        raise BuildFailure("no engine sources under src/main/scala")
    if not harness:
        raise BuildFailure("no harness sources under perfbench/scala")
    return engine + harness


def ensure():
    """Compile if any source changed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256(str(jars).encode())
    for s in srcs:
        digest.update(str(s.relative_to(ROOT)).encode())
        digest.update(s.read_bytes())
    stamp = digest.hexdigest()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    compiler = [next(iter(sorted(jars.glob(f"{n}-2.13.*.jar"))), None)
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    if None in compiler:
        raise BuildFailure(f"no Scala 2.13 compiler jars in {jars}")
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = [java(), NO_PERF_DATA, "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
           "-d", str(tmp)] + [str(s) for s in srcs]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=850)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildFailure("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


def classpath(classes):
    return os.pathsep.join([str(classes), str(spark_jars() / "*")])


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildFailure as e:
        print(e, file=sys.stderr)
        sys.exit(2)
