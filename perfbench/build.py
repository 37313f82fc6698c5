#!/usr/bin/env python3
"""Build file of the benchmark: compile the engine (src/main/scala) and the
benchmark harness (perfbench/src) into one class directory.

Uses the Scala compiler that ships in Spark's jars ($SPARK_HOME/jars), the
same jars the engine runs on, so the build needs no network and no sbt.
The output lives under .bench_build/ and is keyed by a hash of every
source file, so an unchanged tree is not rebuilt; builds of other trees
are kept, so switching between two trees does not rebuild either.

Usage: python3 perfbench/build.py    (prints the class directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        sys.exit("build: SPARK_HOME is not set (Spark 4.x / Scala 2.13 jars needed)")
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no scala-compiler jar in {jars}")
    return jars


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        sys.exit("build: engine sources (src/main/scala) not found")
    return engine + sorted((BENCH / "src").rglob("*.scala"))


def build() -> Path:
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".done").exists():
        return classes
    cp = str(spark_jars() / "*")
    tmp = OUT / "classes-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with code {r.returncode}")
    tmp.rename(classes)
    (classes / ".done").touch()
    return classes


if __name__ == "__main__":
    print(build())
