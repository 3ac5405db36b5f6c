#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main) together with
the benchmark's Scala sources (perfbench/src) into .bench_build/classes,
straight with javac and the Scala compiler that ship in the Spark jars — no
sbt, so a build reads only the checkout and the Spark jars and writes only
.bench_build. A build is skipped when the sources hash to the stamp of the
last one.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the first PATH entry
    whose ../jars holds a Spark distribution (pip's pyspark shims do not)."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in filter(None, homes):
        jars = sorted((Path(home) / "jars").glob("*.jar"))
        if any(j.name.startswith("spark-core_") for j in jars):
            return [str(j) for j in jars]
    raise SystemExit("perfbench: no Spark jars found; set SPARK_HOME")


def sources():
    java = sorted((ROOT / "src" / "main" / "java").rglob("*.java"))
    scala = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    if not scala or not bench:
        raise SystemExit("perfbench: engine sources (src/main/scala) or benchmark "
                         "sources (perfbench/src) are missing; run from a checkout")
    return java, scala + bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark."""
    return os.pathsep.join([str(CLASSES), str(RESOURCES)] + spark_jars())


def build():
    java, scala = sources()
    want = stamp(java + scala)
    stamp_file = CLASSES / "STAMP"
    if stamp_file.exists() and stamp_file.read_text() == want:
        return
    jars = spark_jars()
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join([str(tmp)] + jars)
    if java:
        subprocess.run(["javac", "-encoding", "UTF-8", "-nowarn",
                        "--add-modules", "jdk.incubator.vector",
                        "-d", str(tmp), "-cp", cp] + [str(f) for f in java],
                       check=True, stdout=sys.stderr)
    args = OUT / "scalac.args"
    args.write_text("\n".join(["-encoding", "UTF-8", "-nowarn", "-d", str(tmp),
                               "-classpath", cp] + [str(f) for f in scala]) + "\n")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
                    "scala.tools.nsc.Main", f"@{args}"], check=True, stdout=sys.stderr)
    (tmp / "STAMP").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)


if __name__ == "__main__":
    build()
