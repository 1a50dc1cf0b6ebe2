#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's main sources (`src/main/scala`) together with the
benchmark harness (`perfbench/scala`) into `<build_dir>/classes`, using the
Scala compiler that ships in Spark's jars (`$SPARK_HOME/jars`, or the jars
next to `spark-submit` on PATH). A digest of every source file is stored
with the classes, so an unchanged tree is not compiled again.

Usage: python3 perfbench/build.py [<build_dir>]   (default .bench_build/perfbench)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DEFAULT_BUILD = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not jars.is_dir():
        raise SystemExit("perfbench: Spark not found (set SPARK_HOME)")
    return jars


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"perfbench: program sources missing ({program})")
    files = sorted(program.rglob("*.scala")) + sorted((ROOT / "perfbench" / "scala").rglob("*.scala"))
    return files


def build(build_dir=DEFAULT_BUILD):
    """Returns the classes directory, compiling if any source changed."""
    build_dir = Path(build_dir)
    classes = build_dir / "classes"
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = build_dir / "classes.sha256"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", str(classes), "-nowarn",
           "-d", str(classes), "@" + str(argfile)]
    # run from the build directory: scalac also searches its working directory
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=build_dir)
    if res.returncode != 0:
        raise SystemExit("perfbench: compile failed")
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_BUILD))
