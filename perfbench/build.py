#!/usr/bin/env python3
"""Builds the benchmark: compiles the repo's main sources together with
perfbench/src into perfbench/.build/classes with the Scala compiler that
ships in the Spark jars dir. Skips the compile when no source changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / ".build"
CLASSES = OUT / "classes"
STAMP = OUT / "stamp"
# the Spark install the program runs on: $SPARK_HOME, else spark-submit's
SPARK_HOME = os.environ.get("SPARK_HOME") or (
    shutil.which("spark-submit") and str(Path(shutil.which("spark-submit")).resolve().parent.parent))
SPARK_JARS = Path(SPARK_HOME or "spark-home-not-found") / "jars"
SCALA = "2.13.17"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"build: no program sources at {main}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Returns the runtime classpath, compiling first if needed."""
    if not SPARK_JARS.is_dir():
        raise SystemExit("build: no Spark jars dir; set SPARK_HOME")
    files = sources()
    stamp = digest(files)
    cp = f"{CLASSES}{os.pathsep}{SPARK_JARS}/*"
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return cp
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = os.pathsep.join(str(SPARK_JARS / f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-d", str(tmp), "-classpath", f"{SPARK_JARS}/*", "-nowarn",
           *map(str, files)]
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(stamp)
    return cp


if __name__ == "__main__":
    build()
