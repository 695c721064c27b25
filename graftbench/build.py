#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (graftbench/harness) with the Scala compiler that ships in Spark's
jars, into .bench_build/classes-<hash of the sources>. A build whose sources
are unchanged is reused.

Usage: python3 graftbench/build.py     (prints the run-time classpath)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def _spark_jars():
    """$SPARK_HOME/jars, else the jars directory next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    return Path(home or ".") / "jars"


SPARK_JARS = _spark_jars()
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "graftbench" / "harness"]
RESOURCES = ROOT / "src" / "main" / "resources"


class BuildError(Exception):
    pass


def sources():
    files = sorted(p for d in SOURCE_DIRS if d.is_dir() for p in d.rglob("*.scala"))
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        raise BuildError(f"program sources not found under {ROOT / 'src' / 'main' / 'scala'}")
    if not any(p.name == "Harness.scala" for p in files):
        raise BuildError("harness sources not found")
    if not SPARK_JARS.is_dir():
        raise BuildError(f"Spark jars not found at {SPARK_JARS}")
    return files


def classpath(classes):
    parts = [str(classes)]
    if RESOURCES.is_dir():
        parts.append(str(RESOURCES))
    parts.append(str(SPARK_JARS / "*"))
    return os.pathsep.join(parts)


def ensure_built(log=sys.stderr):
    """Returns the run-time classpath, compiling first if the sources changed."""
    files = sources()
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    classes = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (classes / "BUILD_OK").is_file():
        return classpath(classes)
    BUILD.mkdir(exist_ok=True)
    staging = BUILD / f"staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir()
    print(f"[graftbench] compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", str(SPARK_JARS / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-classpath", str(SPARK_JARS / "*")] + [str(p) for p in files]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    (staging / "BUILD_OK").write_text("ok\n")
    staging.rename(classes)
    return classpath(classes)


if __name__ == "__main__":
    try:
        print(ensure_built())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
