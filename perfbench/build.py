#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala at the
repository root) together with the benchmark's own sources (perfbench/src)
into perfbench/.build/classes, with the Scala compiler and the jars of the
Spark installation found through SPARK_HOME (or spark-submit on PATH).

    python3 perfbench/build.py        # prints the runtime classpath

A content hash of every source is kept beside the classes, so an unchanged
tree is not compiled again.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "stamp"


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler: set SPARK_HOME")
    return jars


def sources() -> list:
    lib = ROOT / "src" / "main" / "scala"
    own = HERE / "src"
    if not lib.is_dir():
        raise BuildError(f"library sources not found under {lib.relative_to(ROOT)}")
    files = sorted(lib.rglob("*.scala")) + sorted(own.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def stamp_of(files: list, jars: Path) -> str:
    h = hashlib.sha256(str(jars).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(jars: Path) -> str:
    return os.pathsep.join([str(CLASSES), str(jars / "*")])


def ensure_built() -> str:
    """Compiles if any source changed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files, jars)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return classpath(jars)
    staging = BUILD / "staging"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(f'"{f}"' for f in files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-classpath", str(jars / "*"), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("compilation failed:\n" + res.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    staging.rename(CLASSES)
    STAMP.write_text(stamp)
    return classpath(jars)


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
