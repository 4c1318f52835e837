#!/usr/bin/env python3
"""Build file of the RAG benchmark.

Compiles the engine sources (src/main/scala) together with the benchmark's
own sources (ragbench/src) into .bench_build/ragbench/classes, using the
Scala 2.13 compiler that ships in Spark's jar directory ($SPARK_HOME/jars, or
the jars next to the spark-submit on PATH). A stamp file holds a hash of every
source, so an unchanged tree is not compiled twice.

    python3 ragbench/build.py            # build if stale, print the class dir
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "ragbench" / "src"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
OUT = ROOT / ".bench_build" / "ragbench"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BuildError("SPARK_HOME is unset and spark-submit is not on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-2.13*.jar")):
        raise BuildError(f"no Scala 2.13 compiler jar in {jars}")
    return jars


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources missing: {ENGINE_SRC.relative_to(ROOT)}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def classpath(jars: Path) -> str:
    return f"{OUT / 'classes'}{os.pathsep}{jars}/*"


def build() -> Path:
    """Compiles when the sources changed; returns the class directory."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return classes
    shutil.rmtree(OUT, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = [str(next(jars.glob(f"{name}-2.13*.jar")))
                for name in ("scala-compiler", "scala-library", "scala-reflect")]
    args_file = OUT / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", f"{jars}/*", f"@{args_file}"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
