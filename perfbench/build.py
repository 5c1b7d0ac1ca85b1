"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own into .bench_build/perfbench/classes, with the Scala
compiler and the Spark jars under SPARK_HOME (default /opt/spark), the same
jars the engine's sbt build compiles against. Rebuilds only when a source
changed.

    python3 perfbench/build.py        # from the repository root
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ENGINE_SRC = Path("src/main/scala")
BENCH_SRC = Path("perfbench/src")
OUT = Path(".bench_build/perfbench")


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no Scala compiler among the Spark jars in {jars}")
    return str(jars / "*")


def sources():
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not any(ENGINE_SRC.rglob("*.scala")):
        sys.exit(f"build: no engine sources under {ENGINE_SRC}; run from the repository root")
    return files


def build():
    """Compile if needed; returns the classpath to run the benchmark with."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = OUT / "stamp"
    classes = OUT / "classes"
    classpath = f"{classes.resolve()}{os.pathsep}{jars}"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classpath
    if stamp.exists():
        stamp.unlink()
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(classes), "-classpath", jars] + [str(f) for f in files],
        check=True, stdout=sys.stderr)
    stamp.write_text(digest.hexdigest())
    return classpath


if __name__ == "__main__":
    print(build())
