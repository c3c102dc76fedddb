"""Build file of the benchmark.

Compiles the engine's sources (``src/main/scala``) together with the
benchmark's own (``perfbench/src``) with the Scala compiler that ships in the
Spark distribution's ``jars`` directory (``$SPARK_HOME/jars``), so no build
tool or download is needed. Classes go to ``.bench_build/perfbench/classes-<source hash>``; a
build is reused until a source file changes.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The Spark distribution's jars directory, ``$SPARK_HOME/jars``."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler in {jars!r}; "
                         "set SPARK_HOME to a Spark distribution")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: engine sources (src/main/scala) not found")
    return engine + bench


def build():
    """Returns the classes directory, compiling first if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes
    tmp = f"{classes}.tmp{os.getpid()}"
    os.makedirs(tmp)
    compiler = os.pathsep.join(glob.glob(os.path.join(jars, f"scala-{n}-*.jar"))[0]
                               for n in ("compiler", "library", "reflect"))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-usejavacp:false", "-classpath", os.path.join(jars, "*"),
         "-d", tmp, *srcs], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
