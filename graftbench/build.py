"""Build file of the benchmark: compiles graft's sources and the harness.

graft is compiled from `src/main/scala` of the checkout together with
`graftbench/harness`, with the Scala compiler that ships among the jars of
the Spark installation (SPARK_HOME, or the one whose spark-submit is on
PATH), into `graftbench/.build/classes`. A stamp over every source file's
path and bytes skips the build when nothing changed.

    python3 graftbench/build.py      # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")
CLASSES = os.path.join(OUT, "classes")


def _spark_home():
    """SPARK_HOME, else the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("graftbench: set SPARK_HOME to a Spark 4 installation")
    return home


SPARK_JARS = os.path.join(_spark_home(), "jars")


def classpath():
    return CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")


def sources():
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        raise SystemExit(f"graftbench: no graft sources at {src}; "
                         "run from the root of a graft checkout")
    files = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "harness", "*.scala")))
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"graftbench: compiling {len(files)} files", file=log, flush=True)
    subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
         "@" + argfile],
        check=True, stdout=log, stderr=log, timeout=840)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    build()
