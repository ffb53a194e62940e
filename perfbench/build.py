"""Build file of the benchmark: compiles the program (``src/main/scala``)
together with the benchmark's own Scala sources (``perfbench/src``) using the
Scala compiler that ships in the Spark distribution, into
``perfbench/.build/classes-<digest>``. The digest covers every source file,
so an unchanged tree is never rebuilt and a changed one always is.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if not os.environ.get("SPARK_HOME"):
    raise SystemExit("perfbench: set SPARK_HOME to the Spark distribution")
SPARK_JARS = os.path.join(os.environ["SPARK_HOME"], "jars")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog + own


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def classpath(classes):
    return classes + os.pathsep + os.path.join(SPARK_JARS, "*")


def build(log=sys.stderr):
    """Return the classes directory for the current sources, compiling when
    needed."""
    files = sources()
    out_root = os.path.join(HERE, ".build")
    classes = os.path.join(out_root, "classes-" + digest(files))
    if os.path.exists(os.path.join(classes, "BUILT")):
        return classes
    if os.path.isdir(out_root):
        shutil.rmtree(out_root)
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(SPARK_JARS, "*")] + files
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: scalac failed with code {r.returncode}")
    open(os.path.join(classes, "BUILT"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
