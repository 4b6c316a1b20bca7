"""Build file of the graft benchmark.

Compiles graft's sources (``src/main/scala``) together with the
benchmark harness (``graftbench/scala``) with the Scala compiler that
ships in Spark's jars directory, into ``.bench_build/classes`` at the
root of the checkout.  A build is skipped when the stamp of the last one
matches the sources.  sbt is not used: it keeps state outside the
checkout, and one compiler call builds both in under half a minute.

``python3 graftbench/build.py`` builds and prints the classpath.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
HARNESS = os.path.join(ROOT, "graftbench", "scala")
PROGRAM = os.path.join(ROOT, "src", "main", "scala")


def spark_jars():
    """Spark's jars directory: ``$SPARK_HOME/jars``, or the first
    ``bin/../jars`` next to a ``spark-submit`` on ``PATH`` that holds a
    Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    program = sorted(glob.glob(os.path.join(PROGRAM, "**", "*.scala"), recursive=True))
    if not program:
        raise SystemExit("no program sources under %s" % PROGRAM)
    harness = sorted(glob.glob(os.path.join(HARNESS, "**", "*.scala"), recursive=True))
    return program + harness


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Compile if needed; return the JVM classpath."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == want):
        tmp = CLASSES + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", cp] + files
        done = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if done.returncode != 0:
            raise SystemExit("compilation failed (exit %d)" % done.returncode)
        with open(os.path.join(tmp, ".stamp"), "w") as f:
            f.write(want)
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.rename(tmp, CLASSES)
    return CLASSES + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(build())
