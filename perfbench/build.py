"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's JVM harness (perfbench/scala) into one class directory.

It calls the Scala 2.13 compiler that ships in Spark's jar directory
($SPARK_HOME/jars, default /opt/spark/jars), so no build tool or download is
needed. The output is reused while no source file changes.

Usage: python3 perfbench/build.py     (from the repository root)
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(WORK, "classes")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(log=sys.stderr):
    """Compiles unless the class directory matches the current sources.
    Concurrent callers wait on a lock instead of compiling over each other."""
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        _build(log)


def _build(log):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(WORK, "classes.sha256")
    digest = h.hexdigest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print("perfbench: compiling %d Scala files" % len(srcs), file=log, flush=True)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + srcs
    done = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if done.returncode != 0:
        raise SystemExit("perfbench: compile failed (exit %d)" % done.returncode)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    build()
