"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) into `perfbench/.work/classes`, with
the Scala compiler that ships in the Spark distribution's jar directory
(the same jars the program runs on). A build is skipped when the
digest of every source file matches the last successful build.

    python3 perfbench/build.py      # build, print the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(WORK, "classes")
STAMP = os.path.join(WORK, "classes.sha256")


def spark_home():
    """SPARK_HOME, or else the first Spark distribution (a directory with
    bin/spark-submit and jars/) whose bin directory is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    raise SystemExit("Spark not found: set SPARK_HOME or put its bin directory on PATH")


SPARK_JARS = os.path.join(spark_home(), "jars")
# Every JVM started here and every JVM it forks: no hsperfdata files in
# the system temporary directory.
JAVA_ENV = dict(os.environ, JAVA_TOOL_OPTIONS=(
    os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip())
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def sources():
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(classes=CLASSES):
    return classes + os.pathsep + os.path.join(SPARK_JARS, "*")


def build():
    """Compile if any source changed; return the classes directory."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit(f"program sources not found under {PROGRAM_SRC}")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"Spark jars not found under {SPARK_JARS}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-encoding", "UTF-8",
           "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       env=JAVA_ENV)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"compile failed (exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return CLASSES


if __name__ == "__main__":
    print(build())
