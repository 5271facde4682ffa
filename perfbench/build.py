"""Build file of the lake benchmark: compiles the program's sources
(src/main/scala) together with the harness (perfbench/src) with the
Scala compiler that ships with Spark (in $SPARK_HOME/jars, the jars the
program's build.sbt compiles against), into .bench_build/classes.

    python3 perfbench/build.py          # from the repository root

A stamp of the sources' contents skips the compile when nothing changed.
Exits non-zero, printing the compiler's output to stderr, if the build
fails or the program's sources are missing.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_home():
    """SPARK_HOME, else the installation that holds spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


SPARK_JARS = os.path.join(spark_home(), "jars")
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SCALA_VERSION = "2.13.17"


def sources():
    found = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "perfbench", "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def spark_jars():
    return sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS)
                  if j.endswith(".jar"))


def build():
    """Returns the classes directory, compiling first if needed."""
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        raise SystemExit("build: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return CLASSES
    os.makedirs(CLASSES, exist_ok=True)
    for d, _, files in os.walk(CLASSES, topdown=False):
        for f in files:
            os.remove(os.path.join(d, f))
    compiler = [os.path.join(SPARK_JARS, f"scala-{p}-{SCALA_VERSION}.jar")
                for p in ("compiler", "library", "reflect")]
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.pathsep.join(spark_jars()), "-d", CLASSES,
           "@" + args_file]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-20000:])
        raise SystemExit(f"build: scalac exited {p.returncode}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
