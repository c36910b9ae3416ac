"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala of the checkout) together
with the benchmark's own sources (perfbench/src) into one class
directory with the Scala compiler that ships in Spark's jar directory,
so no build tool or network is needed. The result is reused until a
source file changes.

    python3 perfbench/build.py          # from the root of a checkout
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BUILD_DIR = ".bench_build"
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(CLASSES, ".source-digest")


def spark_jars():
    """$SPARK_HOME/jars; without SPARK_HOME, the jar directory build.sbt
    names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        m = None
        if os.path.exists("build.sbt"):
            with open("build.sbt") as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found (at '{jars}'); set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit("build: no engine sources at src/main/scala/graft; "
                         "run from the root of a checkout of the repository")
    out = []
    for root in (ENGINE_SRC, os.path.join(BENCH_DIR, "src")):
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark jars."""
    return os.pathsep.join([CLASSES, ENGINE_RES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    files = sources()
    want = digest(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", jars,
           "@" + argfile]
    print(f"build: compiling {len(files)} sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=850)
    if res.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise SystemExit("build: scalac failed\n" + res.stdout[-4000:])
    with open(STAMP, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    build()
