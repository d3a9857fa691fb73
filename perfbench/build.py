"""Build file of the benchmark: compiles the engine sources (src/main/scala)
and the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, into .bench_build/classes.

The build is skipped when the sources are unchanged since the last build
(a content hash is kept next to the classes). Spark is found through
SPARK_HOME, or through spark-submit on PATH.

    python3 perfbench/build.py      # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark distribution (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java (set JAVA_HOME)")
    return exe


def sources():
    found = []
    for base in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    engine = [f for f in found if "/src/main/scala/" in f]
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    return sorted(found)


def ensure():
    """Compile if needed; returns the classpath the benchmark runs with."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read().strip() == digest:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + OUT,
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-cp", os.path.join(jars, "*"), "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return cp


if __name__ == "__main__":
    ensure()
