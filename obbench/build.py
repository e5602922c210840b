"""Build file of the benchmark package.

Compiles the library sources (`src/main/scala`) together with the
benchmark sources (`obbench/src/main/scala`) with the Scala compiler that
ships in the Spark distribution, into `.bench_build/classes` under the
repository root. A stamp of the sources' content skips the compile when
nothing changed. Needs `java` and a Spark distribution (`$SPARK_HOME`, or
the one whose `spark-submit` is on PATH); nothing is fetched.

    python3 obbench/build.py        # build (or confirm the build is current)
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
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
COMPILE_TIMEOUT_S = 600


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found")
    return exe


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
              if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def sources():
    lib = sorted(glob.glob(os.path.join(LIB_SRC, "**", "*.scala"), recursive=True))
    if not lib:
        raise BuildError(f"library sources not found under {LIB_SRC}")
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not bench:
        raise BuildError(f"benchmark sources not found under {BENCH_SRC}")
    return lib + bench


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Compile if the sources changed; returns the classes directory."""
    files = sources()
    jars = spark_jars()
    want = stamp(files, jars)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp_file):
            with open(stamp_file) as fh:
                if fh.read().strip() == want:
                    return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD_DIR, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(f'"{f}"' for f in files))
        cmd = [java(), "-Xss16m", "-Xmx3g", "-cp", jars + "/*",
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", tmp, "@" + argfile]
        print(f"obbench: compiling {len(files)} sources", file=sys.stderr)
        try:
            r = subprocess.run(cmd, cwd=ROOT, timeout=COMPILE_TIMEOUT_S,
                               stdout=sys.stderr)
        except subprocess.TimeoutExpired:
            raise BuildError("compile timed out")
        if r.returncode != 0:
            raise BuildError(f"compile failed ({r.returncode})")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(want + "\n")
        return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"obbench: {e}", file=sys.stderr)
        sys.exit(2)
