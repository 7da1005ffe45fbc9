"""Builds the engine's current sources together with the benchmark.

The engine (`src/main/scala` at the repository root) and the benchmark
(`e2ebench/src`, `e2ebench/test`) are compiled in one pass with the Scala
compiler that ships in Spark's `jars/` directory, into
`e2ebench/target/classes`. A stamp holding the SHA-256 of every source
file decides whether the classes are current; any change to any source
rebuilds from scratch, so a run never measures classes left by another
build.

    python3 e2ebench/build.py      # build if stale, print the classpath
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
BENCH_SRC = [os.path.join(HERE, "src"), os.path.join(HERE, "test")]
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "sources.sha256")
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    """The directory of Spark's jars: $SPARK_HOME/jars, else the one
    beside the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources missing: {ENGINE_SRC}")
    out = []
    for top in [ENGINE_SRC] + BENCH_SRC:
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(jars):
    return CLASSES + os.pathsep + os.path.join(jars, "*")


def build():
    """Compiles if the sources changed; returns (classpath, digest, built).
    Concurrent callers wait for one another, so none reads half-written
    classes."""
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    jars = spark_jars()
    files = sources()
    want = digest(files)
    if os.path.isfile(STAMP) and os.path.isdir(CLASSES):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return classpath(jars), want, False
    shutil.rmtree(CLASSES, ignore_errors=True)
    if os.path.exists(STAMP):
        os.remove(STAMP)
    os.makedirs(CLASSES)
    compiler = [os.path.join(jars, f"scala-{n}-{SCALA_VERSION}.jar")
                for n in ("compiler", "library", "reflect")]
    missing = [c for c in compiler if not os.path.isfile(c)]
    if missing:
        raise BuildError(f"Scala {SCALA_VERSION} compiler jars missing: {missing}")
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={TARGET}", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
           "-classpath", os.path.join(jars, "*"), "-d", CLASSES, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise BuildError("compile failed:\n" + res.stdout[-8000:])
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return classpath(jars), want, True


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
