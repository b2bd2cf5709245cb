"""Build file of the benchmark.

Compiles the program under test (src/main/scala at the repository root)
together with the benchmark's own sources (perfbench/src) with the Scala
compiler that ships in Spark's jars directory, into perfbench/target. The
build is skipped when no source changed since the last one, so only the
first run in a checkout pays for it.

    python3 perfbench/build.py [--tests]

`--tests` also compiles perfbench/test into a separate output directory.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
MAIN_SOURCES = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME")
    return exe


def _scala_files(d):
    if not os.path.isdir(d):
        raise BuildError(f"source directory {os.path.relpath(d, ROOT)} is missing")
    files = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no sources under {os.path.relpath(d, ROOT)}")
    return files


def _compile(files, out, classpath):
    """scalac `files` into `out`, unless the recorded digest says `out` is current."""
    digest = hashlib.sha256(classpath.encode())
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{name}-2.13*.jar")) for name in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError("scala-compiler, scala-library or scala-reflect jar missing from Spark's jars")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={TARGET}",
           "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile]
    if subprocess.run(cmd).returncode != 0:
        raise BuildError(f"compilation into {os.path.relpath(out, ROOT)} failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())


def build(tests=False):
    """Build and return the runtime classpath."""
    jars = os.path.join(spark_jars(), "*")
    classes = os.path.join(TARGET, "classes")
    _compile(_scala_files(MAIN_SOURCES) + _scala_files(os.path.join(HERE, "src")), classes, jars)
    cp = [classes, RESOURCES, jars]
    if tests:
        test_classes = os.path.join(TARGET, "test-classes")
        _compile(_scala_files(os.path.join(HERE, "test")), test_classes, os.pathsep.join([classes, jars]))
        cp.insert(0, test_classes)
    return os.pathsep.join(cp)


if __name__ == "__main__":
    try:
        build(tests="--tests" in sys.argv[1:])
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
