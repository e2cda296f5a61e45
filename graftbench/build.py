"""Build file of the benchmark: compiles the library (`src/main/scala` of
the checkout) and the harness (`graftbench/src`) with the Scala compiler
that ships in Spark's `jars/` directory. Nothing is downloaded and
nothing is written outside `graftbench/.build/`. A content hash of the
sources skips the build when nothing changed.

    python3 graftbench/build.py      # prints the runtime classpath
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: no Spark jars/ with a Scala compiler (set SPARK_HOME)")
    return jars


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, out, classpath, files):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed for %s" % out)


def library_key():
    """Content hash of the library sources."""
    return _digest(_sources(LIB_SRC))


def build():
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    lib_files, bench_files = _sources(LIB_SRC), _sources(BENCH_SRC)
    if not lib_files:
        raise SystemExit("build: no library sources under src/main/scala")
    lib_out = os.path.join(BUILD, "lib")
    bench_out = os.path.join(BUILD, "bench")
    spark_cp = os.path.join(jars, "*")
    for out, files, cp in ((lib_out, lib_files, spark_cp),
                           (bench_out, bench_files, lib_out + os.pathsep + spark_cp)):
        stamp = os.path.join(out + ".stamp")
        key = _digest(files)
        if os.path.exists(stamp):
            with open(stamp) as f:
                if f.read() == key:
                    continue
        _scalac(jars, out, cp, files)
        with open(stamp, "w") as f:
            f.write(key)
        if out == lib_out:  # the harness links against the library
            if os.path.exists(bench_out + ".stamp"):
                os.remove(bench_out + ".stamp")
    return os.pathsep.join([bench_out, lib_out, spark_cp])


if __name__ == "__main__":
    print(build())
