"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/perfbench/perfbench.jar,
using the Scala compiler that ships in Spark's jar directory
($SPARK_HOME/jars, or the jars next to `spark-submit` on PATH). A build is
skipped when no source changed since the last one.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(BUILD, "perfbench.jar")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    main = SOURCE_DIRS[0]
    if not os.path.isdir(main):
        raise BuildError(f"program sources missing: {os.path.relpath(main, ROOT)}")
    found = []
    for d in SOURCE_DIRS:
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compiler_classpath(jars):
    names = ["scala-compiler", "scala-library", "scala-reflect"]
    found = [glob.glob(os.path.join(jars, f"{n}-2.13.*.jar")) for n in names]
    if not all(found):
        raise BuildError("Scala 2.13 compiler jars not found among the Spark jars")
    return os.pathsep.join(sorted(f)[-1] for f in found)


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(BUILD, "stamp")
    runtime_cp = JAR + os.pathsep + os.path.join(jars, "*")
    if (os.path.exists(JAR) and os.path.exists(stamp_file)
            and open(stamp_file).read() == want):
        return runtime_cp
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xss64m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           "-cp", compiler_classpath(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + proc.stdout[-4000:])
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as jar:
        for d, _, names in sorted(os.walk(tmp)):
            for n in sorted(names):
                path = os.path.join(d, n)
                jar.write(path, os.path.relpath(path, tmp))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return runtime_cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(1)
