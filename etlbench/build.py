"""Build file of the benchmark: compiles the product's sources
(`src/main/scala`) together with the harness (`etlbench/scala`) with the
Scala compiler that ships in Spark's jar directory, into
`etlbench/.build/classes`. A rebuild happens only when a source changes.

    python3 etlbench/build.py     # build, print the class directory
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "scala")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one next to
    spark-submit, else the `unmanagedBase` the repository's build.sbt uses.
    """
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                     f.read())
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("Spark jars with a Scala compiler not found; "
                     "set SPARK_HOME")


def sources():
    files = sorted(f for d in SOURCE_DIRS
                   for f in glob.glob(os.path.join(d, "**", "*.scala"),
                                      recursive=True))
    if not any(f.startswith(SOURCE_DIRS[0]) for f in files):
        raise SystemExit(f"no product sources under {SOURCE_DIRS[0]}")
    return files


def ensure():
    """Compile if needed; return (class dir, Spark jar dir)."""
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _ensure()


def _ensure():
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256(jars.encode())
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars

    staging = os.path.join(OUT, "staging")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    print(f"compiling {len(files)} sources", file=sys.stderr, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                    "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-classpath", cp, "-d", staging, "@" + argfile],
                   check=True, stdout=sys.stderr, cwd=OUT)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


if __name__ == "__main__":
    print(ensure()[0])
