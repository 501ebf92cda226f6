"""Builds the program and the benchmark harness with scalac, no sbt.

Compiles the repository's `src/main/scala` together with `perfbench/src`
into `.bench_build/classes-<digest>` and copies `src/main/resources` beside
the classes. The digest covers every source and resource file, so an
unchanged tree is never rebuilt. Spark and Scala come from the jar
directory the sbt build uses (`unmanagedBase` in build.sbt), or from
$SPARK_HOME/jars when SPARK_HOME is set.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "perfbench", "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            sys.exit("perfbench: build.sbt names no unmanagedBase; set SPARK_HOME")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit(f"perfbench: no Spark jars under {jars}; set SPARK_HOME")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"perfbench: source directory {os.path.relpath(d, ROOT)} is missing")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def resources():
    return sorted(f for f in glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def build():
    """Returns the classes directory, compiling first if it does not exist."""
    files = sources()
    h = hashlib.sha256()
    for f in files + resources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = spark_jars()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        sys.exit("perfbench: compilation failed")
    for f in resources():
        dst = os.path.join(tmp, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
