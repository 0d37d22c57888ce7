"""Builds the program and the benchmark's JVM runner from source.

The program's main sources (``src/main/scala`` and
``src/main/resources``) and ``perfbench/scala`` are compiled by one
plain ``scalac`` call (the Scala compiler that ships with Spark's jars)
into ``.perfbench/build/classes``.  A stamp over every source file's
path and bytes skips the compile when nothing changed.

Spark's jars are found from ``SPARK_HOME``; failing that, from the
``unmanagedBase`` the repository's ``build.sbt`` declares.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".perfbench", "build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and glob.glob(os.path.join(m.group(1), "spark-sql_*.jar")):
            return m.group(1)
    raise SystemExit("perfbench: cannot find Spark's jars (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("perfbench: no program sources at src/main/scala")
    scala = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    scala += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    res = os.path.join(ROOT, "src", "main", "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    return scala, res, resources


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compiles if any source changed; returns the runtime classpath."""
    scala, res, resources = sources()
    h = hashlib.sha256()
    for p in scala + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(scala))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    for p in resources:
        dst = os.path.join(CLASSES, os.path.relpath(p, res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    print(build())
