"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the harness (`perfbench/scala`) from source with the Scala compiler that
ships in the Spark distribution, into `.bench_build/classes`.

A stamp over every source file makes later calls no-ops until a source
changes. Run directly (`python3 perfbench/build.py`) or through run.py.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp.json")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

# Spark on JDK 17 needs these when started outside spark-submit; the same
# list as the program's own build (JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")]
    found = []
    for d in dirs:
        if not os.path.isdir(d):
            raise BuildError(f"source directory {os.path.relpath(d, ROOT)} is missing")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def spark_jars():
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"Spark jars not found at {SPARK_JARS}")
    return sorted(os.path.join(SPARK_JARS, j) for j in os.listdir(SPARK_JARS) if j.endswith(".jar"))


def classpath():
    return os.pathsep.join([CLASSES] + spark_jars())


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure():
    """Compile when any source changed since the last build; return the
    run-time classpath."""
    srcs = sources()
    stamp = digest(srcs)
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if json.load(fh).get("sources") == stamp:
                return classpath()
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("scala-compiler, scala-library and scala-reflect jars are required")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", str(os.cpu_count() or 1),
           "-cp", os.pathsep.join(jars), "-d", CLASSES, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("compilation failed")
    with open(STAMP, "w") as fh:
        json.dump({"sources": stamp}, fh)
    return classpath()


if __name__ == "__main__":
    try:
        ensure()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
