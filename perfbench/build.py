"""Build file of the benchmark: compiles the program's sources together with
the benchmark harness, using the Scala compiler and Spark jars of the Spark
distribution the program builds against (SPARK_HOME, default /opt/spark).

    python3 perfbench/build.py        # prints the classes directory

The output lands in .bench_build/ under the repository root and is reused
while no source file changes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark distribution with a Scala compiler at {jars}")
    return jars


def sources():
    srcs = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            srcs += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        raise SystemExit("the program's sources (src/main/scala) are missing")
    return sorted(srcs)


def build():
    """Returns the classpath of the built program plus harness."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(os.path.join(classes, ".done")):
        return cp
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compilation failed")
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    print(build())
