"""Build file of the benchmark harness.

Compiles the engine (`src/main/scala`) and the harness (`taskbench/src`)
with the Scala compiler that ships in Spark's jar directory, into
`taskbench/.build/<key>/classes`. The key is a hash of every source file,
the compiler jar and the JDK version, so classes built from other sources
are never reused; a build whose key matches is reused as is.

    python3 taskbench/build.py        # prints the classes directory
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
SCALAC_FLAGS = ["-nowarn", "-deprecation:false"]


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"taskbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build_key(files, jars):
    h = hashlib.sha256()
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    h.update(java.encode())
    h.update(" ".join(SCALAC_FLAGS).encode())
    h.update(" ".join(sorted(os.path.basename(j) for j in glob.glob(jars + "/scala-*.jar"))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:20]


def ensure():
    """Return the classes directory for the current sources, compiling if needed."""
    jars = spark_jars()
    files = sources()
    if not any(f.endswith(os.path.join("graft", "SparkEntry.scala")) for f in files):
        raise SystemExit(f"taskbench: engine sources not found under {ROOT}/src/main/scala")
    dest = os.path.join(BUILD, build_key(files, jars))
    classes = os.path.join(dest, "classes")
    if os.path.exists(os.path.join(dest, "ok")):
        return classes
    if os.path.isdir(BUILD):
        shutil.rmtree(BUILD)
    os.makedirs(classes)
    argfile = os.path.join(dest, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-d", classes, *SCALAC_FLAGS, "@" + argfile]
    print(f"taskbench: compiling {len(files)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if res.returncode != 0:
        raise SystemExit(f"taskbench: build failed ({res.returncode})")
    open(os.path.join(dest, "ok"), "w").close()
    return classes


if __name__ == "__main__":
    print(ensure())
