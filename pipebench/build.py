"""Build file of the pipebench package: compiles the library sources
(src/main/scala) together with the benchmark harness (pipebench/scala)
into one class directory with the Scala compiler that ships in Spark's
jars directory. No sbt, so nothing is written outside the checkout.

A stamp (hash of every compiled source) makes a repeat build a no-op.

Usage: python3 pipebench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCES = ["src/main/scala", "pipebench/scala"]
RESOURCES = "src/main/resources"


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"pipebench: no Scala compiler in {jars}; "
                         "set SPARK_HOME to a Spark 4 install")
    return jars


def sources(root):
    files = []
    for d in SOURCES:
        for dirpath, _, names in os.walk(os.path.join(root, d)):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith(".scala")]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile into `out/classes` unless the stamp matches; return the
    runtime classpath."""
    jars = spark_jars()
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src")) for f in files):
        raise SystemExit("pipebench: no library sources under "
                         f"{root}/src/main/scala; run from a checkout")
    classes = os.path.join(out, "classes")
    key = stamp(files)
    stamp_file = os.path.join(out, "classes.stamp")
    if not (os.path.isdir(classes) and os.path.exists(stamp_file)
            and open(stamp_file).read() == key):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.path.join(jars, "*")
        print(f"pipebench: compiling {len(files)} sources", file=sys.stderr)
        rc = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                             "-cp", cp,
                             "scala.tools.nsc.Main", "-nowarn", "-classpath",
                             cp, "-d", tmp] + files,
                            stdout=sys.stderr).returncode
        if rc != 0:
            raise SystemExit(f"pipebench: compilation failed ({rc})")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(key)
    return os.pathsep.join([classes, os.path.join(root, RESOURCES),
                            os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build")))
