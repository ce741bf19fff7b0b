"""Build file of the benchmark: compiles the library (src/main/scala) and
the benchmark program (perfbench/src) with the Scala compiler that ships in
Spark's jars ($SPARK_HOME/jars), into <build dir>/perfbench/classes.

The build is skipped when the sources and compiler are unchanged since the
last build (a digest is kept beside the classes).

    python3 perfbench/build.py            # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

LIBRARY_SOURCES = os.path.join("src", "main", "scala")
BENCH_SOURCES = os.path.join("perfbench", "src")


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars():
    """$SPARK_HOME/jars, which must hold the Scala compiler."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("perfbench: no Scala compiler in $SPARK_HOME/jars; set SPARK_HOME")
    return jars


def sources(root):
    files = []
    for base in (LIBRARY_SOURCES, BENCH_SOURCES):
        files += glob.glob(os.path.join(root, base, "**", "*.scala"), recursive=True)
    return sorted(files)


def ensure_built(root):
    """Compile if needed; return the classes directory."""
    if not os.path.isdir(os.path.join(root, LIBRARY_SOURCES, "graft")):
        sys.exit(f"perfbench: library sources {LIBRARY_SOURCES}/graft not found under {root}")
    jars = spark_jars()
    files = sources(root)
    digest = hashlib.sha256()
    for f in files + glob.glob(os.path.join(jars, "scala-*.jar")):
        digest.update(os.path.relpath(f, root).encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                digest.update(fh.read())
    digest = digest.hexdigest()
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    staging = classes + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-cp", cp] + files
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
