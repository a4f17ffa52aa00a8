"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) into one class directory with
the Scala compiler that ships in the Spark distribution's jars.

    python3 perfbench/build.py            # prints the class directory

The output goes to $CARGO_TARGET_DIR (default .bench_build) under the
checkout root and is rebuilt only when a source file changes.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

def _spark_jars():
    """$SPARK_HOME/jars, else the jar directory the root build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark distribution")
    return m.group(1)


SPARK_JARS = _spark_jars()


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return engine, bench


def build(root):
    engine, bench = sources(root)
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {root}/src/main/scala")
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = os.path.join(out, "classes")
    h = hashlib.sha256()
    for f in engine + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    if os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", cp] + engine + bench
    print(f"perfbench: compiling {len(engine)} engine + {len(bench)} benchmark sources",
          file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
