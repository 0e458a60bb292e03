"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/scala) with scalac against the Spark jars of
$SPARK_HOME (or those build.sbt names).

The classes go to <target>/classes-<hash>, where <target> is
$CARGO_TARGET_DIR (default .bench_build) and <hash> covers every compiled
source, so an unchanged tree reuses its build and a changed one rebuilds.

    python3 perfbench/build.py     # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root="."):
    """$SPARK_HOME/jars, else the jar directory that build.sbt declares as
    its unmanagedBase (the Spark jars the engine is built against)."""
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
            jars = m and m.group(1)
        except OSError:
            pass
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def _scala_jar(jars, name):
    found = sorted(glob.glob(os.path.join(jars, f"{name}-2.13.*.jar")))
    if not found:
        raise BuildError(f"{name} jar not found in {jars}")
    return found[-1]


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found at {engine}")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    return files + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(root):
    """Return the classes directory, compiling first if the sources changed."""
    files = sources(root)
    jars = spark_jars(root)
    compiler = [_scala_jar(jars, n) for n in ("scala-compiler", "scala-library", "scala-reflect")]
    h = hashlib.sha256(os.path.basename(compiler[0]).encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    target = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    out = os.path.join(target, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "-cp", os.path.join(jars, "*")] + files
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=850)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac timed out")
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    open(os.path.join(tmp, ".complete"), "w").close()
    if os.path.exists(out):
        shutil.rmtree(out)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
