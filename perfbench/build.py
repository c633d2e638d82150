"""Build file of the benchmark package.

Compiles the program (``src/main/scala``) and the benchmark's engine
harness (``perfbench/scala``) with the Scala 2.13 compiler jar that ships
in the Spark distribution, against the Spark jars: the jar directory the
program's own ``build.sbt`` names in ``unmanagedBase``, or else
``$SPARK_HOME/jars``. Outputs go under the build directory
(``$CARGO_TARGET_DIR`` if set, else ``.bench_build``), keyed by a hash of
the sources, so a checkout compiles once and an edited source compiles
again.

    python3 perfbench/build.py      # prints the runtime classpath
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
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m is not None:
        d = m.group(1)
    elif os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        raise BuildError("build.sbt names no unmanagedBase jar directory; set SPARK_HOME")
    if not os.path.isfile(os.path.join(d, f"scala-compiler-{SCALA}.jar")):
        raise BuildError(f"no scala-compiler-{SCALA}.jar under {d} (set SPARK_HOME)")
    return d


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(name, sources, classpath, key):
    out = os.path.join(build_dir(), f"{name}-{key}")
    if os.path.isdir(out):
        return out
    jars = spark_jars()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(os.path.join(jars, f"scala-{j}-{SCALA}.jar")
                        for j in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", ":".join(classpath)] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, cwd=ROOT)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    os.rename(tmp, out)
    return out


def build():
    """Compile what is missing; return the runtime classpath entries."""
    src = os.path.join(ROOT, "src", "main", "scala")
    program = _sources(src)
    if not program:
        raise BuildError(f"no program sources under {src}")
    harness = _sources(os.path.join(HERE, "scala"))
    jars = sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    key = _digest(program, SCALA)
    classes = _compile("program", program, jars, key)
    bench = _compile("harness", harness, [classes] + jars, _digest(harness, key))
    return [bench, classes] + jars


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        sys.exit(f"build: {e}")
