"""Build file of the benchmark: compiles the engine's sources and the
benchmark harness with the Scala compiler that ships in the Spark
distribution ($SPARK_HOME, or the one whose spark-submit is on PATH),
into `.bench_build/` at the repository root.

Each of the two class trees is rebuilt only when the SHA-256 of its
sources changes, so only the first run in a checkout pays for a build.

Usage: python3 perfbench/build.py    (prints the run classpath)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def _spark_home():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        raise SystemExit("perfbench build: set SPARK_HOME to a Spark 4 distribution")
    return home


SPARK_JARS = os.path.join(_spark_home(), "jars", "*")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(d, "**", "*.java"), recursive=True))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compile(name, src_dir, classpath):
    files = _sources(src_dir)
    if not files:
        raise SystemExit(f"perfbench build: no sources under {src_dir}")
    out = os.path.join(BUILD, name)
    stamp_file = out + ".stamp"
    digest = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args = os.path.join(BUILD, name + ".args")
    with open(args, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", SPARK_JARS, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench build: compiling {name} failed")
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return out


def ensure():
    """Compile what is stale; return the classpath to run the harness."""
    os.makedirs(BUILD, exist_ok=True)
    program = _compile("program", os.path.join(ROOT, "src", "main"), SPARK_JARS)
    harness = _compile("harness", os.path.join(HERE, "src"),
                       os.pathsep.join([program, SPARK_JARS]))
    return os.pathsep.join([harness, program, SPARK_JARS])


if __name__ == "__main__":
    print(ensure())
