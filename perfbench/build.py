"""Build file of the benchmark.

Compiles the program (src/main/scala, the sources the repo ships) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jars, into <build>/classes/{program,bench}. A build is
skipped when a digest of its inputs matches the last successful build.

    python3 perfbench/build.py [build_dir]

Spark is located through SPARK_HOME, else through spark-submit on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def _sources(root):
    if not os.path.isdir(root):
        raise BuildError(f"missing source directory {os.path.relpath(root, ROOT)}")
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    if not out:
        raise BuildError(f"no sources under {os.path.relpath(root, ROOT)}")
    return sorted(out)


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def read_stamp(path):
    """Contents of a stamp file, or None."""
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def _compile(files, out, classpath, stamp_value):
    stamp = out + ".stamp"
    if os.path.isdir(out) and read_stamp(stamp) == stamp_value:
        return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    with open(stamp, "w") as fh:
        fh.write(stamp_value)
    return True


def source_digest():
    """Digest of the program and harness sources a run measured."""
    return _digest(_sources(PROGRAM_SRC) + _sources(BENCH_SRC))


def build(build_dir):
    """Compile what changed; return the runtime classpath."""
    jars = os.path.join(spark_jars(), "*")
    classes = os.path.join(build_dir, "classes")
    program, bench = os.path.join(classes, "program"), os.path.join(classes, "bench")
    program_files = _sources(PROGRAM_SRC)
    bench_files = _sources(BENCH_SRC)
    program_stamp = _digest(program_files, jars)
    _compile(program_files, program, jars, program_stamp)
    _compile(bench_files, bench, os.pathsep.join([program, jars]),
             _digest(bench_files, program_stamp))
    return os.pathsep.join([bench, program, PROGRAM_RES, jars])


if __name__ == "__main__":
    try:
        print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                                    else os.path.join(ROOT, ".bench_build"))))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
