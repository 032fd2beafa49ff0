"""Build step of the streaming benchmark.

Compiles the program (``src/main/scala`` plus its resources) and the
benchmark's own Scala sources (``streambench/scala``) with the Scala compiler
that ships in the Spark distribution's ``jars`` directory, so a run needs no
sbt start-up and no dependency resolution. Outputs go to
``.bench_build/streambench`` (or ``$CARGO_TARGET_DIR/streambench`` when that is
set) and are rebuilt only when a source file changed.

    python3 streambench/build.py          # build, print the run classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "scala")


class BuildError(RuntimeError):
    pass


def build_root():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "streambench")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the one
    next to the `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    java = shutil.which("java")
    if not java:
        raise BuildError("no java found (set JAVA_HOME)")
    return java


def _sources(d, suffix=".scala"):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(suffix)]
    return sorted(out)


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(sources, out_dir, classpath, stamp, log):
    stamp_file = out_dir + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir, "-cp", classpath] + sources
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise BuildError(f"scalac failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def build(verbose=False):
    """Compile what changed; return the classpath to run the benchmark with."""
    if not os.path.isdir(PROGRAM_SRC) or not _sources(PROGRAM_SRC):
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    bench_sources = _sources(BENCH_SRC)
    if not bench_sources:
        raise BuildError(f"benchmark sources missing: {BENCH_SRC}")
    root = build_root()
    os.makedirs(root, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    program_sources = _sources(PROGRAM_SRC)
    program_cls = os.path.join(root, "program")
    resources = _sources(PROGRAM_RES, "") if os.path.isdir(PROGRAM_RES) else []
    program_stamp = _digest(program_sources + resources, jars)
    rebuilt = _compile(program_sources, program_cls, jars, program_stamp,
                       os.path.join(root, "program.log"))
    if rebuilt:
        for r in resources:
            dest = os.path.join(program_cls, os.path.relpath(r, PROGRAM_RES))
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            shutil.copyfile(r, dest)
    bench_cls = os.path.join(root, "bench")
    cp = os.pathsep.join([program_cls, jars])
    _compile(bench_sources, bench_cls, cp, _digest(bench_sources, program_stamp),
             os.path.join(root, "bench.log"))
    if verbose:
        print(f"built program={program_cls} bench={bench_cls}", file=sys.stderr)
    return os.pathsep.join([bench_cls, program_cls, jars])


if __name__ == "__main__":
    try:
        print(build(verbose=True))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
