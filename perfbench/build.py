"""Build file of the benchmark: compiles the engine and the benchmark.

The engine's sources (`src/main/scala` at the repository root) and the
benchmark's own sources (`perfbench/src`) are compiled with the Scala
compiler that ships in Spark's jar directory, in two stages, into
`.bench_build/perfbench/` under the repository root. Each stage is
skipped when a digest of its inputs matches the digest recorded by its
last successful build, so only the first run in a checkout pays for it.

    python3 perfbench/build.py          # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


def spark_jars():
    """The jar directory of the Spark installation at $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark jar directory; set SPARK_HOME")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_stage(name, files, classpath, extra_digest):
    out = os.path.join(BUILD_DIR, name)
    stamp = os.path.join(BUILD_DIR, name + ".stamp")
    want = digest(files, extra_digest)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out, want
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if os.path.exists(stamp):
        os.remove(stamp)
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath] + files
    print(f"perfbench: compiling {name} ({len(files)} files)",
          file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         timeout=840)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compiling {name} failed")
    with open(stamp, "w") as fh:
        fh.write(want)
    return out, want


def build():
    """Compile both stages; return the run classpath."""
    engine = sources(ENGINE_SRC)
    bench = sources(BENCH_SRC)
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {ENGINE_SRC}")
    jars = os.path.join(spark_jars(), "*")
    os.makedirs(BUILD_DIR, exist_ok=True)
    engine_out, engine_digest = compile_stage("engine", engine, jars, jars)
    bench_out, _ = compile_stage("bench", bench,
                                 os.pathsep.join([engine_out, jars]),
                                 jars + engine_digest)
    return os.pathsep.join([bench_out, engine_out, BENCH_DIR, jars])


if __name__ == "__main__":
    print(build())
