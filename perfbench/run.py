#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload short_queries --seed 1 \\
        --seconds 12 --trace 0

Builds the engine and the benchmark first when their sources changed
(see build.py), then runs the workload in one JVM. The last line of
standard output is the result object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1). Any failure exits non-zero without
printing a result.

Other entry points, for maintaining the benchmark:

    python3 perfbench/run.py --tool selftest
    python3 perfbench/run.py --tool survey OUT.jsonl WARM [query ...]
    python3 perfbench/run.py --tool verify OUT_DIR
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402

from build import ROOT, build  # noqa: E402

JVM_TIMEOUT_S = 170
TOOLS = {"selftest": "perfbench.SelfTest", "survey": "perfbench.Survey",
         "verify": "graft.Verify"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def java(classpath, main, args, timeout):
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, main] + args
    # subprocess.run kills and reaps the child on any exception,
    # including the SystemExit that SIGTERM raises (see main)
    return subprocess.run(cmd, cwd=ROOT, timeout=timeout).returncode


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    if len(sys.argv) > 2 and sys.argv[1] == "--tool":
        tool, rest = sys.argv[2], sys.argv[3:]
        if tool == "survey":
            rest = [ROOT] + rest
        elif tool == "verify":
            rest = [os.path.join(ROOT, "perfbench", "data", "sf0.01")] + rest
        return java(build(), TOOLS[tool], rest, None)

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    classpath = build()
    out = os.path.join(ROOT, ".bench_build", "tmp",
                       f"result-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    args = ["--root", ROOT, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", out]
    try:
        rc = java(classpath, "perfbench.Main", args, JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1
    if rc != 0 or not os.path.exists(out):
        print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
        return 1
    with open(out) as fh:
        result = json.load(fh)
    os.remove(out)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result", file=sys.stderr)
        return 1
    sys.stdout.flush()
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
