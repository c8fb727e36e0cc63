#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ref_ladder --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (see
build.py), then runs one JVM in local mode with at most 4 cores. The last
line of stdout is the result object; the full record of the run, raw per-op
samples included, is written under `.bench_build/results/`. Exits non-zero
if any output check failed.
"""
import argparse
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

MEMORY = "3g"
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return ""
    res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                         capture_output=True, text=True)
    return res.stdout.strip() if res.returncode == 0 else ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, help="ref_ladder, aqp_join or curation_iter")
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    classes, digest, jars = build.build()
    tmp = os.path.join(build.BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = min(4, os.cpu_count() or 1)
    log_conf = os.path.join(build.HERE, "log4j2.properties")
    # a fixed heap: a full GC must not shrink it under the next pass
    cmd = (["java", f"-Xms{MEMORY}", f"-Xmx{MEMORY}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={log_conf}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", build.BUILD, "--cpus", str(cpus), "--memory", MEMORY,
              "--source", digest, "--commit", git_commit() or "none"])
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3


if __name__ == "__main__":
    sys.exit(main())
