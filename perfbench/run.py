#!/usr/bin/env python3
"""Run one benchmark workload.

    python3 perfbench/run.py --workload catalog_read --seed 1 --seconds 20 --trace 0

Builds on first use (perfbench/build.py), sizes the JVM heap from
/proc/meminfo by the rule the Tier-1 test command uses (half of MemTotal,
clamped to 2-8 GiB), and runs perfbench.Main on local[nproc]. The last
stdout line is the JSON result. Workloads: catalog_read and
store_churn (see perfbench/README.md).
"""
import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def heap_gb():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return min(max(g, 2), 8)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True,
                   choices=["catalog_read", "store_churn"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    classes, jars = build.build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build.OUT, "work")
    os.makedirs(work, exist_ok=True)
    cmd = (["java"] + [x for m in ADD_OPENS for x in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")]
           + [f"-Xmx{heap_gb()}g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              f"-Djava.io.tmpdir={work}",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--cores", str(cores), "--work", work])
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: run exceeded %d s" % TIMEOUT_S)
    sys.exit(code)


if __name__ == "__main__":
    main()
