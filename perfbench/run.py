#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (build.py), then runs the
workload in one fresh JVM with fixed heap flags. The last line
of standard output is the result JSON; everything else goes to stderr.
Build outputs, run directories and run records live under .bench_build/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from build import BUILD, ROOT, build, log

WORKLOADS = ("ingest_build", "search_closed")
RUN_TIMEOUT_S = 170
# Fixed and recorded; each flag steadies a timing:
# - A fixed heap size keeps the collector's sizing out of the timings.
# - An ingest batch holds a 2-3 GB live set while it plans the 1536-dim
#   embedding projection. With an adaptive young generation, one
#   collection now and then finds gigabytes of it live and pauses for
#   3-5 s, so a single batch runs 30% slow. A small fixed young
#   generation that promotes every survivor at once copies each live
#   object once, in pauses of at most a few hundred ms (GC per batch
#   1.4-1.8 s, down from 2-5 s). The 6 GB heap holds that live set twice.
# - Two JIT compiler threads instead of three leave more of the 4 cores
#   to the driver thread, which does most of the work on both workloads.
HEAP_FLAGS = ["-Xms6g", "-Xmx6g", "-Xmn512m", "-XX:MaxTenuringThreshold=0", "-XX:+UseG1GC",
              "-Xss4m", "-XX:CICompilerCount=2"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
ADD_OPENS_ARGS = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        sys.exit("perfbench: --seconds must be at least 1")

    classpath = build()
    work = BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + HEAP_FLAGS + ADD_OPENS_ARGS +
           [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-cp", ":".join(map(str, classpath)), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            env=env, start_new_session=True)

    def stop(why):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: {a.workload} {why}")

    # the JVM runs in its own session, so a signal to this script alone
    # would leave it running
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: stop(f"stopped by signal {signum}"))
    result = None
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(f"did not finish within {RUN_TIMEOUT_S}s")
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("PERFBENCH_RECORD "):
            records = BUILD / "records"
            records.mkdir(parents=True, exist_ok=True)
            name = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
            (records / name).write_text(line[len("PERFBENCH_RECORD "):] + "\n")
            log(f"record: {(records / name).relative_to(ROOT)}")
        else:
            print(line, file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        sys.exit(f"perfbench: {a.workload} exited with {proc.returncode} and no result")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
