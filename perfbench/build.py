#!/usr/bin/env python3
"""Build the benchmark: the engine (src/main/scala) and the benchmark
package (perfbench/src), compiled with the Scala compiler that ships in
the Spark distribution ($SPARK_HOME/jars, else the jar directory the
repository's build.sbt names).

    python3 perfbench/build.py      # prints the run classpath

Classes go to .bench_build/perfbench/{engine,bench}. Each is rebuilt only
when the hash of its sources (and, for the benchmark, of the engine)
changes; a full build takes about 50 s on 4 cores.
"""

import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars the engine builds against: $SPARK_HOME/jars, else the
    `unmanagedBase` directory the repository's build.sbt names."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            dirs.append(Path(m.group(1)))
    for d in dirs:
        jars = sorted(d.glob("*.jar"))
        if jars:
            return jars
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources(root):
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_into(out, files, classpath, depends=""):
    """scalac `files` into `out` unless its stamp already matches.
    `depends` is the stamp of what `classpath` holds."""
    stamp = digest(files, depends)
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        return
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = spark_jars()
    argfile = tmp / "files.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", ":".join(map(str, jars)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", ":".join(map(str, list(classpath) + jars)), f"@{argfile}"]
    log(f"compiling {len(files)} files into {out.relative_to(ROOT)}")
    t0 = time.time()
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        sys.exit(f"perfbench: compile failed ({out.name})")
    argfile.unlink()
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    log(f"compiled in {time.time() - t0:.1f}s")


def build():
    engine_src = ROOT / "src" / "main" / "scala"
    bench_src = HERE / "src"
    if not engine_src.is_dir() or not sources(engine_src):
        sys.exit(f"perfbench: engine sources not found under {engine_src}")
    engine = BUILD / "engine"
    bench = BUILD / "bench"
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / ".lock", "w") as lock:  # one build at a time per checkout
        fcntl.flock(lock, fcntl.LOCK_EX)
        compile_into(engine, sources(engine_src), [])
        compile_into(bench, sources(bench_src), [engine], (engine / ".stamp").read_text())
    resources = ROOT / "src" / "main" / "resources"
    return [bench, engine, resources] + spark_jars()


if __name__ == "__main__":
    print(":".join(map(str, build())))
