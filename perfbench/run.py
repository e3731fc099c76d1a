#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client on local[nproc], one workload.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload {curation,adhoc} --seed N \
      --seconds S --trace {0,1}

Builds graft and the harness from source (perfbench/build.py), runs the
harness JVM, and prints the result as the last line of stdout:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans go to .bench_build/trace/. Everything the run
writes stays under .bench_build/. It reads the read-only test tables under
$GRAFT_TESTDATA (default ~/testdata) and the Spark distribution under
$SPARK_HOME (default: the one whose spark-submit is on the PATH).
"""
import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
OUT = Path.cwd() / ".bench_build"
TESTDATA = Path(os.environ.get("GRAFT_TESTDATA", Path.home() / "testdata"))
WORKLOADS = ("curation", "adhoc")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def java(classpath, main, args, timeout, capture=False):
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={OUT / 'warehouse'}", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", os.pathsep.join(str(c) for c in classpath), main] + [str(a) for a in args]
    # Few malloc arenas: native memory, and so peak RSS, varies less between runs.
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), MALLOC_ARENA_MAX="2")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, env=env, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"[perfbench] {main} exceeded {timeout} s")
    if proc.returncode != 0:
        raise SystemExit(f"[perfbench] {main} exited with {proc.returncode}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    for sf in ("sf0.1", "sf0.01"):
        if not (TESTDATA / sf / "lineitem.parquet").exists():
            raise SystemExit(f"[perfbench] test tables missing under {TESTDATA / sf} (set GRAFT_TESTDATA)")
    out = java(classpath, "perfbench.Main", [
        "--mode", "run", "--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
        "--trace", a.trace, "--cores", cores(), "--testdata", TESTDATA, "--refs", HERE / "refs.json",
        "--out", OUT / "trace",
    ], timeout=RUN_TIMEOUT_S, capture=True)
    lines = out.strip().splitlines()
    json.loads(lines[-1])
    print("\n".join(lines))


if __name__ == "__main__":
    main()
