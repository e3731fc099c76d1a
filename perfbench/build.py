#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft and the harness from source.

Compiles the checkout's `src/main/scala` (the program under test) and
`perfbench/src` (the measuring harness) with the Scala compiler that ships
inside the Spark distribution, so no build tool or network is needed. The
classes land in `.bench_build/classes/{graft,harness}`; a stamp holding the
hash of every source file skips the compile when nothing changed.

Usage: python3 perfbench/build.py        (from the root of a checkout)
"""
import hashlib
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
OUT = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = Path(__file__).resolve().parent / "src"


def spark_jars() -> Path:
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    distribution with a Scala compiler whose bin/ is on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        if list((Path(home) / "jars").glob("scala-compiler-*.jar")):
            return Path(home) / "jars"
    raise SystemExit("[build] no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources(root: Path) -> list:
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(jars: Path, classpath: list, out: Path, files: list) -> None:
    out.mkdir(parents=True, exist_ok=True)
    for old in out.rglob("*.class"):
        old.unlink()
    cp = os.pathsep.join([str(jars / "*")] + [str(c) for c in classpath])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", cp] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"[build] scalac failed on {out.name} (exit {r.returncode})")


def build() -> list:
    """Compile what changed; return the run-time classpath (class dirs)."""
    program = sources(PROGRAM_SRC) if PROGRAM_SRC.is_dir() else []
    if not program:
        raise SystemExit(f"[build] no program sources under {PROGRAM_SRC}: run from the root of a graft checkout")
    harness = sources(HARNESS_SRC)
    jars = spark_jars()
    graft_out = OUT / "classes" / "graft"
    harness_out = OUT / "classes" / "harness"
    stamp_p = OUT / "classes" / "graft.stamp"
    stamp_h = OUT / "classes" / "harness.stamp"
    key_p = digest(program)
    key_h = key_p + digest(harness)
    if not stamp_p.exists() or stamp_p.read_text() != key_p:
        t0 = time.time()
        stamp_p.unlink(missing_ok=True)
        scalac(jars, [], graft_out, program)
        stamp_p.write_text(key_p)
        print(f"[build] graft: {len(program)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    if not stamp_h.exists() or stamp_h.read_text() != key_h:
        t0 = time.time()
        stamp_h.unlink(missing_ok=True)
        scalac(jars, [graft_out], harness_out, harness)
        stamp_h.write_text(key_h)
        print(f"[build] harness: {len(harness)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    return [harness_out, graft_out, jars / "*"]


if __name__ == "__main__":
    build()
