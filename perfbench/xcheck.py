#!/usr/bin/env python3
"""Cross-check the benchmark's reference digests against the DuckDB oracles.

Run once when the reference outputs are (re)recorded, from the root of a
checkout:
  python3 perfbench/xcheck.py [--record]

It dumps every `curation` output to parquet with its digest
(harness mode `dump`), runs each entry's oracle SQL (`SparkEntry.oracleSql`)
in DuckDB over the same tables, and compares the two results as multisets,
doubles within 1e-9 relative. With --record, and only if every entry with an
oracle agrees, it writes the digests into perfbench/refs.json.
"""
import argparse
import json
import math
import re
import sys
from pathlib import Path

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def views(con, data_dir: Path) -> None:
    for t in TABLES:
        p = data_dir / f"{t}.parquet"
        pat = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")


def cell(v):
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, (list, tuple)):
        return tuple(cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, cell(x)) for k, x in v.items()))
    return v


def key(v):
    if v is None:
        return (0, "")
    if isinstance(v, float):
        return (1, f"{v:.6e}")
    return (2, repr(v))


def same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def rows(con, sql: str):
    rel = con.sql(sql)
    names = rel.columns
    order = sorted(range(len(names)), key=lambda i: names[i])
    out = [tuple(cell(r[i]) for i in order) for r in rel.fetchall()]
    return sorted(names), sorted(out, key=lambda r: tuple(key(x) for x in r))


def materialized(sql: str) -> str:
    """Evaluate every CTE once: DuckDB otherwise inlines a CTE at each
    reference, and the unrolled label-propagation rounds of the
    dedup_clusters oracle then grow past any memory limit."""
    return re.sub(r"\b([A-Za-z_]\w*) AS \((?=\s*(?:WITH|SELECT)\b)", r"\1 AS MATERIALIZED (", sql)


def compare(con, dump: Path, oracle: str) -> str:
    got_cols, got = rows(con, f"SELECT * FROM read_parquet('{dump}/*.parquet')")
    want_cols, want = rows(con, materialized(oracle))
    if got_cols != want_cols:
        return f"columns {got_cols} vs {want_cols}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for g, w in zip(got, want):
        if not all(same(x, y) for x, y in zip(g, w)):
            return f"first differing row: {g} vs {w}"
    return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    classpath = build.build()
    out = run.OUT / "xcheck"
    run.java(classpath, "perfbench.Main", ["--mode", "dump", "--cores", run.cores(),
             "--testdata", run.TESTDATA, "--out", out], timeout=3600)
    refs = json.loads((run.HERE / "refs.json").read_text())
    manifest = json.loads((out / "manifest.json").read_text())
    con = duckdb.connect(config={"memory_limit": "4GB", "threads": run.cores()})
    views(con, Path(manifest["dir"]))
    bad = 0
    for k, e in manifest["entries"].items():
        if e["oracle"] is None:
            verdict = "no oracle"
        else:
            try:
                diff = compare(con, out / f"{k}.parquet", e["oracle"])
            except duckdb.Error as ex:
                diff = f"{type(ex).__name__}: {ex}"
            verdict = "ok" if not diff else f"MISMATCH {diff[:300]}"
            bad += bool(diff)
        print(f"[xcheck] {k}: {verdict} ({e['ref']['rows']} rows)")
    refs["queries"]["curation"] = {k: e["ref"] for k, e in manifest["entries"].items()}
    if bad:
        raise SystemExit(f"[xcheck] {bad} entries disagree with their oracle; refs.json left unchanged")
    if a.record:
        (run.HERE / "refs.json").write_text(json.dumps(refs, indent=1) + "\n")
        print("[xcheck] recorded perfbench/refs.json")


if __name__ == "__main__":
    main()
