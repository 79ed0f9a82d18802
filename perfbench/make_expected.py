#!/usr/bin/env python3
"""Regenerate the replay_sf01 expectations from DuckDB.

Usage (from the repository root):
    python3 perfbench/make_expected.py [--sf DIR] [--jobs 2]

Builds the benchmark, asks it for each replayed query's own oracle SQL
(QueryDef.oracle), runs that SQL in DuckDB over the sf0.1 parquet tables and
stores the result as perfbench/expected/<query>.parquet, with
perfbench/expected/manifest.json recording each oracle's sha256. run.py
refuses an expectation whose oracle SQL has changed since. Each query runs
in its own process with a time limit; DuckDB takes tens of minutes for the
pair-kernel oracles, so this is not part of a benchmark run.
"""
import argparse
import concurrent.futures as cf
import hashlib
import json
import os
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def one(name: str, sql: str, sf: str, out: str, threads: int) -> None:
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='3GB'")
    import build
    tmp = build.build_dir() / "duckdb_tmp" / name
    tmp.mkdir(parents=True, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    tbl = con.execute(sql).arrow()
    pq.write_table(tbl, out + ".tmp", compression="zstd")
    os.replace(out + ".tmp", out)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--jobs", type=int, default=2)
    ap.add_argument("--threads", type=int, default=2)
    ap.add_argument("--timeout", type=int, default=2400)
    ap.add_argument("--only", default="", help="comma-separated query names")
    a = ap.parse_args()
    import run  # noqa: E402  (benchmark runner: build + JVM launch)
    sqls = run.oracle_sql()
    if a.only:
        sqls = {k: v for k, v in sqls.items() if k in set(a.only.split(","))}
    exp = BENCH / "expected"
    exp.mkdir(exist_ok=True)
    man_path = exp / "manifest.json"
    manifest = json.loads(man_path.read_text()) if man_path.exists() else {}

    def job(item):
        name, sql = item
        t0 = time.time()
        cmd = [sys.executable, "-c",
               "import sys; sys.path.insert(0, sys.argv[1]); import make_expected as m; "
               "m.one(sys.argv[2], sys.argv[3], sys.argv[4], sys.argv[5], int(sys.argv[6]))",
               str(BENCH), name, sql, a.sf, str(exp / f"{name}.parquet"), str(a.threads)]
        try:
            r = subprocess.run(cmd, timeout=a.timeout, capture_output=True, text=True)
            ok = r.returncode == 0
            err = r.stderr.strip().splitlines()[-1:] if not ok else []
        except subprocess.TimeoutExpired:
            ok, err = False, [f"timeout after {a.timeout}s"]
        return name, sql, ok, time.time() - t0, err

    with cf.ThreadPoolExecutor(a.jobs) as ex:
        for name, sql, ok, secs, err in ex.map(job, sorted(sqls.items())):
            print(f"{'OK  ' if ok else 'FAIL'} {name} {secs:.1f}s {' '.join(err)}", flush=True)
            if ok:
                manifest[name] = {"sql_sha256": hashlib.sha256(sql.encode()).hexdigest(),
                                  "sf": os.path.basename(a.sf.rstrip("/")),
                                  "duckdb_s": round(secs, 1)}
                man_path.write_text(json.dumps(manifest, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
