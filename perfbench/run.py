#!/usr/bin/env python3
"""spark-ramen benchmark: one workload run.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: replay_sf01, stream_comms, listen_graphite (see
perfbench/README.md). The first run builds the library and the benchmark
(perfbench/build.py). The run itself is one JVM (perfbench.Main) on
local[N], N = min(4, nproc); its outputs are checked here against DuckDB
(replay, ledger) or in the JVM against the generator's closed form and the
client's tally (stream, listen). The last stdout line is one JSON object:
correct, attempted, failed and the metrics (end-to-end with --trace 0,
per-layer with --trace 1). A traced run also writes its spans to
<build dir>/traces/<workload>-seed<n>.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402

WORKLOADS = ["replay_sf01", "stream_comms", "listen_graphite"]
E2E = {"setup_s": "s", "items_per_s": "items/s", "op_p50_ms": "ms"}
JVM_TIMEOUT_S = 165
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpus() -> int:
    """N for local[N]: 4, or fewer when fewer CPUs are available or
    PERFBENCH_CPUS asks for fewer (the single-thread reference run)."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n, int(os.environ.get("PERFBENCH_CPUS", "4"))))


def java_cmd(args, work: Path):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", build.classpath(), "perfbench.Main"] + args)


def oracle_sql() -> dict:
    """{query: oracle SQL} of the replayed queries, from the program."""
    build.build()
    work = build.build_dir() / "work" / f"oracle-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        path = work / "oracle.json"
        subprocess.run(java_cmd(["oracle_sql", "0", "0", "0", str(path), "-", "1"], work),
                       check=True, timeout=120, stdout=subprocess.DEVNULL)
        return json.loads(path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


# --- output checks made outside the program --------------------------------

def check_replay(out_dir: str, sql_sha: dict):
    import duckdb
    import pyarrow.parquet as pq
    import oracle
    con = duckdb.connect()
    con.execute("SET threads=2")
    exp = BENCH / "expected"
    manifest = json.loads((exp / "manifest.json").read_text())
    checks = []
    for name in sorted(sql_sha):
        m = manifest.get(name)
        if m is None:
            checks.append((f"replay.{name}", False, "no stored expectation"))
            continue
        if m["sql_sha256"] != sql_sha[name]:
            checks.append((f"replay.{name}", False,
                           "oracle SQL changed; rerun perfbench/make_expected.py"))
            continue
        got = pq.read_table(f"{out_dir}/{name}")
        want = pq.read_table(exp / f"{name}.parquet")
        verdict, note = oracle.compare(got, want, con)
        checks.append((f"replay.{name}", verdict == "PASS", f"{verdict} {note}"))
    return checks


def check_ledger(work: str, threshold: float):
    """Exact statuses/keep ids re-derived in DuckDB (d14's oracle shape);
    every MinHash dup re-verified by exact shingle Jaccard; planted
    near-duplicates recalled."""
    import duckdb
    import re
    con = duckdb.connect()
    con.execute("SET threads=2")
    docs = f"{work}/ledger_docs.parquet/*.parquet"
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    want = con.execute(f"""
        WITH fps AS (
          SELECT doc_id, b,
            md5(array_to_string(list_sort(string_split({norm}, ' ')), ' ')) AS fp
          FROM '{docs}'),
        fb AS (SELECT fp, MIN(b) AS fb FROM fps GROUP BY 1),
        arch AS (
          SELECT f.fp, MIN(f.doc_id) AS akeep, fb.fb
          FROM fps f JOIN fb ON f.fp = fb.fp AND f.b = fb.fb
          GROUP BY f.fp, fb.fb),
        bm AS (SELECT fp, b, MIN(doc_id) AS bkeep FROM fps GROUP BY 1, 2)
        SELECT f.doc_id, f.b, f.fp,
          CASE WHEN f.b > a.fb THEN 'dup_of_archive'
               WHEN f.doc_id > m.bkeep THEN 'dup_in_batch'
               ELSE 'novel' END AS status,
          CASE WHEN f.b > a.fb THEN a.akeep ELSE m.bkeep END AS keep_id
        FROM fps f JOIN arch a ON a.fp = f.fp
        JOIN bm m ON m.fp = f.fp AND m.b = f.b
        ORDER BY f.doc_id""").fetchall()
    got = con.execute(f"""
        SELECT id, CAST(ingest_batch AS BIGINT), fp, status, keep_id
        FROM read_parquet('{work}/ledger/exact_out/*/*.parquet', hive_partitioning=1)
        ORDER BY id""").fetchall()
    checks = []
    bad = [(w, g) for w, g in zip(want, got) if tuple(w) != tuple(g)]
    checks.append(("ledger.exact_vs_duckdb", len(want) == len(got) and not bad,
                   f"{len(got)} rows" + (f", first diff {bad[0]}" if bad else "")
                   + ("" if len(want) == len(got) else f", want {len(want)} rows")))
    rows = con.execute(f"SELECT doc_id, b, text, plant FROM '{docs}'").fetchall()
    text = {r[0]: r[2] for r in rows}
    batch = {r[0]: r[1] for r in rows}
    plant = {r[0]: r[3] for r in rows}

    def shingles(t):
        toks = re.sub(r"\s+", " ", t.lower()).strip().split(" ")
        return {" ".join(toks[i:i + 3]) for i in range(0, len(toks) - 2)}

    cache = {}

    def sh(i):
        if i not in cache:
            cache[i] = shingles(text[i])
        return cache[i]

    mh = con.execute(f"""
        SELECT id, status, dup_of, jaccard
        FROM read_parquet('{work}/ledger/minhash_out/*/*.parquet')""").fetchall()
    errs = []
    status = {}
    for i, st, dup_of, jac in mh:
        status[i] = st
        if st == "novel":
            continue
        a, b = sh(i), sh(dup_of)
        j = len(a & b) / len(a | b) if a | b else 0.0
        if j < threshold:
            errs.append(f"{i}->{dup_of} J={j:.3f}")
        elif jac is None or abs(jac - j) > 1e-6:
            errs.append(f"{i}->{dup_of} jaccard {jac} != {j:.6f}")
        elif st == "dup_of_archive" and not batch[dup_of] < batch[i]:
            errs.append(f"{i}->{dup_of} archive mate not from an earlier trigger")
        elif st == "dup_in_batch" and not (batch[dup_of] == batch[i] and dup_of < i):
            errs.append(f"{i}->{dup_of} batch mate not an earlier doc of the trigger")
    checks.append(("ledger.minhash_dups_jaccard", not errs and len(mh) == len(rows),
                   f"{sum(1 for s in status.values() if s != 'novel')} dups"
                   + (f", {len(errs)} bad: {errs[:3]}" if errs else "")
                   + ("" if len(mh) == len(rows) else f", {len(mh)} of {len(rows)} rows")))
    # LSH banding (6 bands of 2 rows) finds a pair at Jaccard J with
    # probability 1-(1-J^2)^6: 0.9997 at J=0.9, so recall is held to 99 %
    planted = [i for i, p in plant.items() if p.startswith("near")]
    missed = [i for i in planted if status.get(i, "novel") == "novel"]
    recall = 1 - len(missed) / len(planted) if planted else 0.0
    checks.append(("ledger.near_dup_recall", bool(planted) and recall >= 0.99,
                   f"{len(planted) - len(missed)}/{len(planted)} recalled"))
    return checks


# --- one run ----------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    sf = os.environ.get("PERFBENCH_SF_DIR", "/root/testdata/sf0.1")
    if a.workload == "replay_sf01" and not Path(sf, "lineitem.parquet").exists():
        sys.stderr.write(f"perfbench: sf0.1 tables not found at {sf}\n")
        return 2
    build.build()
    bdir = build.build_dir()
    work = bdir / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), str(work), sf,
                str(cpus())]
        t0 = time.time()
        p = subprocess.run(java_cmd(args, work), stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, timeout=JVM_TIMEOUT_S)
        lines = [l for l in p.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-4000:])
            sys.stderr.write(f"perfbench: JVM exit {p.returncode} after {time.time() - t0:.0f}s\n")
            return 1
        r = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        checks = [(c["name"], c["ok"], c["note"]) for c in r["checks"]]
        jvm_s = time.time() - t0
        if a.workload == "replay_sf01":
            sha = {k: v for k, v in r["env"].items() if k.startswith("sql_sha256.")}
            checks += check_replay(r["outputs"]["replay_out"],
                                   {k[len("sql_sha256."):]: v for k, v in sha.items()})
        if "ledger" in r["outputs"]:
            checks += check_ledger(str(work), float(r["env"]["minhash_threshold"]))
        r["detail"]["jvm_s"] = jvm_s
        r["detail"]["check_s"] = time.time() - t0 - jvm_s
        correct = all(ok for _, ok, _ in checks)
        for name, ok, note in checks:
            if not ok:
                sys.stderr.write(f"perfbench: CHECK FAILED {name}: {note}\n")
        if a.trace:
            tdir = bdir / "traces"
            tdir.mkdir(exist_ok=True)
            shutil.copyfile(work / "trace.json", tdir / f"{a.workload}-seed{a.seed}.json")
            units = layer_units()
            metrics = {k: {"value": r["layers"][k], "unit": u} for k, u in units.items()}
        else:
            metrics = {k: {"value": r["e2e"][k], "unit": u} for k, u in E2E.items()}
        # the workload's own named figures and the run's environment, one
        # line above the result
        print(json.dumps({"workload": a.workload, "seed": a.seed, "detail": r["detail"],
                          "env": {k: v for k, v in r["env"].items()
                                  if not k.startswith("sql_sha256.")},
                          "checks": [{"name": n, "ok": ok, "note": note}
                                     for n, ok, note in checks]}))
        print(json.dumps({"correct": correct, "attempted": int(r["attempted"]),
                          "failed": int(r["failed"]), "metrics": metrics}))
        return 0
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"perfbench: JVM exceeded {JVM_TIMEOUT_S}s\n")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


def layer_units() -> dict:
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
