#!/usr/bin/env python3
"""Regenerates perfbench/fingerprints.json, the stored fingerprints that
query_mix checks every listed query against.

    python3 perfbench/fingerprints.py [--sf DIR]

Run from the repository root. It builds like run.py, runs
perfbench.FingerprintTool (each query fingerprinted twice; a query whose
two fingerprints differ is not stored), then checks every query that has
oracle SQL in SparkEntry.oracleSql once against DuckDB: the Spark result,
dumped as parquet, must equal the oracle's rows after canonicalisation
(columns by name, rows sorted, floats to 6 significant digits). Queries
that share oracle SQL run it once. The dedup oracles are slow at sf0.1
(on one DuckDB core about 13 min for q26/q27/q59, 15 min for q126). It exits
non-zero if any oracle check fails, and then writes nothing. The query
results are dumped under .bench_build/fingerprint-dump/.
"""
import argparse
import glob
import json
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

DUMP = os.path.join(run.BUILD, "fingerprint-dump")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.6g}"
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("PERFBENCH_SF_DIR", run.DEFAULT_SF))
    a = ap.parse_args()
    dump(a)
    with open(os.path.join(DUMP, "fingerprints.json")) as f:
        found = json.load(f)
    compare(a, found)


def dump(a):
    cp = run.build()
    os.makedirs(DUMP, exist_ok=True)
    cmd = (["java"] + [x for p in run.JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-Djava.io.tmpdir=" + DUMP, "-cp", cp, "perfbench.FingerprintTool",
            a.sf, run.BENCH, DUMP, str(len(os.sched_getaffinity(0)))])
    p = run.run_group(cmd, cwd=run.ROOT, env=dict(os.environ), timeout=3600)
    if p.returncode != 0:
        sys.exit(f"fingerprints.py: FingerprintTool exited with {p.returncode}")


def compare(a, found):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    for t in TABLES:
        path = os.path.join(a.sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    stored, failed, oracles = {}, [], {}
    for name, entry in sorted(found.items()):
        sql = entry.get("oracle_sql")
        verdict = "no oracle"
        if sql:
            files = glob.glob(os.path.join(DUMP, name, "*.parquet"))
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
            gcols = [d[0] for d in con.description]
            if sql not in oracles:
                rows = con.execute(sql).fetchall()
                oracles[sql] = (rows, [d[0] for d in con.description])
            want, wcols = oracles[sql]
            ok = sorted(gcols) == sorted(wcols) and canon(got, gcols) == canon(want, wcols)
            verdict = "equal to DuckDB" if ok else "DIFFERS from DuckDB"
            if not ok:
                failed.append(name)
        print(f"{name}: {entry['fingerprint']} ({verdict})")
        stored[name] = {"fingerprint": entry["fingerprint"], "oracle": verdict}
    if failed:
        sys.exit(f"fingerprints.py: {len(failed)} queries differ from DuckDB: {failed}")
    with open(os.path.join(run.BENCH, "fingerprints.json"), "w") as f:
        json.dump(stored, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
