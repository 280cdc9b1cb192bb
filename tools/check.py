#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tooling only, not
part of the engine). Usage:

  python3 tools/check.py <verify_out_dir> <sf_dir>

Reads each <name>/ parquet dir dumped by graft.Verify, re-runs the
matching oracle SQL from oracle_sql.json in DuckDB against the sf_dir
parquet tables, canonicalizes both and compares.

CANONICALIZATION CONTRACT (the one shared by engine authors, this
replica, and the driver's gate — see also SURVEY.md "correctness
gate"):
  1. columns sorted BY NAME (so Spark and oracle column names must
     match exactly — alias every computed column on both sides);
  2. rows rendered as "|"-joined strings and sorted lexically (so
     output order never matters, but every VALUE rendering does);
  3. floats: the driver hashes at FULL precision (repr-level) —
     set GRAFT_CHECK_FULLPREC=1 here to replicate that gate. The
     default %.6g view is the looser dev loop. Because of (3), any
     query emitting doubles must be bit-stable across partition merge
     order and engines: either exact integer/decimal arithmetic, a
     deterministic sequential reduction (vec_dot ≡ list_dot_product),
     or round(x, 6) applied on BOTH engine and oracle sides (the
     q53/q117 house pattern).
"""
import json, math, sys, glob, os
import duckdb

FULLPREC = os.environ.get("GRAFT_CHECK_FULLPREC", "") not in ("", "0")

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def type_class(t):
    """Coarse class of a DuckDB column type, for cross-side comparison.
    The driver's schema_match is NAME-level only — it stayed green
    through the r9 HUGEINT incident — so this local lint must be
    stricter: an oracle emitting HUGEINT where Spark dumps BIGINT is a
    portability bug even when every value compares equal locally."""
    t = t.upper()
    base = t.split("(")[0].strip()
    if base in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"):
        return "int"
    if base in ("FLOAT", "REAL", "DOUBLE", "DECIMAL"):
        return "float"
    if base in ("VARCHAR", "CHAR", "TEXT", "STRING", "BPCHAR"):
        return "str"
    if base == "BOOLEAN":
        return "bool"
    return base  # DATE/TIMESTAMP/LIST/STRUCT compare on the exact type


def lint_types(con, name, sql, spark_files):
    """r10 lint (VERDICT r9 item 2): DuckDB `//` with ANY HUGEINT
    operand is the exact driver-fail discriminator (all 10 r9 reds had
    it; all 14 driver-passing `//`-oracles divide plain BIGINTs), and
    a sum()-born HUGEINT stays HUGEINT through every CTE alias. The
    output-level enforcement: no HUGEINT column may reach the oracle's
    result, and every oracle column's type CLASS must equal the Spark
    dump's. Returns a list of lint-error strings (empty = clean)."""
    errs = []
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    otypes = {r[0]: r[1] for r in desc}
    for cname, ctype in otypes.items():
        if "HUGEINT" in ctype.upper():
            errs.append(f"oracle col {cname} is {ctype} "
                        "(HUGEINT must be CAST to BIGINT at birth)")
    sdesc = con.execute(
        f"DESCRIBE SELECT * FROM read_parquet({spark_files!r})").fetchall()
    stypes = {r[0]: r[1] for r in sdesc}
    for cname in sorted(set(otypes) & set(stypes)):
        oc, sc = type_class(otypes[cname]), type_class(stypes[cname])
        if oc != sc:
            errs.append(f"col {cname}: oracle {otypes[cname]} ({oc}) vs "
                        f"spark {stypes[cname]} ({sc})")
    return errs


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif FULLPREC:
                    v = repr(v)
                else:
                    v = f"{v:.6g}"
            vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return out


def connect(sfdir, threads=None):
    """DuckDB connection with a view per sf_dir table."""
    con = duckdb.connect()
    # long-running oracles otherwise print a progress bar into stdout,
    # which breaks harnesses that parse this script's output
    con.execute("SET enable_progress_bar=false")
    if threads is not None:
        con.execute(f"SET threads={threads}")
    for tname in TABLES:
        p = f"{sfdir}/{tname}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{p}')")
    return con


def check_one(con, outdir, name, sql):
    """Compares one query's Spark dump with its oracle. Returns
    (status, detail): ("PASS", "<n> rows") or ("FAIL", reason), where a
    row mismatch's reason carries up to three got/want lines."""
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        return "FAIL", "no spark output"
    try:
        got = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchall()
        gcols = [d[0] for d in con.description]
        want = con.execute(sql).fetchall()
        wcols = [d[0] for d in con.description]
    except Exception as e:
        return "FAIL", str(e)
    if sorted(gcols) != sorted(wcols):
        return "FAIL", f"cols {sorted(gcols)} != {sorted(wcols)}"
    try:
        lint = lint_types(con, name, sql, files)
    except Exception as e:
        lint = [f"lint error: {e}"]
    if lint:
        return "FAIL", "TYPELINT " + "; ".join(lint)
    g, w = canon(got, gcols), canon(want, wcols)
    if g == w:
        return "PASS", f"{len(g)} rows"
    lines = [f"rows differ ({len(g)} vs {len(w)})"]
    for a, b in list(zip(g, w))[:3]:
        if a != b:
            lines.append(f"  got  {a[:200]}\n  want {b[:200]}")
    return "FAIL", "\n".join(lines)


def main(outdir, sfdir):
    con = connect(sfdir)
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        status, detail = check_one(con, outdir, name, sql)
        if status == "PASS":
            print(f"PASS {name} ({detail})")
            n_pass += 1
        else:
            print(f"FAIL {name}: {detail}")
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
