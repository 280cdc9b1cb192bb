#!/usr/bin/env python3
"""SF-robustness wrapper of check.py (dev tooling): check.py's own
compare (check_one, so GRAFT_CHECK_FULLPREC applies here too), but
each oracle runs in its own subprocess under a wall-clock watchdog, so
the O(n²) brute-force oracle twins (practical only at the sf0.01 gate)
time out as SKIP instead of wedging the run. DuckDB is pinned to one
thread: DuckDB 1.0.0's parallel window aggregation intermittently
misassembles one frame at sf0.1 row counts (adjudicated r7, see
BASELINE.md) — single-threaded it agrees with the engine everywhere.

  python3 tools/check_watchdog.py <verify_out_dir> <sf_dir> [timeout_s]
"""
import json, sys, os, multiprocessing as mp

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import check_one, connect


def check_in_child(outdir, sfdir, name, sql, q):
    q.put(check_one(connect(sfdir, threads=1), outdir, name, sql))


def main(outdir, sfdir, timeout):
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n = {"PASS": 0, "FAIL": 0, "SKIP": 0}
    for name, sql in sorted(oracle.items()):
        q = mp.Queue()
        p = mp.Process(target=check_in_child,
                       args=(outdir, sfdir, name, sql, q))
        p.start()
        p.join(timeout)
        if p.is_alive():
            p.terminate(); p.join()
            print(f"SKIP {name}: oracle exceeded {timeout}s (brute-force twin)")
            n["SKIP"] += 1
        else:
            try:
                # a child killed hard (OOM, segfault) exits without
                # posting a result — that's a FAIL, not a hang
                status, detail = q.get(timeout=5)
            except Exception:
                status, detail = "FAIL", f"checker died (exit {p.exitcode})"
            print(f"{status} {name}: {detail}")
            n[status] += 1
    print(f"\n{n['PASS']} pass / {n['FAIL']} fail / {n['SKIP']} skip")
    return 1 if n["FAIL"] else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  int(sys.argv[3]) if len(sys.argv) > 3 else 90))
