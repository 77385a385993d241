#!/usr/bin/env python3
"""Regenerate the benchmark's golden output hashes from the DuckDB oracle.

    python3 perfbench/goldens.py [--sf /root/testdata/sf0.1] [--out perfbench/goldens.json]

Run from the root of a graft checkout. For every workload query, runs its
oracle SQL (`SparkEntry.oracleSql`) in DuckDB over the fixture tables and
records the sha256 of the result in the canonical form of scripts/check.py.
Goldens never come from Spark output. A query without oracle SQL, or whose
oracle does not finish within ORACLE_TIMEOUT_S seconds, gets a `missing`
reason instead of a hash; the benchmark then lists it as unverified and
counts it as failed.
"""
import argparse
import json
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import harness  # noqa: E402

# Seconds one oracle may run in DuckDB.
ORACLE_TIMEOUT_S = 600.0


def goldens(sf_dir, log=print):
    """{query: {"sha256", "rows"} or {"missing": reason}} for every workload query."""
    doc = harness.oracle_queries(harness.build())
    con = harness.duckdb_on(sf_dir)
    out = {}
    for q, sql in sorted(doc["oracle_sql"].items()):
        if sql is None:
            out[q] = {"missing": "no oracle SQL in the registry"}
            log(f"  {q}: no oracle SQL")
            continue
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        t0 = time.time()
        timer.start()
        try:
            rel = con.execute(sql)
            digest, rows = harness.rows_hash([d[0] for d in rel.description], rel.fetchall())
            out[q] = {"sha256": digest, "rows": rows}
        except Exception as e:  # noqa: BLE001 - DuckDB raises its own hierarchy
            if time.time() - t0 >= ORACLE_TIMEOUT_S:
                out[q] = {"missing": f"oracle did not finish in {ORACLE_TIMEOUT_S:g} s in DuckDB"}
            else:
                out[q] = {"missing": f"oracle failed in DuckDB: {str(e)[:200]}"}
        finally:
            timer.cancel()
        log(f"  {q}: {out[q]} ({time.time() - t0:.1f} s)")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", default=harness.DEFAULT_SF, help="fixture directory")
    ap.add_argument("--out", default=str(harness.BENCH / "goldens.json"))
    args = ap.parse_args()
    harness.check_checkout(args.sf)
    queries = goldens(args.sf)
    Path(args.out).write_text(json.dumps(
        {"sf": Path(args.sf).name, "command": "python3 perfbench/goldens.py",
         "queries": queries}, indent=1, sort_keys=True) + "\n")
    print(f"wrote {args.out}: {sum('sha256' in g for g in queries.values())} of "
          f"{len(queries)} queries have a golden hash")


if __name__ == "__main__":
    main()
