#!/usr/bin/env python3
"""A/B every DuckDB oracle between a parent commit and this checkout.

    python3 scripts/oracle_ab.py --parent REV --sf DIR [--only q1,q2]

Run from the root of a graft checkout. Each side writes its
`oracle_sql.json` with `sbt -batch "runMain graft.Verify DIR OUT __none__"`
(the subset `__none__` matches no query, so only the JSON is written). The
parent side runs from a `git worktree` of REV at `<tmp>/graft-ab-<sha12>`,
the directory `scripts/ab.py` uses; an existing directory there is reused,
so an exported copy of REV (`git archive`) works too. The change side is
this working tree, uncommitted edits included.

Every oracle (or only those named by --only) then runs on both sides in
DuckDB over the fixture tables in DIR, and the results are compared the
way `scripts/check.py` compares engine output to an oracle: column names,
row count, and rows canonicalized by `check.canon_rows` (exact float
repr). Per query it prints SAME or DIFF with both row counts, marking
queries whose SQL text changed; then the list of changed-text queries.
Exits 1 on any DIFF (a query missing on one side counts as DIFF).
"""
import argparse
import json
import subprocess
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import duckdb  # noqa: E402
from ab import parent_checkout  # noqa: E402
from check import TABLES, canon_rows  # noqa: E402

ROOT = Path.cwd()


def oracle_sql(checkout, sf, out):
    """Write and load `checkout`'s oracle_sql.json for fixture dir `sf`."""
    p = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Verify {sf} {out} __none__"],
        cwd=checkout, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    path = Path(out) / "oracle_sql.json"
    if p.returncode != 0 or not path.exists():
        sys.exit(f"oracle_ab: graft.Verify failed in {checkout}:\n{p.stdout[-2000:]}")
    return json.loads(path.read_text())


def run(con, sql):
    """(sorted column names, canonical rows) of one oracle, or an error."""
    try:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return sorted(cols), canon_rows(cols, cur.fetchall())[1]
    except Exception as e:  # a broken oracle is a result to report
        return None, f"{type(e).__name__}: {e}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent revision")
    ap.add_argument("--sf", required=True, help="fixture directory")
    ap.add_argument("--only", help="comma-separated oracle keys")
    args = ap.parse_args()
    sf = str(Path(args.sf).resolve())
    sha, parent_dir = parent_checkout(args.parent)
    print(f"oracle_ab: parent {sha[:12]} at {parent_dir}, fixtures {sf}", flush=True)
    with tempfile.TemporaryDirectory(prefix="oracle-ab-") as tmp:
        sides = {side: oracle_sql(path, sf, f"{tmp}/{side}")
                 for side, path in (("parent", parent_dir), ("change", ROOT))}
    keys = sorted(set(sides["parent"]) | set(sides["change"]))
    if args.only:
        only = {q.strip() for q in args.only.split(",") if q.strip()}
        unknown = only - set(keys)
        if unknown:
            sys.exit(f"oracle_ab: no oracle named {', '.join(sorted(unknown))}")
        keys = [k for k in keys if k in only]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    diffs, changed = [], []
    for k in keys:
        sql = {s: sides[s].get(k) for s in sides}
        if sql["parent"] != sql["change"]:
            changed.append(k)
        mark = " (sql changed)" if k in changed else ""
        if None in sql.values():
            missing = [s for s, v in sql.items() if v is None]
            print(f"DIFF {k}: no oracle on the {missing[0]} side", flush=True)
            diffs.append(k)
            continue
        (pc, pr), (cc, cr) = run(con, sql["parent"]), run(con, sql["change"])
        if pc is not None and pc == cc and pr == cr:
            print(f"SAME {k}: {len(pr)} rows{mark}", flush=True)
            continue
        if pc is None or cc is None:
            why = f"parent {pr}" if pc is None else f"change {cr}"
        else:
            why = "columns differ" if pc != cc else "rows differ"
        rows = lambda r: len(r) if isinstance(r, list) else "no"
        print(f"DIFF {k}: parent {rows(pr)} rows, change {rows(cr)} rows; {why}{mark}",
              flush=True)
        diffs.append(k)
    print(f"\n{len(keys) - len(diffs)} SAME, {len(diffs)} DIFF of {len(keys)} oracles")
    print(f"sql text changed ({len(changed)}): {', '.join(changed) or '-'}")
    if diffs:
        print(f"DIFF: {', '.join(diffs)}")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
