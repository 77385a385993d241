#!/usr/bin/env python3
"""A/B one perfbench workload between a parent commit and this checkout.

    python3 scripts/ab.py --parent REV --workload W --pairs N [--seed K]

Run from the root of a graft checkout. The parent side runs from a
`git worktree` of REV at `<tmp>/graft-ab-<sha12>` (`<tmp>` is the system
temp directory, /tmp unless TMPDIR says otherwise); an existing directory
there is reused, so an exported copy of REV (`git archive`) works too. The
change side is this working tree, uncommitted edits included. Each pair
runs `perfbench/run.py --trace 0` once per side with the same seed
(K + pair index) and BENCHMARK.json's run length, alternating which side
goes first.

For every end-to-end metric in BENCHMARK.json it prints the per-pair
values, both medians, the parent's interquartile range, the pairs the
change wins, and a verdict by the simplicity-review rule:

  gain           the change wins >= 9/10 of the pairs and the medians
                 differ by more than the parent's IQR;
  regression     the change's median is worse than the parent's by more
                 than the metric's bound (a fraction of the parent median);
  unresolved     the parent's IQR exceeds the bound, and not every change
                 run beats every parent run;
  no regression  otherwise.

The error rate and golden count of every run are printed too, and the
per-pass tail: every timed pass's `wall_s` from each run's record
(.bench_build/perfbench/records/<workload>-seed<n>-trace0.json in that
side's checkout), pooled per side, as p50, p90 and max. A median can
hide a few slow passes; the tail shows them. The full record is written
to .bench_build/ab/<workload>-<sha12>.json.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path.cwd()


def fail(msg):
    print(f"ab: {msg}", file=sys.stderr)
    sys.exit(2)


def git(*args, cwd=ROOT):
    p = subprocess.run(["git", *args], cwd=cwd, capture_output=True, text=True)
    if p.returncode != 0:
        fail(f"git {' '.join(args)}: {p.stderr.strip()}")
    return p.stdout.strip()


def parent_checkout(rev):
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    path = Path(tempfile.gettempdir()) / f"graft-ab-{sha[:12]}"
    if not path.exists():
        git("worktree", "add", "--detach", str(path), sha)
    elif (path / ".git").exists() and git("rev-parse", "HEAD", cwd=path) != sha:
        fail(f"{path} is not at {sha}")
    return sha, path


def percentile(xs, p):
    """Nearest-rank percentile (perfbench/run.py's rule)."""
    xs = sorted(xs)
    return xs[max(0, -(-len(xs) * p // 100) - 1)] if xs else 0.0


def run_side(path, workload, seed, seconds):
    """One perfbench run; returns {"metrics", "error_rate", "golden",
    "pass_wall_s"} or {"error"} when the run did not produce its result
    line."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=path, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        return {"error": (p.stderr.strip() or p.stdout.strip())[-400:]}
    res = json.loads(lines[-1])
    golden = re.search(r"correctness: (\d+)/(\d+)", p.stdout)
    record = path / ".bench_build" / "perfbench" / "records" / f"{workload}-seed{seed}-trace0.json"
    passes = json.loads(record.read_text())["result"]["passes"]
    return {"metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "error_rate": res["failed"] / res["attempted"],
            "golden": f"{golden[1]}/{golden[2]}" if golden else "?",
            "pass_wall_s": [p["wall_s"] for p in passes]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(parent, change, better, bound):
    """The simplicity-review verdict for one metric over paired runs."""
    sign = 1 if better == "lower" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, q3 = quartiles(parent)
    iqr = q3 - q1
    worse = sign * (mc - mp) / mp if mp else (0.0 if mc == mp else float("inf"))
    if wins >= 0.9 * len(parent) and sign * (mp - mc) > iqr:
        v = "gain"
    elif worse > bound:
        v = "regression"
    elif mp and iqr / abs(mp) > bound and not all(
            sign * (p - c) > 0 for p in parent for c in change):
        v = "unresolved"
    else:
        v = "no regression"
    return dict(wins=wins, median_parent=mp, median_change=mc, iqr_parent=iqr,
                change_vs_parent=sign * worse, verdict=v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent revision")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        fail(f"unknown workload {args.workload}")
    sha, parent_dir = parent_checkout(args.parent)
    sides = {"parent": parent_dir, "change": ROOT}
    print(f"ab: {args.workload}, {args.pairs} pairs, parent {sha[:12]} at {parent_dir}")

    runs = []
    for i in range(args.pairs):
        seed = args.seed + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_side(sides[side], args.workload, seed, seconds)
        runs.append(pair)
        print(f"  pair {i + 1} seed {seed} ({order[0]} first): " + "  ".join(
            f"{s}: " + (r["error"][:80] if "error" in r else
                        " ".join(f"{k}={v:.3f}" for k, v in r["metrics"].items())
                        + f" err={r['error_rate']:.3f} golden={r['golden']}")
            for s, r in ((s, pair[s]) for s in ("parent", "change"))), flush=True)

    ok = [r for r in runs if "error" not in r["parent"] and "error" not in r["change"]]
    summary = {}
    print(f"\n{args.workload}: {len(ok)} of {len(runs)} pairs completed")
    for m in bench["end_to_end"] if ok else []:
        name = m["name"]
        parent = [r["parent"]["metrics"][name] for r in ok]
        change = [r["change"]["metrics"][name] for r in ok]
        s = verdict(parent, change, m["better"], m["bound"])
        summary[name] = dict(s, parent=parent, change=change, bound=m["bound"])
        print(f"  {name} ({m['unit']}, {m['better']} is better, bound {m['bound']})")
        print("    parent: " + " ".join(f"{v:.3f}" for v in parent))
        print("    change: " + " ".join(f"{v:.3f}" for v in change))
        print(f"    median {s['median_parent']:.3f} -> {s['median_change']:.3f} "
              f"({100 * s['change_vs_parent']:+.1f}%), parent IQR {s['iqr_parent']:.3f}, "
              f"change wins {s['wins']}/{len(ok)}: {s['verdict']}")
    for side in ("parent", "change"):
        walls = [w for r in ok for w in r[side]["pass_wall_s"]]
        if walls:
            tail = {f"p{p}": percentile(walls, p) for p in (50, 90)}
            tail["max"] = max(walls)
            summary.setdefault("pass_tail", {})[side] = dict(tail, passes=len(walls))
            print(f"  {side} per-pass wall_s over {len(walls)} passes: "
                  + " ".join(f"{k} {v:.3f}" for k, v in tail.items()))
    for side in ("parent", "change"):
        rs = [r[side] for r in runs]
        print(f"  {side} error_rate: " + " ".join(
            "fail" if "error" in r else f"{r['error_rate']:.3f}" for r in rs)
            + "; goldens: " + " ".join(r.get("golden", "-") for r in rs))

    out = ROOT / ".bench_build" / "ab"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{args.workload}-{sha[:12]}.json").write_text(json.dumps(
        dict(parent=sha, workload=args.workload, seconds=seconds, runs=runs,
             summary=summary), indent=1))


if __name__ == "__main__":
    main()
