#!/usr/bin/env python3
"""Print one traced benchmark pass as an indented span tree.

    python3 scripts/span_tree.py <spans.jsonl> [pass]
    python3 scripts/span_tree.py <spans.jsonl> --query Q

Reads the spans a traced perfbench run writes
(`.bench_build/perfbench/runs/<workload>-seed<n>-trace1/spans.jsonl`, one
JSON object per line: id, parent, kind, name, startUs, endUs) and prints
pass -> call -> construct/execute -> build/job -> stage with each span's
wall time and its share of the pass. `pass` is the 1-based pass number
among the file's traced passes (default 1). With `--query Q` it prints,
for every traced pass in the file, only the subtree of query Q's call
(shares still of that pass), to compare one call across passes or
commits.

The tracer parents Spark jobs on the construct or execute span that
issued them, next to the memo builds of that span; a job that ran inside
a build's window is shown under that build, so a build's row reads as
its own jobs and stages.
"""
import argparse
import json
import sys


def dur_s(span):
    return (span["endUs"] - span["startUs"]) / 1e6


def within(inner, outer, slack_us=1000):
    # job and stage times come from the Spark listener at millisecond
    # resolution, build times from the driver clock at microseconds
    return (inner["startUs"] >= outer["startUs"] - slack_us
            and inner["endUs"] <= outer["endUs"] + slack_us)


def children_of(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    # re-parent each job or build onto the innermost sibling build whose
    # window contains it
    for siblings in kids.values():
        builds = [b for b in siblings if b["kind"] == "build"]
        for s in siblings:
            if s["kind"] not in ("job", "build"):
                continue
            hosts = [b for b in builds if b is not s and within(s, b)
                     and not (s["kind"] == "build" and within(b, s))]
            if hosts:
                s["parent"] = min(hosts, key=dur_s)["id"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for v in kids.values():
        v.sort(key=lambda s: (s["startUs"], s["id"]))
    return kids


def show(span, kids, total, depth=0):
    share = 100.0 * dur_s(span) / total if total else 0.0
    print(f"{'  ' * depth}{span['kind']:<9} {dur_s(span):8.3f} s {share:5.1f}%  {span['name']}")
    for k in kids.get(span["id"], []):
        show(k, kids, total, depth + 1)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.strip().splitlines()[0])
    ap.add_argument("spans", help="spans.jsonl of a traced perfbench run")
    ap.add_argument("pass_no", nargs="?", type=int, metavar="pass",
                    help="1-based traced pass to print (default 1)")
    ap.add_argument("--query", metavar="Q",
                    help="print only Q's call subtree, from every traced pass")
    args = ap.parse_args(argv[1:])
    if args.query and args.pass_no is not None:
        ap.error("give a pass or --query, not both")
    with open(args.spans) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    passes = sorted((s for s in spans if s["kind"] == "pass"), key=lambda s: s["startUs"])
    kids = children_of(spans)
    if args.query:
        found = 0
        for n, root in enumerate(passes, 1):
            for call in kids.get(root["id"], []):
                if call["kind"] == "call" and call["name"] == args.query:
                    print(f"pass {n} ({dur_s(root):.3f} s)")
                    show(call, kids, dur_s(root), 1)
                    found += 1
        if not found:
            sys.exit(f"{args.spans}: no call of {args.query} in {len(passes)} traced passes")
        return
    n = args.pass_no or 1
    if not 1 <= n <= len(passes):
        sys.exit(f"{args.spans}: pass {n} requested, {len(passes)} traced passes in the file")
    show(passes[n - 1], kids, dur_s(passes[n - 1]))


if __name__ == "__main__":
    main(sys.argv)
