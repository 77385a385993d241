#!/usr/bin/env python3
"""A/B the physical plans of some queries between a parent commit and this checkout.

    python3 scripts/plan_ab.py --parent REV --only q1,q2 [--sf DIR] [--transparent]

Run from the root of a graft checkout. Each side dumps the formatted
physical plan of every named query with
`sbt -batch "runMain graft.PlanDump OUT q1,q2 [DIR]"` at
SPARK_GRAFT_CPUS=4 (PlanDump's own fixture default when --sf is not
given). The parent side runs from a `git worktree` of REV at
`<tmp>/graft-ab-<sha12>`, the directory `scripts/ab.py` uses; an existing
directory there is reused, so an exported copy of REV (`git archive`)
works too. The change side is this working tree, uncommitted edits
included. `--transparent` sets SPARK_GRAFT_TRANSPARENT=1 on both sides,
so a memo-fed query's dump shows its memo builds inline instead of a
cache read.

Per query it prints one verdict:

  SAME    the dumps are equal once expression ids, plan ids, RDD ids,
          source line numbers, lambda class addresses and the pid in
          artifact paths are stripped;
  DETAIL  the operator trees (the dump up to its first blank line) are
          equal line for line, but the stripped details differ;
  TREE    the operator trees differ.

Each DETAIL and TREE is followed by the unified diff of the stripped
dumps; detail differences are usually column aliases, read them before
calling a plan unchanged. Exits 1 on any TREE difference.
"""
import argparse
import difflib
import os
import re
import subprocess
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from ab import parent_checkout  # noqa: E402

ROOT = Path.cwd()

# ids that differ between two runs of the same plan
NOISE = [
    (re.compile(r"#[0-9]+L?"), ""),
    (re.compile(r"plan_id=[0-9]+"), ""),
    (re.compile(r"RDD\[[0-9]+\]"), ""),
    (re.compile(r"\.scala:[0-9]+"), ""),
    (re.compile(r"Lambda\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+"), "Lambda"),
    # Caches.artifactBase: the artifact root carries the JVM's pid
    (re.compile(r"(graft-artifacts-[^/\s]*)-[0-9]+/"), r"\1/"),
]


def strip(text):
    for pat, rep in NOISE:
        text = pat.sub(rep, text)
    return text


def tree(text):
    """The operator tree: the dump up to its first blank line."""
    return text.split("\n\n", 1)[0]


def dump(checkout, names, sf, out, transparent):
    """Write `checkout`'s plan dumps of `names` into `out`."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    env.pop("SPARK_GRAFT_TRANSPARENT", None)
    if transparent:
        env["SPARK_GRAFT_TRANSPARENT"] = "1"
    args = f"runMain graft.PlanDump {out} {','.join(names)}" + (f" {sf}" if sf else "")
    p = subprocess.run(["sbt", "-batch", args], cwd=checkout, env=env,
                       capture_output=True, text=True, stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        sys.exit(f"plan_ab: graft.PlanDump failed in {checkout}:\n{p.stdout[-2000:]}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="parent revision")
    ap.add_argument("--only", required=True, help="comma-separated registry keys")
    ap.add_argument("--sf", help="fixture directory (PlanDump's default if omitted)")
    ap.add_argument("--transparent", action="store_true",
                    help="show memo builds inline (SPARK_GRAFT_TRANSPARENT=1)")
    args = ap.parse_args()
    names = [q.strip() for q in args.only.split(",") if q.strip()]
    sf = str(Path(args.sf).resolve()) if args.sf else None
    sha, parent_dir = parent_checkout(args.parent)
    print(f"plan_ab: parent {sha[:12]} at {parent_dir}, fixtures {sf or 'default'}"
          f"{', transparent' if args.transparent else ''}", flush=True)
    trees = []
    with tempfile.TemporaryDirectory(prefix="plan-ab-") as tmp:
        for side, path in (("parent", parent_dir), ("change", ROOT)):
            dump(path, names, sf, f"{tmp}/{side}", args.transparent)
        for q in names:
            old, new = (strip(Path(f"{tmp}/{side}/{q}.txt").read_text())
                        for side in ("parent", "change"))
            if old == new:
                print(f"SAME {q}", flush=True)
                continue
            verdict = "TREE" if tree(old) != tree(new) else "DETAIL"
            if verdict == "TREE":
                trees.append(q)
            print(f"{verdict} {q}")
            sys.stdout.writelines(difflib.unified_diff(
                old.splitlines(True), new.splitlines(True),
                f"parent/{q}.txt", f"change/{q}.txt", n=1))
            print(flush=True)
    print(f"\n{len(names) - len(trees)} of {len(names)} operator trees identical")
    if trees:
        print(f"TREE: {', '.join(trees)}")
    sys.exit(1 if trees else 0)


if __name__ == "__main__":
    main()
