#!/usr/bin/env python3
"""Fast self-test of the benchmark harness at sf0.001.

    python3 perfbench/selftest.py [--sf /root/testdata/sf0.001]

Run from the root of a graft checkout. Generates goldens for the small
fixtures from the DuckDB oracle, then runs every workload twice with the
fewest timed passes (`--seconds 0`):
  - seed 1, untraced, true goldens: every end-to-end metric of
    BENCHMARK.json is printed with its unit and the gate passes;
  - seed 2, traced, one golden deliberately wrong and, where the workload
    has a second query, that one's golden removed: every per-layer metric
    is printed with its unit, and each of the two makes the run incorrect,
    counts in error_rate and is named;
and checks that the two seeds produced identical output hashes. Exits
non-zero on any failed check.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import goldens  # noqa: E402
import harness  # noqa: E402


def run(workload, seed, trace, sf, golden_file):
    cmd = [sys.executable, str(harness.BENCH / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
           "--sf", sf, "--goldens", str(golden_file)]
    proc = subprocess.run(cmd, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(proc.stdout + proc.stderr)
        return None, proc.stdout, None
    record = json.loads(
        (harness.WORK / "records" / f"{workload}-seed{seed}-trace{trace}.json").read_text())
    return json.loads(lines[-1]), proc.stdout, record


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    args = ap.parse_args()
    harness.check_checkout(args.sf)
    spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    units = {kind: {m["name"]: m["unit"] for m in spec[kind]}
             for kind in ("end_to_end", "per_layer")}
    work = harness.WORK / "selftest"
    work.mkdir(parents=True, exist_ok=True)
    good = goldens.goldens(args.sf, log=lambda _: None)
    good_file = work / "goldens.json"
    good_file.write_text(json.dumps({"sf": Path(args.sf).name, "queries": good}))
    workloads = harness.oracle_queries(harness.build())["workloads"]

    problems = []

    def check(ok, what):
        print(f"  {'ok  ' if ok else 'FAIL'} {what}")
        if not ok:
            problems.append(what)

    for w in [x["name"] for x in spec["workloads"]]:
        print(f"{w}:")
        hashed = [q for q in workloads[w] if "sha256" in good.get(q, {})]
        victim, dropped = hashed[0], hashed[1:2]
        bad = dict(good, **{victim: dict(good[victim], sha256="0" * 64)},
                   **{q: {"missing": "dropped by the self-test"} for q in dropped})
        bad_file = work / f"goldens-wrong-{w}.json"
        bad_file.write_text(json.dumps({"sf": Path(args.sf).name, "queries": bad}))

        a = run(w, 1, 0, args.sf, good_file)
        b = run(w, 2, 1, args.sf, bad_file)
        check(a[0] is not None and b[0] is not None, "both runs exit 0 and print a result")
        if a[0] is None or b[0] is None:
            continue
        for res, kind in ((a[0], "end_to_end"), (b[0], "per_layer")):
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{kind} result has exactly correct/attempted/failed/metrics")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == units[kind], f"{kind}: every metric named in BENCHMARK.json, "
                  f"with its unit ({len(got)} printed, {len(units[kind])} named)")
        check(a[0]["correct"] and a[0]["failed"] == 0, "true goldens: correct, no failures")
        check(not b[0]["correct"] and b[0]["failed"] >= 1 and b[2]["error_rate"] > 0,
              f"wrong golden for {victim}: incorrect, error_rate > 0")
        check(f"FAIL {victim}:" in b[1], f"wrong golden: {victim} named in the output")
        for q in dropped:
            check(b[0]["failed"] >= 2 and f"unverified {q}:" in b[1],
                  f"no golden for {q}: counted as failed and named")
        check(a[2]["output_sha256"] == b[2]["output_sha256"],
              "seeds 1 and 2 give identical output hashes")
    print("self-test " + ("passed" if not problems else f"FAILED: {len(problems)} checks"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
