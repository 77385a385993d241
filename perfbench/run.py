#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 perfbench/run.py --workload {cold_build,hot_serve} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a graft checkout. The first run builds graft and the
benchmark driver from source with sbt (offline). Each run is one fresh JVM
at local[<cores>] over the sf0.1 fixtures. The last stdout line is
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The lines above it
name every metric with its unit and sample count, the correctness gate's
verdict per query, and the machine context; the full record is written to
.bench_build/perfbench/records/.
"""
import argparse
import json
import shutil
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import harness  # noqa: E402

WORKLOADS = ["cold_build", "hot_serve"]
# A run is cut here and fails, without a result, whatever its length.
RUN_LIMIT_S = 170


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[max(0, -(-len(xs) * p // 100) - 1)] if xs else 0.0


def gate(con, warm, goldens, out_dir):
    """Checks each query's warm-pass output against its golden hash. Returns
    {query: (status, detail, hash)}; status is ok, FAIL or unverified. Only
    ok passes: an unverified query counts as failed like a FAIL."""
    verdict = {}
    for q in warm["queries"]:
        if q in warm["errors"]:
            verdict[q] = ("FAIL", "threw: " + warm["errors"][q], None)
            continue
        got, rows = harness.parquet_hash(con, out_dir / q)
        g = goldens.get(q, {"missing": "no golden recorded"})
        if "sha256" not in g:
            verdict[q] = ("unverified", g["missing"], got)
        elif g["sha256"] == got:
            verdict[q] = ("ok", f"{rows} rows", got)
        else:
            verdict[q] = ("FAIL", f"hash {got[:12]} != golden {g['sha256'][:12]}"
                          f" ({rows} rows, golden {g['rows']})", got)
    return verdict


def end_to_end(res, setup_s):
    passes = [p for p in res["passes"] if not p["traced"]]
    note = f"median of {len(passes)} passes"
    memo = max([res["warm_storage_mb"] + res["warm_disk_mb"]] +
               [p["storage_mb"] + p["disk_mb"] for p in res["passes"]])
    return {
        "setup_s": (setup_s, "s", "process start to first timed pass"),
        "pass_s": (median([p["wall_s"] for p in passes]), "s", note),
        "memo_mb": (memo, "MiB", "high-water, memory plus disk"),
    }


def cpu(res):
    """Median process CPU seconds per untraced timed pass: reported, not
    gated, since JIT threads make it vary more than any admissible bound."""
    passes = [p for p in res["passes"] if not p["traced"]]
    return median([p["cpu_s"] for p in passes]), "s", f"median of {len(passes)} passes"


def call_latency(res):
    """Per-call latency percentiles over the untraced timed calls,
    each only where at least ten calls lie beyond it."""
    idx = {p["index"] for p in res["passes"] if not p["traced"]}
    lat = [c["construct_s"] + c["execute_s"] for c in res["calls"] if c["pass"] in idx]
    n = len(lat)
    return {f"call_p{p}_s": (percentile(lat, p), "s", f"{n} calls")
            for p in (50, 90) if n - -(-n * p // 100) >= 10}, n


def per_layer(res):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    idx = {p["index"] for p in traced}
    calls = [c for c in res["calls"] if c["pass"] in idx]
    k = len(traced)
    note = f"median of {k} traced passes"

    def per_pass(f):
        return median([sum(f(c) for c in calls if c["pass"] == i) for i in idx])

    m = {"sessions.start_s": (res["session_start_s"], "s", "1 session start")}
    for key in sorted(traced[0]["layers"]):
        unit = ("count" if key.split(".")[1] in (
            "builds", "executions", "jobs", "stages", "tasks", "codegen_compiles", "gc_count")
            else "MiB" if key.endswith("_mb") else "ms" if key.endswith("_ms") else "s")
        m[key] = (median([p["layers"][key] for p in traced]), unit, note)
    m["caches.storage_mb"] = (max(p["storage_mb"] for p in traced), "MiB", "high-water")
    m["caches.disk_mb"] = (max(p["disk_mb"] for p in traced), "MiB", "high-water")
    m["call.construct_s"] = (per_pass(lambda c: c["construct_s"]), "s", note)
    m["call.execute_s"] = (per_pass(lambda c: c["execute_s"]), "s", note)
    for mod in res["modules"]:
        m[f"{mod}.call_s"] = (per_pass(
            lambda c: c["construct_s"] + c["execute_s"] if c["module"] == mod else 0.0),
            "s", note)
    m["trace.overhead_s"] = (
        median([p["wall_s"] for p in traced]) - median([p["wall_s"] for p in plain]),
        "s", f"traced minus untraced median pass, {k} vs {len(plain)} passes")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--sf", default=harness.DEFAULT_SF, help="fixture directory")
    ap.add_argument("--goldens", default=str(harness.BENCH / "goldens.json"))
    args = ap.parse_args()
    harness.check_checkout(args.sf)
    goldens = json.loads(Path(args.goldens).read_text())
    if Path(goldens["sf"]).name != Path(args.sf).name:
        harness.fail(f"goldens are for {goldens['sf']}, not {args.sf}")

    classpath = harness.build()
    start = time.time()
    context = {"nproc": harness.cores(), "git_commit": harness.git_commit(),
               "sources_sha256": harness.source_hash(),
               "loadavg_start": harness.loadavg(), "steal_ticks_start": harness.steal_ticks()}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = harness.WORK / "runs" / tag
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", args.trace,
                "--sf", args.sf, "--out", str(run_dir)]
    jvm = harness.Jvm(classpath, jvm_args, run_dir, start + RUN_LIMIT_S)
    try:
        warm = json.loads(jvm.expect("READY"))
        verdict = gate(harness.duckdb_on(args.sf), warm, goldens["queries"],
                       run_dir / "outputs")
        jvm.send("GO")
        res = json.loads(jvm.expect("RESULT"))
    finally:
        jvm.stop()
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)
    context.update(loadavg_end=harness.loadavg(), steal_ticks_end=harness.steal_ticks(),
                   heap_mb=res["heap_mb"], spark_version=res["spark_version"],
                   jdk=res["jdk"], cores_used=res["cores"])

    timed = res["calls"]
    failed = sum(1 for v in verdict.values() if v[0] != "ok") + \
        sum(1 for c in timed if "error" in c)
    attempted = len(verdict) + len(timed)
    setup_s = res["first_pass_epoch_ms"] / 1000 - start
    metrics = per_layer(res) if args.trace == "1" else end_to_end(res, setup_s)

    print(f"perfbench {tag}: {len(res['passes'])} timed passes, {len(timed)} calls")
    for name, (value, unit, note) in metrics.items():
        print(f"  {name:<24} {value:12.4f} {unit:<6} ({note})")
    if args.trace == "0":
        latency, n = call_latency(res)
        for name, (value, unit, note) in dict(latency, cpu_s=cpu(res)).items():
            print(f"  {name:<24} {value:12.4f} {unit:<6} ({note})")
        if len(latency) < 2:
            print(f"  call_p50_s/call_p90_s: only where 10 of the {n} calls lie beyond")
    print(f"  {'error_rate':<24} {failed / attempted:12.4f} ratio  ({failed} of {attempted} "
          "calls threw, failed the correctness gate or had no golden)")
    for q, (status, detail, _) in sorted(verdict.items()):
        if status != "ok":
            print(f"  {status} {q}: {detail}")
    errs = sorted({c["query"] for c in timed if "error" in c})
    if errs:
        print(f"  FAIL timed calls threw: {', '.join(errs)}")
    print(f"  correctness: {sum(v[0] == 'ok' for v in verdict.values())}/{len(verdict)} "
          "queries match their DuckDB-oracle golden hashes")
    print("  machine: " + " ".join(f"{k}={v}" for k, v in context.items()))

    record = dict(args=vars(args), context=context, metrics={
        k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in metrics.items()},
        error_rate=failed / attempted, failed=failed, attempted=attempted,
        output_sha256={q: v[2] for q, v in verdict.items()},
        verdict={q: v[:2] for q, v in verdict.items()}, result=res)
    records = harness.WORK / "records"
    records.mkdir(parents=True, exist_ok=True)
    (records / f"{tag}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u, _) in metrics.items()}}))


if __name__ == "__main__":
    main()
