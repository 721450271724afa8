"""Benchmark of the search engine's public entry points.

One workload, in this process and its own Spark session::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

prints each metric by the name its users know it by, with unit and
sample count, then as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the ``end_to_end`` metrics of BENCHMARK.json, ``--trace 1``
the ``per_layer`` ones, measured with spans around the engine's layer
functions.

Every workload, untraced and traced, each in its own process::

    python3 perfbench/run.py --workload all --seed 1 --seconds 10

prints all of the above per workload plus the tracing overhead
(traced minus untraced end-to-end numbers).  A workload that fails is
reported with its error; the others still run.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ["build", "serve", "spark_query", "ingest"]
# runnable, but left out of BENCHMARK.json, so no change is judged on them
DROPPED = {
    "build": "four workloads do not fit the run budget, and its layers "
             "also run in ingest's appends and in every set-up build",
    "serve": "its closed loop of client threads and a single-threaded "
             "server swings 0.3-0.7 (Q3-Q1)/median between runs on a "
             "shared host",
}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def run_one(args) -> int:
    sys.path.insert(0, ROOT)
    import hoststat
    import workloads

    spec = load_spec()
    run = workloads.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace))
    cpu0 = hoststat.cpu_snapshot()
    error = None
    layer: dict = {}
    with hoststat.PeakMemory() as mem:
        try:
            workloads.WORKLOADS[args.workload](run)
            run.stop_server()
            if run.trace:
                layer = run.layer_metrics()
        except Exception:
            error = traceback.format_exc()
        finally:
            run.close()
    host = hoststat.host_stamp(cpu0, hoststat.cpu_snapshot())
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace} "
          f"nproc={host['nproc']} steal_pct={host['steal_pct']}")
    if error is not None:
        print(error, file=sys.stderr)
        last = error.strip().splitlines()[-1]
        print(f"  FAILED: {last}")
        print("REPORT " + json.dumps({"workload": args.workload,
                                      "error": last, "host": host}))
        print(json.dumps({"correct": False,
                          "attempted": run.attempted + 1,
                          "failed": run.failed + 1, "metrics": {}}))
        return 1

    e2e = dict(run.e2e, setup_s=run.setup_s, peak_pss_mb=mem.peak_mb)
    run.put("setup_s", run.setup_s, "s", 1)
    run.put("peak_pss_mb", mem.peak_mb, "MB", 1)
    attempted = max(1, run.attempted)
    for name, r in run.report.items():
        print(f"  {name:<28} {fmt(r['value']):>12} {r['unit']:<10} "
              f"n={r['n']}")
    print(f"  {'failed_frac':<28} {fmt(run.failed / attempted):>12} "
          f"{'failed/attempted':<10} n={attempted}")
    for p in run.problems[:20]:
        print(f"  problem: {p}")
    if run.trace:
        for name in sorted(layer):
            print(f"  layer {name:<34} {fmt(layer[name]):>12}")
        print(f"  spans written to {os.path.relpath(run.trace_path, ROOT)}")
    print("REPORT " + json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host, "report": run.report, "e2e": e2e, "layer": layer,
        "attempted": attempted, "failed": run.failed,
        "problems": run.problems[:20]}))
    if run.trace:
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]),
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": run.failed == 0, "attempted": attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def child(workload: str, args, trace: int) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace)]
    try:
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=900,
                           cwd=ROOT)
    except subprocess.TimeoutExpired:
        return {"error": "timed out after 900 s"}
    report = None
    for line in p.stdout.splitlines():
        if line.startswith("REPORT "):
            report = json.loads(line[len("REPORT "):])
    if report is None or "error" in report or p.returncode != 0:
        err = (report or {}).get("error") or (
            p.stderr.strip().splitlines() or ["no output"])[-1]
        return {"error": f"exit {p.returncode}: {err}"}
    return report


def run_all(args) -> int:
    spec = load_spec()
    ok, attempted, failed, summary = True, 0, 0, {}
    for w in WORKLOAD_NAMES:
        plain, traced = child(w, args, 0), child(w, args, 1)
        print(f"== {w}")
        if w in DROPPED:
            print(f"  not in BENCHMARK.json: {DROPPED[w]}")
        if "error" in plain:
            print(f"  FAILED (untraced): {plain['error']}")
            ok, failed, attempted = False, failed + 1, attempted + 1
            continue
        print(f"  host: {plain['host']}")
        for name, r in plain["report"].items():
            print(f"  {name:<28} {fmt(r['value']):>12} {r['unit']:<10} "
                  f"n={r['n']}")
        print(f"  {'failed_frac':<28} "
              f"{fmt(plain['failed'] / plain['attempted']):>12} "
              f"{'failed/attempted':<10} n={plain['attempted']}")
        for p in plain["problems"]:
            print(f"  problem: {p}")
        ok = ok and plain["failed"] == 0
        attempted += plain["attempted"]
        failed += plain["failed"]
        for m in spec["end_to_end"]:
            summary[f"{w}.{m['name']}"] = {
                "value": plain["e2e"][m["name"]], "unit": m["unit"]}
        if "error" in traced:
            print(f"  traced run FAILED: {traced['error']}")
            continue
        print("  tracing overhead (traced - untraced):")
        for m in spec["end_to_end"]:
            a, b = plain["e2e"][m["name"]], traced["e2e"][m["name"]]
            print(f"    {m['name']:<28} {fmt(b - a):>12} {m['unit']:<8} "
                  f"({fmt(100 * (b - a) / a if a else 0.0)} %)")
        print("  per layer (traced run):")
        for m in spec["per_layer"]:
            v = traced["layer"].get(m["name"], 0.0)
            print(f"    {m['name']:<36} {fmt(v):>12} {m['unit']}")
    print(json.dumps({"correct": ok, "attempted": max(1, attempted),
                      "failed": failed, "metrics": summary}))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured window (default: run_seconds of "
                         "BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "rechercheinfoweb_spark",
                                       "__init__.py")):
        print("perfbench: the engine package rechercheinfoweb_spark is not "
              f"in {ROOT}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = load_spec()["run_seconds"]
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
