#!/usr/bin/env python3
"""Repeated-run reports over e2ebench/run.py.

Steadiness: N untraced runs of one commit, one seed each, and per
workload (default: those in BENCHMARK.json) and end-to-end metric the
median, the quartiles and the quartile spread as a share of the median,
against the metric's bound in BENCHMARK.json.  A spread above a third
of the bound is flagged `> bound/3`, one above the bound `> bound`:

    python3 e2ebench/report.py steady --workload mr_wordcount --runs 10

Layers: one traced run per workload, the per-layer table, the tracing
overhead (traced versus untraced op_s_p50, paired inside the run) and
the checks that each workload does what it was designed to do:

    python3 e2ebench/report.py layers

Both modes measure for BENCHMARK.json's run_seconds.  Run from the
repository root.  Each run's result line is also appended to
.bench_build/e2ebench/report.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def one_run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"run failed ({workload}, seed {seed}):\n{p.stderr[-2000:]}")
    rec = dict(json.loads(lines[-2]), result=json.loads(lines[-1]), trace=trace)
    os.makedirs(run.STATE, exist_ok=True)
    with open(os.path.join(run.STATE, "report.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")
    return rec


def load_bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def steady(args):
    bench = load_bench()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]] if args.workload == "all" \
        else [args.workload]
    for w in workloads:
        recs = [one_run(w, args.seed0 + i, bench["run_seconds"], 0) for i in range(args.runs)]
        failed = sum(r["result"]["failed"] for r in recs)
        attempted = sum(r["result"]["attempted"] for r in recs)
        print(f"\n{w}: {len(recs)} runs, seeds {args.seed0}..{args.seed0 + args.runs - 1}, "
              f"{attempted} ops, {failed} failed")
        print(f"  {'metric':<18}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
        for m in run.END_TO_END:
            vals = [r["result"]["metrics"][m]["value"] for r in recs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            flag = "  > bound" if spread > bounds[m] else \
                "  > bound/3" if spread > bounds[m] / 3 else ""
            print(f"  {m:<18}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}{bounds[m]:>8.2f}{flag}")


def layers(args):
    seconds = load_bench()["run_seconds"]
    recs = {w: one_run(w, args.seed0, seconds, 1) for w in sorted(run.WORKLOADS)}
    val = {w: {k: v["value"] for k, v in r["result"]["metrics"].items()} for w, r in recs.items()}
    ws = sorted(val)
    print(f"{'metric':<34}" + "".join(f"{w:>16}" for w in ws))
    for k in run.PER_LAYER:
        print(f"{k:<34}" + "".join(f"{val[w][k]:>16.3f}" for w in ws))
    print("\ntracing overhead (traced vs untraced op_s_p50, paired in one run):")
    for w in ws:
        print(f"  {w}: {val[w]['trace.op_s_p50']:.3f} s vs {val[w]['trace.untraced_op_s_p50']:.3f} s"
              f" ({val[w]['trace.overhead_pct']:+.1f} %)")
    wc, ident, bat, cur = (val[w] for w in ("mr_wordcount", "mr_identity", "battery_sample",
                                             "curate"))
    checks = [
        ("mr.sink.lines on mr_identity >= 50x mr_wordcount",
         ident["mr.sink.lines"] >= 50 * wc["mr.sink.lines"]),
        ("mr.map.emits per input MB higher on mr_wordcount than mr_identity",
         wc["mr.map.emits"] * ident["mr.map.input_mb"] > ident["mr.map.emits"] * wc["mr.map.input_mb"]),
        ("curate and battery_sample show no mr.* activity",
         all(v[k] == 0 for v in (cur, bat) for k in run.PER_LAYER if k.startswith("mr."))),
        ("sched.core_busy_frac on battery_sample below both MapReduce workloads",
         bat["sched.core_busy_frac"] < min(wc["sched.core_busy_frac"], ident["sched.core_busy_frac"])),
    ]
    print("\ndesign checks:")
    for name, ok in checks:
        print(f"  {'ok  ' if ok else 'FAIL'} {name}")
    return 0 if all(ok for _, ok in checks) else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    s = sub.add_parser("steady")
    s.add_argument("--workload", default="all", choices=["all"] + sorted(run.WORKLOADS))
    s.add_argument("--runs", type=int, default=10)
    l_ = sub.add_parser("layers")
    for p in (s, l_):
        p.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()
    return steady(args) if args.mode == "steady" else layers(args)


if __name__ == "__main__":
    sys.exit(main())
