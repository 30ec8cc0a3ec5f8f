#!/usr/bin/env python3
"""Repeat-run checks for the benchmark.

Steadiness: run one workload once per seed and report, per end-to-end
metric, the median and the quartile spread (IQR / median) against a
third of the metric's bound in BENCHMARK.json:

    python3 perfbench/steady.py spread --workload dml_mix --seeds 1 2 3 4 5

Exact counts and tracing overhead: run the same seed traced twice and
untraced once; list every per-op counter (jobs, stages, tasks,
exchanges, file counts) that does not repeat between the two traced
runs, and print traced pass_s minus untraced pass_s:

    python3 perfbench/steady.py counts --workload heavy_x10 --seed 1

Run from the repository root.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True

import stats  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
COUNTERS = ["jobs", "stages", "tasks", "exchanges"]
FILE_COUNTS = ["data_files", "delete_files", "eq_delete_files"]


def spec():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload, seed, trace, seconds):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed ({p.returncode}): {' '.join(cmd)}\n{p.stdout[-2000:]}{p.stderr[-2000:]}")
    report = os.path.join(BENCH, ".work", "reports", f"{workload}-seed{seed}-trace{trace}.json")
    return json.loads(lines[-1]), json.load(open(report))


def spread_cmd(args):
    s = spec()
    values = {}
    for seed in args.seeds:
        line, _ = run(args.workload, seed, 0, args.seconds or s["run_seconds"])
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()),
              flush=True)
    ok = True
    for m in s["end_to_end"]:
        xs = values[m["name"]]
        sp = stats.spread(xs) if len(xs) >= 2 else float("nan")
        limit = m["bound"] / 3
        flag = "ok" if m["name"] == "setup_s" or sp <= limit else "WIDE"
        ok &= flag == "ok"
        print(f"{m['name']:14s} median {stats.median(xs):12.5g} {m['unit']:5s} "
              f"spread {sp:7.4f} (bound/3 {limit:.4f}) {flag}")
    sys.exit(0 if ok else 1)


def op_counts(report):
    out = {}
    seen = {}
    for o in report["ops"]:
        key = (o["pass"], o["kind"], o["name"])
        seen[key] = seen.get(key, 0) + 1
        vals = {c: o["trace"][c] for c in COUNTERS}
        vals.update({c: o[c] for c in FILE_COUNTS if c in o})
        out[key + (seen[key],)] = vals
    return out


def counts_cmd(args):
    seconds = args.seconds or spec()["run_seconds"]
    _, a = run(args.workload, args.seed, 1, seconds)
    _, b = run(args.workload, args.seed, 1, seconds)
    plain, _ = run(args.workload, args.seed, 0, seconds)
    ca, cb = op_counts(a), op_counts(b)
    common = sorted(set(ca) & set(cb))
    varying = {}
    for k in common:
        for c, v in ca[k].items():
            if cb[k].get(c) != v:
                varying.setdefault(c, []).append((k, v, cb[k].get(c)))
    print(f"{len(common)} ops compared over {args.workload} seed {args.seed}")
    for c in COUNTERS + FILE_COUNTS:
        diffs = varying.get(c, [])
        print(f"  {c:16s} {'repeats' if not diffs else f'VARIES on {len(diffs)} ops'}")
        for k, x, y in diffs[:5]:
            print(f"      pass {k[0]} {k[1]} {k[2]}#{k[3]}: {x} vs {y}")
    traced = a["metrics"]["trace.pass_s"]["value"]
    untraced = plain["metrics"]["pass_s"]["value"]
    print(f"tracing overhead: traced pass_s {traced:.3f} s - untraced pass_s {untraced:.3f} s "
          f"= {traced - untraced:+.3f} s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", type=int, nargs="+", required=True)
    sp.add_argument("--seconds", type=int)
    cp = sub.add_parser("counts")
    cp.add_argument("--workload", required=True)
    cp.add_argument("--seed", type=int, default=1)
    cp.add_argument("--seconds", type=int)
    args = ap.parse_args()
    spread_cmd(args) if args.cmd == "spread" else counts_cmd(args)


if __name__ == "__main__":
    main()
