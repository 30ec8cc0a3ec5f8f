#!/usr/bin/env python3
"""Engine benchmark: one closed-loop client drives the engine for a time
window on one workload, checks every output, and prints the metrics.

    python3 perfbench/run.py --workload heavy_x10 --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and this
benchmark's JVM driver with sbt and the 10x fixture from the tables in
perfbench/data/; later runs reuse both while the sources are unchanged.
Everything is written under `perfbench/.work/`.

Workloads (see BENCHMARK.json for why each exists):
  heavy_x10  the heavy query tail on a 10x ScaleFixture of sf0.01
  dml_mix    writes beside reads on a fresh snapshot table per pass

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
ones from a traced run (spans in perfbench/.work/reports/*.spans.jsonl).
The last stdout line is one JSON object: correct, attempted, failed,
metrics. The exit code is non-zero when any output is wrong.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True

import build  # noqa: E402
import dmlmix  # noqa: E402
import stats  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
# copies of the repository's sf0.01 test tables and of its sf0.1 orders
DATA = os.path.join(BENCH, "data")
HEAP = "3g"
JVM_TIMEOUT_S = 165
# every run measures at least this many passes, however short --seconds
# is: pass_s is their median, and every op type is sampled this often
# (a third pass would add 8 to 10 s to every run)
MIN_PASSES = 2

WORKLOADS = {
    "heavy_x10": {
        "queries": ["q64_basket_pairs", "d6_simhash_pairs", "t15_bpe_pairs", "d3_minhash_lsh",
                    "q65_order_gaps", "s9_covariance"],
        "fixture_src": "sf0.01", "factor": 10, "setup_reps": 2, "readbacks": 2},
    "dml_mix": {"data": "sf0.1", "setup_reps": 2},
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_s.p50", "s"), ("query_s.p90", "s"),
              ("write_s.p50", "s"), ("write_s.p90", "s"), ("read_s.p50", "s"),
              ("read_s.p90", "s"), ("space_amp", "ratio"), ("ok_ratio", "ratio"),
              ("peak_rss_mb", "MB")]

FAMILIES = ["relational", "analytic", "temporal", "text", "dedup", "similarity"]
SNAPSHOT_OPS = ["commit", "delete_mor", "merge", "upsert_eq", "maintain", "read",
                "read_resolve", "change_feed"]
EXEC_SUMS = [("exec.jobs", "jobs", "count"), ("exec.stages", "stages", "count"),
             ("exec.tasks", "tasks", "count"), ("exec.driver_gap_s", "driver_gap_s", "s"),
             ("exec.task_run_s", "task_run_s", "s"), ("exec.task_cpu_s", "task_cpu_s", "s"),
             ("exec.gc_s", "gc_s", "s"),
             ("exec.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
             ("exec.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
             ("exec.input_bytes", "input_bytes", "bytes"), ("exec.spill_bytes", "spill_bytes", "bytes"),
             ("plans.analysis_s", "analysis_s", "s"), ("plans.optimizer_s", "optimizer_s", "s"),
             ("plans.planning_s", "planning_s", "s"), ("plans.exchanges", "exchanges", "count"),
             ("intermediates.builds", "builds", "count"),
             ("intermediates.build_s", "build_s", "s")]
PER_LAYER = ([(n, u) for n, _, u in EXEC_SUMS] +
             [("exec.core_busy_ratio", "ratio"), ("intermediates.hit_ratio", "ratio"),
              ("intermediates.resident_bytes", "bytes")] +
             [(f"operators.{f}_s", "s") for f in FAMILIES] +
             [m for op in SNAPSHOT_OPS for m in ((f"snapshots.{op}_s", "s"),
                                                  (f"snapshots.{op}.jobs", "count"))] +
             [("snapshots.data_files", "count"), ("snapshots.delete_files", "count"),
              ("snapshots.eq_delete_files", "count"),
              ("snapshots.bytes_written_per_user_byte", "ratio"),
              ("snapshots.table_bytes", "bytes"), ("fixture.build_s", "s"),
              ("session.start_s", "s"), ("session.warmup_s", "s"), ("trace.pass_s", "s")])


def passes_for(seconds, pass_guess_s):
    """Passes to prepare inputs for: the window ends after the pass that
    crosses it (or after MIN_PASSES), so a few more than `seconds` at the
    shortest likely pass."""
    return max(int(seconds / pass_guess_s), MIN_PASSES) + 3


def make_plan(workload, seed, seconds, trace, run_dir):
    spec = WORKLOADS[workload]
    plan = {"workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
            "cpus": len(os.sched_getaffinity(0)), "work": run_dir,
            "setup_reps": spec["setup_reps"], "min_passes": MIN_PASSES}
    expected = None
    if workload == "dml_mix":
        inputs = os.path.join(run_dir, "inputs")
        orders = os.path.join(DATA, spec["data"], "orders.parquet")
        passes, expected = dmlmix.generate(inputs, orders, seed, passes_for(seconds, 8.0))
        # the warm-up plays one pass on inputs of its own seed stream, so
        # every op of a pass has run once
        warm, _ = dmlmix.generate(os.path.join(inputs, "warm"), orders, [seed, 1], 1,
                                  expect=False)
        plan["dml"] = {"table_seed": orders, "warm": warm[0],
                       "passes": passes}
    else:
        rng = random.Random(f"{workload}:{seed}")
        orders = []
        # a pass runs every query once, in its own order
        for _ in range(passes_for(seconds, 10.0)):
            orders.append(rng.sample(spec["queries"], len(spec["queries"])))
        plan["queries"] = orders
        plan["readbacks"] = spec["readbacks"]
        plan["fixture_src"] = os.path.join(DATA, spec["fixture_src"])
        plan["fixture_factor"] = spec["factor"]
        plan["fixture"] = fixture_dir(spec)
        # a traced run also times a fresh build of the fixture, after
        # the window, into a directory of its own
        if trace:
            plan["fresh_fixture"] = os.path.join(run_dir, "fixture")
    return plan, expected


def fixture_dir(spec):
    return os.path.join(WORK, "fixture", f"x{spec['factor']}-{spec['fixture_src']}")


def java_cmd(classpath, run_dir, *args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap, so no heap resizing inside the window; no hsperfdata
    # file in the system temp directory
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
            [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            ["-cp", classpath, "perfbench.Main", *args])


def run_jvm(classpath, run_dir, log_path, *args):
    """Run perfbench.Main with `args`; exit on failure or timeout."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_cmd(classpath, run_dir, *args), cwd=run_dir,
                                stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"engine run exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
    if rc != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        sys.exit(f"engine run failed (exit {rc}); log: {log_path}")


def ensure_fixture(classpath, run_dir, spec):
    """Build the 10x fixture once per checkout, in a JVM of its own, so
    no measured run carries the build's heap and cache effects."""
    dst = fixture_dir(spec)
    if os.path.exists(os.path.join(dst, "_GRAFT_SCALE_OK")):
        return
    run_jvm(classpath, run_dir, os.path.join(run_dir, "fixture.log"), "fixture",
            os.path.join(DATA, spec["fixture_src"]), dst, str(spec["factor"]))


def check(workload, result, expected, oracles):
    """One outcome per op: True, or why the op or its output failed."""
    outcomes = []
    if "fatal" in result:
        outcomes.append(result["fatal"])
    answers = {(a["name"], a["pass"]): a for a in result.get("answers", []) if "dir" in a}
    roundtrips = {(a["name"], a["pass"], a["readback"]): a["roundtrip"]
                  for a in result.get("answers", []) if "roundtrip" in a}
    checks = {(p["pass"], c["at"]): c["file"]
              for p in result.get("passes", []) for c in p.get("checks", [])}
    for op in result["ops"]:
        if op["error"]:
            outcomes.append(op["error"])
        elif workload == "dml_mix" and op["kind"] == "read":
            # each read carries the point of the round it reads at
            file = checks[(op["pass"], op["at"])]
            want = expected[op["pass"] - 1][op["at"]]
            check = dmlmix.check_feed if op["at"].startswith("feed") else dmlmix.check_agg
            outcomes.append(check(file, want))
        elif op["kind"] == "query":
            sql = result["oracle"].get(op["name"])
            outcomes.append(oracles.check(sql, answers[(op["name"], op["pass"])]["dir"])
                            if sql else "no oracle SQL")
        elif op["kind"] == "read":
            outcomes.append(True if roundtrips.get((op["name"], op["pass"], op["readback"])) else
                            "snapshot read-back differs from the written answer")
        else:
            outcomes.append(True)
    return outcomes


def pct_metrics(prefix, walls, out, counts):
    for q in (50, 90):
        v, n = stats.percentile(walls, q)
        out[f"{prefix}.p{q}"] = v
        counts[f"{prefix}.p{q}"] = n


def end_to_end(workload, result, outcomes):
    ops = [o for o in result["ops"] if not o["error"]]
    primary = (lambda o: True) if workload == "dml_mix" else (lambda o: o["kind"] == "query")
    m, counts = {}, {}
    m["setup_s"] = (result["session_start_s"] + result["warmup_s"] +
                    stats.median(result["prep_s"]))
    counts["setup_s"] = len(result["prep_s"])
    per_pass = {}
    for o in ops:
        if primary(o):
            per_pass[o["pass"]] = per_pass.get(o["pass"], 0.0) + o["wall_s"]
    m["pass_s"] = stats.median(list(per_pass.values()))
    counts["pass_s"] = len(per_pass)
    pct_metrics("query_s", [o["wall_s"] for o in ops if primary(o)], m, counts)
    pct_metrics("write_s", [o["wall_s"] for o in ops if o["kind"] == "write"], m, counts)
    pct_metrics("read_s", [o["wall_s"] for o in ops if o["kind"] == "read"], m, counts)
    amps = [p["table_bytes"] / p["plain_bytes"] for p in result["passes"]
            if p.get("plain_bytes")]
    m["space_amp"] = stats.median(amps)
    counts["space_amp"] = len(amps)
    attempted, failed = stats.count_failures(outcomes)
    m["ok_ratio"] = 1.0 - failed / attempted if attempted else None
    counts["ok_ratio"] = attempted
    m["peak_rss_mb"] = result["peak_rss_mb"]
    counts["peak_rss_mb"] = 1
    return m, counts


def per_layer(result, cpus):
    """Per-pass sums over traced ops, then the median over passes in
    which the layer ran; counts are the number of such passes."""
    ops = [o for o in result["ops"] if o.get("trace")]
    passes = sorted({o["pass"] for o in ops})
    m, counts = {}, {}

    def med(name, per_pass_values):
        vals = [v for v in per_pass_values if v is not None]
        m[name] = stats.median(vals) if vals else 0
        counts[name] = len(vals)

    def by_pass(select, value):
        out = []
        for p in passes:
            xs = [value(o) for o in ops if o["pass"] == p and select(o)]
            out.append(sum(xs) if xs else None)
        return out

    every = lambda o: True  # noqa: E731
    for name, key, _ in EXEC_SUMS:
        med(name, by_pass(every, lambda o, k=key: o["trace"][k]))
    busy = []
    for p in passes:
        pops = [o for o in ops if o["pass"] == p]
        wall = sum(o["wall_s"] for o in pops)
        busy.append(sum(o["trace"]["task_run_s"] for o in pops) / (wall * cpus) if wall else None)
    med("exec.core_busy_ratio", busy)
    hits = sum(o["trace"]["hits"] for o in ops)
    builds = sum(o["trace"]["builds"] for o in ops)
    m["intermediates.hit_ratio"] = hits / (hits + builds) if hits + builds else 0
    counts["intermediates.hit_ratio"] = hits + builds
    med("intermediates.resident_bytes",
        [max((o["trace"]["resident_bytes"] for o in ops if o["pass"] == p), default=None)
         for p in passes])
    for f in FAMILIES:
        med(f"operators.{f}_s", by_pass(lambda o, f=f: o["layer"] == f"operators.{f}",
                                        lambda o: o["wall_s"]))
    for op in SNAPSHOT_OPS:
        layer = "snapshots.read" if op == "read_resolve" else f"snapshots.{op}"
        sel = lambda o, layer=layer: o["layer"] == layer  # noqa: E731
        if op == "read_resolve":
            med("snapshots.read_resolve_s", by_pass(sel, lambda o: o["resolve_s"]))
            med("snapshots.read_resolve.jobs", by_pass(sel, lambda o: o["resolve_jobs"]))
        else:
            med(f"snapshots.{op}_s", by_pass(sel, lambda o: o["wall_s"]))
            med(f"snapshots.{op}.jobs", by_pass(sel, lambda o: o["trace"]["jobs"]))
    tabled = [p for p in result["passes"] if "table_bytes" in p]
    for k in ("data_files", "delete_files", "eq_delete_files", "table_bytes"):
        med(f"snapshots.{k}", [p[k] for p in tabled])
    med("snapshots.bytes_written_per_user_byte",
        [p["written_bytes"] / p["user_bytes"] for p in tabled if p.get("user_bytes")])
    if "fixture_build_s" in result:
        m["fixture.build_s"], counts["fixture.build_s"] = result["fixture_build_s"], 1
    else:
        med("fixture.build_s", result["prep_s"])
    m["session.start_s"], counts["session.start_s"] = result["session_start_s"], 1
    m["session.warmup_s"], counts["session.warmup_s"] = result["warmup_s"], 1
    return m, counts


def environment(result, digest, workload):
    head = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                  text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            head = None
    env = dict(result.get("env", {}))
    env.update({"nproc": os.cpu_count(), "cpus_used": len(os.sched_getaffinity(0)),
                "heap": HEAP, "git_head": head, "source_digest": digest[:16],
                "data_digest": data_digest()})
    marker = os.path.join(result.get("data_dir", ""), "_GRAFT_SCALE_OK")
    if workload == "heavy_x10" and os.path.exists(marker):
        env["fixture_marker"] = open(marker).read().split("|", 1)[1]
    return env


def data_digest():
    """Short SHA-256 over the input tables in perfbench/data/."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(DATA)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), DATA).encode() + b"\0")
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def cpu_times():
    """Aggregate (busy, steal, iowait, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7], v[4], sum(v[:8])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("engine sources not found next to perfbench/ (need build.sbt and src/main/scala)")
    os.makedirs(WORK, exist_ok=True)
    classpath, digest = build.ensure(ROOT, BENCH, WORK, os.path.join(WORK, "build.log"))

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec = WORKLOADS[args.workload]
    if "fixture_src" in spec:
        ensure_fixture(classpath, run_dir, spec)
    plan, expected = make_plan(args.workload, args.seed, args.seconds, args.trace, run_dir)
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    log_path = os.path.join(run_dir, "jvm.log")
    t0, cpu0 = time.time(), cpu_times()
    run_jvm(classpath, run_dir, log_path, plan_path)
    result_path = os.path.join(run_dir, "result.json")
    if not os.path.exists(result_path):
        sys.exit(f"engine run wrote no result; log: {log_path}")
    result = json.load(open(result_path))
    # pass 0 is the warm-up: not measured, not checked
    result["ops"] = [o for o in result["ops"] if o["pass"] >= 1]
    jvm_s = time.time() - t0
    cpu1 = cpu_times()
    total = max(cpu1[3] - cpu0[3], 1)
    cpu = {"busy_share": (cpu1[0] - cpu0[0]) / total, "steal_share": (cpu1[1] - cpu0[1]) / total,
           "iowait_share": (cpu1[2] - cpu0[2]) / total}

    oracles = None
    if args.workload != "dml_mix":
        import oracle  # needs the repository's tools/compare.py
        oracles = oracle.Oracle(result["data_dir"], os.path.join(WORK, "oracle-cache.json"),
                                os.path.join(run_dir, "duckdb-tmp"))
    outcomes = check(args.workload, result, expected, oracles)
    attempted, failed = stats.count_failures(outcomes)
    e2e, e2e_n = end_to_end(args.workload, result, outcomes)
    if args.trace:
        metrics, counts = per_layer(result, plan["cpus"])
        metrics["trace.pass_s"], counts["trace.pass_s"] = e2e["pass_s"], e2e_n["pass_s"]
        units = dict(PER_LAYER)
    else:
        metrics, counts, units = e2e, e2e_n, dict(END_TO_END)

    env = environment(result, digest, args.workload)
    env.update({k: round(v, 4) for k, v in cpu.items()})
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    stem = os.path.join(reports, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    spans_src = os.path.join(run_dir, "spans.jsonl")
    self_time = {}
    if os.path.exists(spans_src):
        shutil.copy(spans_src, stem + ".spans.jsonl")
        with open(spans_src) as f:
            spans = [json.loads(line) for line in f]
        self_time = {k: v / 1e6 for k, v in sorted(stats.self_times(spans).items())}
    failures = [o for o in outcomes if o is not True]
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "env": env, "jvm_wall_s": jvm_s,
              "metrics": {k: {"value": metrics[k], "unit": units[k], "n": counts.get(k)}
                          for k in units},
              "self_time_s": self_time, "attempted": attempted, "failed": failed,
              "failures": failures[:50], "ops": result["ops"], "passes": result["passes"]}
    with open(stem + ".json", "w") as f:
        json.dump(report, f)

    print("env " + json.dumps(env, sort_keys=True))
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"passes {e2e_n['pass_s']} jvm_wall {jvm_s:.1f}s")
    for k in units:
        v = metrics[k]
        print(f"  {k:40s} {v if v is not None else 'n/a':>14} {units[k]:6s} n={counts.get(k)}")
    for k, v in self_time.items():
        print(f"  self {k:35s} {v:14.3f} s")
    for f in failures[:10]:
        print(f"  FAILED: {f}")
    print(f"correctness: {attempted - failed}/{attempted} outputs correct")
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k] if metrics[k] is not None else 0, "unit": units[k]}
                        for k in units}}
    print(json.dumps(line))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
