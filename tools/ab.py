#!/usr/bin/env python3
"""Same-window A/B of the engine benchmark: two commits, alternating runs.

    python3 tools/ab.py --workload dml_mix --pairs 10 --seeds 11-20 \
        --parent HEAD~1 --change HEAD --dir /tmp/ab

Exports each of the two trees with `git archive` (`--change WORKTREE`
copies the working tree's tracked and untracked, non-ignored files
instead) into both directories `<dir>/a` and `<dir>/b`, as
`<dir>/{a,b}/{parent,change}`, updating an earlier export in place. Then
it runs `perfbench/run.py` once per side for every pair, pair i taking the
i-th seed of the range. From pair to pair the directories swap commits
(even pairs run the parent from `a` and the change from `b`, odd pairs the
reverse), and the side that goes first alternates every two pairs, so
directory and order are balanced against the commit. Each of the four
trees keeps its own build outputs and `perfbench/.work/`, so the build is
paid once per tree and redone only when its sources change.

Prints, per end-to-end metric of BENCHMARK.json: both medians, the
change's delta, the parent's interquartile range, and how many pairs the
change won (strictly better in the metric's direction); then, per metric,
the median of all runs from each directory whichever commit it held, so a
directory effect shows as its own number. Then each pair's
seed, order and CPU steal share per run (from the `env` line that
run.py prints, read from /proc/stat around the run); pairs whose two
steal shares differ by more than `--steal-margin` are flagged, since host
steal alone moves wall-time metrics. `--json` writes every run's metrics
and the summary.
"""
import argparse
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKTREE = "WORKTREE"
# the two export directories; each holds a build of both commits
DIRS = ("a", "b")


def git(*args, binary=False):
    out = subprocess.run(["git", "-C", ROOT, *args], check=True, capture_output=True)
    return out.stdout if binary else out.stdout.decode().strip()


def worktree_files():
    raw = git("ls-files", "-z", "--cached", "--others", "--exclude-standard", binary=True)
    return sorted(p for p in raw.decode().split("\0") if p and os.path.isfile(os.path.join(ROOT, p)))


def stamp_of(rev):
    """A digest naming the tree's content, so an unchanged tree is reused."""
    if rev != WORKTREE:
        return git("rev-parse", f"{rev}^{{tree}}")
    h = hashlib.sha256()
    for p in worktree_files():
        h.update(p.encode() + b"\0")
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def export(rev, dest):
    """Materialize `rev` at `dest` in place. Files of an earlier export that
    `rev` lacks are removed; build outputs (target/, perfbench/.work/) stay,
    so the benchmark's own build check decides whether to rebuild."""
    stamp = stamp_of(rev)
    stamp_file = os.path.join(dest, ".ab-stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(dest, exist_ok=True)
    if rev == WORKTREE:
        files = worktree_files()
        for p in files:
            os.makedirs(os.path.dirname(os.path.join(dest, p)), exist_ok=True)
            shutil.copy2(os.path.join(ROOT, p), os.path.join(dest, p))
    else:
        files = git("ls-tree", "-r", "--name-only", rev).splitlines()
        with tarfile.open(fileobj=io.BytesIO(git("archive", rev, binary=True))) as tar:
            tar.extractall(dest)
    list_file = os.path.join(dest, ".ab-files")
    if os.path.exists(list_file):
        for p in set(open(list_file).read().splitlines()) - set(files):
            if os.path.isfile(os.path.join(dest, p)):
                os.remove(os.path.join(dest, p))
    with open(list_file, "w") as f:
        f.write("\n".join(files))
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_once(tree, workload, seed, seconds, log):
    """One benchmark run: (metrics, correct, steal_share)."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    with open(log, "w") as f:
        f.write(proc.stdout + proc.stderr)
    lines = proc.stdout.strip().splitlines()
    env = next((json.loads(l[4:]) for l in lines if l.startswith("env ")), {})
    try:
        last = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.exit(f"run in {tree} (seed {seed}) printed no result line; see {log}")
    metrics = {k: v["value"] for k, v in last["metrics"].items()}
    return metrics, last["correct"], env.get("steal_share")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="11-20", help="inclusive range LO-HI, one seed per pair")
    ap.add_argument("--parent", default="HEAD~1", help="git revision")
    ap.add_argument("--change", default="HEAD", help=f"git revision, or {WORKTREE}")
    ap.add_argument("--dir", required=True, help="where the four trees and the logs go")
    ap.add_argument("--seconds", type=float, default=None,
                    help="run window (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--steal-margin", type=float, default=0.05,
                    help="flag a pair whose runs' steal shares differ by more than this")
    ap.add_argument("--json", help="write runs and summary here")
    args = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = args.seconds if args.seconds is not None else bench["run_seconds"]
    seeds = seed_range(args.seeds)
    if len(seeds) < args.pairs:
        sys.exit(f"--seeds {args.seeds} gives {len(seeds)} seeds for {args.pairs} pairs")
    revs = {"parent": args.parent, "change": args.change}
    for d in DIRS:
        for side, rev in revs.items():
            export(rev, os.path.join(args.dir, d, side))
    logs = os.path.join(args.dir, "logs")
    os.makedirs(logs, exist_ok=True)

    runs = []
    for i in range(args.pairs):
        seed = seeds[i]
        order = ("parent", "change") if (i // 2) % 2 == 0 else ("change", "parent")
        dirs = {"parent": DIRS[i % 2], "change": DIRS[1 - i % 2]}
        pair = {"pair": i + 1, "seed": seed, "first": order[0]}
        for side in order:
            log = os.path.join(logs, f"{args.workload}-pair{i + 1}-{side}.log")
            tree = os.path.join(args.dir, dirs[side], side)
            metrics, correct, steal = run_once(tree, args.workload, seed, seconds, log)
            pair[side] = {"metrics": metrics, "correct": correct, "steal_share": steal,
                          "dir": dirs[side]}
            print(f"pair {i + 1} seed {seed} {side:6s} dir={dirs[side]} correct={correct} "
                  f"steal={steal}", flush=True)
        runs.append(pair)

    summary = {}
    print(f"\n{args.workload}: {args.pairs} pairs, parent {args.parent}, change {args.change}")
    print(f"  {'metric':16s} {'parent':>10s} {'change':>10s} {'delta':>8s} "
          f"{'parent IQR':>11s} {'wins':>6s}")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["parent"]["metrics"][name] for r in runs]
        c = [r["change"]["metrics"][name] for r in runs]
        mp, mc = statistics.median(p), statistics.median(c)
        q1, q3 = quartiles(p)
        wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
        delta = (mc - mp) / mp if mp else 0.0
        summary[name] = {"parent_median": mp, "change_median": mc, "delta": delta,
                         "parent_iqr": q3 - q1, "wins": wins, "pairs": len(runs),
                         "gap_exceeds_iqr": abs(mc - mp) > q3 - q1}
        print(f"  {name:16s} {mp:10.4g} {mc:10.4g} {delta:+8.1%} {q3 - q1:11.4g} "
              f"{wins:>3d}/{len(runs)}")
    print(f"\n  by directory, both commits: {'metric':16s} {'a':>10s} {'b':>10s} {'b vs a':>8s}")
    for m in bench["end_to_end"]:
        name = m["name"]
        by_dir = {d: statistics.median(r[s]["metrics"][name] for r in runs
                                       for s in ("parent", "change") if r[s]["dir"] == d)
                  for d in DIRS}
        summary[name]["dir_median"] = by_dir
        rel = (by_dir["b"] - by_dir["a"]) / by_dir["a"] if by_dir["a"] else 0.0
        print(f"  {'':27s} {name:16s} {by_dir['a']:10.4g} {by_dir['b']:10.4g} {rel:+8.1%}")
    print(f"\n  {'pair':>4s} {'seed':>5s} {'first':>7s} {'steal parent':>13s} "
          f"{'steal change':>13s}")
    flagged = []
    for r in runs:
        sp, sc = r["parent"]["steal_share"], r["change"]["steal_share"]
        flag = sp is not None and sc is not None and abs(sp - sc) > args.steal_margin
        if flag:
            flagged.append(r["pair"])
        print(f"  {r['pair']:4d} {r['seed']:5d} {r['first']:>7s} {sp if sp is not None else 'n/a':>13} "
              f"{sc if sc is not None else 'n/a':>13}{'  STEAL DIFFERS' if flag else ''}")
    correct = all(r[s]["correct"] for r in runs for s in ("parent", "change"))
    print(f"\n  every output correct: {correct}; pairs flagged for steal: {flagged or 'none'}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "parent": args.parent, "change": args.change,
                       "seconds": seconds, "steal_margin": args.steal_margin, "runs": runs,
                       "summary": summary, "steal_flagged": flagged, "correct": correct},
                      f, indent=1)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
