#!/usr/bin/env python3
"""Alternating parent/change pairs of one lakebench workload, judged.

    python3 tools/lakebench_pairs.py --parent <rev> --workload desk_mixed \
        --pairs 10 --seeds 31-40 [--claim throughput_per_s]

Exports the parent revision and the change (the working tree: tracked and
untracked files that git does not ignore) into two fresh directories under
--workdir (default: a new temp dir), then runs
`python3 lakebench/run.py --workload W --seed S --seconds T --trace 0`
in each, pair by pair, with T the run length BENCHMARK.json sets (the
length its bounds were measured at). Pair i uses the i-th seed (cycling)
and alternates which side runs first. Each side's first run builds its
copy. Both copies are removed at the end.

For every end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, the change/parent ratio of medians and the pairs the change
won (ties count for neither), then a verdict:

- the claimed metric (--claim) is a GAIN when the change won at least 9 in
  10 of all pairs run and its median beats the parent's by more than the
  parent's interquartile range (the choosing-metrics rule for a small box);
- any other metric is WORSE when the change's median is worse than the
  parent's by more than the metric's BENCHMARK.json bound, UNRESOLVED when
  the parent's own IQR is wider than that bound (unless every change run
  beats every parent run), else ok.

A failed or incorrect run is reported and fails the comparison. Exit 0
when the claim (if any) holds and no metric is WORSE; 1 otherwise. The
script reads lakebench/ and BENCHMARK.json and writes to neither: every
build output lands inside the exported copies.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def log(msg):
    print(f"[pairs] {msg}", file=sys.stderr, flush=True)


def export_rev(rev, dest):
    dest.mkdir(parents=True)
    archive = subprocess.run(["git", "archive", "--format=tar", rev], cwd=REPO,
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", str(dest)], input=archive, check=True)


def export_worktree(dest):
    dest.mkdir(parents=True)
    names = subprocess.run(["git", "ls-files", "-z", "--cached", "--others",
                            "--exclude-standard"], cwd=REPO, check=True,
                           capture_output=True).stdout.decode().split("\0")
    for name in filter(None, names):
        src = REPO / name
        if src.is_file():  # a tracked file deleted in the working tree is skipped
            (dest / name).parent.mkdir(parents=True, exist_ok=True)
            shutil.copy2(src, dest / name)


def parse_seeds(text):
    lo, _, hi = text.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    if not seeds:
        raise SystemExit(f"empty seed range: {text}")
    return seeds


def run_once(copy, workload, seed, seconds):
    t0 = time.time()
    proc = subprocess.run([sys.executable, "lakebench/run.py", "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                          cwd=copy, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if not lines:
        log(f"{copy.name} seed {seed}: no result (exit {proc.returncode}); stderr tail:\n"
            + "\n".join(proc.stderr.splitlines()[-15:]))
        return None
    res = json.loads(lines[-1])
    log(f"{copy.name} seed {seed}: exit {proc.returncode} in {time.time() - t0:.0f}s "
        + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def judge(metric, pairs, claim):
    """One row of the report: (text, ok)."""
    name, bound, lower = metric["name"], metric["bound"], metric["better"] == "lower"
    par = [p[name] for p, _ in pairs]
    chg = [c[name] for _, c in pairs]
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    wins = sum(better(c, p) for p, c in zip(par, chg))
    iqr = pq3 - pq1
    gap = (pmed - cmed) if lower else (cmed - pmed)  # > 0: change better
    ratio = cmed / pmed if pmed else float("nan")
    if name == claim:
        ok = wins >= 0.9 * len(pairs) and gap > iqr
        verdict = "GAIN" if ok else "claim NOT met"
    else:
        worse = -gap > bound * abs(pmed)
        spread = iqr > bound * abs(pmed)
        all_better = all(better(c, p) for c in chg for p in par)
        if worse:
            verdict, ok = "WORSE", False
        elif spread and not all_better:
            verdict, ok = "unresolved (parent IQR wider than bound)", True
        else:
            verdict, ok = "ok", True
    text = (f"{name:18s} parent {pmed:10.4g} [{pq1:.4g}, {pq3:.4g}]  "
            f"change {cmed:10.4g} [{cq1:.4g}, {cq3:.4g}]  ratio {ratio:6.3f}  "
            f"wins {wins}/{len(pairs)}  gap {gap:+.4g} vs parent IQR {iqr:.4g}  {verdict}")
    return text, ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="parent revision")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seeds", required=True, help="inclusive range A-B")
    ap.add_argument("--claim", help="the end-to-end metric the change claims to improve")
    ap.add_argument("--workdir", help="where the two copies go (default: a new temp dir)")
    args = ap.parse_args()

    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {args.workload}")
    metrics = spec["end_to_end"]
    if args.claim and args.claim not in [m["name"] for m in metrics]:
        raise SystemExit(f"unknown end-to-end metric {args.claim}")
    seconds = spec["run_seconds"]
    seeds = parse_seeds(args.seeds)

    work = Path(args.workdir) if args.workdir else Path(tempfile.mkdtemp(prefix="lakebench-pairs-"))
    work.mkdir(parents=True, exist_ok=True)
    parent, change = work / "parent", work / "change"
    for d in (parent, change):
        if d.exists():
            raise SystemExit(f"{d} exists; pass an empty --workdir")
    try:
        export_rev(args.parent, parent)
        export_worktree(change)
        pairs, failures = [], 0
        for i in range(args.pairs):
            seed = seeds[i % len(seeds)]
            order = [(parent, "p"), (change, "c")] if i % 2 == 0 else [(change, "c"), (parent, "p")]
            got = {}
            for copy, side in order:
                got[side] = run_once(copy, args.workload, seed, seconds)
            bad = [s for s in "pc" if got[s] is None or not got[s]["correct"] or got[s]["failed"]]
            if bad:
                failures += 1
                log(f"pair {i} (seed {seed}): failed or incorrect run on {bad}")
                continue
            pairs.append(tuple({k: v["value"] for k, v in got[s]["metrics"].items()} for s in "pc"))
        print(f"{args.workload}: {len(pairs)} pairs, seeds {args.seeds}, {seconds}s runs, "
              f"parent {args.parent}, change: working tree; "
              f"{failures} pair(s) with a failed or incorrect run")
        ok = failures == 0 and bool(pairs)
        for m in metrics if pairs else []:
            text, good = judge(m, pairs, args.claim)
            print(text)
            ok &= good
        sys.exit(0 if ok else 1)
    finally:
        shutil.rmtree(parent, ignore_errors=True)
        shutil.rmtree(change, ignore_errors=True)


if __name__ == "__main__":
    main()
