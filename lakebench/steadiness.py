#!/usr/bin/env python3
"""Steadiness record: run every workload on several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (q3 - q1) / median
with quartiles as Python's statistics.quantiles(values, n=4) gives them.

    python3 lakebench/steadiness.py --seeds 101-110 [--workloads feed_ingest,...]

Run from the root of a checkout; prints a markdown table and exits 1 if a run
fails or a spread exceeds a third of the metric's bound (setup_s: bound only
checked between medians, so it is reported, not gated).
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_of(text):
    a, _, b = text.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = ap.parse_args()
    ok = True
    rows = []
    for w in args.workloads.split(","):
        values = {}
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            p = subprocess.run([*spec["command"], "--workload", w, "--seed", str(seed),
                                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
            res = json.loads(lines[-1]) if lines else None
            print(f"{w} seed {seed}: exit {p.returncode} in {time.time() - t0:.0f}s "
                  f"{json.dumps(res) if res else p.stderr[-500:]}", file=sys.stderr, flush=True)
            if p.returncode != 0 or not res or not res["correct"]:
                ok = False
                continue
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        for m in spec["end_to_end"]:
            xs = values.get(m["name"], [])
            if len(xs) < 4:
                rows.append(f"| {w} | {m['name']} | {len(xs)} runs | | | | |")
                ok = False
                continue
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            spread = (q3 - q1) / med
            gated = m["name"] != "setup_s"
            flag = "" if not gated or spread < m["bound"] / 3 else " **over bound/3**"
            ok &= not flag
            rows.append(f"| {w} | {m['name']} ({m['unit']}) | {len(xs)} | {med:.4g} | {q1:.4g} | {q3:.4g} "
                        f"| {spread:.3f} / {m['bound']}{flag} |")
    print("| workload | metric | runs | median | q1 | q3 | spread / bound |")
    print("|---|---|---|---|---|---|---|")
    print("\n".join(rows))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
