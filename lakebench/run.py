#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 lakebench/run.py --workload feed_ingest --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the harness and the
repository's main sources with sbt (lakebench/build.sbt), records the
runtime classpath and writes catalog_batch's fixed-seed input files; every
run then starts one plain JVM on that classpath.
The last line of stdout is one JSON object:
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones (0 where the workload leaves a layer idle).
Exit code 0 = ran and every correctness check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
CLASSPATH = TARGET / "classpath.txt"
STAMP = TARGET / "build.hash"
FIXTURE = TARGET / "catalog-fixture"
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these outside spark-submit (the same list the
# repository's build.sbt passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build compiles, so an edit forces a rebuild."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, env=None, capture=False):
    """Run one child in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def build():
    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala") if not p.exists()]
    if missing:
        log(f"no graft sources to build: missing {', '.join(str(p.relative_to(ROOT)) for p in missing)}")
        return False
    want = source_hash()
    if CLASSPATH.exists() and FIXTURE.exists() and STAMP.exists() and STAMP.read_text() == want:
        return True
    log("building harness and graft sources with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")  # never resolve from the network
    t0 = time.time()
    rc, _ = run_child(["sbt", "-batch", "-Dsbt.server.autostart=false",
                       "harness/compile", "harness/writeClasspath"],
                      BENCH, BUILD_TIMEOUT_S, env=env)
    if rc != 0 or not CLASSPATH.exists():
        log(f"build failed (exit {rc})")
        return False
    # catalog_batch's input files, from a fixed seed: written once per build,
    # as the sf files it stands in for exist before a batch job starts
    shutil.rmtree(FIXTURE, ignore_errors=True)
    work = TARGET / "work" / f"fixture-{os.getpid()}"
    try:
        rc, _ = run_child(java_cmd(work, "lakebench.FixtureMain", [str(FIXTURE), str(work)]),
                          ROOT, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not FIXTURE.exists():
        log(f"writing the catalog fixture failed (exit {rc})")
        return False
    STAMP.write_text(want)
    log(f"built in {time.time() - t0:.0f}s")
    return True


def java_cmd(work, main_class, args):
    """One plain JVM on the built classpath: fixed heap, every scratch file
    under `work`, no perf-data file outside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", CLASSPATH.read_text().strip(), main_class] + args)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="catalog_batch: rewrite the recorded per-query results")
    args = ap.parse_args()
    if not build():
        sys.exit(2)
    work = TARGET / "work" / f"{args.workload}-{os.getpid()}"
    cmd = java_cmd(work, "lakebench.Main",
                   ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--work", str(work), "--bench-dir", str(BENCH)]
                   + (["--record"] if args.record else []))
    try:
        rc, out = run_child(cmd, ROOT, RUN_TIMEOUT_S, capture=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in (out or "").splitlines() if l.startswith("{")]
    if rc is None or not lines:
        log(f"run failed (exit {rc}) without a result")
        sys.exit(3)
    res = json.loads(lines[-1])
    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in section}
    got = res["metrics"]
    if args.trace == 0:
        absent = [n for n in units if got.get(n) is None]
        if absent:
            log(f"end-to-end metrics missing: {absent}")
            sys.exit(4)
    else:
        # a layer the workload never calls reports 0; a name the harness
        # emits that BENCHMARK.json does not list is a harness bug
        unknown = [n for n in got if n not in units]
        if unknown:
            log(f"per-layer metrics not in BENCHMARK.json: {unknown}")
            sys.exit(4)
    metrics = {n: {"value": float(got.get(n) or 0.0), "unit": u} for n, u in units.items()}
    correct = bool(res["correct"]) and rc == 0
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
