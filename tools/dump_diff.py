#!/usr/bin/env python3
"""Compare two output directories of the same kind by value.

Verify dirs (one parquet dir per query, plus errors.json and recall.json):
each query must have the same column names, the same dtypes and the same
rows in file order (compared as a sha256 over the rows), and errors.json
and recall.json must parse to equal values. Parquet bytes are no use
here: parquet-mr writes a column chunk's encoding list in varying order,
so two dumps of equal values differ byte-wise.

PlanDump dirs (`<query>_<suffix>.txt`): each query must have the same
counter line (jobs, stages, shuffle read and write; the wall time is left
out) and the same formatted plan once the allocation counters and call
sites that change from run to run are masked: expression ids (`#12`),
exchange plan ids (`plan_id=34`), RDD ids (`RDD[56]`) and Scala source
lines (`Dedup.scala:789`). Files pair up by query name, so dumps taken
under different suffixes compare.

Prints one line per query and exits 1 on any difference (a query present
on one side only counts as one).

Usage: python3 tools/dump_diff.py <dirA> <dirB>
"""
import hashlib
import json
import re
import sys
from pathlib import Path

import pyarrow.parquet as pq

MASKS = [(re.compile(r"#\d+"), "#N"),
         (re.compile(r"plan_id=\d+"), "plan_id=N"),
         (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
         (re.compile(r"\.scala:\d+"), ".scala:N")]


def is_plan_dir(d):
    return any(f.read_text().startswith("== ") for f in d.glob("*.txt"))


def table_digest(qdir):
    """(schema, row count, sha256 over the rows in file order)."""
    files = sorted(qdir.glob("*.parquet"))
    h = hashlib.sha256()
    schema, rows = None, 0
    for f in files:
        t = pq.read_table(f)
        s = [(fld.name, str(fld.type)) for fld in t.schema]
        if schema is None:
            schema = s
        elif s != schema:
            return ("mixed schemas", s), rows, ""
        for row in t.to_pylist():
            h.update(repr(tuple(row.values())).encode())
            h.update(b"\n")
        rows += t.num_rows
    return schema, rows, h.hexdigest()


def verify_entries(d):
    return {p.name: p for p in d.iterdir() if p.is_dir()}


def plan_entries(d):
    return {f.stem.rsplit("_", 1)[0]: f for f in d.glob("*.txt")}


def plan_digest(f):
    lines = f.read_text().splitlines()
    counters = " ".join(t for t in lines[1].split()
                        if not t.startswith("coldRunSec="))
    plan = "\n".join(lines[2:])
    for rx, sub in MASKS:
        plan = rx.sub(sub, plan)
    return counters, plan


def json_value(d, name):
    p = d / name
    return json.loads(p.read_text()) if p.exists() else None


def main(a, b):
    a, b = Path(a), Path(b)
    plans = is_plan_dir(a)
    if plans != is_plan_dir(b):
        sys.exit(f"{a} and {b} are not the same kind of dump")
    entries = plan_entries if plans else verify_entries
    ea, eb = entries(a), entries(b)
    diffs = 0
    for name in sorted(set(ea) | set(eb)):
        if name not in ea or name not in eb:
            print(f"{name}: only in {a if name in ea else b}")
            diffs += 1
            continue
        if plans:
            (ca, pa), (cb, pb) = plan_digest(ea[name]), plan_digest(eb[name])
            same = ca == cb and pa == pb
            detail = ca if ca == cb else f"{ca} | {cb}"
            if ca == cb and pa != pb:
                detail += " | plans differ"
        else:
            da, db = table_digest(ea[name]), table_digest(eb[name])
            same = da == db
            detail = (f"rows={da[1]} sha256={da[2][:12]}" if same else
                      f"A rows={da[1]} {da[2][:12]} {da[0]} | "
                      f"B rows={db[1]} {db[2][:12]} {db[0]}")
        print(f"{name}: {'same' if same else 'DIFF'} {detail}")
        diffs += not same
    if not plans:
        for extra in ("errors.json", "recall.json"):
            va, vb = json_value(a, extra), json_value(b, extra)
            same = va == vb
            print(f"{extra}: {'same' if same else 'DIFF'} {va}"
                  + ("" if same else f" | {vb}"))
            diffs += not same
    print(f"{diffs} difference(s) over {len(set(ea) | set(eb))} queries")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
