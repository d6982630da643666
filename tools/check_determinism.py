#!/usr/bin/env python3
"""Determinism gate: run graft.Verify twice into two fresh dirs and
VALUE-compare every query's parquet output (typed, row-by-row, after
the driver's column-name sort). Byte-compare is too strict across runs
(parquet embeds creation metadata and row-group layout can differ with
task scheduling); what must hold is typed-value identity, which is
also exactly what the driver hashes.  Usage:
    python3 tools/check_determinism.py [sfDir]

sbt runs in the checkout that holds this script. Each Verify JVM gets
its own fresh, empty java.io.tmpdir under its output directory, so both
runs build every artifact from the parquet inputs: a shared artifact
root would let the second run read the first run's builds and hide any
nondeterminism in them.
"""
import shutil, subprocess, sys
from pathlib import Path

import pyarrow.parquet as pq

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUTS = ["/tmp/graft_det_a", "/tmp/graft_det_b"]
ROOT = Path(__file__).resolve().parent.parent


def run_verify(out):
    shutil.rmtree(out, ignore_errors=True)
    tmp = Path(out) / "_tmpdir"
    tmp.mkdir(parents=True)
    r = subprocess.run(
        ["sbt", "--batch",
         f'set javaOptions += "-Djava.io.tmpdir={tmp}"',
         f"runMain graft.Verify {SF_DIR} {out}"],
        cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        print("\n".join((r.stdout + r.stderr).splitlines()[-20:]))
        sys.exit(f"verify failed rc={r.returncode}")


def main():
    for out in OUTS:
        run_verify(out)
    a_dirs = {p.name for p in Path(OUTS[0]).iterdir()
              if p.is_dir() and p.name != "_tmpdir"}
    b_dirs = {p.name for p in Path(OUTS[1]).iterdir()
              if p.is_dir() and p.name != "_tmpdir"}
    if a_dirs != b_dirs:
        sys.exit(f"query sets differ: {a_dirs ^ b_dirs}")
    n_fail = 0
    for name in sorted(a_dirs):
        ta = pq.read_table(Path(OUTS[0]) / name)
        tb = pq.read_table(Path(OUTS[1]) / name)
        cols = sorted(ta.column_names)
        if sorted(tb.column_names) != cols:
            print(f"FAIL {name}: column sets differ")
            n_fail += 1
            continue
        if ta.schema != tb.schema:
            print(f"FAIL {name}: schemas differ")
            n_fail += 1
            continue
        ra = list(zip(*[ta.column(c).to_pylist() for c in cols]))
        rb = list(zip(*[tb.column(c).to_pylist() for c in cols]))
        if ra != rb:
            bad = next(i for i, (x, y) in enumerate(zip(ra, rb)) if x != y) \
                if len(ra) == len(rb) else -1
            print(f"FAIL {name}: values differ (first at row {bad})")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(ra)} rows)")
    print(f"== {len(a_dirs) - n_fail} deterministic, {n_fail} diverging ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
