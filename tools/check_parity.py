#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify via sbt
(writes each query's result parquet + oracle_sql.json), then run each
oracle SQL in DuckDB over the same testdata tables and compare
row-count / columns / values.  Usage:
    python3 tools/check_parity.py [sfDir] [--skip-verify] [names...]

sbt runs in the checkout that holds this script. Verify's JVM gets a
fresh, empty java.io.tmpdir under the output directory, so every
artifact is built from the parquet inputs, as Bench does.
"""
import json, math, shutil, subprocess, sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

SF_DIR = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith('-') \
    else "/root/testdata/sf0.01"
OUT = "/tmp/graft_verify"
ROOT = Path(__file__).resolve().parent.parent
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_verify(only=()):
    names = " ".join(only)
    tmp = Path(OUT) / "_tmpdir"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["sbt", "--batch",
           f'set javaOptions += "-Djava.io.tmpdir={tmp}"',
           f'runMain graft.Verify {SF_DIR} {OUT} {names}'.strip()]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-30:])
    if r.returncode != 0:
        print(tail)
        sys.exit(f"verify failed rc={r.returncode}")
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def canon_type(t):
    """Canonical arrow-type tag. Loose on representation variants
    (string vs large_string, list vs large_list, timestamp units) but
    STRICT on numeric types: DuckDB's HUGEINT arrives as
    decimal128(38,0) and a DECIMAL literal as decimal128(p,s), which
    must NOT equal Spark's int64/double — the driver hashes typed
    values, so a widened oracle type flips the hash even when every
    value matches (the round-3 failure class)."""
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    return str(t)  # int32, int64, double, decimal128(38, 0), bool, binary, ...


def main():
    args = sys.argv[2:] if len(sys.argv) > 1 and not sys.argv[1].startswith('-') else sys.argv[1:]
    skip = "--skip-verify" in args
    only = [a for a in args if not a.startswith("-")]
    if not skip:
        run_verify(only)
    oracles = json.loads(Path(f"{OUT}/oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        res_dir = Path(OUT) / name
        if not res_dir.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        spark_tbl = pq.read_table(res_dir)
        try:
            duck = con.sql(sql)
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            n_fail += 1
            continue
        duck_tbl = duck.arrow()
        dcols = sorted(duck_tbl.column_names)
        scols = sorted(spark_tbl.column_names)
        if dcols != scols:
            print(f"FAIL {name}: columns spark={scols} duck={dcols}")
            n_fail += 1
            continue
        # typed comparison first: the driver hashes TYPED values, so a
        # HUGEINT/DECIMAL-widened oracle column fails there even when
        # every value matches. Catch that locally.
        tmism = [
            (c, canon_type(spark_tbl.schema.field(c).type),
             canon_type(duck_tbl.schema.field(c).type))
            for c in scols
            if canon_type(spark_tbl.schema.field(c).type)
            != canon_type(duck_tbl.schema.field(c).type)]
        if tmism:
            c, st, dt = tmism[0]
            print(f"FAIL {name}: {len(tmism)} column type mismatches; "
                  f"first: {c} spark={st} duck={dt}")
            n_fail += 1
            continue
        # sort columns by name, compare values row-by-row (driver does
        # column-name sort + hash; we diff directly for debuggability)
        srows = list(zip(*[spark_tbl.column(c).to_pylist() for c in scols]))
        drows = list(zip(*[duck_tbl.column(c).to_pylist() for c in dcols]))
        srows = [tuple(norm(v) for v in r) for r in srows]
        drows = [tuple(norm(v) for v in r) for r in drows]
        if len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            n_fail += 1
            continue
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)} mismatched rows; first at {i}:")
            print(f"   cols : {scols}")
            print(f"   spark: {a}")
            print(f"   duck : {b}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
