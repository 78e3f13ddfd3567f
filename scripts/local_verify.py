#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB-oracle correctness gate.

Runs graft.Verify via sbt (writes each SparkEntry query result to
parquet + oracle_sql.json), then executes each oracle SQL in DuckDB
against the same sf directory and compares: schema (sorted column
names), row count, and values (floats to 1e-9 relative tolerance, and
a strict exact-hash check mirroring the driver).

Usage: python3 scripts/local_verify.py [sfdir] [outdir] [query ...]
"""
import json
import math
import shutil
import subprocess
import sys
import glob
import os
from pathlib import Path

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
ONLY = set(sys.argv[3:])
# the checkout this script lives in, so a copy verifies its own build
REPO = Path(__file__).resolve().parents[1]

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def run_verify():
    # Clean stale output: a query that fails this run must not pass on
    # parquet left over from a previous (successful) run, and renamed or
    # removed queries must not linger as rows-only passes.
    if ONLY:
        # single-query iteration: keep other outputs, rerun only these
        for name in ONLY:
            shutil.rmtree(os.path.join(OUT, name), ignore_errors=True)
        only_arg = " " + ",".join(sorted(ONLY))
    else:
        shutil.rmtree(OUT, ignore_errors=True)
        only_arg = ""
    cmd = ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}{only_arg}']
    r = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                       timeout=1800)
    if r.returncode != 0:
        print(r.stdout[-4000:])
        print(r.stderr[-4000:])
        sys.exit("verify run failed")
    for line in r.stdout.splitlines():
        if "[verify]" in line:
            print(line)
    for line in r.stderr.splitlines():
        if "[verify]" in line:
            print(line)


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def pandas_compare(name, sdf, ddf):
    """Mirror the DRIVER's compare path: both sides as pandas frames
    (duckdb hugeint -> float64, arrays -> object of np.ndarray — the
    exact conversions that bit round 2), columns sorted by name,
    sort_values over all columns (raises TypeError on unhashable array
    cells exactly like the driver), then exact cell equality INCLUDING
    dtype kind (int64 vs float64 hash differently driver-side)."""
    problems = []
    scols, dcols = sorted(sdf.columns), sorted(ddf.columns)
    if scols != dcols:
        return [f"schema mismatch spark={scols} duck={dcols}"]
    if len(sdf) != len(ddf):
        return [f"row count spark={len(sdf)} duck={len(ddf)}"]
    try:
        s = sdf[scols].sort_values(scols).reset_index(drop=True)
        d = ddf[dcols].sort_values(dcols).reset_index(drop=True)
    except (TypeError, ValueError) as e:
        # array-valued cells raise ValueError ("truth value of an
        # array is ambiguous"), unhashable types raise TypeError
        return [f"DRIVER-STYLE SORT FAILS (unhashable/array column?): {e}"]
    for c in scols:
        sk, dk = s[c].dtype.kind, d[c].dtype.kind
        if sk != dk and not (sk in "iu" and dk in "iu"):
            problems.append(
                f"dtype kind mismatch on {c}: spark={s[c].dtype} duck={d[c].dtype}"
                " (driver hash would fail: int vs float bytes differ)")
    if problems:
        return problems
    for c in scols:
        a, b = s[c], d[c]
        if a.dtype.kind == "f":
            both_nan = a.isna() & b.isna()
            neq = ~((a == b) | both_nan)
        else:
            neq = ~((a == b) | (a.isna() & b.isna()))
        if neq.any():
            i = int(neq.idxmax())
            problems.append(
                f"{int(neq.sum())} cells differ in {c}; first at sorted row {i}: "
                f"{a.iloc[i]!r} vs {b.iloc[i]!r}")
    return problems


def compare(name, spark_rows, spark_cols, duck_rows, duck_cols):
    problems = []
    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"schema mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        return problems
    if len(spark_rows) != len(duck_rows):
        problems.append(f"row count spark={len(spark_rows)} duck={len(duck_rows)}")
        return problems
    # reorder columns by sorted name (mirrors driver)
    sidx = [spark_cols.index(c) for c in sorted(spark_cols)]
    didx = [duck_cols.index(c) for c in sorted(duck_cols)]
    # Sort by a float-rounding key so two rows that differ only by float
    # noise within tolerance sort identically on both sides (raw repr()
    # could order them differently and misalign the zip). The +0.0
    # folds -0.0 into 0.0. A pair straddling a 9-sig-digit rounding
    # boundary can still split keys — accepted residual risk; the
    # comparison itself stays tolerance-based either way.
    def sort_key(row):
        return repr(tuple(
            float(f"{v + 0.0:.9g}") + 0.0 if isinstance(v, float) else v
            for v in row))
    srows = sorted([tuple(norm_cell(r[i]) for i in sidx) for r in spark_rows], key=sort_key)
    drows = sorted([tuple(norm_cell(r[i]) for i in didx) for r in duck_rows], key=sort_key)
    nbad = 0
    for i, (a, b) in enumerate(zip(srows, drows)):
        for ca, cb in zip(a, b):
            ok = ca == cb
            if not ok and isinstance(ca, float) and isinstance(cb, float):
                ok = math.isclose(ca, cb, rel_tol=1e-9, abs_tol=1e-9)
                if ok and ca != cb:
                    problems.append(f"row {i}: float close but not exact: {ca!r} vs {cb!r} (HASH WOULD FAIL)")
            if not ok:
                nbad += 1
                if nbad <= 3:
                    problems.append(f"row {i}: {a!r} != {b!r}")
                break
    if nbad > 3:
        problems.append(f"... {nbad} mismatched rows total")
    return problems


def main():
    run_verify()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    results = {}
    for name, sql in sorted(oracle.items()):
        if ONLY and name not in ONLY:
            continue
        pdir = f"{OUT}/{name}"
        files = glob.glob(f"{pdir}/*.parquet")
        if not files:
            results[name] = ["NO SPARK OUTPUT"]
            continue
        sdf = con.execute(f"SELECT * FROM read_parquet('{pdir}/*.parquet')").fetchall()
        scols = [d[0] for d in con.description]
        try:
            # run the (possibly expensive) oracle ONCE; both compare
            # paths read the materialized result. Types are preserved
            # (hugeint stays hugeint), so each path still exercises its
            # own conversion behavior.
            con.execute(f"CREATE OR REPLACE TEMP TABLE _oracle AS ({sql})")
            ddf = con.execute("SELECT * FROM _oracle").fetchall()
            dcols = [d[0] for d in con.description]
        except Exception as e:
            results[name] = [f"ORACLE SQL ERROR: {e}"]
            continue
        probs = compare(name, sdf, scols, ddf, dcols)
        # second pass through the driver's own conversion path (pandas)
        try:
            spdf = pd.read_parquet(pdir)
            dpdf = con.execute("SELECT * FROM _oracle").df()
            probs += [p for p in pandas_compare(name, spdf, dpdf)
                      if p not in probs]
        except Exception as e:
            probs.append(f"PANDAS PATH ERROR: {e}")
        results[name] = probs
    # rows-only queries (no oracle) — iterate the MANIFEST, not the
    # directories found: a query that failed (and whose stale dir was
    # cleaned) must FAIL the gate, not vanish from it
    manifest_path = f"{OUT}/queries.json"
    manifest = set(json.load(open(manifest_path))) \
        if os.path.exists(manifest_path) else None
    # a misspelled ONLY name must FAIL loudly, not print "0/0 match"
    # with exit code 0 — that reads as a green gate that checked nothing
    if ONLY and manifest is not None:
        unknown = ONLY - manifest
        if unknown:
            sys.exit(f"unknown query name(s): {sorted(unknown)} — "
                     "not in the manifest; nothing was verified")
    rows_only = (manifest - set(oracle)) if manifest is not None \
        else {os.path.basename(d) for d in glob.glob(f"{OUT}/q_*")} - set(oracle)
    for name in sorted(rows_only):
        if ONLY and name not in ONLY:
            continue
        pdir = f"{OUT}/{name}"
        if not glob.glob(f"{pdir}/*.parquet"):
            results[name] = ["NO SPARK OUTPUT"]
            continue
        n = con.execute(f"SELECT count(*) FROM read_parquet('{pdir}/*.parquet')").fetchone()[0]
        results[name] = [] if n > 0 else ["rows-only check: 0 rows"]
    nfail = 0
    for name, probs in sorted(results.items()):
        status = "OK " if not probs else "FAIL"
        if probs:
            nfail += 1
        print(f"[{status}] {name}")
        for p in probs:
            print(f"       {p}")
    print(f"\n{len(results) - nfail}/{len(results)} queries match")
    sys.exit(1 if nfail else 0)


if __name__ == "__main__":
    main()
