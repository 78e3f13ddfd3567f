"""Output checks for the batch workloads.

Each query result the harness wrote is compared with the query's DuckDB
oracle (`SparkEntry.oracleSql`) run over the same generated tables: same
column names, same row count, and the same rows once both sides are sorted,
floats equal to 1e-9 relative. A result can also be compared with a recorded
fingerprint: a SHA-256 over the sorted rows, columns in name order, floats
rounded to 9 significant digits.
"""
import decimal
import glob
import hashlib
import math
import os

import duckdb

from datagen import TABLES


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, float):
        return v + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _key(row):
    return repr(tuple(float(f"{v:.9g}") + 0.0 if isinstance(v, float) else v for v in row))


def _canonical(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=_key)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare(got, got_cols, want, want_cols):
    """Problems found comparing a result with its expected rows (empty if equal)."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns {sorted(got_cols)} != expected {sorted(want_cols)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows != expected {len(want)}"]
    bad = [i for i, (a, b) in enumerate(zip(_canonical(got, got_cols), _canonical(want, want_cols)))
           if not _same(a, b)]
    return [f"{len(bad)} of {len(got)} rows differ"] if bad else []


def rows_of(con, sql):
    rows = con.execute(sql).fetchall()
    return rows, [d[0] for d in con.description]


def read_output(con, path):
    return rows_of(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")


def fingerprint(rows, cols):
    h = hashlib.sha256()
    for r in _canonical(rows, cols):
        h.update(repr(tuple(float(f"{v:.9g}") if isinstance(v, float) else v
                            for v in r)).encode())
    return f"{','.join(sorted(cols))}:{len(rows)}:{h.hexdigest()}"


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_batch(runs, oracles, data_dir, expected, key_prefix):
    """Problems per `name#pass` for every query execution that has a written
    result; executions whose result equalled their first pass' are covered
    by that check."""
    con = connect(data_dir)
    oracle_rows = {}
    problems = {}
    for r in runs:
        if r["error"] or not r["output"]:
            continue
        probs = []
        if not glob.glob(os.path.join(r["output"], "*.parquet")):
            probs.append("no output written")
        else:
            got, cols = read_output(con, r["output"])
            name = r["name"]
            if name in oracles:
                if name not in oracle_rows:
                    try:
                        oracle_rows[name] = rows_of(con, oracles[name])
                    except Exception as e:  # an oracle that cannot run is a failed check
                        oracle_rows[name] = e
                want = oracle_rows[name]
                probs += ([f"oracle SQL failed: {want}"] if isinstance(want, Exception)
                          else compare(got, cols, *want))
            fp = expected.get(f"{key_prefix}/{name}")
            if fp is not None and fingerprint(got, cols) != fp:
                probs.append("output fingerprint differs from the recorded one")
            if name not in oracles and fp is None and not got:
                probs.append("no oracle, no recorded fingerprint, and no rows")
        if probs:
            problems[f"{r['name']}#{r['pass']}"] = probs
    return problems


def fingerprints(runs, key_prefix):
    con = duckdb.connect()
    out = {}
    for r in runs:
        if r["pass"] == 0 and r["output"]:
            out[f"{key_prefix}/{r['name']}"] = fingerprint(*read_output(con, r["output"]))
    return out
