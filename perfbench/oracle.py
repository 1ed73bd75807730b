"""Check the headline queries' results against the DuckDB oracle.

Each headline query's declared oracle SQL runs in DuckDB over the same
parquet tables, and the Spark result parquet must match it row for row
after the normalisation tools/check.py applies (sorted columns and rows,
timestamps as microseconds, floats rounded to 6 places). The comparison
is a copy, not an import, so the benchmark depends only on its own files.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif s.dtype == object:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got, want):
    """None when the frames match, else what differs."""
    g, w = norm(got), norm(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} vs {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    try:
        pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False, rtol=1e-9, atol=1e-9)
    except AssertionError as e:
        return str(e).splitlines()[0][:200]
    return None


def check(data_dir, results_dir, phases, wrong_expectation=False):
    """Compare every phase's result of every query; returns
    (checks made, list of mismatch descriptions)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    checks, bad = 0, []
    for name in sorted(oracles):
        want = con.execute(oracles[name]).df()
        if wrong_expectation:
            want = want.iloc[:-1]
        for phase in phases:
            checks += 1
            files = glob.glob(os.path.join(results_dir, phase, name, "*.parquet"))
            if not files:
                bad.append(f"{name} ({phase}): no result")
                continue
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            diff = compare(got, want)
            if diff:
                bad.append(f"{name} ({phase}): {diff}")
    return checks, bad
