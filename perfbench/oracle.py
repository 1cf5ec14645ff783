"""Checks the pipeline's query results against the query registry's
oracle SQL, run in DuckDB over the same generated parquet tables.

Rules follow the repository's oracle gate: columns sorted by name, rows
sorted, dtype kinds must agree, cells compare exactly (NaN equals NaN).
"""
import glob
import json
import math
import os

TABLES = ["region", "nation", "customer", "orders", "lineitem"]


def _canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _equal(a, b):
    import pandas as pd
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
        if pd.isna(a) or pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    return a == b


def compare(results_dir, data_dir):
    """Returns a list of mismatch descriptions (empty: all equal)."""
    import duckdb
    errors = []
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        files = os.path.join(data_dir, f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{files}')")
    with open(os.path.join(results_dir, "oracle.json")) as f:
        oracles = json.load(f)
    if not oracles:
        return ["no query results to check"]
    for name, sql in sorted(oracles.items()):
        try:
            want = _canon(con.execute(sql).df())
            files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
            got = _canon(con.execute(
                f"SELECT * FROM read_parquet({files!r})").df() if files else want.iloc[0:0])
        except Exception as e:  # a failing query is a failed check
            errors.append(f"{name}: {e}")
            continue
        if list(want.columns) != list(got.columns) or len(want) != len(got):
            errors.append(f"{name}: shape {list(got.columns)} x {len(got)} "
                          f"!= oracle {list(want.columns)} x {len(want)}")
            continue
        kinds = [c for c in want.columns if want[c].dtype.kind != got[c].dtype.kind]
        if kinds:
            errors.append(f"{name}: dtype kind differs in {kinds}")
            continue
        for c in want.columns:
            bad = [i for i, (a, b) in enumerate(zip(want[c].tolist(), got[c].tolist()))
                   if not _equal(a, b)]
            if bad:
                i = bad[0]
                errors.append(f"{name}: column {c} differs in {len(bad)} rows "
                              f"(row {i}: {got[c].iloc[i]!r} vs oracle {want[c].iloc[i]!r})")
                break
    return errors
