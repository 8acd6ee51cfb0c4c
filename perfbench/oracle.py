"""DuckDB oracle for the benchmark's correctness checks: each query's full
result (written by the benchmark JVM as parquet) must equal what the
query's registered DuckDB twin (`SparkEntry.oracleSql`) computes from the
same generated input tables; a query without a twin must return rows.
Columns are compared by name, rows in order, values exactly.
"""
import json
import os

import duckdb

from datagen import TABLES


def connect(data_dir, spill_dir):
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{spill_dir}'")
    con.execute(f"SET threads={os.cpu_count() or 1}")  # the JVM has exited by now
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(con, got, exp):
    """None when the two DataFrames agree, else a one-line reason."""
    import pandas as pd
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"columns: oracle={list(exp.columns)} got={list(got.columns)}"
    if len(exp) != len(got):
        return f"rows: oracle={len(exp)} got={len(got)}"
    try:
        pd.testing.assert_frame_equal(exp.reset_index(drop=True), got.reset_index(drop=True),
                                      check_dtype=False, check_exact=True)
    except AssertionError as e:
        return " ".join(str(e).split())[:300]
    kinds = [c for c in exp.columns if exp[c].dtype.kind != got[c].dtype.kind]
    if kinds:
        return f"value kinds differ in {kinds}"
    return None


def check_queries(data_dir, verify_dir, names, spill_dir):
    """{query: reason} for every query in `names` whose result disagrees
    with its oracle or is missing."""
    con = connect(data_dir, spill_dir)
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails = {}
    for q in names:
        qdir = os.path.join(verify_dir, q)
        if not os.path.isdir(qdir):
            fails[q] = "no result written"
            continue
        try:
            # part files in name order are the result's partitions in order
            got = con.execute(f"SELECT * FROM read_parquet('{qdir}/*.parquet')").fetch_df()
            if q not in oracle:
                if len(got) == 0:
                    fails[q] = "no oracle and no rows"
                continue
            reason = compare(con, got, con.execute(oracle[q]).fetch_df())
            if reason:
                fails[q] = reason
        except Exception as e:  # a broken oracle or result file is a failure
            fails[q] = f"error: {e}"[:300]
    con.close()
    return fails


def funnel(data_dir, sql, spill_dir):
    """The oracle's rows for one query, as `|`-joined strings in order."""
    con = connect(data_dir, spill_dir)
    try:
        return ["|".join(str(v) for v in row) for row in con.execute(sql).fetchall()]
    finally:
        con.close()
