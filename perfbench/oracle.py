"""Checks each op's reference output against its DuckDB oracle.

The run writes every op's warm-up output to out/<op>/ and the ops'
`SparkEntry.oracleSql` to out/oracle_sql.json; this runs each oracle in
DuckDB over the same generated tables and compares with the comparison
of tools/parity.py (columns sorted by name, rows sorted by all columns,
exact schema, row count and values). Timed calls are then checked
against the reference output's fingerprint inside the run.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def same(got, exp):
    if list(got.columns) != list(exp.columns) or \
            [str(t) for t in got.dtypes] != [str(t) for t in exp.dtypes] or \
            len(got) != len(exp):
        return False
    try:
        pd.testing.assert_frame_equal(got, exp, check_exact=True)
        return True
    except AssertionError:
        return False


def wrong_ops(data_dir, out_dir):
    """Names of ops whose reference output differs from their oracle."""
    sys.path.insert(0, TOOLS)
    import parity
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in parity.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    wrong = []
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        try:
            ok = len(files) == 1 and same(
                parity.canon(con.sql(f"SELECT * FROM '{files[0]}'").df()),
                parity.canon(con.sql(sql).df()))
        except duckdb.Error as e:
            sys.stderr.write(f"oracle {name}: {e}\n")
            ok = False
        if not ok:
            sys.stderr.write(f"oracle mismatch: {name}\n")
            wrong.append(name)
    return wrong
