"""DuckDB oracle check of the analytics outputs.

Each output is a parquet directory written by the harness; it must equal
the key's oracle SQL run by DuckDB over the same generated tables, column
set, dtypes and every value row by row, by the comparison of the
repository's `tools/check.py`.
"""
import glob
import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check import compare  # noqa: E402


def check_all(data_dir, dumps_dir, sqls, names):
    """Map each output name (`key` or `key#op`) to (ok, message)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    wants, out = {}, {}
    for name in sorted(names):
        key = name.split("#")[0]
        try:
            if key not in wants:
                wants[key] = con.execute(sqls[key]).df()
            got = con.execute("SELECT * FROM read_parquet("
                              f"'{os.path.join(dumps_dir, name)}/*.parquet')").df()
            out[name] = compare(got, wants[key])
        except Exception as e:  # a missing oracle or output is a failure
            out[name] = (False, f"{type(e).__name__}: {e}")
    con.close()
    return out
