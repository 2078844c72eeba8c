"""DuckDB oracle for operator_mix: runs each entry's oracle SQL over the
same parquet tables and compares it with the entry's result as the
benchmark wrote it, with the repository's own comparison (tools/check.py:
columns sorted by name, rows sorted, a float column against an integer
column is a mismatch)."""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check import compare  # noqa: E402


def check(data_dir, results_dir):
    """Returns (entries checked, [failure messages])."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (name, p))
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for name in sorted(oracle):
        files = glob.glob(os.path.join(results_dir, name, "*.parquet"))
        if not files:
            failures.append("%s: no result" % name)
            continue
        try:
            exp = con.execute(oracle[name]).fetchdf()
            got = con.execute("SELECT * FROM read_parquet(%r)" % files).fetchdf()
            problems = compare(name, exp, got)
        except Exception as ex:  # an oracle or read error fails the entry
            problems = ["oracle error: %s" % ex]
        if problems:
            failures.append("%s: %s" % (name, "; ".join(problems[:3])))
    con.close()
    return len(oracle), failures
