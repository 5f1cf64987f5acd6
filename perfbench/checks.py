"""Output checks against graft's DuckDB oracles, run outside the timed region.

The benchmark JVM writes the checked frame as parquet plus the oracle SQL
(`SparkEntry.oracleSql`) next to it; this module runs the SQL in DuckDB over
the generated inputs and compares column names, row counts and a hash of
the canonicalised rows (the convention of the repository's oracle compare:
floats rounded to 9 digits, columns in name order, rows sorted).
"""
import hashlib
import math
import os

import duckdb

# workload -> (checked output name, input table)
ORACLE = {"grid": ("best_of", "events"), "curate": ("curated", "documents")}


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return str(v)


def table_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def run(workload, base, check_dir):
    """Returns {check name: passed} for the workload's oracle check."""
    if workload not in ORACLE:
        return {}
    name, table = ORACLE[workload]
    key = f"{workload}.{name}_matches_oracle"
    sql_path = os.path.join(check_dir, f"{name}.sql")
    if not os.path.exists(sql_path):
        return {key: False}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{base}/{table}.parquet'")
    with open(sql_path) as f:
        want = con.execute(f.read())
    want_rows, want_cols = want.fetchall(), [d[0] for d in want.description]
    got = con.execute(f"SELECT * FROM '{check_dir}/{name}/*.parquet'")
    got_rows, got_cols = got.fetchall(), [d[0] for d in got.description]
    return {key: sorted(got_cols) == sorted(want_cols) and len(got_rows) == len(want_rows)
            and len(got_rows) > 0
            and table_hash(got_rows, got_cols) == table_hash(want_rows, want_cols)}
