"""DuckDB oracle check for the bank workload.

Each sampled query's Spark result (parquet written by the benchmark's
untimed first pass) is compared with its `SparkEntry.oracleSql` query run
by DuckDB over the same tables, through `frame` of the repository's
correctness gate (scripts/local_verify.py): its decimal and array-column
guards, columns sorted by name, cells rendered as text, rows sorted.

The oracle's side depends only on the tables and its SQL, so its frame is
kept beside the generated tables under a digest of the SQL; later runs on
the same tables read it back instead of running DuckDB again (the
similarity-join oracles take several seconds each).
"""
import glob
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
import local_verify  # noqa: E402


def _expected(con, sql, cache_dir):
    path = os.path.join(cache_dir, hashlib.sha256(sql.encode()).hexdigest()[:32] + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            cols, dtypes, rows = json.load(fh)
        return cols, dtypes, [tuple(r) for r in rows]
    exp = local_verify.frame(con, con.sql(sql))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump(exp, fh)
    os.replace(path + ".tmp", path)
    return exp


def check(data_dir, out_dir):
    """Returns (queries checked, list of failure messages)."""
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    con.execute("SET enable_progress_bar=false")
    con.execute(f"SET temp_directory='{os.path.join(out_dir, 'duckdb-tmp')}'")
    for t in local_verify.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    failures = []
    for name in sorted(oracle):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            failures.append(f"{name}: no Spark output")
            continue
        try:
            got = local_verify.frame(con, con.sql(f"SELECT * FROM read_parquet({files!r})"))
            exp = _expected(con, oracle[name], os.path.join(data_dir, "_oracle"))
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            failures.append(f"{name}: {str(e)[:200]}")
            continue
        if got[0] != exp[0]:
            failures.append(f"{name}: columns {got[0]} != {exp[0]}")
        elif got[1] != exp[1]:
            failures.append(f"{name}: dtypes {got[1]} != {exp[1]}")
        elif got[2] != exp[2]:
            failures.append(f"{name}: {len(got[2])} rows vs {len(exp[2])} expected")
    con.close()
    return len(oracle), failures
