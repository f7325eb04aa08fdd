"""Oracle check: each operation's result against its SQL replayed in DuckDB.

The SQL is `graft.SparkEntry.oracleSql` for the operation (the harness
writes it next to the results). Canonicalization and cell equality are
those of the engine's correctness gate, tools/check_oracle.py, imported
from it: columns sorted by name, rows in the order both sides' ORDER BY
gives, NaN equal to NaN, other cells compared as strings. Expected
results are cached per (fixture hash, operation, SQL text).
"""
import hashlib
import json
import os
import shutil
import sys

import duckdb
import pandas as pd

from gen import TABLES

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
try:
    from check_oracle import canon, cell_eq  # noqa: E402
except ImportError:
    sys.exit("perfbench: tools/check_oracle.py (the oracle canonicalization) is missing")


def compare(mine: pd.DataFrame, ref: pd.DataFrame) -> str:
    mine, ref = canon(mine), canon(ref)
    if list(mine.columns) != list(ref.columns):
        return f"schema mismatch: {list(mine.columns)} vs oracle {list(ref.columns)}"
    if len(mine) != len(ref):
        return f"row count mismatch: {len(mine)} vs oracle {len(ref)}"
    for c in mine.columns:
        for i, (a, b) in enumerate(zip(mine[c].tolist(), ref[c].tolist())):
            if not cell_eq(a, b):
                return f"value mismatch: column {c} row {i}: {a!r} vs oracle {b!r}"
    return "ok"


def expected(con, sql: str, path: str) -> pd.DataFrame:
    if os.path.exists(path):
        return pd.read_parquet(path)
    ref = con.execute(sql).fetchdf()
    ref.to_parquet(path + ".tmp", index=False)
    os.replace(path + ".tmp", path)
    return ref


def check(fixture_dir: str, fixture_hash: str, workload: str, ops: list,
          results_dir: str, sql_file: str, cache_root: str) -> dict:
    """{op: "ok" or the reason it failed} for every op."""
    with open(sql_file) as f:
        sqls = json.load(f)
    wl_cache = os.path.join(cache_root, workload)
    cache = os.path.join(wl_cache, fixture_hash)
    if os.path.isdir(wl_cache):
        for old in os.listdir(wl_cache):
            if old != fixture_hash:
                shutil.rmtree(os.path.join(wl_cache, old))
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    verdict = {}
    for op in ops:
        res = os.path.join(results_dir, op)
        if op not in sqls:
            verdict[op] = "no oracle SQL"
        elif not os.path.isdir(res):
            verdict[op] = "no result written"
        else:
            key = hashlib.sha256(sqls[op].encode()).hexdigest()[:12]
            try:
                ref = expected(con, sqls[op], os.path.join(cache, f"{op}-{key}.parquet"))
                verdict[op] = compare(pd.read_parquet(res), ref)
            except Exception as e:  # an oracle that cannot run is a failure too
                verdict[op] = f"oracle error: {str(e)[:300]}"
    con.close()
    return verdict
