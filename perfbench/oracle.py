"""catalog_mix correctness: each query's result against its DuckDB oracle
(SparkEntry.oracleSql), canonicalized and compared exactly as
tools/compare.py does."""
import hashlib
import importlib.util
import os
import re

import duckdb
import pandas as pd


def _compare_module():
    path = os.path.join(os.getcwd(), "tools", "compare.py")
    spec = importlib.util.spec_from_file_location("graft_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _cache_key(sql, data_dir, tables):
    """Digest of the SQL and the bytes of every table it names, or None when
    the SQL reads files outside the data directory."""
    if ".parquet" in sql:
        return None
    h = hashlib.sha256(sql.encode())
    for t in tables:
        f = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(f) and re.search(rf"\b{t}\b", sql):
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _oracle(con, sql, key, cache_dir):
    path = os.path.join(cache_dir, f"{key}.pkl") if key else None
    if path and os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).df()
    if path:
        os.makedirs(cache_dir, exist_ok=True)
        df.to_pickle(path)
    return df


def _connect(cmp, data_dir):
    con = duckdb.connect()
    for t in cmp.TABLES:
        f = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(f):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    return con


def warm(data_dir, oracle_sql, cache_dir):
    """Fills the cache for every oracle that reads only the data tables."""
    cmp = _compare_module()
    con = _connect(cmp, data_dir)
    for sql in oracle_sql.values():
        key = _cache_key(sql, data_dir, cmp.TABLES)
        if key:
            _oracle(con, sql, key, cache_dir)


def compare(result_dir, data_dir, oracle_sql, names, cache_dir):
    """Returns {query: error} for every query that does not match. Oracle
    results are cached by the digest of their SQL and input tables."""
    cmp = _compare_module()
    con = _connect(cmp, data_dir)
    errors = {}
    for q in names:
        path = os.path.join(result_dir, q)
        if not os.path.isdir(path):
            errors[q] = "no result written"
            continue
        if q not in oracle_sql:
            errors[q] = "no oracle"
            continue
        try:
            got = con.execute(f"SELECT * FROM '{path}/*.parquet'").df()
            sql = oracle_sql[q]
            want = _oracle(con, sql, _cache_key(sql, data_dir, cmp.TABLES), cache_dir)
            err = cmp.cmp(cmp.canon(got), cmp.canon(want))
        except Exception as e:  # an oracle or read failure is a failed check
            err = f"FAIL {e}"
        if err:
            errors[q] = err
    return errors
