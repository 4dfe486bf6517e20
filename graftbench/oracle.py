#!/usr/bin/env python3
"""DuckDB oracle compare for the catalog workload.

For every query directory under <outDir> (the Spark result as parquet),
runs the query's oracle SQL from <outDir>/oracle_sql.json in DuckDB over
views named after the corpus tables and compares, as tools/check.py does:
column names, row count, and every value with columns sorted by name and
rows sorted by all columns. Oracle results are cached as parquet under
<cacheDir>, keyed by query name, SQL and the corpus files' content, so a
repeat run over the same seed's corpus only reads them back.

Usage: python3 graftbench/oracle.py <dataDir> <outDir> <cacheDir>
Prints one line per query and exits 1 when any query mismatches.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple)) or
                     getattr(v, "ndim", None) == 1 and not isinstance(v, str)).any():
            df[c] = df[c].map(lambda v: v if isinstance(v, (str, float, int, type(None)))
                              else tuple(v))
    return df.sort_values(by=list(df.columns), ignore_index=True)


def corpus_key(data_dir):
    h = hashlib.md5()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(hashlib.md5(f.read()).digest())
    return h.hexdigest()


def compare(data_dir, out_dir, cache_dir):
    """Returns {query: None if equal else a mismatch description}."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    con.sql(f"SET temp_directory = '{os.path.join(cache_dir, 'tmp')}'")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    ckey = corpus_key(data_dir)
    results = {}
    for name in sorted(d for d in os.listdir(out_dir)
                       if os.path.isdir(os.path.join(out_dir, d))):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracles:
            results[name] = None if len(got) else "no rows and no oracle"
            continue
        sql = oracles[name]
        key = hashlib.md5(f"{name}\n{sql}\n{ckey}".encode()).hexdigest()[:16]
        cached = os.path.join(cache_dir, f"{name}-{key}.parquet")
        try:
            if not os.path.exists(cached):
                tmp = cached + ".tmp"
                con.sql(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
                os.replace(tmp, cached)
            exp = pd.read_parquet(cached)
        except Exception as e:  # an oracle that cannot run is a failed check
            results[name] = f"oracle error: {e}"
            continue
        g, e = canon(got.copy()), canon(exp.copy())
        if sorted(g.columns) != sorted(e.columns):
            results[name] = f"columns {sorted(g.columns)} != {sorted(e.columns)}"
        elif len(g) != len(e):
            results[name] = f"rows {len(g)} != {len(e)}"
        elif not g.astype(str).equals(e.astype(str)):
            bad = int((g.astype(str) != e.astype(str)).any(axis=1).sum())
            results[name] = f"{bad} rows differ"
        else:
            results[name] = None
    return results


if __name__ == "__main__":
    res = compare(*sys.argv[1:4])
    for k, v in res.items():
        print(f"{k:28s} {'OK' if v is None else v}")
    sys.exit(1 if any(v is not None for v in res.values()) else 0)
