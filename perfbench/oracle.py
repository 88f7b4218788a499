"""Checks gate outputs against their DuckDB oracle SQL.

Each gate's expected result is computed once per dataset by DuckDB over the
same parquet tables the gate read and cached beside the data, keyed by a
hash of the SQL and of the tables' bytes, so changed data is never checked
against a result computed from the old data. The comparison follows the
project's oracle rules: the same column names, rows sorted by every column,
exact values (floats too).
"""
import hashlib
import math
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _table_paths(data_dir):
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            yield t, path


def data_hash(data_dir):
    """A hash of every table file's name and bytes."""
    h = hashlib.sha1()
    for _, path in _table_paths(data_dir):
        files = sorted(os.path.join(path, f) for f in os.listdir(path)) \
            if os.path.isdir(path) else [path]
        for f in files:
            h.update(os.path.relpath(f, data_dir).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t, path in _table_paths(data_dir):
        # Spark-style tables are directories of part files
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def expected(con, cache_dir, data_key, gate, sql):
    """The oracle's result for `gate` as a DataFrame, computed once per SQL
    and data (`data_key`, from data_hash)."""
    key = hashlib.sha1((data_key + sql).encode()).hexdigest()[:12]
    path = os.path.join(cache_dir, f"{gate}-{key}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        con.sql(sql).write_parquet(tmp)
        os.replace(tmp, path)
    return con.sql(f"SELECT * FROM '{path}'").df()


def _norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def diff(exp, got):
    """None when the frames hold the same rows, else a one-line reason."""
    if sorted(exp.columns) != sorted(got.columns):
        return f"columns: expected {sorted(exp.columns)}, got {sorted(got.columns)}"
    e, g = _norm(exp), _norm(got)
    if len(e) != len(g):
        return f"rows: expected {len(e)}, got {len(g)}"
    for c in e.columns:
        ev, gv = e[c], g[c]
        if ev.dtype.kind == "f" or gv.dtype.kind == "f":
            d = (ev.astype(float) - gv.astype(float)).abs()
            bad = ~((ev.isna() & gv.isna()) | (d.fillna(math.inf) == 0.0))
        else:
            bad = ~((ev.isna() & gv.isna()) | (ev == gv))
        if bad.any():
            i = bad.idxmax()
            return (f"column {c}: {int(bad.sum())} rows differ, "
                    f"e.g. expected {ev[i]!r}, got {gv[i]!r}")
    return None


def check(data_dir, cache_dir, out_dir, oracles):
    """Compares every gate in `oracles` (name -> SQL) with the parquet
    output Spark wrote to out_dir/<name>. Returns {name: reason or None}."""
    con = connect(data_dir)
    data_key = data_hash(data_dir)
    result = {}
    for gate, sql in oracles.items():
        try:
            exp = expected(con, cache_dir, data_key, gate, sql)
        except Exception as e:  # an oracle that cannot run is a mismatch too
            result[gate] = f"oracle failed: {type(e).__name__}: {str(e).splitlines()[0]}"
            continue
        try:
            got = con.sql(f"SELECT * FROM '{os.path.join(out_dir, gate)}/*.parquet'").df()
        except Exception as e:
            result[gate] = f"output unreadable: {type(e).__name__}: {str(e).splitlines()[0]}"
            continue
        result[gate] = diff(exp, got)
    con.close()
    return result
