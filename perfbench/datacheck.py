#!/usr/bin/env python3
"""Compares the benchmark's generated tables with a reference copy.

    python3 perfbench/datacheck.py REFERENCE_DIR

REFERENCE_DIR holds the project's sf0.1 test tables (`<table>.parquet`).
The generated tables are made first if they are missing. For every table
it compares the schema and row count, and for every column the distinct
count, minimum, maximum and mean (of the value, of a string's length, of a
list's length). It prints one line per column, marking a difference, and
exits 1 when a schema or row count differs or a distinct count differs by
more than 2%. Values are drawn afresh, so rows, minima, maxima and means
differ a little; those are printed for reading, not gated.
"""
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run  # noqa: E402

DISTINCT_TOLERANCE = 0.02


def column_stats(con, path, col, typ):
    c = f'"{col}"'
    if typ.endswith("[]"):
        c = f"len({c})"
    elif typ == "VARCHAR":
        c = f"length({c})"
    num = f"avg({c}::DOUBLE)" if "TIMESTAMP" not in typ else "NULL"
    return con.sql(f'SELECT count(DISTINCT "{col}"), min({c})::VARCHAR, max({c})::VARCHAR, '
                   f"{num} FROM '{path}'").fetchone()


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    ref = sys.argv[1]
    gen = run.ensure_data()["dir"]
    con = duckdb.connect()
    bad = 0
    for t in oracle.TABLES:
        a, b = os.path.join(ref, f"{t}.parquet"), os.path.join(gen, f"{t}.parquet")
        sa = con.sql(f"DESCRIBE SELECT * FROM '{a}'").fetchall()
        sb = con.sql(f"DESCRIBE SELECT * FROM '{b}'").fetchall()
        na = con.sql(f"SELECT count(*) FROM '{a}'").fetchone()[0]
        nb = con.sql(f"SELECT count(*) FROM '{b}'").fetchone()[0]
        schema_ok = [r[:2] for r in sa] == [r[:2] for r in sb]
        bad += (not schema_ok) + (na != nb)
        print(f"{t}: rows {na} / {nb}{'' if na == nb else '  ROWS DIFFER'}"
              f"{'' if schema_ok else '  SCHEMA DIFFERS'}")
        if not schema_ok:
            continue
        for col, typ, *_ in sa:
            ra, rb = column_stats(con, a, col, typ), column_stats(con, b, col, typ)
            off = abs(ra[0] - rb[0]) / max(1, ra[0])
            flag = "  DISTINCT DIFFERS" if off > DISTINCT_TOLERANCE else ""
            bad += bool(flag)
            mean = "" if ra[3] is None else f" mean {ra[3]:.4g} / {rb[3]:.4g}"
            print(f"  {col:16s} distinct {ra[0]} / {rb[0]}  min {ra[1]} / {rb[1]}  "
                  f"max {ra[2]} / {rb[2]}{mean}{flag}")
    print(f"reference / generated; {bad} differences")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
