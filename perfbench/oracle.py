#!/usr/bin/env python3
"""Order-insensitive result digests for the sf0.01 driver queries, computed
the way tools/compare.py compares results: columns sorted by name, Arrow
types normalised, floats by repr, rows sorted by their text.

The same digest is taken of Spark's output (a parquet directory) and of the
query's DuckDB oracle SQL over the benchmark's copy of the tables.
"""
import glob
import hashlib
import os
import re

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")


def connect():
    import duckdb
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(DATA, "*.parquet"))):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm_type(t):
    # list element field names and nullability differ between writers
    return re.sub(r"list<[^:]+: ", "list<item: ", str(t)).replace(" not null", "")


def _canon(cols, types, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(repr(r[i]) if isinstance(r[i], float) else r[i] for i in order))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    h = hashlib.sha256()
    h.update(repr([(cols[i], _norm_type(types[cols[i]])) for i in order]).encode())
    for t in out:
        h.update(repr(t).encode())
        h.update(b"\n")
    return {"digest": h.hexdigest(), "rows": len(out)}


def spark_digest(con, parquet_dir):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(parquet_dir, "*.parquet")))
    if not files:
        raise ValueError(f"no parquet output in {parquet_dir}")
    types = {f.name: f.type for f in pq.read_schema(files[0])}
    cur = con.execute(f"SELECT * FROM '{parquet_dir}/*.parquet'")
    cols = [d[0] for d in cur.description]
    return _canon(cols, types, cur.fetchall())


def oracle_digest(con, sql):
    types = {f.name: f.type for f in con.sql(sql).fetch_arrow_table().schema}
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return _canon(cols, types, cur.fetchall())
