"""DuckDB oracle check of registry results: each query's first result, as
the JVM wrote it, must equal its oracle SQL (`SparkEntry.oracleSql`) run
live by DuckDB on the same parquet fixture. Columns are compared by name,
rows in order, values exactly."""
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    """Plain Python value: lists for arrays, None for nulls and NaN."""
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def rows_of(table):
    cols = sorted(table.column_names)
    data = {c: table.column(c).to_pylist() for c in cols}
    return cols, [tuple(_canon(data[c][i]) for c in cols) for i in range(table.num_rows)]


def diff(got, exp):
    """None when the tables are equal, else the first difference."""
    gc, gr = rows_of(got)
    ec, er = rows_of(exp)
    if gc != ec:
        return f"columns: engine={gc} oracle={ec}"
    if len(gr) != len(er):
        return f"rows: engine={len(gr)} oracle={len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if a != b:
            return f"row {i}: engine={a!r:.200} oracle={b!r:.200}"
    return None


def connect(fixture_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(fixture_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check(results_dir, fixture_dir, corrupt=None):
    """{query: None | difference} for every result under results_dir.
    `corrupt` maps a query to a function applied to its engine table first
    (the self-test's deliberately corrupted outputs)."""
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    con = connect(fixture_dir)
    out = {}
    for name, sql in oracle.items():
        try:
            got = pq.read_table(os.path.join(results_dir, name))
            if corrupt and name in corrupt:
                got = corrupt[name](got)
            out[name] = diff(got, con.execute(sql).arrow())
        except Exception as e:  # a missing result or an oracle error fails the query
            out[name] = f"{type(e).__name__}: {e}"
    return out
