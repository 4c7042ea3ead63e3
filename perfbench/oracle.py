"""Result comparison against DuckDB, with the value normalization of the
repository's correctness harness: columns sorted by name, rows sorted,
timestamps and dates as ISO text, bytes as hex, floats to 10 significant
digits."""
import glob
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if hasattr(v, "isoformat"):
        v = v.isoformat()
    elif isinstance(v, (bytes, bytearray)):
        v = v.hex()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    return v


def canonical(cols, rows):
    """(sorted column names, sorted normalized rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr))


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def duck(con, sql):
    rel = con.sql(sql)
    return canonical(rel.columns, rel.fetchall())


def parquet_rows(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    tbl = pq.read_table(files)
    cols = tbl.column_names
    return canonical(cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()])


def diff(got, want):
    """None when equal, else a one-line description of the first mismatch."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns differ: got {gc}, want {wc}"
    if gr != wr:
        for i, (a, b) in enumerate(zip(gr, wr)):
            if a != b:
                return f"{len(gr)} vs {len(wr)} rows; first diff at row {i}: got {a!r}, want {b!r}"
        return f"{len(gr)} rows, want {len(wr)}"
    return None
