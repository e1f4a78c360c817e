"""DuckDB oracle for the DataFrame workloads.

The oracle SQL comes from the program's own registry
(`SparkEntry.oracleSql`), dumped by the JVM run; it runs here over the
generated parquet tables in DuckDB, independent of Spark.  Results are
compared after sorting columns by name and rows by every column, with
exact cell equality.
"""
import math
import os

import duckdb


def connect(tables_dir, names, where=None):
    """A DuckDB connection with one view per parquet table in
    `tables_dir`; `where` maps a table name to a row filter."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in names:
        cond = f" WHERE {where[t]}" if where and t in where else ""
        src = f"{tables_dir}/{t}.parquet"
        if os.path.isdir(src):
            src += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'{cond}")
    return con


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _cell_eq(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    return str(a) == str(b)


def diff(mine, ref):
    """None when the two frames hold the same rows, else a reason."""
    mine, ref = canon(mine), canon(ref)
    if list(mine.columns) != list(ref.columns):
        return f"columns {list(mine.columns)} != {list(ref.columns)}"
    if len(mine) != len(ref):
        return f"{len(mine)} rows, oracle has {len(ref)}"
    for c in mine.columns:
        for i, (x, y) in enumerate(zip(mine[c].tolist(), ref[c].tolist())):
            if not _cell_eq(x, y):
                return f"col={c} row={i} got={x!r} oracle={y!r}"
    return None
