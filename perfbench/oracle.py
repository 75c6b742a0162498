"""DuckDB oracle comparison for the calls a run issued.

For each call the harness dumped (`<work>/oracle/<name>/*.parquet`), run
its `SparkEntry.oracleSql` text through DuckDB over the run's input tables
and compare: columns sorted by name, rows sorted by every column, values
exact (floats bit-exact), as the repository's oracle checker does.
"""
import math
import os

import duckdb

TABLES = ("events", "documents", "embeddings")


def _canon(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(by=cols, ignore_index=True, kind="mergesort")


def _same(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        return (math.isnan(a) and math.isnan(b)) or a == b
    return a == b


def compare(data_dir, dump_dir, sql_by_name):
    """Return a list of (name, ok, detail)."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    res = []
    for name, sql in sorted(sql_by_name.items()):
        try:
            exp = _canon(con.sql(sql).df())
            got = _canon(con.sql(
                f"SELECT * FROM read_parquet('{dump_dir}/{name}/*.parquet')").df())
        except Exception as e:  # an oracle or dump that cannot be read fails the check
            res.append((name, False, f"error: {e}"))
            continue
        if list(exp.columns) != list(got.columns):
            res.append((name, False, f"columns {list(exp.columns)} vs {list(got.columns)}"))
            continue
        if len(exp) != len(got):
            res.append((name, False, f"rows {len(exp)} vs {len(got)}"))
            continue
        bad = next(((c, i, a, b) for c in exp.columns
                    for i, (a, b) in enumerate(zip(exp[c].tolist(), got[c].tolist()))
                    if not _same(a, b)), None)
        res.append((name, bad is None,
                    f"{len(exp)} rows" if bad is None else f"first diff {bad!r}"))
    return res
