"""DuckDB oracle for the tpch_5x workload: every q-row result the run
dumped must equal its SparkEntry.oracleSql text run by DuckDB over the
same generated parquet, cell by cell as the project's oracle check
compares them. Columns compare sorted by name; rows compare in order,
then as sorted rows for results whose ORDER BY leaves ties."""
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def _equal(a, b):
    """Cell equality of the project's oracle check: NULLs and NaNs match,
    everything else compares with ==."""
    if hasattr(a, "tolist"):
        a = a.tolist()
    if hasattr(b, "tolist"):
        b = b.tolist()
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        return (isinstance(a, (list, tuple)) and isinstance(b, (list, tuple))
                and len(a) == len(b) and all(_equal(x, y) for x, y in zip(a, b)))
    na, nb = pd.isna(a), pd.isna(b)
    if na or nb:
        return bool(na and nb)
    try:
        return bool(a == b)
    except Exception:
        return False


def _same(x, y):
    rows_x = list(x.itertuples(index=False, name=None))
    rows_y = list(y.itertuples(index=False, name=None))
    return len(rows_x) == len(rows_y) and all(
        all(_equal(a, b) for a, b in zip(rx, ry)) for rx, ry in zip(rows_x, rows_y))


def _sorted(df):
    return df.iloc[sorted(range(len(df)), key=lambda i: [str(v) for v in df.iloc[i]])]


def compare(results_dir, data_dir, plant=""):
    """Returns (query, reason) for every q-row whose result differs."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = []
    for i, (name, sql) in enumerate(sorted(oracle.items())):
        try:
            spark_df = _canon(pd.read_parquet(os.path.join(results_dir, name)))
            if plant == "tpch_hash" and i == 0:
                spark_df = spark_df.iloc[:-1]
            duck_df = _canon(con.sql(sql).df())
        except Exception as e:  # a missing result or a failing oracle query
            bad.append((name, f"exception {e}"))
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            bad.append((name, f"columns {list(spark_df.columns)} vs {list(duck_df.columns)}"))
            continue
        if not _same(spark_df, duck_df) and not _same(_sorted(spark_df), _sorted(duck_df)):
            bad.append((name, f"values differ ({len(spark_df)} vs {len(duck_df)} rows)"))
    return bad
