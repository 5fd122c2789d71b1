"""DuckDB oracle compare for the registry queries: runs each query's
`SparkEntry.oracleSql` on the same Parquet inputs and value-compares the
result with the engine's output (columns sorted by name, rows sorted,
integers as int64, timestamps as microsecond strings, floats rounded to
9 places)."""
import glob
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def normalize(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(col):
            df[c] = col.round(9)
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.astype("int64")
        elif col.dtype == object:
            try:
                df[c] = col.astype("int64")
            except (ValueError, TypeError):
                df[c] = col.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(data_dir, out_dir, oracle_sql):
    """Returns ({query: oracle row count}, [failure messages])."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        files = glob.glob(os.path.join(data_dir, t + ".parquet", "*.parquet"))
        if files:
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet(%r)" % (t, files))
    counts, failures = {}, []
    for name in sorted(oracle_sql):
        try:
            duck = con.execute(oracle_sql[name]).df()
            counts[name] = len(duck)
            spark = pq.read_table(os.path.join(out_dir, name)).to_pandas()
        except Exception as e:  # a missing output or a failing oracle query
            failures.append("%s: %s: %s" % (name, type(e).__name__, str(e)[:200]))
            continue
        s, d = normalize(spark), normalize(duck)
        if len(s) != len(d) or list(s.columns) != list(d.columns) or not s.equals(d):
            failures.append("%s: engine %d rows, oracle %d rows differ" % (name, len(s), len(d)))
    return counts, failures
