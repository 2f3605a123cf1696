"""DuckDB oracle for analytics_mix.

Each op kind's first result (dumped as parquet by the harness) is
compared with DuckDB running the same query over the same parquet (the
fixed TPC-H-shaped tables and the generated metrics store):
SparkEntry.oracleSql for SparkEntry keys, the SQL below for the
metrics-store ops. Comparison follows the repo's oracle rule: column
names sorted, rows sorted, exact for ints and strings, relative 1e-9 for
floats.
"""
import math
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "metrics_store"]

# graft.metrics.Analytics re-stated in SQL (query_model_performance.py)
METRICS_SQL = {
    "metrics_summary": """
        SELECT model_name, count(*) AS total_evaluations,
               round(avg(accuracy), 6) AS avg_accuracy,
               round(avg(macro_f1), 6) AS avg_macro_f1,
               round(min(macro_f1), 6) AS min_macro_f1,
               round(max(macro_f1), 6) AS max_macro_f1,
               round(stddev_samp(macro_f1), 6) AS std_macro_f1,
               CAST(sum(total_samples) AS BIGINT) AS total_predictions
        FROM metrics_store GROUP BY model_name
        ORDER BY avg_macro_f1 DESC, model_name""",
    "metrics_recent_weeks": """
        SELECT week_date, model_name, round(avg(macro_f1), 6) AS avg_macro_f1
        FROM metrics_store
        WHERE week_date IN (SELECT DISTINCT week_date FROM metrics_store
                            ORDER BY week_date DESC LIMIT 8)
        GROUP BY week_date, model_name ORDER BY week_date, model_name""",
    "metrics_best_model": """
        SELECT week_date, model_name, macro_f1 FROM (
          SELECT week_date, model_name, macro_f1,
                 row_number() OVER (PARTITION BY week_date
                                    ORDER BY macro_f1 DESC, model_name) AS rk
          FROM metrics_store) WHERE rk = 1 ORDER BY week_date""",
}

# round(x, 6) of a mean: Spark rounds the decimal form half-up, DuckDB
# the binary value, so an exact tie in the 7th decimal may land one
# unit apart. Rounded aggregates therefore compare within one unit.
ROUNDED_ABS_TOL = 1.01e-6


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), kind="mergesort") \
        .reset_index(drop=True)


def _kind(dt):
    k = getattr(dt, "kind", "O")
    return {"i": "int", "u": "int", "f": "float", "b": "bool",
            "M": "datetime"}.get(k, "object")


def _same(a, b, abs_tol):
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= max(abs_tol,
                                   1e-9 * max(1.0, abs(fa), abs(fb)))
    return str(a) == str(b)


def compare(spark_df, duck_df, abs_tol=0.0):
    """None when equal, else a one-line reason."""
    s, d = _norm(spark_df), _norm(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    for c in s.columns:
        if _kind(s[c].dtype) != _kind(d[c].dtype):
            return f"dtype {c}: spark={s[c].dtype} duck={d[c].dtype}"
        for i, (x, y) in enumerate(zip(s[c], d[c])):
            if not _same(x, y, abs_tol):
                return f"value {c}[{i}]: spark={x!r} duck={y!r}"
    return None


def check(tables, inputs, results_dir, oracle_sql):
    """Map each op kind to None (agrees with DuckDB) or a failure reason."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(inputs if t == "metrics_store" else tables,
                         f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    sqls = dict(oracle_sql)
    sqls.update(METRICS_SQL)
    verdict = {}
    for key, sql in sorted(sqls.items()):
        path = os.path.join(results_dir, key)
        if not os.path.exists(path):
            verdict[key] = "no spark result"
            continue
        try:
            duck = con.execute(sql).df()
        except Exception as e:  # an oracle error is a failed check
            verdict[key] = f"duckdb error: {e}"
            continue
        spark = pq.read_table(path).to_pandas()
        tol = ROUNDED_ABS_TOL if key in METRICS_SQL else 0.0
        verdict[key] = compare(spark, duck, tol)
    con.close()
    return verdict
