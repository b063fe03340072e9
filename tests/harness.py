"""Local replica of the driver's correctness gate: run a registry query
on Spark and its oracle on DuckDB over the same parquet, compare
row-count + schema + order-insensitive values EXACTLY.

Exact comparison is deliberately stricter than any plausible driver
hash: if values are bit-identical here, any order-insensitive hashing
scheme matches.
"""

from __future__ import annotations

import math
import os
import uuid

import duckdb
import pandas as pd

from de_project_airflow_etl_spark.tables import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def jobs_launched(spark, fn):
    """Run ``fn()`` under a job group of its own; return its result and
    the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"jobs-launched-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, rows sorted by all
    columns, everything stringified with exact float repr."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        import numpy as np
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, (float, np.floating)):
            if math.isnan(v):
                return "<null>"
            return repr(float(v))  # shortest round-trip repr — exact
        if isinstance(v, (np.integer,)):
            return str(int(v))
        # Containers element-wise: Spark (Arrow off) hands Python
        # lists, DuckDB hands numpy arrays — str() of those differ in
        # FORMAT (and ndarray str truncates floats to ~8 digits, which
        # would silently weaken the exact-value claim for float-array
        # queries). Recurse so every element gets the exact repr.
        if isinstance(v, (list, tuple, np.ndarray)):
            return "[" + ", ".join(cell(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ", ".join(
                f"{k!r}: {cell(x)}" for k, x in sorted(v.items())) + "}"
        return str(v)

    out = df.map(cell)
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def compare(spark_df, duck_df: pd.DataFrame, name: str = "") -> list[str]:
    """Return a list of mismatch descriptions (empty == pass)."""
    problems: list[str] = []
    sp = spark_df.toPandas()
    if sorted(sp.columns) != sorted(duck_df.columns):
        problems.append(
            f"{name}: column names differ: spark={sorted(sp.columns)} "
            f"duck={sorted(duck_df.columns)}")
        return problems
    if len(sp) != len(duck_df):
        problems.append(f"{name}: row count {len(sp)} vs {len(duck_df)}")
    a, b = _canon(sp), _canon(duck_df)
    if len(sp) == len(duck_df) and not a.equals(b):
        diff_mask = (a != b).any(axis=1)
        idx = diff_mask[diff_mask].index[:3]
        for i in idx:
            problems.append(f"{name}: first diffs at row {i}:\n"
                            f"  spark={a.loc[i].to_dict()}\n"
                            f"  duck ={b.loc[i].to_dict()}")
    return problems
