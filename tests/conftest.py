"""Shared test fixtures: one SparkSession per test run, a DuckDB connection
with the lake tables registered as views (mirroring the driver's oracle
runner), and an order-insensitive comparison helper."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pytest
from hypothesis import settings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cours_datalake_dwh_td_kafka_spark.io import LAKE_TABLES
from cours_datalake_dwh_td_kafka_spark.plans.inspect import count_jobs
from cours_datalake_dwh_td_kafka_spark.session import get_spark

# Property tests draw the same inputs on every run (seeded from each
# test's source), so a failure means the code changed, never that a new
# draw found an old fault; derandomize also keeps no example database.
# Each test's own max_examples still applies.
settings.register_profile("deterministic", derandomize=True)
settings.load_profile("deterministic")

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for sf_dir in (SF_SMOKE, SF_ORACLE):
        pass
    yield con
    con.close()


def register_duck_views(con: duckdb.DuckDBPyConnection, sf_dir: str) -> None:
    for t in LAKE_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows — the same
    shape of check the driver does (order-insensitive value hash)."""
    df = df.reindex(sorted(df.columns), axis=1)

    def canon(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            if v == int(v) and abs(v) < 1e15:
                return f"{v:.6f}"
            return f"{v:.6g}" if abs(v) > 1e12 else f"{v:.6f}"
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        try:
            import numpy as np

            if isinstance(v, np.ndarray):
                return "[" + ",".join(canon(x) for x in v.tolist()) + "]"
            if isinstance(v, (np.integer,)):
                return str(int(v))
            if isinstance(v, (np.floating,)):
                return canon(float(v))
        except ImportError:
            pass
        return str(v)

    out = df.apply(lambda col: col.map(canon))
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def assert_matches_oracle(spark_df, duck_df: pd.DataFrame, name: str = "") -> None:
    """Row-count + column-name + value-level equality, order-insensitive."""
    sp = _normalize(spark_df.toPandas())
    dk = _normalize(duck_df)
    assert list(sp.columns) == list(dk.columns), (
        f"{name}: column mismatch {list(sp.columns)} vs {list(dk.columns)}"
    )
    assert len(sp) == len(dk), f"{name}: row count {len(sp)} vs {len(dk)}"
    if not sp.equals(dk):
        diff_mask = (sp != dk).any(axis=1)
        raise AssertionError(
            f"{name}: value mismatch, first diffs:\n"
            f"spark:\n{sp[diff_mask].head(5)}\n"
            f"duck:\n{dk[diff_mask].head(5)}"
        )


def spark_jobs(spark, fn):
    """(``fn()``, number of Spark jobs it submitted): see
    ``plans.inspect.count_jobs``."""
    return count_jobs(spark, fn)
