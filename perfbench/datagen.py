"""Seeded input generation for the benchmark.

Everything the program under test reads is made here from the workload
seed, inside the benchmark's scratch directory, so the engine receives only
generated files:

- ``write_tables``: the star-schema tables plus ``events``, one parquet
  file each, with the column names, types and value ranges the registered
  queries expect (``io.LAKE_TABLES`` layout: ``<dir>/<table>.parquet``).
- ``write_weather_backlog``: a backlog of weather JSON files in the
  speed-layer payload shape (``streaming.pipelines.WEATHER_SCHEMA``), and
  the weather history the serving profile is built from.
- ``weather_changes``: the corrections, late readings and deletions the
  lake cycle applies to the drained backlog.

Same seed, same bytes: every draw comes from a ``numpy`` generator seeded
with it.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _dates(rng, start: str, n_days: int, size: int) -> pd.Series:
    base = np.datetime64(start, "us")
    return pd.Series(base + rng.integers(0, n_days, size) * np.timedelta64(1, "D"))


def _events(rng, n: int, n_users: int) -> pd.DataFrame:
    """``events`` rows: one month of time-sorted microsecond timestamps,
    exponential values (mean 50)."""
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.Series(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table the batch workload reads at scale ``sf`` (1.0 =
    6M lineitem rows). Returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    tables = {
        "region": pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{adjectives[a]} {nouns[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
                ),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
                "o_orderdate": _dates(rng, "1995-01-01", 2400, n_ord),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _dates(rng, "1995-01-02", 2500, n_line),
            }
        ),
        "events": _events(rng, n_ev, max(150, int(15_000 * sf))),
    }
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
    return {name: len(df) for name, df in tables.items()}


#: (city, country) pairs of the weather payload; each city is unique.
CITIES = [
    ("Paris", "France"), ("Lyon", "France"), ("Nice", "France"),
    ("Berlin", "Germany"), ("Munich", "Germany"), ("Madrid", "Spain"),
    ("Seville", "Spain"), ("Rome", "Italy"), ("Milan", "Italy"),
    ("Oslo", "Norway"), ("Lisbon", "Portugal"), ("Vienna", "Austria"),
]
#: Backlog epoch: 2024-03-01 00:00:00 UTC, so every reading falls in March.
BACKLOG_T0 = 1_709_251_200.0
#: Readings are TICK_S apart: ``timestamp`` is a unique, binary-exact key.
TICK_S = 0.25


def _weather(rng, timestamps: np.ndarray) -> pd.DataFrame:
    n = len(timestamps)
    idx = rng.integers(0, len(CITIES), n)
    base = 8.0 + 1.5 * idx  # each city has its own climate
    return pd.DataFrame(
        {
            "city": [CITIES[i][0] for i in idx],
            "country": [CITIES[i][1] for i in idx],
            "temperature": np.round(base + rng.normal(0.0, 6.0, n), 2),
            "windspeed": np.round(rng.gamma(2.0, 6.0, n), 2),
            "timestamp": timestamps,
        }
    )


def write_weather_backlog(
    out_dir: str, seed: int, n_files: int, rows_per_file: int, history_rows: int
) -> str:
    """Write ``n_files`` JSON-lines files of ``rows_per_file`` weather
    readings to ``<out_dir>/backlog`` (reading ``k`` is stamped
    ``BACKLOG_T0 + k * TICK_S``) and the March weather history the serving
    profile is computed from to ``<out_dir>/history.parquet``. Returns
    the backlog directory."""
    rng = np.random.default_rng(seed)
    backlog = os.path.join(out_dir, "backlog")
    os.makedirs(backlog, exist_ok=True)
    for i in range(n_files):
        k = np.arange(i * rows_per_file, (i + 1) * rows_per_file)
        df = _weather(rng, BACKLOG_T0 + k * TICK_S)
        with open(os.path.join(backlog, f"part-{i:05d}.json"), "w") as fh:
            for rec in df.to_dict("records"):
                fh.write(json.dumps(rec) + "\n")
    hist = _weather(rng, BACKLOG_T0 + rng.uniform(0.0, 30 * 86_400.0, history_rows))
    hist["timestamp"] = pd.to_datetime(hist["timestamp"], unit="s").astype("datetime64[us]")
    _write(hist, os.path.join(out_dir, "history.parquet"))
    return backlog


def weather_changes(
    seed: int, n_rows: int, n_changes: int
) -> tuple[pd.DataFrame, np.ndarray]:
    """Changes to a drained backlog of ``n_rows`` readings: ``n_changes``
    upserts keyed by ``timestamp`` (half correct existing readings, half
    are late readings with new stamps) and ``n_changes`` stamps of
    existing readings to delete, disjoint from the corrected ones."""
    rng = np.random.default_rng(seed + 1)
    picked = rng.choice(n_rows, size=n_changes + n_changes // 2, replace=False)
    fixed, dropped = picked[: n_changes // 2], picked[n_changes // 2 :]
    late = np.arange(n_rows, n_rows + n_changes - len(fixed))
    upserts = _weather(rng, BACKLOG_T0 + np.concatenate([fixed, late]) * TICK_S)
    return upserts, np.sort(BACKLOG_T0 + dropped * TICK_S)
