"""Workload ``batch_queries``: the batch layer's registered queries, in a
closed loop with one client.

Each step builds one query through its registry callable (the driver-side
plan build, including any eager pins and collects inside the operator) and
runs it to Spark's ``noop`` sink. A round is one pass over ``QUERIES``.

Warm-up rule: the output check (each query collected and compared with its
DuckDB oracle) and ``WARMUP_ROUNDS`` rounds of every query, on
``WARMUP_THREADS`` driver threads, then one pass on the main thread; all
are discarded. Measured passes run one query at a time on the main
thread. Lake and streaming code are never reached.
"""

from __future__ import annotations

import math
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd

import datagen
from common import (
    Context,
    Jobs,
    Result,
    Tally,
    measure_rounds,
    median,
    report_spread,
    setup_seconds,
    timed,
)

#: Oracle-backed registered queries: the paper's batch layer (profile,
#: anomalies, records, data quality, sessions, the three window
#: aggregates) and DWH / TPC-H shapes. None runs a protocol row or a
#: driver thread pool. README.md says why the iterative queries are out.
QUERIES = (
    "monthly_profile",
    "anomaly_batch",
    "records",
    "dq_audit",
    "sessionization",
    "pandas_sessionization",
    "tumbling_window_agg",
    "sliding_window_agg",
    "session_window_agg",
    "scd2_dimension",
    "nation_market_share",
)
SCALE = 0.01  # lineitem 60k rows; the pass is bound by per-job overhead
SETUP_REPS = 3
WARMUP_THREADS = 4
WARMUP_ROUNDS = 1  # concurrent rounds after the check
MIN_PASSES = 3


def _canon(v):
    """Cell canonicalisation of the repository's oracle comparison
    (``tests/conftest.py``): floats to 6 decimals, NULL/NaN as one
    token, arrays element-wise."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return f"{v:.6g}" if abs(v) > 1e12 else f"{v:.6f}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _canon(v.tolist())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _normalize(df: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(canonical strings, raw values), both with sorted columns and
    rows in the order of the canonical strings."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.apply(lambda col: col.map(_canon))
    order = out.sort_values(by=list(out.columns)).index
    return out.loc[order].reset_index(drop=True), df.loc[order].reset_index(drop=True)


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 * max(1.0, abs(b))


def matches_oracle(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> bool:
    """Same columns, same row count, same values, order-insensitive.

    Cells compare as the repository's canonical 6-decimal strings; a
    float cell whose string differs still matches when the two doubles
    are within 1e-6 (relative above 1). Two engines summing in another
    order can land on either side of a 6th-decimal rounding boundary."""
    (sp, sp_raw), (dk, dk_raw) = _normalize(spark_pdf), _normalize(duck_pdf)
    if list(sp.columns) != list(dk.columns) or len(sp) != len(dk):
        return False
    diff = sp != dk
    return all(
        _close(float(sp_raw.at[i, c]), float(dk_raw.at[i, c]))
        if isinstance(sp_raw.at[i, c], (float, np.floating)) else False
        for c in diff.columns for i in diff.index[diff[c]]
    )


def run(ctx: Context, spark) -> Result:
    from cours_datalake_dwh_td_kafka_spark import registry

    input_times = []
    for i in range(SETUP_REPS):
        tables, dt = timed(lambda: datagen.write_tables(
            os.path.join(ctx.work_dir, f"tables{i}"), ctx.seed, SCALE))
        input_times.append(dt)
    data = os.path.join(ctx.work_dir, "tables0")
    setup_s = setup_seconds(ctx, input_times)

    queries, oracles = registry.queries(), registry.oracle_sql()
    tally = Tally()

    def step(name: str, jobs: Jobs | None):
        """(build_s, action_s, n_jobs) of one query."""
        if jobs is None:
            df, b = timed(lambda: queries[name](spark, data))
            _, a = timed(lambda: df.write.format("noop").mode("overwrite").save())
            return b, a, 0
        (df, b), nb = jobs.run(lambda: timed(lambda: queries[name](spark, data)))
        (_, a), na = jobs.run(lambda: timed(
            lambda: df.write.format("noop").mode("overwrite").save()))
        return b, a, nb + na

    def one_pass(traced: bool):
        jobs = Jobs(spark) if traced else None
        t0 = time.perf_counter()
        steps = {}
        for name in QUERIES:
            out = tally.op(lambda: step(name, jobs))
            if out is not None:
                steps[name] = out
        return time.perf_counter() - t0, traced, steps

    # Warm-up, discarded. Run sequentially, the JIT trend lasts about six
    # passes (~100 s) with pass times swinging up to +80%; on WARMUP_THREADS
    # driver threads the same work takes a third of the time.
    t_warm = time.perf_counter()
    with ThreadPoolExecutor(WARMUP_THREADS) as pool:
        # pass 0: every query collected, then compared with its oracle
        got = list(pool.map(
            lambda n: tally.op(lambda: queries[n](spark, data).toPandas()), QUERIES))
        con = duckdb.connect()
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        result_rows = 0
        for name, pdf in zip(QUERIES, got):
            want = con.execute(oracles[name]).df()
            tally.check(f"{name} matches its oracle",
                        pdf is not None and matches_oracle(pdf, want))
            result_rows += len(want)
        con.close()
        for _ in range(WARMUP_ROUNDS):
            list(pool.map(lambda n: tally.op(lambda: step(n, None)), QUERIES))
    # the first pass on one thread after the concurrent ones ran ~15%
    # slow in every run; it is discarded too
    one_pass(False)
    print(f"warm-up: {time.perf_counter() - t_warm:.3f}s", file=sys.stderr)

    # a traced run mixes untraced and traced passes, so the tracing
    # overhead is measured in the same warm process
    passes = measure_rounds(ctx, MIN_PASSES, lambda i, traced: one_pass(traced))
    plain = [p for p in passes if not p[1]]
    pass_times = [p[0] for p in plain]
    report_spread("batch_queries.pass_s", pass_times)
    round_s = median(pass_times)
    end_to_end = {
        "setup_s": setup_s,
        "round_s": round_s,
        "rows_per_s": result_rows / round_s if round_s else 0.0,
    }
    per_layer: dict[str, float] = {}
    if ctx.trace:
        traced = [p for p in passes if p[1]]
        per_layer["trace.overhead_s"] = median([p[0] for p in traced]) - round_s
        unsteady = []
        for n in QUERIES:
            runs = [p[2][n] for p in traced if n in p[2]]
            per_layer[f"q.{n}.build_s"] = median([r[0] for r in runs])
            per_layer[f"q.{n}.action_s"] = median([r[1] for r in runs])
            per_layer[f"q.{n}.jobs"] = median([r[2] for r in runs])
            if len({r[2] for r in runs}) > 1:
                unsteady.append(f"q.{n}.jobs {sorted(r[2] for r in runs)}")
        per_layer["operators.build_s"] = median(
            [sum(s[0] for s in p[2].values()) for p in traced])
        per_layer["spark.action_s"] = median(
            [sum(s[1] for s in p[2].values()) for p in traced])
        per_layer["spark.jobs"] = median(
            [sum(s[2] for s in p[2].values()) for p in traced])
        per_layer["trace.unsteady_counts"] = len(unsteady)
        for u in unsteady:
            print(f"job count did not repeat: {u}", file=sys.stderr)
    return Result(end_to_end, per_layer, tally.attempted, tally.failed, tally.checks)
