"""Workload ``stream_drain``: the speed layer draining a backlog into the
versioned lake, then the lake's change cycle on what it landed.

A round, on fresh directories, runs three phases in turn:

1. ingest: ``enrich_alerts`` -> ``commit_stream_to_lake`` drains the
   seeded backlog of weather JSON files into a raw lake, at most
   ``FILES_PER_TRIGGER`` files per micro-batch;
2. serve: ``anomaly_stream`` against the profile built at set-up ->
   ``commit_stream_to_lake`` drains the same backlog into an anomalies
   lake;
3. lake cycle on the raw lake, keyed by the reading's ``timestamp``:
   ``lake_read_keys``, ``lake_merge_upsert`` (corrections and late
   readings), ``lake_delete_keys``, a ``lake_read`` scan with an
   aggregate, ``lake_consume_changes`` (one folded CDC commit),
   ``lake_compact`` of the micro-batch files, and the scan again.

Every round sees identical batches. Warm-up rule: ``WARMUP_ROUNDS`` rounds
at once on as many driver threads, discarded; the first one's outputs are
checked. Measured rounds run on the main thread.
"""

from __future__ import annotations

import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

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

N_FILES = 8
ROWS_PER_FILE = 500
FILES_PER_TRIGGER = 2
HISTORY_ROWS = 20_000
N_CHANGES = 400
N_PROBES = 100
SETUP_REPS = 3
WARMUP_ROUNDS = 2
MIN_ROUNDS = 4
#: lake-cycle operations, in round order; the last word says read or write
LAKE_OPS = (
    ("read_keys", "read"),
    ("merge_upsert", "write"),
    ("delete_keys", "write"),
    ("scan", "read"),
    ("consume_changes", "write"),
    ("compact", "write"),
    ("scan_compacted", "read"),
)


def _profile(spark, history_path: str):
    """The batch layer's monthly profile of the weather history, keyed
    (city, country, month) for the serving join; pinned in memory."""
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.operators.profiling import monthly_profile

    hist = spark.read.parquet(history_path)
    as_events = hist.select(
        F.col("city").alias("event_type"),
        F.col("timestamp").alias("ts"),
        F.col("temperature").alias("value"),
    )
    countries = spark.createDataFrame(datagen.CITIES, "city STRING, country STRING")
    prof = (
        monthly_profile(as_events)
        .withColumnRenamed("event_type", "city")
        .join(countries, "city")
        .select("city", "country", "month", "value_mean", "value_std")
    )
    return prof.localCheckpoint()


def _progress(query) -> list[dict]:
    """durationMs of every micro-batch that read rows."""
    return [p["durationMs"] for p in query.recentProgress if p["numInputRows"] > 0]


def run(ctx: Context, spark) -> Result:
    from pyspark.sql import functions as F

    from cours_datalake_dwh_td_kafka_spark.lake import (
        lake_compact,
        lake_consume_changes,
        lake_delete_keys,
        lake_history,
        lake_merge_upsert,
        lake_read,
        lake_read_keys,
    )
    from cours_datalake_dwh_td_kafka_spark.streaming.pipelines import (
        WEATHER_SCHEMA,
        anomaly_stream,
        commit_stream_to_lake,
        enrich_alerts,
    )

    n_rows = N_FILES * ROWS_PER_FILE
    input_times = []
    for i in range(SETUP_REPS):
        def prepare(d=os.path.join(ctx.work_dir, f"inputs{i}")):
            backlog = datagen.write_weather_backlog(
                d, ctx.seed, N_FILES, ROWS_PER_FILE, HISTORY_ROWS)
            prof = _profile(spark, os.path.join(d, "history.parquet"))
            return backlog, prof, prof.count()
        (backlog, profile, n_profile), dt = timed(prepare)
        input_times.append(dt)
    setup_s = setup_seconds(ctx, input_times)

    upserts_pdf, deleted = datagen.weather_changes(ctx.seed, n_rows, N_CHANGES)
    upserts = spark.createDataFrame(upserts_pdf, WEATHER_SCHEMA)
    delete_keys = spark.createDataFrame(
        pd.DataFrame({"timestamp": deleted}), "timestamp DOUBLE")
    probes = [float(t) for t in upserts_pdf["timestamp"][: N_PROBES // 2]]
    probes += [float(t) for t in deleted[: N_PROBES // 2]]

    def source():
        return (spark.readStream.schema(WEATHER_SCHEMA)
                .option("maxFilesPerTrigger", FILES_PER_TRIGGER).json(backlog))

    def drain(df, lake: str, ckpt: str):
        """Start the lake sink, wait for the backlog to drain; returns
        (start_s, drain_s, per-batch durationMs)."""
        t0 = time.perf_counter()
        query = commit_stream_to_lake(df, lake, ckpt).start()
        t1 = time.perf_counter()
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))
        return t1 - t0, time.perf_counter() - t0, _progress(query)

    def by_type(df):
        return df.groupBy("city").agg(
            F.count(F.lit(1)).alias("n"), F.sum("temperature").alias("t")).collect()

    tally = Tally()

    def one_round(name: str, traced: bool) -> dict:
        d = os.path.join(ctx.work_dir, name)
        raw, anom, cdc = (os.path.join(d, x) for x in ("raw", "anomalies", "cdc"))
        jobs = Jobs(spark) if traced else None
        t0 = time.perf_counter()
        ingest = tally.op(lambda: drain(
            enrich_alerts(source()), raw, os.path.join(d, "ck_raw")))
        serve = tally.op(lambda: drain(
            anomaly_stream(enrich_alerts(source()), profile),
            anom, os.path.join(d, "ck_anomalies")))
        t_drained = time.perf_counter()
        calls = {
            "read_keys": lambda: lake_read_keys(spark, raw, "timestamp", probes).collect(),
            "merge_upsert": lambda: lake_merge_upsert(spark, raw, upserts, "timestamp"),
            "delete_keys": lambda: lake_delete_keys(spark, raw, "timestamp", keys=delete_keys),
            "scan": lambda: by_type(lake_read(spark, raw)),
            "consume_changes": lambda: lake_consume_changes(
                spark, raw, cdc, stream_id="perfbench-cdc", fold=True),
            "compact": lambda: lake_compact(spark, raw),
            "scan_compacted": lambda: by_type(lake_read(spark, raw)),
        }
        ops = {}
        for name, _ in LAKE_OPS:
            if jobs is None:
                ops[name] = (tally.op(lambda: timed(calls[name])), 0)
            else:
                ops[name] = jobs.run(lambda: tally.op(lambda: timed(calls[name])))
        t_end = time.perf_counter()
        print(f"  drain {t_drained - t0:.3f}s, lake cycle {t_end - t_drained:.3f}s",
              file=sys.stderr)
        return {
            "traced": traced, "round_s": t_end - t0, "drain_s": t_drained - t0,
            "ingest": ingest, "serve": serve, "ops": ops, "raw": raw, "anom": anom,
            "history": {x: [h["op"] for h in lake_history(p)]
                        for x, p in (("raw", raw), ("anomalies", anom), ("cdc", cdc))},
        }

    # Warm-up, discarded: WARMUP_ROUNDS rounds at once on as many driver
    # threads. After one sequential warm-up round the next three still
    # sped up by ~15%. The first round's outputs are checked. The first
    # measured round still runs ~10% slow; the median of MIN_ROUNDS
    # leaves it out.
    t_warm = time.perf_counter()
    with ThreadPoolExecutor(WARMUP_ROUNDS) as pool:
        warm = list(pool.map(lambda i: one_round(f"warm{i}", False), range(WARMUP_ROUNDS)))
    first = warm[0]
    print(f"warm-up: {time.perf_counter() - t_warm:.3f}s", file=sys.stderr)
    raw_rows = spark.read.schema(WEATHER_SCHEMA).json(backlog)
    n_batches = -(-N_FILES // FILES_PER_TRIGGER)
    print(f"lake history of a round: {first['history']}", file=sys.stderr)
    tally.check("raw lake: one append per micro-batch, then merge, delete, compact",
                first["history"]["raw"][n_batches:] == ["merge", "delete_keys", "compact"]
                and first["history"]["raw"][:n_batches] == ["append"] * n_batches)
    expected_anomalies = anomaly_stream(enrich_alerts(raw_rows), profile)
    got = tally.op(lambda: sorted(map(tuple, lake_read(spark, first["anom"]).collect())))
    want = sorted(map(tuple, expected_anomalies.collect()))
    tally.check("anomalies lake equals anomaly_stream over the static backlog",
                got == want and len(want) > 0)
    final = tally.op(lambda: [r[0] for r in lake_read(spark, first["raw"])
                              .select("timestamp").collect()])
    keys = set(datagen.BACKLOG_T0 + datagen.TICK_S * pd.RangeIndex(n_rows))
    keys = (keys | set(upserts_pdf["timestamp"])) - set(deleted)
    tally.check("raw lake after the cycle holds exactly the expected readings",
                final is not None and len(final) == len(keys) and set(final) == keys)
    tally.check("backlog row count as generated", raw_rows.count() == n_rows)

    rounds = measure_rounds(ctx, MIN_ROUNDS, lambda i, traced: one_round(f"round{i}", traced))
    tally.check("every round committed the same lake versions",
                all(r["history"] == first["history"] for r in warm + rounds))

    plain = [r for r in rounds if not r["traced"]]
    round_times = [r["round_s"] for r in plain]
    drain_times = [r["drain_s"] for r in plain]
    report_spread("stream_drain.round_s", round_times)
    report_spread("stream_drain.drain_s", drain_times)
    end_to_end = {
        "setup_s": setup_s,
        "round_s": median(round_times),
        "rows_per_s": 2 * n_rows / median(drain_times),
    }
    per_layer: dict[str, float] = {}
    if ctx.trace:
        per_layer.update(_layer_metrics(rounds, [r for r in rounds if r["traced"]]))
        per_layer["trace.overhead_s"] = (
            median([r["round_s"] for r in rounds if r["traced"]]) - median(round_times))
    return Result(end_to_end, per_layer, tally.attempted, tally.failed, tally.checks)


def _layer_metrics(rounds: list[dict], traced: list[dict]) -> dict[str, float]:
    """Per-layer medians, each a per-round sum over both pipelines unless
    named per pipeline; times in seconds. Stream figures come from every
    measured round (tracing only wraps the lake cycle), lake figures from
    the traced rounds."""
    from cours_datalake_dwh_td_kafka_spark.lake import lake_history

    def ms(r, *keys):
        return sum(p.get(k, 0) for x in (r["ingest"], r["serve"]) if x
                   for p in x[2] for k in keys) / 1000.0

    def batches(pipeline):
        return [p["triggerExecution"] / 1000.0
                for r in rounds if r[pipeline] for p in r[pipeline][2]]

    out: dict[str, float] = {
        "stream.start_s": median([r["ingest"][0] + r["serve"][0] for r in rounds
                                  if r["ingest"] and r["serve"]]),
        "ingest.batch_p50_s": median(batches("ingest")),
        "serve.batch_p50_s": median(batches("serve")),
        "stream.offsets_s": median([ms(r, "latestOffset", "getBatch") for r in rounds]),
        "stream.planning_s": median([ms(r, "queryPlanning") for r in rounds]),
        "stream.log_s": median([ms(r, "walCommit", "commitOffsets") for r in rounds]),
        "lake.versions": median([sum(map(len, r["history"].values())) for r in rounds]),
    }
    for pipeline in ("ingest", "serve"):
        out[f"{pipeline}.add_batch_s"] = median([
            sum(p.get("addBatch", 0) for p in r[pipeline][2]) / 1000.0
            for r in rounds if r[pipeline]])
    pooled = sorted(batches("ingest") + batches("serve"))
    if len(pooled) > 10:
        # the highest percentile with ten samples beyond it
        k = len(pooled) - 11
        out["stream.batch_tail_s"] = pooled[k]
        print(f"stream.batch_tail_s is p{100 * (k + 1) / len(pooled):.1f} "
              f"of {len(pooled)} micro-batches", file=sys.stderr)

    unsteady = []
    for name, _ in LAKE_OPS:
        runs = [r["ops"][name] for r in traced if r["ops"][name][0] is not None]
        out[f"lake.{name}_s"] = median([x[0][1] for x in runs])
        out[f"lake.{name}.jobs"] = median([x[1] for x in runs])
        if len({x[1] for x in runs}) > 1:
            unsteady.append(f"lake.{name}.jobs {sorted(x[1] for x in runs)}")
    for kind in ("read", "write"):
        out[f"lake.{kind}_s"] = median([
            sum(r["ops"][n][0][1] for n, k in LAKE_OPS if k == kind and r["ops"][n][0])
            for r in traced])
    out["lake.jobs"] = median([sum(x[1] for x in r["ops"].values()) for r in traced])
    out["lake.files_after_compact"] = lake_history(traced[-1]["raw"])[-1]["n_files"]
    out["trace.unsteady_counts"] = len(unsteady)
    for u in unsteady:
        print(f"job count did not repeat: {u}", file=sys.stderr)
    return out
