"""Headline benchmark: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
headline JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"sf": ..., "n_queries": N} plus one SHORT JSON line PER QUERY
({"q": name, "sec": best}) so a bounded stdout tail can never truncate
the per-query record into unparseable JSON (round 2 lost 16/90 entries
to a single long line).

Timing protocol: one warm-up pass of the flagship query (JVM/codegen
warm-up), then each query timed N_REPEATS times end-to-end including its
action (count of the result — forces full execution without driver-side
collect of wide rows); the MIN over repeats is reported. Min-of-n is the
standard way to strip one-off noise (GC pauses, page-cache misses,
run-order effects) from a shared-JVM bench; round 2's driver bench showed
a median 1.3x uniform drift vs round 1 with zero plan changes, which
single-shot timing cannot distinguish from a real regression.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cours_datalake_dwh_td_kafka_spark import registry
from cours_datalake_dwh_td_kafka_spark.session import get_spark

N_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def _sf_value(sf: str) -> float | str:
    """The scale factor as a number when the directory suffix parses as
    one (``sf0.1`` -> 0.1), else the suffix itself (``sf0.1.2``)."""
    try:
        return float(sf)
    except ValueError:
        return sf


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    only = set(sys.argv[1:])  # optional: bench a subset by name
    # The session factory's 2-minute forced periodic GC exists for
    # long-lived TEST sessions (bounds checkpoint/broadcast block
    # accumulation); in a ~1-minute bench it fires mid-run and stalls all
    # local cores, taxing whichever queries it lands on. Benchmarks get a
    # long interval instead — correctness-neutral, removes a noise source.
    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.cleaner.periodicGC.interval": "30min"},
    )
    # The driver keeps only a bounded stdout TAIL; Spark WARN chatter
    # (OnlineLDAOptimizer, BlockManager...) evicted most per-query JSON
    # lines from BENCH_r14's tail, leaving the round-over-round comparator
    # with 20 of 277 queries (VERDICT r14 #1). Silence everything below
    # ERROR so the tail holds data; logging level changes nothing timed.
    spark.sparkContext.setLogLevel("ERROR")

    qs = registry.queries()
    if only:
        unknown = only - set(qs)
        if unknown:
            sys.exit(f"unknown queries: {sorted(unknown)}")
        qs = {n: f for n, f in qs.items() if n in only}

    # Warm-up: JVM, codegen, parquet footer caches — touch every table
    # scan once, then the flagship query (so no timed query pays the
    # one-time session costs just because it sorts first).
    from cours_datalake_dwh_td_kafka_spark.io import LAKE_TABLES, load_table

    for t in LAKE_TABLES:
        load_table(spark, sf_dir, t).count()
    qs.get("sessionization", next(iter(qs.values())))(spark, sf_dir).count()
    # spin up the Python worker pool + Arrow serialization path once, so
    # whichever pandas-UDF query happens to sort first doesn't pay it
    spark.range(10).mapInPandas(lambda it: it, "id LONG").count()

    timings: dict[str, float] = {}
    for name in sorted(qs):
        best = float("inf")
        for _ in range(max(1, N_REPEATS)):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
        timings[name] = best
        # one short line per query — survives any bounded tail cut
        print(json.dumps({"q": name, "sec": round(best, 3)}), flush=True)

    # two lanes (VERDICT r11 #4): protocol rows measure attestation
    # cost by design; the operator lane is the regression-tracking
    # headline. The driver-facing total is unchanged. Each of the three
    # numbers rounds ONCE from its own raw sum (ADVICE r12) — so every
    # reported figure is accurate to +/-0.0005 of its true value, and
    # the lanes reconcile with the total to within 0.001 of rounding
    # slack (exact additivity and per-number accuracy cannot both hold
    # after rounding; accuracy wins).
    total = round(sum(timings.values()), 3)
    proto_raw = sum(
        s for n, s in timings.items() if n in registry.PROTOCOL_QUERIES
    )
    oper_raw = sum(
        s for n, s in timings.items() if n not in registry.PROTOCOL_QUERIES
    )
    proto = round(proto_raw, 3)
    headline = json.dumps(
        {
            "metric": "total_query_wall_sec",
            "value": total,
            "unit": "sec",
            "sf": _sf_value(sf),
            "n_queries": len(timings),
            "repeats": max(1, N_REPEATS),
            "operator_sec": round(oper_raw, 3),
            "protocol_sec": proto,
            "n_protocol": sum(
                1 for n in timings if n in registry.PROTOCOL_QUERIES
            ),
        }
    )
    print(headline, flush=True)
    # Full per-query record as a FILE artifact (VERDICT r14 #1): stdout
    # tails are bounded, files are not. Additions-only — the stdout
    # contract (per-query lines + headline JSON) is unchanged.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_QUERIES_JSON",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_QUERIES.json"),
    )
    try:
        with open(out_path, "w") as fh:
            json.dump(
                {
                    "sf": _sf_value(sf),
                    "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                    "repeats": max(1, N_REPEATS),
                    "total_sec": total,
                    "queries": {n: round(s, 3) for n, s in sorted(timings.items())},
                },
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")
    except OSError:
        pass  # a read-only checkout must not fail the bench
    spark.stop()


if __name__ == "__main__":
    main()
