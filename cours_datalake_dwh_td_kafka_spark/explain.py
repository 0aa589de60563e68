"""EXPLAIN surface for the engine: run as a module to print any
registered query's physical-plan facts — the same facts the plan
regression gate pins (plans/inspect.py), exposed as developer tooling.

    python -m cours_datalake_dwh_td_kafka_spark.explain shipping_priority
    python -m cours_datalake_dwh_td_kafka_spark.explain bm25_search --full
    python -m cours_datalake_dwh_td_kafka_spark.explain --list

Defaults to the smallest lake (sf0.001) so an explain never costs a real
scan; ``--sf-dir`` points elsewhere. ``--full`` appends the formatted
plan (PushedFilters / ReadSchema per scan).
"""

from __future__ import annotations

import argparse
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="cours_datalake_dwh_td_kafka_spark.explain",
        description="Print plan facts for a registered query.",
    )
    ap.add_argument("query", nargs="?", help="registered query name")
    ap.add_argument("--list", action="store_true", help="list query names")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
    )
    ap.add_argument(
        "--full", action="store_true", help="also print the formatted plan"
    )
    args = ap.parse_args(argv)

    from cours_datalake_dwh_td_kafka_spark import registry

    qs = registry.queries()
    if args.list or not args.query:
        for name in qs:
            marker = "" if name in registry.oracle_sql() else "  (rows-only)"
            print(f"{name}{marker}")
        return 0
    if args.query not in qs:
        print(f"unknown query: {args.query}", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    from cours_datalake_dwh_td_kafka_spark.plans.inspect import (
        formatted_plan,
        plan_facts,
    )
    from cours_datalake_dwh_td_kafka_spark.session import get_spark

    # Reuse a live session untouched: a builder's getOrCreate() on an
    # existing session applies its confs to it, rewriting the caller's
    # settings for every later query in the process.
    spark = SparkSession.getActiveSession() or get_spark(
        app_name="explain", master="local[2]"
    )
    df = qs[args.query](spark, args.sf_dir)
    f = plan_facts(df)
    print(f"query: {args.query}")
    for k, v in vars(f).items():
        print(f"  {k}: {v}")
    if args.full:
        print(formatted_plan(df))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
