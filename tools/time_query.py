"""Time one or more queries in isolation with the noop sink (guide §1.4).

Usage:
    python tools/time_query.py [-n REPEATS] [--count] q1 q2 ...

Unlike bench.py (which uses .count() for driver-compat parity), the
default action here is the noop sink: it computes EVERY column of every
row, so column-pruning cannot make the timed region cheaper than the
real query. Pass --count to reproduce bench.py's exact timed action.
Prints one JSON line per query with min/median over repeats, plus each
repeat's seconds and the classes Spark compiled from generated code
during it (a warm repeat that still compiles is missing the codegen
cache).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cours_datalake_dwh_td_kafka_spark import registry
from cours_datalake_dwh_td_kafka_spark.plans.inspect import codegen_compiles
from cours_datalake_dwh_td_kafka_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    repeats = 3
    use_count = False
    names = []
    i = 0
    while i < len(args):
        if args[i] == "-n":
            repeats = int(args[i + 1])
            i += 2
        elif args[i] == "--count":
            use_count = True
            i += 1
        else:
            names.append(args[i])
            i += 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="time_query",
        extra_conf={"spark.cleaner.periodicGC.interval": "30min"},
    )
    qs = registry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    # same warm-up as bench.py
    from cours_datalake_dwh_td_kafka_spark.io import LAKE_TABLES, load_table

    for t in LAKE_TABLES:
        load_table(spark, sf_dir, t).count()
    spark.range(10).mapInPandas(lambda it: it, "id LONG").count()

    for name in names:
        spark.sparkContext.setJobDescription(name)
        times = []
        compiles = []
        for _ in range(repeats):
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            if use_count:
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
            compiles.append(codegen_compiles(spark) - c0)
        print(
            json.dumps(
                {
                    "q": name,
                    "min": round(min(times), 3),
                    "med": round(statistics.median(times), 3),
                    "n": repeats,
                    "secs": [round(t, 3) for t in times],
                    "compiles": compiles,
                    "action": "count" if use_count else "noop",
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
