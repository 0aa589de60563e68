"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds its inputs from ``--seed`` under
``.perfbench_work/`` (removed on exit), measures one workload in one warm
``local[4]`` Spark process for about ``--seconds`` seconds, checks the
outputs and prints one JSON line as the last line of stdout::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (a layer the workload never reaches reports 0). See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cours_datalake_dwh_td_kafka_spark"

WORKLOADS = ("batch_queries", "stream_drain")

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "rows_per_s": "1/s",
}


def _per_layer() -> dict[str, str]:
    """Every per-layer metric with its unit, over both workloads."""
    from batch_queries import QUERIES
    from stream_drain import LAKE_OPS

    layers = {"operators.build_s": "s", "spark.action_s": "s", "spark.jobs": "count"}
    for q in QUERIES:
        layers.update({f"q.{q}.build_s": "s", f"q.{q}.action_s": "s", f"q.{q}.jobs": "count"})
    for name in ("stream.start_s", "ingest.add_batch_s", "serve.add_batch_s",
                 "ingest.batch_p50_s", "serve.batch_p50_s", "stream.batch_tail_s",
                 "stream.offsets_s", "stream.planning_s", "stream.log_s"):
        layers[name] = "s"
    layers["lake.versions"] = "count"
    for op, _ in LAKE_OPS:
        layers.update({f"lake.{op}_s": "s", f"lake.{op}.jobs": "count"})
    layers.update({"lake.read_s": "s", "lake.write_s": "s", "lake.jobs": "count",
                   "lake.files_after_compact": "count",
                   "trace.overhead_s": "s", "trace.unsteady_counts": "count"})
    return layers


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: nothing to measure",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every scratch file of Python, the JVM and Spark stays in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    tempfile.tempdir = None

    import common

    workload = importlib.import_module(args.workload)
    ctx = common.Context(
        seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        work_dir=work, t_start=T_START,
    )
    try:
        spark = common.start_session()
        ctx.t_session_up = time.perf_counter()
        try:
            result = workload.run(ctx, spark)
        finally:
            common.stop_session(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there

    if args.trace:
        units = _per_layer()
        values = {name: result.per_layer.get(name, 0.0) for name in units}
        unknown = set(result.per_layer) - set(units)
        if unknown:
            raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    else:
        units = END_TO_END
        values = {name: result.end_to_end[name] for name in units}
    for name, ok in result.checks:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}", file=sys.stderr)
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {n: {"value": float(values[n]), "unit": units[n]} for n in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
