"""Lake IO: table loading, temp-view registration, partitioned writers.

Covers SURVEY.md section 2.1 S1-S9/S18-S20: CSV/JSON/Parquet scans (raw,
header, inferSchema, explicit schema, glob/path-list), sinks with
``partitionBy`` replacing the reference's hand-built
``/{country}/{city}/...`` path formatting
(reference: work/weather_to_hdfs.py:20, work/batch_profiling_enriched.py:30-32),
and the pandas bridges (reference: work/Projet/preparation_noaa.ipynb:124,
work/TD_pySpark.ipynb:486).
"""

from __future__ import annotations

import os
import stat

import pyarrow.parquet as _pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: Tables the driver materializes per scale factor (TESTDATA.md).
LAKE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: SQL confs that change the Spark schema inferred from a parquet path:
#: the first four change how parquet types map to Spark types, and
#: mergeSchema changes which footers a directory's inference reads.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
_PROBES_MAX = 256
#: (path fingerprint, conf values) -> (nanos columns, inferred schema, or
#: None for a partitioned layout). A full cache starts over; every
#: operation on it is a single dict call, so driver threads may share it.
_probes: dict[tuple, tuple[tuple[str, ...], StructType | None]] = {}


def _schema_confs(spark: SparkSession) -> tuple[str, ...]:
    return tuple(spark.conf.get(k) for k in _PARQUET_SCHEMA_CONFS)


def _fingerprint(path: str) -> tuple | None:
    """``(ino, mtime_ns, size)`` of ``path`` and, for a directory, of
    each visible entry in it (a part file rewritten in place leaves the
    directory's own stat unchanged). None when the path cannot be
    stat'ed (missing, or a remote URI)."""
    try:
        st = os.stat(path)
        entries = []
        if stat.S_ISDIR(st.st_mode):
            with os.scandir(path) as it:
                for e in it:
                    if not e.name.startswith(("_", ".")):
                        es = e.stat()
                        entries.append(
                            (e.name, es.st_ino, es.st_mtime_ns, es.st_size)
                        )
    except OSError:
        return None
    return (
        path, st.st_ino, st.st_mtime_ns, st.st_size, tuple(sorted(entries))
    )


def _footer_probe(path: str) -> tuple[tuple[str, ...], bool]:
    """(columns stored as parquet TIMESTAMP(NANOS), whether the layout
    is partitioned into ``key=value`` directories) — one footer read.

    Spark's vectorized reader rejects nanosecond timestamps outright
    (PARQUET_TYPE_ILLEGAL); the lake's ``events.ts`` is nanos. We read such
    columns as raw int64 nanos (``spark.sql.legacy.parquet.nanosAsLong``)
    and truncate to microseconds with integer division — the same
    truncation DuckDB applies, so oracle comparisons agree to the micro.
    """
    # directory-style parquet (anything Spark itself wrote): probe one
    # part file — all parts of a table share the footer schema. A
    # partitionBy layout nests part files under key=value dirs, so
    # descend (bounded) until one is found.
    partitioned = False
    for _ in range(8):  # partition-depth bound
        if not os.path.isdir(path):
            break
        entries = sorted(
            e for e in os.listdir(path) if not e.startswith(("_", "."))
        )
        parts = [e for e in entries if e.endswith(".parquet")]
        if parts:
            path = os.path.join(path, parts[0])
            break
        subdirs = [
            e for e in entries if os.path.isdir(os.path.join(path, e))
        ]
        if not subdirs:
            return (), partitioned  # empty dataset: nothing to probe
        path = os.path.join(path, subdirs[0])
        partitioned = True
    else:
        return (), partitioned
    # the PARQUET schema, not the Arrow one: Arrow reports legacy INT96
    # timestamps (Spark's own historical default) as timestamp[ns] too,
    # but Spark reads INT96 natively — only true INT64 TIMESTAMP(NANOS)
    # needs the nanosAsLong escape hatch
    schema = _pq.ParquetFile(path).schema
    return tuple(
        c.name
        for c in (schema.column(i) for i in range(len(schema)))
        if c.physical_type == "INT64"
        and c.logical_type is not None
        and c.logical_type.type == "TIMESTAMP"
        and "nanoseconds" in str(c.logical_type)
    ), partitioned


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one lake table. Parquet keeps predicate pushdown,
    column pruning and partition pruning on the table scan (verify with
    ``df.explain``: PushedFilters / ReadSchema).

    A read whose schema is known never runs an inference job. The first
    load of a local path runs Spark's inference (one job) and caches the
    schema it found; later loads pass it to ``spark.read.schema`` and
    submit no job. The schema counts as known while the cache key holds:
    the path's ``(st_ino, st_mtime_ns, st_size)`` (and each part file's,
    for a directory) plus the values of ``_PARQUET_SCHEMA_CONFS``. A
    table rewritten at the same path, or a conf flip, is inferred
    again. Paths that cannot be stat'ed and partitioned ``key=value``
    layouts (whose partition column types come from directory names)
    always infer.

    Note: loading a table with nanosecond timestamp columns flips
    ``spark.sql.legacy.parquet.nanosAsLong`` for the whole session — a
    global conf mutation. It only changes how OTHER scans read
    TIMESTAMP(NANOS) parquet (a type Spark would otherwise refuse to scan
    at all), so coexisting micro/milli reads are unaffected."""
    path = f"{sf_dir}/{name}.parquet"
    fp = _fingerprint(path)
    cached = _probes.get((fp, _schema_confs(spark))) if fp else None
    if cached:
        ns_cols, schema = cached
    else:
        ns_cols, partitioned = _footer_probe(path)
        schema = None
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    if fp and not cached:
        if len(_probes) >= _PROBES_MAX:
            _probes.clear()
        # keyed on the confs the inference ran under (the nanos flip above
        # included), so the next load of a nanos table hits
        _probes[(fp, _schema_confs(spark))] = (
            ns_cols,
            None if partitioned else df.schema,
        )
    for c in ns_cols:
        # int64 nanos -> micros via integer `div` (truncation, not a
        # double round-trip: 1.7e18 exceeds double's 53-bit
        # exact-integer range)
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
        )
    # Parquet written without isAdjustedToUTC reads back as TIMESTAMP_NTZ.
    # Normalize to session-TZ TIMESTAMP (sessions pin UTC) so the public
    # schema is stable whether the lake stores nanos, micros-UTC, or
    # micros-naive — downstream window/lag/oracle comparisons see one type.
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def parquet_row_count(path: str) -> int:
    """Exact row count from parquet footer metadata — no Spark job, no
    data scan, O(files). The cheap way for an operator to size a
    data-dependent parameter (e.g. semantic-dedup cell bits) at
    plan-BUILD time without running an eager count() job."""
    if os.path.isdir(path):
        total = 0
        for root, _, files in os.walk(path):
            total += sum(
                _pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
        return total
    return _pq.ParquetFile(path).metadata.num_rows


def load_lake(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every lake table and register each as a temp view so the SQL
    surface stays in lockstep with the DataFrame surface
    (reference: work/Projet_Spark_Analyse_Climatique.ipynb:199-200)."""
    out: dict[str, DataFrame] = {}
    for name in LAKE_TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# --------------------------------------------------------------------------
# Readers (S1-S6). Thin, typed wrappers: the policy (explicit schemas on
# large scans, no inference passes over big files) lives here.
# --------------------------------------------------------------------------

def read_csv(
    spark: SparkSession,
    paths: str | list[str],
    schema: StructType | None = None,
    header: bool = True,
    infer_schema: bool = False,
    sep: str = ",",
) -> DataFrame:
    """CSV scan: raw (header=False, all-string), header, inferSchema, or
    explicit-schema multi-path (reference: work/Intro_pySpark.ipynb:71,117,163;
    work/Projet/preparation_noaa.ipynb:344-350). Engine policy: pass
    ``schema`` for anything large — inference is a second full scan."""
    reader = spark.read.options(header=header, sep=sep)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", True)
    return reader.csv(paths)


def read_json(
    spark: SparkSession, paths: str | list[str], schema: StructType | None = None
) -> DataFrame:
    """JSON-lines scan incl. partition-dir globs
    (reference: work/batch_profiling_enriched.py:8, work/anomaly_detector.py:11)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(paths)


def read_parquet(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Parquet scan (reference: work/Intro_pySpark.ipynb:384)."""
    if isinstance(paths, str):
        return spark.read.parquet(paths)
    return spark.read.parquet(*paths)


# --------------------------------------------------------------------------
# Writers (S7-S9). partitionBy replaces hand-built partition paths: at
# 100 TB the partition layout is what makes partition pruning work, and a
# driver-side loop formatting paths (reference: work/batch_profiling_enriched.py:30-32)
# serializes the write. Hive-style partitioning parallelizes it and lets
# readers prune.
# --------------------------------------------------------------------------

def write_csv(
    df: DataFrame, path: str, header: bool = True, single_file: bool = False
) -> None:
    """CSV sink; ``single_file`` keeps the reference's ``coalesce(1)`` export
    convenience (reference: work/TD_pySpark.ipynb:633) — small exports only."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", header).csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Raw-layer columnar persistence (reference: work/Projet/preparation_noaa.ipynb:359)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_json(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Partitioned JSON sink replacing string-formatted
    ``/{country}/{city}/{year}`` paths (reference: work/batch_profiling_enriched.py:30-32)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | list[str],
    n_buckets: int = 32,
    sort_cols: str | list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed (hash-clustered) table write: rows are hash-partitioned
    into ``n_buckets`` files per partition ON WRITE, and the bucketing
    metadata is recorded in the catalog — so a later join or aggregate
    keyed on ``bucket_cols`` reads co-located data and SKIPS ITS SHUFFLE
    entirely (the Exchange disappears from the plan; pinned in
    tests/test_io.py). ``sort_cols`` additionally sorts within each
    bucket file, letting sort-merge joins skip their sort.

    This is the 100 TB lever for fact-fact joins the broadcast path
    can't serve (both sides huge): pay the shuffle ONCE at ingest, then
    every downstream join/agg on the same key is exchange-free. Size
    ``n_buckets`` so one bucket of the biggest table fits an executor
    core's working set (~128-512 MB of parquet per bucket).

    ``path`` makes it an external table (tests use tmp dirs); bucketing
    requires ``saveAsTable`` — a bare ``.parquet(path)`` write silently
    drops the bucket metadata.

    This is the ONE definition of the bucketed-write lever (round 4
    unified the former operators.scale twin into it — two sources of
    truth for the same lake contract drift).
    """
    if isinstance(bucket_cols, str):
        bucket_cols = [bucket_cols]
    if isinstance(sort_cols, str):
        sort_cols = [sort_cols]
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)
