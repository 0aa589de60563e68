"""IO surface tests — SURVEY.md §2.1 (S1-S9, S18-S20): reader modes (raw /
header / inferSchema / explicit schema / path list), sinks with Hive-style
partition layout (replacing the reference's hand-formatted
/{country}/{city}/ paths), pandas bridges, temp-view registration, and the
nanosecond-timestamp quirk of the driver's events table."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from cours_datalake_dwh_td_kafka_spark import io
from tests.conftest import spark_jobs

SF = "/root/testdata/sf0.001"

CSV_BODY = "id,city,temp\n1,Paris,12.5\n2,Lyon,9.0\n3,Nice,18.25\n"


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "in.csv"
    p.write_text(CSV_BODY)
    return str(p)


def test_csv_raw_scan_all_strings(spark, csv_file):
    """S1: headerless read -> _c0.. string columns (the header line becomes
    a data row)."""
    df = io.read_csv(spark, csv_file, header=False)
    assert df.columns == ["_c0", "_c1", "_c2"]
    assert all(f.dataType == StringType() for f in df.schema.fields)
    assert df.count() == 4


def test_csv_header_and_infer_schema(spark, csv_file):
    """S2/S3: header names + inferred int/string/double types."""
    df = io.read_csv(spark, csv_file, infer_schema=True)
    assert df.columns == ["id", "city", "temp"]
    types = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))
    assert types["id"] == IntegerType()
    assert types["city"] == StringType()
    assert types["temp"] == DoubleType()


def test_csv_explicit_schema_path_list(spark, tmp_path):
    """S4: multi-path scan with declared schema (no inference pass)."""
    for i in (1, 2):
        (tmp_path / f"f{i}.csv").write_text(CSV_BODY)
    schema = StructType(
        [
            StructField("id", IntegerType()),
            StructField("city", StringType()),
            StructField("temp", DoubleType()),
        ]
    )
    df = io.read_csv(
        spark,
        [str(tmp_path / "f1.csv"), str(tmp_path / "f2.csv")],
        schema=schema,
    )
    assert df.count() == 6
    assert df.schema == schema


def test_json_scan_and_glob(spark, tmp_path):
    """S5: JSON-lines scan over a partition-dir glob."""
    for country in ("fr", "de"):
        d = tmp_path / country
        d.mkdir()
        (d / "part.json").write_text('{"city": "x", "temp": 1.5}\n')
    df = io.read_json(spark, f"{tmp_path}/*/part.json")
    assert df.count() == 2


def test_load_table_directory_parquet(spark, tmp_path):
    """load_table must accept directory-style parquet (anything Spark
    itself wrote) — the nanos footer probe reads one part file instead
    of choking on the directory (caught by the round-4 scale run)."""
    src = io.load_table(spark, SF, "customer")
    src.write.parquet(str(tmp_path / "customer.parquet"))
    # and a nanos-bearing table written back out (micros after load)
    io.load_table(spark, SF, "events").write.parquet(
        str(tmp_path / "events.parquet")
    )
    assert io.load_table(spark, str(tmp_path), "customer").count() == src.count()
    ev = io.load_table(spark, str(tmp_path), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.count() > 0


def test_parquet_roundtrip_and_partitioned_layout(spark, tmp_path):
    """S6/S8/S9: partitionBy writer produces Hive-style dirs readers can
    prune; roundtrip preserves data."""
    df = spark.createDataFrame(
        [("France", "Paris", 1), ("France", "Lyon", 2), ("Japan", "Tokyo", 3)],
        "country STRING, city STRING, v INT",
    )
    out = str(tmp_path / "lake")
    io.write_parquet(df, out, partition_by=["country"])
    assert sorted(
        e for e in os.listdir(out) if e.startswith("country=")
    ) == ["country=France", "country=Japan"]
    back = io.read_parquet(spark, out)
    assert back.count() == 3
    # partition pruning: a country filter must prune to one partition dir
    plan = (
        back.where(F.col("country") == "France")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "country=France" in plan or "PartitionFilters" in plan


def test_csv_single_file_export(spark, tmp_path):
    """S7: coalesce(1) export writes exactly one part file."""
    df = spark.range(10).withColumnRenamed("id", "n")
    out = str(tmp_path / "export")
    io.write_csv(df, out, single_file=True)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1


def test_partitioned_json_sink(spark, tmp_path):
    """S9/S16 replacement: partitioned JSON lake layout."""
    df = spark.createDataFrame(
        [("France", "Paris", 20.5)], "country STRING, city STRING, temp DOUBLE"
    )
    out = str(tmp_path / "json_lake")
    io.write_json(df, out, partition_by=["country", "city"])
    assert os.path.isdir(f"{out}/country=France/city=Paris")
    assert spark.read.json(out).count() == 1


def test_pandas_bridges(spark):
    """S18/S19: createDataFrame(pdf) and toPandas (Arrow path)."""
    pdf = pd.DataFrame({"k": [1, 2], "v": ["a", "b"]})
    df = spark.createDataFrame(pdf)
    assert df.count() == 2
    back = df.orderBy("k").toPandas()
    assert list(back["v"]) == ["a", "b"]


def test_load_lake_registers_views(spark):
    """S20: every lake table is queryable through the SQL surface."""
    io.load_lake(spark, SF)
    n = spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0].n
    assert n > 0
    joined = spark.sql(
        "SELECT COUNT(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
    ).collect()[0].n
    assert joined > 0


def test_events_nanos_timestamps_load(spark):
    """The driver's events.ts is parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; load_table must hand back proper
    microsecond timestamps."""
    e = io.load_table(spark, SF, "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    row = e.select(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    assert row.lo.year == 2024 and row.hi.year == 2024


def test_nanos_parquet_load_truncates_to_micros(spark, tmp_path):
    """Synthetic TIMESTAMP(NANOS) parquet (the events-table quirk some
    driver generations emit): load_table must truncate to micros by
    integer division — and must NOT misfire on Spark's own INT96 or
    micros files (pinned by test_load_table_directory_parquet)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, 1_700_000_000_999_999_999]
    t = pa.table({"ts": pa.array(ns, type=pa.timestamp("ns")), "v": [1.0, 2.0]})
    pq.write_table(t, str(tmp_path / "evn.parquet"))
    df = io.load_table(spark, str(tmp_path), "evn")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r.ts for r in df.collect())
    epoch = dt.datetime(1970, 1, 1)
    exp = sorted(epoch + dt.timedelta(microseconds=n // 1000) for n in ns)
    assert got == exp


def _rows(df):
    # repr keys: NaN compares equal to itself, nested arrays sort
    return sorted(repr(tuple(r)) for r in df.collect())


def test_second_load_table_submits_no_job(spark, tmp_path):
    """The first load of a path infers its schema (a Spark job); a
    second load of the unchanged table reuses the cached schema and
    submits none — nanos ``events`` (whose load flips nanosAsLong)
    and a directory-style table included."""
    spark.range(5).write.parquet(str(tmp_path / "t.parquet"))

    def load():
        return io.load_table(spark, str(tmp_path), "t")

    _, first = spark_jobs(spark, load)
    _, second = spark_jobs(spark, load)
    assert first >= 1
    assert second == 0
    for name in ("events", "orders"):
        io.load_table(spark, SF, name)
        _, jobs = spark_jobs(spark, lambda: io.load_table(spark, SF, name))
        assert jobs == 0, name


def test_cached_schema_load_matches_inference(spark):
    """Every lake table reads back the same dtypes and rows through the
    cached schema as through plain inference."""
    io._probes.clear()
    for name in io.LAKE_TABLES:
        inferred = io.load_table(spark, SF, name)  # cache miss: infers
        cached, jobs = spark_jobs(
            spark, lambda: io.load_table(spark, SF, name)
        )
        assert jobs == 0, name
        assert cached.schema == inferred.schema, name
        assert _rows(cached) == _rows(inferred), name


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_table_rewritten_in_place_is_inferred_again(spark, tmp_path, layout):
    """A table rewritten at the same path with a different column set
    gets its new schema, not the cached one — also when only a part
    file inside a directory is rewritten (the directory's own stat does
    not change)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = tmp_path / "t.parquet"
    if layout == "directory":
        target.mkdir()
        target = target / "part-0.parquet"
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), str(target))
    assert io.load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    pq.write_table(
        pa.table({"a": [3], "c": [0.5], "d": [True]}), str(target)
    )
    df, jobs = spark_jobs(
        spark, lambda: io.load_table(spark, str(tmp_path), "t")
    )
    assert jobs >= 1
    assert df.columns == ["a", "c", "d"]
    assert [tuple(r) for r in df.collect()] == [(3, 0.5, True)]


def test_schema_conf_flip_is_inferred_again(spark, tmp_path):
    """The parquet type-mapping confs are part of the cache key: a flip
    of ``binaryAsString`` between two loads yields the new type."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({"b": pa.array([b"x"], pa.binary())}),
        str(tmp_path / "t.parquet"),
    )
    assert io.load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
    key = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        df = io.load_table(spark, str(tmp_path), "t")
        assert df.dtypes == [("b", "string")]
        assert df.collect()[0].b == "x"
    finally:
        spark.conf.set(key, prev)


def test_partitioned_layout_bypasses_schema_cache(spark, tmp_path):
    """A partitionBy directory types its partition column from directory
    names, so every load infers — no cached schema is reused."""
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "p INT, v STRING"
    ).write.partitionBy("p").parquet(str(tmp_path / "pt.parquet"))
    for _ in range(2):
        df, jobs = spark_jobs(
            spark, lambda: io.load_table(spark, str(tmp_path), "pt")
        )
        assert jobs >= 1
        assert dict(df.dtypes) == {"v": "string", "p": "int"}
    assert sorted(tuple(r) for r in df.select("p", "v").collect()) == [
        (1, "a"),
        (2, "b"),
    ]


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with NO
    Exchange on either side (the pay-shuffle-once-at-ingest contract)."""
    from cours_datalake_dwh_td_kafka_spark.plans.inspect import plan_facts

    o = io.load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    li = io.load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    io.write_bucketed(
        o, "t_orders_b", ["o_orderkey"], n_buckets=4,
        sort_cols=["o_orderkey"], path=str(tmp_path / "ob"),
    )
    io.write_bucketed(
        li, "t_lineitem_b", ["l_orderkey"], n_buckets=4,
        sort_cols=["l_orderkey"], path=str(tmp_path / "lb"),
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # forbid broadcast so the planner must pick sort-merge — the
        # strategy bucketing accelerates
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_orders_b").join(
            spark.table("t_lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        f = plan_facts(joined)
        assert f.n_sortmerge_joins >= 1
        assert f.n_shuffles == 0, "bucketed join must not re-shuffle"
        # same join on the raw (unbucketed) frames DOES shuffle
        raw = o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        assert plan_facts(raw).n_shuffles >= 2
        assert joined.count() == raw.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
