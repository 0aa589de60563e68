"""Session-factory settings that change cost, not results, pinned by
what they are for."""

from __future__ import annotations

from cours_datalake_dwh_td_kafka_spark import registry
from cours_datalake_dwh_td_kafka_spark.plans.inspect import codegen_compiles
from tests.conftest import SF_SMOKE

# Registry queries from the batch benchmark whose plans repeat exactly.
# Left out: dq_audit and nation_market_share, whose adaptive plans vary
# from run to run, so a warm pass may legitimately compile a few classes
# for a plan variant it has not seen yet.
_WARM_QUERIES = (
    "monthly_profile",
    "anomaly_batch",
    "records",
    "sessionization",
    "pandas_sessionization",
    "tumbling_window_agg",
    "sliding_window_agg",
    "session_window_agg",
    "scd2_dimension",
)


def test_codegen_cache_holds_a_warm_pass(spark):
    """A second pass over the same queries reuses every generated class.
    These 9 queries need ~145 classes, more than Spark's default cache
    of 100, and an LRU smaller than a cyclic working set never hits, so
    at the default the second pass recompiles all of them."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    qs = registry.queries()

    def one_pass() -> int:
        c0 = codegen_compiles(spark)
        for name in _WARM_QUERIES:
            qs[name](spark, SF_SMOKE).write.format("noop").mode(
                "overwrite"
            ).save()
        return codegen_compiles(spark) - c0

    one_pass()  # may compile nothing if earlier tests ran these plans
    assert one_pass() == 0


_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def test_checkpoint_logs_go_through_filesystem_api(spark, tmp_path):
    """Streaming checkpoints are written through Hadoop's FileSystem API,
    whose local file system resolves no links, so it forks no `readlink`
    per path without a native libhadoop. Spark builds the manager from
    this conf at every stream start, so a class that moved package fails
    the first stream, and this test names the cause."""
    conf = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(conf) == _FS_CHECKPOINT_MANAGER
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == _FS_CHECKPOINT_MANAGER
