"""SparkSession factory.

The reference creates ad-hoc sessions per script with hand-tuned memory
(reference: work/Projet/preparation_noaa.ipynb:164-169, docker-compose.yml:56-57).
We centralize one factory with scale-ready defaults:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  dynamic broadcast decisions — the knobs that keep a fixed plan healthy
  when data grows 100x.
- Arrow on: vectorized Spark<->pandas interchange for the pandas-UDF
  operators (dedup sketches, multimodal featurizers) and `toPandas`.
- Session timezone pinned to UTC so timestamp arithmetic is reproducible
  against the DuckDB oracle and across clusters.
- `spark.sql.shuffle.partitions` defaults to a small-cluster value but is
  env-overridable. AQE only coalesces partitions down, never up, so on a
  real cluster set it to the widest shuffle a stage needs and let AQE
  merge the small ones.
- Generated-code cache sized to the engine's working set: Spark keeps
  compiled whole-stage-codegen classes in one JVM-wide LRU whose default
  size is 100. One `batch_queries` benchmark pass needs 222-234 classes,
  one `stream_drain` round ~100, `erasure_e2e` alone ~480, and one
  sf0.001 pass over all registered queries 4,031 distinct ones. An LRU
  smaller than a cyclic working set never hits, so at the default every
  warm batch pass recompiled all of its classes (6-8 ms of Janino
  compile each); 1024 holds any one pass, round or back-to-back query
  repeat, for ~7 MB more metaspace than the default (228 -> 235 MB over
  that all-query pass). `plans.inspect.codegen_compiles` counts the
  compiles.
- Streaming checkpoints through the Hadoop `FileSystem` API: offset,
  commit and file-source logs and state-store files are written by
  Spark's `FileSystemBasedCheckpointFileManager` instead of its default
  `FileContext` one. Without a native `libhadoop` (`NativeIO` not
  loaded), Hadoop's local file system forks a shell command where the
  library would make a system call: `FileContext` forks `readlink` for
  every path it resolves, and both APIs fork `chmod` (1.6-1.9 ms each)
  for every file or directory they create. A warm `stream_drain`
  benchmark round (`local[4]` on a 4-vCPU VM) forked ~208 `readlink` and
  ~261 `chmod` with the default manager, and 0 `readlink` with this one
  (~231 `chmod`, with the lake's `_SUCCESS` marker also dropped); a
  `batch_queries` pass, which starts no stream and writes no lake file,
  forks neither. Semantics are unchanged: files are still checksummed by
  `ChecksumFileSystem` (`.crc`), and both managers check the
  destination, then rename: an atomic POSIX rename on local disk, and
  HDFS's rename refuses an existing destination. The class moved to the
  `...streaming.checkpointing` package in Spark 4.x; a wrong name fails
  loudly at the first stream start.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cours-datalake-dwh-td-kafka-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Env overrides: ``SPARK_GRAFT_CPUS`` sets local parallelism,
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` sets shuffle width.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
        )

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- local-mode heap: driver == executor in local[*]; 4g gives the
        #    iterative operators (connected components, LDA) headroom for
        #    their per-round localCheckpoint blocks. Only effective when
        #    set before JVM launch — i.e. the first getOrCreate in the
        #    process — which is why it lives here, not per-operator. ------
        .config("spark.driver.memory", driver_mem)
        # -- release dropped checkpoint/broadcast blocks promptly: the
        #    ContextCleaner only runs on JVM GC, which a mostly-idle 4g
        #    driver may not trigger for a long time; a 2-minute forced GC
        #    bounds accumulation across many short operator invocations ---
        .config("spark.cleaner.periodicGC.interval", "2min")
        # -- compiled-class cache (see module docstring for the working
        #    sets): a static SQL conf, read once when the JVM first
        #    generates code, so like the heap it must be set here ---------
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # -- checkpoint logs through FileSystem, not FileContext (see
        #    module docstring: no readlink fork per resolved path) ------
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # -- determinism / oracle parity ---------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # -- adaptive execution (scale path) -----------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # -- python interchange ------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- broadcast: dims in the star schema are tiny; 64m is safe on
        #    executors with >=4g and avoids shuffling small sides ----------
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # -- quieter local runs ------------------------------------------
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
