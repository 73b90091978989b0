"""SparkSession factory tuned for this engine.

Arrow is enabled globally (the extraction hot path is Arrow-batched pandas
UDFs — no per-row Python anywhere, per BASELINE.json's input_hint), AQE is on
for runtime re-planning/skew handling, and shuffle partitions default to the
local core count instead of 200. On a real cluster the same builder applies;
only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "batch_doc_vqa_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism: local[N] → N; local[*] → machine cores
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = os.cpu_count() or 8 if inner == "*" else int(inner)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # honour advisoryPartitionSizeInBytes when coalescing instead of
        # stopping at the parallelism floor: post-shuffle partition counts
        # then derive from DATA SIZE (scale-adaptive — a KB-scale shuffle
        # collapses to 1 task, a 100 TB shuffle still gets TB/advisory
        # partitions). The Spark tuning guide recommends false on busy
        # clusters; locally it removes ~32 near-empty tasks per exchange.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash over sort-merge when a side
        # fits per-partition (guide §3.1); AQE additionally rewrites SMJ →
        # SHJ at runtime below the local-map threshold — both size-gated,
        # so the choice stays scale-adaptive
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ~3KB/page → ~30MB Arrow batches: amortizes per-batch Python overhead
        # while staying well under worker memory; re-derive for larger payloads
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # partition columns (run_id=... directories) always read back as
        # string — an all-digit run_id must not silently become a long and
        # break run-pruning filters / schema stability across runs
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
