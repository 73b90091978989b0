"""The extraction job: scan → resume filter → salted repartition → vectorized
extract → validate → results + per-partition lineage.

This is the Spark-native shape of the reference's inference run
(/root/reference/src/batch_doc_vqa/openrouter/inference.py:2173-2294): its
thread-pool fan-out becomes partition parallelism, its incremental
``save_results`` after every image (inference.py:2206-2207) becomes
per-partition commits recorded in a lineage table, and its resumable cost
backfill's "only rows not yet done" predicate (api.py:505-515) becomes a left
anti-join of the input against the done-set.

Contract (BASELINE.json north rule):
- partitioning: hash(url) buckets, salted for skewed hosts (plans/skew.py);
  bucket ids are pure functions of the data so reruns see the same layout;
- lineage: one row per (run_id, bucket): doc count, byte count, failure count,
  failure urls, status;
- resume: rerunning with the same output dir processes only urls absent from
  the results table — reruns are idempotent and the final table is identical
  to a single-shot run;
- failures are recorded, not retried (status='error' rows, failure urls in
  lineage) — the analogue of the reference's record-and-continue retry ladder.
"""

from __future__ import annotations

import hashlib
import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import __version__ as ENGINE_VERSION
from ..functions.udfs import extract_udf
from .publish import _fs
from .skew import BUCKET_COL, with_salted_partition

MAX_FAILURE_URLS_PER_PARTITION = 100


def config_fingerprint(config: dict) -> tuple[str, str]:
    """(config_json, config_hash): run identity as a content hash of the job
    config + engine version — the X10 reproducibility guard (reference
    core/run_manager.py:42-63,66-148 hashes config + git state). Two runs with
    different extractor settings are distinguishable in lineage forever."""
    payload = dict(config, engine_version=ENGINE_VERSION)
    config_json = json.dumps(payload, sort_keys=True, separators=(",", ":"))
    return config_json, hashlib.sha256(config_json.encode()).hexdigest()[:16]


def _table_exists(spark: SparkSession, path: str) -> bool:
    """O(1) filesystem existence probe — no file listing, no scan, no collect.

    The old read+collect form cost a full directory listing per call; at
    100 TB with thousands of prior runs that is a driver-side stall on every
    incremental run.
    """
    fs, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


def _has_data_files(spark: SparkSession, path: str) -> bool:
    """True iff the directory holds at least one non-hidden data file.

    Recursive listing with an early break: returns at the FIRST data file,
    so a populated store costs one listing step, and only the
    crashed-before-any-commit empty-directory case walks the (empty) tree.
    """
    fs, jpath = _fs(spark, path)
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if not name.startswith(("_", ".")):
            return True
    return False


def read_results(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/results")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/lineage")


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    num_buckets: int = 32,
    target_rows_per_task: int | None = None,
    strict: bool = False,
) -> dict:
    """Run (or resume) the extraction job. Returns per-run lineage summary.

    ``pages`` must have columns (url, warc_ts, html, text, lang) — the
    BASELINE.json input shape. Results land at ``{out_dir}/results`` and
    lineage at ``{out_dir}/lineage``, both append-mode and PARTITIONED BY
    ``run_id``: every per-run read-back (lineage computation, summary) prunes
    to this run's partition directory instead of filter-scanning all prior
    runs' files — O(|run|), not O(corpus), per incremental run. This is the
    parquet emulation of the reference's run-scoped artifact dirs
    (core/run_manager.py:368-407); an Iceberg table with identity
    partitioning on run_id is the drop-in upgrade.

    ``strict`` selects the validate→fail vs validate→coerce behavior of the
    reference's schema ladder (openrouter/inference.py:1920-2070, SURVEY §2.7
    X6): strict ⇒ rows whose extraction came back empty are *failures*
    (counted + urls recorded in lineage, text nulled); lenient (default) ⇒
    the recall-cascade output is kept and only hard errors count as failures.
    """
    # 'r' prefix keeps an all-hex-digit id unambiguous as a directory name
    run_id = run_id or "r" + uuid.uuid4().hex[:12]
    results_path = f"{out_dir}/results"
    lineage_path = f"{out_dir}/lineage"
    config_json, config_hash = config_fingerprint(
        {
            "num_buckets": num_buckets,
            "target_rows_per_task": target_rows_per_task,
            "strict": strict,
        }
    )

    todo = pages
    if _table_exists(spark, results_path):
        # checkpoint/resume: anti-join against the done-set (J7 pattern).
        # The existence probe is O(1) and can be true for a directory a
        # crashed first run created but never committed data into — an
        # EMPTY store means an empty done-set, not a dead job. Distinguish
        # the two cases by probing for data FILES (not by catching
        # AnalysisException: a populated store whose read fails for any
        # other analysis reason — conflicting directory layouts, a missing
        # 'url' column — must surface loudly; silently treating it as an
        # empty done-set would duplicate every prior run's rows). The probe
        # short-circuits at the first data file, so it stays O(1)-ish even
        # over thousands of run_id partitions.
        if _has_data_files(spark, results_path):
            done = spark.read.parquet(results_path).select("url")
            todo = pages.join(done, "url", "left_anti")

    bucketed = with_salted_partition(todo, num_buckets, target_rows_per_task=target_rows_per_task)
    # unsupported_format (e.g. encrypted / non-Flate real PDFs) is always a
    # recorded failure — a binary payload must never pass as extracted text
    failure_statuses = (
        ("error", "unsupported_format", "empty") if strict else ("error", "unsupported_format")
    )
    is_failed = F.col("_ex.status").isin(*failure_statuses)
    extracted = (
        bucketed.withColumn("_ex", extract_udf(F.col("html")))
        .select(
            "url",
            "warc_ts",
            "lang",
            F.col(BUCKET_COL),
            F.when(~is_failed, F.col("_ex.text")).alias("text"),
            F.when(~is_failed, F.col("_ex.spans")).alias("spans"),
            F.when(is_failed, F.lit("failed")).otherwise(F.col("_ex.status")).alias("status"),
            F.col("_ex.error").alias("error"),
            F.coalesce(F.length("_ex.text"), F.lit(0)).alias("n_chars"),
            F.length("html").alias("n_input_bytes"),
            F.lit(run_id).alias("run_id"),
        )
    )
    extracted.write.mode("append").partitionBy("run_id").parquet(results_path)

    # lineage from what was actually committed (read-back, not recompute) —
    # the run_id partition filter prunes the scan to THIS run's directory
    written = spark.read.parquet(results_path).filter(F.col("run_id") == run_id)
    lineage = written.groupBy(BUCKET_COL).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_input_bytes").alias("n_bytes"),
        F.sum((F.col("status") == "failed").cast("long")).alias("n_failed"),
        F.slice(
            F.collect_list(F.when(F.col("status") == "failed", F.col("url"))),
            1,
            MAX_FAILURE_URLS_PER_PARTITION,
        ).alias("failure_urls"),
        F.lit("done").alias("status"),
        F.current_timestamp().alias("finished_at"),
        F.lit(config_hash).alias("config_hash"),
        F.lit(config_json).alias("config_json"),
        F.lit(ENGINE_VERSION).alias("engine_version"),
        F.lit(run_id).alias("run_id"),
    )
    lineage.write.mode("append").partitionBy("run_id").parquet(lineage_path)

    summary_rows = (
        spark.read.parquet(lineage_path)
        .filter(F.col("run_id") == run_id)
        .agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n_docs"),
            F.coalesce(F.sum("n_bytes"), F.lit(0)).alias("n_bytes"),
            F.coalesce(F.sum("n_failed"), F.lit(0)).alias("n_failed"),
        )
        .collect()
    )
    s = summary_rows[0].asDict()
    s["run_id"] = run_id
    return s
