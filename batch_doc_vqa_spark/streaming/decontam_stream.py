"""Streaming twin of benchmark decontamination: incremental snapshots are
screened against the eval set as they land.

Batch form: ``operators/decontam.contamination_report`` over a full corpus.
Streaming form: new document files flow through the SAME n-gram machinery
in the shared epoch sink (``plans.publish.epoch_sink`` — the shared
``contamination_report`` is called per micro-batch against the pinned
benchmark frame), and each epoch's verdicts land atomically via the
publish protocol's run-scoped marker commit: ``clean/run_id=e<batch>`` and
``contaminated/run_id=e<batch>`` become visible together or not at all.

Scale shape matches the batch op: the benchmark n-gram set broadcasts, the
snapshot side is map-only, and state never accumulates across epochs (the
benchmark is static; each micro-batch is independent) —
``trigger(availableNow=True)`` makes this an incremental screener: rerun
after new crawl files land and only the new files are checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.decontam import DEFAULT_DROP_THRESHOLD, DEFAULT_NGRAM, contamination_report
from ..plans.publish import epoch_sink, read_committed_table


def decontam_screen_stream(
    spark: SparkSession,
    docs_dir: str,
    schema: str,
    bench: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DEFAULT_NGRAM,
    threshold: float = DEFAULT_DROP_THRESHOLD,
    available_now: bool = True,
) -> StreamingQuery:
    """File-source document stream → contamination screen → atomic epoch
    writes of ``clean`` and ``contaminated`` (with per-item coverage).

    The drop threshold defaults to the batch operator's
    (``decontam.DEFAULT_DROP_THRESHOLD``) — the stream and a later batch
    re-validation must agree on what "clean" means. Read the results with
    ``read_clean`` / ``read_contaminated``: they filter on the epoch
    markers, so a crash between the two table writes never surfaces a torn
    epoch (same contract as the publish archive)."""
    bench = bench.localCheckpoint(eager=True)  # pin the eval set for the run

    def screen(batch: DataFrame, _run_id: str) -> dict[str, DataFrame]:
        # materialized once: the report feeds both the anti-join build side
        # and the contaminated-table write. strategy pinned to 'broadcast':
        # the eval set is localCheckpointed once for the whole run, and
        # 'auto' would re-count its n-gram rows as an extra job EVERY epoch
        report = contamination_report(
            batch, id_col, text_col, bench, "bench_id", "bench_text", n=n,
            strategy="broadcast",
        ).localCheckpoint(eager=True)
        hits = report.filter(F.col("coverage") >= threshold)
        flagged = hits.select(F.col("doc_id").alias(id_col)).distinct()
        return {
            "clean": batch.join(F.broadcast(flagged), id_col, "left_anti"),
            "contaminated": hits,
        }

    return epoch_sink(spark, docs_dir, schema, out_dir, checkpoint_dir, screen, available_now)


def read_clean(spark: SparkSession, out_dir: str) -> DataFrame:
    """Screened-clean docs — committed epochs only (never a torn epoch)."""
    return read_committed_table(spark, out_dir, "clean")


def read_contaminated(spark: SparkSession, out_dir: str) -> DataFrame:
    """Flagged (doc, benchmark-item) verdicts — committed epochs only."""
    return read_committed_table(spark, out_dir, "contaminated")
