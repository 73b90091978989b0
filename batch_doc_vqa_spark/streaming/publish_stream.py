"""Streaming twin of the validation-gated publish sink (S11).

Batch form: ``plans/publish.publish_run`` tags rows with a reject reason and
splits them into published/quarantine tables behind an atomic per-run
marker commit. Streaming form: the SAME column-expression gate
(``publish_reject_reason``) and the SAME table split (``tagged_tables``)
commit through the shared epoch sink (``plans.publish.epoch_sink``) with an
EPOCH-scoped run id (``e<batch_id>``): a replayed epoch overwrites its own
run directories idempotently, and a crash between the two table writes
leaves the epoch invisible to ``read_published``/``read_quarantine`` until
the marker lands — end-to-end exactly-once, not just at-least-once appends.
``available_now`` turns this into an incremental batch publisher: rerun it
after new result files land and only the new files flow through the gate.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..plans.publish import epoch_sink, publish_reject_reason, tagged_tables


def gated_publish_stream(
    spark: SparkSession,
    results_dir: str,
    schema: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str | None = "text",
    numeric_cols: tuple[str, ...] = (),
    json_cols: tuple[str, ...] = (),
    decode_status_col: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """File-source results stream → gate → atomic epoch-scoped publishes."""
    reason = publish_reject_reason(text_col, numeric_cols, json_cols, decode_status_col)
    return epoch_sink(
        spark, results_dir, schema, out_dir, checkpoint_dir,
        # localCheckpoint: the gate classifier runs once for both halves
        lambda batch, _: tagged_tables(
            batch.withColumn("_reject", reason).localCheckpoint(eager=True)
        ),
        available_now,
    )
