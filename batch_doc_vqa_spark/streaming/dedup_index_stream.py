"""Streaming twin of the incremental dedup index: crawl snapshot files
stream in, each micro-batch dedups against the persisted index and appends
itself as one committed index snapshot.

Batch form: ``operators/dedup_index.incremental_dedup_pairs``. Streaming
form: the SAME operator runs in the shared epoch sink
(``plans.publish.epoch_sink``) with the epoch id as the snapshot id, so the
index grows exactly-once:

- the epoch's PAIRS land at ``out_dir/pairs/run_id=e<batch>`` behind the
  marker protocol (a torn epoch is invisible to ``read_stream_pairs``);
- the epoch's INDEX snapshot commits through the index's own marker
  protocol (re-ingestion anti-join ⇒ a replayed epoch never bloats it);
- the one asymmetric crash window — index snapshot committed, pairs output
  not yet — is healed by ``dedup_index.pairs_for_snapshot``: the retry
  recomputes the epoch's pairs FROM THE INDEX ALONE (signatures are
  already persisted; the pinned hash family makes them bit-comparable), so
  the pairs output is identical to what the crashed attempt would have
  written. Without this path a replay would find the epoch's docs already
  indexed and emit an EMPTY pair set — silently wrong.

The index must be bootstrapped first (``build_dedup_index`` over the base
corpus) — same contract as the batch operator. Zero-padded epoch ids sort
after 'base'/'compact-*', which is what ``pairs_for_snapshot``'s
"earlier snapshots" semantics relies on.

Scale shape matches the batch op: O(batch) signature work + band-key
joins; no state accumulates in the stream itself (the index IS the state,
and it lives in the marker-committed store, not the checkpoint).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.dedup_index import (
    incremental_dedup_pairs,
    pairs_for_snapshot,
    read_index_sigs,
)
from ..plans.publish import committed_publish_ids, epoch_sink, read_committed_table


def dedup_index_stream(
    spark: SparkSession,
    docs_dir: str,
    schema: str,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    available_now: bool = True,
    _crash_after_index_commit: set | None = None,
    **params,
) -> StreamingQuery:
    """File-source document stream → incremental dedup vs the persisted
    index → atomic epoch writes of the near-dup pairs + index growth.

    ``_crash_after_index_commit`` is a test-only fault-injection point
    (publish's ``_crash_before_commit`` precedent): raise after the named
    batch ids' index snapshot committed but before their pairs landed —
    the exact window the ``pairs_for_snapshot`` heal exists for."""
    # only the FIRST batch this stream instance processes can be a replay
    # of a crashed epoch (later batches imply their predecessors committed)
    # — scopes the compacted-away audit below to one batch per (re)start
    first_processed = {"v": True}

    def ingest(batch: DataFrame, run_id: str) -> dict[str, DataFrame]:
        sess = batch.sparkSession
        snaps = committed_publish_ids(sess, index_path)
        if run_id in snaps:
            # crashed between the index commit and the pairs write: the
            # docs are already indexed, so recompute the pairs from the
            # index (bit-identical — same signatures, same band joins)
            pairs = pairs_for_snapshot(sess, index_path, run_id, threshold, **params)
        else:
            if first_processed["v"] and any(s.startswith("compact") for s in snaps):
                # a compaction folded snapshot history, and this is the
                # first batch after a (re)start — i.e. the only batch that
                # can be a replay of a crashed epoch. If all its docs are
                # already indexed, the original pairs may have been
                # absorbed by the compaction and cannot be recomputed; it
                # may equally be a routine fully-duplicate redelivery.
                # Warn LOUDLY (the two cases are indistinguishable here —
                # a hard failure would wedge legitimate streams forever)
                # and proceed with the re-ingestion-safe semantics.
                n_batch = batch.count()
                indexed_ids = read_index_sigs(sess, index_path).select("_id")
                n_already = batch.join(
                    indexed_ids, batch[id_col] == indexed_ids["_id"], "left_semi"
                ).count()
                if n_batch > 0 and n_already == n_batch:
                    logging.getLogger(__name__).warning(
                        "epoch %s: all %d docs already indexed, the epoch never "
                        "committed its pairs, and the index history was "
                        "compacted. If this epoch crashed pre-compaction its "
                        "original pairs are unrecoverable (an empty set will "
                        "commit); if it is a duplicate redelivery this is "
                        "correct. Avoid compacting the index while the stream "
                        "has uncommitted epochs.",
                        run_id, n_batch,
                    )
            pairs = incremental_dedup_pairs(
                sess, batch, id_col, text_col, index_path, threshold,
                update_index=True, snapshot_id=run_id, **params,
            )
            if _crash_after_index_commit and int(run_id[1:]) in _crash_after_index_commit:
                raise RuntimeError("fault injection: crashed after index commit")
        first_processed["v"] = False
        return {"pairs": pairs}

    return epoch_sink(spark, docs_dir, schema, out_dir, checkpoint_dir, ingest, available_now)


def read_stream_pairs(spark: SparkSession, out_dir: str) -> DataFrame:
    """All committed epochs' near-dup pairs (torn epochs invisible)."""
    return read_committed_table(spark, out_dir, "pairs")
