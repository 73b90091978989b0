"""Streaming twins of the portable sketches: per-epoch partials, merged at
read time — the always-fresh corpus statistic a 10^12-row pipeline keeps
without ever re-scanning history.

Batch form: ``sketches.<kind>_partial → <kind>_estimate/quantile/lookup``.
Streaming form: each micro-batch of new files computes its OWN partial (one
scan of the new data only, KBs of registers per group) and commits it
atomically under the publish protocol's run-scoped marker
(``partials/run_id=e<batch>``); the statistic at any moment is the batch
merge over all COMMITTED partials — the same merge the batch side uses, so
streaming and batch agree bit-exactly on the same input set.

Exactly-once has two layers, and which one carries the weight differs by
sketch algebra:

- HLL registers merge by MAX — associative, commutative, IDEMPOTENT — so
  even a double-committed epoch cannot change the estimate. Crash-safety
  from the data structure itself.
- loghist / CMS registers merge by SUM — associative + commutative but NOT
  idempotent — so exactly-once rests on the marker protocol: the shared
  epoch sink's replay guard skips already-committed epochs, and a torn
  epoch (partials written, marker not) is invisible until its marker lands.
  This is the same protocol every sink in the repo uses (plans/publish.py).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.sketches import (
    cms_lookup,
    cms_partial,
    hll_estimate,
    hll_partial,
    loghist_partial,
    loghist_quantile,
)
from ..plans.publish import epoch_sink, read_committed_table


def sketch_stream(
    spark: SparkSession,
    docs_dir: str,
    schema: str,
    partial_fn: Callable[[DataFrame], DataFrame],
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """File-source stream → per-epoch sketch partials (``partial_fn`` maps a
    micro-batch to its register/bucket rows), committed atomically. Read the
    running statistic by merging ``read_sketch_partials`` with the sketch's
    batch reducer."""
    return epoch_sink(
        spark, docs_dir, schema, out_dir, checkpoint_dir,
        lambda batch, _: {"partials": partial_fn(batch)},
        available_now,
    )


def read_sketch_partials(spark: SparkSession, out_dir: str) -> DataFrame:
    """All committed epochs' register/bucket rows (torn epochs invisible)."""
    return read_committed_table(spark, out_dir, "partials")


# -- HLL ---------------------------------------------------------------------


def hll_stream(
    spark: SparkSession,
    docs_dir: str,
    schema: str,
    key_col: str,
    group_cols: list[str],
    out_dir: str,
    checkpoint_dir: str,
    p: int = 12,
    available_now: bool = True,
) -> StreamingQuery:
    """Distinct-count twin: per-epoch HLL register partials."""
    return sketch_stream(
        spark,
        docs_dir,
        schema,
        lambda b: hll_partial(b, key_col, group_cols, p),
        out_dir,
        checkpoint_dir,
        available_now,
    )


def read_hll_estimate(
    spark: SparkSession, out_dir: str, group_cols: list[str], p: int = 12
) -> DataFrame:
    """(groups..., est_distinct) over every committed epoch — identical to
    the batch estimate on the union of those epochs' inputs (max-merge:
    even duplicated epochs cannot move it)."""
    return hll_estimate(read_sketch_partials(spark, out_dir), group_cols, p)


# -- log-histogram quantiles -------------------------------------------------


def loghist_stream(
    spark: SparkSession,
    docs_dir: str,
    schema: str,
    value_col: str,
    group_cols: list[str],
    out_dir: str,
    checkpoint_dir: str,
    b: int = 5,
    available_now: bool = True,
) -> StreamingQuery:
    """Quantile twin: per-epoch bucket-count partials (sum-merge — the
    marker protocol provides the exactly-once)."""
    return sketch_stream(
        spark,
        docs_dir,
        schema,
        lambda batch: loghist_partial(batch, value_col, group_cols, b),
        out_dir,
        checkpoint_dir,
        available_now,
    )


def read_loghist_quantile(
    spark: SparkSession,
    out_dir: str,
    group_cols: list[str],
    qs: list[float],
    b: int = 5,
) -> DataFrame:
    """(groups..., q, q_lb, q_ub) over every committed epoch — identical to
    the batch quantile on the union of those epochs' inputs."""
    return loghist_quantile(
        read_sketch_partials(spark, out_dir), group_cols, qs, b
    )


# -- count-min ---------------------------------------------------------------


def cms_stream(
    spark: SparkSession,
    docs_dir: str,
    schema: str,
    key_col: str,
    group_cols: list[str],
    out_dir: str,
    checkpoint_dir: str,
    w: int = 1024,
    d: int = 4,
    available_now: bool = True,
) -> StreamingQuery:
    """Frequency twin: per-epoch count-min register partials (sum-merge —
    the marker protocol provides the exactly-once)."""
    return sketch_stream(
        spark,
        docs_dir,
        schema,
        lambda batch: cms_partial(batch, key_col, group_cols, w, d),
        out_dir,
        checkpoint_dir,
        available_now,
    )


def read_cms_lookup(
    spark: SparkSession,
    out_dir: str,
    keys: DataFrame,
    key_col: str,
    group_cols: list[str],
    w: int = 1024,
    d: int = 4,
) -> DataFrame:
    """(groups..., key, est_count) over every committed epoch — identical
    to the batch lookup on the union of those epochs' inputs."""
    return cms_lookup(
        read_sketch_partials(spark, out_dir), keys, key_col, group_cols, w, d
    )
