"""Incremental near-dup index: dedup a NEW snapshot against an existing
corpus without re-signaturing the corpus.

At 10^12 documents, dedup is not a batch job — each crawl snapshot arrives
against an already-deduped corpus. The index persists exactly what the
banded-LSH pair emitter computes (MinHash signatures + band rows,
``dedup.banded_rows`` shared so they cannot drift), and an incremental pass
costs O(|new|) signature work plus band-key joins:

- new-vs-old candidates: new band rows ⋈ index band rows on (band_idx,
  band_hash) — the index side can be bucketed on the band key so this join
  is exchange-free on the big side;
- new-vs-new candidates: self-join of the new band rows (tiny);
- verification joins fetch signatures from the index for the old ids only.

Signature comparability across runs is exactly why the hash family is
seeded and the token hash pinned (``_hash_family`` seed, md5-based
``portable_hash64`` / ``stable_token_hash64``): an index written last month
meets this month's snapshot bit-for-bit.

Durability: both tables are SNAPSHOT-committed (``sigs/snap=<id>``,
``bands/snap=<id>``, visible only once ``_committed/<id>`` exists — the
same marker protocol as plans/publish.py). A crash between the sigs and
bands writes therefore cannot strand a document with a signature but no
band rows (which would silently exclude it from every future candidate
join): the torn snapshot is invisible, and the retry — which anti-joins
against COMMITTED ids only — re-writes both halves.

Concurrency: compaction holds a ``_compact_lease`` (atomic create-if-
absent); incremental commits refuse under the lease, and a racer that
slips the probe-to-commit window is caught by compaction's post-swap
marker verification, which rolls the compaction back (the racer always
wins — a committed snapshot is never lost). Crashes are adjudicated by
``plans.publish.recover_marker_store``; disk for superseded snapshots is
reclaimed by the separate ``vacuum_dedup_index`` step, never mid-swap
(concurrent readers keep scanning old files safely). Every one of these
mechanics is the shared marker-store code in plans/publish.py.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.publish import (
    _begin_maintenance,
    _fs,
    commit_run,
    committed_publish_ids,
    read_committed_table,
    swap_marker_dir,
    vacuum_store,
)
from .dedup import banded_rows, minhash_signatures

INDEX_PARAMS = dict(n=3, num_hashes=64, bands=16, seed=7, base_hash="xxhash64")

_SIG_COLS = ["_id", "signature"]
_BAND_COLS = ["_id", "band_idx", "band_hash"]


def read_index_sigs(spark: SparkSession, path: str) -> DataFrame:
    return read_committed_table(spark, path, "sigs", "snap").select(*_SIG_COLS)


def read_index_bands(spark: SparkSession, path: str) -> DataFrame:
    return read_committed_table(spark, path, "bands", "snap").select(*_BAND_COLS)


def _write_snapshot(
    spark: SparkSession, sigs: DataFrame, bands: DataFrame, path: str, snapshot_id: str
) -> None:
    """Both halves into ``snap=``-scoped dirs, committed as one run by the
    shared ``commit_run``: it refuses while a compaction lease is held (a
    snapshot committed during a compaction window would not be in the
    rebuilt index), before the data writes AND again right before the
    marker create — the remaining probe-to-commit race is caught by
    compaction's post-swap verification, which rolls the compaction back
    rather than lose this snapshot."""
    commit_run(
        spark,
        path,
        snapshot_id,
        {"sigs": sigs.select(*_SIG_COLS), "bands": bands.select(*_BAND_COLS)},
        part_col="snap",
    )


def build_dedup_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    snapshot_id: str = "base",
    **params,
) -> None:
    """Signature + band tables for a corpus, committed as one snapshot.

    Always a fresh build (the path is cleared first): growing an existing
    index goes through ``incremental_dedup_pairs``, refreshing it through
    ``compact_dedup_index`` — an in-place overwrite of an already-committed
    snapshot would reopen the torn-write window the marker protocol closes.
    """
    p = {**INDEX_PARAMS, **params}
    spark = df.sparkSession
    fs, jpath = _fs(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)
    sigs = minhash_signatures(
        df, id_col, text_col, p["n"], p["num_hashes"], p["seed"], p["base_hash"]
    ).localCheckpoint(eager=True)
    bands = banded_rows(sigs, p["num_hashes"], p["bands"], p["base_hash"])
    _write_snapshot(spark, sigs, bands, path, snapshot_id)


def compact_dedup_index(
    spark: SparkSession,
    current_docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    _test_hook_before_swap=None,
    **params,
) -> None:
    """Rebuild the index from the CURRENT corpus state — the maintenance
    pass that picks up content changes for re-crawled ids (the snapshot
    emulation keeps a re-ingested id's ORIGINAL signature until this runs;
    an Iceberg MERGE would update in place).

    Concurrency contract (single-writer is ENFORCED, not assumed):

    - a ``_compact_lease`` file is claimed with atomic create-if-absent
      before any work; ``incremental_dedup_pairs`` refuses to commit while
      the lease exists, so the normal interleave is BLOCKED loudly;
    - the marker set is captured AFTER the lease; post-swap, the superseded
      marker dir is re-listed and any marker not in that capture (a racer
      that slipped past the lease check between its probe and its commit)
      triggers a full ROLLBACK — the live marker dir is restored exactly as
      it was, the racing snapshot stays committed, and
      ``ConcurrentCommitError`` tells the operator to re-run compaction
      from a corpus state that includes the preserved snapshots.
      Compaction always loses the race; a committed snapshot is never lost.

    Swap protocol: the rebuilt snapshot's data dirs land first (no marker),
    then the LIVE ``_committed`` dir is replaced by one holding only the new
    snapshot's marker (rename-aside → rename-in, every rename checked). A
    crash at any point leaves the lease + aside dirs for
    ``recover_marker_store``, which either completes or rolls back — no
    manual surgery, and no window ever shows old and new snapshots together
    (duplicate ids) or a half-written snapshot.

    Superseded ``snap=`` data dirs are NOT deleted here: concurrent readers
    (or lazy DataFrames built pre-swap) keep scanning them safely. Disk is
    reclaimed by the separate ``vacuum_dedup_index`` step — the Iceberg
    expire-snapshots analogue.

    Reference pattern: the archive manifest as single commit gate,
    /root/reference/src/batch_doc_vqa/benchmarks/published_runs.py:884-911.
    """
    p = {**INDEX_PARAMS, **params}
    snap = "compact-" + uuid.uuid4().hex[:12]
    pre_markers = _begin_maintenance(spark, path, snap)
    sigs = minhash_signatures(
        current_docs, id_col, text_col, p["n"], p["num_hashes"], p["seed"], p["base_hash"]
    ).localCheckpoint(eager=True)
    bands = banded_rows(sigs, p["num_hashes"], p["bands"], p["base_hash"])
    # data dirs only — deliberately NOT committed yet
    sigs.select(*_SIG_COLS).write.mode("overwrite").parquet(f"{path}/sigs/snap={snap}")
    bands.select(*_BAND_COLS).write.mode("overwrite").parquet(f"{path}/bands/snap={snap}")
    if _test_hook_before_swap is not None:
        _test_hook_before_swap()

    swap_marker_dir(spark, path, [snap], pre_markers)


def vacuum_dedup_index(
    spark: SparkSession, path: str, grace_seconds: int = 86400
) -> list[str]:
    """Delete data dirs of snapshots no longer committed (superseded by a
    compaction, or torn) — Iceberg's expire-snapshots, through the shared
    ``vacuum_store`` (refuses under a lease; skips marker-less dirs younger
    than ``grace_seconds``). Run it once in-flight readers of the
    pre-compaction view have drained. Returns the deleted snapshot ids."""
    return vacuum_store(spark, path, ("sigs", "bands"), "snap", grace_seconds)


def incremental_dedup_pairs(
    spark: SparkSession,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    threshold: float = 0.5,
    update_index: bool = True,
    snapshot_id: str | None = None,
    **params,
) -> DataFrame:
    """Near-dup pairs of a new snapshot vs (index ∪ itself); commits the new
    rows to the index afterwards so the next snapshot sees them.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b lexicographically —
    identical to what a full-batch ``minhash_lsh_pairs`` over (old ∪ new)
    would emit for pairs touching at least one new document.

    Re-ingestion safe: a doc_id present in BOTH the committed index and the
    snapshot (re-crawl, or a retried snapshot after a partial failure) is
    treated as already indexed — its index rows stay authoritative for this
    pass, and the commit anti-joins on committed ids so retries never bloat
    the index or produce conflicting duplicate signature rows. A re-crawl
    whose CONTENT changed therefore keeps its original signature until
    ``compact_dedup_index`` runs. Pass a stable ``snapshot_id`` (e.g. the
    crawl batch id) to make a retried commit overwrite its own snapshot
    dirs; the default random id is still safe — a torn attempt is invisible
    and its ids re-enter the next attempt's anti-join as "not indexed".
    """
    p = {**INDEX_PARAMS, **params}
    all_new_sigs = minhash_signatures(
        new_docs, id_col, text_col, p["n"], p["num_hashes"], p["seed"], p["base_hash"]
    ).localCheckpoint(eager=True)
    old_sigs = read_index_sigs(spark, path)
    old_bands = read_index_bands(spark, path)
    # ids-only anti-join: drop snapshot rows already in the COMMITTED index
    # (the id set is tiny next to the signatures — one broadcast-able column)
    new_sigs = all_new_sigs.join(
        old_sigs.select("_id"), "_id", "left_anti"
    ).localCheckpoint(eager=True)
    new_bands = banded_rows(new_sigs, p["num_hashes"], p["bands"], p["base_hash"]).localCheckpoint(
        eager=True
    )

    pairs = _pairs_of_new_vs_old(
        new_bands, old_bands, old_sigs.unionByName(new_sigs.select(*_SIG_COLS)),
        threshold, p["num_hashes"],
    ).localCheckpoint(eager=True)  # materialize BEFORE the index commit below
    if update_index and new_sigs.limit(1).count() > 0:
        _write_snapshot(
            spark, new_sigs, new_bands, path, snapshot_id or "s" + uuid.uuid4().hex[:12]
        )
    return pairs


def _pairs_of_new_vs_old(
    new_bands: DataFrame,
    old_bands: DataFrame,
    all_sigs: DataFrame,
    threshold: float,
    num_hashes: int,
) -> DataFrame:
    """Candidate pairs touching at least one NEW doc (new⋈old on the band
    key + new self-join), verified by signature agreement — one definition
    shared by the batch incremental pass and the per-snapshot recompute
    (``pairs_for_snapshot``), so the two cannot drift."""
    nb, ob = new_bands.alias("n"), old_bands.alias("o")
    vs_old = nb.join(
        ob,
        (F.col("n.band_idx") == F.col("o.band_idx"))
        & (F.col("n.band_hash") == F.col("o.band_hash"))
        & (F.col("n._id") != F.col("o._id")),
    ).select(
        F.least(F.col("n._id"), F.col("o._id")).alias("id_a"),
        F.greatest(F.col("n._id"), F.col("o._id")).alias("id_b"),
    )
    na, nb2 = new_bands.alias("a"), new_bands.alias("b")
    vs_new = na.join(
        nb2,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a._id") < F.col("b._id")),
    ).select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
    cand = vs_old.unionByName(vs_new).dropDuplicates(["id_a", "id_b"])
    sig_a = all_sigs.select(F.col("_id").alias("id_a"), F.col("signature").alias("_sa"))
    sig_b = all_sigs.select(F.col("_id").alias("id_b"), F.col("signature").alias("_sb"))
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.aggregate(
                    F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: (x == y).cast("int")),
                    F.lit(0),
                    lambda acc, v: acc + v,
                )
                / F.lit(num_hashes),
                6,
            ).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def pairs_for_snapshot(
    spark: SparkSession,
    path: str,
    snapshot_id: str,
    threshold: float = 0.5,
    allow_unsorted_ids: bool = False,
    **params,
) -> DataFrame:
    """Recompute, FROM THE COMMITTED INDEX ALONE, the near-dup pairs a
    snapshot produced when it was ingested: its band rows join against the
    band rows of snapshots with lexicographically SMALLER ids (ingestion
    order, when ids are ordered like the streaming twin's zero-padded
    epoch ids — 'base' and 'compact-*' sort before 'e…') plus itself.

    This is the crash-recovery read for the streaming twin: an epoch that
    committed its index snapshot but died before writing its pairs output
    gets bit-identical pairs without re-signaturing anything (signatures
    are already in the index — comparability across runs is the pinned-
    hash contract). Also an audit op: re-derive any epoch's verdicts.

    ORDERING CAVEAT: "earlier" is lexicographic on snapshot ids. That
    matches ingestion order for the streaming twin's zero-padded epoch ids
    (and 'base'/'compact-*' sort before 'e…'), but NOT for the batch op's
    default random 's<uuid>' ids — an index mixing both schemes can make
    this recompute diverge from what the original ingestion emitted (a
    later-sorting batch snapshot is wrongly excluded). Use stable, sortable
    snapshot_ids on any index the streaming twin serves.

    The caveat is ENFORCED, not just documented: a committed snapshot that
    sorts after ``snapshot_id`` and carries the batch op's random
    ``s<hex12>`` scheme raises — its ingestion order is unknowable from
    the id, so the recompute could silently omit pairs (exactly the
    streaming crash-heal hazard). ``allow_unsorted_ids=True`` overrides
    for callers who know every later-sorting snapshot truly ingested
    later."""
    import re as _re

    p = {**INDEX_PARAMS, **params}
    snaps = committed_publish_ids(spark, path)
    if snapshot_id not in snaps:
        raise FileNotFoundError(f"snapshot {snapshot_id!r} not committed under {path}")
    earlier = [s for s in snaps if s < snapshot_id]
    unsorted_later = [
        s for s in snaps if s > snapshot_id and _re.fullmatch(r"s[0-9a-f]{12}", s)
    ]
    if unsorted_later and not allow_unsorted_ids:
        raise ValueError(
            f"pairs_for_snapshot({snapshot_id!r}): committed snapshots "
            f"{unsorted_later} sort after the target but use the batch op's "
            "RANDOM id scheme — their ingestion order is unknowable, so the "
            "recomputed pair set could silently miss pairs. Use stable "
            "sortable snapshot_ids on indexes the streaming twin serves, or "
            "pass allow_unsorted_ids=True if they genuinely ingested later."
        )
    bands = read_committed_table(spark, path, "bands", "snap")
    new_bands = bands.filter(F.col("snap") == snapshot_id).select(*_BAND_COLS)
    old_bands = bands.filter(F.col("snap").isin(earlier)).select(*_BAND_COLS)
    sigs = (
        read_committed_table(spark, path, "sigs", "snap")
        .filter(F.col("snap").isin(earlier + [snapshot_id]))
        .select(*_SIG_COLS)
    )
    return _pairs_of_new_vs_old(new_bands, old_bands, sigs, threshold, p["num_hashes"])
