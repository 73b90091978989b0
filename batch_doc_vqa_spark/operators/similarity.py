"""Similarity search and near-dup detection over embedding columns
(array<float>), entirely in JVM-side column expressions except the k-means
fits.

Tiers, exact to compressed:

- exact: ``cosine_topk`` (broadcast queries × corpus scan) and
  ``embedding_dup_pairs`` (all pairs) — the small-scale oracles;
- LSH: ``lsh_cosine_topk`` / ``embedding_dup_pairs_lsh`` bucket by
  random-hyperplane sign signatures (a fixed seeded literal matrix), so
  each query scores only its colliding buckets;
- IVF: ``ivf_cosine_topk`` probes the ``nprobe`` coarse cells nearest each
  query; ``semdedup`` prunes near-dups within cells;
- PQ / IVF×PQ (IVFADC, Jégou et al. 2011): ``pq_topk`` and the
  ``ivfpq_build`` / ``ivfpq_query`` split (persisted via
  ``save_ivfpq_index`` / ``load_ivfpq_index`` / ``append_ivfpq_index``)
  rank by asymmetric distance over ``m`` sub-space codes, with an optional
  exact re-rank; ``train_pq_codebook`` / ``train_ivfpq_model`` swap the
  md5-sample models for k-means ones with zero plan change.

Every tier is built from one set of quantizer primitives, each defined
once so a tie-break, rounding or NaN rule has a single home:
``_nearest_centroid`` (cosine argmax / L2 argmin as a min(struct)),
``_subspace_dists`` (rounded per-sub-space distances to the codebook),
``_pq_encode`` (argmin code per sub-space, packed in m-order),
``_query_table`` (the per-query ADC lookup array), ``_adc_dist`` (the ADC
sum), ``_topk`` / ``_adc_search`` (per-query ranking with an optional exact
re-rank), ``_pq_codebook`` (supplied-or-md5-sample codebook),
``_fit_kmeans_groups`` (per-sub-space k-means), plus ``_sub_dim``
(the ``dim % m`` check) and ``_dbl`` (the array-to-double cast).

Models are data-derived (md5(id) order, parameter-derived seeds), never
task- or partition-derived, so every default model is reproducible by the
DuckDB oracles. At 100 TB the broadcast side is the *query* set (small);
the corpus stays partitioned and is scanned once per batch of queries.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_sim(a, b, digits: int = 6):
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), digits)


def _sq_l2(a, b):
    """Squared-L2 between two equal-length double arrays — elementwise
    (x−y)² then a LEFT fold, the IEEE-identical form a SQL oracle must use
    (same addends, same order → bit-identical sums)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, v: acc + v
    )


def _dbl(c):
    """array<float> → array<double>, so float-array inputs (the parquet
    embeddings are FLOAT[]) get the same IEEE math the oracle uses."""
    return F.transform(c, lambda x: x.cast("double"))


def _sub_dim(dim: int, m: int) -> int:
    if dim % m:
        raise ValueError("dim must divide into m sub-spaces")
    return dim // m


def _md5_key(id_col: str):
    """md5(id) — the deterministic, engine-portable order (md5 exists in
    both Spark and DuckDB) every default model and training sample draws
    from."""
    return F.md5(F.col(id_col).cast("string"))


def _md5_first(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """The ``n`` rows with the smallest md5(id)."""
    return df.orderBy(_md5_key(id_col)).limit(n)


def _topk(df: DataFrame, part: str, k: int, *order, col: str = "rank") -> DataFrame:
    """The first ``k`` rows per ``part`` under ``order`` (which must end in
    a unique tiebreak), numbered 1..k in ``col``."""
    w = Window.partitionBy(part).orderBy(*order)
    return df.withColumn(col, F.row_number().over(w)).filter(F.col(col) <= k)


def _nearest_centroid(
    df: DataFrame, cent: DataFrame, key: str, vec: str, cent_vec: str, metric: str, *payload
) -> DataFrame:
    """(key, _b) with ``_b = struct(d, c, payload…)`` of the nearest
    broadcast centroid per ``key`` — ``metric`` "l2" is the argmin of
    round(squared-L2, 6), "cos" the argmax of the rounded cosine (as the
    argmin of its exact negation).

    One map-side-combinable MIN over struct(dist, cent_id, payload…):
    (dist, cent_id) is unique per group, so ties break on cent_id and the
    trailing payloads are never compared; the corpus × centroid rows
    partial-aggregate BEFORE the exchange instead of shuffling into a
    per-vector sort window. NaN sorts last, as in the oracles' ORDER BY.

    A zero-norm vector or centroid makes the cosine divide by zero, which
    under the engine's ANSI session (``spark.sql.ansi.enabled``, the Spark
    4.1 default) raises DIVIDE_BY_ZERO — the input fails loudly rather than
    placing a NaN."""
    if metric == "cos":
        dist = -cosine_sim(F.col(vec), F.col(cent_vec))
    else:
        dist = F.round(_sq_l2(F.col(vec), F.col(cent_vec)), 6)
    return (
        df.crossJoin(F.broadcast(cent))
        .withColumn("_cd", dist)
        .groupBy(key)
        .agg(
            F.min(
                F.struct(F.col("_cd").alias("d"), F.col("cent_id").alias("c"), *payload)
            ).alias("_b")
        )
    )


def _residual(a, b):
    return F.zip_with(a, b, lambda x, y: x - y)


def _subvectors(df: DataFrame, keys: list, vec: str, m: int, sub: int, out: str) -> DataFrame:
    """One row per (keys…, m) carrying the m-th ``sub``-long slice of
    ``vec`` as ``out``."""
    ms = F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m")
    return df.select(*keys, F.col(vec).alias("_sv"), ms).select(
        *keys, "m", F.slice(F.col("_sv"), F.col("m") * sub + 1, sub).alias(out)
    )


def _subspace_dists(
    df: DataFrame, keys: list, vec: str, cbm: DataFrame, m: int, sub: int
) -> DataFrame:
    """Every sub-vector of ``vec`` against every code of its sub-space in
    the broadcast codebook ``cbm`` (code, m, _cs): adds (m, code, dist)
    with dist = round(squared-L2, 6) — rounded BEFORE every argmin and
    lookup (cross-engine float discipline)."""
    return (
        _subvectors(df, keys, vec, m, sub, "_vs")
        .join(F.broadcast(cbm), "m")
        .withColumn("dist", F.round(_sq_l2(F.col("_vs"), F.col("_cs")), 6))
    )


def _packed(field: str, *order: str):
    """collect_list(``field``) as one array sorted by ``order``."""
    return F.transform(
        F.sort_array(F.collect_list(F.struct(*order, field))), lambda s: s[field]
    )


def _pq_encode(df: DataFrame, keys: list, vec: str, cbm: DataFrame, m: int, sub: int) -> DataFrame:
    """(keys…, _codes): the nearest code of each sub-vector of ``vec``,
    packed in m-order. The per-(keys, m) argmin is min(struct(dist, code))
    — ties break on code, and partial (map-side) aggregation collapses the
    ×n_codes scored rows before the exchange, with no window sort."""
    return (
        _subspace_dists(df, keys, vec, cbm, m, sub)
        .groupBy(*keys, "m")
        .agg(F.min(F.struct("dist", "code")).alias("_mc"))
        .select(*keys, "m", F.col("_mc.code").alias("code"))
        .groupBy(*keys)
        .agg(_packed("code", "m").alias("_codes"))
    )


def _query_table(
    df: DataFrame, keys: list, vec: str, cbm: DataFrame, m: int, sub: int
) -> DataFrame:
    """(keys…, _qd): the ADC lookup table of ``vec`` — its full (m, code)
    distance table packed as one array in (m, code) order, so position =
    m·n_codes + code (1-based codes)."""
    return (
        _subspace_dists(df, keys, vec, cbm, m, sub)
        .groupBy(*keys)
        .agg(_packed("dist", "m", "code").alias("_qd"))
    )


def _adc_dist(m: int, n_codes: int):
    """The asymmetric distance: the ``_qd`` lookups at each of the ``m``
    ``_codes``, folded in fixed m-order (never a float sum through an
    order-free aggregate), rounded to 6."""
    return F.round(
        F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(
                F.col("_qd"), (i * n_codes + F.element_at(F.col("_codes"), i + 1)).cast("int")
            ),
        ),
        6,
    )


def _adc_search(
    cand: DataFrame,
    qd: DataFrame,
    vecs: DataFrame | None,
    id_col: str,
    q_id_col: str,
    m: int,
    n_codes: int,
    k: int,
    rerank: int,
) -> DataFrame:
    """Rank ``cand`` (code rows joined with their query tables) by ADC.

    ``rerank=0``: (q_id, neighbor_id, approx_dist, rank) top-k. ``rerank=R``
    is the standard ADC→exact pipeline: the R-deep approximate shortlist
    fetches its TRUE vectors from ``vecs`` (id, _v) and re-ranks by exact
    squared-L2 against ``qd`` (q_id, _q); output gains ``exact_dist``. The
    R×Q shortlist broadcasts (small by construction), so the vector fetch
    is a map-side semi-join — never a corpus shuffle."""
    adc = cand.filter(F.col(id_col) != F.col(q_id_col)).select(
        q_id_col,
        F.col(id_col).alias("neighbor_id"),
        _adc_dist(m, n_codes).alias("approx_dist"),
    )
    by_approx = (F.asc("approx_dist"), F.asc("neighbor_id"))
    if not rerank:
        return _topk(adc, q_id_col, k, *by_approx)
    shortlist = _topk(adc, q_id_col, rerank, *by_approx, col="_rn").drop("_rn")
    exact = (
        vecs.select(F.col(id_col).alias("neighbor_id"), F.col("_v").alias("_nv"))
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qd), q_id_col)
        .withColumn("exact_dist", F.round(_sq_l2(F.col("_nv"), F.col("_q")), 6))
    )
    return _topk(exact, q_id_col, k, F.asc("exact_dist"), F.asc("neighbor_id")).select(
        q_id_col, "neighbor_id", "approx_dist", "exact_dist", "rank"
    )


def _pq_codebook(
    codebook: DataFrame | None,
    src: DataFrame,
    id_col: str,
    vec: str,
    n_codes: int,
    m: int,
    sub: int,
    where: str,
) -> tuple[DataFrame, int]:
    """(cbm: (code, m, _cs), n_codes). A supplied (m, code, center) model
    — e.g. ``train_pq_codebook`` output — is validated and used as is (zero
    plan change downstream). Otherwise the md5-sample codebook: the ``vec``
    slices of the ``n_codes`` md5-smallest ``src`` rows, code = md5 rank.
    A source smaller than ``n_codes`` yields a short codebook, and the ADC
    position arithmetic must use the ACTUAL size, so it is counted."""
    if codebook is not None:
        cbm = codebook.select(
            "code", "m", F.col("center").alias("_cs")
        ).localCheckpoint(eager=True)
        return cbm, _validate_codebook(cbm, m, where)
    cb = (
        _md5_first(src, id_col, n_codes)
        .withColumn("code", F.row_number().over(Window.orderBy(_md5_key(id_col))))
        .localCheckpoint(eager=True)  # ≤ n_codes rows; also fixes the count
    )
    return _subvectors(cb, ["code"], vec, m, sub, "_cs"), cb.count()


def _training_sample(
    corpus: DataFrame, id_col: str, vec_col: str, sample_size: int, corpus_hint: int | None
) -> DataFrame:
    """(_ord = md5(id), _v) of the ``sample_size`` md5-smallest docs — the
    data-derived, partition-independent training sample."""
    keyed = corpus.select(_md5_key(id_col).alias("_ord"), _dbl(F.col(vec_col)).alias("_v"))
    return _md5_presample(keyed, F.col("_ord"), sample_size, corpus_hint)


def _fit_kmeans_groups(rows: DataFrame, k: int, iters: int, base_seed: int) -> DataFrame:
    """(m, code, center) from (_ord, m, _vs) rows: one k-means per group
    ``m`` (a sub-space, or the single m=0 group of full vectors for coarse
    centroids), one ``applyInPandas`` group each. Rows are re-sorted by the
    md5 key INSIDE the group (Spark hands groups in arbitrary row order,
    and k-means++ draws row indices, so order is model identity); the
    group's seed is ``base_seed + m``, from parameters, never from
    task/partition ids."""

    def fit(pdf):
        import pandas as pd

        from ..functions.kmeans import kmeans_fit

        pdf = pdf.sort_values("_ord")
        X = np.array(pdf["_vs"].tolist(), dtype=np.float64)
        mm = int(pdf["m"].iloc[0])
        C = kmeans_fit(X, k, iters, base_seed + mm)
        return pd.DataFrame(
            {
                "m": mm,
                "code": np.arange(1, len(C) + 1),
                "center": [[float(x) for x in c] for c in C],
            }
        )

    return rows.groupBy("m").applyInPandas(fit, "m int, code int, center array<double>")


def _validate_codebook(cbm: DataFrame, m: int, where: str) -> int:
    """The ADC position arithmetic (pos = i*n_codes + code, 1-based codes)
    requires every sub-space to carry codes exactly 1..n_codes with the
    same count per m — a user-supplied codebook with ragged per-m counts or
    non-contiguous codes would silently shift the flattened ``_qd`` lookup
    positions and produce wrong approximate distances. Checked at every
    acceptance point (``pq_topk(codebook=)``, ``ivfpq_build(codebook=)``,
    ``load_ivfpq_index``); the codebook is broadcast-size (m·n_codes rows)
    so the one collect here costs the same as the old max(code) lookup it
    replaces. Returns the validated n_codes."""
    stats = (
        cbm.groupBy("m")
        .agg(
            F.count("*").alias("n"),
            F.min("code").alias("lo"),
            F.max("code").alias("hi"),
            F.countDistinct("code").alias("nd"),
        )
        .collect()
    )
    if sorted(r["m"] for r in stats) != list(range(m)):
        raise ValueError(
            f"{where}: codebook must carry every sub-space m=0..{m - 1} "
            f"(got m={sorted(r['m'] for r in stats)})"
        )
    counts = {r["n"] for r in stats}
    if len(counts) != 1 or any(
        r["lo"] != 1 or r["hi"] != r["n"] or r["nd"] != r["n"] for r in stats
    ):
        raise ValueError(
            f"{where}: codebook codes must be contiguous 1..n_codes with the "
            "same count in every sub-space (per-m (min, max, count): "
            f"{sorted((r['m'], r['lo'], r['hi'], r['n']) for r in stats)})"
        )
    return counts.pop()


def _cosine_rank(
    cand: DataFrame, k: int, id_col: str, vec_col: str, q_id_col: str, q_vec_col: str
) -> DataFrame:
    """Exact cosine over (query, candidate) rows, top-k per query."""
    scored = cand.select(
        F.col(q_id_col),
        F.col(id_col).alias("neighbor_id"),
        cosine_sim(F.col(vec_col), F.col(q_vec_col)).alias("cosine"),
    )
    return _topk(scored, q_id_col, k, F.desc("cosine"), F.asc("neighbor_id"))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k by cosine: broadcast queries × corpus scan + window rank."""
    joined = corpus.crossJoin(F.broadcast(queries)).filter(F.col(id_col) != F.col(q_id_col))
    return _cosine_rank(joined, k, id_col, vec_col, q_id_col, q_vec_col)


def hyperplane_signature(vec_col: str, dim: int, n_planes: int = 16, seed: int = 11):
    """Sign-bit LSH signature as a JVM-side expression over a literal matrix.

    ``vec_col`` is a COLUMN NAME (or SQL fragment yielding array<double>);
    the whole signature is emitted as ONE parsed SQL expression. Building it
    Column-by-Column costs n_tables × n_planes × dim py4j round trips of
    driver time per query construction (measured ~3 s for 6×8×64 — more
    than the query's execution); one ``F.expr`` parse is a single round
    trip for the identical resolved expression tree: same ``aggregate ∘
    zip_with`` left-to-right IEEE fold, same double literals (repr is the
    shortest round-trip form, and the 'D' suffix parses it exactly), same
    sign-bit CASE — so signatures are bit-identical to the old form and to
    the DuckDB twin (``_hyperplane_sig_sql``).
    """
    if not isinstance(vec_col, str):
        raise TypeError("hyperplane_signature: pass the vector column NAME")
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_planes, dim))
    vec = f"`{vec_col}`" if vec_col.isidentifier() else vec_col
    sig = None
    for p in range(n_planes):
        lits = ", ".join(f"{float(x)!r}D" for x in planes[p])
        dot = (
            f"aggregate(zip_with({vec}, array({lits}), (x, y) -> x * y),"
            f" 0.0D, (acc, v) -> acc + v)"
        )
        bit = f"(CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END)"
        sig = bit if sig is None else f"({sig} * 2 + {bit})"
    return F.expr(sig)


def _lsh_signatures(vec_col: str, dim: int, n_planes: int, n_tables: int):
    """(_t, _sig) rows: ``n_tables`` independent sign-bit signatures
    (different seeded planes), one row per table."""
    sigs = F.array(
        *[hyperplane_signature(vec_col, dim, n_planes, seed=11 + t) for t in range(n_tables)]
    )
    return F.posexplode(sigs).alias("_t", "_sig")


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 3,
    n_planes: int = 6,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH.

    ``n_tables`` independent sign-bit signatures (different seeded planes);
    a corpus vector is a candidate for a query if they collide in ANY table.
    Candidates are deduped before the (expensive) exact cosine, then ranked.
    Recall vs ``cosine_topk`` is asserted in tests. The shuffle key is
    (table, signature) — corpus-linear; the query side broadcasts.
    """
    c = corpus.select("*", _lsh_signatures(vec_col, dim, n_planes, n_tables))
    q = queries.select("*", _lsh_signatures(q_vec_col, dim, n_planes, n_tables))
    cand = (
        c.join(F.broadcast(q), ["_t", "_sig"])
        .filter(F.col(id_col) != F.col(q_id_col))
        .dropDuplicates([q_id_col, id_col])
    )
    return _cosine_rank(cand, k, id_col, vec_col, q_id_col, q_vec_col)


def embedding_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ threshold).

    All-pairs — quadratic, the small-scale *oracle* tier (mirrors
    ``dedup.jaccard_pairs``' role); at corpus scale use
    ``embedding_dup_pairs_lsh``, which buckets first.
    """
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_sim(F.col("_va"), F.col("_vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_dup_pairs_lsh(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-path embedding near-dup: hyperplane-LSH bucket self-join, then
    exact-cosine verify of candidates only. Shuffle key (table, signature) —
    corpus-linear; high-cosine pairs collide in some table with high
    probability (recall vs the exact tier asserted in tests)."""
    # the self-join + dedup move only (id, table, signature) — 3 longs per
    # row; vectors rejoin AFTER candidate dedup (the minhash_lsh_pairs
    # shape), so the exchanges never carry the dim-double payload
    banded = corpus.select(
        F.col(id_col).alias("_id"),
        _lsh_signatures(vec_col, dim, n_planes, n_tables),
    ).localCheckpoint(eager=True)  # signatures computed once for both sides
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._t") == F.col("b._t"))
            & (F.col("a._sig") == F.col("b._sig"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine_sim(F.col("_va"), F.col("_vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into ``n_centroids`` cells,
    probe only the ``nprobe`` cells nearest each query, exact-rank within.

    Centroids are the corpus vectors with the smallest md5(vec_id) — a
    deterministic, engine-portable pseudo-random sample (md5 exists in both
    Spark and DuckDB, so the oracle reproduces the exact same model); a
    k-means refinement would drop in here without changing the plan shape.
    Everything is in-plan: centroid selection, assignment (broadcast argmax
    aggregate), probing, and ranking — no driver-side collect.
    """
    cent = _md5_first(corpus, id_col, n_centroids).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
    )
    assign = _nearest_centroid(
        corpus, cent, id_col, vec_col, "cent_vec", "cos", F.col(vec_col).alias("v")
    ).select(id_col, F.col("_b.v").alias(vec_col), F.col("_b.c").alias("cent_id"))
    probe = _topk(
        queries.crossJoin(F.broadcast(cent)).withColumn(
            "_cs", cosine_sim(F.col(q_vec_col), F.col("cent_vec"))
        ),
        q_id_col, nprobe, F.desc("_cs"), F.asc("cent_id"), col="_rn",
    ).select(q_id_col, q_vec_col, "cent_id")
    cand = probe.join(assign, "cent_id").filter(F.col(id_col) != F.col(q_id_col))
    return _cosine_rank(cand, k, id_col, vec_col, q_id_col, q_vec_col)


_PRESAMPLE_OVERSHOOT = 16  # expected survivors = OVERSHOOT × sample_size


def _md5_presample(df: DataFrame, md5_col, sample_size: int, corpus_hint: int | None):
    """The ``sample_size`` md5-smallest rows WITHOUT a corpus-wide global
    top-N (VERDICT r5 #4): when the caller supplies ``corpus_hint`` (an
    approximate row count — catalog stats, a lineage counter, last run's
    size), a map-side ``md5 < threshold`` filter keeps only the smallest
    ~OVERSHOOT·sample_size/corpus_hint fraction BEFORE the sort, so the
    TakeOrderedAndProject heap sees a bounded remainder instead of every
    row. BIT-IDENTICAL by construction: the n smallest values below a
    threshold that keeps ≥ n survivors ARE the n smallest overall — and md5
    is uniform, so a 16× overshoot makes a shortfall astronomically
    unlikely; a wrong hint degrades to the exact unfiltered sort, never to
    a different sample. Data-derived and partition-independent throughout
    (unlike ``DataFrame.sample``, whose per-partition RNG would tie the
    model to the physical partitioning)."""
    ordered = df.orderBy("_ord").limit(sample_size)
    if not corpus_hint or corpus_hint <= _PRESAMPLE_OVERSHOOT * sample_size:
        return ordered
    frac = _PRESAMPLE_OVERSHOOT * sample_size / corpus_hint
    thr = format(min(0xFFFFFFFFFFFF, int(frac * 16**12) + 1), "012x")
    fast = df.filter(md5_col < thr).orderBy("_ord").limit(sample_size)
    fast = fast.localCheckpoint(eager=True)
    if fast.count() >= sample_size:
        return fast
    return ordered  # hint was badly wrong — exact fallback, same output


def train_ivfpq_model(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    iters: int = 20,
    seed: int = 11,
    corpus_hint: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """K-means-trained IVF×PQ model: (centroids, residual_codebook) for
    ``ivfpq_build(centroids=..., codebook=...)`` — zero plan change
    downstream, same discipline as ``train_pq_codebook`` (data-derived
    sample + seeds, in-group re-sort, lexicographically stable labels).

    Training runs entirely on the md5-smallest ``sample_size`` docs
    (``corpus_hint`` enables the bit-identical map-side prefilter —
    ``_md5_presample``): one single-group k-means over full vectors for
    the coarse centroids, then the SAME sample assigned to those centroids
    through the build's own ``_ivfpq_assign``, then one k-means per
    sub-space over the sample residuals. Iterative ⇒ not SQL-expressible;
    contracts are pytest-verified (capture + determinism).

    Returns (centroids: (cent_id, cent_vec), codebook: (m, code, center)).
    Trained centroids are synthetic points (cent_id = 1..K), so
    ``ivfpq_build`` skips its centroid-doc codebook exclusion for them.
    """
    sub = _sub_dim(dim, m)
    samp = _training_sample(corpus, id_col, vec_col, sample_size, corpus_hint)
    samp = samp.localCheckpoint(eager=True)  # two consumers: centroid fit + residuals
    cents = (
        _fit_kmeans_groups(
            samp.select("_ord", F.lit(0).alias("m"), F.col("_v").alias("_vs")),
            n_centroids, iters, seed,
        )
        .select(F.col("code").cast("long").alias("cent_id"), F.col("center").alias("cent_vec"))
        .localCheckpoint(eager=True)
    )
    # the build's own assignment, keyed on the md5 order: same rounding and
    # (dist, cent_id) tiebreak as every indexed vector
    residuals = _ivfpq_assign(
        samp, cents.select("cent_id", F.col("cent_vec").alias("_cv")), "_ord"
    )
    rows = _subvectors(residuals, ["_ord"], "_r", m, sub, "_vs")
    return cents, _fit_kmeans_groups(rows, n_codes, iters, seed * 1000)


def _ivfpq_assign(corpus_d: DataFrame, cent: DataFrame, id_col: str) -> DataFrame:
    """(id, cent_id, _r residual) — nearest-centroid assignment by
    round(squared-L2, 6) with a cent_id tiebreak, ONE shared definition for
    the trainer, the build and the append (an append that re-derived its
    own assignment could drift from the build's rounding/tiebreak and
    silently place the same vector in a different cell)."""
    return _nearest_centroid(
        corpus_d, cent, id_col, "_v", "_cv", "l2",
        F.col("_cv").alias("cv"), F.col("_v").alias("v"),
    ).select(
        id_col,
        F.col("_b.c").alias("cent_id"),
        _residual(F.col("_b.v"), F.col("_b.cv")).alias("_r"),
    )


def ivfpq_build(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> dict:
    """Build the IVF×PQ index state — the ONE-TIME cost a production
    deployment pays offline and persists: the centroid table, the shared
    residual codebook, and the inverted lists ``(vec_id, cent_id, m
    codes)``. Returns a dict of DataFrames + parameters for
    ``ivfpq_query``; persist ``index['codes']`` (ideally partitioned or
    bucketed by ``cent_id``) and every later query batch pays only the
    probe-bounded search cost — the build/query split is the operational
    point of the index (the 1M-vector probe measures them separately).

    ``centroids``/``codebook`` accept a k-means model from
    ``train_ivfpq_model`` — zero plan change; defaults stay the
    deterministic md5-sample model (the SQL-oracle-checkable one).
    """
    sub = _sub_dim(dim, m)
    corpus_d = corpus.select(id_col, _dbl(F.col(vec_col)).alias("_v"))
    sampled_centroids = centroids is None
    if sampled_centroids:
        cent = _md5_first(corpus_d, id_col, n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col("_v").alias("_cv")
        )
    else:
        cent = centroids.select("cent_id", F.col("cent_vec").alias("_cv"))
    cent = cent.localCheckpoint(eager=True)  # ≤ n_centroids rows, two consumers
    # assignment + residuals: one corpus pass, broadcast argmin
    assign = _ivfpq_assign(corpus_d, cent, id_col).localCheckpoint(
        eager=True  # residuals feed codebook + encoding
    )
    # shared residual codebook (sample; train_ivfpq_model trains it).
    # With SAMPLED centroids, centroid docs are excluded: each is its own
    # nearest centroid, so its residual is the ZERO vector — and the
    # smallest-md5 docs are exactly the centroid picks (same ordering),
    # which would collapse the whole codebook to zeros and every doc to one
    # code. Trained centroids are synthetic points (cent_id 1..K, no doc is
    # its own centroid), so no exclusion.
    cb_src = assign
    if sampled_centroids:
        cb_src = assign.join(
            F.broadcast(cent.select(F.col("cent_id").alias(id_col))), id_col, "left_anti"
        )
    cbm, n_codes = _pq_codebook(codebook, cb_src, id_col, "_r", n_codes, m, sub, "ivfpq_build")
    return {
        "cent": cent,
        "cbm": cbm,
        "codes": _pq_encode(assign, [id_col, "cent_id"], "_r", cbm, m, sub),
        "corpus_d": corpus_d,
        "m": m,
        "n_codes": n_codes,
        "sub": sub,
        "id_col": id_col,
    }


def save_ivfpq_index(index: dict, path: str) -> None:
    """Persist the index state (centroids, codebook, inverted lists) behind
    the repo's marker-commit protocol (``plans.publish.save_index_store``,
    shared with ``save_bm25_index``): all three tables land, then one
    ``_committed/index`` marker makes them visible — a torn write is
    invisible to ``load_ivfpq_index``. The codes table is written
    partitioned by ``cent_id`` so a loaded index's ADC join can prune at
    the directory level (and a bucketed write would make it
    exchange-free).

    CREATE-ONLY: refuses a path holding ANY committed marker — a committed
    index, or another store whose data the torn-attempt cleanup must never
    delete. Refresh by saving to a NEW versioned path and flipping the
    pointer your jobs read (or delete the old path explicitly once its
    readers drain)."""
    from ..plans.publish import save_index_store

    save_index_store(
        index["codes"].sparkSession,
        path,
        {
            "cent": index["cent"].write,
            "cbm": index["cbm"].write,
            "codes": index["codes"].write.partitionBy("cent_id"),
        },
        {k: index[k] for k in ("m", "n_codes", "sub", "id_col")},
    )


def append_ivfpq_index(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    snapshot_id: str | None = None,
    vec_col: str = "embedding",
) -> str:
    """Grow a persisted IVF×PQ index WITHOUT a rebuild — the operation a
    10^12-doc deployment runs per crawl snapshot. The model (centroids +
    codebook) is IMMUTABLE post-build: new vectors pay only the
    encode-side cost (one assignment pass against the broadcast centroids,
    one PQ encode against the broadcast codebook — the same shared
    ``_ivfpq_assign``/``_pq_encode`` definitions the build uses, so an
    appended vector gets bit-identical codes to a rebuilt one), written as
    a marker-committed snapshot ``codes_snap/<id>`` partitioned by
    ``cent_id`` — the dedup-index protocol: a torn append is invisible to
    ``load_ivfpq_index``, re-running a failed append with the same
    snapshot_id is idempotent (overwrite data, marker create is the
    commit), and ``commit_marker`` refuses mid-maintenance. Quantization
    drift is the caller's policy knob: after enough appends the frozen
    model under-fits the grown corpus — rebuild to a NEW versioned path
    and flip the pointer (``save_ivfpq_index``'s create-only stance).

    Returns the snapshot id. Caller contract: appended ids are disjoint
    from already-indexed ids (same as the dedup index's re-crawl rule)."""
    import uuid as _uuid

    from ..plans.publish import commit_marker

    index = load_ivfpq_index(spark, path)
    snap = snapshot_id or "s" + _uuid.uuid4().hex[:12]
    id_col = index["id_col"]
    corpus_d = corpus.select(id_col, _dbl(F.col(vec_col)).alias("_v"))
    assign = _ivfpq_assign(corpus_d, index["cent"], id_col)
    codes = _pq_encode(assign, [id_col, "cent_id"], "_r", index["cbm"], index["m"], index["sub"])
    codes.write.mode("overwrite").partitionBy("cent_id").parquet(
        f"{path}/codes_snap/{snap}"
    )
    commit_marker(spark, path, f"snap-{snap}")
    return snap


def load_ivfpq_index(spark: SparkSession, path: str, corpus: DataFrame | None = None,
                     vec_col: str = "embedding") -> dict:
    """Load a persisted IVF×PQ index for ``ivfpq_query``. Raises loudly if
    the marker is missing (torn save). ``corpus`` re-attaches the true
    vectors (same id column) — required only when querying with
    ``rerank>0``; code-resolution-only search needs no corpus at all (but
    must cover appended snapshots too when given). The codes table is the
    base build UNION every committed ``append_ivfpq_index`` snapshot —
    uncommitted (torn) appends are invisible."""
    from ..plans.publish import load_index_store

    meta, markers = load_index_store(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    for mname in sorted(m for m in markers if m.startswith("snap-")):
        codes = codes.unionByName(
            spark.read.parquet(f"{path}/codes_snap/{mname[len('snap-'):]}")
        )
    index = {
        "cent": spark.read.parquet(f"{path}/cent"),
        "cbm": spark.read.parquet(f"{path}/cbm"),
        "codes": codes,
        "corpus_d": None,
        **meta,
    }
    # a hand-edited or foreign store must not silently corrupt ADC lookups
    if _validate_codebook(index["cbm"], meta["m"], "load_ivfpq_index") != meta["n_codes"]:
        raise ValueError(
            f"load_ivfpq_index: meta.json n_codes={meta['n_codes']} does not "
            f"match the stored codebook at {path}"
        )
    if corpus is not None:
        index["corpus_d"] = corpus.select(meta["id_col"], _dbl(F.col(vec_col)).alias("_v"))
    return index


def ivfpq_query(
    index: dict,
    queries: DataFrame,
    nprobe: int = 4,
    k: int = 3,
    rerank: int = 0,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """The per-batch search half of IVF×PQ: probe ``nprobe`` cells, build
    per-(query, cell) ADC lookup tables (broadcast), and rank ONLY the codes
    of the probed cells — the cell-restricted join on ``cent_id`` is the
    pruning. ``rerank=R`` fetches R true vectors per query for exact
    re-ranking. Cost is probe-bounded: nothing here scans the corpus."""
    if rerank and index.get("corpus_d") is None:
        raise ValueError(
            "rerank>0 needs the true vectors: pass corpus= to load_ivfpq_index "
            "(a loaded index carries only centroids/codebook/codes)"
        )
    id_col = index["id_col"]
    # probe: nprobe nearest cells per query, with per-cell query residuals
    qd = queries.select(q_id_col, _dbl(F.col(q_vec_col)).alias("_q"))
    probe = _topk(
        qd.crossJoin(F.broadcast(index["cent"])).withColumn(
            "_cd", F.round(_sq_l2(F.col("_q"), F.col("_cv")), 6)
        ),
        q_id_col, nprobe, "_cd", "cent_id", col="_rn",
    ).select(q_id_col, "cent_id", _residual(F.col("_q"), F.col("_cv")).alias("_qr"))
    qtab = _query_table(
        probe, [q_id_col, "cent_id"], "_qr", index["cbm"], index["m"], index["sub"]
    )
    # cell-restricted ADC: the join key IS the pruning — a query only meets
    # the codes of its probed cells (contrast pq_topk's full crossJoin)
    return _adc_search(
        index["codes"].join(F.broadcast(qtab), "cent_id"), qd, index["corpus_d"],
        id_col, q_id_col, index["m"], index["n_codes"], k, rerank,
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    k: int = 3,
    dim: int = 64,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF×PQ — the standard billion-to-trillion-scale ANN index (IVFADC,
    Jégou et al. 2011): coarse cells prune the search, residual product
    quantization compresses what remains. This composition removes the last
    scale-killer the flat tiers carry: ``pq_topk``'s ADC scans EVERY code
    row per query; here a query's ADC touches only the codes of its
    ``nprobe`` probed cells — cost is probe-bounded (nprobe/n_centroids of
    the corpus per query), and the per-doc footprint stays ``m`` small ints.

    One-shot convenience over the production pair ``ivfpq_build`` (one-time,
    persist the inverted lists) + ``ivfpq_query`` (per batch,
    probe-bounded) — composing them is plan-identical to this call.

    Deterministic, engine-portable model (the discipline of
    ``ivf_cosine_topk``/``pq_topk``): centroids are the ``n_centroids``
    corpus vectors with smallest md5(vec_id); the ONE shared PQ codebook is
    the residuals of the ``n_codes`` smallest-md5 docs (k-means refinement
    of either drops in without changing the plan). Assignment and probing
    use squared-L2 (the residual metric); every distance rounds to 6 before
    each argmin/rank; ADC folds in fixed m-order.

    Scale shape — all joins are keyed or broadcast, nothing scans the
    corpus per query:

    - assignment: one corpus pass against the broadcast centroid set;
      persisted state is (vec_id, cent_id, m codes) — the inverted lists;
    - query side: probe table is queries × nprobe rows; the per-(query,
      cell) distance tables (m·n_codes lookups each) BROADCAST;
    - ADC: ``codes ⋈ qtab on cent_id`` — the cell-restricted scan. With the
      codes table bucketed/partitioned by cent_id this join is
      exchange-free on the big side;
    - ``rerank=R`` fetches true vectors for R rows per query (never the
      corpus) and re-ranks by exact squared-L2, exactly as ``pq_topk``.

    Output: (q_id, neighbor_id, approx_dist[, exact_dist], rank).
    """
    index = ivfpq_build(corpus, n_centroids, m, n_codes, dim, id_col, vec_col)
    return ivfpq_query(index, queries, nprobe, k, rerank, q_id_col, q_vec_col)



def train_pq_codebook(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 2048,
    iters: int = 20,
    seed: int = 11,
    corpus_hint: int | None = None,
) -> DataFrame:
    """K-means-trained PQ codebook: (m, code, center) — drop-in for
    ``pq_topk``'s ``codebook=`` with zero plan change downstream
    (VERDICT r4 #7: the md5-sample codebook's capture bound is honest but
    low; trained centers raise recall).

    Determinism without an oracle-expressible closed form (k-means is
    iterative — this operator is pytest-verified, not DuckDB-oracled):

    - the training sample is the ``sample_size`` docs with smallest
      md5(id) — data-derived, partition-independent;
    - one ``applyInPandas`` group per sub-space; rows are re-sorted by the
      md5 key INSIDE the group (Spark hands groups in arbitrary row order,
      and k-means++ draws row indices, so order is model identity);
    - per-sub-space seed = ``seed·1000 + m`` — from parameters and data
      shape, never from task/partition ids;
    - ``functions.kmeans.kmeans_fit`` sorts final centers lexicographically
      and rounds to 6, so code labels are stable bit-for-bit.

    Scale shape: training touches only the sample; with ``corpus_hint``
    (an approximate corpus row count) the md5-smallest selection runs
    behind a map-side ``md5 < threshold`` prefilter (``_md5_presample``) —
    bit-identical output, but the global top-N heap sees a bounded
    remainder instead of every corpus row. The fit is m tiny single-group
    fits; the model is m·n_codes rows — broadcast-size by construction.
    """
    sub = _sub_dim(dim, m)
    samp = _training_sample(corpus, id_col, vec_col, sample_size, corpus_hint)
    return _fit_kmeans_groups(
        _subvectors(samp, ["_ord"], "_v", m, sub, "_vs"), n_codes, iters, seed * 1000
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    k: int = 3,
    dim: int = 64,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN (IVFADC's compression half): vectors encode
    as ``m`` sub-space codebook indices; queries rank neighbors by the
    asymmetric-distance sum of per-sub-space lookup tables — the memory tier
    that makes billion-vector search fit in RAM (a 64-float vector becomes
    ``m`` bytes).

    Deterministic, engine-portable model (same discipline as
    ``ivf_cosine_topk``): the codebook is the ``n_codes`` corpus vectors
    with smallest md5(vec_id) — per sub-space, their slices; k-means
    refinement drops in without changing the plan. All sub-distances round
    to 6 BEFORE every argmin/rank (cross-engine float discipline), and the
    ADC sum folds the per-sub-space lookups in fixed m-order — never a
    float sum through an order-free aggregate.

    Scale shape: encoding is corpus × (m·n_codes) map-side rows against a
    broadcast codebook — one pass, one min(struct) argmin keyed (vec, m);
    persisted codes are ``m`` small ints per doc. Query time touches the
    corpus only through the codes table: the distance tables (queries ×
    m·n_codes) broadcast, and ranking is the standard per-query window.

    Output: (q_id, neighbor_id, approx_dist, rank) — smaller is closer.
    ``codebook=`` accepts a trained model from ``train_pq_codebook``
    (columns m, code, center) — zero plan change; the default stays the
    deterministic md5-sample model because only it is SQL-oracle-checkable.
    ``rerank=R`` enables the standard ADC→exact pipeline: the R-deep
    approximate shortlist fetches its TRUE vectors (R rows per query, not
    the corpus) and re-ranks by exact squared-L2 — output gains
    ``exact_dist`` and recall becomes shortlist-capture-bounded instead of
    code-resolution-bounded. Untrained sample codebooks already capture a
    substantial share of the true top-5 (the committed test asserts ≥0.6 at
    m=8/dim=16/R=30; the entry query runs m=16/n_codes=16/R=40, measured
    ~0.8-0.86 capture at R=40-50 on the sf0.01 fixture); k-means-trained
    codebooks raise that without changing any plan. Vectors are cast to
    double internally so float-array inputs (the parquet embeddings are
    FLOAT[]) get the same IEEE math the oracle uses.
    """
    sub = _sub_dim(dim, m)
    corpus_d = corpus.select(id_col, _dbl(F.col(vec_col)).alias("_v"))
    qd = queries.select(q_id_col, _dbl(F.col(q_vec_col)).alias("_q"))
    cbm, n_codes = _pq_codebook(codebook, corpus_d, id_col, "_v", n_codes, m, sub, "pq_topk")
    codes = _pq_encode(corpus_d, [id_col], "_v", cbm, m, sub)
    qtab = _query_table(qd, [q_id_col], "_q", cbm, m, sub)
    return _adc_search(
        codes.crossJoin(F.broadcast(qtab)), qd, corpus_d, id_col, q_id_col, m, n_codes, k, rerank
    )


def semdedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv 2303.09540): semantic
    deduplication for LLM training data — cluster the embedding space, then
    prune near-duplicates WITHIN clusters only, keeping the member of each
    near-dup group with the LOWEST cosine to its centroid (the paper's
    diversity-preserving choice; id ascending as the deterministic tie).

    Returns (id, cent_id, cluster_id, cos_to_centroid, keep, group_size):
    cent_id = the coarse cell, cluster_id = the near-dup component (min
    reachable id via ``dedup.resolve_clusters``), keep = paper rule.

    Scale shape: centroids default to the ``n_centroids`` md5-smallest
    corpus vectors (deterministic + engine-portable — the
    ``ivf_cosine_topk`` precedent); pass ``centroids`` (cent_id, cent_vec)
    to use a trained model instead (e.g. ``kmeans.kmeans_fit`` output) —
    the plan shape is identical;
    assignment is one broadcast-centroid argmax pass; the pairwise scan is
    keyed on cent_id so its cost is Σ|cell|² — n_centroids scales WITH the
    corpus to bound cells (the paper's regime), and the quadratic stays
    inside cells instead of the corpus. Pair emission feeds the shared
    pointer-jumping component resolver (candidate-size frames only).
    """
    if centroids is not None:
        missing = {"cent_id", "cent_vec"} - set(centroids.columns)
        if missing:
            raise ValueError(f"semdedup: centroids frame missing {sorted(missing)}")
        cent = centroids.select("cent_id", "cent_vec")
    else:
        cent = _md5_first(corpus, id_col, n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
        )
    assign = (
        _nearest_centroid(
            corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
            cent, "_id", "_v", "cent_vec", "cos", F.col("_v").alias("v"),
        )
        # precompute each vector's norm ONCE here: the within-cell pair
        # scan below evaluates Σ|cell|² cosines, and recomputing the norm
        # HOF per PAIR costs two extra array folds per comparison. The
        # value is the same _norm expression, so round(dot/(na*nb), 6) is
        # bit-identical to cosine_sim on the pair.
        .select(
            "_id",
            F.col("_b.v").alias("_v"),
            F.col("_b.c").alias("cent_id"),
            (-F.col("_b.d")).alias("cos_to_centroid"),
            _norm(F.col("_b.v")).alias("_nv"),
        )
        .localCheckpoint(eager=False)  # reused: pair scan + keep ranking
    )
    a, b = assign.alias("a"), assign.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .filter(
            F.round(
                _dot(F.col("a._v"), F.col("b._v")) / (F.col("a._nv") * F.col("b._nv")),
                6,
            )
            >= threshold
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
    )
    from .dedup import resolve_clusters

    cc = resolve_clusters(corpus.select(id_col), pairs, id_col=id_col)
    w_keep = Window.partitionBy("cluster_id").orderBy(
        F.asc("cos_to_centroid"), F.asc("id")
    )
    w_size = Window.partitionBy("cluster_id")
    return (
        cc.join(
            assign.select(
                F.col("_id").alias("id"), "cent_id", "cos_to_centroid"
            ),
            "id",
        )
        .withColumn("keep", F.row_number().over(w_keep) == F.lit(1))
        .withColumn("group_size", F.count(F.lit(1)).over(w_size))
        .select(
            F.col("id").alias(id_col),
            "cent_id",
            "cluster_id",
            "cos_to_centroid",
            "keep",
            "group_size",
        )
    )
