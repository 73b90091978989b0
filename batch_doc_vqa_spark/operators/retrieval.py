"""BM25 full-text retrieval over the corpus — the lexical search tier next
to the embedding ANN family (`operators/similarity.py`): given a small table
of queries, return the top-k documents per query under Okapi BM25.

Why it lives here: a training-data pipeline queries its corpus constantly —
decontamination forensics ("which documents score highest against this
benchmark prompt?"), targeted quality audits, dedup cluster inspection.
Embedding ANN answers "semantically near"; BM25 answers "lexically near",
and at 10^12 documents it must run as an inverted-index JOIN, never a scan
per query.

Plan shape (the inverted-index formulation): the postings table
(doc, term, tf, dl) is ONE explode + one shuffle on (doc, term); the
document-frequency table is computed ONLY for the query's terms (postings
semi-joined to the broadcast query-term dimension first, so the term
aggregate never touches non-query terms); the score join is
postings ⋈ broadcast(per-term idf) ⋈ broadcast(query terms) — map-side, no
corpus shuffle beyond the postings build — then one (query, doc) aggregate
and a per-query top-k rank window. Queries are a SMALL dimension (that is
the operator's contract, like the ANN query side); the corpus is never
collected.

The build/query split (the ``ivfpq_build``/``ivfpq_query`` precedent): a
standing corpus pays the postings/vocabulary build ONCE —
``bm25_build`` → ``save_bm25_index`` (marker-committed, create-only) →
``load_bm25_index`` → ``bm25_query`` per query batch. The one-shot
``bm25_topk`` composes the same halves in a single plan (with the
query-restricted df optimization); the persisted path returns bit-identical
rows and shares its SQL oracle.

Numeric discipline (CLAUDE.md): per-(doc, term) contributions round to 6
then sum as decimal(18,6) — an order-free exact fold — and the final score
rounds to 6; idf's ``ln`` and avgdl's division are written with identical
expression trees in the DuckDB oracle (the `lm_perplexity` precedent shows
JVM and DuckDB ``ln`` agree at round-6 on this discipline); the top-k rank
always carries the integer doc id tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_RESERVED = ("_t", "_dl", "_term", "_tf", "_df", "_idf", "_n", "_avgdl", "_c", "_s")


def _check_reserved(df: DataFrame, where: str) -> None:
    reserved = [c for c in df.columns if c in _RESERVED]
    if reserved:
        raise ValueError(f"{where}: reserved column names in input: {reserved}")


def bm25_build(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: DataFrame | None = None,
) -> dict:
    """Build the BM25 index state — postings, per-term document
    frequencies, corpus stats. Returns a dict of DataFrames for
    ``bm25_query`` / ``save_bm25_index``.

    ``vocab`` (a ``_term`` frame) restricts the document-frequency table
    to those terms — the one-shot ``bm25_topk`` passes the query vocabulary
    so the term aggregate never touches non-query terms. A PERSISTED index
    leaves it None: the full vocabulary table IS the index (df values are
    identical either way — the restriction is by term, never by doc).
    """
    from .dedup import normalized_tokens

    _check_reserved(docs, "bm25_build")
    toks = docs.select(
        F.col(id_col), normalized_tokens(F.col(text_col)).alias("_t")
    ).withColumn("_dl", F.size("_t"))
    # corpus scalars ride as a one-row broadcast (the pagerank `mm`
    # pattern): N and avgdl stay in-plan, no driver round-trip
    stats = toks.agg(
        F.count(F.lit(1)).alias("_n"),
        F.round(F.sum("_dl") / F.count(F.lit(1)), 6).alias("_avgdl"),
    )
    # postings: ONE explode + one (doc, term) shuffle; dl is functionally
    # dependent on the doc id so grouping by it adds no key width in
    # practice and saves the join-back
    postings = (
        toks.select(id_col, "_dl", F.explode("_t").alias("_term"))
        .groupBy(id_col, "_dl", "_term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    src = postings.join(F.broadcast(vocab), "_term") if vocab is not None else postings
    terms = src.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
    return {
        "postings": postings,
        "terms": terms,
        "stats": stats,
        "id_col": id_col,
        "restricted": vocab is not None,
    }


def _qterms_of(queries: DataFrame, query_id_col: str, query_text_col: str) -> DataFrame:
    from .dedup import normalized_tokens

    return (
        queries.select(
            F.col(query_id_col),
            F.explode(normalized_tokens(F.col(query_text_col))).alias("_term"),
        )
        .distinct()
    )


def _score_and_rank(
    index: dict,
    qterms: DataFrame,
    query_id_col: str,
    k: int,
    k1: float,
    b: float,
    max_df_frac: float | None,
) -> DataFrame:
    """The scoring half shared by the one-shot and persisted paths: idf
    from the (query-restricted) df table, Lucene-style common-term pruning,
    the fan-out-last join order, exact-decimal score fold, tiebroken rank.
    """
    id_col = index["id_col"]
    dfreq = index["terms"].join(
        F.broadcast(qterms.select("_term").distinct()), "_term"
    )
    # avgdl (a global scalar) rides ON the tiny per-term idf frame so the
    # corpus-sized score join never cross-joins the one-row stats — the
    # only nested-loop in the plan is stats × dfreq (1 × |query terms|)
    keyed = dfreq.crossJoin(F.broadcast(index["stats"]))
    if max_df_frac is not None:
        if not 0.0 < max_df_frac <= 1.0:
            raise ValueError(f"bm25: max_df_frac must be in (0,1]: {max_df_frac}")
        keyed = keyed.filter(
            F.col("_df").cast("double") <= F.lit(float(max_df_frac)) * F.col("_n")
        )
    idf = keyed.select(
        "_term",
        F.round(
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("_df") + F.lit(0.5))
                / (F.col("_df") + F.lit(0.5))
            ),
            6,
        ).alias("_idf"),
        "_avgdl",
    )
    k1l, bl = F.lit(float(k1)), F.lit(float(b))
    tf = F.col("_tf").cast("double")
    dl = F.col("_dl").cast("double")
    contrib = F.round(
        F.col("_idf")
        * tf
        * (k1l + F.lit(1.0))
        / (tf + k1l * (F.lit(1.0) - bl + bl * dl / F.col("_avgdl"))),
        6,
    )
    # idf joins FIRST: it is inner and term-restricted, so it prunes the
    # postings stream to (surviving) query terms BEFORE the per-query
    # fan-out join multiplies rows by the queries containing each term
    scored = (
        index["postings"].join(F.broadcast(idf), "_term")
        .join(F.broadcast(qterms), "_term")
        .withColumn("_c", contrib)
        .groupBy(query_id_col, id_col)
        .agg(F.sum(F.col("_c").cast("decimal(18,6)")).cast("double").alias("_s"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_s").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.round("_s", 6).alias("score"),
            "rank",
        )
    )


def _check_query_args(
    queries: DataFrame, id_col: str, query_id_col: str, k: int, where: str
) -> None:
    _check_reserved(queries, where)
    if k < 1:
        raise ValueError(f"{where}: k must be >= 1: {k}")
    if query_id_col == id_col:
        raise ValueError(f"{where}: query_id_col must differ from id_col: {id_col!r}")


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_frac: float | None = None,
) -> DataFrame:
    """(query_id, doc_id, score, rank): top-``k`` documents per query under
    Okapi BM25 with ``idf = ln(1 + (N - df + 0.5) / (df + 0.5))`` (the
    Robertson-Sparck-Jones form with the +1 that keeps idf positive) and
    the standard tf saturation / length normalization:

        score(q, d) = Σ_t idf(t) · tf · (k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    over the distinct query terms t. Tokenization is the repo's shared
    ``normalized_tokens`` (lower + whitespace split), the same unit every
    text operator counts in. Repeated query terms count once (standard
    BM25 query form for short queries). Ties rank by ascending doc id.
    Documents matching no query term do not appear (score 0 rows are not
    emitted); a query with no indexed term returns no rows.

    ``max_df_frac``: drop query terms whose document frequency exceeds
    this fraction of the corpus from SCORING (Lucene-style common-term
    pruning). The score join's intermediate size is
    Σ_t df(t) · |queries containing t| — a stop-word-grade term shared by
    a query batch multiplies nearly the whole corpus by nearly the whole
    batch (`scripts/bm25_scale_probe.py` measures exactly this blow-up:
    9.3× at 1M docs), while contributing idf ≈ ln(1+1/1) ≈ 0 to any
    ranking. Surviving terms keep corpus-true idf/avgdl; a doc matching
    ONLY pruned terms drops out of the result set. None = exact full
    semantics (what the SQL oracle checks).
    """
    _check_reserved(docs, "bm25_topk")
    _check_query_args(queries, id_col, query_id_col, k, "bm25_topk")
    qterms = _qterms_of(queries, query_id_col, query_text_col)
    index = bm25_build(
        docs, id_col, text_col, vocab=qterms.select("_term").distinct()
    )
    return _score_and_rank(index, qterms, query_id_col, k, k1, b, max_df_frac)


def save_bm25_index(index: dict, path: str) -> None:
    """Persist the BM25 index (postings, vocabulary df table, corpus
    stats) behind the repo's marker-commit protocol: tables land first,
    one ``_committed/index`` marker makes them visible — a torn save is
    invisible to ``load_bm25_index``. CREATE-ONLY through the store helper
    ``save_ivfpq_index`` also uses (``plans.publish.save_index_store``):
    any committed marker at ``path`` refuses the save. The index must come
    from ``bm25_build(vocab=None)``
    — a query-restricted df table would silently miss terms for later
    query batches, so a restricted build is refused here.

    Upgrade path at 10^12 docs: write postings through
    ``plans.bucketed.write_bucketed`` keyed on ``_term`` so per-batch
    score joins are exchange-free; the plain parquet layout here keeps the
    local path dependency-free."""
    from ..plans.publish import save_index_store

    if index.get("restricted"):
        raise ValueError(
            "save_bm25_index: refuse to persist a query-restricted index "
            "(its df table misses every other term) — build with vocab=None"
        )
    save_index_store(
        index["postings"].sparkSession,
        path,
        {t: index[t].write for t in ("postings", "terms", "stats")},
        {"id_col": index["id_col"]},
    )


def load_bm25_index(spark: SparkSession, path: str) -> dict:
    """Load a persisted BM25 index for ``bm25_query``. Raises loudly when
    the marker is missing (torn save is invisible by design)."""
    from ..plans.publish import load_index_store

    meta, _ = load_index_store(spark, path)
    return {
        "postings": spark.read.parquet(f"{path}/postings"),
        "terms": spark.read.parquet(f"{path}/terms"),
        "stats": spark.read.parquet(f"{path}/stats"),
        "id_col": meta["id_col"],
    }


def bm25_query(
    index: dict,
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Query a built/loaded BM25 index — the per-batch half of the split.
    Same output contract and same rows as ``bm25_topk`` over the same
    corpus (persisted-path invariance is oracle-checked); per batch it
    pays only the broadcast-restricted score join, never the postings
    build."""
    _check_query_args(queries, index["id_col"], query_id_col, k, "bm25_query")
    qterms = _qterms_of(queries, query_id_col, query_text_col)
    return _score_and_rank(index, qterms, query_id_col, k, k1, b, max_df_frac)
