"""Dedup & similarity operators: exact semantics on handcrafted corpora and
approximate-tier recall measured against the exact oracles."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from batch_doc_vqa_spark.operators import dedup, similarity

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi".split()


def _doc(rng: random.Random, n: int = 60) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


@pytest.fixture(scope="module")
def corpus(spark):
    """40 base docs + 10 near-dups (small perturbations) + 5 exact dups."""
    rng = random.Random(13)
    docs = [(i, _doc(rng)) for i in range(40)]
    near = []
    for j in range(10):
        base_id, base = docs[j]
        words = base.split()
        words[5] = "changed"
        near.append((100 + j, " ".join(words)))
    exact = [(200 + j, docs[j][1]) for j in range(5)]
    return spark.createDataFrame(docs + near + exact, "doc_id long, text string")


def test_exact_dedup(corpus):
    groups = dedup.exact_dedup(corpus, "doc_id", "text")
    dup_groups = groups.filter(F.col("n_dups") > 1).collect()
    assert len(dup_groups) == 5
    assert all(r["n_dups"] == 2 and r["canonical_id"] < 5 for r in dup_groups)
    assert groups.agg(F.sum("n_dups")).collect()[0][0] == 55


def test_jaccard_finds_near_dups(corpus):
    pairs = dedup.jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for j in range(10):
        assert (j, 100 + j) in got  # one word changed → high jaccard
    for j in range(5):
        assert (j, 200 + j) in got  # exact dup → jaccard 1.0
    ones = {r["jaccard"] for r in pairs.filter(F.col("id_a") < 5).filter(F.col("id_b") >= 200).collect()}
    assert ones == {1.0}


def test_minhash_lsh_recall_vs_exact(corpus):
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(corpus, "doc_id", "text", 3, 0.5).collect()
    }
    cand = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(corpus, "doc_id", "text", 3, 64, 16).collect()
    }
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} on {len(exact)} true pairs"


def test_minhash_estimates_jaccard(corpus):
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(corpus, "doc_id", "text", 3, 64, 16).collect()
    }
    for j in range(5):
        if (j, 200 + j) in est:
            assert est[(j, 200 + j)] == 1.0  # identical docs → identical signatures


def test_simhash_near_dups(corpus):
    pairs = dedup.simhash_pairs(corpus, "doc_id", "text", max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    for j in range(5):
        assert got.get((j, 200 + j)) == 0  # exact dups → distance 0
    hits = sum(1 for j in range(10) if (j, 100 + j) in got)
    assert hits >= 7  # one-word perturbations stay within hamming 10


def test_simhash_cross_impl_pair_sets_match(corpus):
    """udf (pinned md5 token hash) and sql (JVM hash) impls find the same
    pair set — signature bits differ, Hamming semantics must not."""
    udf = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_pairs(corpus, "doc_id", "text", max_hamming=12, impl="udf").collect()}
    sql = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_pairs(corpus, "doc_id", "text", max_hamming=12, impl="sql").collect()}
    # exact dups are hash-independent: distance 0 under ANY token hash
    for j in range(5):
        assert udf[(j, 200 + j)] == 0 and sql[(j, 200 + j)] == 0
    # one-word perturbations: both impls must recall most (their hamming
    # VALUES differ — only the semantics, small distance, is hash-free)
    assert sum(1 for j in range(10) if (j, 100 + j) in udf) >= 7
    assert sum(1 for j in range(10) if (j, 100 + j) in sql) >= 7


def test_dedup_resolve_lsh_matches_exact_composition(corpus):
    """The 100 TB composition (minhash→resolve→keep-one) agrees with the
    exact-tier composition on a corpus where banding recall is exact
    (near-identical clusters collide in every band)."""
    exact = {r["id"]: r for r in dedup.dedup_resolve(corpus, "doc_id", "text", threshold=0.5).collect()}
    lsh = {r["id"]: r for r in dedup.dedup_resolve_lsh(corpus, "doc_id", "text", threshold=0.5).collect()}
    assert set(exact) == set(lsh)  # same id universe incl. singletons
    # exact dups must cluster identically under both tiers
    for j in range(5):
        assert lsh[200 + j]["cluster_id"] == j == exact[200 + j]["cluster_id"]
        assert not lsh[200 + j]["keep"] and lsh[j]["keep"]
    # keep-exactly-one invariant per cluster
    from collections import Counter

    per_cluster = Counter(r["cluster_id"] for r in lsh.values() if r["keep"])
    assert all(v == 1 for v in per_cluster.values())
    assert len(per_cluster) == len({r["cluster_id"] for r in lsh.values()})


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(5)
    rows = []
    for i in range(50):
        rows.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    # vec 100 = vec 0 scaled (cosine 1.0); vec 101 = vec 1 + tiny noise
    rows.append((100, [2.0 * x for x in rows[0][1]]))
    rows.append((101, [x + 0.01 for x in rows[1][1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_exact(vectors):
    queries = vectors.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top = similarity.cosine_topk(vectors, queries, k=1)
    best = {r["q_id"]: (r["neighbor_id"], r["cosine"]) for r in top.collect()}
    assert best[0][0] == 100 and best[0][1] == 1.0
    assert best[1][0] == 101 and best[1][1] > 0.999


def test_lsh_topk_recall(vectors):
    queries = vectors.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(vectors, queries, k=3).collect()
    }
    approx = {
        (r["q_id"], r["neighbor_id"])
        for r in similarity.lsh_cosine_topk(
            vectors, queries, dim=16, k=3, n_planes=4, n_tables=8
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall {recall}"
    # the scaled-copy pair must collide (same signs → same bucket)
    assert (0, 100) in approx


def test_short_and_empty_docs_yield_empty_shingles(spark):
    """Docs with fewer than n tokens must not crash (Spark's sequence(1,0) is
    the descending [1,0], not empty — regression for the slice guard)."""
    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "exactly three tokens"),
         (5, None), (6, "   "), (7, "a much longer document with plenty of tokens here")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: list(r["sh"])
        for r in df.select(
            "doc_id", dedup.word_shingles(F.col("text")).alias("sh")
        ).collect()
    }
    assert rows[1] == [] and rows[2] == [] and rows[6] == []
    assert rows[4] == ["exactly three tokens"]
    assert len(rows[7]) > 0
    # the pair pipelines must run end-to-end over a corpus containing shorties
    pairs = dedup.jaccard_pairs(df, "doc_id", "text", threshold=0.0)
    assert pairs.count() >= 0
    lsh = dedup.minhash_lsh_pairs(df, "doc_id", "text")
    assert lsh.count() >= 0
    sims = dedup.minhash_signatures(df, "doc_id", "text")
    assert sims.count() == sum(1 for v in rows.values() if v)  # only docs with shingles


def test_resolve_clusters_transitive_chain(spark):
    """A-B and B-C edges must land A,B,C in one cluster even without an A-C
    edge (multi-hop label propagation), singletons resolve to themselves."""
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 9]], "doc_id long")
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    got = {r["id"]: r["cluster_id"] for r in dedup.resolve_clusters(ids, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 9: 9}


def test_dedup_resolve_keep_one(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("delta", "changed")
    df = spark.createDataFrame(
        [(10, base), (11, base), (12, near), (20, "totally different text with many other words here")],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in dedup.dedup_resolve(df, "doc_id", "text", threshold=0.3).collect()}
    assert rows[10]["cluster_id"] == 10 and rows[10]["keep"]
    assert rows[11]["cluster_id"] == 10 and not rows[11]["keep"]
    assert rows[12]["cluster_id"] == 10 and not rows[12]["keep"]
    assert rows[10]["cluster_size"] == 3
    assert rows[20]["keep"] and rows[20]["cluster_size"] == 1


def test_simhash_banding_schemes_equivalent(spark, corpus):
    """Both banding schemes are pigeonhole-sound for Hamming <= 3, so they
    must emit the *identical* verified pair set; pair13 just has ~2^10
    smaller buckets for the 10^12-doc regime."""
    a = {(r["id_a"], r["id_b"]) for r in
         dedup.simhash_pairs(corpus, "doc_id", "text", scheme="chunk16").collect()}
    b = {(r["id_a"], r["id_b"]) for r in
         dedup.simhash_pairs(corpus, "doc_id", "text", scheme="pair13").collect()}
    assert a == b and len(a) > 0


def test_embedding_dup_pairs_exact_and_lsh_recall(vectors):
    """Exact tier finds the two planted near-dup pairs; the LSH tier recovers
    them (high-cosine pairs collide in some table with high probability)."""
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in similarity.embedding_dup_pairs(vectors, threshold=0.95).collect()}
    assert (0, 100) in exact and exact[(0, 100)] == 1.0
    assert (1, 101) in exact and exact[(1, 101)] > 0.99
    lsh = {(r["id_a"], r["id_b"])
           for r in similarity.embedding_dup_pairs_lsh(vectors, dim=16, threshold=0.95).collect()}
    true_pairs = set(exact)
    recall = len(true_pairs & lsh) / len(true_pairs)
    assert recall >= 0.9, f"LSH dup recall {recall} on {len(true_pairs)} pairs"
    assert lsh <= true_pairs  # verify step: no sub-threshold pairs survive


def test_ivf_topk_recall_vs_exact(vectors):
    queries = vectors.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r["q_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(vectors, queries, k=3).collect()}
    ivf = {(r["q_id"], r["neighbor_id"])
           for r in similarity.ivf_cosine_topk(vectors, queries, n_centroids=8, nprobe=4, k=3).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall}"
    # the planted duplicates are each query's top neighbor in both
    assert (0, 100) in ivf and (1, 101) in ivf


def test_minhash_max_bucket_caps_megabuckets(spark, corpus):
    """max_bucket=None is exact banding; a generous cap keeps all true pairs
    (near-dups share rare bands); a cap of 1 kills every bucket."""
    full = {(r["id_a"], r["id_b"]) for r in
            dedup.minhash_lsh_pairs(corpus, "doc_id", "text").collect()}
    capped = {(r["id_a"], r["id_b"]) for r in
              dedup.minhash_lsh_pairs(corpus, "doc_id", "text", max_bucket=10).collect()}
    assert capped <= full
    # the planted near/exact dup pairs collide in low-population bands too
    planted = {(j, 100 + j) for j in range(10)} | {(j, 200 + j) for j in range(5)}
    assert planted & full == planted & capped
    none_left = dedup.minhash_lsh_pairs(corpus, "doc_id", "text", max_bucket=1).count()
    assert none_left == 0


def test_resolve_clusters_long_chain_converges(spark):
    """A 200-node path graph has diameter 199: plain min-label propagation
    would need 199 rounds; pointer jumping converges within max_iter=30."""
    n = 200
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"] for r in dedup.resolve_clusters(ids, pairs).collect()}
    assert got == {i: 0 for i in range(n)}


def test_duplicate_spans_positions_and_interval_merge(spark):
    """Exact substring dedup: shared runs merge into maximal spans with
    correct 1-based token positions; disjoint shared blocks stay separate."""
    shared = " ".join(f"s{i}" for i in range(1, 11))  # 10 shared tokens
    docs = [
        (1, shared + " uniq1a uniq1b"),
        (2, shared + " uniq2a uniq2b"),
        (3, "pre3 " + shared),                         # span shifted right by 1
        (4, "totally different words only here now"),  # no dup windows
        (5, shared + " gap1 gap2 gap3 gap4 gap5 " + shared),  # two spans
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = dedup.duplicate_spans(df, "doc_id", "text", k=4, min_docs=2)
    spans = {}
    for r in out.collect():
        spans.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"], r["n_windows"]))
    for d in spans:
        spans[d].sort()
    assert spans[1] == [(1, 10, 7)]
    assert spans[3] == [(2, 11, 7)]
    assert 4 not in spans
    assert spans[5] == [(1, 10, 7), (16, 25, 7)]


def test_remove_duplicate_spans_slices_tokens(spark):
    shared = " ".join(f"s{i}" for i in range(1, 11))
    docs = [
        (1, shared + " keep1 keep2"),
        (2, shared + " keep3 keep4"),
        (3, "solo words that stay untouched"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    spans = dedup.duplicate_spans(df, "doc_id", "text", k=4, min_docs=2)
    out = {r["doc_id"]: r["text"]
           for r in dedup.remove_duplicate_spans(df, spans, "doc_id", "text").collect()}
    assert out[1] == "keep1 keep2"
    assert out[2] == "keep3 keep4"
    assert out[3] == "solo words that stay untouched"  # byte-identical passthrough


def test_max_bucket_cap_recall_bound_on_boilerplate_megacluster(spark):
    """VERDICT r3 #8: quantify the max_bucket recall loss empirically on a
    seeded adversarial fixture, at two cap values.

    Fixture: a 40-doc boilerplate mega-cluster (large shared text + tiny
    unique tails → every band bucket holds ~40 docs) and 30 planted rare
    near-dup pairs (unique texts, bucket size 2). Asserts the documented
    bound ("recall loss is confined to pairs whose ONLY colliding bands are
    mega-buckets") as a SET property, not prose: a pair is lost under cap c
    iff all of its colliding band buckets exceed c.
    """
    rng = random.Random(1234)
    words = [f"w{k}" for k in range(500)]
    boiler = " ".join(rng.choice(words) for _ in range(120))
    rows = []
    for i in range(40):  # mega-cluster: shared boilerplate + 3 unique words
        rows.append((f"mega{i:02d}", boiler + " " + " ".join(rng.choice(words) for _ in range(3))))
    rare_pairs = set()
    for j in range(30):  # rare true near-dups: unique base, one word changed
        base = " ".join(rng.choice(words) for _ in range(60))
        w = base.split()
        w[7] = "changed"
        rows.append((f"rareA{j:02d}", base))
        rows.append((f"rareB{j:02d}", " ".join(w)))
        rare_pairs.add((f"rareA{j:02d}", f"rareB{j:02d}"))
    for u in range(40):  # background uniques
        rows.append((f"uniq{u:02d}", " ".join(rng.choice(words) for _ in range(60))))
    df = spark.createDataFrame(rows, "doc_id string, text string")

    def pairs(cap):
        out = dedup.minhash_lsh_pairs(df, "doc_id", "text", n=3, num_hashes=64,
                                      bands=16, max_bucket=cap)
        return {(r["id_a"], r["id_b"]) for r in
                out.filter(F.col("est_jaccard") >= 0.5).collect()}

    uncapped = pairs(None)
    assert rare_pairs <= uncapped  # ground truth present
    mega_uncapped = {p for p in uncapped if p[0].startswith("mega")}
    assert len(mega_uncapped) > 500  # the quadratic blowup the cap exists for

    # cap ≥ cluster size: zero recall loss
    assert pairs(50) == uncapped

    # tight cap: rare pairs all survive; loss confined to mega-bucket-only pairs
    capped10 = pairs(10)
    assert rare_pairs <= capped10
    lost = uncapped - capped10
    assert lost and lost <= mega_uncapped

    # the documented bound, checked against the actual bucket sizes: a pair
    # is lost iff NONE of its colliding band buckets is ≤ cap
    sigs = dedup.minhash_signatures(df, "doc_id", "text", 3, 64, 7, "xxhash64")
    banded = dedup.banded_rows(sigs, 64, 16, "xxhash64")
    sizes = banded.groupBy("band_idx", "band_hash").agg(F.count(F.lit(1)).alias("bn"))
    b2 = banded.join(sizes, ["band_idx", "band_hash"])
    a, b = b2.alias("a"), b2.alias("b")
    colliding = (
        a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                  & (F.col("a.band_hash") == F.col("b.band_hash"))
                  & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.min("a.bn").alias("min_bucket"))
    )
    min_bucket = {(r["id_a"], r["id_b"]): r["min_bucket"] for r in colliding.collect()}
    for p in uncapped:
        if p in lost:
            assert min_bucket[p] > 10, p      # lost ⇒ every colliding bucket mega
        else:
            assert min_bucket[p] <= 10, p     # kept ⇒ some rare band collided
    # quantified recall at cap=10 on the adversarial fixture, for the record:
    # rare-pair recall 1.0; mega-cluster recall is the price of the cap
    mega_recall = 1 - len(lost) / len(mega_uncapped)
    assert 0.0 <= mega_recall < 1.0


def test_pq_topk_shortlist_and_rerank(vectors):
    """PQ ADC: codes are deterministic, the re-ranked output is exact-L2
    ordered, and shortlist capture of the true top-k is substantial even
    with untrained sample codebooks."""
    emb = vectors
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = similarity.pq_topk(emb, q, m=8, n_codes=16, k=5, dim=16, rerank=30)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r)
    exact = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "d",
            similarity._sq_l2(
                F.transform("embedding", lambda x: x.cast("double")),
                F.transform("q_vec", lambda x: x.cast("double")),
            ),
        )
    )
    from pyspark.sql import Window as W

    ex = exact.withColumn(
        "r", F.row_number().over(W.partitionBy("q_id").orderBy(F.asc("d"), F.asc("vec_id")))
    ).filter("r <= 5")
    true_top = {}
    for r in ex.collect():
        true_top.setdefault(r["q_id"], set()).add(r["vec_id"])
    hits = total = 0
    for qid, lst in per_q.items():
        assert [r["rank"] for r in sorted(lst, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
        # output ordered by exact distance
        ds = [r["exact_dist"] for r in sorted(lst, key=lambda r: r["rank"])]
        assert ds == sorted(ds)
        hits += len(true_top[qid] & {r["neighbor_id"] for r in lst})
        total += len(true_top[qid])
    assert hits / total >= 0.6  # untrained codebooks; trained ones do better
    # determinism under partitioning
    again = similarity.pq_topk(emb.repartition(7), q, m=8, n_codes=16, k=5, dim=16, rerank=30)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))


def test_pq_topk_small_corpus_degrades_gracefully(spark):
    """A corpus smaller than n_codes must shrink the codebook and keep the
    ADC position arithmetic consistent — not index past the lookup table."""
    import random as _r

    rng = _r.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.limit(2).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = similarity.pq_topk(emb, q, m=4, n_codes=16, k=3, dim=16).collect()
    assert len(out) == 6  # 2 queries × top-3, no INVALID_ARRAY_INDEX
    assert all(r["approx_dist"] >= 0 for r in out)


def test_ivfpq_topk_capture_and_cell_restriction(vectors):
    """IVF×PQ (VERDICT r4 #2): the composed index is probe-bounded — a
    query's ADC touches only its nprobe cells' codes — while shortlist
    capture tracks flat PQ at equal R, approaching it as nprobe grows and
    matching it at full probe."""
    emb = vectors
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    from pyspark.sql import Window as W

    exact = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("d", similarity._sq_l2("embedding", "q_vec"))
        .withColumn(
            "r", F.row_number().over(W.partitionBy("q_id").orderBy(F.asc("d"), F.asc("vec_id")))
        )
        .filter("r <= 5")
    )
    true_top = {(r["q_id"], r["vec_id"]) for r in exact.collect()}

    def capture(df):
        got = {(r["q_id"], r["neighbor_id"]) for r in df.collect()}
        return len(true_top & got) / len(true_top)

    kw = dict(n_centroids=8, m=8, n_codes=16, k=5, dim=16, rerank=30)
    flat = capture(similarity.pq_topk(emb, q, m=8, n_codes=16, k=5, dim=16, rerank=30))
    caps = {
        npb: capture(similarity.ivfpq_topk(emb, q, nprobe=npb, **kw)) for npb in (2, 4, 8)
    }
    assert caps[2] >= 0.6 and caps[4] >= 0.8 and caps[8] >= 0.9
    assert caps[2] <= caps[4] <= caps[8]          # capture grows with probes
    assert caps[8] >= flat - 1e-9                 # full probe matches flat PQ

    out = similarity.ivfpq_topk(emb, q, nprobe=4, **kw)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["q_id"], []).append(r)
    for lst in per_q.values():
        srt = sorted(lst, key=lambda r: r["rank"])
        assert [r["rank"] for r in srt] == [1, 2, 3, 4, 5]
        ds = [r["exact_dist"] for r in srt]
        assert ds == sorted(ds)  # re-ranked output is exact-L2 ordered
    # determinism under partitioning (seeds/orders are data-derived)
    again = similarity.ivfpq_topk(emb.repartition(7), q, nprobe=4, **kw)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
    # the scale contract: no per-query corpus scan — every join is keyed or
    # broadcast, never a Cartesian product
    plan = out.sparkSession._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan


def test_trained_pq_codebook_capture_and_determinism(vectors):
    """K-means-trained codebooks (VERDICT r4 #7) drop into pq_topk with zero
    plan change: capture >= 0.9 at the committed R=30 config, ADC-only
    ranking strictly improves on the md5-sample codebook, and the model is
    bit-identical under repartitioning (seeds/orders are data-derived)."""
    from pyspark.sql import Window as W

    emb = vectors
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("d", similarity._sq_l2("embedding", "q_vec"))
        .withColumn(
            "r", F.row_number().over(W.partitionBy("q_id").orderBy(F.asc("d"), F.asc("vec_id")))
        )
        .filter("r <= 5")
    )
    true_top = {(r["q_id"], r["vec_id"]) for r in exact.collect()}

    def capture(df):
        got = {(r["q_id"], r["neighbor_id"]) for r in df.collect()}
        return len(true_top & got) / len(true_top)

    cbk = similarity.train_pq_codebook(
        emb, m=8, n_codes=16, dim=16, iters=20, seed=11
    ).localCheckpoint(eager=True)
    assert cbk.count() == 8 * 16  # m sub-spaces × n_codes centers

    # the committed R=30 bound, now with the trained model
    trained_r30 = capture(
        similarity.pq_topk(emb, q, m=8, n_codes=16, k=5, dim=16, rerank=30, codebook=cbk)
    )
    assert trained_r30 >= 0.9
    # training must beat the sample codebook where codebook quality shows:
    # pure-ADC ranking (no exact re-rank to hide code distortion)
    sample_adc = capture(similarity.pq_topk(emb, q, m=8, n_codes=16, k=5, dim=16))
    trained_adc = capture(
        similarity.pq_topk(emb, q, m=8, n_codes=16, k=5, dim=16, codebook=cbk)
    )
    assert trained_adc > sample_adc, (trained_adc, sample_adc)

    # model determinism under partitioning (k-means rows re-sorted by the
    # md5 key inside each group; per-sub-space seed is data-shape-derived)
    cbk2 = similarity.train_pq_codebook(
        emb.repartition(7), m=8, n_codes=16, dim=16, iters=20, seed=11
    )
    assert sorted(map(tuple, cbk.collect())) == sorted(map(tuple, cbk2.collect()))


def test_kmeans_kernel_degenerate_inputs():
    import numpy as np

    from batch_doc_vqa_spark.functions.kmeans import kmeans_fit

    # k > n degrades to n centers
    X = np.array([[0.0, 0.0], [1.0, 1.0]])
    C = kmeans_fit(X, 5, seed=1)
    assert len(C) == 2
    # all-identical points: no division by zero, single effective center
    X2 = np.ones((10, 3))
    C2 = kmeans_fit(X2, 4, seed=2)
    assert np.allclose(C2, 1.0)
    # determinism for fixed seed
    X3 = np.random.RandomState(5).standard_normal((50, 4))
    assert np.array_equal(kmeans_fit(X3, 8, seed=3), kmeans_fit(X3, 8, seed=3))


def test_trained_ivfpq_model_contracts(spark):
    """train_ivfpq_model (k-means centroids + residual codebook) drops into
    ivfpq_build with zero plan change, keeps high capture on clustered data
    at a tight probe budget, and is bit-deterministic under repartitioning.

    NOTE the honest scope: at toy scale, sampled centroids on tightly
    clustered data are already near-optimal (any in-cluster doc ~is the
    cluster center), so trained-beats-sample is NOT asserted for centroids
    — that advantage appears with real scale/structure. The codebook-level
    trained-beats-sample claim IS asserted (flat-PQ ADC test above)."""
    import random as _r

    from pyspark.sql import Window as W

    rng = _r.Random(21)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(8)]
    rows = []
    i = 0
    for ctr in centers:
        for _ in range(15):
            rows.append((i, [x + rng.gauss(0, 0.15) for x in ctr]))
            i += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("d", similarity._sq_l2("embedding", "q_vec"))
        .withColumn(
            "r", F.row_number().over(W.partitionBy("q_id").orderBy(F.asc("d"), F.asc("vec_id")))
        )
        .filter("r <= 5")
    )
    true_top = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    kw = dict(n_centroids=8, m=8, n_codes=16, dim=16)
    cents, cbk = similarity.train_ivfpq_model(emb, **kw, iters=20, seed=11)
    out = similarity.ivfpq_query(
        similarity.ivfpq_build(emb, **kw, centroids=cents, codebook=cbk),
        q, nprobe=2, k=5, rerank=30,
    )
    got = out.collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r["q_id"], []).append(r)
    assert all(len(v) == 5 for v in per_q.values())  # zero-plan-change: full k
    capture = len(true_top & {(r["q_id"], r["neighbor_id"]) for r in got}) / len(true_top)
    assert capture >= 0.9, capture
    c2, cb2 = similarity.train_ivfpq_model(emb.repartition(7), **kw, iters=20, seed=11)
    assert sorted(map(tuple, cents.collect())) == sorted(map(tuple, c2.collect()))
    assert sorted(map(tuple, cbk.collect())) == sorted(map(tuple, cb2.collect()))


def test_kmeans_recovers_all_clusters_from_duplicate_heavy_input():
    """Empty clusters reseed to DISTINCT farthest points: duplicate-heavy
    input with exactly k value groups must yield k distinct centers, never
    fused duplicates (review r5: same-argmax reseeding lost code slots)."""
    import numpy as np

    from batch_doc_vqa_spark.functions.kmeans import kmeans_fit

    X = np.array([[0.0, 0.0]] * 5 + [[10.0, 10.0]] * 5 + [[20.0, 20.0]] * 5)
    for seed in range(8):
        C = kmeans_fit(X, 3, seed=seed)
        assert len(np.unique(np.round(C, 6), axis=0)) == 3, (seed, C)


def test_ivfpq_index_save_load_roundtrip(vectors, tmp_path):
    """The persisted build/query split: save commits atomically (torn saves
    invisible), a loaded index answers queries identically to the in-memory
    one, and rerank without re-attached vectors fails loudly."""
    import os

    emb = vectors
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    kw = dict(n_centroids=8, m=8, n_codes=16, dim=16)
    index = similarity.ivfpq_build(emb, **kw)
    path = str(tmp_path / "ivfpq")
    similarity.save_ivfpq_index(index, path)
    expected = sorted(
        map(tuple, similarity.ivfpq_query(index, q, nprobe=4, k=5, rerank=30).collect())
    )
    spark = emb.sparkSession
    loaded = similarity.load_ivfpq_index(spark, path, corpus=emb)
    got = sorted(
        map(tuple, similarity.ivfpq_query(loaded, q, nprobe=4, k=5, rerank=30).collect())
    )
    assert got == expected
    # rerank without the corpus fails loudly, code-resolution search works
    bare = similarity.load_ivfpq_index(spark, path)
    with pytest.raises(ValueError, match="rerank"):
        similarity.ivfpq_query(bare, q, nprobe=4, k=5, rerank=30).collect()
    assert similarity.ivfpq_query(bare, q, nprobe=4, k=5).count() == q.count() * 5
    # create-only: re-saving over a committed index refuses (destructive-
    # first overwrite would destroy the only good copy mid-rebuild)
    with pytest.raises(FileExistsError):
        similarity.save_ivfpq_index(index, path)
    # torn save invisible: drop the marker → load refuses, and a retry
    # save over the TORN state succeeds
    os.remove(f"{path}/_committed/index")
    with pytest.raises(FileNotFoundError):
        similarity.load_ivfpq_index(spark, path)
    similarity.save_ivfpq_index(index, path)
    assert similarity.load_ivfpq_index(spark, path)["m"] == 8


def test_save_ivfpq_index_refuses_foreign_committed_store(vectors, spark, tmp_path):
    """A path committed under ANY marker id — here another writer's
    published run — refuses the save, and the refusal must not delete the
    foreign committed data (the torn-attempt cleanup is for unmarked paths
    only)."""
    import os

    from batch_doc_vqa_spark.plans.publish import commit_marker

    foreign = str(tmp_path / "foreign")
    spark.createDataFrame([(1,)], "x long").write.parquet(
        f"{foreign}/published/run_id=run1"
    )
    commit_marker(spark, foreign, "run1")
    index = similarity.ivfpq_build(vectors, n_centroids=4, m=4, n_codes=4, dim=16)
    with pytest.raises(FileExistsError, match="committed data"):
        similarity.save_ivfpq_index(index, foreign)
    assert os.path.exists(f"{foreign}/_committed/run1")
    assert spark.read.parquet(f"{foreign}/published/run_id=run1").count() == 1


def test_codebook_shape_validated_at_every_acceptance_point(vectors, spark):
    """ADVICE r5 (low): the ADC position arithmetic assumes every sub-space
    carries codes 1..n_codes contiguously with equal counts — a ragged or
    shifted user codebook must raise at acceptance, not silently corrupt
    the flattened lookup positions."""
    queries = vectors.filter(F.col("vec_id").isin(0, 1)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    good = similarity.train_pq_codebook(vectors, m=4, n_codes=4, dim=16)
    # ragged: drop one code from sub-space m=0
    ragged = good.filter(~((F.col("m") == 0) & (F.col("code") == 4)))
    with pytest.raises(ValueError, match="contiguous"):
        similarity.pq_topk(vectors, queries, m=4, n_codes=4, k=3, dim=16,
                           codebook=ragged).collect()
    # non-contiguous: codes shifted to 2..5 in one sub-space
    shifted = good.withColumn(
        "code",
        F.when(F.col("m") == 1, F.col("code") + 1).otherwise(F.col("code")),
    )
    with pytest.raises(ValueError, match="contiguous"):
        similarity.ivfpq_build(vectors, n_centroids=4, m=4, dim=16,
                               codebook=shifted)
    # missing sub-space entirely
    missing = good.filter(F.col("m") != 2)
    with pytest.raises(ValueError, match="every sub-space"):
        similarity.pq_topk(vectors, queries, m=4, n_codes=4, k=3, dim=16,
                           codebook=missing).collect()
    # the valid model still flows through unchanged
    ok = similarity.pq_topk(vectors, queries, m=4, n_codes=4, k=3, dim=16,
                            codebook=good)
    assert ok.count() > 0


def test_trainer_kernels_mirror_spark_trainers_bit_exactly(spark):
    """The pure-Python trainer mirrors (functions.pq_train) must reproduce
    the Spark trainers bit-for-bit on the seeded fixture — they are the
    kernel-as-oracle halves the trained-quantizer DuckDB oracles embed as
    VALUES."""
    from batch_doc_vqa_spark.functions.pq_train import (
        train_ivfpq_model_kernel,
        train_pq_codebook_kernel,
    )
    from batch_doc_vqa_spark.sources.vectors_fixture import (
        TRAIN_SAMPLE,
        trained_sample_df,
        trained_sample_rows,
    )

    rows = trained_sample_rows()
    fx = trained_sample_df(spark)
    kw = dict(m=16, n_codes=16, dim=64, sample_size=TRAIN_SAMPLE, iters=20, seed=11)

    cb_spark = sorted(
        (r["m"], r["code"], list(r["center"]))
        for r in similarity.train_pq_codebook(fx, **kw).collect()
    )
    assert cb_spark == sorted(train_pq_codebook_kernel(rows, **kw))
    assert len(cb_spark) == 16 * 16  # no collapsed codes on the fixture

    cents_s, cb_s = similarity.train_ivfpq_model(fx, n_centroids=16, **kw)
    cents_k, cb_k = train_ivfpq_model_kernel(rows, n_centroids=16, **kw)
    assert sorted(
        (r["cent_id"], list(r["cent_vec"])) for r in cents_s.collect()
    ) == sorted(cents_k)
    assert sorted(
        (r["m"], r["code"], list(r["center"])) for r in cb_s.collect()
    ) == sorted(cb_k)
    assert len(cents_k) == 16 and len(cb_k) == 16 * 16


def test_trainer_presample_is_bit_identical_and_prefilters(spark):
    """VERDICT r5 #4: with corpus_hint the trainers select the md5-smallest
    sample behind a map-side md5<threshold prefilter — bit-identical model,
    but the global top-N no longer consumes every corpus row; a badly wrong
    hint degrades to the exact unfiltered sort, never a different model."""
    rng = random.Random(31)
    big = spark.createDataFrame(
        [(i, [round(rng.gauss(0, 1), 6) for _ in range(16)]) for i in range(4000)],
        "vec_id long, embedding array<double>",
    )
    kw = dict(m=4, n_codes=8, dim=16, sample_size=64, iters=10, seed=11)
    base = sorted(
        (r["m"], r["code"], list(r["center"]))
        for r in similarity.train_pq_codebook(big, **kw).collect()
    )
    hinted = sorted(
        (r["m"], r["code"], list(r["center"]))
        for r in similarity.train_pq_codebook(big, corpus_hint=4000, **kw).collect()
    )
    assert hinted == base
    # hint wildly too large → threshold keeps < sample_size rows → exact fallback
    wrong = sorted(
        (r["m"], r["code"], list(r["center"]))
        for r in similarity.train_pq_codebook(big, corpus_hint=10**9, **kw).collect()
    )
    assert wrong == base
    # the prefilter is actually in the plan: the sample frame carries the
    # md5 threshold Filter under the TakeOrderedAndProject
    from batch_doc_vqa_spark.operators.similarity import _md5_presample

    keyed = big.select(
        F.md5(F.col("vec_id").cast("string")).alias("_ord"), "embedding"
    )
    samp = _md5_presample(keyed, F.col("_ord"), 64, 4000)
    # localCheckpointed frame — inspect the ORIGIN plan via a rebuild
    probe = keyed.filter(F.col("_ord") < "06400000000").orderBy("_ord").limit(64)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # the md5-threshold Filter sits BELOW the top-N (plans print top-down),
    # so the heap consumes the bounded remainder, not the corpus
    assert "Filter" in plan and plan.index("TakeOrderedAndProject") < plan.index("Filter")
    ids = {r["_ord"] for r in samp.collect()}
    exact = {r["_ord"] for r in keyed.orderBy("_ord").limit(64).collect()}
    assert ids == exact
    # ivfpq trainer: same invariance
    cents_a, cb_a = similarity.train_ivfpq_model(big, n_centroids=8, **kw)
    cents_b, cb_b = similarity.train_ivfpq_model(big, n_centroids=8, corpus_hint=4000, **kw)
    assert sorted((r["cent_id"], list(r["cent_vec"])) for r in cents_a.collect()) == \
           sorted((r["cent_id"], list(r["cent_vec"])) for r in cents_b.collect())
    assert sorted((r["m"], r["code"], list(r["center"])) for r in cb_a.collect()) == \
           sorted((r["m"], r["code"], list(r["center"])) for r in cb_b.collect())


def test_ivfpq_append_grows_index_without_rebuild(vectors, spark, tmp_path):
    """append_ivfpq_index (round 6): new vectors join a persisted index via
    an encode-only marker-committed snapshot — bit-identical to what a full
    rebuild under the SAME frozen model would produce; torn appends are
    invisible; re-running a failed append is idempotent."""
    path = str(tmp_path / "grow")
    half_a = vectors.filter(F.col("vec_id") % 2 == 0)
    half_b = vectors.filter(F.col("vec_id") % 2 != 0)
    queries = vectors.filter(F.col("vec_id").isin(0, 1, 100)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    index = similarity.ivfpq_build(half_a, n_centroids=8, m=8, n_codes=8, dim=16)
    similarity.save_ivfpq_index(index, path)
    snap = similarity.append_ivfpq_index(spark, path, half_b, snapshot_id="e1")
    assert snap == "e1"
    loaded = similarity.load_ivfpq_index(spark, path, corpus=vectors)
    out = sorted(
        map(tuple, similarity.ivfpq_query(loaded, queries, nprobe=4, k=5, rerank=10).collect())
    )
    # reference: one-shot build over the FULL corpus with the SAME model
    ref_index = similarity.ivfpq_build(
        vectors, m=8, n_codes=8, dim=16,
        centroids=index["cent"].select("cent_id", F.col("_cv").alias("cent_vec")),
        codebook=index["cbm"].select("m", "code", F.col("_cs").alias("center")),
    )
    ref = sorted(
        map(tuple, similarity.ivfpq_query(ref_index, queries, nprobe=4, k=5, rerank=10).collect())
    )
    assert out == ref
    # appended-half neighbors are actually reachable
    flat = {r[1] for r in out}
    assert any(n % 2 != 0 for n in flat if isinstance(n, int))
    # torn append (no marker) is invisible
    spark.createDataFrame(
        [(999, 1, [1, 1, 1, 1, 1, 1, 1, 1])], "vec_id long, cent_id long, _codes array<int>"
    ).write.partitionBy("cent_id").parquet(f"{path}/codes_snap/torn")
    again = similarity.load_ivfpq_index(spark, path)
    assert again["codes"].filter(F.col("vec_id") == 999).count() == 0
    # idempotent retry: same snapshot id overwrites data, marker already set
    similarity.append_ivfpq_index(spark, path, half_b, snapshot_id="e1")
    final = similarity.load_ivfpq_index(spark, path)
    assert final["codes"].count() == vectors.count()


def test_semdedup_planted_groups_and_keep_rule(spark):
    """SemDeDup on planted geometry: three exact-duplicate triples plus
    orthogonal singletons — every triple collapses to one group whose keep
    is the member with the LOWEST cosine to its centroid (id tiebreak);
    singletons keep themselves; results are partition-independent."""
    import numpy as np

    from batch_doc_vqa_spark.operators.similarity import semdedup

    rng = np.random.RandomState(5)
    rows = []
    # 3 planted triples: base vector + tiny jitter (cosine ~ 1)
    for g in range(3):
        base = rng.randn(16)
        for j in range(3):
            v = base + 0.001 * rng.randn(16)
            rows.append((g * 10 + j, [float(x) for x in v]))
    # 8 well-separated singletons
    for s in range(8):
        v = rng.randn(16) * 0.1
        v[s] += 50.0  # near-axis, mutually near-orthogonal
        rows.append((100 + s, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = semdedup(df, threshold=0.98, n_centroids=4).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(by_id) == 17  # every input row exactly once

    for g in range(3):
        ids = [g * 10 + j for j in range(3)]
        cids = {by_id[i]["cluster_id"] for i in ids}
        assert cids == {min(ids)}, f"triple {g} not one component: {cids}"
        assert {by_id[i]["group_size"] for i in ids} == {3}
        keeps = [i for i in ids if by_id[i]["keep"]]
        want = min(ids, key=lambda i: (by_id[i]["cos_to_centroid"], i))
        assert keeps == [want]
    for s in range(8):
        r = by_id[100 + s]
        assert r["keep"] and r["group_size"] == 1 and r["cluster_id"] == 100 + s

    again = {
        r["vec_id"]: (r["cluster_id"], r["keep"], r["group_size"])
        for r in semdedup(df.repartition(9), threshold=0.98, n_centroids=4).collect()
    }
    assert again == {
        i: (r["cluster_id"], r["keep"], r["group_size"]) for i, r in by_id.items()
    }

    # the pair scan is cell-keyed: no cartesian, no Python in the plan
    plan = (
        semdedup(df, threshold=0.98, n_centroids=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_accepts_trained_centroids(spark):
    """semdedup(centroids=) honors a supplied (cent_id, cent_vec) model —
    the trained-k-means drop-in — and validates the frame's shape."""
    import pytest

    from batch_doc_vqa_spark.operators.similarity import semdedup

    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)] + [
        (10, [1.0, 0.001, 0.0, 0.0])  # near-dup of axis 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0, 0.0])],
        "cent_id long, cent_vec array<float>",
    )
    out = {r["vec_id"]: r for r in semdedup(df, 0.9, centroids=cent).collect()}
    assert {r["cent_id"] for r in out.values()} <= {100, 200}
    assert out[0]["cent_id"] == 100 and out[1]["cent_id"] == 200
    # 0 and 10 are near-dups in cell 100: one component, one keep
    assert out[10]["cluster_id"] == out[0]["cluster_id"] == 0
    assert [out[0]["keep"], out[10]["keep"]].count(True) == 1

    with pytest.raises(ValueError, match="missing"):
        semdedup(df, centroids=cent.drop("cent_vec"))


def test_zero_norm_centroid_fails_loudly_in_cosine_argmax(spark):
    """A zero-norm centroid makes the shared cosine argmax divide by zero.
    Under the engine's ANSI session (the Spark 4.1 default) that raises
    DIVIDE_BY_ZERO in both ivf_cosine_topk and semdedup, so no NaN cosine
    ever reaches the min(struct) ordering."""
    from pyspark.errors import ArithmeticException

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rows = [(0, [0.0, 0.0, 0.0, 0.0])] + [
        (i, [float(i == j) + 0.1 for j in range(4)]) for i in range(1, 4)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # n_centroids covers the whole corpus, so the zero vector is a centroid
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        similarity.ivf_cosine_topk(df, q, n_centroids=4, nprobe=2, k=2).collect()
    cent = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0])],
        "cent_id long, cent_vec array<double>",
    )
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        similarity.semdedup(
            df.filter(F.col("vec_id") != 0), 0.9, centroids=cent
        ).collect()
