"""Physical-plan hygiene regressions: the properties that decide whether a
query survives a 100× scale-up — pushdown reaching the parquet scan, column
pruning, broadcast (not nested-loop / sort-merge) joins for small dims, and
no accidental extra shuffles. Catching a regression here is cheaper than
finding it in a 100 TB run."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = entrymod.queries()

    def plan_of(name: str) -> str:
        df = qs[name](spark, sf_dir)
        return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")

    return plan_of


def _n_exchanges(p: str) -> int:
    """Exchange count EXCLUDING the scan-parallelism-repair repartition
    (r7: _t() hash-repartitions single-row-group fixture tables on their
    primary key, labeled REPARTITION_BY_NUM/_COL — size-gated off at scale)."""
    return len(re.findall(r"\(\d+\) Exchange", p)) - len(
        re.findall(r"REPARTITION_BY_(?:COL|NUM)", p)
    )


def test_q1_pushdown_and_pruning(plans):
    p = plans("q1_pricing_summary")
    # the shipdate filter must reach the parquet scan, not run post-scan
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate[^\]]*LessThanOrEqual", p), p[:2000]
    # column pruning: the scan must not read all 16 lineitem columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    # <= 7: the 6 needed columns plus l_orderkey, the scan-repair
    # repartition key (_t(); gated off at scale, where the scan reads 6)
    assert m and len(m.group(1).split(",")) <= 7, m.group(1) if m else "no ReadSchema"


def test_small_dim_joins_broadcast(plans):
    for q in ("revenue_by_order", "region_rollup", "supplier_customer_match"):
        p = plans(q)
        assert "BroadcastHashJoin" in p, q
        assert "SortMergeJoin" not in p, q
        assert "BroadcastNestedLoopJoin" not in p, q


def test_extraction_path_is_shuffle_lean(plans):
    # salted repartition = exactly one exchange; extraction itself is map-side.
    # formatted explain lists every node twice (tree + detail) — count node
    # headers "(k) Exchange", not raw word occurrences.
    p = plans("extract_main_content")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p[:1500]
    assert "ArrowEvalPython" in p  # extraction is Arrow-batched, not row Python
    assert "BatchEvalPython" not in p  # never a row-at-a-time Python UDF


def test_minhash_band_join_not_nested_loop(plans):
    p = plans("minhash_lsh_pairs")
    # the band self-join must be a hash join on the band key, never BNLJ
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_textstats_stay_jvm_side(plans):
    # lang_id/doc_quality/fingerprint are pure column expressions: no Python
    # eval nodes anywhere in the plan
    for q in ("lang_id", "doc_quality", "fingerprint", "token_counts"):
        p = plans(q)
        assert "EvalPython" not in p and "MapInPandas" not in p, q
        # single parquet scan, no shuffle: per-row expressions only
        assert _n_exchanges(p) == 0, q


def test_round3_projection_ops_are_shuffle_free_and_jvm(plans):
    # the schema ladder, chunk fan-out and deterministic sample are pure
    # per-row plans: zero exchanges, zero Python
    for q in ("validate_coerce", "chunk_documents", "deterministic_sample"):
        p = plans(q)
        assert "EvalPython" not in p and "MapInPandas" not in p, q
        assert _n_exchanges(p) == 0, q


def test_deterministic_sample_filter_before_scan_output(plans):
    # the hash-membership filter must run inside the scan stage (no
    # materialize-then-filter): plan shows Filter directly over the scan
    p = plans("deterministic_sample")
    assert re.search(r"Filter.*\n.*Scan parquet|\(\d+\) Filter", p), p[:1200]


def test_cohort_stats_small_dims_broadcast(plans):
    p = plans("cohort_stats")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_pdf_and_media_paths_arrow_batched_no_shuffle(plans):
    for q in ("pdf_text_extract", "media_decode"):
        p = plans(q)
        assert "BatchEvalPython" not in p, q  # never row-at-a-time Python
        assert "MapInPandas" in p or "ArrowEvalPython" in p, q
        assert len(re.findall(r"\(\d+\) Exchange", p)) == 0, q  # map-only


def test_every_media_operator_is_map_only(spark):
    """The WHOLE media family is map-only by default — zero forced Exchange
    (VERDICT r3 #7: sample_frames' unconditional repartition made opt-in)."""
    from batch_doc_vqa_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [("m1", b"payload", "image")], "media_id string, payload binary, kind string"
    )
    ops = {
        "probe": mm.probe_media(df, "media_id", "payload", "kind"),
        "frames": mm.sample_frames(df, "media_id", "payload"),
        "resize": mm.resize_media(df, "media_id", "payload"),
        "decode": mm.decode_media(df, "media_id", "payload", "kind"),
        "features": mm.extract_features(df, "media_id", "payload"),
        "base64": mm.base64_payloads(df, "media_id", "payload"),
    }
    for name, out in ops.items():
        p = spark._jvm.PythonSQLUtils.explainString(out._jdf.queryExecution(), "formatted")
        assert len(re.findall(r"\(\d+\) Exchange", p)) == 0, (name, p[:1200])
        assert "BatchEvalPython" not in p, name
    # the opt-in still works when the caller knows the input layout is bad
    forced = mm.sample_frames(df, "media_id", "payload", repartition_to=4)
    p = spark._jvm.PythonSQLUtils.explainString(forced._jdf.queryExecution(), "formatted")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p[:1200]


def test_boilerplate_lines_single_aggregation_shuffle(plans):
    # explode → partial agg → ONE exchange on (host, line) → final agg
    p = plans("boilerplate_lines")
    assert "EvalPython" not in p and "MapInPandas" not in p
    assert _n_exchanges(p) == 1, p[:1500]


def test_url_dedup_single_shuffle_on_canonical_key(plans):
    p = plans("url_dedup")
    assert "EvalPython" not in p and "MapInPandas" not in p
    assert _n_exchanges(p) == 1, p[:1500]


def _repartitioned(df) -> bool:
    return "RepartitionByExpression" in df._jdf.queryExecution().logical().toString()


def test_tp_scan_gate_counts_the_files_of_a_directory(spark, tmp_path):
    """_tp's scan-split gate reads the table's data files as they are now,
    not the size of its path: a Spark-written directory with one data file
    plans one split (its ``_SUCCESS`` marker is not a split) and gets the
    repair; rewritten in place with two data files it plans two, which is
    enough at local[4], so no repair repartition is added."""
    docs = spark.range(40).selectExpr("cast(id as string) as doc_id", "'x' as text")
    table = str(tmp_path / "documents.parquet")
    docs.coalesce(1).write.parquet(table)
    assert _repartitioned(entrymod._tp(spark, str(tmp_path), "documents"))
    docs.repartition(2).write.mode("overwrite").parquet(table)
    assert not _repartitioned(entrymod._tp(spark, str(tmp_path), "documents"))


def test_tp_scan_gate_repairs_a_single_small_file(spark, sf_dir):
    """A single small parquet file plans one split and still gets the repair
    repartition."""
    assert _repartitioned(entrymod._tp(spark, sf_dir, "documents"))
