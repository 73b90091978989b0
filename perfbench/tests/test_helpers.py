"""Tests of the benchmark's own helpers: the status-store collector, the
correctness checkers and the seeded fixtures.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pyarrow as pa
import pytest

from perfbench import checks, fixtures, mix
from perfbench.collector import StatusCollector, Tracer, covered_seconds, split_at_watermark
from perfbench.run import final_metrics
from perfbench.session import ROOT


# ------------------------------------------------------------ pure helpers


def test_split_at_watermark():
    assert split_at_watermark([7, 3, 9, 5], 5) == ([3, 5], [7, 9])
    assert split_at_watermark([4, 6], -1) == ([], [4, 6])


def test_covered_seconds_merges_overlaps_and_clips():
    assert covered_seconds([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered_seconds([(-5, 1), (9, 20)], 0, 10) == 2
    assert covered_seconds([], 0, 10) == 0


def test_tracer_links_child_spans_to_their_cause():
    t = Tracer(True)
    with t.span("outer", trace="op"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == 0 and inner.trace == "op"
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_url_problems():
    assert checks.url_problems(["a", "b"], {"a", "b"}) == []
    out = checks.url_problems(["a", "a", "c"], {"a", "b"})
    assert len(out) == 3  # duplicated a, missing b, unexpected c


def _pages(n: int) -> list[dict]:
    from batch_doc_vqa_spark.sources.pages import page_row

    return [page_row(11, i) for i in range(n)]


def test_text_checker_catches_one_flipped_byte():
    pages = _pages(40)
    expected = {p["url"]: checks.expected_row(p["html"]) for p in pages}
    committed = dict(expected)
    assert checks.text_mismatches(expected, committed) == []

    url = next(u for u, (text, _) in expected.items() if text)
    text, status = committed[url]
    raw = bytearray(text.encode())
    raw[len(raw) // 2] ^= 0x01
    committed[url] = (raw.decode("utf-8", errors="surrogateescape"), status)
    assert checks.text_mismatches(expected, committed) == [url]

    del committed[url]
    assert checks.text_mismatches(expected, committed) == [url]


def test_oracle_compare_is_dtype_strict():
    parity = checks.load_parity_check(ROOT)
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, 1.5)]
    assert checks.oracle_problems(parity, cols, rows, ["K", "V"], list(reversed(rows))) == []
    assert checks.oracle_problems(parity, cols, rows, cols, [(1, 0.5), (2, 1.5000001)])
    assert checks.oracle_problems(parity, cols, rows, cols, [(1.0, 0.5), (2.0, 1.5)])
    assert checks.oracle_problems(parity, cols, rows, cols, rows[:1])
    assert checks.oracle_problems(parity, cols, rows, ["k", "w"], rows)


def test_final_metrics_zero_fills_only_layers_not_called():
    e2e = {"setup_s": (1.0, "s"), "op_s": (2.0, "s"), "op_cpu_s": (5.0, "s"), "py_peak_rss_mb": (3.0, "MB")}
    layer = {"session.get_spark_s": (0.5, "s")}
    out = final_metrics("analytics_mix", False, {**e2e, **layer})
    assert {k: v["value"] for k, v in out.items()} == {k: v[0] for k, v in e2e.items()}
    with pytest.raises(RuntimeError, match="did not measure"):
        final_metrics("analytics_mix", False, {"setup_s": (1.0, "s")})
    with pytest.raises(RuntimeError, match="declared in"):
        final_metrics("analytics_mix", False, dict(e2e, op_s=(2.0, "ms")))
    with pytest.raises(RuntimeError, match="undeclared"):
        final_metrics("analytics_mix", False, dict(e2e, bogus=(1.0, "s")))
    with pytest.raises(RuntimeError, match="did not measure"):
        final_metrics("analytics_mix", True, {"session.get_spark_s": (1.0, "s")})


def test_mix_tables_are_seeded():
    a, b, c = fixtures.mix_tables(5), fixtures.mix_tables(5), fixtures.mix_tables(6)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
    for t, n in fixtures.MIX_ROWS.items():
        assert a[t].num_rows == n
    assert a["orders"].schema.field("o_orderdate").type == pa.timestamp("us")
    assert a["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())


# ------------------------------------------------------------- with Spark


class _TracedBench:
    """The parts of perfbench.session.Bench that measure_query uses."""

    def __init__(self, spark):
        self.spark, self.trace = spark, True
        self.tracer = Tracer(True)
        self.collector = StatusCollector(spark)


def test_collector_attributes_dedup_resolve_eager_jobs_to_build(spark, tmp_path):
    import __spark_entry__ as entry

    sf_dir = fixtures.write_mix_tables(3, str(tmp_path))
    b = _TracedBench(spark)
    build = entry.queries()["dedup_resolve"]
    _, rec = mix.measure_query(b, lambda: build(spark, sf_dir), "t.dedup_resolve")
    # dedup_resolve runs its connected-components rounds while it builds
    assert rec["build_jobs"] >= 1
    assert rec["exec_jobs"] >= 1
    assert rec["build_jobs"] + rec["exec_jobs"] == len(b.collector.job_ids("t.dedup_resolve"))

    # a builder that submits no job has no build jobs
    _, lazy = mix.measure_query(b, lambda: spark.range(100).selectExpr("id % 7 AS k"), "t.lazy")
    assert lazy["build_jobs"] == 0 and lazy["exec_jobs"] >= 1

    # each pass is counted under its own group, so both passes have counts
    q1 = entry.queries()["q1_pricing_summary"]
    recs = [mix.measure_query(b, lambda: q1(spark, sf_dir), f"t.q1.{p}")[1] for p in range(2)]
    assert all(r["exec_jobs"] >= 1 for r in recs)
    assert recs[0]["build_jobs"] + recs[0]["exec_jobs"] == len(b.collector.job_ids("t.q1.0"))
    assert recs[1]["build_jobs"] + recs[1]["exec_jobs"] == len(b.collector.job_ids("t.q1.1"))


def test_extraction_checker_catches_a_flipped_byte_in_the_store(spark, tmp_path):
    from pyspark.sql import functions as F

    from batch_doc_vqa_spark.plans import read_results, run_extraction

    pages_dir = str(tmp_path / "pages")
    fixtures.write_pages(9, 60, 6, pages_dir, 2)
    base = spark.read.parquet(f"{pages_dir}/part=base")
    out = str(tmp_path / "out")
    summary = run_extraction(spark, base, out)
    urls = sorted(r.url for r in base.select("url").collect())
    assert checks.check_extraction(spark, base, out, summary, urls) == []

    rows = read_results(spark, out).collect()
    victim = next(r.url for r in rows if r.text)
    flipped = F.when(
        F.col("url") == victim,
        F.overlay(F.col("text"), F.lit("\x01"), F.lit(3), F.lit(1)),
    ).otherwise(F.col("text"))
    bad = str(tmp_path / "bad")
    read_results(spark, out).withColumn("text", flipped).write.partitionBy("run_id").parquet(
        f"{bad}/results"
    )
    problems = checks.check_extraction(spark, base, bad, summary, urls)
    assert len(problems) == 1 and victim in problems[0]

    # the incremental-rerun check: new urls only, each url once
    everything = spark.read.parquet(pages_dir).drop("part")
    rerun = run_extraction(spark, everything, out)
    assert checks.check_resume(spark, everything, out, rerun, 6) == []
    assert checks.check_resume(spark, everything, out, rerun, 7)


def test_prior_store_holds_the_done_set(spark, tmp_path):
    from batch_doc_vqa_spark.plans import read_results, run_extraction

    pages_dir = str(tmp_path / "pages")
    fixtures.write_pages(4, 30, 5, pages_dir, 2)
    base = spark.read.parquet(f"{pages_dir}/part=base")
    store = str(tmp_path / "store")
    fixtures.write_prior_store(base, store, 3, 32)
    assert read_results(spark, store).select("run_id").distinct().count() == 3
    everything = spark.read.parquet(pages_dir).drop("part")
    summary = run_extraction(spark, everything, store)
    assert checks.check_resume(spark, everything, store, summary, 5) == []
    assert os.path.isdir(f"{store}/lineage")
