"""End-to-end extraction job: byte-identity vs oracle, lineage, resume.

The resume test is the graft analogue of the reference's incremental
checkpoint + idempotent backfill
(/root/reference/src/batch_doc_vqa/openrouter/inference.py:2206-2207,
api.py:501-560): run on a prefix, rerun on the full input, assert the second
run only touched the remainder and the final table equals a one-shot run.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_doc_vqa_spark.functions import extract_payload
from batch_doc_vqa_spark.plans import read_lineage, read_results, run_extraction, salted_host_stats
from batch_doc_vqa_spark.sources import page_row, pages_df

N = 300
SEED = 42


def test_job_end_to_end(spark, tmp_path):
    pages = pages_df(spark, N, seed=SEED)
    summary = run_extraction(spark, pages, str(tmp_path / "out"), run_id="r1", num_buckets=8)
    assert summary["n_docs"] == N
    assert summary["n_failed"] == 0
    assert summary["n_partitions"] <= 8

    results = read_results(spark, str(tmp_path / "out"))
    assert results.count() == N
    assert results.select("url").distinct().count() == N

    # byte-identity per url against the oracle kernel, on a sample
    got = {r["url"]: r["text"] for r in results.collect()}
    for i in range(0, N, 7):
        row = page_row(SEED, i)
        oracle = extract_payload(row["html"])
        assert got[row["url"]] == oracle.text, row["url"]
        assert got[row["url"]].encode("utf-8") == oracle.text.encode("utf-8")

    # lineage totals reconcile with the results table
    lin = read_lineage(spark, str(tmp_path / "out"))
    tot = lin.agg(F.sum("n_docs").alias("d"), F.sum("n_bytes").alias("b")).collect()[0]
    assert tot["d"] == N
    assert tot["b"] == results.agg(F.sum("n_input_bytes")).collect()[0][0]
    # bucket ids are data-defined: every result bucket appears in lineage
    assert lin.select("bucket").distinct().count() == results.select("bucket").distinct().count()


def test_strict_mode_routes_failures_to_lineage(spark, tmp_path):
    pages = pages_df(spark, 50, seed=SEED)
    # corrupt some payloads so extraction yields nothing for them
    broken = pages.withColumn(
        "html",
        F.when(F.xxhash64("url") % 5 == 0, F.lit(b"")).otherwise(F.col("html")),
    )
    out = str(tmp_path / "strict")
    s = run_extraction(spark, broken, out, run_id="strictrun", num_buckets=4, strict=True)
    assert s["n_failed"] > 0
    res = read_results(spark, out)
    failed = res.filter(F.col("status") == "failed")
    assert failed.count() == s["n_failed"]
    assert failed.filter(F.col("text").isNotNull()).count() == 0  # fail-row: no text
    lin = read_lineage(spark, out)
    urls = [u for r in lin.collect() for u in r["failure_urls"]]
    assert len(urls) == s["n_failed"]
    # lenient mode on the same input keeps the rows as 'empty'-free successes
    out2 = str(tmp_path / "lenient")
    s2 = run_extraction(spark, broken, out2, run_id="lenientrun", num_buckets=4, strict=False)
    assert s2["n_failed"] == 0


def test_resume_is_idempotent_and_incremental(spark, tmp_path):
    full = pages_df(spark, N, seed=SEED)
    prefix = full.filter(F.xxhash64("url") % 2 == 0)  # deterministic half
    out = str(tmp_path / "resume")

    s1 = run_extraction(spark, prefix, out, run_id="runA", num_buckets=8)
    s2 = run_extraction(spark, full, out, run_id="runB", num_buckets=8)
    assert s1["n_docs"] + s2["n_docs"] == N
    assert s2["n_docs"] < N  # second run did only the remainder

    # third run: nothing left to do
    s3 = run_extraction(spark, full, out, run_id="runC", num_buckets=8)
    assert s3["n_docs"] == 0

    resumed = read_results(spark, out)
    assert resumed.count() == N
    assert resumed.select("url").distinct().count() == N

    # final table identical to a one-shot run (url → text bytes)
    oneshot = str(tmp_path / "oneshot")
    run_extraction(spark, full, oneshot, run_id="solo", num_buckets=8)
    a = {r["url"]: r["text"] for r in resumed.collect()}
    b = {r["url"]: r["text"] for r in read_results(spark, oneshot).collect()}
    assert a == b


def test_salted_partitioning_bounds_hot_host(spark, tmp_path):
    pages = pages_df(spark, N, seed=SEED)
    stats = salted_host_stats(pages)
    rows = {r["host"]: r["n_rows"] for r in stats.collect()}
    assert sum(rows.values()) == N
    hottest = max(rows.values())
    assert hottest > N * 0.1  # the synthetic skew is real

    # salted extraction: hot host spread over multiple buckets
    out = str(tmp_path / "salted")
    run_extraction(spark, pages, out, run_id="rs", num_buckets=16, target_rows_per_task=10)
    res = read_results(spark, str(tmp_path / "salted"))
    hot_host = max(rows, key=rows.get)
    buckets = (
        res.filter(F.col("url").contains(hot_host)).select("bucket").distinct().count()
    )
    assert buckets > 1  # not funneled into a single task
    assert res.count() == N


def test_lineage_carries_config_identity(spark, tmp_path):
    """X10 reproducibility guard: lineage rows identify the exact job config —
    two runs with different extractor settings have different config hashes,
    identical configs hash identically (reference run_manager.py:66-148)."""
    out = str(tmp_path / "cfg")
    pages = pages_df(spark, 60, seed=SEED)
    run_extraction(spark, pages, out, run_id="lenient1", num_buckets=4)
    run_extraction(spark, pages_df(spark, 90, seed=SEED), out, run_id="strict1",
                   num_buckets=4, strict=True)
    lin = read_lineage(spark, out).select("run_id", "config_hash", "config_json", "engine_version")
    by_run = {r["run_id"]: r for r in lin.distinct().collect()}
    assert by_run["lenient1"]["config_hash"] != by_run["strict1"]["config_hash"]
    assert '"strict":true' in by_run["strict1"]["config_json"]
    assert by_run["lenient1"]["engine_version"]
    # same config => same hash (pure content hash, no wall-clock/uuid inputs)
    from batch_doc_vqa_spark.plans.extract_job import config_fingerprint
    assert config_fingerprint({"a": 1}) == config_fingerprint({"a": 1})
    assert config_fingerprint({"a": 1})[1] != config_fingerprint({"a": 2})[1]


def test_resume_survives_crashed_first_run_directory(spark, tmp_path):
    """A first run that crashed after creating the results directory but
    before committing any data must not kill the retry: an unreadable/empty
    store is an empty done-set."""
    import os

    out = str(tmp_path / "crashed")
    os.makedirs(f"{out}/results")  # what a dead first attempt leaves behind
    s = run_extraction(spark, pages_df(spark, 40, seed=SEED), out, run_id="retry1", num_buckets=4)
    assert s["n_docs"] == 40 and s["n_failed"] == 0
    assert read_results(spark, out).count() == 40


def test_run_scoped_readback_is_partition_pruned(spark, tmp_path):
    """The per-run lineage/summary read-back must touch only THIS run's
    partition (run_id=... directory), not filter-scan every prior run's files
    — the O(corpus)-per-incremental-run fix (VERDICT r3 #1)."""
    import os

    out = str(tmp_path / "pp")
    run_extraction(spark, pages_df(spark, 60, seed=SEED), out, run_id="runA", num_buckets=4)
    run_extraction(spark, pages_df(spark, 120, seed=SEED), out, run_id="runB", num_buckets=4)

    # physical layout: hive-style run_id partitions on BOTH stores
    assert sorted(d for d in os.listdir(f"{out}/results") if d.startswith("run_id=")) == [
        "run_id=runA", "run_id=runB",
    ]
    assert sorted(d for d in os.listdir(f"{out}/lineage") if d.startswith("run_id=")) == [
        "run_id=runA", "run_id=runB",
    ]

    # the exact read-back plan run_extraction uses: partition filter present,
    # and no pushed/data filter needed — the scan prunes at the directory level
    scan = read_results(spark, out).filter(F.col("run_id") == "runB")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "run_id" in plan.split("PartitionFilters", 1)[1]
    # pruning is effective: runB only processed the 60-doc remainder
    assert scan.count() == 60
    # partition column read back as string (type inference disabled)
    assert dict(scan.dtypes)["run_id"] == "string"


def test_publish_gate_quarantines_invalid_rows(spark, tmp_path):
    """S11: publish splits clean vs quarantined; nothing silently dropped."""
    from batch_doc_vqa_spark.plans import publish_run

    df = spark.createDataFrame(
        [
            (1, "a perfectly clean row", 1.0, '{"k": 1}'),
            (2, "", 2.0, '{"k": 2}'),                          # empty
            (3, "write to bob@example.com", 3.0, '{"k": 3}'),  # pii
            (4, "clean", float("nan"), '{"k": 4}'),            # non-finite
            (5, "clean", 5.0, "{broken"),                      # bad json
        ],
        "id long, text string, score double, props string",
    )
    out = str(tmp_path / "pub")
    counts = publish_run(spark, df, out, text_col="text",
                         numeric_cols=("score",), json_cols=("props",))
    assert (counts["published"], counts["quarantined"]) == (1, 4)
    quar = spark.read.parquet(f"{out}/quarantine")
    reasons = {r["id"]: r["reject_reason"] for r in quar.collect()}
    assert reasons == {2: "empty", 3: "pii_email", 4: "non_finite", 5: "bad_json"}
    pub = spark.read.parquet(f"{out}/published")
    assert [r["id"] for r in pub.collect()] == [1]
    assert "reject_reason" not in pub.columns


def test_publish_counts_are_per_run_not_cumulative(spark, tmp_path):
    """Two publishes into one dir each report THEIR OWN rows (no read-back
    of the cumulative tables)."""
    from batch_doc_vqa_spark.plans import publish_run

    out = str(tmp_path / "pub2")
    first = spark.createDataFrame(
        [(1, "clean row one"), (2, "")], "id long, text string"
    )
    second = spark.createDataFrame(
        [(3, "clean row two"), (4, "clean row three"), (5, "")], "id long, text string"
    )
    c1 = publish_run(spark, first, out, text_col="text", run_id="pubA")
    c2 = publish_run(spark, second, out, text_col="text", run_id="pubB")
    assert c1 == {"published": 1, "quarantined": 1, "run_id": "pubA"}
    assert c2 == {"published": 2, "quarantined": 1, "run_id": "pubB"}  # NOT 3/2 cumulative
    # the tables themselves are cumulative across runs
    from batch_doc_vqa_spark.plans import read_published, read_quarantine
    assert read_published(spark, out).count() == 3
    assert read_quarantine(spark, out).count() == 2


def test_backfill_merge_rewrites_only_candidate_partitions(spark, tmp_path):
    """MERGE-shaped enrichment: untouched bucket directories stay
    byte-identical; only buckets with cost-receiving rows are rewritten;
    rerun is a no-op (openrouter/api.py:501-560 analogue at scale)."""
    import hashlib
    import os

    from batch_doc_vqa_spark.plans.enrich import backfill_costs_merge

    tdir = str(tmp_path / "results")
    rows = [
        # bucket 0: one pending-cost row that WILL receive a cost
        (0, "u0", "gen-0", None), (0, "u1", "gen-1", 0.5),
        # bucket 1: pending row whose gid has NO incoming cost → untouched
        (1, "u2", "gen-9", None), (1, "u3", None, None),
        # bucket 2: nothing pending → untouched
        (2, "u4", "gen-4", 0.25),
    ]
    spark.createDataFrame(
        rows, "bucket int, url string, generation_id string, actual_cost double"
    ).write.partitionBy("bucket").parquet(tdir)

    def fingerprint(bucket: int) -> dict[str, str]:
        d = f"{tdir}/bucket={bucket}"
        return {
            f: hashlib.md5(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet")
        }

    before = {b: fingerprint(b) for b in (1, 2)}
    costs = spark.createDataFrame([("gen-0", 0.125)], "generation_id string, actual_cost double")
    out = backfill_costs_merge(spark, tdir, costs, "bucket")
    assert out["rewritten_partitions"] == 1 and out["merged_rows"] == 2
    # untouched buckets: identical file names AND identical bytes
    assert {b: fingerprint(b) for b in (1, 2)} == before
    got = {r["url"]: r["actual_cost"] for r in spark.read.parquet(tdir).collect()}
    assert got == {"u0": 0.125, "u1": 0.5, "u2": None, "u3": None, "u4": 0.25}
    # idempotent: second run finds no candidate×cost matches → zero rewrites
    assert backfill_costs_merge(spark, tdir, costs, "bucket") == {
        "rewritten_partitions": 0, "merged_rows": 0,
    }


def test_publish_commit_is_atomic_under_kill_between_writes(spark, tmp_path):
    """A crash anywhere between the two table writes and the commit marker
    must leave the archive readers blind to the torn run (VERDICT r3 #3);
    a retry of the same run_id then commits idempotently."""
    import pytest

    from batch_doc_vqa_spark.plans import publish_run, read_published, read_quarantine

    out = str(tmp_path / "atomic")
    df = spark.createDataFrame(
        [(1, "clean row"), (2, ""), (3, "also clean")], "id long, text string"
    )
    # commit a first healthy run so the readers have a real archive to protect
    ok = publish_run(spark, df, out, text_col="text", run_id="good")
    assert (ok["published"], ok["quarantined"]) == (2, 1)

    # crash 1: after the published half, before quarantine — torn run
    with pytest.raises(RuntimeError, match="fault injection"):
        publish_run(spark, df, out, text_col="text", run_id="torn",
                    _crash_before_commit="published")
    # crash 2: after BOTH halves, before the marker — still a torn run
    with pytest.raises(RuntimeError, match="fault injection"):
        publish_run(spark, df, out, text_col="text", run_id="torn2",
                    _crash_before_commit="quarantine")

    # the torn runs' bytes exist on disk … but no reader ever observes them
    import os
    assert os.path.isdir(f"{out}/published/run_id=torn")
    assert os.path.isdir(f"{out}/quarantine/run_id=torn2")
    assert {r["run_id"] for r in read_published(spark, out).collect()} == {"good"}
    assert {r["run_id"] for r in read_quarantine(spark, out).collect()} == {"good"}
    assert read_published(spark, out).count() == 2

    # retrying the torn run commits it — idempotent overwrite, exact counts
    retried = publish_run(spark, df, out, text_col="text", run_id="torn")
    assert (retried["published"], retried["quarantined"]) == (2, 1)
    assert read_published(spark, out).count() == 4
    assert {r["run_id"] for r in read_published(spark, out).collect()} == {"good", "torn"}


def test_publish_gate_quarantines_stub_decoded_media(spark, tmp_path):
    """Strict multimodal contract: stub-decoded rows never publish."""
    from batch_doc_vqa_spark.operators.multimodal import probe_media
    from batch_doc_vqa_spark.plans import publish_run

    media = spark.createDataFrame(
        [("m1", b"payload-bytes", "image"), ("m2", None, "image")],
        "media_id string, payload binary, kind string",
    )
    meta = probe_media(media, "media_id", "payload", "kind")
    out = str(tmp_path / "mediapub")
    counts = publish_run(spark, meta, out, text_col=None, decode_status_col="decode_status")
    assert (counts["published"], counts["quarantined"]) == (0, 2)
    reasons = {
        r["media_id"]: r["reject_reason"]
        for r in spark.read.parquet(f"{out}/quarantine").collect()
    }
    assert reasons == {"m1": "stub_decode", "m2": "stub_decode"}


def test_param_sweep_grid_and_runner(spark):
    """X11: axis parse rules (normalize, dedup, reject dupes), Cartesian grid
    in axis order, and the run_sweep driver loop feeding A17 aggregation."""
    import pytest as _pytest

    from batch_doc_vqa_spark.plans import build_condition_grid, build_sweep_axes, parse_sweep_axis, run_sweep

    ax = parse_sweep_axis("Top-K = 10, 20,10 ,40")
    assert ax.name == "top_k" and ax.values == (10, 20, 40)
    with _pytest.raises(ValueError):
        parse_sweep_axis("no_equals_sign")
    with _pytest.raises(ValueError):
        build_sweep_axes(["a=1", "a=2"])  # duplicate axis

    axes = build_sweep_axes(["temperature=0.0,0.5", "top_k=10,20"])
    grid = build_condition_grid(axes)
    assert grid == [
        {"temperature": 0.0, "top_k": 10}, {"temperature": 0.0, "top_k": 20},
        {"temperature": 0.5, "top_k": 10}, {"temperature": 0.5, "top_k": 20},
    ]

    runs = run_sweep(spark, axes, lambda cond, t: {"metric": cond["top_k"] + t}, trials=2)
    agg = {(r["temperature"], r["top_k"]): r["m"] for r in
           runs.groupBy("temperature", "top_k").agg(F.avg("metric").alias("m")).collect()}
    assert agg[(0.0, 10)] == 10.5 and agg[(0.5, 20)] == 20.5


def test_salted_equi_join_matches_plain_join(spark):
    """Salting must not change join semantics — only the key distribution."""
    from batch_doc_vqa_spark.plans.skew import salted_equi_join

    # 90% of the big side shares one key (the mega-key scenario)
    big = spark.createDataFrame(
        [(i, 1 if i % 10 else 2, f"u{i}") for i in range(1000)], "row_id long, k long, src string"
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "unused")], "k long, label string")
    plain = {(r["row_id"], r["label"]) for r in big.join(dim, "k").collect()}
    salted = salted_equi_join(big, dim, "k", n_salts=8, salt_src="src")
    got = {(r["row_id"], r["label"]) for r in salted.collect()}
    assert got == plain and len(got) == 1000
    # the mega-key actually spreads: >1 distinct salt among its rows
    spread = (
        big.filter(F.col("k") == 1)
        .withColumn("_salt", F.pmod(F.xxhash64("src"), F.lit(8)))
        .select("_salt").distinct().count()
    )
    assert spread > 1


def test_jsonl_pages_roundtrip_and_extract(spark, tmp_path):
    """JSONL interchange: write pages as JSONL+base64, read back with explicit
    schema, payload bytes identical, extraction output identical."""
    from batch_doc_vqa_spark.sources import read_pages_jsonl, write_pages_jsonl

    pages = pages_df(spark, 80, seed=SEED)
    path = str(tmp_path / "pages_jsonl")
    write_pages_jsonl(pages, path)
    back = read_pages_jsonl(spark, path)
    assert back.schema.simpleString() == pages.schema.simpleString()
    a = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    b = {r["url"]: bytes(r["html"]) for r in back.collect()}
    assert a == b
    out = str(tmp_path / "jsonl_out")
    s = run_extraction(spark, back, out, run_id="jsonl", num_buckets=4)
    assert s["n_docs"] == 80 and s["n_failed"] == 0


def test_read_archive_before_any_commit_raises_clearly(spark, tmp_path):
    """A half-written first run (or a fresh dir) must yield 'nothing
    committed yet', never a misleading PATH_NOT_FOUND on the torn half."""
    import pytest

    from batch_doc_vqa_spark.plans import publish_run, read_published, read_quarantine

    out = str(tmp_path / "fresh")
    with pytest.raises(FileNotFoundError, match="no committed runs"):
        read_published(spark, out)
    # first publish crashes after the published half: still the clear error
    df = spark.createDataFrame([(1, "clean")], "id long, text string")
    with pytest.raises(RuntimeError, match="fault injection"):
        publish_run(spark, df, out, text_col="text", run_id="t1",
                    _crash_before_commit="published")
    with pytest.raises(FileNotFoundError, match="no committed runs"):
        read_quarantine(spark, out)
    # the retry commits; both readers come alive
    publish_run(spark, df, out, text_col="text", run_id="t1")
    assert read_published(spark, out).count() == 1
    assert read_quarantine(spark, out).count() == 0


def test_committed_epoch_is_never_overwritten_with_skip_guard(spark, tmp_path):
    """The epoch sinks' shared replay guard (commit_epoch): a colliding
    run_id (lost-checkpoint restart over an existing archive) leaves the
    committed epoch untouched."""
    from pyspark.sql import functions as F2

    from batch_doc_vqa_spark.plans import read_published
    from batch_doc_vqa_spark.plans.publish import commit_epoch, tagged_tables

    out = str(tmp_path / "guard")
    first = spark.createDataFrame([(1, "original")], "id long, text string").withColumn(
        "_reject", F2.lit(None).cast("string")
    )
    assert commit_epoch(spark, out, "e0", lambda: tagged_tables(first)) is True
    collider = spark.createDataFrame([(9, "intruder")], "id long, text string").withColumn(
        "_reject", F2.lit(None).cast("string")
    )
    assert commit_epoch(spark, out, "e0", lambda: tagged_tables(collider)) is False
    rows = read_published(spark, out).collect()
    assert [r["id"] for r in rows] == [1] and rows[0]["text"] == "original"


def test_resume_raises_on_unreadable_populated_store(spark, tmp_path):
    """A POPULATED results store whose read fails analysis (here: the 'url'
    column is missing) must surface the error, not be silently treated as an
    empty done-set — that would duplicate every prior run's rows (ADVICE r4:
    the old blanket AnalysisException catch swallowed exactly this)."""
    import pytest
    from pyspark.errors import AnalysisException

    out = str(tmp_path / "corrupt")
    spark.createDataFrame([("a", 1)], "not_url string, x int").write.parquet(f"{out}/results")
    with pytest.raises(AnalysisException):
        run_extraction(spark, pages_df(spark, 20, seed=SEED), out, run_id="r2", num_buckets=4)
