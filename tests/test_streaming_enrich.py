"""Structured Streaming twins + enrichment backfill.

The streaming extraction test is the incremental-persistence analogue of the
reference's save-after-every-image (inference.py:2206-2207): files arrive,
availableNow drains them through the same Arrow UDF with a checkpoint, and a
second trigger after new files only processes the delta."""

from __future__ import annotations

from pyspark.sql import functions as F

from batch_doc_vqa_spark.plans.enrich import backfill_costs, missing_cost_candidates
from batch_doc_vqa_spark.sources import pages_df
from batch_doc_vqa_spark.sources.runs_fixture import results_df
from batch_doc_vqa_spark.streaming import extraction_stream, hourly_rollup_stream


def _drain(q):
    q.awaitTermination(120)


def test_streaming_extraction_incremental(spark, tmp_path):
    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    pages_df(spark, 100, seed=42).write.parquet(src)
    stream = extraction_stream(spark, src)
    assert stream.isStreaming
    q = stream.writeStream.format("parquet").option("path", out).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start()
    _drain(q)
    first = spark.read.parquet(out)
    assert first.count() == 100

    # new files arrive; the checkpoint means only the delta is processed
    pages_df(spark, 150, seed=42).filter(
        ~F.col("url").isin([r["url"] for r in first.select("url").collect()])
    ).write.mode("append").parquet(src)
    q = extraction_stream(spark, src).writeStream.format("parquet").option(
        "path", out
    ).option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    _drain(q)
    final = spark.read.parquet(out)
    assert final.count() == 150
    assert final.select("url").distinct().count() == 150
    # streamed text identical to batch kernel output
    batch = {r["url"]: r for r in pages_df(spark, 150, seed=42).collect()}
    sample = final.limit(20).collect()
    from batch_doc_vqa_spark.functions import extract_payload

    for r in sample:
        assert r["text"] == extract_payload(batch[r["url"]]["html"]).text


def test_streaming_hourly_rollup(spark, tmp_path, sf_dir):
    src = str(tmp_path / "events_in")
    spark.read.parquet(f"{sf_dir}/events.parquet").write.parquet(src)
    stream = hourly_rollup_stream(spark, src)
    q = stream.writeStream.format("memory").queryName("rollup").outputMode(
        "append"
    ).trigger(availableNow=True).start()
    _drain(q)
    got = spark.sql("select * from rollup")
    # append mode emits only watermark-closed windows; all but the last hour close
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert got.count() > 0.5 * batch.count()
    g = {(r["hour"], r["event_type"]): r["n"] for r in got.collect()}
    b = {(r["hour"], r["event_type"]): r["n"] for r in batch.collect()}
    assert all(b[k] == v for k, v in g.items())  # emitted windows match batch


def test_backfill_idempotent(spark):
    results = results_df(spark, n_runs=3)
    cands = missing_cost_candidates(results)
    n_missing = cands.count()
    assert n_missing > 0
    costs = cands.select("generation_id").withColumn("actual_cost", F.lit(0.00042))

    once = backfill_costs(results, costs)
    assert once.filter(F.col("actual_cost").isNull() & F.col("generation_id").isNotNull()).count() == 0
    # existing costs never overwritten
    kept = results.filter(F.col("actual_cost").isNotNull()).agg(F.sum("actual_cost")).collect()[0][0]
    after = once.filter(F.col("actual_cost") != 0.00042).agg(F.sum("actual_cost")).collect()[0][0]
    assert abs(kept - after) < 1e-9

    twice = backfill_costs(once, costs)
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_streaming_dedup_within_watermark(spark, tmp_path, sf_dir):
    """At-least-once redelivery: duplicated event_ids within the watermark are
    dropped; output matches the batch distinct-on-id count."""
    from batch_doc_vqa_spark.streaming import dedup_events_stream

    src = str(tmp_path / "dup_in")
    out = str(tmp_path / "dup_out")
    ckpt = str(tmp_path / "dup_ckpt")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000)
    ev.write.parquet(src)
    ev.limit(500).write.mode("append").parquet(src)  # redelivered duplicates

    q = dedup_events_stream(spark, src).writeStream.format("parquet").option(
        "path", out
    ).option("checkpointLocation", ckpt).trigger(availableNow=True).start()
    _drain(q)
    got = spark.read.parquet(out)
    expected = spark.read.parquet(src).select("event_id").distinct().count()
    assert got.count() == expected
    assert got.select("event_id").distinct().count() == expected


def test_gated_publish_stream_incremental(spark, tmp_path):
    """Streaming S11: each availableNow run publishes only NEW files, with
    the same gate semantics as the batch publish (shared reject expression)."""
    from batch_doc_vqa_spark.streaming.publish_stream import gated_publish_stream

    src = tmp_path / "results_in"
    out = str(tmp_path / "pub_out")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, text string"
    spark.createDataFrame(
        [(1, "clean row"), (2, ""), (3, "mail me bob@x.org")], schema
    ).write.mode("append").parquet(str(src))
    q = gated_publish_stream(spark, str(src), schema, out, ckpt)
    q.awaitTermination(120)
    from batch_doc_vqa_spark.plans import committed_publish_ids, read_published, read_quarantine

    pub = read_published(spark, out)
    quar = read_quarantine(spark, out)
    assert {r["id"] for r in pub.collect()} == {1}
    assert {r["id"]: r["reject_reason"] for r in quar.collect()} == {2: "empty", 3: "pii_email"}
    # each epoch committed atomically under its own marker
    assert committed_publish_ids(spark, out) == ["e00000000"]
    # second batch of files: only the new rows flow through (checkpointed)
    spark.createDataFrame([(4, "another clean"), (5, "")], schema).write.mode(
        "append"
    ).parquet(str(src))
    q2 = gated_publish_stream(spark, str(src), schema, out, ckpt)
    q2.awaitTermination(120)
    assert {r["id"] for r in read_published(spark, out).collect()} == {1, 4}
    assert read_quarantine(spark, out).count() == 3
    assert committed_publish_ids(spark, out) == ["e00000000", "e00000001"]


def test_gated_publish_stream_torn_epoch_invisible(spark, tmp_path):
    """A crash between an epoch's two table writes (simulated by deleting
    its commit marker) leaves that epoch invisible to the archive readers —
    the streaming sink inherits the batch publisher's atomicity."""
    import os

    from batch_doc_vqa_spark.plans import read_published
    from batch_doc_vqa_spark.streaming.publish_stream import gated_publish_stream

    src = tmp_path / "torn_in"
    out = str(tmp_path / "torn_out")
    schema = "id long, text string"
    spark.createDataFrame([(1, "clean row"), (2, "more clean")], schema).write.parquet(str(src))
    q = gated_publish_stream(spark, str(src), schema, out, str(tmp_path / "torn_ckpt"))
    q.awaitTermination(120)
    assert read_published(spark, out).count() == 2
    os.remove(f"{out}/_committed/e00000000")  # the torn-epoch state
    # with the only epoch torn, the reader reports "nothing committed"
    # rather than surfacing the on-disk bytes
    import pytest

    with pytest.raises(FileNotFoundError, match="no committed runs"):
        read_published(spark, out)


def test_decontam_screen_stream_incremental(spark, tmp_path):
    """Streaming decontamination: each availableNow run screens only NEW
    files against the pinned benchmark set; verdicts commit atomically per
    epoch and match the batch operator's semantics."""
    from batch_doc_vqa_spark.operators.decontam import DEFAULT_DROP_THRESHOLD, contamination_report
    from batch_doc_vqa_spark.streaming.decontam_stream import decontam_screen_stream

    src = tmp_path / "snap_in"
    out = str(tmp_path / "screen_out")
    ckpt = str(tmp_path / "screen_ckpt")
    schema = "doc_id long, text string"
    bench_text = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"
    bench = spark.createDataFrame([("b0", bench_text)], "bench_id string, bench_text string")
    clean_text = " ".join(f"w{i}" for i in range(40))
    spark.createDataFrame(
        [(1, clean_text), (2, f"prefix words {bench_text} suffix words")], schema
    ).write.mode("append").parquet(str(src))

    q = decontam_screen_stream(spark, str(src), schema, bench, out, ckpt)
    q.awaitTermination(120)
    from batch_doc_vqa_spark.streaming.decontam_stream import read_clean, read_contaminated

    clean = read_clean(spark, out)
    flagged = read_contaminated(spark, out)
    assert {r["doc_id"] for r in clean.collect()} == {1}
    assert {r["doc_id"] for r in flagged.collect()} == {2}
    assert flagged.collect()[0]["coverage"] == 1.0
    import os
    assert os.path.exists(f"{out}/_committed/e00000000")  # atomic epoch marker

    # second snapshot: only the new file flows through (checkpointed)
    spark.createDataFrame([(3, clean_text + " tail"), (4, bench_text)], schema).write.mode(
        "append"
    ).parquet(str(src))
    q2 = decontam_screen_stream(spark, str(src), schema, bench, out, ckpt)
    q2.awaitTermination(120)
    assert {r["doc_id"] for r in read_clean(spark, out).collect()} == {1, 3}
    assert {r["doc_id"] for r in read_contaminated(spark, out).collect()} == {2, 4}
    # torn-epoch invisibility: drop epoch 1's marker — its verdicts vanish
    # from the readers while the bytes stay on disk
    os.remove(f"{out}/_committed/e00000001")
    assert {r["doc_id"] for r in read_clean(spark, out).collect()} == {1}
    assert {r["doc_id"] for r in read_contaminated(spark, out).collect()} == {2}
    # streaming verdicts == batch operator on the union (same machinery)
    all_docs = spark.read.parquet(str(src))
    batch_flagged = {
        r["doc_id"]
        for r in contamination_report(all_docs, "doc_id", "text", bench,
                                      "bench_id", "bench_text", n=8)
        .filter(f"coverage >= {DEFAULT_DROP_THRESHOLD}").collect()
    }
    assert batch_flagged == {2, 4}


def test_dedup_index_stream_grows_index_and_heals_crash_window(spark, tmp_path):
    """Streaming twin of the incremental dedup index: epochs commit pairs +
    index snapshot exactly-once; the asymmetric crash window (index
    committed, pairs not) heals via pairs_for_snapshot with bit-identical
    output instead of a silently-empty replay."""
    import os

    import pytest

    from batch_doc_vqa_spark.operators.dedup_index import (
        build_dedup_index,
        incremental_dedup_pairs,
        pairs_for_snapshot,
        read_index_sigs,
    )
    from batch_doc_vqa_spark.plans.publish import committed_publish_ids
    from batch_doc_vqa_spark.streaming.dedup_index_stream import (
        dedup_index_stream,
        read_stream_pairs,
    )

    schema = "doc_id string, text string"
    base_texts = {f"base{i}": " ".join(f"w{i}_{j}" for j in range(30)) for i in range(8)}
    base = spark.createDataFrame(list(base_texts.items()), schema)
    idx = str(tmp_path / "idx")
    build_dedup_index(base, "doc_id", "text", idx)

    src = tmp_path / "crawl_in"
    out = str(tmp_path / "pairs_out")
    ckpt = str(tmp_path / "pairs_ckpt")
    # epoch 0: one exact dup of base0, one unique doc
    spark.createDataFrame(
        [("n0", base_texts["base0"]), ("n1", " ".join(f"u{j}" for j in range(30)))], schema
    ).write.mode("append").parquet(str(src))
    q = dedup_index_stream(spark, str(src), schema, idx, out, ckpt)
    q.awaitTermination(120)
    pairs0 = {(r["id_a"], r["id_b"]) for r in read_stream_pairs(spark, out).collect()}
    assert pairs0 == {("base0", "n0")}
    assert committed_publish_ids(spark, idx) == ["base", "e00000000"]
    assert read_index_sigs(spark, idx).count() == 10  # 8 base + 2 new

    # epoch 1: dup of the EPOCH-0 doc — with a REAL injected crash in the
    # asymmetric window (index snapshot committed, pairs output not): the
    # query fails, the checkpoint does not advance
    spark.createDataFrame([("m0", base_texts["base0"])], schema).write.mode("append").parquet(
        str(src)
    )
    q2 = dedup_index_stream(spark, str(src), schema, idx, out, ckpt,
                            _crash_after_index_commit={1})
    with pytest.raises(Exception, match="fault injection"):
        q2.awaitTermination(120)
    # the window state: index grew, but epoch 1's pairs are uncommitted
    assert "e00000001" in committed_publish_ids(spark, idx)
    assert not os.path.exists(f"{out}/_committed/e00000001")
    pairs_now = {(r["id_a"], r["id_b"]) for r in read_stream_pairs(spark, out).collect()}
    assert ("base0", "m0") not in pairs_now  # torn epoch invisible

    # restart with the SAME checkpoint: batch 1 replays, its docs are
    # already indexed, and the heal recomputes its pairs FROM THE INDEX —
    # a naive replay would emit an empty set here (the silent-wrong case)
    expected_e1 = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in pairs_for_snapshot(spark, idx, "e00000001").collect()
    }
    q3 = dedup_index_stream(spark, str(src), schema, idx, out, ckpt)
    q3.awaitTermination(120)
    healed = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in read_stream_pairs(spark, out)
        .filter(F.col("run_id") == "e00000001").collect()
    }
    assert healed == expected_e1 and ("base0", "m0", 1.0) in healed and ("m0", "n0", 1.0) in healed
    # the index never bloated across the replay
    assert read_index_sigs(spark, idx).count() == 11
    # streaming == batch: the union of epoch pairs equals running the batch
    # incremental op over the same snapshots in order
    idx2 = str(tmp_path / "idx2")
    build_dedup_index(base, "doc_id", "text", idx2)
    b0 = incremental_dedup_pairs(
        spark, spark.createDataFrame(
            [("n0", base_texts["base0"]), ("n1", " ".join(f"u{j}" for j in range(30)))], schema
        ), "doc_id", "text", idx2, snapshot_id="e00000000")
    b1 = incremental_dedup_pairs(
        spark, spark.createDataFrame([("m0", base_texts["base0"])], schema),
        "doc_id", "text", idx2, snapshot_id="e00000001")
    batch_pairs = {(r["id_a"], r["id_b"]) for r in b0.collect()} | {
        (r["id_a"], r["id_b"]) for r in b1.collect()}
    stream_pairs = {(r["id_a"], r["id_b"]) for r in read_stream_pairs(spark, out).collect()}
    assert stream_pairs == batch_pairs


def test_quality_gate_stream_incremental(spark, tmp_path):
    """Streaming twin of the learned quality gate (round 6): each
    availableNow run scores only NEW files with the frozen classifier,
    keeps docs via the deterministic draw, commits epochs atomically, and
    agrees bit-exactly with the batch composition on the union."""
    import os

    from batch_doc_vqa_spark.operators.chunking import score_resample
    from batch_doc_vqa_spark.operators.textstats import classifier_score
    from batch_doc_vqa_spark.sources.clf_fixture import (
        CLF_BUCKETS,
        clf_fixture_rows,
        trained_quality_model,
    )
    from batch_doc_vqa_spark.streaming.quality_stream import (
        quality_gate_stream,
        read_kept,
        read_rejected,
    )

    bias, weights = trained_quality_model()
    src = tmp_path / "docs_in"
    out = str(tmp_path / "gate_out")
    ckpt = str(tmp_path / "gate_ckpt")
    schema = "doc_id long, text string"
    rows = [(i, t) for i, (_, t) in enumerate(clf_fixture_rows())]
    spark.createDataFrame(rows[:40], schema).write.mode("append").parquet(str(src))

    q = quality_gate_stream(
        spark, str(src), schema, bias, weights, out, ckpt,
        n_buckets=CLF_BUCKETS, seed=5,
    )
    q.awaitTermination(120)
    kept1 = {r["doc_id"] for r in read_kept(spark, out).collect()}
    rej1 = {r["doc_id"] for r in read_rejected(spark, out).collect()}
    assert kept1 and rej1 and kept1.isdisjoint(rej1)
    assert kept1 | rej1 == {i for i, _ in rows[:40]}
    assert os.path.exists(f"{out}/_committed/e00000000")

    # second snapshot: only the new file is scored (checkpointed source)
    spark.createDataFrame(rows[40:], schema).write.mode("append").parquet(str(src))
    q2 = quality_gate_stream(
        spark, str(src), schema, bias, weights, out, ckpt,
        n_buckets=CLF_BUCKETS, seed=5,
    )
    q2.awaitTermination(120)
    kept_all = {r["doc_id"] for r in read_kept(spark, out).collect()}
    assert kept_all | {r["doc_id"] for r in read_rejected(spark, out).collect()} == {
        i for i, _ in rows
    }
    # streaming == batch composition on the union (same operators, frozen model)
    all_docs = spark.read.parquet(str(src))
    batch_kept = {
        r["doc_id"]
        for r in score_resample(
            classifier_score(all_docs, "doc_id", "text", bias, weights, CLF_BUCKETS),
            "doc_id", "clf_score", seed=5, base_hash="md5",
        ).collect()
    }
    assert kept_all == batch_kept
    # kept rows carry text + score + draw; torn-epoch invisibility
    row = read_kept(spark, out).limit(1).collect()[0]
    assert row["text"] is not None and 0.0 <= row["draw"] < 1.0
    os.remove(f"{out}/_committed/e00000001")
    assert {r["doc_id"] for r in read_kept(spark, out).collect()} == kept1


def test_hll_stream_incremental_and_idempotent(spark, tmp_path):
    """Streaming HLL twin (round 6): per-epoch partials commit atomically,
    the merged estimate equals the batch sketch on the union, replays and
    duplicate epochs cannot move the estimate (max-merge idempotence), and
    a torn epoch is invisible until its marker lands."""
    import os
    import shutil

    from batch_doc_vqa_spark.operators.sketches import hll_count_distinct
    from batch_doc_vqa_spark.streaming.hll_stream import (
        hll_stream,
        read_hll_estimate,
        read_sketch_partials,
    )

    src = tmp_path / "docs_in"
    out = str(tmp_path / "hll_out")
    ckpt = str(tmp_path / "hll_ckpt")
    schema = "doc_id long, uid string, g string"
    rows = [(i, f"u{i % 300}", ["a", "b"][i % 2]) for i in range(900)]
    spark.createDataFrame(rows[:500], schema).write.mode("append").parquet(str(src))

    hll_stream(spark, str(src), schema, "uid", ["g"], out, ckpt, p=8).awaitTermination(120)
    assert os.path.exists(f"{out}/_committed/e00000000")
    est1 = {r["g"]: r["est_distinct"]
            for r in read_hll_estimate(spark, out, ["g"], p=8).collect()}
    batch1 = {r["g"]: r["est_distinct"]
              for r in hll_count_distinct(
                  spark.createDataFrame(rows[:500], schema), "uid", ["g"], p=8
              ).collect()}
    assert est1 == batch1

    # epoch 2: only the new file is sketched; union estimate == batch on all
    spark.createDataFrame(rows[500:], schema).write.mode("append").parquet(str(src))
    hll_stream(spark, str(src), schema, "uid", ["g"], out, ckpt, p=8).awaitTermination(120)
    est2 = {r["g"]: r["est_distinct"]
            for r in read_hll_estimate(spark, out, ["g"], p=8).collect()}
    batch2 = {r["g"]: r["est_distinct"]
              for r in hll_count_distinct(
                  spark.createDataFrame(rows, schema), "uid", ["g"], p=8
              ).collect()}
    assert est2 == batch2

    # duplicate-epoch idempotence: physically copy epoch 1's partials under
    # a forged committed epoch — the max-merge must not move the estimate
    shutil.copytree(f"{out}/partials/run_id=e00000000",
                    f"{out}/partials/run_id=zdup")
    open(f"{out}/_committed/zdup", "w").close()
    est_dup = {r["g"]: r["est_distinct"]
               for r in read_hll_estimate(spark, out, ["g"], p=8).collect()}
    assert est_dup == est2

    # torn epoch invisibility
    os.remove(f"{out}/_committed/e00000001")
    est_torn = {r["g"]: r["est_distinct"]
                for r in read_hll_estimate(spark, out, ["g"], p=8).collect()}
    assert est_torn == est1
    n_epochs = read_sketch_partials(spark, out).select("run_id").distinct().count()
    assert n_epochs == 2  # e0 + the forged dup; e1 retracted


def test_sketch_stream_twins_loghist_cms(spark, tmp_path):
    """The generic epoch-sketch stream (round 6) carries the sum-merged
    sketches too: per-epoch loghist/CMS partials commit atomically, the
    merged statistic equals the batch sketch on the union, and a torn epoch
    is invisible (sum-merge is not idempotent — exactly-once is the marker
    protocol's job, so there is no forged-duplicate assertion here)."""
    import os

    from batch_doc_vqa_spark.operators.sketches import (
        cms_lookup,
        cms_partial,
        loghist_partial,
        loghist_quantile,
    )
    from batch_doc_vqa_spark.streaming.hll_stream import (
        cms_stream,
        loghist_stream,
        read_cms_lookup,
        read_loghist_quantile,
    )

    src = tmp_path / "docs_in"
    schema = "doc_id long, v long, k string, g string"
    rows = [(i, (i * 13) % 3000, f"u{i % 40}", ["a", "b"][i % 2]) for i in range(800)]
    spark.createDataFrame(rows[:450], schema).write.mode("append").parquet(str(src))

    lh_out, lh_ck = str(tmp_path / "lh_out"), str(tmp_path / "lh_ck")
    cm_out, cm_ck = str(tmp_path / "cm_out"), str(tmp_path / "cm_ck")
    loghist_stream(spark, str(src), schema, "v", ["g"], lh_out, lh_ck, b=5).awaitTermination(120)
    cms_stream(spark, str(src), schema, "k", ["g"], cm_out, cm_ck, w=256, d=3).awaitTermination(120)

    spark.createDataFrame(rows[450:], schema).write.mode("append").parquet(str(src))
    loghist_stream(spark, str(src), schema, "v", ["g"], lh_out, lh_ck, b=5).awaitTermination(120)
    cms_stream(spark, str(src), schema, "k", ["g"], cm_out, cm_ck, w=256, d=3).awaitTermination(120)

    full = spark.createDataFrame(rows, schema)
    qs = [0.5, 0.9]
    got_q = sorted(map(tuple, read_loghist_quantile(spark, lh_out, ["g"], qs, b=5).collect()))
    want_q = sorted(map(tuple, loghist_quantile(
        loghist_partial(full, "v", ["g"], b=5), ["g"], qs, b=5).collect()))
    assert got_q == want_q

    keys = full.select("g", "k").distinct()
    got_c = sorted(map(tuple, read_cms_lookup(
        spark, cm_out, keys, "k", ["g"], w=256, d=3).collect()))
    want_c = sorted(map(tuple, cms_lookup(
        cms_partial(full, "k", ["g"], w=256, d=3), keys, "k", ["g"], w=256, d=3).collect()))
    assert got_c == want_c

    # torn epoch invisibility: retract epoch 1's marker -> stats == epoch 0
    os.remove(f"{lh_out}/_committed/e00000001")
    early = spark.createDataFrame(rows[:450], schema)
    got_torn = sorted(map(tuple, read_loghist_quantile(spark, lh_out, ["g"], qs, b=5).collect()))
    want_torn = sorted(map(tuple, loghist_quantile(
        loghist_partial(early, "v", ["g"], b=5), ["g"], qs, b=5).collect()))
    assert got_torn == want_torn


def test_lost_checkpoint_restart_flags_collision_in_sketch_stream(spark, tmp_path):
    """A restart with a FRESH checkpoint over an existing out_dir renumbers
    epochs from 0. The shared replay guard keeps the committed epoch intact
    and never drops the colliding batch silently: it leaves the same
    ``_collisions/<epoch>`` breadcrumb the publish sink always left."""
    import os

    from batch_doc_vqa_spark.plans.publish import committed_publish_ids
    from batch_doc_vqa_spark.streaming.hll_stream import hll_stream, read_hll_estimate

    src = tmp_path / "docs_in"
    out = str(tmp_path / "hll_out")
    schema = "doc_id long, uid string, g string"
    spark.createDataFrame(
        [(i, f"u{i}", "a") for i in range(100)], schema
    ).write.mode("append").parquet(str(src))
    hll_stream(spark, str(src), schema, "uid", ["g"], out,
               str(tmp_path / "ckpt1"), p=8).awaitTermination(120)
    est_before = read_hll_estimate(spark, out, ["g"], p=8).collect()
    assert not os.path.exists(f"{out}/_collisions")

    spark.createDataFrame(
        [(i, f"u{i}", "a") for i in range(100, 1100)], schema
    ).write.mode("append").parquet(str(src))
    hll_stream(spark, str(src), schema, "uid", ["g"], out,
               str(tmp_path / "ckpt_lost"), p=8).awaitTermination(120)
    assert os.path.exists(f"{out}/_collisions/e00000000")
    assert committed_publish_ids(spark, out) == ["e00000000"]
    assert read_hll_estimate(spark, out, ["g"], p=8).collect() == est_before


def test_every_epoch_sink_writes_the_schema_store(spark, tmp_path):
    """The decontam, quality and sketch sinks commit through the same
    ``commit_run`` as the publish archive, so each epoch records its tables
    in the schema store; the readers' output is the same as the per-read
    mergeSchema fallback gives."""
    import os
    import shutil

    from batch_doc_vqa_spark.sources.clf_fixture import (
        CLF_BUCKETS,
        clf_fixture_rows,
        trained_quality_model,
    )
    from batch_doc_vqa_spark.streaming.decontam_stream import (
        decontam_screen_stream,
        read_clean,
        read_contaminated,
    )
    from batch_doc_vqa_spark.streaming.hll_stream import hll_stream, read_sketch_partials
    from batch_doc_vqa_spark.streaming.quality_stream import (
        quality_gate_stream,
        read_kept,
        read_rejected,
    )

    src = tmp_path / "docs_in"
    schema = "doc_id long, text string"
    rows = [(i, t) for i, (_, t) in enumerate(clf_fixture_rows())][:20]
    bench_text = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"
    rows.append((999, f"prefix words {bench_text} suffix words"))
    spark.createDataFrame(rows, schema).write.parquet(str(src))
    bench = spark.createDataFrame([("b0", bench_text)], "bench_id string, bench_text string")
    bias, weights = trained_quality_model()

    dc, qg, sk = (str(tmp_path / n) for n in ("dc_out", "qg_out", "sk_out"))
    decontam_screen_stream(spark, str(src), schema, bench, dc,
                           str(tmp_path / "dc_ck")).awaitTermination(120)
    quality_gate_stream(spark, str(src), schema, bias, weights, qg,
                        str(tmp_path / "qg_ck"), n_buckets=CLF_BUCKETS).awaitTermination(120)
    hll_stream(spark, str(src), schema, "text", [], sk,
               str(tmp_path / "sk_ck"), p=8).awaitTermination(120)

    def snapshot(df):
        return df.schema, sorted(map(tuple, df.collect()))

    for out, readers in (
        (dc, {"clean": read_clean, "contaminated": read_contaminated}),
        (qg, {"kept": read_kept, "rejected": read_rejected}),
        (sk, {"partials": read_sketch_partials}),
    ):
        for table in readers:
            assert os.path.exists(f"{out}/_schema/{table}.v1.json"), (out, table)
        with_store = {t: snapshot(r(spark, out)) for t, r in readers.items()}
        shutil.move(f"{out}/_schema", f"{out}/_schema_aside")  # mergeSchema fallback
        assert {t: snapshot(r(spark, out)) for t, r in readers.items()} == with_store
    assert {r["doc_id"] for r in read_contaminated(spark, dc).collect()} == {999}
