"""``extract_crawl``: cold ``run_extraction`` calls over a seeded pages table,
after a checked incremental rerun.

Timed operation: one ``plans.run_extraction`` call over ``N_BASE`` pages
into a fresh output directory; the last call's store is checked after
timing. Before timing, an incremental rerun warms the engine up: the
``N_BASE`` urls plus ``N_NEW`` new ones over a store whose prior runs hold
the ``N_BASE`` urls (the done-set scan and anti-join path); it is checked
too.

The traced run adds, around calls into each layer: single-thread
``extract_payload`` timings (``functions.html_extract``), scan-only, no-op
UDF and ``extract_udf`` passes (``functions.udfs``), an isolated write of
the committed rows, and status-store job/stage figures of every
``run_extraction`` call (``plans.skew``, ``plans.extract_job``).
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

from . import checks, fixtures
from .collector import JobStats, RssSampler, covered_seconds, median, ran_stages, sum_stages, tree_cpu_seconds
from .session import CORES, Bench, Result, noop_udf

N_BASE = 5000
N_NEW = N_BASE // 10
FILES = 2 * CORES
CHECK_SAMPLE = 200  # urls whose committed text is compared byte for byte
KERNEL_SAMPLE = 600  # pages timed single-thread through extract_payload
MIN_OPS = 3  # timed calls per run at least; op_s is their median
MAX_FAILED_CALLS = 3  # a run stops, without a result, at this many erroring calls
NUM_BUCKETS = 32  # run_extraction's default bucket count
PRIOR_RUNS = 4  # run_id partitions of the store an incremental rerun starts from


def _urls_sample(pages, seed: int, n: int) -> list[str]:
    import random

    urls = sorted(r.url for r in pages.select("url").collect())
    return random.Random(seed).sample(urls, min(n, len(urls)))


def classify_jobs(jobs: list[JobStats]) -> dict[str, list[JobStats]]:
    """Split one run_extraction call's jobs at the results write, the first
    job that writes output: jobs before it scan and repartition the input
    (and the done-set), jobs after it read the committed rows back for the
    lineage and the summary."""
    ordered = sorted(jobs, key=lambda j: j.job_id)
    writes = [i for i, j in enumerate(ordered) if sum_stages([j], "output_b") > 0]
    if not writes:
        return {"repartition": ordered, "write": [], "readback": []}
    w = writes[0]
    return {"repartition": ordered[:w], "write": [ordered[w]], "readback": ordered[w + 1:]}


def job_figures(jobs: list[JobStats], t0: float, t1: float) -> dict[str, float]:
    """Layer figures of one run_extraction call that ran from t0 to t1
    (epoch seconds)."""
    parts = classify_jobs(jobs)
    wall = lambda js: covered_seconds([(j.start_ms / 1e3, j.end_ms / 1e3) for j in js], t0, t1)  # noqa: E731
    write_stages = [s for s in ran_stages(parts["write"]) if s.output_b > 0]
    return {
        "jobs": len(jobs),
        "stages": len(ran_stages(jobs)),
        "repartition_s": wall(parts["repartition"]),
        "write_job_s": wall(parts["write"]),
        "readback_s": wall(parts["readback"]),
        "driver_s": (t1 - t0) - wall(jobs),
        "output_b": sum_stages(jobs, "output_b"),
        "shuffle_write_b": sum_stages(parts["repartition"], "shuffle_write_b"),
        "task_ms_p50": max((s.task_ms_p50 for s in write_stages), default=0.0),
        "task_ms_max": max((s.task_ms_max for s in write_stages), default=0.0),
    }


def _extraction(b: Bench, pages, out: str, group: str) -> tuple[dict, float, dict]:
    """One traced-or-not run_extraction call: (summary, seconds, figures)."""
    from batch_doc_vqa_spark.plans import run_extraction

    if b.trace:
        b.collector.set_group(group)
    with b.tracer.span("plans.run_extraction", trace=group):
        t0, p0 = time.time(), time.perf_counter()
        summary = run_extraction(b.spark, pages, out)
        secs, t1 = time.perf_counter() - p0, time.time()
    figures = {}
    if b.trace:
        b.collector.set_group(None)
        with b.tracer.span("trace.collect", trace=group):
            figures = job_figures(b.collector.jobs(b.collector.job_ids(group), quantiles=True), t0, t1)
    return summary, secs, figures


def _kernel_layer(b: Bench, pages, r: Result) -> float:
    """Single-thread extract_payload over a seeded sample; returns the mean
    µs per doc of the sample."""
    from batch_doc_vqa_spark.functions.html_extract import extract_payload
    from batch_doc_vqa_spark.functions.pdf_extract import SPDF_MAGIC

    urls = _urls_sample(pages, b.seed + 1, KERNEL_SAMPLE)
    payloads = [row.html for row in pages.filter(pages.url.isin(urls)).select("html").collect()]
    kinds = {"html": [p for p in payloads if not p.startswith(SPDF_MAGIC)],
             "spdf": [p for p in payloads if p.startswith(SPDF_MAGIC)]}
    total_s = 0.0
    for kind, docs in kinds.items():
        with b.tracer.span("html_extract.extract_payload", kind=kind):
            t0 = time.perf_counter()
            for p in docs:
                extract_payload(p)
            secs = time.perf_counter() - t0
        total_s += secs
        r.metrics[f"html_extract.us_per_doc.{kind}"] = (secs / max(len(docs), 1) * 1e6, "us")
    r.metrics["html_extract.mb_per_s"] = (sum(map(len, payloads)) / 1e6 / total_s, "MB/s")
    return total_s / len(payloads) * 1e6


def _udf_layer(b: Bench, pages, us_per_doc: float, r: Result) -> float:
    """Scan-only, no-op UDF and extract_udf passes over the input after
    run_extraction's bucketing (plans.skew), so each pass runs the same tasks
    as the extract stage; returns the extract pass seconds."""
    from pyspark.sql import functions as F

    from batch_doc_vqa_spark.functions.udfs import extract_udf
    from batch_doc_vqa_spark.plans.skew import with_salted_partition

    pages = with_salted_partition(pages, NUM_BUCKETS)
    passes = {
        "scan": pages.select(F.length("html").alias("n")),
        "noop_udf": pages.select(noop_udf()(F.col("html")).alias("n")),
        "extract_udf": pages.select(F.length(extract_udf(F.col("html")).getField("text")).alias("n")),
    }
    secs = {}
    for name, df in passes.items():
        with b.tracer.span(f"udfs.{name}"):
            t0 = time.perf_counter()
            df.agg(F.sum("n")).collect()
            secs[name] = time.perf_counter() - t0
        r.metrics[f"udfs.{name}_s"] = (secs[name], "s")
    r.metrics["udfs.transfer_s"] = (secs["noop_udf"] - secs["scan"], "s")
    r.metrics["udfs.kernel_s"] = (secs["extract_udf"] - secs["noop_udf"], "s")
    single = 1e6 / us_per_doc
    r.metrics["udfs.parallel_eff"] = ((N_BASE / secs["extract_udf"]) / (CORES * single), "ratio")
    return secs["extract_udf"]


def _write_layer(b: Bench, out: str) -> float:
    """Re-write the committed rows of one call, partitioned like the
    results store: the write layer on its own."""
    from batch_doc_vqa_spark.plans import read_results

    rows = read_results(b.spark, out)
    with b.tracer.span("extract_job.write"):
        t0 = time.perf_counter()
        rows.write.partitionBy("run_id").parquet(b.path("rewrite") + "/results")
        return time.perf_counter() - t0


def _resume(b: Bench, prior: str, pages, group: str) -> tuple[dict, float, dict, list[str]]:
    """An incremental rerun of ``pages`` over a fresh copy of the prior
    store, checked: (summary, seconds, figures, problems)."""
    store = b.path("resume", group)
    shutil.rmtree(store)
    shutil.copytree(prior, store)
    summary, secs, fig = _extraction(b, pages, store, group)
    with b.tracer.span("check.resume"):
        problems = checks.check_resume(b.spark, pages, store, summary, N_NEW)
    shutil.rmtree(store)
    return summary, secs, fig, problems


def run(b: Bench, r: Result) -> None:
    from pyspark.sql import functions as F

    from batch_doc_vqa_spark.plans import read_lineage

    spark = b.spark
    pages_dir, prior = b.path("pages"), b.path("prior")
    with b.tracer.span("fixtures"):
        fixtures.write_pages(b.seed, N_BASE, N_NEW, pages_dir, FILES)
        base = spark.read.parquet(f"{pages_dir}/part=base")
        everything = spark.read.parquet(pages_dir).drop("part")
        fixtures.write_prior_store(base, prior, PRIOR_RUNS, NUM_BUCKETS)

    # warm-up, and the incremental-rerun check: the new urls over a store
    # that holds the base urls
    r.attempted += 1
    summary, _, _, problems = _resume(b, prior, everything, "warm")
    r.failed += bool(problems)
    r.fail("resume check", problems)

    ops, cpu, figs, last = [], [], [], None
    t_start = time.perf_counter()
    with RssSampler(b.jvm_pid) as rss:
        while len(ops) < MIN_OPS or time.perf_counter() - t_start < b.seconds:
            out = b.path("crawl", f"op{len(ops)}")
            r.attempted += 1
            c0 = tree_cpu_seconds(os.getpid())
            try:
                summary, secs, fig = _extraction(b, base, out, f"crawl.{len(ops)}")
            except Exception:  # an erroring call is a failed op, not a crashed run
                r.failed += 1
                r.fail("crawl", [traceback.format_exc()])
                shutil.rmtree(out, ignore_errors=True)
                if r.failed >= MAX_FAILED_CALLS:
                    raise
                continue
            cpu.append(tree_cpu_seconds(os.getpid()) - c0)
            if summary["n_docs"] != N_BASE:
                r.failed += 1
                r.fail("crawl", [f"run_extraction committed {summary['n_docs']} docs, expected {N_BASE}"])
            ops.append(secs)
            figs.append(fig)
            if last is not None:
                shutil.rmtree(last[0], ignore_errors=True)
            last = (out, summary)
    timed_s = time.perf_counter() - t_start
    op_s = median(ops)
    r.metrics["op_s"] = (op_s, "s")
    r.metrics["op_cpu_s"] = (median(cpu), "s")
    rss.record(r)
    r.report.append(f"docs_per_s = {N_BASE / op_s:.1f} docs/s "
                    f"(median of {len(ops)} run_extraction calls, {N_BASE} pages each: "
                    + ", ".join(f"{x:.3f}" for x in ops) + " s)")

    with b.tracer.span("check.crawl"):
        sample = _urls_sample(base, b.seed, CHECK_SAMPLE)
        problems = checks.check_extraction(spark, base, last[0], last[1], sample)
    r.failed += bool(problems)
    r.fail("crawl check", problems)

    if not b.trace:
        return
    us_per_doc = _kernel_layer(b, base, r)
    udf_s = _udf_layer(b, base, us_per_doc, r)
    write_s = _write_layer(b, last[0])
    f = {k: median(x[k] for x in figs) for k in figs[0]}
    lineage = read_lineage(spark, last[0]).filter(F.col("run_id") == last[1]["run_id"])
    per_bucket = sorted(x.n_docs for x in lineage.select("n_docs").collect())
    r.attempted += 1
    summary, secs, fig, problems = _resume(b, prior, everything, "resume")
    r.failed += bool(problems)
    r.fail("resume check", problems)
    r.metrics.update({
        "skew.repartition_s": (f["repartition_s"], "s"),
        "skew.shuffle_write_b": (f["shuffle_write_b"], "B"),
        "skew.task_ms_p50": (f["task_ms_p50"], "ms"),
        "skew.task_ms_max": (f["task_ms_max"], "ms"),
        "skew.bucket_docs_max_over_p50": (per_bucket[-1] / median(per_bucket), "ratio"),
        "extract_job.run_s": (op_s, "s"),
        "extract_job.jobs": (f["jobs"], "count"),
        "extract_job.stages": (f["stages"], "count"),
        "extract_job.write_job_s": (f["write_job_s"], "s"),
        "extract_job.readback_s": (f["readback_s"], "s"),
        "extract_job.driver_s": (f["driver_s"], "s"),
        "extract_job.output_b": (f["output_b"], "B"),
        "extract_job.done_set_rows": (0, "count"),
        "extract_job.useful_ratio": (last[1]["n_docs"] / N_BASE, "ratio"),
        "extract_job.write_s": (write_s, "s"),
        "resume.run_s": (secs, "s"),
        "resume.jobs": (fig["jobs"], "count"),
        "resume.done_set_rows": (N_BASE, "count"),
        "resume.useful_ratio": (summary["n_docs"] / (N_BASE + N_NEW), "ratio"),
        "trace.op_s": (op_s, "s"),
        "trace.overhead_ratio": (b.collector.self_seconds / timed_s, "ratio"),
    })
    # scan + repartition + transfer + kernel (the extract_udf pass), write,
    # read-back and driver time against the measured call
    layers = udf_s + write_s + f["readback_s"] + f["driver_s"]
    r.report.append(f"layer sum {layers:.3f} s = extract_udf pass {udf_s:.3f} + write {write_s:.3f} "
                    f"+ read-back {f['readback_s']:.3f} + driver {f['driver_s']:.3f}; "
                    f"run_extraction {op_s:.3f} s (ratio {layers / op_s:.3f})")
    r.report.append(f"resume: {summary['n_docs']} new of {N_BASE + N_NEW} input urls in {secs:.3f} s "
                    f"over a store of {N_BASE} rows in {PRIOR_RUNS} runs")
