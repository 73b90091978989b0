"""Correctness checks run after timing. Each returns a list of problems;
an empty list means the check passed."""

from __future__ import annotations

import importlib.util
import os
import sys
from collections import Counter

# run_extraction's non-strict failure statuses: these rows are committed
# with status 'failed' and a null text
FAILED_STATUSES = ("error", "unsupported_format")


def expected_row(payload: bytes) -> tuple[str | None, str]:
    """(text, status) that run_extraction commits for one payload, from the
    pure kernel."""
    from batch_doc_vqa_spark.functions.html_extract import extract_payload

    r = extract_payload(payload)
    if r.status in FAILED_STATUSES:
        return None, "failed"
    return r.text, r.status


def text_mismatches(expected: dict, committed: dict) -> list[str]:
    """Urls whose committed (text, status) is not byte-identical to the
    expected one, or which are missing from the committed rows."""
    bad = []
    for url, want in expected.items():
        got = committed.get(url)
        if got is None or got[1] != want[1] or (
            (got[0].encode() if got[0] is not None else None)
            != (want[0].encode() if want[0] is not None else None)
        ):
            bad.append(url)
    return sorted(bad)


def url_problems(urls: list[str], expected: set[str]) -> list[str]:
    """Every expected url exactly once, and nothing else."""
    counts = Counter(urls)
    dup = [u for u, c in counts.items() if c > 1]
    missing = expected - counts.keys()
    extra = counts.keys() - expected
    out = []
    if dup:
        out.append(f"{len(dup)} urls committed more than once, e.g. {sorted(dup)[:3]}")
    if missing:
        out.append(f"{len(missing)} input urls missing, e.g. {sorted(missing)[:3]}")
    if extra:
        out.append(f"{len(extra)} urls not in the input, e.g. {sorted(extra)[:3]}")
    return out


def check_extraction(spark, pages, out_dir: str, summary: dict, sample_urls: list[str]) -> list[str]:
    """One cold run_extraction: every input url is committed exactly once,
    the summary's n_failed matches the failed statuses, and the committed
    text of ``sample_urls`` is byte-identical to ``extract_payload``."""
    from pyspark.sql import functions as F

    from batch_doc_vqa_spark.plans import read_results

    res = read_results(spark, out_dir).filter(F.col("run_id") == summary["run_id"])
    rows = res.select("url", "status").collect()
    problems = url_problems([r.url for r in rows], {r.url for r in pages.select("url").collect()})
    n_failed = sum(r.status == "failed" for r in rows)
    if n_failed != summary["n_failed"]:
        problems.append(f"summary n_failed={summary['n_failed']} but {n_failed} rows have status 'failed'")
    if summary["n_docs"] != len(rows):
        problems.append(f"summary n_docs={summary['n_docs']} but {len(rows)} rows committed")

    want = {
        r.url: expected_row(r.html)
        for r in pages.filter(F.col("url").isin(sample_urls)).select("url", "html").collect()
    }
    got = {
        r.url: (r.text, r.status)
        for r in res.filter(F.col("url").isin(sample_urls)).select("url", "text", "status").collect()
    }
    bad = text_mismatches(want, got)
    if bad:
        problems.append(f"{len(bad)} of {len(want)} sampled urls differ from extract_payload, e.g. {bad[:3]}")
    return problems


def check_resume(spark, pages, out_dir: str, summary: dict, n_new: int) -> list[str]:
    """An incremental rerun: the store holds every input url exactly once and
    the rerun committed exactly the new urls."""
    from batch_doc_vqa_spark.plans import read_results

    urls = [r.url for r in read_results(spark, out_dir).select("url").collect()]
    problems = url_problems(urls, {r.url for r in pages.select("url").collect()})
    if summary["n_docs"] != n_new:
        problems.append(f"rerun committed n_docs={summary['n_docs']}, expected {n_new} new urls")
    return problems


# ------------------------------------------------------------ query oracle


def load_parity_check(root: str):
    """``scripts/parity_check.py`` as a module, for its ``canon``/``rowset``
    and table list. Importing it edits ``sys.path``; that edit is undone."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "parity_check", os.path.join(root, "scripts", "parity_check.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def oracle_problems(parity, scols, srows, ocols, orows) -> list[str]:
    """The parity gate's compare: same column names, same row count, and
    equal dtype-strict canonical rowsets."""
    scols = [c.lower() for c in scols]
    ocols = [c.lower() for c in ocols]
    if sorted(scols) != sorted(ocols):
        return [f"columns spark={sorted(scols)} duckdb={sorted(ocols)}"]
    if len(srows) != len(orows):
        return [f"rowcount spark={len(srows)} duckdb={len(orows)}"]
    a, b = parity.rowset(scols, srows), parity.rowset(ocols, orows)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return [f"value mismatch; first diffs: {diffs}"]
    return []


def table_rows(pdf) -> tuple[list[str], list[tuple]]:
    """(column names, row tuples) of a pandas DataFrame."""
    return list(pdf.columns), [tuple(r) for r in pdf.itertuples(index=False, name=None)]
