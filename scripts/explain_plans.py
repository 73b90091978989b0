"""Dump formatted physical plans for the headline queries — the review loop
for shuffle/broadcast/pushdown hygiene (run after changing any operator).

Checks (printed per query):
- PushedFilters / ReadSchema on parquet scans (pruning reaches the source)
- BroadcastHashJoin vs SortMergeJoin choices
- Exchange count (shuffles)
- WholeStageCodegen coverage

Usage: python scripts/explain_plans.py SF_DIR [QUERY ...] [--verbose]
                                       [--out DIR --suffix S]

With --out, each formatted plan is also written to DIR/<query>_<S>.txt, so a
plan can be captured before and after an operator change and diffed.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from batch_doc_vqa_spark.session import get_spark  # noqa: E402

INTERESTING = [
    "q1_pricing_summary",
    "revenue_by_order",
    "region_rollup",
    "best_order_per_customer",
    "supplier_customer_match",
    "matching_pipeline",
    "dedup_exact",
    "jaccard_pairs",
    "minhash_lsh_pairs",
    "ann_cosine_topk",
    "pareto_parts",
    "events_hourly",
    "dedup_resolve_lsh",
    "validate_coerce",
    "cohort_stats",
    "pdf_text_extract",
    "corpus_filter",
    "chunk_documents",
    "url_dedup",
    "boilerplate_lines",
    "media_decode",
    "repetition_scores",
    "validate_strict",
    "contamination_report",
    "decontaminate",
    "pack_sequences",
    "training_recipe_v2",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "contamination_report_shuffle",
    "snapshot_diff",
    "incremental_dedup",
    # round 6: LM tier + tercile cut, temporal joins, portable HLL
    "lm_perplexity",
    "ppl_buckets",
    "events_asof_order",
    "events_in_windows",
    "hll_distinct_users",
    "quantile_sketch",
    "cms_heavy_hitters",
    # round 6b: inverted-index retrieval, shard delivery, map-side blocklist
    "bm25_topk",
    "shard_layout",
    "url_blocklist",
    # vector-search tier: every caller of the shared quantizer primitives
    "ann_ivf_topk",
    "ann_lsh_topk",
    "ann_pq_trained_topk",
    "ann_ivfpq_trained_topk",
    "ann_ivfpq_appended_topk",
    "semdedup",
    "embedding_dup_pairs_lsh",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", help="directory of the driver's parquet tables")
    ap.add_argument("names", nargs="*", default=INTERESTING)
    ap.add_argument("--verbose", action="store_true", help="print each full plan")
    ap.add_argument("--out", help="also write each plan to OUT/<query>_<suffix>.txt")
    ap.add_argument("--suffix", default="plan")
    args = ap.parse_args()
    spark = get_spark("explain", master="local[4]", shuffle_partitions=4)
    qs = entrymod.queries()
    if args.out:
        os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        df = qs[name](spark, args.sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        n_exchange = len(re.findall(r"\bExchange\b", plan))
        n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
        n_smj = len(re.findall(r"SortMergeJoin", plan))
        n_bnl = len(re.findall(r"BroadcastNestedLoopJoin", plan))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        print(f"\n===== {name}: exchanges={n_exchange} bhj={n_bhj} smj={n_smj} bnlj={n_bnl}")
        for p in pushed[:4]:
            print(f"  pushed: [{p[:120]}]")
        if args.verbose:
            print(plan)
        if args.out:
            with open(os.path.join(args.out, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(plan)


if __name__ == "__main__":
    main()
