"""Per-query isolation bench (guide §1.4) — NOT the frozen driver bench.

Times individual declared queries with the same forcing methodology as
bench.py (try_sum(xxhash64(*cols)) so Catalyst cannot prune work), but
one query at a time, with per-rep Spark job counts so overhead-dominated
queries (many sequential jobs: iterative CC rounds, eager localCheckpoints,
convergence probes) are visible as job counts, not just seconds.

Usage:
    python bench_extra.py q1 q2 ...      # specific queries
    python bench_extra.py --all          # every bench.py query
    SPARK_GRAFT_BENCH_REPS=3 controls reps (min is reported).

Prints one JSON line per query:
    {"query": name, "secs": [..], "min": s, "jobs_per_rep": [..]}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from batch_doc_vqa_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    spark = get_spark("bench_extra", master=f"local[{cpus}]", shuffle_partitions=cpus)
    sc = spark.sparkContext

    qs = entrymod.queries()
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    if "--all" in sys.argv[1:]:
        import bench as benchmod

        names = list(benchmod.BENCH_QUERIES)
    else:
        names = args
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # warm the JVM + Python workers once so rep 0 isn't a cold-start outlier
    spark.range(1000).agg(F.try_sum(F.xxhash64("id"))).collect()

    tracker = sc.statusTracker()
    for name in names:
        secs, jobs_per_rep = [], []
        for rep in range(reps):
            gid = f"bx_{name}_{rep}"
            sc.setJobGroup(gid, name)
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.agg(
                F.try_sum(F.xxhash64(*[F.col(c).cast("string") for c in df.columns]))
            ).collect()
            secs.append(round(time.perf_counter() - t0, 3))
            jobs_per_rep.append(len(tracker.getJobIdsForGroup(gid) or []))
            sc.setJobGroup(None, None)
        print(
            json.dumps(
                {
                    "query": name,
                    "secs": secs,
                    "min": min(secs),
                    "jobs_per_rep": jobs_per_rep,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
