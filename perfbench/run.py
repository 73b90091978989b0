"""Benchmark of the extraction engine at local[4]: one closed-loop client.

    python3 perfbench/run.py --workload extract_crawl --seed 1 --seconds 10 --trace 0

Workloads (their reasons are in BENCHMARK.json):
  extract_crawl   cold run_extraction calls over seeded pages, then one
                  incremental rerun (perfbench/extract.py)
  analytics_mix   passes over eight declared queries (perfbench/mix.py)

``--trace 0`` measures the end-to-end metrics of BENCHMARK.json, ``--trace
1`` the per-layer ones; metrics of a layer the workload never calls read 0.
Human-readable lines come first; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. A correctness mismatch is
printed to stderr as CORRECTNESS FAILURE and reported with ``"correct":
false``; the exit code is not 0 only when the run itself cannot finish.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# metric-name prefixes of the layers each workload calls
LAYERS = {
    "extract_crawl": ("session.", "mem.", "html_extract.", "udfs.", "skew.", "extract_job.", "resume.", "trace."),
    "analytics_mix": ("session.", "mem.", "q.", "operators.", "trace."),
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(LAYERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def final_metrics(workload: str, trace: bool, measured: dict) -> dict:
    """Every metric BENCHMARK.json declares for this mode, with its declared
    unit. A metric of a layer the workload does not call reads 0; any other
    missing metric, undeclared metric or unit mismatch is an error."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sections = {k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")}
    declared = sections["per_layer" if trace else "end_to_end"]
    extra = sorted(set(measured) - set(sections["end_to_end"]) - set(sections["per_layer"]))
    if extra:
        raise RuntimeError(f"undeclared metrics: {extra}")
    out = {}
    for name, unit in declared.items():
        if name in measured:
            value, got_unit = measured[name]
            if got_unit != unit:
                raise RuntimeError(f"{name}: measured in {got_unit}, declared in {unit}")
        elif trace and not name.startswith(LAYERS[workload]):
            value = 0
        else:
            raise RuntimeError(f"{workload} did not measure {name}")
        out[name] = {"value": float(value), "unit": unit}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "batch_doc_vqa_spark")):
        print(f"engine sources not found beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import extract, mix
    from perfbench.session import Bench, Result

    workload = {"extract_crawl": extract.run, "analytics_mix": mix.run}[args.workload]
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    r = Result()
    t0 = time.perf_counter()
    try:
        b.set_up()
        r.metrics["setup_s"] = (b.get_spark_s + b.worker_warm_s, "s")
        r.metrics["session.get_spark_s"] = (b.get_spark_s, "s")
        r.metrics["session.worker_warm_s"] = (b.worker_warm_s, "s")
        workload(b, r)
    finally:
        b.close(r)
    metrics = final_metrics(args.workload, b.trace, r.metrics)

    for line in r.report:
        print(line)
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"failed_ops = {r.failed}/{r.attempted}; run took {time.perf_counter() - t0:.1f} s")
    for p in r.problems:
        print(f"CORRECTNESS FAILURE: {p}", file=sys.stderr)
    correct = not r.problems and r.failed == 0
    print(json.dumps({"correct": correct, "attempted": r.attempted, "failed": r.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
