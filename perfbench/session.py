"""The benchmark's run context: work directories, Spark set-up and results.

All files a run writes (Spark local dirs, warehouse, temp files, inputs and
outputs) go under ``<repo>/.perfbench_work/``; the run's own directory is
removed at the end, and only its trace file is kept.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass, field

import pandas as pd

from .collector import StatusCollector, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MASTER = "local[4]"
CORES = 4


def _noop_len(payload: pd.Series) -> pd.Series:
    return payload.map(len)


def noop_udf():
    """A pandas UDF that returns payload lengths: Arrow transfer to the
    Python workers and back, with no kernel work."""
    from pyspark.sql import functions as F

    return F.pandas_udf(_noop_len, "long")


def _stop_jvm() -> None:
    """Shut the py4j gateway JVM down and wait for it to exit (its Python
    workers exit with their SparkContext)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    report: list[str] = field(default_factory=list)

    def fail(self, what: str, problems: list[str]) -> None:
        self.problems += [f"{what}: {p}" for p in problems]


class Bench:
    """One benchmark run: directories, the SparkSession and its tracer."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = self.path("tmp")
        self.tracer = Tracer(trace)
        self.spark = None
        self.collector: StatusCollector | None = None
        self.get_spark_s = self.worker_warm_s = 0.0
        # Python workers must import the engine whatever the cwd is
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        tempfile.tempdir = self.tmp
        self.conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def path(self, *parts: str) -> str:
        """A directory under this run's work directory, created if absent."""
        p = os.path.join(self.dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    # ---------------------------------------------------------------- setup

    def set_up(self) -> None:
        """get_spark, which starts the JVM, then the first action that spawns
        the Python workers: the set-up every job pays once."""
        from pyspark.sql import functions as F

        from batch_doc_vqa_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            t0 = time.perf_counter()
            spark = get_spark(
                f"perfbench-{self.workload}", master=MASTER, shuffle_partitions=CORES, extra_conf=self.conf
            )
            t1 = time.perf_counter()
        with self.tracer.span("session.worker_warm"):
            # the first action that spawns the Python workers
            spark.range(0, CORES, numPartitions=CORES).select(
                noop_udf()(F.col("id").cast("string").cast("binary")).alias("n")
            ).agg(F.sum("n")).collect()
            t2 = time.perf_counter()
        self.spark = spark
        self.collector = StatusCollector(spark)
        self.get_spark_s, self.worker_warm_s = t1 - t0, t2 - t1

    def close(self, result: Result) -> None:
        if self.spark is not None:
            self.spark.stop()
            _stop_jvm()
        if self.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            name = os.path.join(WORK, "traces", f"{self.workload}-seed{self.seed}.json")
            with open(name, "w") as f:
                json.dump(
                    {"workload": self.workload, "seed": self.seed, "spans": self.tracer.to_json(),
                     "problems": result.problems},
                    f, indent=1,
                )
        shutil.rmtree(self.dir, ignore_errors=True)
