"""Seeded benchmark inputs, written under the benchmark's work directory.

Every input is a pure function of the ``--seed`` argument: the same seed
gives byte-identical tables. Nothing here is timed.

* ``write_mix_tables`` writes the ten test tables (region ... embeddings)
  with the schemas, key ranges and value distributions of the repository's
  ``sf0.01`` test data (TESTDATA.md), one single-row-group parquet file per table, so
  ``__spark_entry__`` queries and their ``oracle_sql()`` run on them
  unchanged.
* ``write_pages`` writes the crawl input and the new rows of the
  incremental rerun from the engine's own seeded pages generator (Zipf
  hosts, 10% SPDF, 15% hard profiles); ``write_prior_store`` writes a
  results store that already holds the crawl input's urls.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 test tables.
MIX_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
MIX_SF = "sf0.01"

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "cold", "green", "hot", "large", "red", "small", "white"]
_SHAPES = ["bolt", "gear", "nut", "plate", "ring", "rod", "screw", "spring"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EMB_DIM = 64
_EMB_LABELS = 10


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per (seed, table): adding a table never shifts
    # the rows of another
    return np.random.default_rng([seed, sum(map(ord, table)), len(table)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: dt.datetime, rng, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, span_days, n) * np.timedelta64(1, "D"), pa.timestamp("us"))


def mix_tables(seed: int) -> dict[str, pa.Table]:
    """The ten test tables at sf0.01 shape, generated from ``seed``."""
    n = MIX_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = _rng(seed, "customer")
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": r.choice(_SEGMENTS, n["customer"]),
        }
    )

    r = _rng(seed, "supplier")
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"]),
        }
    )

    r = _rng(seed, "part")
    keys = np.arange(n["part"])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{_COLORS[c]} {_SHAPES[s]}"
                for c, s in zip(r.integers(0, 8, n["part"]), r.integers(0, 8, n["part"]))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n["part"])],
            "p_type": r.choice(_PART_TYPES, n["part"]),
            "p_size": pa.array(r.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )

    r = _rng(seed, "orders")
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": r.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(r, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(dt.datetime(1995, 1, 1), r, 2405, n["orders"]),
            "o_orderpriority": r.choice(_PRIORITIES, n["orders"]),
        }
    )

    r = _rng(seed, "lineitem")
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, m), pa.int32()),
            "l_quantity": r.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105000.0, m),
            "l_discount": r.integers(0, 11, m) / 100.0,
            "l_tax": r.integers(0, 9, m) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], m),
            "l_linestatus": r.choice(["F", "O"], m),
            "l_shipdate": _days(dt.datetime(1995, 1, 2), r, 2500, m),
        }
    )

    r = _rng(seed, "events")
    m = n["events"]
    # strictly increasing timestamps over 30 days, microsecond resolution
    gaps = r.integers(1, 2 * 30 * 86400 * 10**6 // m, m)
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(m), pa.int64()),
            "ts": pa.array(
                np.datetime64(dt.datetime(2024, 1, 1), "us") + np.cumsum(gaps).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(r.integers(0, n["customer"] // 10, m), pa.int64()),
            "event_type": r.choice(_EVENT_TYPES, m),
            "value": _money(r, 0.01, 500.0, m),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, m)],
        }
    )

    t["documents"] = _documents(seed, n["documents"])
    t["embeddings"] = _embeddings(seed, n["embeddings"])
    return t


def _documents(seed: int, n: int) -> pa.Table:
    """Word-salad docs over a 30-word vocabulary; ~5% are a copy of another
    doc plus ' dup' (near-duplicates for the dedup/LSH queries)."""
    r = _rng(seed, "documents")
    texts = [" ".join(r.choice(_WORDS, int(r.integers(10, 101)))) for _ in range(n)]
    for i in np.flatnonzero(r.random(n) < 0.05):
        texts[i] = texts[int(r.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": r.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(seed: int, n: int) -> pa.Table:
    """Unit-norm float32 vectors: weak per-label centroids plus noise."""
    r = _rng(seed, "embeddings")
    labels = r.integers(0, _EMB_LABELS, n)
    centroids = r.normal(0.0, 0.06, (_EMB_LABELS, _EMB_DIM))
    x = centroids[labels] + r.normal(0.0, 0.125, (n, _EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_mix_tables(seed: int, root: str) -> str:
    """Write the mix tables to ``root/sf0.01/<table>.parquet``; returns the
    table directory (its ``sf0.01`` name is what ``_sf_of`` reads)."""
    sf_dir = os.path.join(root, MIX_SF)
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in mix_tables(seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"), compression="snappy")
    return sf_dir


_PAGES_SCHEMA = pa.schema(
    [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")), ("html", pa.binary()),
     ("text", pa.string()), ("lang", pa.string())]
)


def write_pages(seed: int, n_base: int, n_new: int, path: str, files: int) -> None:
    """Rows ``[0, n_base + n_new)`` of the engine's seeded pages generator as
    parquet: rows below ``n_base`` under ``path/part=base``, the rest under
    ``path/part=new``, ``files`` files each.

    Row i is the pure function ``page_row(seed, i)`` that ``pages_df`` also
    uses, so the ``new`` rows extend the ``base`` rows with urls no base row
    has."""
    from batch_doc_vqa_spark.sources.pages import page_row

    for part, lo, hi in (("base", 0, n_base), ("new", n_base, n_base + n_new)):
        os.makedirs(os.path.join(path, f"part={part}"), exist_ok=True)
        bounds = np.linspace(lo, hi, files + 1).astype(int)
        for k in range(files):
            rows = [page_row(seed, i) for i in range(bounds[k], bounds[k + 1])]
            table = pa.Table.from_pylist([{c: row[c] for c in _PAGES_SCHEMA.names} for row in rows],
                                         schema=_PAGES_SCHEMA)
            pq.write_table(table, os.path.join(path, f"part={part}", f"part-{k:03d}.parquet"))


def write_prior_store(pages, path: str, runs: int, num_buckets: int) -> None:
    """A results store that already holds ``pages``' urls, split over
    ``runs`` prior ``run_id`` partitions, in run_extraction's results schema.

    The rows carry no extracted text: a rerun reads only their urls (the
    done-set), so this stands in for several earlier extraction runs."""
    from pyspark.sql import functions as F

    from batch_doc_vqa_spark.functions.udfs import SPAN_TYPE
    from batch_doc_vqa_spark.plans.skew import BUCKET_COL, with_url_bucket

    (
        with_url_bucket(pages, num_buckets)
        .select(
            "url",
            "warc_ts",
            "lang",
            BUCKET_COL,
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast(SPAN_TYPE).alias("spans"),
            F.lit("ok").alias("status"),
            F.lit(None).cast("string").alias("error"),
            F.lit(0).alias("n_chars"),
            F.length("html").alias("n_input_bytes"),
            F.concat(F.lit("prior"), F.pmod(F.xxhash64("url"), F.lit(runs)).cast("string")).alias("run_id"),
        )
        .write.mode("overwrite")
        .partitionBy("run_id")
        .parquet(f"{path}/results")
    )
