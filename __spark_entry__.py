"""Driver contract for the spark-graft builder (PySpark target).

``entry``   — flagship: the full main-content extraction pipeline over the
              seeded Common-Crawl-style pages table at sf0.001 scale.
``queries`` — one entry per implemented operator (SURVEY.md §2 + the
              training-data-pipeline operators); each runs on the driver's
              parquet tables at ``sf_dir``.
``oracle_sql`` — DuckDB-equivalent SQL for every query.
Both are views over ``_QUERIES`` (end of file), which holds one
(name, builder, oracle) row per query; each oracle sits next to its builder.

Numeric discipline for cross-engine hash parity: big double sums go through
decimal(18,x) (exact, order-independent) then back to double; averages and
similarities are rounded; rankings always carry an explicit integer tiebreak.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batch_doc_vqa_spark.functions.udfs import extract_udf, split_pages
from batch_doc_vqa_spark.operators import (
    analytics,
    dedup,
    matching,
    multimodal,
    probs as probs_ops,
    regions,
    runs_analytics,
    similarity,
    textstats,
)
from batch_doc_vqa_spark.operators import sessions, ta_metrics
from batch_doc_vqa_spark.plans.publish import _fs
from batch_doc_vqa_spark.plans.skew import salted_host_stats, with_salted_partition
from batch_doc_vqa_spark.sources import matching_fixture, probs_fixture, runs_fixture, ta_fixture
from batch_doc_vqa_spark.sources.pages import pages_df, rows_for_sf


# ---------------------------------------------------- fixture → SQL VALUES
#
# The extraction-adjacent operators run on deterministic seeded fixtures
# (FIXTURES.md F3-F6) that DuckDB can't read from parquet — so the oracle SQL
# embeds the exact same fixture rows as VALUES CTEs, generated from the same
# Python generators. Both engines see literally identical inputs.


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S')}'"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(_sql_lit(x) for x in v) + "]"
    raise TypeError(f"no SQL literal for {type(v)}")


def _values_cte(name: str, cols: list[str], rows: list[tuple]) -> str:
    vals = ",\n  ".join("(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows)
    return f"{name}({', '.join(cols)}) AS (VALUES\n  {vals})"


_TOKS = r"list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')"

# DuckDB mirror of dedup.normalized_tokens (lower → strip non-alnum →
# whitespace split) — the tokenization every dedup/classifier op shares
_NTOKS = (
    r"list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), "
    r"'[^a-z0-9\s]', ' ', 'g')), '\s+'), x -> x != '')"
)


# Primary keys for scan-parallelism repair (below). Tiny dimension tables
# (nation, region) are deliberately absent — repartitioning them buys
# nothing.
_SCAN_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "documents": "doc_id",
    "events": "event_id",
    "embeddings": "vec_id",
    "part": "p_partkey",
    "supplier": "s_suppkey",
}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """_t plus scan-parallelism repair, size-gated and OPT-IN per call site.

    The test tables are written as a single parquet row group, so Spark
    plans ONE scan task and every narrow computation on top (explodes,
    regex cascades, shingle/token hashing, vector math, partial
    aggregation) serializes onto one core regardless of cluster size. For
    the compute-heavy constructors a deterministic hash repartition on the
    primary key spreads that map work across the session's cores; the gate
    compares the PLANNED split count (data files and bytes /
    maxPartitionBytes, from a filesystem listing — no Spark job) against
    session parallelism, so adequately split inputs
    (any real multi-file table at scale) pay no extra exchange. Predicate
    pushdown still reaches the scan through RepartitionByExpression.

    Opt-in, not blanket: queries whose first operation is already a
    shuffle (plain aggregations, window prefix sums, joins) measured
    0.2–0.8 s SLOWER with a blanket repartition in _t — the exchange buys
    nothing when partial aggregation would have collapsed the single scan
    task's output anyway. Only call sites with heavy per-row work between
    the scan and the first exchange use _tp.
    """
    df = _t(spark, sf_dir, name)
    key = _SCAN_KEYS.get(name)
    if key is not None:
        target = spark.sparkContext.defaultParallelism
        if _planned_scan_splits(spark, f"{sf_dir}/{name}.parquet") * 2 < target:
            df = df.repartition(target, F.col(key))
    return df


def _planned_scan_splits(spark: SparkSession, path: str) -> int:
    """Spark's planned split count for a parquet table, one file or a
    directory of them: at least one split per data file, and bytes over
    maxPartitionBytes — read from the filesystem the table lives on, as it
    is now (a df.rdd.getNumPartitions() probe costs a full plan→RDD
    conversion, ~0.3 s per table read). Names starting with ``_`` or ``.``
    (``_SUCCESS``, checksums) are skipped as Spark's file index skips them;
    a Hadoop content summary would count them, and a one-file Spark-written
    directory would then read as two splits."""
    import math

    mpb = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    fs, jpath = _fs(spark, path)
    files = size = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        if not st.getPath().getName().startswith(("_", ".")):
            files += 1
            size += st.getLen()
    return max(1, files, math.ceil(size / mpb))


def _sf_of(sf_dir: str) -> float:
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return 0.001


def _davg(col, digits: int = 6, sum_digits: int = 6):
    """Order-independent average: exact decimal sum / count → double, round.

    Native double AVG is summation-order-dependent; at table scale the 6th
    decimal flips at ULP boundaries between Spark and DuckDB (seen at sf0.1).
    """
    return F.round(
        F.sum(col.cast(f"decimal(28,{sum_digits})")).cast("double") / F.count(F.lit(1)), digits
    )


def _dsum(col, digits: int = 2):
    """Order-independent double sum: exact decimal accumulation → double."""
    return F.sum(col.cast(f"decimal(18,{digits})")).cast("double")


# --------------------------------------------------------------- flagship


def entry(spark: SparkSession) -> DataFrame:
    """Extraction pipeline at sf0.001: generate pages → salted hash(url)
    repartition → Arrow-batched extract → per-url results."""
    pages = pages_df(spark, rows_for_sf(0.001), seed=42)
    bucketed = with_salted_partition(pages, num_buckets=8)
    return bucketed.withColumn("_ex", extract_udf(F.col("html"))).select(
        "url",
        "lang",
        F.col("_ex.status").alias("status"),
        F.length("_ex.text").alias("n_chars"),
        F.size("_ex.spans").alias("n_spans"),
    )


# --------------------------------------------------------------- queries


_N_EXTRACT = 512  # fixed so the VALUES oracle matches at every sf


def _q_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # text_md5 makes the oracle a *byte-identity* check of the distributed
    # extraction against the pure kernel (the repo's north-rule invariant)
    pages = with_salted_partition(pages_df(spark, _N_EXTRACT, seed=42), num_buckets=16)
    return pages.withColumn("_ex", extract_udf(F.col("html"))).select(
        "url",
        F.col("_ex.status").alias("status"),
        F.length("_ex.text").alias("n_chars"),
        F.size("_ex.spans").alias("n_spans"),
        F.md5(F.encode("_ex.text", "utf-8")).alias("text_md5"),
    )


def _extract_oracle() -> str:
    """Embed the pure-kernel extraction of the same seeded pages as VALUES."""
    import hashlib as _hl

    from batch_doc_vqa_spark.functions import extract_payload
    from batch_doc_vqa_spark.sources.pages import page_row

    rows = []
    for i in range(_N_EXTRACT):
        r = page_row(42, i)
        ex = extract_payload(r["html"])
        rows.append(
            (
                r["url"],
                ex.status,
                len(ex.text or ""),
                len(ex.spans),
                _hl.md5((ex.text or "").encode("utf-8")).hexdigest(),
            )
        )
    cte = _values_cte("ex", ["url", "status", "n_chars", "n_spans", "text_md5"], rows)
    return f"""
        WITH {cte}
        SELECT url, status, CAST(n_chars AS INT) AS n_chars,
               CAST(n_spans AS INT) AS n_spans, text_md5
        FROM ex
    """


_N_HOST_STATS = 2000  # fixed so the VALUES oracle matches at every sf


def _q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return salted_host_stats(pages_df(spark, _N_HOST_STATS, seed=42))


def _host_stats_oracle() -> str:
    """Per-host totals from the pure fixture: the salt is internal to phase 1
    of the two-phase aggregation and cancels in phase 2, so the oracle only
    needs the (host, rows, bytes) ground truth."""
    from collections import defaultdict

    from batch_doc_vqa_spark.sources.pages import page_row

    rows_by: dict[str, int] = defaultdict(int)
    bytes_by: dict[str, int] = defaultdict(int)
    for i in range(_N_HOST_STATS):
        r = page_row(42, i)
        host = r["url"].split("://", 1)[1].split("/", 1)[0]
        rows_by[host] += 1
        bytes_by[host] += len(r["html"])
    rows = [(h, rows_by[h], bytes_by[h]) for h in sorted(rows_by)]
    cte = _values_cte("hs", ["host", "n_rows", "n_bytes"], rows)
    return f"""
        WITH {cte}
        SELECT host, CAST(n_rows AS BIGINT) AS n_rows, CAST(n_bytes AS BIGINT) AS n_bytes
        FROM hs
    """


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _tp(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_quantity")).alias("sum_qty"),
        _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("sum_disc_price"),
        _davg(F.col("l_quantity")).alias("avg_qty"),
        _davg(F.col("l_extendedprice")).alias("avg_price"),
        _davg(F.col("l_discount")).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


_Q1_PRICING_SUMMARY_ORACLE = """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
                   ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
                   ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
                   ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """


def _q_revenue_by_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"))
    )


_REVENUE_BY_ORDER_ORACLE = """
            SELECT o_orderkey, o_orderdate,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
        """


def _q_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _davg(F.col("c_acctbal")).alias("avg_acctbal"),
        )
    )


_REGION_ROLLUP_ORACLE = """
            SELECT r_name, COUNT(*) AS n_customers, ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS avg_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """


def _q_best_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    best = analytics.latest_per_key(orders, "o_custkey", "o_totalprice", "o_orderkey")
    return best.select("o_custkey", "o_orderkey", "o_totalprice")


_BEST_ORDER_PER_CUSTOMER_ORACLE = """
            SELECT o_custkey, o_orderkey, o_totalprice FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                FROM orders
            ) WHERE rn = 1
        """


def _q_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return analytics.top_k_per_group(orders, "o_custkey", "o_totalprice", 3, "o_orderkey").select(
        "o_custkey", "o_orderkey", "o_totalprice", "rank"
    )


_TOP3_ORDERS_PER_CUSTOMER_ORACLE = """
            SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
                FROM orders
            ) WHERE rank <= 3
        """


def _q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return analytics.latest_per_key(ev, "user_id", "ts", "event_id").select(
        "user_id", "event_id", "ts", "event_type"
    )


_LATEST_EVENT_PER_USER_ORACLE = """
            SELECT user_id, event_id, ts, event_type FROM (
                SELECT user_id, event_id, ts, event_type,
                       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
                FROM events
            ) WHERE rn = 1
        """


def _q_supplier_customer_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = _t(spark, sf_dir, "supplier")
    # the customer parquet is one row group → one scan task, and the
    # levenshtein fan-out (|sup|×|cust| per nation) runs entirely in that
    # task; hash-repartition the probe side to the session's parallelism
    # (derived, not a constant) so the edit-distance stage spreads across
    # cores. Deterministic key-hash partitioning, value-neutral.
    cust = _t(spark, sf_dir, "customer").repartition(
        spark.sparkContext.defaultParallelism, F.col("c_custkey")
    )
    j = sup.join(cust, sup.s_nationkey == cust.c_nationkey).withColumn(
        "d", F.levenshtein(F.lower("s_name"), F.lower("c_name"))
    )
    return j.groupBy("s_suppkey").agg(F.min("d").alias("best_dist")).withColumn(
        "found", F.col("best_dist") <= 3
    )


_SUPPLIER_CUSTOMER_MATCH_ORACLE = """
            SELECT s_suppkey,
                   MIN(levenshtein(lower(s_name), lower(c_name))) AS best_dist,
                   (MIN(levenshtein(lower(s_name), lower(c_name))) <= 3) AS found
            FROM supplier JOIN customer ON s_nationkey = c_nationkey
            GROUP BY s_suppkey
        """


def _q_digit_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.select(
            F.explode(F.split(F.lpad(F.col("c_custkey").cast("string"), 8, "0"), "")).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_DIGIT_FREQUENCY_ORACLE = """
            SELECT digit, COUNT(*) AS n FROM (
                SELECT unnest(string_to_array(lpad(CAST(c_custkey AS VARCHAR), 8, '0'), '')) AS digit
                FROM customer
            ) GROUP BY digit
        """


def _q_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scalable two-phase skyline (vectorized local frontier → tiny anti-join):
    # the plain anti-join form is a broadcast nested loop that dies at scale
    part = _t(spark, sf_dir, "part")
    return analytics.pareto_frontier_scalable(part, "p_retailprice", "p_size").select(
        "p_partkey", "p_retailprice", "p_size"
    )


_PARETO_PARTS_ORACLE = """
            SELECT p_partkey, p_retailprice, p_size FROM part p
            WHERE NOT EXISTS (
                SELECT 1 FROM part o
                WHERE o.p_retailprice < p.p_retailprice AND o.p_size >= p.p_size
            )
        """


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _dsum(F.col("value")).alias("sum_value"),
        # avg via exact decimal sum / count: a native double avg is summation-
        # order-dependent and flips the 6th decimal at ULP boundaries (seen at
        # sf0.1), breaking cross-engine hash parity
        F.round(_dsum(F.col("value"), 6) / F.count(F.lit(1)), 6).alias("avg_value"),
    )


_EVENTS_HOURLY_ORACLE = """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_value
            FROM events GROUP BY 1, 2
        """


def _q_events_asof_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (round 6): each event gains the customer's latest order
    at-or-before the event timestamp — the 'state at event time' lookup a
    crawl table needs for (url, warc_ts) snapshot resolution. One shuffle
    per side + a running last() window; the oracle is the explicit
    ROW_NUMBER form (orderdate DESC, orderkey DESC) so the tie among
    same-(custkey, orderdate) orders — which the fixture really contains —
    is pinned to the same row in both engines."""
    from batch_doc_vqa_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
    )
    return asof_join(
        ev, od, ["user_id"], "ts", "o_orderdate",
        payload=["o_orderkey", "o_totalprice"], tiebreak="o_orderkey",
        matched_ts="asof_orderdate",
    ).select(
        "event_id", "user_id", "ts", "asof_orderdate",
        F.col("o_orderkey").alias("asof_orderkey"),
        F.col("o_totalprice").alias("asof_totalprice"),
    )


def _q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (round 6) over a deterministic host link
    graph derived from documents (host = source + doc_id%7 shard; each doc
    links to the host of doc (id*1000003+17) mod N — integer math both
    engines). 4 synchronous steps, damping 0.85, dangling redistribution;
    per-edge contributions round to 12 and sum as decimal(38,12), so the
    whole iteration chain is order-free and the oracle recomputes it
    exactly. Note (1-d) is WRITTEN as a subtraction in both engines — the
    literal 0.15 is a different IEEE double than 1.0-0.85."""
    from batch_doc_vqa_spark.operators.graphs import pagerank

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    host = F.concat(
        F.col("source"), F.lit("-"), F.pmod(F.col("doc_id"), F.lit(7)).cast("string")
    )
    mm = docs.agg((F.max("doc_id") + F.lit(1)).alias("_m"))
    a = docs.crossJoin(F.broadcast(mm)).select(
        host.alias("src_host"),
        F.pmod(F.col("doc_id") * 1000003 + 17, F.col("_m")).alias("_tid"),
    )
    b = docs.select(F.col("doc_id").alias("_tid"), host.alias("dst_host"))
    edges = (
        a.join(b, "_tid")
        .filter(F.col("src_host") != F.col("dst_host"))
        .select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    )
    pr = pagerank(edges, iterations=4, damping=0.85, round_to=12)
    return pr.select(F.col("node").alias("host"), F.round("rank", 6).alias("rank"))


def _host_pagerank_oracle(iters: int = 4) -> str:
    dec0 = "CAST(0 AS DECIMAL(38,12))"
    parts = [
        "mm AS (SELECT MAX(doc_id) + 1 AS m FROM documents)",
        """h AS (SELECT doc_id,
                        source || '-' || CAST(doc_id % 7 AS VARCHAR) AS host
                 FROM documents)""",
        """a AS (SELECT h.host AS src,
                        (h.doc_id * 1000003 + 17) % mm.m AS tid
                 FROM h CROSS JOIN mm)""",
        """edges AS (SELECT DISTINCT a.src, b.host AS dst
                     FROM a JOIN h b ON b.doc_id = a.tid
                     WHERE a.src <> b.host)""",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
        "deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        """r0 AS (SELECT node, ROUND(CAST(1 AS DOUBLE) / nn.n, 12) AS rank
                  FROM nodes CROSS JOIN nn)""",
    ]
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        parts.append(
            f"""c{i} AS (SELECT e.dst AS node,
                        SUM(CAST(ROUND(r.rank / g.deg, 12) AS DECIMAL(38,12))) AS s
                 FROM edges e
                 JOIN deg g ON g.src = e.src
                 JOIN {p} r ON r.node = e.src
                 GROUP BY e.dst)"""
        )
        parts.append(
            f"""d{i} AS (SELECT COALESCE(SUM(CAST(ROUND(r.rank, 12) AS DECIMAL(38,12))),
                                {dec0}) AS dang
                 FROM {p} r LEFT JOIN deg g ON g.src = r.node
                 WHERE g.src IS NULL)"""
        )
        parts.append(
            f"""r{i} AS (SELECT n.node,
                        ROUND((CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                              + CAST(0.85 AS DOUBLE)
                                * (CAST(COALESCE(c.s, {dec0}) AS DOUBLE)
                                   + CAST(d.dang AS DOUBLE) / nn.n), 12) AS rank
                 FROM nodes n CROSS JOIN nn CROSS JOIN d{i} d
                 LEFT JOIN c{i} c ON c.node = n.node)"""
        )
    ctes = ",\n        ".join(parts)
    return f"""
        WITH {ctes}
        SELECT node AS host, ROUND(rank, 6) AS rank FROM r{iters}
    """


def _q_host_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (round 6) via alternating large-star/small-star
    contraction over a deterministic host graph: hosts are source-(doc_id%7)
    shards, each doc links its shard to shard (doc_id*3+1)%7 WITHIN its
    source — the shard permutation i→3i+1 (mod 7) leaves shard 3 a fixed
    point, so every source contributes one 6-host component and one
    singleton at every sf. The oracle recomputes components as a recursive
    min-label CTE (transitive closure) — feasible because the node set is
    host-scale, while the Spark side runs the edge-contraction formulation
    that survives 10^12-edge graphs."""
    from batch_doc_vqa_spark.operators.graphs import connected_components

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    host = F.concat(
        F.col("source"), F.lit("-"), F.pmod(F.col("doc_id"), F.lit(7)).cast("string")
    )
    dst_host = F.concat(
        F.col("source"),
        F.lit("-"),
        F.pmod(F.col("doc_id") * 3 + 1, F.lit(7)).cast("string"),
    )
    pairs = docs.select(host.alias("id_a"), dst_host.alias("id_b"))
    ids = docs.select(host.alias("host"))
    cc = connected_components(ids, pairs, id_col="host")
    w = Window.partitionBy("component_id")
    return cc.select(
        F.col("id").alias("host"),
        "component_id",
        F.count(F.lit(1)).over(w).alias("component_size"),
    )


_HOST_COMPONENTS_ORACLE = """
    WITH RECURSIVE e0 AS (
        SELECT DISTINCT
               source || '-' || CAST(doc_id % 7 AS VARCHAR) AS src,
               source || '-' || CAST((doc_id * 3 + 1) % 7 AS VARCHAR) AS dst
        FROM documents),
    edges AS (
        SELECT src, dst FROM e0 WHERE src <> dst
        UNION
        SELECT dst, src FROM e0 WHERE src <> dst),
    hosts AS (
        SELECT DISTINCT source || '-' || CAST(doc_id % 7 AS VARCHAR) AS host
        FROM documents),
    reach(id, lbl) AS (
        SELECT host, host FROM hosts
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
    comp AS (SELECT id AS host, MIN(lbl) AS component_id FROM reach GROUP BY id)
    SELECT host, component_id,
           COUNT(*) OVER (PARTITION BY component_id) AS component_size
    FROM comp
"""


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval (round 6): the inverted-index lexical search
    tier. Queries are the first 5 normalized tokens of three fixture docs
    (data-derived, no external text); the oracle replays the whole scoring
    pipeline — postings, query-term-restricted document frequencies, the
    idf ln, tf saturation — with identical expression trees, per-term
    contributions rounded to 6 and decimal(18,6)-summed (order-free), rank
    carrying the doc_id tiebreak."""
    from batch_doc_vqa_spark.operators.dedup import normalized_tokens
    from batch_doc_vqa_spark.operators.retrieval import bm25_topk

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    queries_df = docs.filter(F.col("doc_id").isin(10, 20, 30)).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(normalized_tokens(F.col("text")), 1, 5), " ").alias(
            "query_text"
        ),
    )
    return bm25_topk(docs, queries_df, k=10)


def _q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature α-sampling rebalance (round 6b) over the language
    column: keep_prob_g = min(1, T·q_g/n_g), q_g = round(n_g^0.7/Σn^0.7, 6),
    with the integer-compare draw (floor(round(p,6)·2^20) vs pmod — no
    float boundary between engines)."""
    from batch_doc_vqa_spark.operators.chunking import temperature_resample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_resample(
        docs, "doc_id", "lang", alpha=0.7, seed=4, base_hash="md5"
    ).select("doc_id", "lang", "keep_prob")


_TEMPERATURE_ORACLE = """
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    tot AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS t,
               SUM(pow(CAST(n AS DOUBLE), 0.7)) AS z
        FROM c),
    dim AS (
        SELECT lang,
               ROUND(least(1.0,
                     tot.t * ROUND(pow(CAST(n AS DOUBLE), 0.7) / tot.z, 6)
                           / CAST(n AS DOUBLE)), 6) AS keep_prob
        FROM c CROSS JOIN tot)
    SELECT d.doc_id, d.lang, dim.keep_prob
    FROM documents d JOIN dim ON dim.lang = d.lang
    WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR) || '#4'), 1, 15))
               AS BIGINT) % 1048576
          < CAST(floor(dim.keep_prob * 1048576.0) AS BIGINT)
"""


_SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-fraction per-stratum split (round 6b): every source is cut at
    floor(cum_frac·n) boundaries in draw order — the oracle embeds the
    Python-computed cumulative doubles via repr (0.8+0.1 is
    0.9000000000000001, not 0.9 — re-summing in SQL would be a different
    literal only at the last ulp, which is exactly where a boundary row
    can flip)."""
    from batch_doc_vqa_spark.operators.chunking import stratified_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_split(
        docs, "doc_id", "source", _SPLIT_FRACS, seed=5, base_hash="md5"
    )


def _stratified_split_oracle() -> str:
    labels = list(_SPLIT_FRACS.keys())
    cum, cases = 0.0, []
    for lbl in labels[:-1]:
        cum += _SPLIT_FRACS[lbl]
        cases.append(f"WHEN rk <= floor({cum!r} * sn) THEN '{lbl}'")
    case = "CASE " + " ".join(cases) + f" ELSE '{labels[-1]}' END"
    return f"""
        WITH k AS (
            SELECT doc_id, source,
                   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#5'),
                                            1, 15)) AS BIGINT) AS h
            FROM documents),
        r AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
                   COUNT(*) OVER (PARTITION BY source) AS sn
            FROM k)
        SELECT doc_id, source, {case} AS split
        FROM r
    """


def _q_bm25_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION retrieval path end-to-end: bm25_build (full vocab) →
    save_bm25_index → load_bm25_index → bm25_query through a fresh
    marker-committed store — proves the persisted/loaded index returns the
    same rows as the one-shot (the ann_ivfpq_persisted_topk precedent);
    shares bm25_topk's oracle verbatim."""
    import tempfile

    from batch_doc_vqa_spark.operators.dedup import normalized_tokens
    from batch_doc_vqa_spark.operators.retrieval import (
        bm25_build,
        bm25_query,
        load_bm25_index,
        save_bm25_index,
    )

    docs = _tp(spark, sf_dir, "documents").select("doc_id", "text")
    queries_df = docs.filter(F.col("doc_id").isin(10, 20, 30)).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(normalized_tokens(F.col("text")), 1, 5), " ").alias(
            "query_text"
        ),
    )
    path = tempfile.mkdtemp(prefix="bm25_store_") + "/idx"
    save_bm25_index(bm25_build(docs, "doc_id", "text"), path)
    return bm25_query(load_bm25_index(spark, path), queries_df, k=10)


_BM25_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, {{ntoks}} AS t FROM documents),
    d AS (SELECT doc_id, t, len(t) AS dl FROM toks),
    stats AS (
        SELECT COUNT(*) AS n,
               ROUND(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 6) AS avgdl
        FROM d),
    post AS (
        SELECT doc_id, dl, u.term AS term, COUNT(*) AS tf
        FROM d, unnest(t) u(term)
        GROUP BY 1, 2, 3),
    q AS (
        SELECT doc_id AS query_id,
               array_to_string(list_slice(t, 1, 5), ' ') AS query_text
        FROM toks WHERE doc_id IN (10, 20, 30)),
    qterms AS (
        SELECT DISTINCT query_id, u.term AS term
        FROM (SELECT query_id,
                     list_filter(regexp_split_to_array(trim(regexp_replace(lower(query_text),
                         '[^a-z0-9\\s]', ' ', 'g')), '\\s+'), x -> x != '') AS qt
              FROM q), unnest(qt) u(term)),
    qvocab AS (SELECT DISTINCT term FROM qterms),
    dfreq AS (
        SELECT p.term, COUNT(*) AS df
        FROM post p JOIN qvocab v ON v.term = p.term
        GROUP BY p.term),
    idf AS (
        SELECT term,
               ROUND(ln(1.0 + (s.n - df + 0.5) / (df + 0.5)), 6) AS idf
        FROM dfreq CROSS JOIN stats s),
    contrib AS (
        SELECT qt.query_id, p.doc_id,
               ROUND(i.idf * CAST(p.tf AS DOUBLE) * (1.2 + 1.0)
                     / (CAST(p.tf AS DOUBLE)
                        + 1.2 * (1.0 - 0.75 + 0.75 * CAST(p.dl AS DOUBLE) / s.avgdl)),
                     6) AS c
        FROM post p
        JOIN qterms qt ON qt.term = p.term
        JOIN idf i ON i.term = p.term
        CROSS JOIN stats s),
    scored AS (
        SELECT query_id, doc_id,
               CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS s
        FROM contrib GROUP BY query_id, doc_id),
    ranked AS (
        SELECT query_id, doc_id, s,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, doc_id ASC) AS rank
        FROM scored)
    SELECT query_id, doc_id, ROUND(s, 6) AS score, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
"""


def _bm25_oracle() -> str:
    return _BM25_ORACLE.format(ntoks=_NTOKS)


_SHARD_TARGET = 1000
_SHARD_SEED = 11


def _q_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment (round 6) in the deterministic
    md5(id#seed) pseudo-shuffle order — the delivery layout step. The
    oracle is the plain SUM OVER (ORDER BY draw, id) prefix sum the
    two-layer distributed form must equal, with the same exact-integer
    shard arithmetic."""
    from batch_doc_vqa_spark.operators.packing import assign_shards

    return assign_shards(
        _docs_with_tokens(spark, sf_dir),
        "doc_id",
        "n_tokens",
        _SHARD_TARGET,
        seed=_SHARD_SEED,
    ).select("doc_id", "n_tokens", "shard_id", "shard_offset", "shard_pos")


def _shard_layout_oracle() -> str:
    return f"""
        WITH {_shard_cte()}
        SELECT doc_id, n_tokens,
               s // {_SHARD_TARGET} AS shard_id,
               s % {_SHARD_TARGET} AS shard_offset,
               CAST(ROW_NUMBER() OVER (PARTITION BY s // {_SHARD_TARGET}
                                       ORDER BY draw, doc_id) - 1 AS INT) AS shard_pos
        FROM soff
    """


def _q_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest rows over the shard layout (round 6)."""
    from batch_doc_vqa_spark.operators.packing import assign_shards, shard_stats

    sharded = assign_shards(
        _docs_with_tokens(spark, sf_dir),
        "doc_id",
        "n_tokens",
        _SHARD_TARGET,
        seed=_SHARD_SEED,
    )
    return shard_stats(sharded, "n_tokens")


def _shard_stats_oracle() -> str:
    return f"""
        WITH {_shard_cte()}
        SELECT s // {_SHARD_TARGET} AS shard_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
        FROM soff GROUP BY 1
    """


_SHARD_OFF_CTE = f"""sk AS (
        SELECT doc_id, n_tokens,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#{_SHARD_SEED}'),
                                        1, 15)) AS BIGINT) AS draw
        FROM ({{ntoks_count}})
    ), soff AS (
        SELECT doc_id, n_tokens, draw,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY draw, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS s
        FROM sk
    )"""


def _shard_cte() -> str:
    ntoks_count = (
        f"SELECT doc_id, CAST(len({_NTOKS}) AS INT) AS n_tokens FROM documents"
    )
    return _SHARD_OFF_CTE.format(ntoks_count=ntoks_count)


def _q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist audit (round 6): every doc's deterministic fixture
    URL with the most-specific blocklist domain its host falls under (NULL
    when clean) — matched via per-suffix-level broadcast hash joins, no
    explode, no shuffle. The fixture hosts carry three label depths and
    both org/net zones so the 1-, 2- and 3-label entries and the
    most-specific-wins rule are all exercised."""
    from batch_doc_vqa_spark.operators.webclean import blocklist_matches

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("https://w"),
        F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
        F.lit(".s"),
        F.pmod(F.col("doc_id"), F.lit(5)).cast("string"),
        F.lit(".example."),
        F.when(F.pmod(F.col("doc_id"), F.lit(2)) == 0, F.lit("org")).otherwise(
            F.lit("net")
        ),
        F.lit("/p/"),
        F.col("doc_id").cast("string"),
    )
    pages = docs.select("doc_id", url.alias("url"))
    blocklist = spark.createDataFrame(
        [("example.net",), ("s2.example.org",), ("w1.s3.example.org",)],
        "domain string",
    )
    return blocklist_matches(pages, "url", blocklist).select(
        "doc_id", "url", "blocked_domain"
    )


_URL_BLOCKLIST_ORACLE = """
    WITH u AS (
        SELECT doc_id,
               'https://w' || CAST(doc_id % 3 AS VARCHAR)
                 || '.s' || CAST(doc_id % 5 AS VARCHAR)
                 || '.example.'
                 || CASE WHEN doc_id % 2 = 0 THEN 'org' ELSE 'net' END
                 || '/p/' || CAST(doc_id AS VARCHAR) AS url
        FROM documents),
    b(domain) AS (VALUES ('example.net'), ('s2.example.org'), ('w1.s3.example.org')),
    hosts AS (
        SELECT doc_id, url,
               regexp_replace(lower(regexp_extract(url,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]+$', '') AS host
        FROM u),
    lab AS (SELECT doc_id, url, string_split(host, '.') AS L FROM hosts),
    sfx AS (
        SELECT doc_id, url, v.i AS i,
               array_to_string(list_slice(L, len(L) - v.i + 1, len(L)), '.') AS s
        FROM lab, unnest(range(1, least(len(L), 6) + 1)) v(i)),
    m AS (
        SELECT sfx.doc_id, sfx.s, sfx.i,
               ROW_NUMBER() OVER (PARTITION BY sfx.doc_id ORDER BY sfx.i DESC) AS rn
        FROM sfx JOIN b ON b.domain = sfx.s)
    SELECT u.doc_id, u.url, m.s AS blocked_domain
    FROM u LEFT JOIN m ON m.doc_id = u.doc_id AND m.rn = 1
"""


_ASOF_ORDER_ORACLE = """
    WITH cand AS (
        SELECT e.event_id, o.o_orderkey, o.o_totalprice, o.o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
    SELECT e.event_id, e.user_id, e.ts,
           c.o_orderdate AS asof_orderdate,
           c.o_orderkey AS asof_orderkey,
           c.o_totalprice AS asof_totalprice
    FROM events e LEFT JOIN cand c ON c.event_id = e.event_id AND c.rn = 1
"""


def _q_events_asof_order_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_join tier invariance (round 6): the same as-of lookup through
    strategy='array' (per-key sorted timeline structs + equi join + in-plan
    array probe — the small-snapshots-per-key tier AQE can broadcast).
    Shares events_asof_order's SQL oracle verbatim: both tiers must produce
    bit-identical rows."""
    from batch_doc_vqa_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    od = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
    )
    return asof_join(
        ev, od, ["user_id"], "ts", "o_orderdate",
        payload=["o_orderkey", "o_totalprice"], tiebreak="o_orderkey",
        matched_ts="asof_orderdate", strategy="array",
    ).select(
        "event_id", "user_id", "ts", "asof_orderdate",
        F.col("o_orderkey").alias("asof_orderkey"),
        F.col("o_totalprice").alias("asof_totalprice"),
    )


def _q_events_in_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join (round 6): overlapping 6-hour maintenance
    windows at 4-hour stride, anchored at the first event — each event
    falls in 1-2 windows, which a tumbling window aggregate cannot
    express. The binned equi-join keeps the plan hash-join-only; epoch
    math is truncated seconds written identically in the oracle
    (CAST(floor(epoch(ts)) AS BIGINT) — Spark's timestamp→long cast)."""
    from batch_doc_vqa_spark.operators.temporal import range_join_binned

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_seconds(F.col("ts").cast("timestamp")).alias("_p"),
    )
    anchor = ev.agg(F.min("_p").alias("_a"))
    win = (
        anchor.select(F.explode(F.sequence(F.lit(0), F.lit(63))).alias("window_id"), "_a")
        .select("window_id", (F.col("_a") + F.col("window_id").cast("long") * 14400).alias("_s"))
        .withColumn("_e", F.col("_s") + 21600)
    )
    pairs = range_join_binned(
        ev, win, "_p", "_s", "_e", bin_width=21600, broadcast_intervals=True
    )
    counts = pairs.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    return (
        win.join(counts, "window_id", "left")
        .select(
            "window_id",
            F.col("_s").alias("win_start"),
            F.col("_e").alias("win_end"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("n_users", F.lit(0)).alias("n_users"),
        )
    )


_EVENTS_IN_WINDOWS_ORACLE = """
            WITH ep AS (SELECT event_id, user_id,
                               CAST(floor(epoch(ts)) AS BIGINT) AS p FROM events),
            anchor AS (SELECT MIN(p) AS a FROM ep),
            win AS (SELECT CAST(i AS INT) AS window_id, a + i * 14400 AS s
                    FROM anchor, range(0, 64) t(i))
            SELECT w.window_id, w.s AS win_start, w.s + 21600 AS win_end,
                   COUNT(e.event_id) AS n_events,
                   COUNT(DISTINCT e.user_id) AS n_users
            FROM win w LEFT JOIN ep e ON e.p >= w.s AND e.p < w.s + 21600
            GROUP BY w.window_id, w.s
        """


def _q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog (round 6): distinct users per event type via
    md5-derived registers (p=6 so the fixture exercises the HLL branch,
    not linear counting). Every register is a pure function of the data —
    the oracle recomputes the identical sketch in SQL (bin-string rho,
    decimal register sum), impossible with approx_count_distinct's opaque
    JVM state."""
    from batch_doc_vqa_spark.operators.sketches import hll_count_distinct

    return hll_count_distinct(
        _t(spark, sf_dir, "events"), "user_id", ["event_type"], p=6
    )


def _hll_distinct_users_oracle() -> str:
    p, hbits = 6, 60
    m, k = 1 << p, hbits - p + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    num = alpha * m * m * float(2**k)  # the single Spark-side literal
    return f"""
        WITH hh AS (
            SELECT event_type,
                   CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                        AS BIGINT) AS h
            FROM events WHERE user_id IS NOT NULL),
        regs AS (
            SELECT event_type, h % {m} AS bucket,
                   CASE WHEN (h // {m}) > 0
                        THEN {k} - length(bin(h // {m}))
                        ELSE {k} END AS rho
            FROM hh),
        mx AS (SELECT event_type, bucket, MAX(rho) AS max_rho
               FROM regs GROUP BY event_type, bucket),
        agg AS (SELECT event_type,
                       SUM(CAST(pow(2.0, {k} - max_rho) AS DECIMAL(38,0))) AS s_obs,
                       COUNT(*) AS nb
                FROM mx GROUP BY event_type),
        est AS (SELECT event_type,
                       {num!r} / (CAST(s_obs AS DOUBLE)
                                  + CAST({m} - nb AS DOUBLE) * {float(2**k)!r}) AS raw,
                       {m} - nb AS zeros
                FROM agg)
        SELECT event_type,
               ROUND(CASE WHEN raw <= {2.5 * m!r} AND zeros > 0
                          THEN {float(m)!r} * ln({float(m)!r} / CAST(zeros AS DOUBLE))
                          ELSE raw END, 6) AS est_distinct
        FROM est
    """


def _q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-histogram quantile sketch (round 6): doc-length percentiles per
    language from a mergeable ≤2k-row bucket table (HDR-histogram
    bucketing: exponent + top-5 mantissa bits, msb via binary-string
    length — integer-exact, so the oracle recomputes the identical sketch).
    Returns the exact bucket bounds [q_lb, q_ub] around each type-1
    quantile; ub/lb ≤ 1+2^-5."""
    from batch_doc_vqa_spark.operators.sketches import (
        loghist_partial,
        loghist_quantile,
    )

    docs = _t(spark, sf_dir, "documents")
    part = loghist_partial(docs, "n_chars", ["lang"], b=5)
    return loghist_quantile(part, ["lang"], [0.25, 0.5, 0.9, 0.99], b=5)


def _quantile_sketch_oracle() -> str:
    decode = (
        "CASE WHEN bkt < 32 THEN bkt "
        "ELSE (bkt - (bkt // 32 - 1) * 32) "
        "* (CAST(1 AS BIGINT) << CAST(bkt // 32 - 1 AS INT)) END"
    )
    width = "(CAST(1 AS BIGINT) << CAST(bkt // 32 - 1 AS INT))"
    return f"""
        WITH v AS (SELECT lang, CAST(n_chars AS BIGINT) AS x
                   FROM documents WHERE n_chars IS NOT NULL),
        b AS (SELECT lang,
                     CASE WHEN x < 32 THEN x
                          ELSE (length(bin(x)) - 6) * 32
                               + (x // (CAST(1 AS BIGINT)
                                        << (length(bin(x)) - 6)))
                     END AS bucket
              FROM v),
        c AS (SELECT lang, bucket, COUNT(*) AS cnt FROM b GROUP BY lang, bucket),
        cum AS (SELECT lang, bucket,
                       SUM(cnt) OVER (PARTITION BY lang ORDER BY bucket
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS c_cum,
                       SUM(cnt) OVER (PARTITION BY lang) AS n
                FROM c),
        qx AS (SELECT lang, bucket, c_cum, n, q
               FROM cum CROSS JOIN (SELECT UNNEST([CAST(0.25 AS DOUBLE),
                                                   CAST(0.5 AS DOUBLE),
                                                   CAST(0.9 AS DOUBLE),
                                                   CAST(0.99 AS DOUBLE)]) AS q) qs),
        hit AS (SELECT lang, q, MIN(bucket) AS bkt
                FROM qx WHERE c_cum >= CEIL(q * n) GROUP BY lang, q)
        SELECT lang, q,
               CAST({decode} AS BIGINT) AS q_lb,
               CAST(CASE WHEN bkt < 32 THEN bkt
                         ELSE {decode} + {width} - 1 END AS BIGINT) AS q_ub
        FROM hit
    """


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (round 6): per-event-type user frequencies from
    mergeable d·w register tables (md5 with the depth as explicit salt —
    the oracle recomputes every register and lookup), thresholded to heavy
    hitters. est_count ≥ true count always; the register table answers
    historical frequency questions without rescanning raw data."""
    from batch_doc_vqa_spark.operators.sketches import cms_lookup, cms_partial

    ev = _t(spark, sf_dir, "events")
    part = cms_partial(ev, "user_id", ["event_type"], w=256, d=3)
    cand = ev.filter(F.col("user_id").isNotNull()).select(
        "event_type", "user_id"
    )
    est = cms_lookup(part, cand, "user_id", ["event_type"], w=256, d=3)
    return est.filter(F.col("est_count") >= 10)


def _cms_heavy_hitters_oracle() -> str:
    reg = (
        "CAST(concat('0x', substr(md5(k || chr(31) "
        "|| CAST(depth AS VARCHAR)), 1, 15)) AS BIGINT) % 256"
    )
    return f"""
        WITH base AS (SELECT event_type, CAST(user_id AS VARCHAR) AS k
                      FROM events WHERE user_id IS NOT NULL),
        ds AS (SELECT UNNEST([0, 1, 2]) AS depth),
        regs AS (SELECT event_type, depth, {reg} AS bucket, COUNT(*) AS cnt
                 FROM base CROSS JOIN ds
                 GROUP BY event_type, depth, bucket),
        probes AS (SELECT DISTINCT event_type, k FROM base),
        fan AS (SELECT event_type, k, depth, {reg} AS bucket
                FROM probes CROSS JOIN ds),
        est AS (SELECT f.event_type, f.k,
                       MIN(COALESCE(r.cnt, 0)) AS est_count
                FROM fan f
                LEFT JOIN regs r USING (event_type, depth, bucket)
                GROUP BY f.event_type, f.k)
        SELECT event_type, k AS user_id, CAST(est_count AS BIGINT) AS est_count
        FROM est WHERE est_count >= 10
    """


def _q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        (F.pmod(F.abs(F.col("value")), F.lit(100.0)) / 100.0).alias("p"),
        F.col("event_type").isin("purchase", "signup").alias("is_correct"),
    )
    return analytics.calibration_bins(ev, "p", "is_correct", 7)


_CALIBRATION_BINS_ORACLE = """
            WITH p AS (
                SELECT (abs(value) % 100.0) / 100.0 AS p,
                       event_type IN ('purchase', 'signup') AS is_correct
                FROM events
            )
            SELECT bin, COUNT(*) AS n, ROUND(AVG(p), 6) AS mean_prob,
                   ROUND(AVG(CAST(is_correct AS DOUBLE)), 6) AS mean_correct
            FROM (SELECT CAST(least(floor(p * 7), 6) AS INTEGER) AS bin, p, is_correct FROM p)
            GROUP BY bin
        """


def _q_discount_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (1 - F.col("l_discount")).alias("keep")
    )
    return analytics.grouped_product(li, ["l_orderkey"], "keep").withColumn(
        "prob_product", F.round("prob_product", 6)
    )


_DISCOUNT_PRODUCT_ORACLE = """
            SELECT l_orderkey,
                   ROUND(CASE WHEN MAX(CASE WHEN (1 - l_discount) <= 0 THEN 1 ELSE 0 END) = 1
                              THEN 0.0
                              ELSE ROUND(EXP(SUM(LN(CASE WHEN (1 - l_discount) > 0 THEN (1 - l_discount) END))), 12)
                         END, 6) AS prob_product
            FROM lineitem GROUP BY l_orderkey
        """


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "doc_id", "text")


_DEDUP_EXACT_ORACLE = """
            SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """


def _q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.2)


def _jaccard_pairs_oracle() -> str:
    return f"""
            WITH toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+'), x -> x != '') AS t
                FROM documents
            ), sh AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           range(1, greatest(len(t) - 2, 0) + 1),
                           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
                FROM toks
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b, ROUND(n_inter / (sa.sz + sb.sz - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE ROUND(n_inter / (sa.sz + sb.sz - n_inter), 6) >= 0.2
        """


def _q_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = dedup.dedup_resolve(docs, "doc_id", "text", n=3, threshold=0.5)
    return out.select(
        F.col("id").alias("doc_id"), "cluster_id", "keep", "cluster_size"
    )


# pairs → duplicate clusters → keep-one, the step after candidate
# emission a real dedup ships. Components via a recursive reachability
# closure + MIN (tiny clusters at this sf; Spark uses min-label
# propagation — same fixpoint).
_DEDUP_RESOLVE_ORACLE = """
            WITH RECURSIVE toks AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+'), x -> x != '') AS t
                FROM documents
            ), sh AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                           range(1, greatest(len(t) - 2, 0) + 1),
                           i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
                FROM toks
            ), sizes AS (
                SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
                FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ), edges0 AS (
                SELECT id_a, id_b FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE ROUND(n_inter / (sa.sz + sb.sz - n_inter), 6) >= 0.5
            ), edges AS (
                SELECT id_a AS src, id_b AS dst FROM edges0
                UNION
                SELECT id_b AS src, id_a AS dst FROM edges0
            ), reach(id, r) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
            ), cc AS (
                SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
            ), csz AS (
                SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id
            )
            SELECT cc.id AS doc_id, cc.cluster_id,
                   cc.id = cc.cluster_id AS keep, csz.cluster_size
            FROM cc JOIN csz USING (cluster_id)
        """


def _q_dedup_resolve_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 100 TB composition end-to-end: MinHash+LSH candidates → connected
    # components → keep-one; base_hash="md5" so DuckDB value-checks the whole
    # chain (signatures, bands, candidate join, clustering)
    docs = _tp(spark, sf_dir, "documents")
    out = dedup.dedup_resolve_lsh(docs, "doc_id", "text", n=3, threshold=0.5, base_hash="md5")
    return out.select(F.col("id").alias("doc_id"), "cluster_id", "keep", "cluster_size")


def _q_dedup_resolve_starcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolver tier invariance (round 6b): the SAME LSH composition through
    the large-star/small-star contraction resolver
    (`graphs.connected_components`) instead of min-label propagation. Both
    resolvers label every node with its component minimum, so this shares
    `dedup_resolve_lsh`'s SQL oracle verbatim — the driver gate proves the
    unbounded-topology tier is output-identical on the full pipeline."""
    docs = _tp(spark, sf_dir, "documents")
    out = dedup.dedup_resolve_lsh(
        docs, "doc_id", "text", n=3, threshold=0.5, base_hash="md5", resolver="star"
    )
    return out.select(F.col("id").alias("doc_id"), "cluster_id", "keep", "cluster_size")


def _q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # base_hash="md5" (portable_hash64) so DuckDB reproduces the ENTIRE
    # pipeline — shingle hash, 64-permutation signature, band hashes,
    # candidate join, est_jaccard — value-for-value. Production default
    # stays xxhash64 (faster); every other line of the plan is shared.
    docs = _tp(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_hashes=64, bands=16, base_hash="md5")


def _minhash_ctes() -> str:
    """Shared CTE body: documents → MinHash sigs → LSH bands → candidate pairs.

    Ends with ``pairs(id_a, id_b, est_jaccard)``; used by both the
    ``minhash_lsh_pairs`` oracle and the ``dedup_resolve_lsh`` oracle so the
    two can't drift."""
    from batch_doc_vqa_spark.operators.dedup import _MERSENNE, _hash_family

    a, b = _hash_family(64, seed=7)
    par_cte = _values_cte("par", ["i", "a", "b"], [(i, a[i], b[i]) for i in range(64)])
    return f"""toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+'), x -> x != '') AS t
            FROM documents
        ), shd AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 2, 0) + 1),
                       i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS s
            FROM toks
        ), sh AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % {_MERSENNE} AS h
            FROM shd
        ), {par_cte},
        sig AS (
            SELECT doc_id, i, MIN((a * h + b) % {_MERSENNE}) AS m
            FROM sh CROSS JOIN par GROUP BY doc_id, i
        ), band AS (
            SELECT doc_id, CAST(i // 4 AS INT) AS band_idx,
                   CAST(concat('0x', substr(md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)), 1, 15)) AS BIGINT) AS band_hash
            FROM sig GROUP BY doc_id, CAST(i // 4 AS INT)
        ), cand AS (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
            FROM band x JOIN band y
              ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id
        ), pairs AS (
            SELECT c.id_a, c.id_b,
                   ROUND(SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 64.0, 6) AS est_jaccard
            FROM cand c
            JOIN sig sa ON sa.doc_id = c.id_a
            JOIN sig sb ON sb.doc_id = c.id_b AND sb.i = sa.i
            GROUP BY c.id_a, c.id_b
        )"""


def _minhash_oracle() -> str:
    """Full SQL reimplementation of the MinHash+LSH pipeline (portable hash)."""
    return f"""
        WITH {_minhash_ctes()}
        SELECT id_a, id_b, est_jaccard FROM pairs
    """


def _dedup_resolve_lsh_oracle(threshold: float = 0.5) -> str:
    """MinHash+LSH pairs → recursive reachability closure → keep-one.

    Same pair CTEs as the ``minhash_lsh_pairs`` oracle; components via the
    same recursive-CTE trick as the ``dedup_resolve`` oracle. Spark runs
    min-label propagation + pointer jumping — same fixpoint."""
    return f"""
        WITH RECURSIVE {_minhash_ctes()},
        edges0 AS (
            SELECT id_a, id_b FROM pairs WHERE est_jaccard >= {threshold}
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM edges0
            UNION
            SELECT id_b AS src, id_a AS dst FROM edges0
        ), reach(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
        ), cc AS (
            SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
        ), csz AS (
            SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id
        )
        SELECT cc.id AS doc_id, cc.cluster_id,
               cc.id = cc.cluster_id AS keep, csz.cluster_size
        FROM cc JOIN csz USING (cluster_id)
    """


_PACK_CTX = 512
_PACK_BLOCK = 64  # small so the sf0.01 fixture exercises many blocks


def _docs_with_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_doc_vqa_spark.operators.dedup import normalized_tokens

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.size(normalized_tokens(F.col("text"))).alias("n_tokens"))


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut training-sequence layout via the distributed prefix
    sum (data-defined blocks — no global single-partition sort); the oracle
    is the plain SUM OVER (ORDER BY) the two-layer form must equal."""
    from batch_doc_vqa_spark.operators.packing import pack_sequences

    return pack_sequences(
        _docs_with_tokens(spark, sf_dir), "doc_id", "n_tokens", _PACK_CTX, _PACK_BLOCK
    ).select("doc_id", "n_tokens", "start_offset", "seq_id", "end_seq_id", "crosses_boundary")


def _pack_sequences_oracle() -> str:
    return f"""
            WITH {_PACK_OFF_CTE}
            SELECT doc_id, n_tokens, start_offset, seq_id, end_seq_id,
                   end_seq_id > seq_id AS crosses_boundary
            FROM laid
        """


def _q_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_doc_vqa_spark.operators.packing import pack_sequences, packing_stats

    packed = pack_sequences(
        _docs_with_tokens(spark, sf_dir), "doc_id", "n_tokens", _PACK_CTX, _PACK_BLOCK
    )
    return packing_stats(packed, "n_tokens", _PACK_CTX)


def _packing_stats_oracle() -> str:
    return f"""
            WITH {_PACK_OFF_CTE}
            SELECT n_docs, total_tokens,
                   CAST((total_tokens + 511) // 512 AS BIGINT) AS n_sequences,
                   n_boundary_docs,
                   ROUND(CAST(total_tokens AS DOUBLE)
                         / (((total_tokens + 511) // 512) * 512), 6) AS fill_fraction
            FROM (SELECT COUNT(*) AS n_docs,
                         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                         CAST(SUM(CASE WHEN end_seq_id > seq_id THEN 1 ELSE 0 END) AS BIGINT)
                             AS n_boundary_docs
                  FROM laid)
        """


_PACK_OFF_CTE = """toks AS (
        SELECT doc_id,
               CAST(len(list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+'), x -> x != '')) AS INT) AS n_tokens
        FROM documents
    ), off AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS start_offset
        FROM toks
    ), laid AS (
        SELECT doc_id, n_tokens, start_offset,
               CAST((start_offset - (start_offset % 512)) // 512 AS BIGINT) AS seq_id,
               CAST(((start_offset + GREATEST(n_tokens - 1, 0))
                     - ((start_offset + GREATEST(n_tokens - 1, 0)) % 512)) // 512 AS BIGINT)
                   AS end_seq_id
        FROM off
    )"""


def _snapshot_pair(spark: SparkSession, sf_dir: str):
    """(old, new): documents vs a deterministically evolved re-crawl —
    %41 ids vanish, %17 texts gain a suffix, %29 ids reappear re-keyed
    (+1e6) as additions."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    k = F.col("doc_id")
    kept = docs.filter(k % 41 != 0)
    changed = kept.withColumn(
        "text", F.when(k % 17 == 0, F.concat(F.col("text"), F.lit(" v2"))).otherwise(F.col("text"))
    )
    added = docs.filter(k % 29 == 0).select((k + 1_000_000).alias("doc_id"), "text")
    return docs, changed.unionByName(added)


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset versioning: added/removed/changed/unchanged per doc between
    two corpus states, detected by content hash (never timestamps)."""
    from batch_doc_vqa_spark.operators.snapshots import snapshot_diff

    old, new = _snapshot_pair(spark, sf_dir)
    return snapshot_diff(old, new, "doc_id", "text")


def _snapshot_diff_oracle() -> str:
    return f"""
            WITH {_SNAPSHOT_CTES}
            SELECT doc_id, change FROM dif
        """


def _q_snapshot_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-audit line: one row per change kind with counts."""
    from batch_doc_vqa_spark.operators.snapshots import snapshot_diff_summary

    old, new = _snapshot_pair(spark, sf_dir)
    return snapshot_diff_summary(old, new, "doc_id", "text")


def _snapshot_summary_oracle() -> str:
    return f"""
            WITH {_SNAPSHOT_CTES}
            SELECT change, COUNT(*) AS n FROM dif GROUP BY change
        """


def _q_snapshot_work_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental scoping: the added+changed rows (new content) downstream
    stages must reprocess."""
    from batch_doc_vqa_spark.operators.snapshots import incremental_work_set

    old, new = _snapshot_pair(spark, sf_dir)
    return incremental_work_set(old, new, "doc_id", "text").select(
        "doc_id", F.md5(F.col("text")).alias("text_md5")
    )


def _snapshot_work_set_oracle() -> str:
    return f"""
            WITH {_SNAPSHOT_CTES}
            SELECT n.doc_id, md5(n.text) AS text_md5
            FROM newt n JOIN dif USING (doc_id)
            WHERE dif.change IN ('added', 'changed')
        """


_SNAPSHOT_CTES = """newt AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 17 = 0 THEN ' v2' ELSE '' END AS text
        FROM documents WHERE doc_id % 41 != 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 29 = 0
    ), o AS (SELECT doc_id, md5(text) AS h, TRUE AS in_old FROM documents),
    nn AS (SELECT doc_id, md5(text) AS h, TRUE AS in_new FROM newt),
    dif AS (
        SELECT COALESCE(o.doc_id, nn.doc_id) AS doc_id,
               CASE WHEN o.in_old IS NULL THEN 'added'
                    WHEN nn.in_new IS NULL THEN 'removed'
                    WHEN o.h IS NOT DISTINCT FROM nn.h THEN 'unchanged'
                    ELSE 'changed' END AS change
        FROM o FULL OUTER JOIN nn ON o.doc_id = nn.doc_id
    )"""


def _q_epoch_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing upsampling: odd-numbered sources get 2.5 epochs (2 copies
    + content-keyed Bernoulli half), even sources 1.0 — LLaMA-style recipe
    weights, fully deterministic (md5-portable hash for the oracle)."""
    from batch_doc_vqa_spark.operators.chunking import epoch_expand

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    epochs = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 1, F.lit(2.5)
    ).otherwise(F.lit(1.0))
    return epoch_expand(docs, "doc_id", epochs, seed=0, base_hash="md5").select(
        "doc_id", "source", "epoch_idx"
    )


_EPOCH_EXPAND_ORACLE = """
            WITH e AS (
                SELECT doc_id, source,
                       CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 1
                            THEN 2.5 ELSE 1.0 END AS epochs,
                       CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#0'), 1, 15)) AS BIGINT)
                           % 1048576 AS h
                FROM documents
            ), c AS (
                SELECT doc_id, source,
                       CAST(FLOOR(epochs) AS INT)
                       + CASE WHEN h < CAST(FLOOR((epochs - FLOOR(epochs)) * 1048576) AS BIGINT)
                              THEN 1 ELSE 0 END AS copies
                FROM e
            )
            SELECT doc_id, source, CAST(epoch_idx AS INT) AS epoch_idx
            FROM (SELECT doc_id, source, unnest(range(0, copies)) AS epoch_idx
                  FROM c WHERE copies > 0)
        """


def _q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation: best docs per source (n_chars desc) until a
    5000-char budget — the fixed-budget curriculum step."""
    from batch_doc_vqa_spark.operators.chunking import budget_select

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return budget_select(docs, "source", "n_chars", 5000, "n_chars", "doc_id")


_BUDGET_SELECT_ORACLE = """
            SELECT doc_id, source, n_chars, cum_tokens
            FROM (SELECT doc_id, source, n_chars,
                         CAST(SUM(n_chars) OVER (PARTITION BY source
                             ORDER BY n_chars DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                             AS cum_tokens
                  FROM documents)
            WHERE cum_tokens <= 5000
        """


def _pii_dirty_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministically injected PII (modulus-keyed, so the
    DuckDB oracle rebuilds the identical dirt): emails, phones, IPs, SSNs,
    card numbers — several can stack on one row."""
    docs = _tp(spark, sf_dir, "documents")
    k = F.col("doc_id")

    def inj(mod: int, *parts) -> F.Column:
        return F.when(k % mod == 0, F.concat(*parts)).otherwise(F.lit(""))

    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            inj(7, F.lit(" contact: user"), k.cast("string"), F.lit("@example.com")),
            inj(11, F.lit(" call 555-867-5309")),
            inj(13, F.lit(" server 192.168.0.1 up")),
            inj(17, F.lit(" ssn 123-45-6789")),
            inj(19, F.lit(" card 4111-1111-1111-1111")),
        ).alias("text"),
    )


def _q_pii_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection report: per-doc counts per category, raw text."""
    from batch_doc_vqa_spark.operators.pii import pii_report

    return pii_report(_pii_dirty_docs(spark, sf_dir), "doc_id", "text")


def _q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction cascade: typed placeholders + rewrite count; the text
    column is value-compared in full (byte identity of the redacted text)."""
    from batch_doc_vqa_spark.operators.pii import redact_pii

    return redact_pii(_pii_dirty_docs(spark, sf_dir), "doc_id", "text")


# documents + injected PII, as SQL (same modulus dirt as _pii_dirty_docs)
_PII_DIRTY_CTE = """dirty AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 7 = 0 THEN ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
               || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END
               || CASE WHEN doc_id % 13 = 0 THEN ' server 192.168.0.1 up' ELSE '' END
               || CASE WHEN doc_id % 17 = 0 THEN ' ssn 123-45-6789' ELSE '' END
               || CASE WHEN doc_id % 19 = 0 THEN ' card 4111-1111-1111-1111' ELSE '' END
               AS text
        FROM documents
    )"""


def _pii_report_oracle() -> str:
    from batch_doc_vqa_spark.operators.pii import PII_PATTERNS

    counts = ",\n                   ".join(
        f"CAST(COALESCE(len(regexp_extract_all(text, '{pat}')), 0) AS INT) AS n_{cat}"
        for cat, (pat, _) in PII_PATTERNS.items()
    )
    total = " + ".join(f"n_{cat}" for cat in PII_PATTERNS)
    return f"""
        WITH {_PII_DIRTY_CTE},
        c AS (
            SELECT doc_id,
                   {counts}
            FROM dirty
        )
        SELECT doc_id, {", ".join("n_" + c for c in PII_PATTERNS)},
               CAST({total} AS INT) AS n_pii
        FROM c
    """


def _pii_chain_ctes(src_rel: str) -> tuple[str, str, str]:
    """(cte_text, final_text_col_rel, n_redactions_expr): the progressive
    redaction cascade as chained CTEs over ``src_rel(doc_id, text)`` — each
    stage counts on the text as it stands, then rewrites with the 'g' flag
    (DuckDB replaces only the first match by default — Spark replaces all).
    Generated from PII_PATTERNS so SQL and engine share one source of truth."""
    from batch_doc_vqa_spark.operators.pii import PII_PATTERNS

    n = len(PII_PATTERNS)
    chain = [f"r0 AS (SELECT doc_id, text AS t0 FROM {src_rel})"]
    prev = "t0"
    for i, (cat, (pat, repl)) in enumerate(PII_PATTERNS.items(), start=1):
        carried = ", ".join(f"c{j}" for j in range(1, i))
        carried = (carried + ", ") if carried else ""
        chain.append(
            f"""r{i} AS (
            SELECT doc_id, {carried}
                   CAST(COALESCE(len(regexp_extract_all({prev}, '{pat}')), 0) AS INT) AS c{i},
                   regexp_replace({prev}, '{pat}', '{repl}', 'g') AS t{i}
            FROM r{i - 1}
        )"""
        )
        prev = f"t{i}"
    total = " + ".join(f"c{j}" for j in range(1, n + 1))
    return ", ".join(chain), f"r{n}", f"CAST({total} AS INT)"


def _pii_redact_oracle() -> str:
    chain, final_rel, total = _pii_chain_ctes("dirty")
    from batch_doc_vqa_spark.operators.pii import PII_PATTERNS

    n = len(PII_PATTERNS)
    return f"""
        WITH {_PII_DIRTY_CTE},
        {chain}
        SELECT doc_id, t{n} AS text, {total} AS n_redactions
        FROM {final_rel}
    """


def _bench_fixture(spark: SparkSession, sf_dir: str):
    """(docs, bench): a benchmark set derived deterministically from the
    documents table — every 37th doc contributes tokens 5..24 as one
    benchmark item — so the DuckDB oracle rebuilds the identical set and the
    planted contamination (each source doc trivially contains its own
    snippet) is known."""
    from batch_doc_vqa_spark.operators.dedup import normalized_tokens

    docs = _tp(spark, sf_dir, "documents")
    toks = docs.select("doc_id", normalized_tokens(F.col("text")).alias("_t"))
    bench = toks.filter((F.col("doc_id") % 37 == 0) & (F.size("_t") >= 24)).select(
        F.concat(F.lit("b"), F.col("doc_id").cast("string")).alias("bench_id"),
        F.array_join(F.slice("_t", 5, 20), " ").alias("bench_text"),
    )
    return docs, bench


def _q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination, report tier: per (doc, benchmark-item)
    n-gram overlap — GPT-3-appendix-C style, benchmark side broadcast."""
    from batch_doc_vqa_spark.operators import decontam

    docs, bench = _bench_fixture(spark, sf_dir)
    return decontam.contamination_report(
        docs, "doc_id", "text", bench, "bench_id", "bench_text", n=8, base_hash="md5"
    )


def _contamination_report_oracle() -> str:
    return f"""
            WITH {_decontam_ctes()}
            SELECT doc_id, bench_id, matched_ngrams, bench_ngrams, coverage
            FROM contam
        """


def _q_contamination_report_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through the NON-broadcast tier (shuffle hash join on
    the n-gram hash) — the fallback for eval suites whose n-gram set exceeds
    the broadcast budget. Must be value-identical to the broadcast tier;
    same oracle SQL."""
    from batch_doc_vqa_spark.operators import decontam

    docs, bench = _bench_fixture(spark, sf_dir)
    return decontam.contamination_report(
        docs, "doc_id", "text", bench, "bench_id", "bench_text",
        n=8, base_hash="md5", strategy="shuffle",
    )


def _q_contamination_report_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through the bloom tier (broadcast Bloom bitmap
    prefilter in front of the shuffle hash join — VERDICT r5 #7): prunes
    non-colliding corpus n-grams map-side before the exchange at zero
    recall loss. Must be value-identical to both other tiers; same oracle
    SQL."""
    from batch_doc_vqa_spark.operators import decontam

    docs, bench = _bench_fixture(spark, sf_dir)
    return decontam.contamination_report(
        docs, "doc_id", "text", bench, "bench_id", "bench_text",
        n=8, base_hash="md5", strategy="bloom",
    )


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination, drop tier: corpus minus docs covering ≥80% of any
    benchmark item's n-grams."""
    from batch_doc_vqa_spark.operators import decontam

    docs, bench = _bench_fixture(spark, sf_dir)
    return decontam.decontaminate(
        docs, "doc_id", "text", bench, "bench_id", "bench_text",
        n=8, threshold=0.8, base_hash="md5",
    ).select("doc_id", "n_chars")


def _decontaminate_oracle() -> str:
    return f"""
            WITH {_decontam_ctes()}
            SELECT d.doc_id, d.n_chars
            FROM documents d
            ANTI JOIN (SELECT DISTINCT doc_id FROM contam WHERE coverage >= 0.8) c
            USING (doc_id)
        """


# Shared tokenization + benchmark-derivation CTEs for the decontamination
# oracles (same normalization as _minhash_ctes so the engines cannot drift).
# ``doc_rel`` parameterizes the CORPUS side (the recipe composition feeds
# redacted text through); the benchmark side always derives from the clean
# documents table — it is an external eval set.
def _decontam_ctes(doc_rel: str = "documents") -> str:
    return f"""toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+'), x -> x != '') AS t
        FROM documents
    ), ctoks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g')), '\\s+'), x -> x != '') AS t
        FROM {doc_rel}
    ), bench AS (
        SELECT 'b' || CAST(doc_id AS VARCHAR) AS bench_id, list_slice(t, 5, 24) AS bt
        FROM toks WHERE doc_id % 37 = 0 AND len(t) >= 24
    ), bh AS (
        SELECT bench_id,
               CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h
        FROM (SELECT bench_id, unnest(list_distinct(list_transform(
                  range(1, greatest(len(bt) - 7, 0) + 1),
                  i -> array_to_string(list_slice(bt, i, i + 7), ' ')))) AS s
              FROM bench)
    ), bsz AS (
        SELECT bench_id, COUNT(*) AS bench_ngrams FROM bh GROUP BY bench_id
    ), dh AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h
        FROM (SELECT doc_id, unnest(list_distinct(list_transform(
                  range(1, greatest(len(t) - 7, 0) + 1),
                  i -> array_to_string(list_slice(t, i, i + 7), ' ')))) AS s
              FROM ctoks)
    ), contam AS (
        SELECT doc_id, bench_id, matched_ngrams, bench_ngrams,
               ROUND(CAST(matched_ngrams AS DOUBLE) / bench_ngrams, 6) AS coverage
        FROM (SELECT doc_id, bench_id, COUNT(*) AS matched_ngrams
              FROM dh JOIN bh USING (h) GROUP BY doc_id, bench_id)
        JOIN bsz USING (bench_id)
    )"""


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental dedup index end-to-end: build a committed index over
    the %5!=0 docs, then screen the %5==0 docs against (index ∪ itself)
    WITHOUT re-signaturing the corpus. Oracle = the full-batch MinHash+LSH
    pipeline restricted to pairs touching a new doc — the incremental path
    must be indistinguishable from the batch one."""
    import tempfile

    from batch_doc_vqa_spark.operators import dedup_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    path = tempfile.mkdtemp(prefix="dedupidx_") + "/idx"
    dedup_index.build_dedup_index(old, "doc_id", "text", path, base_hash="md5")
    return dedup_index.incremental_dedup_pairs(
        spark, new, "doc_id", "text", path, threshold=0.5,
        update_index=False, base_hash="md5",
    )


def _incremental_dedup_oracle() -> str:
    return f"""
            WITH {_minhash_ctes()}
            SELECT id_a, id_b, est_jaccard FROM pairs
            WHERE est_jaccard >= 0.5 AND (id_a % 5 = 0 OR id_b % 5 = 0)
        """


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # impl="sql" + portable hash: the signature is 64 JVM sum-aggregates and
    # DuckDB reproduces the whole pipeline (see _simhash_oracle)
    docs = _tp(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3, impl="sql", base_hash="md5")


def _simhash_oracle() -> str:
    """Full SQL reimplementation of SimHash banding + Hamming verify.

    Bits are reconstructed per (doc, j) from weighted token-hash bit sums;
    16-bit chunks for banding and the Hamming distance are both derived from
    the same bit table (no 64-bit signed shift pitfalls)."""
    return """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x != '') AS t
            FROM documents
        ), tok AS (
            SELECT doc_id, unnest(t) AS t FROM toks
        ), wt AS (
            SELECT doc_id, t, COUNT(*) AS w FROM tok GROUP BY doc_id, t
        ), h AS (
            SELECT doc_id, w, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM wt
        ), bits AS (
            SELECT doc_id, j,
                   CASE WHEN SUM(w * (2 * ((h >> CAST(j AS INT)) & 1) - 1)) > 0 THEN 1 ELSE 0 END AS bit
            FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS j) js
            GROUP BY doc_id, j
        ), chunkv AS (
            SELECT doc_id, CAST(j // 16 AS INT) AS chunk_idx,
                   SUM(bit * (CAST(1 AS BIGINT) << CAST(j % 16 AS INT))) AS chunk
            FROM bits GROUP BY doc_id, CAST(j // 16 AS INT)
        ), cand AS (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
            FROM chunkv x JOIN chunkv y
              ON x.chunk_idx = y.chunk_idx AND x.chunk = y.chunk AND x.doc_id < y.doc_id
        ), ham AS (
            SELECT c.id_a, c.id_b,
                   CAST(SUM(CASE WHEN ba.bit != bb.bit THEN 1 ELSE 0 END) AS INT) AS hamming
            FROM cand c
            JOIN bits ba ON ba.doc_id = c.id_a
            JOIN bits bb ON bb.doc_id = c.id_b AND bb.j = ba.j
            GROUP BY c.id_a, c.id_b
        )
        SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
    """


def _emb(spark: SparkSession, sf_dir: str, parallel: bool = False) -> DataFrame:
    # parallel=True (scan repair, see _tp) only for the consumers whose
    # per-row vector math dominates BEFORE any exchange (brute cosine,
    # hyperplane signatures, semdedup assignment/pair scan); the PQ family
    # re-reads the embedding frame from several subtrees and measured
    # slightly SLOWER with the extra repartition (ivfpq 1.65 vs 1.76 s).
    read = _tp if parallel else _t
    return read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )


def _ann_queries(emb: DataFrame) -> DataFrame:
    """The ANN query batch: every 50th embedding, as (q_id, q_vec)."""
    return emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def _q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir, parallel=True)
    return similarity.cosine_topk(emb, _ann_queries(emb), k=5).select(
        "q_id", "neighbor_id", "cosine", "rank"
    )


_ANN_COSINE_TOPK_ORACLE = """
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS q_id, v AS q_vec FROM emb WHERE vec_id % 50 = 0),
            scored AS (
                SELECT q.q_id, e.vec_id AS neighbor_id,
                       ROUND(list_cosine_similarity(e.v, q.q_vec), 6) AS cosine
                FROM emb e CROSS JOIN q WHERE e.vec_id != q.q_id
            )
            SELECT q_id, neighbor_id, cosine, rank FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 5
        """


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return similarity.ivf_cosine_topk(emb, _ann_queries(emb), n_centroids=16, nprobe=4, k=5).select(
        "q_id", "neighbor_id", "cosine", "rank"
    )


# IVF is deterministic end to end (md5-ordered centroid sample is
# engine-portable), so unlike LSH it gets a full value oracle
_ANN_IVF_TOPK_ORACLE = """
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            cent AS (
                SELECT vec_id AS cent_id, v AS cent_vec FROM emb
                ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
            assign AS (
                SELECT vec_id, v, cent_id FROM (
                    SELECT e.vec_id, e.v, c.cent_id,
                           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                               ORDER BY ROUND(list_cosine_similarity(e.v, c.cent_vec), 6) DESC,
                                        c.cent_id) AS rn
                    FROM emb e CROSS JOIN cent c) WHERE rn = 1),
            q AS (SELECT vec_id AS q_id, v AS q_vec FROM emb WHERE vec_id % 50 = 0),
            probe AS (
                SELECT q_id, q_vec, cent_id FROM (
                    SELECT q.q_id, q.q_vec, c.cent_id,
                           ROW_NUMBER() OVER (PARTITION BY q.q_id
                               ORDER BY ROUND(list_cosine_similarity(q.q_vec, c.cent_vec), 6) DESC,
                                        c.cent_id) AS rn
                    FROM q CROSS JOIN cent c) WHERE rn <= 4),
            scored AS (
                SELECT p.q_id, a.vec_id AS neighbor_id,
                       ROUND(list_cosine_similarity(a.v, p.q_vec), 6) AS cosine
                FROM probe p JOIN assign a USING (cent_id)
                WHERE a.vec_id != p.q_id)
            SELECT q_id, neighbor_id, cosine, rank FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 5
        """


def _q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-rank (the IVFADC compression
    half): 16 sub-spaces × 16 deterministic sample centroids, 40-deep ADC
    shortlist, exact squared-L2 re-rank to top-5."""
    emb = _emb(spark, sf_dir)
    return similarity.pq_topk(emb, _ann_queries(emb), m=16, n_codes=16, k=5, rerank=40).select(
        "q_id", "neighbor_id", "approx_dist", "exact_dist", "rank"
    )


_ANN_PQ_TOPK_ORACLE = """
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            cb AS (
                SELECT v, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS code
                FROM (SELECT vec_id, v FROM emb
                      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16)),
            mm AS (SELECT unnest(range(0, 16)) AS m),
            cbm AS (
                SELECT code, CAST(m AS INT) AS m,
                       list_slice(v, CAST(m*4 + 1 AS INT), CAST(m*4 + 4 AS INT)) AS cs
                FROM cb CROSS JOIN mm),
            ce AS (
                SELECT e.vec_id, c.m, c.code,
                       list_slice(e.v, c.m*4 + 1, c.m*4 + 4) AS es,
                       ROUND(list_reduce(list_transform(range(1, 5),
                           i -> (es[CAST(i AS INT)] - c.cs[CAST(i AS INT)])
                                * (es[CAST(i AS INT)] - c.cs[CAST(i AS INT)])),
                           (a, b) -> a + b), 6) AS dist
                FROM emb e CROSS JOIN cbm c),
            codes AS (
                SELECT vec_id, m, code FROM (
                    SELECT vec_id, m, code,
                           ROW_NUMBER() OVER (PARTITION BY vec_id, m
                               ORDER BY dist, code) AS rn
                    FROM ce) WHERE rn = 1),
            carr AS (SELECT vec_id, list(code ORDER BY m) AS codes
                     FROM codes GROUP BY vec_id),
            q AS (SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
            qe AS (
                SELECT q.q_id, c.m, c.code,
                       list_slice(q.qv, c.m*4 + 1, c.m*4 + 4) AS qs,
                       ROUND(list_reduce(list_transform(range(1, 5),
                           i -> (qs[CAST(i AS INT)] - c.cs[CAST(i AS INT)])
                                * (qs[CAST(i AS INT)] - c.cs[CAST(i AS INT)])),
                           (a, b) -> a + b), 6) AS dist
                FROM q CROSS JOIN cbm c),
            qarr AS (SELECT q_id, list(dist ORDER BY m, code) AS qd
                     FROM qe GROUP BY q_id),
            adc AS (
                SELECT qarr.q_id, carr.vec_id AS neighbor_id,
                       ROUND(list_reduce(list_transform(range(1, 17),
                           i -> qd[CAST((i-1)*16 + codes[CAST(i AS INT)] AS INT)]),
                           (a, b) -> a + b), 6) AS approx_dist
                FROM carr CROSS JOIN qarr WHERE carr.vec_id != qarr.q_id),
            short AS (
                SELECT q_id, neighbor_id, approx_dist FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY approx_dist ASC, neighbor_id ASC) AS rn
                    FROM adc) WHERE rn <= 40),
            ex AS (
                SELECT s.q_id, s.neighbor_id, s.approx_dist,
                       ROUND(list_reduce(list_transform(range(1, 65),
                           i -> (e.v[CAST(i AS INT)] - q.qv[CAST(i AS INT)])
                                * (e.v[CAST(i AS INT)] - q.qv[CAST(i AS INT)])),
                           (a, b) -> a + b), 6) AS exact_dist
                FROM short s
                JOIN emb e ON e.vec_id = s.neighbor_id
                JOIN q ON q.q_id = s.q_id)
            SELECT q_id, neighbor_id, approx_dist, exact_dist, rank FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY exact_dist ASC, neighbor_id ASC) AS rank
                FROM ex
            ) WHERE rank <= 5
        """


_TRAINER_KW = dict(m=16, n_codes=16, dim=64, iters=20, seed=11)


def _trained_fixture_df(spark: SparkSession) -> DataFrame:
    from batch_doc_vqa_spark.sources.vectors_fixture import trained_sample_df

    return trained_sample_df(spark)


def _q_ann_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat PQ with a k-means-TRAINED codebook (VERDICT r4 #7 / r5 #1).
    k-means is iterative — not SQL-expressible — but the trained MODEL is a
    deterministic function of the seeded fixture sample, so the oracle
    embeds the kernel-mirror's centers as VALUES (the bootstrap_median_ci
    precedent) and the whole downstream encode → ADC → re-rank pipeline is
    hash-exact against DuckDB. The fixture (not the embeddings table)
    trains the model so the oracle stays sf-independent; the REAL Spark
    trainer (md5 sampling + applyInPandas + shared kmeans kernel) is in
    the measured path, bit-identity with the mirror pytest-pinned."""
    from batch_doc_vqa_spark.sources.vectors_fixture import TRAIN_SAMPLE

    emb = _emb(spark, sf_dir)
    cbk = similarity.train_pq_codebook(
        _trained_fixture_df(spark), sample_size=TRAIN_SAMPLE, **_TRAINER_KW
    )
    return similarity.pq_topk(
        emb, _ann_queries(emb), m=16, n_codes=16, k=5, dim=64, rerank=40, codebook=cbk
    ).select("q_id", "neighbor_id", "approx_dist", "exact_dist", "rank")


def _q_ann_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ with a fully TRAINED model (k-means centroids + residual
    codebook from train_ivfpq_model) through the production build path —
    same kernel-as-VALUES oracle treatment as ann_pq_trained_topk."""
    from batch_doc_vqa_spark.sources.vectors_fixture import TRAIN_SAMPLE

    emb = _emb(spark, sf_dir)
    cents, cbk = similarity.train_ivfpq_model(
        _trained_fixture_df(spark), n_centroids=16, sample_size=TRAIN_SAMPLE,
        **_TRAINER_KW,
    )
    index = similarity.ivfpq_build(
        emb, n_centroids=16, m=16, n_codes=16, dim=64, centroids=cents, codebook=cbk
    )
    return similarity.ivfpq_query(index, _ann_queries(emb), nprobe=4, k=5, rerank=40).select(
        "q_id", "neighbor_id", "approx_dist", "exact_dist", "rank"
    )


def _q_ann_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION ANN path end-to-end (VERDICT r5 #2): ivfpq_build →
    save_ivfpq_index → load_ivfpq_index → ivfpq_query through a fresh
    store — proves the persisted/loaded index (what a 10^12-doc deployment
    actually queries) returns the same rows as the in-memory one-shot;
    shares ann_ivfpq_topk's oracle verbatim."""
    import tempfile

    emb = _emb(spark, sf_dir)
    index = similarity.ivfpq_build(emb, n_centroids=16, m=16, n_codes=16, dim=64)
    path = tempfile.mkdtemp(prefix="ivfpq_store_") + "/idx"
    similarity.save_ivfpq_index(index, path)
    loaded = similarity.load_ivfpq_index(spark, path, corpus=emb)
    return similarity.ivfpq_query(loaded, _ann_queries(emb), nprobe=4, k=5, rerank=40).select(
        "q_id", "neighbor_id", "approx_dist", "exact_dist", "rank"
    )


def _q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ composition (VERDICT r4 #2): coarse cells prune (nprobe=4 of
    16), residual PQ compresses (16 sub-spaces × 16 codes), 40-deep ADC
    shortlist, exact squared-L2 re-rank to top-5. The ADC join is keyed on
    cent_id — probe-bounded, never a per-query corpus scan."""
    emb = _emb(spark, sf_dir)
    return similarity.ivfpq_topk(
        emb, _ann_queries(emb), n_centroids=16, nprobe=4, m=16, n_codes=16, k=5, dim=64, rerank=40
    ).select("q_id", "neighbor_id", "approx_dist", "exact_dist", "rank")


_ANN_IVFPQ_TOPK_ORACLE = """
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            cent AS (
                SELECT vec_id AS cent_id, v AS cv FROM emb
                ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
            assign AS (
                SELECT vec_id, cent_id,
                       list_transform(range(1, 65),
                           i -> v[CAST(i AS INT)] - cv[CAST(i AS INT)]) AS r
                FROM (
                    SELECT e.vec_id, e.v, c.cent_id, c.cv,
                           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                               ROUND(list_reduce(list_transform(range(1, 65),
                                   i -> (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                                        * (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])),
                                   (a, b) -> a + b), 6) ASC, c.cent_id ASC) AS rn
                    FROM emb e CROSS JOIN cent c) WHERE rn = 1),
            cb AS (
                SELECT r, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS code
                FROM (SELECT a.vec_id, a.r FROM assign a
                      ANTI JOIN cent ON a.vec_id = cent.cent_id
                      ORDER BY md5(CAST(a.vec_id AS VARCHAR)) LIMIT 16)),
            mm AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS m),
            cbm AS (SELECT code, m, list_slice(r, m*4 + 1, m*4 + 4) AS cs
                    FROM cb CROSS JOIN mm),
            ce AS (
                SELECT a.vec_id, a.cent_id, c.m, c.code,
                       list_slice(a.r, c.m*4 + 1, c.m*4 + 4) AS es,
                       ROUND(list_reduce(list_transform(range(1, 5),
                           i -> (es[CAST(i AS INT)] - c.cs[CAST(i AS INT)])
                                * (es[CAST(i AS INT)] - c.cs[CAST(i AS INT)])),
                           (a2, b) -> a2 + b), 6) AS dist
                FROM assign a CROSS JOIN cbm c),
            codes AS (
                SELECT vec_id, cent_id, m, code FROM (
                    SELECT vec_id, cent_id, m, code,
                           ROW_NUMBER() OVER (PARTITION BY vec_id, m
                               ORDER BY dist, code) AS rn
                    FROM ce) WHERE rn = 1),
            carr AS (SELECT vec_id, cent_id, list(code ORDER BY m) AS codes
                     FROM codes GROUP BY vec_id, cent_id),
            q AS (SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
            probe AS (
                SELECT q_id, cent_id,
                       list_transform(range(1, 65),
                           i -> qv[CAST(i AS INT)] - cv[CAST(i AS INT)]) AS qr
                FROM (
                    SELECT q.q_id, q.qv, c.cent_id, c.cv,
                           ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                               ROUND(list_reduce(list_transform(range(1, 65),
                                   i -> (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                                        * (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])),
                                   (a, b) -> a + b), 6) ASC, c.cent_id ASC) AS rn
                    FROM q CROSS JOIN cent c) WHERE rn <= 4),
            qe AS (
                SELECT p.q_id, p.cent_id, c.m, c.code,
                       list_slice(p.qr, c.m*4 + 1, c.m*4 + 4) AS qs,
                       ROUND(list_reduce(list_transform(range(1, 5),
                           i -> (qs[CAST(i AS INT)] - c.cs[CAST(i AS INT)])
                                * (qs[CAST(i AS INT)] - c.cs[CAST(i AS INT)])),
                           (a2, b) -> a2 + b), 6) AS dist
                FROM probe p CROSS JOIN cbm c),
            qarr AS (SELECT q_id, cent_id, list(dist ORDER BY m, code) AS qd
                     FROM qe GROUP BY q_id, cent_id),
            adc AS (
                SELECT qa.q_id, ca.vec_id AS neighbor_id,
                       ROUND(list_reduce(list_transform(range(1, 17),
                           i -> qd[CAST((i-1)*16 + codes[CAST(i AS INT)] AS INT)]),
                           (a, b) -> a + b), 6) AS approx_dist
                FROM carr ca JOIN qarr qa USING (cent_id)
                WHERE ca.vec_id != qa.q_id),
            short AS (
                SELECT q_id, neighbor_id, approx_dist FROM (
                    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY approx_dist ASC, neighbor_id ASC) AS rn
                    FROM adc) WHERE rn <= 40),
            ex AS (
                SELECT s.q_id, s.neighbor_id, s.approx_dist,
                       ROUND(list_reduce(list_transform(range(1, 65),
                           i -> (e.v[CAST(i AS INT)] - q.qv[CAST(i AS INT)])
                                * (e.v[CAST(i AS INT)] - q.qv[CAST(i AS INT)])),
                           (a, b) -> a + b), 6) AS exact_dist
                FROM short s
                JOIN emb e ON e.vec_id = s.neighbor_id
                JOIN q ON q.q_id = s.q_id)
            SELECT q_id, neighbor_id, approx_dist, exact_dist, rank FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY exact_dist ASC, neighbor_id ASC) AS rank
                FROM ex
            ) WHERE rank <= 5
        """


_TRAINED_MODEL_CACHE: dict = {}


def _trained_models() -> dict:
    """Kernel-mirror training of the quantizer models the trained-ANN
    oracles embed as VALUES — pure Python, no Spark; bit-identity with the
    Spark trainers is pytest-pinned
    (test_trainer_kernels_mirror_spark_trainers_bit_exactly). Cached: the
    models are a deterministic function of the committed fixture."""
    if not _TRAINED_MODEL_CACHE:
        from batch_doc_vqa_spark.functions.pq_train import (
            train_ivfpq_model_kernel,
            train_pq_codebook_kernel,
        )
        from batch_doc_vqa_spark.sources.vectors_fixture import (
            TRAIN_SAMPLE,
            trained_sample_rows,
        )

        rows = trained_sample_rows()
        kw = dict(sample_size=TRAIN_SAMPLE, **_TRAINER_KW)
        _TRAINED_MODEL_CACHE["pq_cbm"] = train_pq_codebook_kernel(rows, **kw)
        cents, cbm = train_ivfpq_model_kernel(rows, n_centroids=16, **kw)
        _TRAINED_MODEL_CACHE["ivf_cents"] = cents
        _TRAINED_MODEL_CACHE["ivf_cbm"] = cbm
    return _TRAINED_MODEL_CACHE


# trained-quantizer oracles: kernel-mirror models embedded as VALUES
# (k-means itself is iterative; the MODEL is deterministic — VERDICT r5 #1)
def _ann_pq_trained_oracle() -> str:
    """ann_pq_topk's oracle with the md5-sample codebook CTE replaced by
    the TRAINED centers as VALUES — everything downstream (encode, ADC,
    exact re-rank) is the identical SQL."""
    cbm = _values_cte(
        "cbm", ["code", "m", "cs"],
        [(code, m, cs) for m, code, cs in _trained_models()["pq_cbm"]],
    )
    return f"""
        WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        {cbm},
        ce AS (
            SELECT e.vec_id, c.m, c.code,
                   list_slice(e.v, c.m*4 + 1, c.m*4 + 4) AS es,
                   ROUND(list_reduce(list_transform(range(1, 5),
                       i -> (es[CAST(i AS INT)] - c.cs[CAST(i AS INT)])
                            * (es[CAST(i AS INT)] - c.cs[CAST(i AS INT)])),
                       (a, b) -> a + b), 6) AS dist
            FROM emb e CROSS JOIN cbm c),
        codes AS (
            SELECT vec_id, m, code FROM (
                SELECT vec_id, m, code,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, m
                           ORDER BY dist, code) AS rn
                FROM ce) WHERE rn = 1),
        carr AS (SELECT vec_id, list(code ORDER BY m) AS codes
                 FROM codes GROUP BY vec_id),
        q AS (SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
        qe AS (
            SELECT q.q_id, c.m, c.code,
                   list_slice(q.qv, c.m*4 + 1, c.m*4 + 4) AS qs,
                   ROUND(list_reduce(list_transform(range(1, 5),
                       i -> (qs[CAST(i AS INT)] - c.cs[CAST(i AS INT)])
                            * (qs[CAST(i AS INT)] - c.cs[CAST(i AS INT)])),
                       (a, b) -> a + b), 6) AS dist
            FROM q CROSS JOIN cbm c),
        qarr AS (SELECT q_id, list(dist ORDER BY m, code) AS qd
                 FROM qe GROUP BY q_id),
        adc AS (
            SELECT qarr.q_id, carr.vec_id AS neighbor_id,
                   ROUND(list_reduce(list_transform(range(1, 17),
                       i -> qd[CAST((i-1)*16 + codes[CAST(i AS INT)] AS INT)]),
                       (a, b) -> a + b), 6) AS approx_dist
            FROM carr CROSS JOIN qarr WHERE carr.vec_id != qarr.q_id),
        short AS (
            SELECT q_id, neighbor_id, approx_dist FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY approx_dist ASC, neighbor_id ASC) AS rn
                FROM adc) WHERE rn <= 40),
        ex AS (
            SELECT s.q_id, s.neighbor_id, s.approx_dist,
                   ROUND(list_reduce(list_transform(range(1, 65),
                       i -> (e.v[CAST(i AS INT)] - q.qv[CAST(i AS INT)])
                            * (e.v[CAST(i AS INT)] - q.qv[CAST(i AS INT)])),
                       (a, b) -> a + b), 6) AS exact_dist
            FROM short s
            JOIN emb e ON e.vec_id = s.neighbor_id
            JOIN q ON q.q_id = s.q_id)
        SELECT q_id, neighbor_id, approx_dist, exact_dist, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY exact_dist ASC, neighbor_id ASC) AS rank
            FROM ex
        ) WHERE rank <= 5
    """


def _ann_ivfpq_trained_oracle() -> str:
    """ann_ivfpq_topk's oracle with BOTH model CTEs (sampled centroids,
    residual-sample codebook) replaced by the TRAINED model as VALUES;
    assignment, probing, ADC and re-rank are the identical SQL."""
    models = _trained_models()
    cent = _values_cte(
        "cent", ["cent_id", "cv"], [(cid, cv) for cid, cv in models["ivf_cents"]]
    )
    cbm = _values_cte(
        "cbm", ["code", "m", "cs"],
        [(code, m, cs) for m, code, cs in models["ivf_cbm"]],
    )
    return f"""
        WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        {cent},
        {cbm},
        assign AS (
            SELECT vec_id, cent_id,
                   list_transform(range(1, 65),
                       i -> v[CAST(i AS INT)] - cv[CAST(i AS INT)]) AS r
            FROM (
                SELECT e.vec_id, e.v, c.cent_id, c.cv,
                       ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                           ROUND(list_reduce(list_transform(range(1, 65),
                               i -> (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                                    * (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])),
                               (a, b) -> a + b), 6) ASC, c.cent_id ASC) AS rn
                FROM emb e CROSS JOIN cent c) WHERE rn = 1),
        ce AS (
            SELECT a.vec_id, a.cent_id, c.m, c.code,
                   list_slice(a.r, c.m*4 + 1, c.m*4 + 4) AS es,
                   ROUND(list_reduce(list_transform(range(1, 5),
                       i -> (es[CAST(i AS INT)] - c.cs[CAST(i AS INT)])
                            * (es[CAST(i AS INT)] - c.cs[CAST(i AS INT)])),
                       (a2, b) -> a2 + b), 6) AS dist
            FROM assign a CROSS JOIN cbm c),
        codes AS (
            SELECT vec_id, cent_id, m, code FROM (
                SELECT vec_id, cent_id, m, code,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, m
                           ORDER BY dist, code) AS rn
                FROM ce) WHERE rn = 1),
        carr AS (SELECT vec_id, cent_id, list(code ORDER BY m) AS codes
                 FROM codes GROUP BY vec_id, cent_id),
        q AS (SELECT vec_id AS q_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
        probe AS (
            SELECT q_id, cent_id,
                   list_transform(range(1, 65),
                       i -> qv[CAST(i AS INT)] - cv[CAST(i AS INT)]) AS qr
            FROM (
                SELECT q.q_id, q.qv, c.cent_id, c.cv,
                       ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
                           ROUND(list_reduce(list_transform(range(1, 65),
                               i -> (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])
                                    * (q.qv[CAST(i AS INT)] - c.cv[CAST(i AS INT)])),
                               (a, b) -> a + b), 6) ASC, c.cent_id ASC) AS rn
                FROM q CROSS JOIN cent c) WHERE rn <= 4),
        qe AS (
            SELECT p.q_id, p.cent_id, c.m, c.code,
                   list_slice(p.qr, c.m*4 + 1, c.m*4 + 4) AS qs,
                   ROUND(list_reduce(list_transform(range(1, 5),
                       i -> (qs[CAST(i AS INT)] - c.cs[CAST(i AS INT)])
                            * (qs[CAST(i AS INT)] - c.cs[CAST(i AS INT)])),
                       (a2, b) -> a2 + b), 6) AS dist
            FROM probe p CROSS JOIN cbm c),
        qarr AS (SELECT q_id, cent_id, list(dist ORDER BY m, code) AS qd
                 FROM qe GROUP BY q_id, cent_id),
        adc AS (
            SELECT qa.q_id, ca.vec_id AS neighbor_id,
                   ROUND(list_reduce(list_transform(range(1, 17),
                       i -> qd[CAST((i-1)*16 + codes[CAST(i AS INT)] AS INT)]),
                       (a, b) -> a + b), 6) AS approx_dist
            FROM carr ca JOIN qarr qa USING (cent_id)
            WHERE ca.vec_id != qa.q_id),
        short AS (
            SELECT q_id, neighbor_id, approx_dist FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                    ORDER BY approx_dist ASC, neighbor_id ASC) AS rn
                FROM adc) WHERE rn <= 40),
        ex AS (
            SELECT s.q_id, s.neighbor_id, s.approx_dist,
                   ROUND(list_reduce(list_transform(range(1, 65),
                       i -> (e.v[CAST(i AS INT)] - q.qv[CAST(i AS INT)])
                            * (e.v[CAST(i AS INT)] - q.qv[CAST(i AS INT)])),
                       (a, b) -> a + b), 6) AS exact_dist
            FROM short s
            JOIN emb e ON e.vec_id = s.neighbor_id
            JOIN q ON q.q_id = s.q_id)
        SELECT q_id, neighbor_id, approx_dist, exact_dist, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY exact_dist ASC, neighbor_id ASC) AS rank
            FROM ex
        ) WHERE rank <= 5
    """


def _q_ann_ivfpq_appended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index growth (round 6): build on the even-id half of the
    corpus, save, APPEND the odd-id half as an encode-only marker-committed
    snapshot, load, query — the per-crawl-snapshot operation of a 10^12-doc
    deployment (no rebuild). Oracle: the IVFADC SQL with the model CTEs
    (sampled centroids + residual codebook) restricted to the even half and
    the encode CTEs over the full corpus — exactly what frozen-model growth
    means."""
    import tempfile

    emb = _emb(spark, sf_dir)
    index = similarity.ivfpq_build(
        emb.filter(F.col("vec_id") % 2 == 0), n_centroids=16, m=16, n_codes=16, dim=64
    )
    path = tempfile.mkdtemp(prefix="ivfpq_grow_") + "/idx"
    similarity.save_ivfpq_index(index, path)
    similarity.append_ivfpq_index(
        spark, path, emb.filter(F.col("vec_id") % 2 != 0), snapshot_id="e00000001"
    )
    loaded = similarity.load_ivfpq_index(spark, path, corpus=emb)
    return similarity.ivfpq_query(loaded, _ann_queries(emb), nprobe=4, k=5, rerank=40).select(
        "q_id", "neighbor_id", "approx_dist", "exact_dist", "rank"
    )


# incremental growth (round 6): the SAME IVFADC SQL with the model CTEs
# (centroid sample + residual-codebook sample) restricted to the even
# half — frozen-model append means encode-over-all, model-from-A.
# Derived by targeted rewrite of the one-shot oracle so the two can
# never drift; the asserts fail loudly if the base SQL is reshaped.
def _ann_ivfpq_appended_oracle() -> str:
    base = _ANN_IVFPQ_TOPK_ORACLE
    cent_old = "SELECT vec_id AS cent_id, v AS cv FROM emb\n"
    cb_old = "ANTI JOIN cent ON a.vec_id = cent.cent_id\n"
    assert base.count(cent_old) == 1 and base.count(cb_old) == 1, "ivfpq oracle reshaped"
    return base.replace(
        cent_old, "SELECT vec_id AS cent_id, v AS cv FROM emb WHERE vec_id % 2 = 0\n"
    ).replace(
        cb_old,
        "ANTI JOIN cent ON a.vec_id = cent.cent_id\n"
        "                      WHERE a.vec_id % 2 = 0\n",
    )


def _q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (round 6): cluster embeddings into 16 md5-sampled cells,
    prune near-dups (cosine ≥ 0.4 on this fixture's geometry) within cells,
    keep the group member with the LOWEST cosine to its centroid — the
    paper's diversity rule. The oracle replays the whole pipeline: argmax
    assignment, within-cell pairs, recursive-CTE components, keep ranking."""
    return similarity.semdedup(
        _emb(spark, sf_dir, parallel=True), threshold=0.4, n_centroids=16
    )


def _semdedup_oracle(threshold: float = 0.4, n_centroids: int = 16) -> str:
    return f"""
        WITH RECURSIVE emb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        cent AS (SELECT vec_id AS cent_id, v AS cv FROM emb
                 ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {n_centroids}),
        scored AS (SELECT e.vec_id, e.v, c.cent_id,
                          ROUND(list_cosine_similarity(e.v, c.cv), 6) AS cs
                   FROM emb e CROSS JOIN cent c),
        assign AS (SELECT vec_id, v, cent_id, cs FROM (
                       SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, cent_id ASC) AS rn
                       FROM scored) WHERE rn = 1),
        pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                  FROM assign a JOIN assign b
                    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
                  WHERE ROUND(list_cosine_similarity(a.v, b.v), 6)
                        >= CAST({threshold} AS DOUBLE)),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(id, r) AS (SELECT vec_id, vec_id FROM emb
                         UNION SELECT reach.id, e.dst
                               FROM reach JOIN edges e ON e.src = reach.r),
        cc AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
        sz AS (SELECT cluster_id, COUNT(*) AS group_size FROM cc GROUP BY cluster_id),
        ranked AS (SELECT cc.id, cc.cluster_id, a.cent_id,
                          a.cs AS cos_to_centroid,
                          ROW_NUMBER() OVER (PARTITION BY cc.cluster_id
                                             ORDER BY a.cs ASC, cc.id ASC) AS rn
                   FROM cc JOIN assign a ON a.vec_id = cc.id)
        SELECT ranked.id AS vec_id, cent_id, cluster_id, cos_to_centroid,
               rn = 1 AS keep, sz.group_size
        FROM ranked JOIN sz USING (cluster_id)
    """


def _q_embedding_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_dup_pairs(_emb(spark, sf_dir, parallel=True), threshold=0.4)


_EMBEDDING_DUP_PAIRS_ORACLE = """
            WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM emb a JOIN emb b ON a.vec_id < b.vec_id
            WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
        """


def _q_embedding_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_dup_pairs_lsh(_emb(spark, sf_dir, parallel=True), dim=64, threshold=0.4)


def _hyperplane_sig_sql(vec: str, n_planes: int, dim: int, seed: int) -> str:
    """SQL expression mirroring similarity.hyperplane_signature bit-for-bit.

    Dot products fold left-to-right over doubles exactly like Spark's
    ``aggregate`` (list_reduce is the same IEEE fold, verified bit-identical),
    so the sign bits — and therefore the LSH buckets — match across engines.
    """
    import numpy as np

    planes = np.random.RandomState(seed).standard_normal((n_planes, dim))
    sig = None
    for p in range(n_planes):
        lit = "[" + ", ".join(repr(float(x)) for x in planes[p]) + "]"
        dot = (
            f"list_reduce(list_transform(list_zip({vec}, CAST({lit} AS DOUBLE[])),"
            f" pr -> pr[1] * pr[2]), (acc, v) -> acc + v)"
        )
        bit = f"(CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END)"
        sig = bit if sig is None else f"({sig} * 2 + {bit})"
    return sig


def _ann_lsh_oracle() -> str:
    """Full SQL mirror of multi-table hyperplane LSH top-k (8 tables × 6 planes)."""
    tables = "\nUNION ALL\n".join(
        f"SELECT vec_id, v, {t} AS t, {_hyperplane_sig_sql('v', 6, 64, 11 + t)} AS sig FROM emb"
        for t in range(8)
    )
    return f"""
        WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sigs AS ({tables}),
        cand AS (
            SELECT DISTINCT e.vec_id AS neighbor_id, q.vec_id AS q_id
            FROM sigs e JOIN sigs q ON e.t = q.t AND e.sig = q.sig
            WHERE q.vec_id % 50 = 0 AND e.vec_id != q.vec_id),
        scored AS (
            SELECT c.q_id, c.neighbor_id,
                   ROUND(list_cosine_similarity(e.v, q.v), 6) AS cosine
            FROM cand c
            JOIN emb e ON e.vec_id = c.neighbor_id
            JOIN emb q ON q.vec_id = c.q_id)
        SELECT q_id, neighbor_id, cosine, rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 5
    """


def _embedding_dup_lsh_oracle() -> str:
    """Full SQL mirror of the LSH-bucketed embedding near-dup tier."""
    tables = "\nUNION ALL\n".join(
        f"SELECT vec_id, v, {t} AS t, {_hyperplane_sig_sql('v', 8, 64, 11 + t)} AS sig FROM emb"
        for t in range(6)
    )
    return f"""
        WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sigs AS ({tables}),
        cand AS (
            SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
            FROM sigs x JOIN sigs y ON x.t = y.t AND x.sig = y.sig AND x.vec_id < y.vec_id)
        SELECT c.id_a, c.id_b, ROUND(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM cand c JOIN emb a ON a.vec_id = c.id_a JOIN emb b ON b.vec_id = c.id_b
        WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
    """


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    return similarity.lsh_cosine_topk(
        emb, _ann_queries(emb), dim=64, k=5, n_planes=6, n_tables=8
    ).select("q_id", "neighbor_id", "cosine", "rank")


def _q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_features(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _doc_quality_oracle() -> str:
    return f"""
            WITH t AS (
                SELECT doc_id, text, {_TOKS} AS toks FROM documents
            )
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(toks) AS n_tokens,
                   CASE WHEN length(text) > 0
                        THEN ROUND(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / length(text), 6)
                        ELSE 0.0 END AS punct_ratio,
                   CASE WHEN len(toks) > 0
                        THEN ROUND(len(list_filter(toks, x -> list_contains(['the','and','with','from','that','this','for','are','was'], x))) / len(toks), 6)
                        ELSE 0.0 END AS stopword_ratio,
                   CASE WHEN len(toks) > 0 THEN ROUND(length(text) / len(toks), 6) ELSE 0.0 END AS mean_token_len,
                   ROUND(
                     (CASE WHEN len(toks) >= 20 AND len(toks) <= 100000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
                   + (CASE WHEN length(text) > 0
                           AND ROUND(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / length(text), 6) > 0.001
                           AND ROUND(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / length(text), 6) < 0.2
                           THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
                   + (CASE WHEN len(toks) > 0
                           AND ROUND(len(list_filter(toks, x -> list_contains(['the','and','with','from','that','this','for','are','was'], x))) / len(toks), 6) > 0.05
                           THEN CAST(0.3 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 6) AS quality_score
            FROM t
        """


def _q_classifier_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNED quality scoring (round 6 — the CCNet/GPT-3 wiki-vs-crawl
    classifier tier): a deterministic offline-trained hashed-BoW logistic
    model (functions/linear_clf, seeded seed set) scored over the corpus as
    pure column math (broadcast weight join, exact decimal weight sum).
    The oracle re-derives the SAME weights from the same deterministic
    trainer and embeds them as VALUES."""
    from batch_doc_vqa_spark.sources.clf_fixture import CLF_BUCKETS, trained_quality_model

    bias, weights = trained_quality_model()
    return textstats.classifier_score(
        _tp(spark, sf_dir, "documents"), "doc_id", "text", bias, weights, CLF_BUCKETS
    )


def _classifier_ctes(rel: str) -> str:
    """CTE chain scoring ``rel(doc_id, text)`` with the trained classifier,
    ending in ``clf(doc_id, clf_score)`` — ONE definition shared by the
    standalone oracle and the recipe-v3 composition (they cannot drift)."""
    from batch_doc_vqa_spark.sources.clf_fixture import CLF_BUCKETS, trained_quality_model

    bias, weights = trained_quality_model()
    w_cte = _values_cte("clf_w", ["b", "wt"], sorted(weights.items()))
    return f"""{w_cte},
        clf_toks AS (SELECT doc_id, {_NTOKS} AS t FROM {rel}),
        clf_tok AS (SELECT doc_id, unnest(t) AS tok FROM clf_toks),
        clf_bk AS (SELECT doc_id,
                       CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT)
                           % {CLF_BUCKETS} AS b
                FROM clf_tok),
        clf_agg AS (SELECT clf_bk.doc_id,
                        CAST(SUM(CAST(COALESCE(clf_w.wt, CAST(0 AS DOUBLE)) AS DECIMAL(18,6))) AS DOUBLE) AS sw,
                        COUNT(*) AS nt
                 FROM clf_bk LEFT JOIN clf_w ON clf_w.b = clf_bk.b
                 GROUP BY clf_bk.doc_id),
        clf AS (SELECT t.doc_id,
                       ROUND(1.0 / (1.0 + exp(-({_sql_lit(bias)}
                           + CASE WHEN a.nt > 0 THEN a.sw / a.nt ELSE 0 END))), 6)
                           AS clf_score
                FROM clf_toks t LEFT JOIN clf_agg a ON a.doc_id = t.doc_id)"""


# learned quality classifier: the deterministic trainer re-runs at
# oracle-build time; only the WEIGHTS embed as VALUES — the scoring
# math is full SQL over the documents view
def _classifier_quality_oracle() -> str:
    return f"""
        WITH {_classifier_ctes("documents")}
        SELECT doc_id, clf_score FROM clf
    """


def _q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's LM quality tier (round 6): add-α bigram perplexity under a
    model trained on the deterministic held-in split (portable_hash64(id)%10
    == 0) of the same corpus. No kernel, no VALUES: training is counting, so
    the ENTIRE pipeline — split, counts, smoothing, scoring — is the SQL
    oracle."""
    return textstats.lm_perplexity(
        _tp(spark, sf_dir, "documents"), "doc_id", "text", broadcast_model=True
    )


# LM perplexity tier: training is counting — the whole pipeline
# (deterministic split, bigram counts, smoothing, scoring) is plain SQL
def _lm_perplexity_oracle() -> str:
    return f"""
        WITH toks AS (SELECT doc_id, {_NTOKS} AS t FROM documents),
        pos AS (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i
                FROM toks),
        bg AS (SELECT a.doc_id, a.w || ' ' || b.w AS bg, a.w AS w1
               FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
        tr AS (SELECT doc_id FROM toks
               WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                          AS BIGINT) % 10 = 0),
        c2 AS (SELECT bg.bg, bg.w1, COUNT(*) AS c2
               FROM bg JOIN tr ON bg.doc_id = tr.doc_id
               GROUP BY bg.bg, bg.w1),
        c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1),
        vocab AS (SELECT COUNT(DISTINCT p.w) AS v
                  FROM pos p JOIN tr ON p.doc_id = tr.doc_id),
        sc AS (SELECT d.doc_id,
                      ROUND(ln((CAST(COALESCE(c2.c2, 0) AS DOUBLE) + 0.5) /
                               (CAST(COALESCE(c1.c1, 0) AS DOUBLE)
                                + 0.5 * CAST(v.v AS DOUBLE))), 6) AS lp
               FROM bg d
               LEFT JOIN c2 ON c2.bg = d.bg
               LEFT JOIN c1 ON c1.w1 = d.w1
               CROSS JOIN vocab v),
        agg AS (SELECT doc_id,
                       CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE) AS s,
                       COUNT(*) AS n
                FROM sc GROUP BY doc_id)
        SELECT t.doc_id,
               CAST(COALESCE(a.n, 0) AS BIGINT) AS n_bigrams,
               ROUND(a.s / a.n, 6) AS avg_logprob,
               ROUND(exp(-ROUND(a.s / a.n, 6)), 6) AS ppl
        FROM toks t LEFT JOIN agg a ON a.doc_id = t.doc_id
    """


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (round 6): 100 docs drawn by
    the deterministic Efraimidis-Spirakis race with weight = n_chars (md5
    tier so the oracle reproduces the draw, the key, and the exact winner
    set)."""
    from batch_doc_vqa_spark.operators.chunking import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", 100, seed=5, base_hash="md5")


# weighted sampling: the identical draw + race-key expression; ties
# after the 6-round break on doc_id in BOTH engines
_WEIGHTED_SAMPLE_DOCS_ORACLE = """
        WITH wd AS (
            SELECT doc_id, source, n_chars,
                   CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '#5')),
                                            1, 15)) AS BIGINT) % 1048576 AS d
            FROM documents
            WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0)
        SELECT doc_id, source, n_chars,
               ROUND(-ln(CAST(d + 1 AS DOUBLE) / 1048577.0)
                     / CAST(n_chars AS DOUBLE), 6) AS wkey
        FROM wd
        ORDER BY wkey, doc_id
        LIMIT 100
    """


def _q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail cut (round 6): per-language equal-rank
    perplexity terciles over the lm_perplexity scores — rank cuts on the
    distinct (lang, ppl) value table (integer compares only, ties share a
    bucket), so the oracle is exact with no cross-engine quantile
    interpolation. Short docs (NULL ppl) come out 'unscored'."""
    docs = _tp(spark, sf_dir, "documents")
    lm = textstats.lm_perplexity(docs, "doc_id", "text", broadcast_model=True)
    scored = docs.select("doc_id", "lang").join(lm.select("doc_id", "ppl"), "doc_id")
    out = textstats.ppl_buckets(scored, "doc_id", "lang", "ppl", broadcast_cuts=True)
    return out.select("doc_id", "lang", "ppl", "bucket", "tier")


# CCNet tercile cut: rank cuts over the distinct value table — integer
# compares only, so the SQL mirror is exact (no quantile interpolation)
def _ppl_buckets_oracle() -> str:
    return f"""
        WITH lmq AS ({_lm_perplexity_oracle()}),
        pb_docs AS (SELECT d.doc_id, d.lang, l.ppl
                    FROM documents d JOIN lmq l ON l.doc_id = d.doc_id),
        pb_vals AS (SELECT lang, ppl, COUNT(*) AS cnt FROM pb_docs
                    WHERE ppl IS NOT NULL GROUP BY lang, ppl),
        pb_rank AS (SELECT lang, ppl,
                           COALESCE(SUM(cnt) OVER (PARTITION BY lang ORDER BY ppl
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r0,
                           SUM(cnt) OVER (PARTITION BY lang) AS n
                    FROM pb_vals),
        pb_cut AS (SELECT lang, ppl,
                          (CASE WHEN r0 * 3 >= n THEN 1 ELSE 0 END
                         + CASE WHEN r0 * 3 >= 2 * n THEN 1 ELSE 0 END) AS bucket
                   FROM pb_rank)
        SELECT d.doc_id, d.lang, d.ppl, c.bucket,
               CASE WHEN c.bucket IS NULL THEN 'unscored'
                    WHEN c.bucket = 0 THEN 'head'
                    WHEN c.bucket = 1 THEN 'middle'
                    ELSE 'tail' END AS tier
        FROM pb_docs d LEFT JOIN pb_cut c ON c.lang = d.lang AND c.ppl = d.ppl
    """


def _q_classifier_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3's importance resampling (round 6): keep each doc with
    probability equal to its LEARNED classifier score, via the repo's
    deterministic draw (md5 tier so the oracle reproduces membership
    bit-exactly). Composition: classifier_score → score_resample."""
    from batch_doc_vqa_spark.operators.chunking import score_resample
    from batch_doc_vqa_spark.sources.clf_fixture import CLF_BUCKETS, trained_quality_model

    bias, weights = trained_quality_model()
    scored = textstats.classifier_score(
        _tp(spark, sf_dir, "documents"), "doc_id", "text", bias, weights, CLF_BUCKETS
    )
    return score_resample(scored, "doc_id", "clf_score", seed=7, base_hash="md5")


def _draw_sql(seed: int) -> str:
    """The deterministic resampling draw (chunking.score_resample, md5
    tier) as DuckDB SQL — shared by every oracle that gates on it."""
    return (
        f"CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), '#{seed}')), 1, 15)) "
        "AS BIGINT) % 1048576 / CAST(1048576 AS DOUBLE)"
    )


# importance resampling over the learned score: oracle wraps the
# classifier SQL and reproduces the deterministic md5 draw exactly
def _classifier_resample_oracle() -> str:
    draw = _draw_sql(7)
    return f"""
        WITH scored AS ({_classifier_quality_oracle()})
        SELECT doc_id, clf_score, ROUND({draw}, 6) AS draw
        FROM scored
        WHERE {draw} < clf_score
    """


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(_tp(spark, sf_dir, "documents"), "doc_id", "text")


def _lang_id_oracle() -> str:
    return f"""
            WITH t AS (
                SELECT doc_id, {_TOKS} AS toks FROM documents
            ), s AS (
                SELECT doc_id,
                       len(list_filter(toks, x -> list_contains(['the','and','with','from','that'], x))) AS score_en,
                       len(list_filter(toks, x -> list_contains(['und','der','nicht','mit','aber'], x))) AS score_de,
                       len(list_filter(toks, x -> list_contains(['les','dans','avec','pour','mais'], x))) AS score_fr,
                       len(list_filter(toks, x -> list_contains(['los','para','pero','como','donde'], x))) AS score_es
                FROM t
            )
            SELECT doc_id, score_en, score_de, score_fr, score_es,
                   CASE WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'und'
                        WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
                        WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
                        WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
                        ELSE 'es' END AS lang_guess
            FROM s
        """


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _token_counts_oracle() -> str:
    return f"""
            SELECT doc_id,
                   len({_TOKS}) AS ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS regex_tokens
            FROM documents
        """


# ------------------------------------------------- BPE subword tier (r6)
#
# Kernel = oracle: the Spark queries run the REAL distributed path (Spark
# word-count learner + broadcast-vocab Arrow UDF encode), and the oracles
# embed the pure kernel's per-row outputs as VALUES — the extraction-family
# pattern (FIXTURES.md), sf-independent because the fixture is seeded.

_BPE_CACHE: dict = {}


def _bpe_model() -> dict:
    if not _BPE_CACHE:
        import hashlib as _hl

        from batch_doc_vqa_spark.functions import bpe as kbpe
        from batch_doc_vqa_spark.operators.subword import cap_freqs
        from batch_doc_vqa_spark.sources.bpe_fixture import (
            BPE_MAX_WORDS,
            BPE_MERGES,
            BPE_MIN_FREQ,
            bpe_fixture_rows,
        )

        rows = bpe_fixture_rows()
        freqs = kbpe.word_freqs(t for _, t in rows)
        merges = kbpe.learn_bpe_merges(
            cap_freqs(freqs, BPE_MAX_WORDS), BPE_MERGES, BPE_MIN_FREQ
        )
        ranks = kbpe.make_ranks(merges)
        _BPE_CACHE["counts"] = [(i, kbpe.count_tokens(t, ranks)) for i, t in rows]
        _BPE_CACHE["chunks"] = [
            (i, idx, n, _hl.md5(txt.encode()).hexdigest())
            for i, t in rows
            for idx, n, txt in kbpe.chunk_tokens(t, ranks, 32, 8)
        ]
    return _BPE_CACHE


def _bpe_counts_cte() -> str:
    return _values_cte("cnt", ["doc_id", "bpe_tokens"], _bpe_model()["counts"])


def _bpe_spark_merges(spark: SparkSession):
    from batch_doc_vqa_spark.operators.subword import learn_bpe
    from batch_doc_vqa_spark.sources.bpe_fixture import (
        BPE_MAX_WORDS,
        BPE_MERGES,
        BPE_MIN_FREQ,
        bpe_fixture_df,
    )

    fx = bpe_fixture_df(spark)
    return fx, learn_bpe(fx, "text", BPE_MERGES, BPE_MAX_WORDS, BPE_MIN_FREQ)


def _q_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained subword token counts (VERDICT r5 #5): Spark-learned merge
    table, broadcast-vocab greedy BPE encode in an Arrow UDF; oracle =
    kernel outputs as VALUES (byte-identity per doc)."""
    fx, merges = _bpe_spark_merges(spark)
    return textstats.token_counts(
        fx, "doc_id", "text", tokenizer="bpe", merges=merges
    ).select("doc_id", "bpe_tokens")


# BPE subword tier: kernel outputs as VALUES (byte-identity per doc);
# the packing layout is re-derived in SQL from the embedded counts
def _token_counts_bpe_oracle() -> str:
    return f"""
        WITH {_bpe_counts_cte()}
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(bpe_tokens AS INT) AS bpe_tokens
        FROM cnt
    """


def _q_chunk_documents_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking in MODEL-token units via
    chunk_documents(tokenizer='bpe') — same stride semantics as the ws
    tier, over the real subword sequence."""
    from batch_doc_vqa_spark.operators.chunking import chunk_documents

    fx, merges = _bpe_spark_merges(spark)
    return chunk_documents(
        fx, "doc_id", "text", chunk_tokens=32, overlap=8,
        tokenizer="bpe", merges=merges,
    ).select(
        "doc_id", "chunk_idx", "n_tokens",
        F.md5(F.encode("chunk_text", "utf-8")).alias("chunk_md5"),
    )


def _chunk_documents_bpe_oracle() -> str:
    return f"""
        WITH {_values_cte("ch", ["doc_id", "chunk_idx", "n_tokens", "chunk_md5"], _bpe_model()["chunks"])}
        SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
               CAST(n_tokens AS INT) AS n_tokens, chunk_md5
        FROM ch
    """


def _q_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packing layout denominated in BPE tokens: bpe_token_counts →
    pack_sequences (distributed prefix sum) — budgets/context lengths in
    model tokens end-to-end."""
    from batch_doc_vqa_spark.operators.packing import pack_sequences
    from batch_doc_vqa_spark.operators.subword import bpe_token_counts

    fx, merges = _bpe_spark_merges(spark)
    counts = bpe_token_counts(fx, "doc_id", "text", merges)
    return pack_sequences(counts, "doc_id", "bpe_tokens", ctx_len=64, block_size=8).select(
        "doc_id", "bpe_tokens", "start_offset", "seq_id", "end_seq_id", "crosses_boundary"
    )


def _pack_sequences_bpe_oracle() -> str:
    return f"""
        WITH {_bpe_counts_cte()},
        off AS (
            SELECT doc_id, bpe_tokens,
                   CAST(COALESCE(SUM(bpe_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                       AS start_offset
            FROM cnt)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               CAST(bpe_tokens AS INT) AS bpe_tokens, start_offset,
               CAST((start_offset - (start_offset % 64)) // 64 AS BIGINT) AS seq_id,
               CAST(((start_offset + GREATEST(bpe_tokens - 1, 0))
                     - ((start_offset + GREATEST(bpe_tokens - 1, 0)) % 64)) // 64 AS BIGINT)
                   AS end_seq_id,
               CAST(((start_offset + GREATEST(bpe_tokens - 1, 0))
                     - ((start_offset + GREATEST(bpe_tokens - 1, 0)) % 64)) // 64 AS BIGINT)
                   > CAST((start_offset - (start_offset % 64)) // 64 AS BIGINT)
                   AS crosses_boundary
        FROM off
    """


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(_t(spark, sf_dir, "documents"), "doc_id", "text")


_FINGERPRINT_ORACLE = """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_md5,
                   sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp_sha256
            FROM documents
        """


def _q_lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id_trigram(_tp(spark, sf_dir, "documents"), "doc_id", "text")


def _lang_trigram_oracle() -> str:
    from batch_doc_vqa_spark.operators.textstats import _TRIGRAM_PROFILES

    def hits(grams: list[str]) -> str:
        parts = " + ".join(
            f"(length(t) - length(replace(t, '{g}', ''))) / {len(g)}" for g in grams
        )
        return f"CAST({parts} AS BIGINT)"

    score_cols = ",\n               ".join(
        f"{hits(g)} AS tri_{lang}" for lang, g in _TRIGRAM_PROFILES.items()
    )
    langs = list(_TRIGRAM_PROFILES)
    g4 = ", ".join(f"tri_{lg}" for lg in langs)
    guess = "CASE WHEN greatest({g}) = 0 THEN 'und' ".format(g=g4)
    for lang in langs[:-1]:
        guess += f"WHEN tri_{lang} = greatest({g4}) THEN '{lang}' "
    guess += f"ELSE '{langs[-1]}' END"
    return f"""
        WITH lowered AS (SELECT doc_id, lower(text) AS t FROM documents),
        s AS (SELECT doc_id,
               {score_cols}
              FROM lowered)
        SELECT doc_id, {g4}, {guess} AS lang_guess FROM s
    """


def _q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.corpus_profile(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _corpus_profile_oracle() -> str:
    return f"""
            SELECT COUNT(*) AS n_docs,
                   COUNT(DISTINCT md5(text)) AS n_distinct,
                   ROUND(CAST(SUM(CAST(length(text) AS DECIMAL(28,0))) AS DOUBLE) / COUNT(*), 6) AS mean_chars,
                   CAST(MEDIAN(length(text)) AS DOUBLE) AS median_chars,
                   CAST(SUM(len({_TOKS})) AS BIGINT) AS total_ws_tokens
            FROM documents
        """


def _q_trigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality signal: per-doc character-trigram entropy."""
    return textstats.char_trigram_entropy(_tp(spark, sf_dir, "documents"), "doc_id", "text")


# H = log2(n) − Σ c·log2(c) / n over the doc's own trigram counts —
# the one-pass algebraic form; round(6) absorbs double-sum ordering
_TRIGRAM_ENTROPY_ORACLE = """
            WITH lowered AS (SELECT doc_id, lower(text) AS t FROM documents),
            tri AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, greatest(length(t) - 2, 0) + 1),
                            i -> substr(t, CAST(i AS INT), 3))) AS g
              FROM lowered
            ), c AS (
              SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY 1, 2
            ), e AS (
              SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
                     SUM(c * log2(c)) AS clogc, COUNT(*) AS dt
              FROM c GROUP BY 1
            )
            SELECT d.doc_id, COALESCE(e.n, 0) AS n_trigrams,
                   COALESCE(e.dt, 0) AS distinct_trigrams,
                   COALESCE(ROUND(log2(e.n) - e.clogc / e.n, 6), 0.0) AS trigram_entropy
            FROM documents d LEFT JOIN e USING (doc_id)
        """


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # min_tokens=40 (reference default is 80) so the fixture's ~60-token docs
    # actually exercise the scoring branch; the kernel default stays 80
    return textstats.repetition_scores(
        _t(spark, sf_dir, "documents"), "doc_id", "text", min_tokens=40
    )


# reference-exact assess_repetition (inference.py:69-96): \w is
# ASCII-only in BOTH Java and RE2 regex engines, ratios are exact
# integer-over-integer double divisions, so values match bit-for-bit
_REPETITION_SCORES_ORACLE = r"""
            WITH t AS (
              SELECT doc_id, regexp_extract_all(lower(text), '\w+|[^\s\w]') AS tk FROM documents
            ), b AS (
              SELECT doc_id, tk, len(tk) AS n FROM t
            ), cons AS (
              SELECT doc_id, n,
                CASE WHEN n > 1
                     THEN CAST(len(list_filter(range(1, n), i -> tk[i] = tk[i+1])) AS DOUBLE) / (n - 1)
                     ELSE CAST(0 AS DOUBLE) END AS consec
              FROM b
            ), ex AS (
              SELECT doc_id, unnest(tk) AS tok FROM b
            ), cnt AS (
              SELECT doc_id, tok, COUNT(*) AS c FROM ex GROUP BY 1, 2
            ), agg AS (
              SELECT doc_id, MAX(c) AS mc, COUNT(*) AS uniq FROM cnt GROUP BY 1
            ), s AS (
              SELECT co.doc_id, co.n, co.consec,
                     CAST(a.mc AS DOUBLE) / co.n AS rep,
                     CAST(a.uniq AS DOUBLE) / co.n AS div,
                     (co.n >= 40 AND a.mc IS NOT NULL) AS elig
              FROM cons co LEFT JOIN agg a USING (doc_id)
            )
            SELECT doc_id, CAST(n AS INT) AS n_tokens,
                   CASE WHEN elig THEN ROUND(rep, 6) ELSE 0.0 END AS repetition_ratio,
                   CASE WHEN elig THEN ROUND(div, 6) ELSE 0.0 END AS diversity_ratio,
                   CASE WHEN elig THEN ROUND(consec, 6) ELSE 0.0 END AS consecutive_repeats,
                   CASE WHEN elig THEN ROUND(greatest(rep, 1.0 - div, consec), 6) ELSE 0.0 END AS repetition_score,
                   CASE WHEN elig THEN (greatest(rep, 1.0 - div, consec) >= 0.22
                                        OR (div <= 0.35 AND rep >= 0.18))
                        ELSE FALSE END AS is_repetitive
            FROM s
        """


def _q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrays crash the driver's canonicalizer (unhashable in pandas sort), so
    # serialize the fingerprint list to a CSV string; the DuckDB oracle
    # reimplements winnowing independently (window functions over HUGEINT
    # rolling hashes) and emits the same string.
    out = textstats.winnow_fingerprints(_tp(spark, sf_dir, "documents"), "doc_id", "text")
    return out.select(
        "doc_id",
        F.size("fingerprints").alias("n_fp"),
        F.array_join(F.transform("fingerprints", lambda x: x.cast("string")), ",").alias("fps"),
    )


# Independent SQL reimplementation of winnowing (Schleimer et al. 2003):
# per-char unnest -> k=5 polynomial rolling hash mod 2^64 in HUGEINT
# (exact literal powers of 1000003; ** would go through DOUBLE) ->
# w=4 sliding windows, rightmost-min pick, dedup consecutive picks.
_WINNOW_FINGERPRINTS_ORACLE = """
            WITH base AS (
              SELECT doc_id, lower(text) AS t, length(text) AS len FROM documents
            ),
            codes AS (
              SELECT doc_id, u.i, CAST(unicode(substr(t, CAST(u.i AS INT), 1)) AS HUGEINT) AS c
              FROM base, unnest(range(1, len + 1)) u(i)
            ),
            h0 AS (
              SELECT doc_id, i,
                ((c * CAST('1000012000054000108000081' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT)
                 + (lead(c,1) OVER w * CAST('1000009000027000027' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT)
                 + (lead(c,2) OVER w * CAST('1000006000009' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT)
                 + (lead(c,3) OVER w * CAST('1000003' AS HUGEINT)) % CAST('18446744073709551616' AS HUGEINT)
                 + lead(c,4) OVER w) % CAST('18446744073709551616' AS HUGEINT) AS hm
              FROM codes WINDOW w AS (PARTITION BY doc_id ORDER BY i)
            ),
            h1 AS (
              SELECT doc_id, i, hm, count(*) OVER (PARTITION BY doc_id) AS n
              FROM h0 WHERE hm IS NOT NULL
            ),
            h AS (
              SELECT doc_id, i, n,
                CAST(CASE WHEN hm >= CAST('9223372036854775808' AS HUGEINT)
                          THEN hm - CAST('18446744073709551616' AS HUGEINT) ELSE hm END AS BIGINT) AS h
              FROM h1
            ),
            win AS (
              SELECT doc_id, i AS ws,
                h AS h0_, lead(h,1) OVER w AS h1_, lead(h,2) OVER w AS h2_, lead(h,3) OVER w AS h3_
              FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY i)
            ),
            picks AS (
              SELECT doc_id, ws,
                CASE WHEN h3_ <= least(h0_, h1_, h2_) THEN 3
                     WHEN h2_ <= least(h0_, h1_) THEN 2
                     WHEN h1_ <= h0_ THEN 1 ELSE 0 END AS rel
              FROM win WHERE h3_ IS NOT NULL
            ),
            kept AS (
              SELECT doc_id, ws, ws + rel AS gpos,
                lag(ws + rel) OVER (PARTITION BY doc_id ORDER BY ws) AS prev_gpos
              FROM picks
            ),
            sel AS (
              -- n > 4 keeps this branch disjoint from "short": docs with
              -- exactly w=4 k-gram hashes have one valid window here AND match
              -- the kernel's n<=w single-min path — without the guard both
              -- branches would emit and the oracle double-counts such docs
              SELECT k2.doc_id, k2.ws, h.h
              FROM kept k2 JOIN h ON h.doc_id = k2.doc_id AND h.i = k2.gpos
              WHERE (prev_gpos IS NULL OR gpos != prev_gpos) AND h.n > 4
            ),
            short AS (
              SELECT doc_id, min(h) AS h FROM h WHERE n <= 4 GROUP BY doc_id
            ),
            fps AS (
              SELECT doc_id, string_agg(CAST(h AS VARCHAR), ',' ORDER BY ws) AS fps,
                     count(*) AS n_fp
              FROM sel GROUP BY doc_id
              UNION ALL
              SELECT doc_id, CAST(h AS VARCHAR), 1 FROM short
            )
            SELECT b.doc_id, CAST(COALESCE(f.n_fp, 0) AS INT) AS n_fp,
                   COALESCE(f.fps, '') AS fps
            FROM base b LEFT JOIN fps f USING (doc_id)
        """


# DuckDB mirror of matching.surname_candidates (reference
# string_matching.py:46-96): last two tokens individually for 3+-token names,
# else the last token; per-token variants = token, hyphen parts, hyphen-free
# concatenation; lower + dedup. Only the candidate SET matters: the oracles
# use just the min pair distance.
_CAND = """list_distinct(list_transform(
      list_filter(
        flatten(list_transform(
          CASE WHEN len(toks) >= 3 THEN toks[len(toks)-1:len(toks)]
               WHEN len(toks) >= 1 THEN [toks[len(toks)]]
               ELSE CAST([] AS VARCHAR[]) END,
          t -> CASE WHEN contains(t, '-')
                    THEN list_concat(list_concat([t],
                             list_filter(string_split(t, '-'), p -> p != '')),
                         [array_to_string(string_split(t, '-'), '')])
                    ELSE [t] END)),
        x -> x != ''),
      x -> lower(x)))"""

_SPLIT_NAME = r"list_filter(string_split(regexp_replace(trim({col}), '\s+', ' ', 'g'), ' '), x -> x != '')"


def _matching_ctes() -> str:
    """The fixture rows of both sides as VALUES plus each side's surname
    candidates: the CTE prefix every matching-family oracle shares."""
    truth = _values_cte(
        "truth", ["doc", "student_id", "student_full_name"], matching_fixture.truth_rows()
    )
    extracted = _values_cte(
        "extracted", ["doc", "page", "llm_id", "llm_fullname"], matching_fixture.extracted_rows()
    )
    return f"""{truth},
            {extracted},
            tc0 AS (SELECT *, {_SPLIT_NAME.format(col='student_full_name')} AS toks FROM truth),
            tc AS (SELECT doc, student_id, {_CAND} AS ct FROM tc0),
            ec0 AS (SELECT *, {_SPLIT_NAME.format(col='llm_fullname')} AS toks FROM extracted),
            ec AS (SELECT doc, llm_id, {_CAND} AS ce FROM ec0),"""


def _q_matching_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = matching_fixture.truth_df(spark)
    extracted = matching_fixture.extracted_df(spark)
    dist = matching.pair_distances(extracted, truth)
    return matching.best_matches(dist).select(
        "doc", "student_id", "id_distance", "lastname_distance", "found"
    )


def _matching_pipeline_oracle() -> str:
    return f"""
            WITH {_matching_ctes()}
            pairs AS (
              SELECT e.doc, t.student_id,
                     levenshtein(lower(e.llm_id), lower(t.student_id)) AS id_distance,
                     list_min(flatten(list_transform(e.ce,
                         a -> list_transform(t.ct, b -> levenshtein(a, b))))) AS lastname_distance
              FROM ec e CROSS JOIN tc t)
            SELECT doc, student_id, MIN(id_distance) AS id_distance,
                   MIN(lastname_distance) AS lastname_distance,
                   (MIN(id_distance) <= 3 OR MIN(lastname_distance) = 0) AS found
            FROM pairs WHERE id_distance <= 3 OR lastname_distance = 0
            GROUP BY doc, student_id
        """


def _q_digit_accuracy_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    dist = matching.pair_distances(
        matching_fixture.extracted_df(spark), matching_fixture.truth_df(spark)
    )
    return matching.digit_accuracy_chain(dist)


# reference table_generator.py:700-730: best match per doc → digit
# explode of matched (llm_id, student_id) → mean·100
def _digit_accuracy_chain_oracle() -> str:
    return f"""
            WITH {_matching_ctes()}
            pairs AS (
              SELECT e.doc, e.llm_id, t.student_id,
                     levenshtein(lower(e.llm_id), lower(t.student_id)) AS id_distance,
                     list_min(flatten(list_transform(e.ce,
                         a -> list_transform(t.ct, b -> levenshtein(a, b))))) AS lastname_distance
              FROM ec e CROSS JOIN tc t),
            best AS (
              SELECT doc, llm_id, student_id FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY doc ORDER BY id_distance, lastname_distance, student_id) AS rn
                FROM pairs) WHERE rn = 1),
            dg AS (
              SELECT substr(lpad(student_id, 8, '0'), CAST(u.i AS INT), 1) AS a,
                     substr(lpad(llm_id, 8, '0'), CAST(u.i AS INT), 1) AS b
              FROM best, unnest(range(1, 9)) u(i))
            SELECT ROUND(AVG(CASE WHEN a = b THEN 1.0 ELSE 0.0 END) * 100, 6) AS digit_top1,
                   COUNT(*) AS n_digits
            FROM dg
        """


def _q_detection_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    dist = matching.pair_distances(
        matching_fixture.extracted_df(spark), matching_fixture.truth_df(spark)
    )
    return matching.detection_stats(dist)


def _detection_stats_oracle() -> str:
    return f"""
            WITH {_matching_ctes()}
            pairs AS (
              SELECT e.doc,
                     levenshtein(lower(e.llm_id), lower(t.student_id)) AS id_distance,
                     list_min(flatten(list_transform(e.ce,
                         a -> list_transform(t.ct, b -> levenshtein(a, b))))) AS lastname_distance
              FROM ec e CROSS JOIN tc t),
            per_doc AS (
              SELECT doc, MIN(id_distance) AS min_id, MIN(lastname_distance) AS min_lastname
              FROM pairs GROUP BY doc)
            SELECT COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN min_id <= 3 OR min_lastname = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_detected,
                   ROUND(AVG(CASE WHEN min_id <= 3 OR min_lastname = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * 100, 6) AS docs_detected_pct
            FROM per_doc
        """


def _q_accuracy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    dist = matching.pair_distances(
        matching_fixture.extracted_df(spark), matching_fixture.truth_df(spark)
    )
    return matching.accuracy_stats(matching.best_match_per_doc(dist))


def _accuracy_stats_oracle() -> str:
    return f"""
            WITH {_matching_ctes()}
            pairs AS (
              SELECT e.doc,
                     levenshtein(lower(e.llm_id), lower(t.student_id)) AS id_distance,
                     list_min(flatten(list_transform(e.ce,
                         a -> list_transform(t.ct, b -> levenshtein(a, b))))) AS lastname_distance
              FROM ec e CROSS JOIN tc t),
            best AS (
              SELECT doc, id_distance, lastname_distance FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY doc ORDER BY id_distance, lastname_distance) AS rn
                FROM pairs) WHERE rn = 1)
            SELECT ROUND(AVG(CASE WHEN id_distance = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * 100, 6) AS id_top1,
                   ROUND(AVG(id_distance), 6) AS id_avg_lev,
                   ROUND(AVG(CASE WHEN lastname_distance = 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) * 100, 6) AS lastname_top1,
                   CAST(SUM(CASE WHEN id_distance = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_perfect_id
            FROM best
        """


def _results_cte() -> str:
    return _values_cte(
        "results",
        [
            "run_name", "url", "prompt_tokens", "completion_tokens", "actual_cost",
            "cost_is_estimated", "generation_id", "failure_marker", "elapsed_seconds",
        ],
        runs_fixture.result_rows(),
    )


def _q_cost_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return runs_analytics.cost_rollup(runs_fixture.results_df(spark))


def _cost_rollup_oracle() -> str:
    return f"""
            WITH {_results_cte()},
            agg AS (
              SELECT run_name, COUNT(*) AS n_rows,
                     CAST(SUM(prompt_tokens) AS BIGINT) AS prompt_tokens,
                     CAST(SUM(completion_tokens) AS BIGINT) AS completion_tokens,
                     CAST(SUM(CASE WHEN actual_cost IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
                     CAST(SUM(CASE WHEN actual_cost IS NOT NULL AND cost_is_estimated THEN 1 ELSE 0 END) AS BIGINT) AS n_estimated,
                     CAST(SUM(CASE WHEN actual_cost IS NOT NULL AND NOT cost_is_estimated AND actual_cost = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
                     CAST(SUM(CASE WHEN actual_cost IS NOT NULL AND NOT cost_is_estimated AND actual_cost > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_precise,
                     SUM(actual_cost) AS cost_sum
              FROM results GROUP BY run_name)
            SELECT run_name, n_rows, prompt_tokens, completion_tokens,
                   n_missing, n_estimated, n_zero, n_precise,
                   CASE WHEN n_missing = n_rows THEN 'unavailable'
                        WHEN n_missing > 0 THEN 'partial'
                        WHEN n_estimated > 0 THEN 'estimated'
                        WHEN n_zero = n_rows THEN 'verified_zero'
                        ELSE 'precise' END AS cost_status,
                   CASE WHEN n_missing = 0 THEN ROUND(cost_sum, 8) END AS total_cost,
                   CASE WHEN n_missing = 0 THEN ROUND(cost_sum / n_rows, 10) END AS cost_per_row
            FROM agg
        """


def _q_parallel_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    return runs_analytics.parallel_runtime(runs_fixture.results_df(spark))


def _parallel_runtime_oracle() -> str:
    return f"""
            WITH {_results_cte()}
            SELECT run_name, COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN elapsed_seconds IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_untimed,
                   CASE WHEN SUM(CASE WHEN elapsed_seconds IS NULL THEN 1 ELSE 0 END) = 0
                        THEN MAX(elapsed_seconds) END AS parallel_runtime_seconds
            FROM results GROUP BY run_name
        """


def _q_failure_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return runs_analytics.failure_counts(runs_fixture.results_df(spark))


def _failure_counts_oracle() -> str:
    return f"""
            WITH {_results_cte()}
            SELECT run_name,
                   CASE WHEN failure_marker = '' THEN 'ok' ELSE failure_marker END AS reason,
                   COUNT(*) AS n
            FROM results GROUP BY 1, 2
        """


def _q_cohort_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.select_cohorts(runs_fixture.runs_df(spark))


def _cohort_select_oracle() -> str:
    runs_cte = _values_cte(
        "runs",
        [
            "run_name", "model_key", "ts", "fingerprint", "runtime_seconds",
            "digit_top1", "id_top1", "docs_detected",
        ],
        runs_fixture.runs_rows(),
    )
    return f"""
            WITH {runs_cte},
            anchors AS (
              SELECT model_key, fingerprint, ts AS anchor_ts FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY model_key ORDER BY ts DESC, run_name ASC) AS rn
                FROM runs) WHERE rn = 1)
            SELECT r.run_name, r.model_key, r.ts, r.fingerprint, r.runtime_seconds,
                   r.digit_top1, r.id_top1, r.docs_detected, a.anchor_ts
            FROM runs r
            JOIN anchors a ON r.model_key = a.model_key AND r.fingerprint = a.fingerprint
            WHERE epoch(a.anchor_ts) - epoch(r.ts) BETWEEN 0 AND 86400
        """


def _probs_cte() -> str:
    return _values_cte("probs", ["doc", "pos", "probs", "truth_digit"], probs_fixture.probs_rows())


def _q_predict_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return probs_ops.predict_ids(
        probs_fixture.probs_df(spark).drop("truth_digit"), probs_fixture.truth_df(spark)
    )


def _predict_ids_oracle() -> str:
    cands_cte = _values_cte(
        "cands", ["student_id"], [(probs_fixture.truth_id(42, d),) for d in range(32)]
    )
    cutoff = repr(probs_ops.DETECTION_CUTOFF)
    return f"""
            WITH {_probs_cte()},
            {cands_cte},
            cd AS (SELECT student_id, pos, CAST(substr(lpad(student_id, 8, '0'), CAST(pos AS INT) + 1, 1) AS INT) AS d
                   FROM cands CROSS JOIN range(8) t(pos)),
            j AS (SELECT p.doc, cd.student_id, list_extract(p.probs, cd.d + 1) AS pv
                  FROM probs p JOIN cd ON p.pos = cd.pos),
            s AS (SELECT doc, student_id,
                         ROUND(CASE WHEN MAX(CASE WHEN pv <= 0 THEN 1 ELSE 0 END) = 1 THEN CAST(0 AS DOUBLE)
                                    ELSE EXP(SUM(LN(CASE WHEN pv > 0 THEN pv END))) END, 12) AS score
                  FROM j GROUP BY doc, student_id)
            SELECT doc, student_id, score, score >= CAST('{cutoff}' AS DOUBLE) AS detected
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc ORDER BY score DESC, student_id ASC) AS rn FROM s)
            WHERE rn = 1
        """


def _q_topk_digit_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return probs_ops.topk_digit_accuracy(probs_fixture.probs_df(spark))


def _topk_digit_accuracy_oracle() -> str:
    return f"""
            WITH {_probs_cte()},
            p2 AS (SELECT probs, truth_digit, list_extract(probs, truth_digit + 1) AS pt FROM probs),
            r AS (SELECT len(list_filter([0,1,2,3,4,5,6,7,8,9],
                       d -> list_extract(probs, d + 1) > pt
                            OR (list_extract(probs, d + 1) = pt AND d < truth_digit))) AS rank
                  FROM p2)
            SELECT ROUND(AVG(CASE WHEN rank < 1 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6) AS top1_acc,
                   ROUND(AVG(CASE WHEN rank < 2 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6) AS top2_acc,
                   ROUND(AVG(CASE WHEN rank < 3 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 6) AS top3_acc
            FROM r
        """


def _q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.bootstrap_median_ci(runs_fixture.runs_df(spark), "model_key", "digit_top1")


def _bootstrap_ci_oracle() -> str:
    """Pure-kernel bootstrap over the same seeded runs fixture → VALUES."""
    from collections import defaultdict

    groups: dict[str, list[float]] = defaultdict(list)
    cols = None
    for row in runs_fixture.runs_rows():
        if cols is None:
            # RUNS_SCHEMA order: locate model_key / digit_top1 positions once
            names = [f.strip().split()[0] for f in runs_fixture.RUNS_SCHEMA.split(",")]
            cols = (names.index("model_key"), names.index("digit_top1"))
        k, v = row[cols[0]], row[cols[1]]
        if v is not None:
            groups[str(k)].append(float(v))
    rows = []
    for k in sorted(groups):
        n, med, lo, hi = analytics.bootstrap_median_ci_kernel(k, groups[k])
        rows.append((k, n, med, lo, hi))
    cte = _values_cte("bci", ["model_key", "n", "median", "ci_low", "ci_high"], rows)
    return f"""
        WITH {cte}
        SELECT model_key, CAST(n AS BIGINT) AS n, CAST(median AS DOUBLE) AS median,
               CAST(ci_low AS DOUBLE) AS ci_low, CAST(ci_high AS DOUBLE) AS ci_high
        FROM bci
    """


def _region_rows() -> tuple[list[tuple], list[tuple]]:
    """Conflict-free region fixture: every prediction geometrically overlaps
    exactly one ground-truth region (vertical separation 50 ≫ box size 20),
    so greedy matching == per-GT best-IoU thresholding and the oracle is
    plain SQL. Greedy *conflict* resolution is covered by unit tests."""
    labels, preds = [], []
    for d in range(8):
        for r in range(3):
            x0, y0 = 10.0 * r + d, 50.0 * r
            labels.append((d, 1, "figure", [x0, y0, x0 + 20.0, y0 + 20.0]))
            # predictions drift more with r: r=0 overlaps well, r=2 misses
            off = 4.0 * r * r
            preds.append((d, 1, "figure", [x0 + off, y0 + off, x0 + 20.0 + off, y0 + 20.0 + off]))
    return labels, preds


def _region_fixture(spark: SparkSession):
    labels, preds = _region_rows()
    schema = "doc_id long, page int, kind string, bbox array<double>"
    return spark.createDataFrame(labels, schema), spark.createDataFrame(preds, schema)


def _q_region_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels, preds = _region_fixture(spark)
    return regions.micro_prf(regions.greedy_region_match(labels, preds))


def _region_match_oracle() -> str:
    labels, preds = _region_rows()
    flat = lambda rows: [(d, p, k, b[0], b[1], b[2], b[3]) for d, p, k, b in rows]  # noqa: E731
    cols = ["doc_id", "page", "kind", "x0", "y0", "x1", "y1"]
    lab_cte = _values_cte("lab", cols, flat(labels))
    prd_cte = _values_cte("prd", cols, flat(preds))
    return f"""
        WITH {lab_cte},
        {prd_cte},
        pair AS (
          SELECT l.doc_id, l.x0 AS gx0, l.y0 AS gy0,
                 greatest(least(l.x1, p.x1) - greatest(l.x0, p.x0), 0)
                 * greatest(least(l.y1, p.y1) - greatest(l.y0, p.y0), 0) AS inter,
                 (l.x1 - l.x0) * (l.y1 - l.y0) + (p.x1 - p.x0) * (p.y1 - p.y0) AS areas
          FROM lab l JOIN prd p
            ON l.doc_id = p.doc_id AND l.page = p.page AND l.kind = p.kind),
        per_gt AS (
          SELECT l.doc_id, l.x0, l.y0,
                 COALESCE(MAX(CASE WHEN pr.areas - pr.inter > 0
                                   THEN pr.inter / (pr.areas - pr.inter) END), 0) AS best
          FROM lab l LEFT JOIN pair pr
            ON pr.doc_id = l.doc_id AND pr.gx0 = l.x0 AND pr.gy0 = l.y0
          GROUP BY 1, 2, 3),
        counts AS (
          SELECT CAST(SUM(CASE WHEN best >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                 (SELECT COUNT(*) FROM prd) - CAST(SUM(CASE WHEN best >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                 COUNT(*) - CAST(SUM(CASE WHEN best >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fn
          FROM per_gt),
        pr AS (
          SELECT tp, fp, fn,
                 CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END AS p,
                 CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END AS r
          FROM counts)
        SELECT tp, fp, fn, ROUND(p, 6) AS precision, ROUND(r, 6) AS recall,
               ROUND(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END, 6) AS f1
        FROM pr
    """


_TA_TEXT_SCHEMA = "doc int, gt string, pred string"
_TA_ITEM_SCHEMA = "doc_id int, item string"
_RUBRIC_SCHEMA = "doc int, problem_uid string, criterion_id string, awarded_points double"
_FB_SCHEMA = "doc int, problem_uid string, specificity int, actionability int, correctness int"


_D1 = "CAST(1 AS DOUBLE)"
_D0 = "CAST(0 AS DOUBLE)"


def _ta_pairs_cte() -> str:
    return _values_cte("pairs", ["doc", "gt", "pred"], ta_fixture.text_pairs())


def _ta_item_ctes() -> tuple[str, str]:
    g, p = ta_fixture.item_sets()
    return _values_cte("gt", ["doc_id", "item"], g), _values_cte("pred", ["doc_id", "item"], p)


def _q_ta_cer(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = spark.createDataFrame(ta_fixture.text_pairs(), _TA_TEXT_SCHEMA)
    return ta_metrics.cer(pairs, "gt", "pred")


def _ta_cer_oracle() -> str:
    return f"""
            WITH {_ta_pairs_cte()}
            SELECT ROUND(CAST(SUM(levenshtein(gt, pred)) AS DOUBLE) / SUM(greatest(length(gt), 1)), 6) AS cer,
                   ROUND(AVG(levenshtein(gt, pred) / greatest(length(gt), length(pred), 1)), 6) AS mean_norm_lev
            FROM pairs
        """


def _q_ta_set_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    g, p = ta_fixture.item_sets()
    return ta_metrics.set_prf(
        spark.createDataFrame(g, _TA_ITEM_SCHEMA), spark.createDataFrame(p, _TA_ITEM_SCHEMA)
    )


def _ta_set_prf_oracle() -> str:
    ta_gt_cte, ta_pred_cte = _ta_item_ctes()
    return f"""
            WITH {ta_gt_cte},
            {ta_pred_cte},
            g AS (SELECT DISTINCT doc_id, item FROM gt),
            p AS (SELECT DISTINCT doc_id, item FROM pred),
            j AS (SELECT COALESCE(g.doc_id, p.doc_id) AS doc_id, g.item AS gi, p.item AS pi
                  FROM g FULL OUTER JOIN p ON g.doc_id = p.doc_id AND g.item = p.item)
            SELECT doc_id,
                   CAST(SUM(CASE WHEN gi IS NOT NULL AND pi IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(SUM(CASE WHEN gi IS NULL AND pi IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(SUM(CASE WHEN gi IS NOT NULL AND pi IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fn
            FROM j GROUP BY doc_id
        """


def _q_ta_macro_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    g, p = ta_fixture.item_sets()
    return ta_metrics.macro_f1_by_tag(
        spark.createDataFrame(g, _TA_ITEM_SCHEMA), spark.createDataFrame(p, _TA_ITEM_SCHEMA)
    )


def _ta_macro_f1_oracle() -> str:
    ta_gt_cte, ta_pred_cte = _ta_item_ctes()
    return f"""
            WITH {ta_gt_cte},
            {ta_pred_cte},
            g AS (SELECT DISTINCT doc_id, item FROM gt),
            p AS (SELECT DISTINCT doc_id, item FROM pred),
            j AS (SELECT COALESCE(g.item, p.item) AS item, g.item AS gi, p.item AS pi
                  FROM g FULL OUTER JOIN p ON g.doc_id = p.doc_id AND g.item = p.item),
            per_tag AS (
              SELECT item,
                     CAST(SUM(CASE WHEN gi IS NOT NULL AND pi IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                     CAST(SUM(CASE WHEN gi IS NULL AND pi IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                     CAST(SUM(CASE WHEN gi IS NOT NULL AND pi IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS fn
              FROM j GROUP BY item)
            SELECT item, tp, fp, fn,
                   ROUND(CASE WHEN 2 * tp + fp + fn > 0
                              THEN CAST(2 AS DOUBLE) * tp / (2 * tp + fp + fn)
                              ELSE {_D0} END, 6) AS f1
            FROM per_tag
        """


def _q_ta_exact_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = spark.createDataFrame(ta_fixture.text_pairs(), _TA_TEXT_SCHEMA)
    return ta_metrics.exact_match_rate(pairs, "gt", "pred")


def _ta_exact_match_oracle() -> str:
    return f"""
            WITH {_ta_pairs_cte()}
            SELECT ROUND(AVG(CASE WHEN gt = pred THEN {_D1} ELSE {_D0} END), 6) AS exact_match,
                   COUNT(*) AS n
            FROM pairs WHERE gt IS NOT NULL AND gt != ''
        """


def _q_ta_rubric_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    g, p = ta_fixture.rubric_rows()
    return ta_metrics.rubric_mae(
        spark.createDataFrame(g, _RUBRIC_SCHEMA),
        spark.createDataFrame(p, _RUBRIC_SCHEMA),
        ["doc", "problem_uid", "criterion_id"],
    )


def _ta_rubric_mae_oracle() -> str:
    rub_g, rub_p = ta_fixture.rubric_rows()
    rub_gt_cte = _values_cte("rgt", ["doc", "problem_uid", "criterion_id", "awarded_points"], rub_g)
    rub_pred_cte = _values_cte("rpred", ["doc", "problem_uid", "criterion_id", "awarded_points"], rub_p)
    return f"""
            WITH {rub_gt_cte},
            {rub_pred_cte},
            j AS (SELECT g.awarded_points AS _gt, p.awarded_points AS _pred
                  FROM rgt g LEFT JOIN rpred p
                  ON g.doc = p.doc AND g.problem_uid = p.problem_uid AND g.criterion_id = p.criterion_id)
            SELECT ROUND(AVG(ABS(_gt - COALESCE(_pred, {_D0}))), 6) AS mae,
                   ROUND(AVG(CASE WHEN ABS(_gt - COALESCE(_pred, {_D0})) = 0 THEN {_D1} ELSE {_D0} END), 6) AS exact_rate,
                   COUNT(*) AS n
            FROM j
        """


def _q_ta_qwk(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = spark.createDataFrame(ta_fixture.label_pairs(), "t int, p int")
    return ta_metrics.quadratic_weighted_kappa(pairs, "t", "p", 4)


def _ta_qwk_oracle() -> str:
    qwk_cte = _values_cte("qpairs", ["t", "p"], ta_fixture.label_pairs())
    return f"""
            WITH {qwk_cte},
            obs AS (SELECT t AS _t, p AS _p, COUNT(*) AS o FROM qpairs GROUP BY 1, 2),
            mt AS (SELECT t AS _t, COUNT(*) AS m_t FROM qpairs GROUP BY 1),
            mp AS (SELECT p AS _p, COUNT(*) AS m_p FROM qpairs GROUP BY 1),
            grid AS (SELECT mt._t, mp._p, mt.m_t, mp.m_p FROM mt CROSS JOIN mp),
            filled AS (SELECT grid._t, grid._p, grid.m_t, grid.m_p, COALESCE(obs.o, 0) AS o
                       FROM grid LEFT JOIN obs ON grid._t = obs._t AND grid._p = obs._p),
            agg AS (SELECT
                SUM(((_t - _p) * (_t - _p)) / CAST(9 AS DOUBLE) * o) AS wo,
                SUM(((_t - _p) * (_t - _p)) / CAST(9 AS DOUBLE) * m_t * m_p / CAST({len(ta_fixture.label_pairs())} AS DOUBLE)) AS we
              FROM filled)
            SELECT ROUND(CASE WHEN we > 0 THEN {_D1} - wo / we ELSE {_D1} END, 6) AS qwk FROM agg
        """


def _q_ta_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    g, p = ta_fixture.feedback_rows()
    return ta_metrics.feedback_agreement(
        spark.createDataFrame(g, _FB_SCHEMA),
        spark.createDataFrame(p, _FB_SCHEMA),
        ["doc", "problem_uid"],
        ["specificity", "actionability", "correctness"],
    )


def _ta_feedback_agreement_oracle() -> str:
    fb_g, fb_p = ta_fixture.feedback_rows()
    fb_gt_cte = _values_cte("fgt", ["doc", "problem_uid", "specificity", "actionability", "correctness"], fb_g)
    fb_pred_cte = _values_cte("fpred", ["doc", "problem_uid", "specificity", "actionability", "correctness"], fb_p)
    return f"""
            WITH {fb_gt_cte},
            {fb_pred_cte},
            j AS (SELECT g.specificity AS gs, g.actionability AS ga, g.correctness AS gc,
                         p.specificity AS ps, p.actionability AS pa, p.correctness AS pc
                  FROM fgt g JOIN fpred p ON g.doc = p.doc AND g.problem_uid = p.problem_uid),
            s AS (
              SELECT 'specificity' AS dim, CASE WHEN gs = ps THEN {_D1} ELSE {_D0} END AS agree FROM j
              UNION ALL
              SELECT 'actionability', CASE WHEN ga = pa THEN {_D1} ELSE {_D0} END FROM j
              UNION ALL
              SELECT 'correctness', CASE WHEN gc = pc THEN {_D1} ELSE {_D0} END FROM j)
            SELECT dim, ROUND(AVG(agree), 6) AS agreement FROM s GROUP BY dim
        """


def _q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    raw = F.get_json_object("props", "$.k")
    # n_null_k counts *missing keys* (raw extract is null), matching the oracle's
    # json_extract_string IS NULL — not failed int casts, which would silently
    # diverge on non-numeric values.
    return ev.groupBy("event_type").agg(
        F.sum(raw.cast("int")).alias("sum_k"),
        F.count(F.when(raw.isNull(), 1)).alias("n_null_k"),
    )


_JSON_EXTRACT_ROLLUP_ORACLE = """
            SELECT event_type,
                   CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
                   CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k
            FROM events GROUP BY event_type
        """


_N_SPLIT = 256  # fixed so the VALUES oracle matches at every sf


def _q_split_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bbox is array<double>; the driver's canonicalizer can't hash lists, so
    # flatten to 4 nullable doubles (empty bbox -> nulls).
    out = split_pages(pages_df(spark, _N_SPLIT, seed=42))
    return out.select(
        "url",
        "pos",
        "block_idx",
        F.try_element_at("bbox", F.lit(1)).alias("x0"),
        F.try_element_at("bbox", F.lit(2)).alias("y0"),
        F.try_element_at("bbox", F.lit(3)).alias("x1"),
        F.try_element_at("bbox", F.lit(4)).alias("y1"),
        "block_text",
    )


def _split_pages_oracle() -> str:
    """Embed the pure-kernel fan-out of the same seeded fixture as VALUES."""
    from batch_doc_vqa_spark.functions.pdf_extract import split_blocks
    from batch_doc_vqa_spark.sources.pages import page_row

    rows = []
    for i in range(_N_SPLIT):
        r = page_row(42, i)
        for pos, b in enumerate(split_blocks(r["html"])):
            bb = b["bbox"] or [None] * 4
            rows.append((r["url"], pos, b["block_idx"], bb[0], bb[1], bb[2], bb[3], b["block_text"]))
    cte = _values_cte("sp", ["url", "pos", "block_idx", "x0", "y0", "x1", "y1", "block_text"], rows)
    return f"""
        WITH {cte}
        SELECT url, CAST(pos AS INT) AS pos, CAST(block_idx AS INT) AS block_idx,
               CAST(x0 AS DOUBLE) AS x0, CAST(y0 AS DOUBLE) AS y0,
               CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1, block_text
        FROM sp
    """


def _q_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over driver data: documents' text bytes stand in
    for opaque media payloads; the mapInPandas probe emits typed metadata."""
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("blob").alias("kind"),
    )
    return multimodal.probe_media(docs, "media_id", "payload", "kind")


_MEDIA_PROBE_ORACLE = """
            WITH m AS (
              SELECT CAST(doc_id AS VARCHAR) AS media_id, 'blob' AS kind,
                     strlen(text) AS n_bytes, sha256(text) AS sha
              FROM documents),
            b AS (SELECT *,
                   (instr('0123456789abcdef', substr(sha, 1, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substr(sha, 2, 1)) - 1) AS b0,
                   (instr('0123456789abcdef', substr(sha, 3, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substr(sha, 4, 1)) - 1) AS b1,
                   (instr('0123456789abcdef', substr(sha, 5, 1)) - 1) * 16
                 + (instr('0123456789abcdef', substr(sha, 6, 1)) - 1) AS b2
              FROM m)
            SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes, sha AS sha256,
                   CAST(CASE WHEN n_bytes > 0 THEN 320 + b0 ELSE 0 END AS INT) AS width,
                   CAST(CASE WHEN n_bytes > 0 THEN 240 + b1 ELSE 0 END AS INT) AS height,
                   CAST(CASE WHEN n_bytes > 0 THEN 1000 * (1 + (b2 % 30)) ELSE 0 END AS BIGINT) AS duration_ms,
                   CASE WHEN n_bytes > 0 THEN 'stub' ELSE 'empty' END AS decode_status
            FROM b
        """


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessions.session_stats(_t(spark, sf_dir, "events"))


_SESSIONIZE_EVENTS_ORACLE = """
            WITH b AS (
              SELECT user_id, ts, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ws
              FROM events
            ), brk AS (
              SELECT user_id, ts, event_id, ws,
                     CASE WHEN lag(ws) OVER w IS NULL OR ws - lag(ws) OVER w > 1800
                          THEN 1 ELSE 0 END AS is_break
              FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
              SELECT user_id, ts,
                     CAST(SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
              FROM brk)
            SELECT user_id, session_idx, MIN(ts) AS session_start,
                   MAX(ts) AS session_end, COUNT(*) AS n_events
            FROM sess GROUP BY user_id, session_idx
        """


def _docs_as_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )


def _media_features_oracle() -> str:
    """f_i = byte i of sha256 / 255, rounded 6 — bytes via hex-pair instr."""
    byte = (
        lambda i: f"((instr('0123456789abcdef', substr(sha, {2 * i + 1}, 1)) - 1) * 16"
        f" + (instr('0123456789abcdef', substr(sha, {2 * i + 2}, 1)) - 1))"
    )
    cols = ",\n                   ".join(
        f"ROUND({byte(i)} / 255.0, 6) AS f{i}" for i in range(8)
    )
    return f"""
        WITH m AS (
          SELECT CAST(doc_id AS VARCHAR) AS media_id, sha256(text) AS sha FROM documents)
        SELECT media_id,
                   {cols}
        FROM m
    """


def _q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.resize_media(_docs_as_media(spark, sf_dir), "media_id", "payload", 256, 256)


# hex-pair byte extraction as in media_probe; resize math mirrors the
# kernel expression shape exactly (same IEEE ops -> same floor)
_MEDIA_RESIZE_ORACLE = """
            WITH m AS (
              SELECT CAST(doc_id AS VARCHAR) AS media_id, sha256(text) AS sha FROM documents),
            d AS (SELECT media_id,
                   320 + (instr('0123456789abcdef', substr(sha, 1, 1)) - 1) * 16
                       + (instr('0123456789abcdef', substr(sha, 2, 1)) - 1) AS w,
                   240 + (instr('0123456789abcdef', substr(sha, 3, 1)) - 1) * 16
                       + (instr('0123456789abcdef', substr(sha, 4, 1)) - 1) AS h
              FROM m),
            s AS (SELECT *, least(1.0, 256.0 / w, 256.0 / h) AS sc FROM d)
            SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                   CAST(FLOOR(w * sc) AS INT) AS out_w,
                   CAST(FLOOR(h * sc) AS INT) AS out_h
            FROM s
        """


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.extract_features(_docs_as_media(spark, sf_dir), "media_id", "payload")


def _q_sweep_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11: condition grid × seeded trials → A17 mean-per-condition. The
    trial metric is a pure function of (condition, trial) so DuckDB mirrors
    it exactly."""
    from batch_doc_vqa_spark.plans.sweep import build_sweep_axes, condition_grid_df

    axes = build_sweep_axes(["temperature=0.0,0.4,0.8", "top_k=10,20"])
    grid = condition_grid_df(spark, axes).select("temperature", "top_k")
    trials = spark.range(4).select(F.col("id").alias("trial"))
    runs = grid.crossJoin(trials).withColumn(
        "metric",
        F.round(F.col("temperature") * 0.1 + F.col("top_k") * 0.01 + F.col("trial") * 0.001, 6),
    )
    return runs.groupBy("temperature", "top_k").agg(
        F.count(F.lit(1)).alias("n_trials"),
        F.round(F.avg("metric"), 6).alias("mean_metric"),
    )


_SWEEP_GRID_ORACLE = """
            WITH t AS (SELECT unnest([CAST(0.0 AS DOUBLE), 0.4, 0.8]) AS temperature),
            k AS (SELECT unnest([CAST(10 AS BIGINT), 20]) AS top_k),
            tr AS (SELECT unnest(range(0, 4)) AS trial),
            runs AS (
              SELECT temperature, top_k, trial,
                     ROUND(temperature * 0.1 + top_k * 0.01 + trial * 0.001, 6) AS metric
              FROM t CROSS JOIN k CROSS JOIN tr)
            SELECT temperature, top_k, COUNT(*) AS n_trials,
                   ROUND(AVG(metric), 6) AS mean_metric
            FROM runs GROUP BY temperature, top_k
        """


def _q_legacy_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: mixed-era table (some rows legacy 'ufid', some canonical) merges
    losslessly through rewrite_legacy_aliases."""
    from batch_doc_vqa_spark.operators import keys as keys_ops

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_name")).alias("ufid"),
        F.when(F.col("c_custkey") % 3 != 0, F.col("c_name")).alias("university_id"),
    )
    return keys_ops.rewrite_legacy_aliases(cust, {"ufid": "university_id"})


_LEGACY_ALIAS_REWRITE_ORACLE = """
            SELECT c_custkey,
                   COALESCE(CASE WHEN c_custkey % 3 != 0 THEN c_name END,
                            CASE WHEN c_custkey % 3 = 0 THEN c_name END) AS university_id
            FROM customer
        """


def _q_media_base64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15: binary → base64 transport encoding (reference image_utils.py:13-16)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return multimodal.base64_payloads(docs, "doc_id", "payload").select(
        "media_id", "n_bytes", "payload_b64"
    )


_MEDIA_BASE64_ORACLE = """
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(octet_length(encode(text)) AS INT) AS n_bytes,
                   to_base64(encode(text)) AS payload_b64
            FROM documents
        """


def _q_best_supplier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: best-value highlight — flag per-nation max-acctbal suppliers."""
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey", "s_acctbal")
    return analytics.best_value_flags(sup, "s_nationkey", "s_acctbal")


_BEST_SUPPLIER_FLAGS_ORACLE = """
            SELECT s_suppkey, s_nationkey, s_acctbal,
                   s_acctbal = MAX(s_acctbal) OVER (PARTITION BY s_nationkey) AS is_best
            FROM supplier
        """


def _q_publish_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: validation-gated publish — reject-reason rollup over a stream of
    results with deterministically injected dirt (NaN values, bad JSON, PII)."""
    from batch_doc_vqa_spark.plans.publish import publish_reject_reason

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn(
            "value",
            F.when(F.col("event_id") % 97 == 0, F.lit(float("nan"))).otherwise(F.col("value")),
        )
        .withColumn(
            "props",
            F.when(F.col("event_id") % 89 == 0, F.lit("{not json")).otherwise(F.col("props")),
        )
        .withColumn(
            "note",
            F.when(
                F.col("event_id") % 83 == 0,
                F.lit("contact me at someone@example.com please"),
            ).otherwise(F.lit("clean note")),
        )
    )
    reason = publish_reject_reason(text_col="note", numeric_cols=("value",), json_cols=("props",))
    return (
        ev.withColumn("reason", F.coalesce(reason, F.lit("ok")))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# mirrors plans/publish.publish_reject_reason rule order exactly:
# empty -> pii -> non-finite -> bad json, first match wins
_PUBLISH_GATE_ORACLE = """
            WITH ev AS (
              SELECT event_id,
                CASE WHEN event_id % 97 = 0 THEN CAST('nan' AS DOUBLE) ELSE value END AS value,
                CASE WHEN event_id % 89 = 0 THEN '{not json' ELSE props END AS props,
                CASE WHEN event_id % 83 = 0 THEN 'contact me at someone@example.com please'
                     ELSE 'clean note' END AS note
              FROM events),
            tagged AS (
              SELECT CASE
                WHEN note IS NULL OR trim(note) = '' THEN 'empty'
                WHEN regexp_matches(note, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') THEN 'pii_email'
                WHEN value IS NOT NULL AND (isnan(value) OR isinf(value)) THEN 'non_finite'
                WHEN props IS NOT NULL AND NOT json_valid(props) THEN 'bad_json'
                ELSE 'ok' END AS reason
              FROM ev)
            SELECT reason, COUNT(*) AS n FROM tagged GROUP BY reason
        """


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document → training-chunk fan-out: 64-token windows, 16-token overlap,
    in-plan sequence+slice (no Python, no shuffle)."""
    from batch_doc_vqa_spark.operators import chunking

    return chunking.chunk_documents(_t(spark, sf_dir, "documents"), "doc_id", "text", 64, 16)


# window starts are 1+k*stride (k = 0..ceil((n-chunk)/stride)); the
# chunk index is recovered arithmetically as (start-1)/stride and
# n_tokens as least(chunk, n-start+1) — no re-tokenization needed
_CHUNK_DOCUMENTS_ORACLE = r"""
            WITH t AS (
              SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS tk
              FROM documents
            ), b AS (
              SELECT doc_id, tk, len(tk) AS n FROM t
            ), st AS (
              SELECT doc_id, tk, n,
                CASE WHEN n > 0
                     THEN range(1, 2 + greatest(CAST(ceil((n - 64.0) / 48) AS INT), 0) * 48, 48)
                     ELSE CAST([] AS BIGINT[]) END AS starts
              FROM b
            ), ex AS (
              SELECT doc_id, n, tk, unnest(starts) AS s FROM st
            )
            SELECT doc_id,
                   CAST((s - 1) // 48 AS INT) AS chunk_idx,
                   CAST(least(64, n - s + 1) AS INT) AS n_tokens,
                   array_to_string(list_slice(tk, CAST(s AS INT), CAST(s + 63 AS INT)), ' ') AS chunk_text
            FROM ex
        """


def _q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-keyed Bernoulli sample (partition/rerun-stable, never rand());
    md5 base hash so DuckDB reproduces membership exactly."""
    from batch_doc_vqa_spark.operators import chunking

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return chunking.deterministic_sample(docs, "doc_id", 0.25, seed=3, base_hash="md5")


_DETERMINISTIC_SAMPLE_ORACLE = """
            SELECT doc_id, n_chars FROM documents
            WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#3'), 1, 15)) AS BIGINT)
                  % 1048576 < 262144
        """


def _q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rules-style corpus gate composed from lang-ID + quality +
    repetition — first failed rule wins, nothing silently dropped."""
    return textstats.corpus_filter(_t(spark, sf_dir, "documents"), "doc_id", "text")


# the corpus gate composes three already-oracled operators — build its
# oracle FROM their SQL so the composition can never drift from the parts
def _corpus_filter_oracle() -> str:
    return f"""
        WITH q AS (SELECT * FROM ({_doc_quality_oracle()}) qq),
             lg AS (SELECT * FROM ({_lang_id_oracle()}) ll),
             rep AS (SELECT * FROM ({_REPETITION_SCORES_ORACLE}) rr),
             j AS (
               SELECT q.doc_id, lg.lang_guess, q.n_tokens, q.quality_score,
                      rep.repetition_score,
                      CASE WHEN lg.lang_guess != 'en' THEN 'lang'
                           WHEN q.n_tokens < 20 THEN 'too_short'
                           WHEN q.quality_score < 0.5 THEN 'low_quality'
                           WHEN rep.is_repetitive THEN 'repetitive'
                           ELSE 'ok' END AS reason
               FROM q JOIN lg USING (doc_id) JOIN rep USING (doc_id))
        SELECT doc_id, lang_guess, n_tokens, quality_score, repetition_score,
               reason, reason = 'ok' AS keep
        FROM j
    """


_INTROS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi",
    "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen",
    "north south east west up down left right red green blue yellow black white gray pink",
)


# window hashes → shared-by-≥10-docs filter → run starts: the CTE chain both
# substring-dedup span oracles below build on
_SPAN_WINDOW_CTES = """w AS (
              SELECT doc_id, u.i AS pos,
                CAST(concat('0x', substr(md5(array_to_string(list_slice(tk, CAST(u.i AS INT), CAST(u.i + 7 AS INT)), ' ')), 1, 15)) AS BIGINT) AS h
              FROM b, unnest(range(1, greatest(n - 7, 0) + 1)) u(i)
            ), shared AS (
              SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY h)
              WHERE nd >= 10
            ), dup AS (
              SELECT doc_id, pos FROM w JOIN shared USING (h)
            ), runs AS (
              SELECT doc_id, pos,
                CASE WHEN COALESCE(pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 9) > 8
                     THEN 1 ELSE 0 END AS nw
              FROM dup"""


def _q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup (Lee et al. 2022): shared 16-token intros
    planted on every doc surface as maximal duplicated spans with positions;
    unique body windows stay below min_docs."""
    docs = _tp(spark, sf_dir, "documents")
    intro = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_INTROS[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_INTROS[1]))
        .otherwise(F.lit(_INTROS[2]))
    )
    pages = docs.select("doc_id", F.concat(intro, F.lit(" "), F.col("text")).alias("text"))
    return dedup.duplicate_spans(pages, "doc_id", "text", k=8, min_docs=10, base_hash="md5")


# windowed-hash mirror of the suffix-array substring dedup: k=8-token
# window hashes (portable md5), shared-by-≥10-docs filter, interval
# merge via lag + running sum — positions are 1-based inclusive
def _duplicate_spans_oracle() -> str:
    return rf"""
            WITH d AS (
              SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN '{_INTROS[0]}'
                     WHEN doc_id % 3 = 1 THEN '{_INTROS[1]}'
                     ELSE '{_INTROS[2]}' END || ' ' || text AS text
              FROM documents
            ), t AS (
              SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS tk
              FROM d
            ), b AS (
              SELECT doc_id, tk, len(tk) AS n FROM t
            ), {_SPAN_WINDOW_CTES}
            ), spans AS (
              SELECT doc_id, pos,
                SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sp
              FROM runs
            )
            SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
                   CAST(MAX(pos) + 7 AS INT) AS span_end,
                   COUNT(*) AS n_windows
            FROM spans GROUP BY doc_id, sp
        """


def _q_dedup_spans_removed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup REMOVAL: the planted shared intros are sliced out of
    every document's token stream; md5 proves byte-exact cleaning (docs with
    no spans pass through byte-identical)."""
    docs = _tp(spark, sf_dir, "documents")
    intro = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(_INTROS[0]))
        .when(F.col("doc_id") % 3 == 1, F.lit(_INTROS[1]))
        .otherwise(F.lit(_INTROS[2]))
    )
    pages = docs.select("doc_id", F.concat(intro, F.lit(" "), F.col("text")).alias("text"))
    spans = dedup.duplicate_spans(pages, "doc_id", "text", k=8, min_docs=10, base_hash="md5")
    out = dedup.remove_duplicate_spans(pages, spans, "doc_id", "text")
    return out.select("doc_id", F.md5(F.encode("text", "utf-8")).alias("text_md5"))


# removal mirror: same span chain, then an index-aware list_filter
# (DuckDB (x,i) lambdas are 1-based like the span positions) drops
# every token inside a span; spanless docs pass through verbatim
def _dedup_spans_removed_oracle() -> str:
    return rf"""
            WITH d AS (
              SELECT doc_id,
                CASE WHEN doc_id % 3 = 0 THEN '{_INTROS[0]}'
                     WHEN doc_id % 3 = 1 THEN '{_INTROS[1]}'
                     ELSE '{_INTROS[2]}' END || ' ' || text AS text
              FROM documents
            ), t AS (
              SELECT doc_id, text, list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS tk
              FROM d
            ), b AS (
              SELECT doc_id, text, tk, len(tk) AS n FROM t
            ), {_SPAN_WINDOW_CTES}
            ), spansq AS (
              SELECT doc_id, pos,
                SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS sp
              FROM runs
            ), agg AS (
              SELECT doc_id, list([st, en]) AS arr FROM (
                SELECT doc_id, sp, MIN(pos) AS st, MAX(pos) + 7 AS en
                FROM spansq GROUP BY doc_id, sp) q
              GROUP BY doc_id
            )
            SELECT b.doc_id,
                   md5(CASE WHEN a.arr IS NULL THEN b.text
                            ELSE array_to_string(list_filter(b.tk,
                                (x, i) -> len(list_filter(a.arr, s -> i >= s[1] AND i <= s[2])) = 0), ' ')
                       END) AS text_md5
            FROM b LEFT JOIN agg a ON a.doc_id = b.doc_id
        """


def _q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data flow as ONE plan: quality/lang/repetition
    gate → exact-dedup keep-one → token-window chunking → deterministic
    sampling. Every stage is individually oracled; this query proves the
    composition a corpus pipeline actually ships."""
    from batch_doc_vqa_spark.operators import chunking

    docs = _t(spark, sf_dir, "documents")
    kept = textstats.corpus_filter(docs, "doc_id", "text").filter("keep").select("doc_id")
    canon = (
        dedup.exact_dedup(docs, "doc_id", "text")
        .select(F.col("canonical_id").alias("doc_id"))
        .distinct()
    )
    base = docs.join(kept, "doc_id").join(canon, "doc_id").select("doc_id", "text")
    chunks = chunking.chunk_documents(base, "doc_id", "text", 64, 16).withColumn(
        "_sk", F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("chunk_idx").cast("string"))
    )
    sampled = chunking.deterministic_sample(chunks, "_sk", 0.5, seed=9, base_hash="md5")
    return sampled.select(
        "doc_id", "chunk_idx", "n_tokens",
        F.md5(F.encode("chunk_text", "utf-8")).alias("chunk_md5"),
    )


# end-to-end pipeline oracle: corpus gate (reused verbatim) → exact-dedup
# keep-one → 64/16 token windows → md5-keyed 50% sample
def _training_pipeline_oracle() -> str:
    return rf"""
        WITH flt AS (
          SELECT doc_id FROM ({_corpus_filter_oracle()}) cf WHERE keep
        ), canon AS (
          SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ), base AS (
          SELECT d.doc_id, d.text FROM documents d
          JOIN flt USING (doc_id) JOIN canon USING (doc_id)
        ), t AS (
          SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS tk
          FROM base
        ), b AS (
          SELECT doc_id, tk, len(tk) AS n FROM t
        ), st AS (
          SELECT doc_id, tk, n,
            CASE WHEN n > 0
                 THEN range(1, 2 + greatest(CAST(ceil((n - 64.0) / 48) AS INT), 0) * 48, 48)
                 ELSE CAST([] AS BIGINT[]) END AS starts
          FROM b
        ), ex AS (
          SELECT doc_id, n, tk, unnest(starts) AS s FROM st
        ), ch AS (
          SELECT doc_id, CAST((s - 1) // 48 AS INT) AS chunk_idx,
                 CAST(least(64, n - s + 1) AS INT) AS n_tokens,
                 array_to_string(list_slice(tk, CAST(s AS INT), CAST(s + 63 AS INT)), ' ') AS chunk_text
          FROM ex
        )
        SELECT doc_id, chunk_idx, n_tokens, md5(chunk_text) AS chunk_md5
        FROM ch
        WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(chunk_idx AS VARCHAR) || '#9'), 1, 15)) AS BIGINT)
              % 1048576 < 524288
    """


def _q_training_recipe_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 end-to-end recipe as ONE plan: PII-redact a dirty corpus
    → drop benchmark leaks (decontaminate) → exact-dedup keep-one (identical
    post-redaction texts collapse) → token-window chunking → pack into
    fixed-length training sequences (distributed prefix sum). Every stage is
    individually oracled; this proves the composition."""
    from batch_doc_vqa_spark.operators import chunking, decontam
    from batch_doc_vqa_spark.operators.packing import pack_sequences
    from batch_doc_vqa_spark.operators.pii import redact_pii

    corpus = _pii_dirty_docs(spark, sf_dir)
    # localCheckpoint: the redacted frame feeds THREE consumers (decontam
    # n-gram explode, dedup hash, chunking) — materialize the 25-regex
    # cascade once instead of re-running it per subtree
    red = redact_pii(corpus, "doc_id", "text").select("doc_id", "text").localCheckpoint(
        eager=False  # lazy: materializes once inside the final job instead
        # of a separate construction-time barrier job (r7)
    )
    _, bench = _bench_fixture(spark, sf_dir)  # eval set derives from CLEAN docs
    keep = decontam.decontaminate(
        red, "doc_id", "text", bench, "bench_id", "bench_text",
        n=8, threshold=0.8, base_hash="md5",
    ).localCheckpoint(eager=False)
    canon = (
        dedup.exact_dedup(keep, "doc_id", "text")
        .select(F.col("canonical_id").alias("doc_id"))
        .distinct()
    )
    base = keep.join(canon, "doc_id").select("doc_id", "text")
    chunks = chunking.chunk_documents(base, "doc_id", "text", 64, 16)
    keyed = chunks.withColumn("_k", F.col("doc_id") * 4096 + F.col("chunk_idx"))
    packed = pack_sequences(keyed, "_k", "n_tokens", 128, block_size=64 * 4096)
    return packed.select(
        "doc_id", "chunk_idx", "n_tokens",
        F.md5(F.encode("chunk_text", "utf-8")).alias("chunk_md5"),
        "start_offset", "seq_id", "crosses_boundary",
    )


# round-4 recipe: PII redaction → decontamination → exact-dedup keep-one
# → 64/16 chunking → concat-and-cut packing; composed from the SAME
# generated/parameterized CTE builders the per-stage oracles use
def _training_recipe_v2_oracle() -> str:
    from batch_doc_vqa_spark.operators.pii import PII_PATTERNS
    chain, final_rel, _ = _pii_chain_ctes("dirty")
    return rf"""
        WITH {_PII_DIRTY_CTE},
        {chain},
        red AS (SELECT doc_id, t{len(PII_PATTERNS)} AS text FROM {final_rel}),
        {_decontam_ctes("red")},
        flagged AS (SELECT DISTINCT doc_id FROM contam WHERE coverage >= 0.8),
        keep AS (
            SELECT r.doc_id, r.text FROM red r ANTI JOIN flagged USING (doc_id)
        ), canon AS (
            SELECT MIN(doc_id) AS doc_id FROM keep GROUP BY md5(text)
        ), base AS (
            SELECT k.doc_id, k.text FROM keep k JOIN canon USING (doc_id)
        ), ct AS (
            SELECT doc_id, list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS tk
            FROM base
        ), cb AS (
            SELECT doc_id, tk, len(tk) AS n FROM ct
        ), cst AS (
            SELECT doc_id, tk, n,
              CASE WHEN n > 0
                   THEN range(1, 2 + greatest(CAST(ceil((n - 64.0) / 48) AS INT), 0) * 48, 48)
                   ELSE CAST([] AS BIGINT[]) END AS starts
            FROM cb
        ), cex AS (
            SELECT doc_id, n, tk, unnest(starts) AS s FROM cst
        ), ch AS (
            SELECT doc_id, CAST((s - 1) // 48 AS INT) AS chunk_idx,
                   CAST(least(64, n - s + 1) AS INT) AS n_tokens,
                   array_to_string(list_slice(tk, CAST(s AS INT), CAST(s + 63 AS INT)), ' ') AS chunk_text
            FROM cex
        ), keyed AS (
            SELECT doc_id, chunk_idx, n_tokens, chunk_text,
                   doc_id * 4096 + chunk_idx AS k
            FROM ch
        ), off AS (
            SELECT doc_id, chunk_idx, n_tokens, chunk_text,
                   CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                       AS start_offset
            FROM keyed
        )
        SELECT doc_id, chunk_idx, n_tokens, md5(chunk_text) AS chunk_md5,
               start_offset,
               CAST((start_offset - (start_offset % 128)) // 128 AS BIGINT) AS seq_id,
               CAST(((start_offset + GREATEST(n_tokens - 1, 0))
                     - ((start_offset + GREATEST(n_tokens - 1, 0)) % 128)) // 128 AS BIGINT)
                   > CAST((start_offset - (start_offset % 128)) // 128 AS BIGINT)
                   AS crosses_boundary
        FROM off
    """


def _q_training_recipe_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recipe v2 + the round-6 LEARNED quality gate: PII-redact → drop
    benchmark leaks → score every survivor with the trained hashed-BoW
    classifier and keep it with probability equal to its score (GPT-3
    importance resampling, deterministic md5 draw) → exact-dedup keep-one →
    chunk → pack. The gate slots between decontamination and dedup exactly
    where the production recipe puts it (filter before the expensive
    pairwise stages). Oracle: the v2 SQL with the classifier CTE chain +
    draw-gated qkeep inserted by targeted rewrite — the two recipes share
    every other line and cannot drift."""
    from batch_doc_vqa_spark.operators import chunking, decontam
    from batch_doc_vqa_spark.operators.chunking import score_resample
    from batch_doc_vqa_spark.operators.packing import pack_sequences
    from batch_doc_vqa_spark.operators.pii import redact_pii
    from batch_doc_vqa_spark.sources.clf_fixture import CLF_BUCKETS, trained_quality_model

    corpus = _pii_dirty_docs(spark, sf_dir)
    red = redact_pii(corpus, "doc_id", "text").select("doc_id", "text").localCheckpoint(
        eager=False  # lazy (see v2)
    )
    _, bench = _bench_fixture(spark, sf_dir)
    keep = decontam.decontaminate(
        red, "doc_id", "text", bench, "bench_id", "bench_text",
        n=8, threshold=0.8, base_hash="md5",
    ).localCheckpoint(eager=False)
    bias, weights = trained_quality_model()
    scored = textstats.classifier_score(keep, "doc_id", "text", bias, weights, CLF_BUCKETS)
    gate = score_resample(scored, "doc_id", "clf_score", seed=11, base_hash="md5")
    qkeep = keep.join(gate.select("doc_id"), "doc_id").select("doc_id", "text")
    canon = (
        dedup.exact_dedup(qkeep, "doc_id", "text")
        .select(F.col("canonical_id").alias("doc_id"))
        .distinct()
    )
    base = qkeep.join(canon, "doc_id").select("doc_id", "text")
    chunks = chunking.chunk_documents(base, "doc_id", "text", 64, 16)
    keyed = chunks.withColumn("_k", F.col("doc_id") * 4096 + F.col("chunk_idx"))
    packed = pack_sequences(keyed, "_k", "n_tokens", 128, block_size=64 * 4096)
    return packed.select(
        "doc_id", "chunk_idx", "n_tokens",
        F.md5(F.encode("chunk_text", "utf-8")).alias("chunk_md5"),
        "start_offset", "seq_id", "crosses_boundary",
    )


# recipe v3 = recipe v2 + the learned-quality gate between decontam and
# dedup: targeted rewrite of the v2 SQL (classifier CTE chain over the
# kept docs + draw-gated qkeep), so every other line is shared verbatim
# and the two recipes cannot drift; asserts fail loudly on reshape
def _training_recipe_v3_oracle() -> str:
    v2 = _training_recipe_v2_oracle()
    gate_old = (
        "), canon AS (\n"
        "            SELECT MIN(doc_id) AS doc_id FROM keep GROUP BY md5(text)\n"
        "        ), base AS (\n"
        "            SELECT k.doc_id, k.text FROM keep k JOIN canon USING (doc_id)\n"
    )
    assert v2.count(gate_old) == 1, "recipe v2 oracle reshaped"
    return v2.replace(
        gate_old,
        "), " + _classifier_ctes("keep") + ",\n"
        "        qkeep AS (\n"
        "            SELECT k.doc_id, k.text FROM keep k JOIN clf USING (doc_id)\n"
        f"            WHERE {_draw_sql(11)} < clf.clf_score\n"
        "        ), canon AS (\n"
        "            SELECT MIN(doc_id) AS doc_id FROM qkeep GROUP BY md5(text)\n"
        "        ), base AS (\n"
        "            SELECT k.doc_id, k.text FROM qkeep k JOIN canon USING (doc_id)\n",
    )


def _q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup over deterministically dirtied URLs: tracking
    params, fragments, case, double slashes and trailing slashes collapse so
    the messy and clean variants of a page group together."""
    from batch_doc_vqa_spark.operators import webclean

    cust = _t(spark, sf_dir, "customer")
    p = F.floor(F.col("c_custkey") / 2).cast("long")
    ps, ms = p.cast("string"), (p % 7).cast("string")
    dirty = F.concat(
        F.lit("https://Site"), ms, F.lit(".Example.org/a//b/page-"), ps,
        F.lit("/?utm_source=news&x="), ps, F.lit("#top"),
    )
    clean = F.concat(
        F.lit("https://site"), ms, F.lit(".example.org/a/b/page-"), ps, F.lit("?x="), ps
    )
    urls = cust.select(F.when(F.col("c_custkey") % 2 == 0, dirty).otherwise(clean).alias("url"))
    return webclean.url_dedup(urls, "url")


# the canonical form is a pure function of c_custkey, so the oracle
# reconstructs it arithmetically and groups — value-checking the whole
# canonicalization (case, port, fragment, tracking params, slashes)
_URL_DEDUP_ORACLE = """
            WITH c AS (
              SELECT c_custkey AS k, CAST(c_custkey // 2 AS BIGINT) AS p FROM customer
            ), urls AS (
              SELECT p,
                CASE WHEN k % 2 = 0
                     THEN 'https://Site' || (p % 7) || '.Example.org/a//b/page-' || p || '/?utm_source=news&x=' || p || '#top'
                     ELSE 'https://site' || (p % 7) || '.example.org/a/b/page-' || p || '?x=' || p
                END AS url
              FROM c
            ), canon AS (
              SELECT 'https://site' || (p % 7) || '.example.org/a/b/page-' || p || '?x=' || p AS canonical_url,
                     url
              FROM urls
            )
            SELECT canonical_url, MIN(url) AS canonical_id, COUNT(*) AS n_dups
            FROM canon GROUP BY canonical_url
        """


def _q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style per-host repeated-line detection: injected
    cookie-banner + footer lines (and any naturally duplicated doc bodies)
    surface as boilerplate; unique body lines stay below min_pages."""
    from batch_doc_vqa_spark.operators import webclean

    return webclean.boilerplate_lines(
        _dirty_pages(spark, sf_dir), "host", "text", min_pages=3
    ).select("host", "line", "n_pages")


_BOILERPLATE_LINES_ORACLE = """
            WITH d AS (
              SELECT 'h' || (doc_id % 5) AS host,
                     'cookie notice for h' || (doc_id % 5) || chr(10) || text
                       || chr(10) || 'all rights reserved' AS text
              FROM documents
            ), lines AS (
              SELECT host,
                     unnest(list_distinct(list_filter(string_split(text, chr(10)), x -> trim(x) != ''))) AS line
              FROM d
            )
            SELECT host, line, COUNT(*) AS n_pages
            FROM lines GROUP BY 1, 2 HAVING COUNT(*) >= 3
        """


def _dirty_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + injected per-host cookie/footer boilerplate (shared by the
    boilerplate detection and removal queries)."""
    docs = _t(spark, sf_dir, "documents")
    host = F.concat(F.lit("h"), (F.col("doc_id") % 5).cast("string"))
    text = F.concat(
        F.lit("cookie notice for "), host, F.lit("\n"),
        F.col("text"), F.lit("\nall rights reserved"),
    )
    return docs.select("doc_id", host.alias("host"), text.alias("text"))


def _q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal op a pipeline actually ships: per-host denylist joined
    back, line arrays filtered in place — md5 proves byte-exact cleaning."""
    from batch_doc_vqa_spark.operators import webclean

    out = webclean.strip_boilerplate_lines(_dirty_pages(spark, sf_dir), "host", "text", 3)
    return out.select("doc_id", "host", F.md5(F.encode("text", "utf-8")).alias("text_md5"))


# removal mirror: same denylist CTE, lines filtered in place, md5 of
# the cleaned text proves byte-exact equality with the Spark op
_STRIP_BOILERPLATE_ORACLE = """
            WITH d AS (
              SELECT doc_id, 'h' || (doc_id % 5) AS host,
                     'cookie notice for h' || (doc_id % 5) || chr(10) || text
                       || chr(10) || 'all rights reserved' AS text
              FROM documents
            ), lines AS (
              SELECT host,
                     unnest(list_distinct(list_filter(string_split(text, chr(10)), x -> trim(x) != ''))) AS line
              FROM d
            ), deny AS (
              SELECT host, line FROM lines GROUP BY 1, 2 HAVING COUNT(*) >= 3
            ), dl AS (
              SELECT host, list(line) AS arr FROM deny GROUP BY host
            )
            SELECT d.doc_id, d.host,
                   md5(array_to_string(list_filter(string_split(d.text, chr(10)),
                       ln -> dl.arr IS NULL OR NOT list_contains(dl.arr, ln)), chr(10))) AS text_md5
            FROM d LEFT JOIN dl USING (host)
        """


_N_MEDIA = 200  # fixed so the VALUES oracle matches at every sf


def _q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode (no codec libs): genuine PNG/WAV payloads decode to
    real dimensions/duration + content features (pixel stats, RMS/zero-cross);
    unrecognized blobs fall back to the stub with decode_status='stub'."""
    from batch_doc_vqa_spark.sources import media_fixture

    media = media_fixture.media_df(spark, _N_MEDIA, seed=42)
    return multimodal.decode_media(media, "media_id", "payload", "kind")


def _media_decode_oracle() -> str:
    """Embed the pure-kernel decode of the same seeded media as VALUES."""
    from batch_doc_vqa_spark.operators.multimodal import decode_media_kernel
    from batch_doc_vqa_spark.sources.media_fixture import media_row

    rows = []
    for i in range(_N_MEDIA):
        r = media_row(42, i)
        k = decode_media_kernel(r["payload"], r["kind"])
        rows.append(
            (r["media_id"], k["kind"], k["width"], k["height"], k["duration_ms"],
             k["decode_status"], *[k[f"f{j}"] for j in range(8)])
        )
    cols = ["media_id", "kind", "width", "height", "duration_ms", "decode_status"] + [
        f"f{j}" for j in range(8)
    ]
    cte = _values_cte("mdec", cols, rows)
    fcols = ", ".join(f"CAST(f{j} AS DOUBLE) AS f{j}" for j in range(8))
    return f"""
        WITH {cte}
        SELECT CAST(media_id AS VARCHAR) AS media_id, kind,
               CAST(width AS INT) AS width, CAST(height AS INT) AS height,
               CAST(duration_ms AS BIGINT) AS duration_ms, decode_status,
               {fcols}
        FROM mdec
    """


_N_PDF = 160  # fixed so the VALUES oracle matches at every sf


def _q_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-%PDF- corpus through the SAME extract UDF as HTML/SPDF: the
    dispatch is payload-magic-driven, so this row set proves binary payloads
    either extract their text layer byte-identically or fail loudly
    (status='unsupported_format') — never HTML-tokenized garbage."""
    from batch_doc_vqa_spark.sources import pdf_fixture

    docs = pdf_fixture.pdfs_df(spark, _N_PDF, seed=42)
    return docs.withColumn("_ex", extract_udf(F.col("pdf"))).select(
        "doc_id",
        F.col("_ex.status").alias("status"),
        F.length("_ex.text").alias("n_chars"),
        F.size("_ex.spans").alias("n_spans"),
        F.md5(F.encode("_ex.text", "utf-8")).alias("text_md5"),
    )


def _pdf_text_oracle() -> str:
    """Embed the pure-kernel extraction of the same seeded PDFs as VALUES."""
    import hashlib as _hl

    from batch_doc_vqa_spark.functions import extract_payload
    from batch_doc_vqa_spark.sources.pdf_fixture import pdf_row

    rows = []
    for i in range(_N_PDF):
        r = pdf_row(42, i)
        ex = extract_payload(r["pdf"])
        rows.append(
            (
                r["doc_id"],
                ex.status,
                len(ex.text or ""),
                len(ex.spans),
                _hl.md5((ex.text or "").encode("utf-8")).hexdigest(),
            )
        )
    cte = _values_cte("px", ["doc_id", "status", "n_chars", "n_spans", "text_md5"], rows)
    return f"""
        WITH {cte}
        SELECT CAST(doc_id AS BIGINT) AS doc_id, status, CAST(n_chars AS INT) AS n_chars,
               CAST(n_spans AS INT) AS n_spans, text_md5
        FROM px
    """


def _validate_fixture(spark: SparkSession, sf_dir: str):
    """Deterministically dirtied frame + rules exercising the FULL ladder:
    pattern, type, required, enum, minimum/maximum, maxLength, and one level
    of nested-object required-ness (Draft 2020-12 subset, VERDICT r3 #4).
    Dirt conditions are modulus tests on c_custkey and every raw value is
    integer-derived (no float→string repr in the transport strings), so the
    DuckDB oracle derives identical rows."""
    from batch_doc_vqa_spark.plans.validate import FieldRule

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    id8 = F.lpad(k.cast("string"), 8, "0")
    grade_clean = F.element_at(
        F.array(F.lit("A"), F.lit("B"), F.lit("C"), F.lit("D"), F.lit("F")),
        (k % 5 + 1).cast("int"),
    )
    meta_clean = F.format_string('{"id": %d, "ts": "t"}', k)
    dirty = cust.select(
        "c_custkey",
        F.when(k % 7 == 0, F.concat(F.lit("X"), id8)).otherwise(id8).alias("student_id"),
        F.when(k % 11 == 0, F.lit("n/a")).otherwise((k % 1000).cast("string")).alias("score"),
        F.when(k % 13 == 0, F.lit("")).otherwise(F.col("c_name")).alias("name"),
        F.when(k % 17 == 0, F.lit("Z")).otherwise(grade_clean).alias("grade"),
        (k % 200 - 50).cast("string").alias("pct"),
        F.repeat(F.lit("ab"), (k % 15 + 4).cast("int")).alias("comment_short"),
        F.when(k % 19 == 0, F.lit('{"id": 1}'))
        .when(k % 23 == 0, F.lit("{broken"))
        .otherwise(meta_clean)
        .alias("meta"),
        F.when(k % 29 == 0, F.lit("[]"))
        .when(k % 31 == 0, F.lit('["a","b","c","d","e","f"]'))
        .when(k % 41 == 0, F.lit('{"not":"array"}'))
        .otherwise(F.lit('["t1","t2"]'))
        .alias("tags"),
        # round 5 (VERDICT r4 #6): anyOf / oneOf composition + multi-level
        # nested paths
        F.when(k % 43 == 0, F.lit("bad!"))
        .when(k % 2 == 0, F.format_string("u%d@ex.com", k))
        .otherwise(id8)
        .alias("contact"),
        F.when(k % 37 == 0, F.lit("1234"))   # matches BOTH oneOf branches
        .when(k % 47 == 0, F.lit("abc"))     # matches neither
        .otherwise(F.lit("123456"))          # exactly one
        .alias("payload"),
        F.when(k % 53 == 0, F.lit('{"user": {"address": {}, "age": 30}}'))
        .when(k % 59 == 0, F.lit('{"user": {"address": {"city": "ny"}, "age": "x"}}'))
        .otherwise(F.lit('{"user": {"address": {"city": "ny"}, "age": 30}}'))
        .alias("profile"),
        F.when(k % 61 == 0, F.lit("not-a-time"))
        .otherwise(F.lit("2024-03-15T10:30:00Z"))
        .alias("event_ts"),
        # round 6: allOf / not / if-then-else / items long tail
        F.when(k % 67 == 0, F.concat(F.lit("x"), id8))
        .when(k % 71 == 0, F.lit("ABCDEFGH"))
        .otherwise(F.lit("A1"))
        .alias("sku"),
        F.when(k % 73 == 0, F.lit("reserved_name")).otherwise(F.lit("userx")).alias("alias"),
        F.when(k % 79 == 0, F.lit("nxx"))
        .when(k % 83 == 0, F.lit("abcdef"))
        .when(k % 89 == 0, F.lit("n42"))
        .otherwise(F.lit("ok"))
        .alias("mode_val"),
        F.when(k % 97 == 0, F.lit('[1, "x", 3]'))
        .when(k % 101 == 0, F.lit("[]"))
        .otherwise(F.lit("[1, 2]"))
        .alias("nums"),
    )
    rules = [
        FieldRule("student_id", "string", r"^[0-9]{8}$", required=True),
        FieldRule("score", "double"),
        FieldRule("name", "string", required=True),
        FieldRule("grade", enum=("A", "B", "C", "D", "F")),
        FieldRule("pct", "double", minimum=0.0, maximum=100.0),
        FieldRule("comment_short", max_length=20),
        FieldRule("meta", required_keys=("id", "ts")),
        FieldRule("tags", min_items=1, max_items=5),
        FieldRule("contact", any_of=(
            FieldRule("contact", pattern=r"^u[0-9]+@ex\.com$"),
            FieldRule("contact", pattern=r"^[0-9]{8}$"),
        )),
        FieldRule("payload", one_of=(
            FieldRule("payload", pattern=r"^[0-9]+$"),
            FieldRule("payload", pattern=r"^[0-9]{4}$"),
        )),
        FieldRule("profile", nested=(
            ("user.address.city", FieldRule("city", required=True)),
            ("user.age", FieldRule("age", dtype="bigint")),
        )),
        FieldRule("event_ts", format="date-time"),
        FieldRule("sku", all_of=(
            FieldRule("sku", pattern=r"^[A-Z]"),
            FieldRule("sku", max_length=6),
        )),
        FieldRule("alias", not_=FieldRule("alias", pattern=r"^reserved")),
        FieldRule("mode_val", if_then_else=(
            FieldRule("mode_val", pattern=r"^n"),
            FieldRule("mode_val", pattern=r"^n[0-9]+$"),
            FieldRule("mode_val", max_length=3),
        )),
        FieldRule("nums", items=FieldRule("nums", dtype="bigint"), min_items=1),
    ]
    return dirty, rules


_VALIDATE_OUT_COLS = [
    "c_custkey", "student_id", "score", "name", "grade", "pct",
    "comment_short", "meta", "tags", "contact", "payload", "profile",
    "event_ts", "sku", "alias", "mode_val", "nums", "first_violation", "valid",
]

# Shared CTE body for the validate_coerce / validate_strict oracles: the
# dirty raw fields (same integer-derived exprs as _validate_fixture) plus one
# violation label per rule, in ladder order (required → type → enum →
# minimum → maximum → maxLength → pattern → required.<key>).
_VALIDATE_ORACLE_BASE = """
    SELECT *,
           CASE WHEN c_custkey % 7 = 0 THEN 'student_id:pattern' END AS v1,
           CASE WHEN c_custkey % 11 = 0 THEN 'score:type' END AS v2,
           CASE WHEN c_custkey % 13 = 0 THEN 'name:required' END AS v3,
           CASE WHEN c_custkey % 17 = 0 THEN 'grade:enum' END AS v4,
           CASE WHEN c_custkey % 200 < 50 THEN 'pct:minimum'
                WHEN c_custkey % 200 > 150 THEN 'pct:maximum' END AS v5,
           CASE WHEN c_custkey % 15 > 6 THEN 'comment_short:maxLength' END AS v6,
           CASE WHEN c_custkey % 19 = 0 THEN 'meta:required.ts'
                WHEN c_custkey % 23 = 0 THEN 'meta:required.id' END AS v7,
           CASE WHEN c_custkey % 29 = 0 THEN 'tags:minItems'
                WHEN c_custkey % 31 = 0 THEN 'tags:maxItems'
                WHEN c_custkey % 41 = 0 THEN 'tags:minItems' END AS v8,
           CASE WHEN c_custkey % 43 = 0 THEN 'contact:anyOf' END AS v9,
           CASE WHEN c_custkey % 37 = 0 THEN 'payload:oneOf'
                WHEN c_custkey % 47 = 0 THEN 'payload:oneOf' END AS v10,
           CASE WHEN c_custkey % 53 = 0 THEN 'profile:user.address.city.required'
                WHEN c_custkey % 59 = 0 THEN 'profile:user.age.type' END AS v11,
           CASE WHEN c_custkey % 61 = 0 THEN 'event_ts:format' END AS v12,
           CASE WHEN c_custkey % 67 = 0 THEN 'sku:allOf.0.pattern'
                WHEN c_custkey % 71 = 0 THEN 'sku:allOf.1.maxLength' END AS v13,
           CASE WHEN c_custkey % 73 = 0 THEN 'alias:not' END AS v14,
           CASE WHEN c_custkey % 79 = 0 THEN 'mode_val:then.pattern'
                WHEN c_custkey % 83 = 0 THEN 'mode_val:else.maxLength' END AS v15,
           CASE WHEN c_custkey % 97 = 0 THEN 'nums:items'
                WHEN c_custkey % 101 = 0 THEN 'nums:minItems' END AS v16
    FROM (
        SELECT c_custkey, c_name, id8, grade_clean, meta_clean,
               CASE WHEN c_custkey % 7 = 0 THEN 'X' || id8 ELSE id8 END AS student_id_raw,
               CASE WHEN c_custkey % 11 = 0 THEN 'n/a'
                    ELSE CAST(c_custkey % 1000 AS VARCHAR) END AS score_raw,
               CASE WHEN c_custkey % 13 = 0 THEN '' ELSE c_name END AS name_raw,
               CASE WHEN c_custkey % 17 = 0 THEN 'Z' ELSE grade_clean END AS grade_raw,
               CAST(c_custkey % 200 - 50 AS VARCHAR) AS pct_raw,
               repeat('ab', CAST(c_custkey % 15 + 4 AS INT)) AS comment_raw,
               CASE WHEN c_custkey % 19 = 0 THEN '{"id": 1}'
                    WHEN c_custkey % 23 = 0 THEN '{broken'
                    ELSE meta_clean END AS meta_raw,
               CASE WHEN c_custkey % 29 = 0 THEN '[]'
                    WHEN c_custkey % 31 = 0 THEN '["a","b","c","d","e","f"]'
                    WHEN c_custkey % 41 = 0 THEN '{"not":"array"}'
                    ELSE '["t1","t2"]' END AS tags_raw,
               CASE WHEN c_custkey % 43 = 0 THEN 'bad!'
                    WHEN c_custkey % 2 = 0 THEN 'u' || CAST(c_custkey AS VARCHAR) || '@ex.com'
                    ELSE id8 END AS contact_raw,
               CASE WHEN c_custkey % 37 = 0 THEN '1234'
                    WHEN c_custkey % 47 = 0 THEN 'abc'
                    ELSE '123456' END AS payload_raw,
               CASE WHEN c_custkey % 53 = 0 THEN '{"user": {"address": {}, "age": 30}}'
                    WHEN c_custkey % 59 = 0 THEN '{"user": {"address": {"city": "ny"}, "age": "x"}}'
                    ELSE '{"user": {"address": {"city": "ny"}, "age": 30}}' END AS profile_raw,
               CASE WHEN c_custkey % 61 = 0 THEN 'not-a-time'
                    ELSE '2024-03-15T10:30:00Z' END AS event_ts_raw,
               CASE WHEN c_custkey % 67 = 0 THEN 'x' || id8
                    WHEN c_custkey % 71 = 0 THEN 'ABCDEFGH'
                    ELSE 'A1' END AS sku_raw,
               CASE WHEN c_custkey % 73 = 0 THEN 'reserved_name'
                    ELSE 'userx' END AS alias_raw,
               CASE WHEN c_custkey % 79 = 0 THEN 'nxx'
                    WHEN c_custkey % 83 = 0 THEN 'abcdef'
                    WHEN c_custkey % 89 = 0 THEN 'n42'
                    ELSE 'ok' END AS mode_val_raw,
               CASE WHEN c_custkey % 97 = 0 THEN '[1, "x", 3]'
                    WHEN c_custkey % 101 = 0 THEN '[]'
                    ELSE '[1, 2]' END AS nums_raw
        FROM (
            SELECT c_custkey, c_name,
                   lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS id8,
                   CASE c_custkey % 5 WHEN 0 THEN 'A' WHEN 1 THEN 'B'
                        WHEN 2 THEN 'C' WHEN 3 THEN 'D' ELSE 'F' END AS grade_clean,
                   '{"id": ' || CAST(c_custkey AS VARCHAR) || ', "ts": "t"}' AS meta_clean
            FROM customer
        )
    )
"""


def _q_validate_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6/P6: field-schema ladder, lenient tier — violations null/coerce the
    field and land in the corrections log."""
    from batch_doc_vqa_spark.plans.validate import validate_coerce

    dirty, rules = _validate_fixture(spark, sf_dir)
    out = validate_coerce(dirty, rules, strict=False)
    return out.select(
        *_VALIDATE_OUT_COLS[:-2],  # every field column, sans the verdict pair
        F.array_join("corrections", ";").alias("corrections_csv"),
        "first_violation",
        "valid",
    )


# lenient-ladder mirror: violations are pure functions of c_custkey,
# so the oracle recomputes the coerced values + corrections directly
def _validate_coerce_oracle() -> str:
    return f"""
            WITH v AS ({_VALIDATE_ORACLE_BASE})
            SELECT c_custkey,
                   CASE WHEN v1 IS NOT NULL THEN NULL ELSE id8 END AS student_id,
                   CASE WHEN v2 IS NOT NULL THEN NULL
                        ELSE CAST(c_custkey % 1000 AS DOUBLE) END AS score,
                   CASE WHEN v3 IS NOT NULL THEN NULL ELSE c_name END AS name,
                   CASE WHEN v4 IS NOT NULL THEN NULL ELSE grade_clean END AS grade,
                   CASE WHEN v5 IS NOT NULL THEN NULL
                        ELSE CAST(c_custkey % 200 - 50 AS DOUBLE) END AS pct,
                   CASE WHEN v6 IS NOT NULL THEN NULL ELSE comment_raw END AS comment_short,
                   CASE WHEN v7 IS NOT NULL THEN NULL ELSE meta_clean END AS meta,
                   CASE WHEN v8 IS NOT NULL THEN NULL ELSE tags_raw END AS tags,
                   CASE WHEN v9 IS NOT NULL THEN NULL ELSE contact_raw END AS contact,
                   CASE WHEN v10 IS NOT NULL THEN NULL ELSE payload_raw END AS payload,
                   CASE WHEN v11 IS NOT NULL THEN NULL ELSE profile_raw END AS profile,
                   CASE WHEN v12 IS NOT NULL THEN NULL ELSE event_ts_raw END AS event_ts,
                   CASE WHEN v13 IS NOT NULL THEN NULL ELSE sku_raw END AS sku,
                   CASE WHEN v14 IS NOT NULL THEN NULL ELSE alias_raw END AS alias,
                   CASE WHEN v15 IS NOT NULL THEN NULL ELSE mode_val_raw END AS mode_val,
                   CASE WHEN v16 IS NOT NULL THEN NULL ELSE nums_raw END AS nums,
                   COALESCE(array_to_string(list_filter(
                       [v1, v2, v3, v4, v5, v6, v7, v8, v9, v10, v11, v12, v13, v14, v15, v16], x -> x IS NOT NULL), ';'), '')
                       AS corrections_csv,
                   COALESCE(v1, v2, v3, v4, v5, v6, v7, v8, v9, v10, v11, v12, v13, v14, v15, v16) AS first_violation,
                   TRUE AS valid
            FROM v
        """


def _q_validate_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 strict tier: any violating field fails the whole row (fail-loud
    branch); raw values preserved for the quarantine sink."""
    from batch_doc_vqa_spark.plans.validate import validate_coerce

    dirty, rules = _validate_fixture(spark, sf_dir)
    return validate_coerce(dirty, rules, strict=True).select(*_VALIDATE_OUT_COLS)


def _validate_strict_oracle() -> str:
    return f"""
            WITH v AS ({_VALIDATE_ORACLE_BASE})
            SELECT c_custkey, student_id_raw AS student_id, score_raw AS score,
                   name_raw AS name, grade_raw AS grade, pct_raw AS pct,
                   comment_raw AS comment_short, meta_raw AS meta,
                   tags_raw AS tags, contact_raw AS contact,
                   payload_raw AS payload, profile_raw AS profile,
                   event_ts_raw AS event_ts, sku_raw AS sku, alias_raw AS alias,
                   mode_val_raw AS mode_val, nums_raw AS nums,
                   COALESCE(v1, v2, v3, v4, v5, v6, v7, v8, v9, v10, v11, v12, v13, v14, v15, v16) AS first_violation,
                   COALESCE(v1, v2, v3, v4, v5, v6, v7, v8, v9, v10, v11, v12, v13, v14, v15, v16) IS NULL AS valid
            FROM v
        """


def _q_cohort_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's table-generation flow as ONE pipeline (W3+A15+A16,
    table_generator.py:863-995): cohort selection → per-model bootstrap CI of
    digit_top1 → cohort cost/token rollup joined per model."""
    runs = runs_fixture.runs_df(spark)
    results = runs_fixture.results_df(spark)
    cohort = analytics.select_cohorts(runs)
    ci = analytics.bootstrap_median_ci(cohort, "model_key", "digit_top1")
    rollup = runs_analytics.cost_rollup(results)
    cost = (
        cohort.select("run_name", "model_key")
        # rollup is one row per run — broadcast-size by construction
        .join(F.broadcast(rollup), "run_name", "left")
        .groupBy("model_key")
        .agg(
            F.count(F.col("n_rows")).alias("n_result_runs"),
            F.coalesce(F.sum("prompt_tokens"), F.lit(0)).alias("prompt_tokens"),
            F.coalesce(F.sum("completion_tokens"), F.lit(0)).alias("completion_tokens"),
            # exact decimal sum of already-rounded(8) per-run totals → double
            F.coalesce(
                F.sum(F.col("total_cost").cast("decimal(16,8)")).cast("double"), F.lit(0.0)
            ).alias("cohort_cost"),
        )
    )
    # one row per model on both sides — broadcast beats SMJ on the 4-row dim
    return ci.join(F.broadcast(cost), "model_key").select(
        "model_key", "n", "median", "ci_low", "ci_high",
        "n_result_runs", "prompt_tokens", "completion_tokens", "cohort_cost",
    )


def _cohort_stats_oracle() -> str:
    """Pure-Python mirror of the whole W3+A15+A16 composition → VALUES.

    Replays cohort selection (anchor = latest ts per model, tiebreak run_name
    asc; members share (model, anchor fingerprint) within 24h before the
    anchor), the seeded bootstrap kernel, and the per-run cost rollup over the
    same fixtures the Spark side reads — kernel = oracle."""
    import decimal

    names = [f.strip().split()[0] for f in runs_fixture.RUNS_SCHEMA.split(",")]
    I = {c: names.index(c) for c in ("run_name", "model_key", "ts", "fingerprint", "digit_top1")}
    runs = runs_fixture.runs_rows()

    anchors: dict[str, tuple] = {}
    for r in runs:
        m = r[I["model_key"]]
        cur = anchors.get(m)
        # latest ts wins; ties break by run_name ascending
        if cur is None or (r[I["ts"]], ) > (cur[I["ts"]], ) or (
            r[I["ts"]] == cur[I["ts"]] and r[I["run_name"]] < cur[I["run_name"]]
        ):
            anchors[m] = r
    cohorts: dict[str, list[tuple]] = {m: [] for m in anchors}
    for r in runs:
        m = r[I["model_key"]]
        a = anchors[m]
        lag = (a[I["ts"]] - r[I["ts"]]).total_seconds()
        if r[I["fingerprint"]] == a[I["fingerprint"]] and 0 <= lag <= 86400:
            cohorts[m].append(r)

    per_run: dict[str, dict] = {}
    rnames = [f.strip().split()[0] for f in runs_fixture.RESULTS_SCHEMA.split(",")]
    RI = {c: rnames.index(c) for c in ("run_name", "prompt_tokens", "completion_tokens", "actual_cost")}
    for row in runs_fixture.result_rows():
        s = per_run.setdefault(
            row[RI["run_name"]],
            {"pt": 0, "ct": 0, "n": 0, "miss": 0, "cost": 0.0},
        )
        s["n"] += 1
        s["pt"] += row[RI["prompt_tokens"]]
        s["ct"] += row[RI["completion_tokens"]]
        if row[RI["actual_cost"]] is None:
            s["miss"] += 1
        else:
            s["cost"] += row[RI["actual_cost"]]

    rows = []
    for m in sorted(cohorts):
        vals = [r[I["digit_top1"]] for r in cohorts[m] if r[I["digit_top1"]] is not None]
        n, med, lo, hi = analytics.bootstrap_median_ci_kernel(m, vals)
        runs_in = [r[I["run_name"]] for r in cohorts[m]]
        hit = [per_run[rn] for rn in runs_in if rn in per_run]
        cost = sum(
            (decimal.Decimal(repr(round(s["cost"], 8))) for s in hit if s["miss"] == 0),
            decimal.Decimal(0),
        )
        rows.append(
            (
                m, n, med, lo, hi,
                len(hit),
                sum(s["pt"] for s in hit),
                sum(s["ct"] for s in hit),
                float(cost),
            )
        )
    cte = _values_cte(
        "cs",
        ["model_key", "n", "median", "ci_low", "ci_high",
         "n_result_runs", "prompt_tokens", "completion_tokens", "cohort_cost"],
        rows,
    )
    return f"""
        WITH {cte}
        SELECT model_key, CAST(n AS BIGINT) AS n, CAST(median AS DOUBLE) AS median,
               CAST(ci_low AS DOUBLE) AS ci_low, CAST(ci_high AS DOUBLE) AS ci_high,
               CAST(n_result_runs AS BIGINT) AS n_result_runs,
               CAST(prompt_tokens AS BIGINT) AS prompt_tokens,
               CAST(completion_tokens AS BIGINT) AS completion_tokens,
               CAST(cohort_cost AS DOUBLE) AS cohort_cost
        FROM cs
    """


def _q_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        _davg(F.col("o_totalprice")).alias("mean_price"),
        F.round(F.median("o_totalprice"), 6).alias("median_price"),
        F.round(F.stddev("o_totalprice"), 6).alias("stddev_price"),
    )


_SUMMARY_STATS_ORACLE = """
            SELECT o_orderpriority, COUNT(*) AS n,
                   ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6) AS mean_price,
                   ROUND(MEDIAN(o_totalprice), 6) AS median_price,
                   ROUND(STDDEV_SAMP(o_totalprice), 6) AS stddev_price
            FROM orders GROUP BY o_orderpriority
        """


def _q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderkey") % 3 == 0)
    b = orders.filter(F.col("o_orderkey") % 2 == 0)
    return a.unionByName(b).dropDuplicates(["o_orderkey"]).select("o_orderkey", "o_totalprice")


_UNION_DEDUP_ORACLE = """
            SELECT DISTINCT o_orderkey, o_totalprice FROM orders
            WHERE o_orderkey % 3 = 0 OR o_orderkey % 2 = 0
        """


_Builder = Callable[[SparkSession, str], DataFrame]

# One row per declared query: (name, builder, oracle). The oracle is the
# query's DuckDB SQL over the same tables: a string constant when the SQL is
# literal, else a zero-arg function that builds it (fixture rows as VALUES,
# trained models, shared CTEs), so importing this module builds no oracle.
# Adding a query is adding one row here.
#
# Row order is part of the driver contract: the driver verifies the first 50
# names of queries() (the keys of CORRECTNESS_r07.json), so queries without a
# driver-signed row in CORRECTNESS_r03 come first.
_QUERIES: tuple[tuple[str, _Builder, str | Callable[[], str]], ...] = (
    # -- not driver-signed in r03 (incl. new-this-round): sampled first --
    ("host_components", _q_host_components, _HOST_COMPONENTS_ORACLE),
    # resolver tier invariance: star contraction shares the label tier's
    # oracle verbatim (both converge to the component minimum)
    ("dedup_resolve_starcc", _q_dedup_resolve_starcc, _dedup_resolve_lsh_oracle),
    ("bm25_topk", _q_bm25_topk, _bm25_oracle),
    # persisted-path invariance (the ann_ivfpq_persisted_topk precedent)
    ("bm25_persisted_topk", _q_bm25_persisted, _bm25_oracle),
    ("shard_layout", _q_shard_layout, _shard_layout_oracle),
    ("shard_stats", _q_shard_stats, _shard_stats_oracle),
    ("url_blocklist", _q_url_blocklist, _URL_BLOCKLIST_ORACLE),
    ("stratified_split", _q_stratified_split, _stratified_split_oracle),
    ("temperature_resample", _q_temperature_resample, _TEMPERATURE_ORACLE),
    ("validate_strict", _q_validate_strict, _validate_strict_oracle),
    ("contamination_report", _q_contamination_report, _contamination_report_oracle),
    # tier-invariance IS the contract: the shuffle and bloom fallbacks
    # share the broadcast tier's oracle verbatim
    ("contamination_report_shuffle", _q_contamination_report_shuffle, _contamination_report_oracle),
    ("contamination_report_bloom", _q_contamination_report_bloom, _contamination_report_oracle),
    ("decontaminate", _q_decontaminate, _decontaminate_oracle),
    ("pii_report", _q_pii_report, _pii_report_oracle),
    ("pii_redact", _q_pii_redact, _pii_redact_oracle),
    ("pack_sequences", _q_pack_sequences, _pack_sequences_oracle),
    ("packing_stats", _q_packing_stats, _packing_stats_oracle),
    ("epoch_expand", _q_epoch_expand, _EPOCH_EXPAND_ORACLE),
    ("budget_select", _q_budget_select, _BUDGET_SELECT_ORACLE),
    ("training_recipe_v2", _q_training_recipe_v2, _training_recipe_v2_oracle),
    ("training_recipe_v3", _q_training_recipe_v3, _training_recipe_v3_oracle),
    ("snapshot_diff", _q_snapshot_diff, _snapshot_diff_oracle),
    ("snapshot_summary", _q_snapshot_summary, _snapshot_summary_oracle),
    ("snapshot_work_set", _q_snapshot_work_set, _snapshot_work_set_oracle),
    ("incremental_dedup", _q_incremental_dedup, _incremental_dedup_oracle),
    ("ann_ivf_topk", _q_ann_ivf, _ANN_IVF_TOPK_ORACLE),
    ("ann_pq_topk", _q_ann_pq, _ANN_PQ_TOPK_ORACLE),
    ("ann_pq_trained_topk", _q_ann_pq_trained, _ann_pq_trained_oracle),
    ("ann_ivfpq_topk", _q_ann_ivfpq, _ANN_IVFPQ_TOPK_ORACLE),
    ("ann_ivfpq_trained_topk", _q_ann_ivfpq_trained, _ann_ivfpq_trained_oracle),
    # the persisted path must return byte-identical rows to the one-shot
    # build — same oracle verbatim (VERDICT r5 #2)
    ("ann_ivfpq_persisted_topk", _q_ann_ivfpq_persisted, _ANN_IVFPQ_TOPK_ORACLE),
    ("ann_ivfpq_appended_topk", _q_ann_ivfpq_appended, _ann_ivfpq_appended_oracle),
    ("embedding_dup_pairs", _q_embedding_dup, _EMBEDDING_DUP_PAIRS_ORACLE),
    ("embedding_dup_pairs_lsh", _q_embedding_dup_lsh, _embedding_dup_lsh_oracle),
    ("semdedup", _q_semdedup, _semdedup_oracle),
    ("doc_quality", _q_doc_quality, _doc_quality_oracle),
    ("classifier_quality_score", _q_classifier_quality, _classifier_quality_oracle),
    ("classifier_resample", _q_classifier_resample, _classifier_resample_oracle),
    ("lm_perplexity", _q_lm_perplexity, _lm_perplexity_oracle),
    ("ppl_buckets", _q_ppl_buckets, _ppl_buckets_oracle),
    ("weighted_sample_docs", _q_weighted_sample, _WEIGHTED_SAMPLE_DOCS_ORACLE),
    ("lang_id", _q_lang_id, _lang_id_oracle),
    ("token_counts", _q_token_counts, _token_counts_oracle),
    ("token_counts_bpe", _q_token_counts_bpe, _token_counts_bpe_oracle),
    ("chunk_documents_bpe", _q_chunk_documents_bpe, _chunk_documents_bpe_oracle),
    ("pack_sequences_bpe", _q_pack_sequences_bpe, _pack_sequences_bpe_oracle),
    ("fingerprint", _q_fingerprint, _FINGERPRINT_ORACLE),
    ("matching_pipeline", _q_matching_pipeline, _matching_pipeline_oracle),
    ("detection_stats", _q_detection_stats, _detection_stats_oracle),
    ("accuracy_stats", _q_accuracy_stats, _accuracy_stats_oracle),
    ("digit_accuracy_chain", _q_digit_accuracy_chain, _digit_accuracy_chain_oracle),
    ("cost_rollup", _q_cost_rollup, _cost_rollup_oracle),
    ("parallel_runtime", _q_parallel_runtime, _parallel_runtime_oracle),
    ("failure_counts", _q_failure_counts, _failure_counts_oracle),
    ("cohort_select", _q_cohort_select, _cohort_select_oracle),
    ("predict_ids", _q_predict_ids, _predict_ids_oracle),
    ("topk_digit_accuracy", _q_topk_digit_accuracy, _topk_digit_accuracy_oracle),
    ("bootstrap_median_ci", _q_bootstrap_ci, _bootstrap_ci_oracle),
    ("region_match_prf", _q_region_match, _region_match_oracle),
    ("ta_cer", _q_ta_cer, _ta_cer_oracle),
    ("ta_set_prf", _q_ta_set_prf, _ta_set_prf_oracle),
    ("ta_macro_f1", _q_ta_macro_f1, _ta_macro_f1_oracle),
    ("ta_exact_match", _q_ta_exact_match, _ta_exact_match_oracle),
    ("ta_rubric_mae", _q_ta_rubric_mae, _ta_rubric_mae_oracle),
    ("ta_qwk", _q_ta_qwk, _ta_qwk_oracle),
    ("ta_feedback_agreement", _q_ta_feedback, _ta_feedback_agreement_oracle),
    ("json_extract_rollup", _q_json_extract, _JSON_EXTRACT_ROLLUP_ORACLE),
    ("union_dedup", _q_union_dedup, _UNION_DEDUP_ORACLE),
    ("summary_stats", _q_summary_stats, _SUMMARY_STATS_ORACLE),
    # -- driver-signed green in CORRECTNESS_r03 --
    ("sessionize_events", _q_sessionize, _SESSIONIZE_EVENTS_ORACLE),
    ("winnow_fingerprints", _q_winnow, _WINNOW_FINGERPRINTS_ORACLE),
    ("split_pages", _q_split_pages, _split_pages_oracle),
    ("media_base64", _q_media_base64, _MEDIA_BASE64_ORACLE),
    ("media_resize", _q_media_resize, _MEDIA_RESIZE_ORACLE),
    ("media_features", _q_media_features, _media_features_oracle),
    ("media_probe", _q_media_probe, _MEDIA_PROBE_ORACLE),
    ("legacy_alias_rewrite", _q_legacy_alias, _LEGACY_ALIAS_REWRITE_ORACLE),
    ("sweep_grid", _q_sweep_grid, _SWEEP_GRID_ORACLE),
    ("best_supplier_flags", _q_best_supplier_flags, _BEST_SUPPLIER_FLAGS_ORACLE),
    ("publish_gate", _q_publish_gate, _PUBLISH_GATE_ORACLE),
    ("lang_id_trigram", _q_lang_id_trigram, _lang_trigram_oracle),
    ("corpus_profile", _q_corpus_profile, _corpus_profile_oracle),
    ("dedup_resolve_lsh", _q_dedup_resolve_lsh, _dedup_resolve_lsh_oracle),
    ("validate_coerce", _q_validate_coerce, _validate_coerce_oracle),
    ("cohort_stats", _q_cohort_stats, _cohort_stats_oracle),
    ("pdf_text_extract", _q_pdf_text, _pdf_text_oracle),
    ("repetition_scores", _q_repetition, _REPETITION_SCORES_ORACLE),
    ("media_decode", _q_media_decode, _media_decode_oracle),
    ("url_dedup", _q_url_dedup, _URL_DEDUP_ORACLE),
    ("boilerplate_lines", _q_boilerplate_lines, _BOILERPLATE_LINES_ORACLE),
    ("chunk_documents", _q_chunk_documents, _CHUNK_DOCUMENTS_ORACLE),
    ("deterministic_sample", _q_deterministic_sample, _DETERMINISTIC_SAMPLE_ORACLE),
    ("corpus_filter", _q_corpus_filter, _corpus_filter_oracle),
    ("strip_boilerplate", _q_strip_boilerplate, _STRIP_BOILERPLATE_ORACLE),
    ("training_pipeline", _q_training_pipeline, _training_pipeline_oracle),
    ("duplicate_spans", _q_duplicate_spans, _duplicate_spans_oracle),
    ("dedup_spans_removed", _q_dedup_spans_removed, _dedup_spans_removed_oracle),
    ("trigram_entropy", _q_trigram_entropy, _TRIGRAM_ENTROPY_ORACLE),
    ("extract_main_content", _q_extract, _extract_oracle),
    ("host_stats_salted", _q_host_stats, _host_stats_oracle),
    ("q1_pricing_summary", _q_pricing_summary, _Q1_PRICING_SUMMARY_ORACLE),
    ("revenue_by_order", _q_revenue_by_order, _REVENUE_BY_ORDER_ORACLE),
    ("region_rollup", _q_region_rollup, _REGION_ROLLUP_ORACLE),
    ("best_order_per_customer", _q_best_order_per_customer, _BEST_ORDER_PER_CUSTOMER_ORACLE),
    ("top3_orders_per_customer", _q_top3_orders_per_customer, _TOP3_ORDERS_PER_CUSTOMER_ORACLE),
    ("latest_event_per_user", _q_latest_event_per_user, _LATEST_EVENT_PER_USER_ORACLE),
    ("supplier_customer_match", _q_supplier_customer_match, _SUPPLIER_CUSTOMER_MATCH_ORACLE),
    ("digit_frequency", _q_digit_frequency, _DIGIT_FREQUENCY_ORACLE),
    ("pareto_parts", _q_pareto_parts, _PARETO_PARTS_ORACLE),
    ("events_hourly", _q_events_hourly, _EVENTS_HOURLY_ORACLE),
    ("events_asof_order", _q_events_asof_order, _ASOF_ORDER_ORACLE),
    # tier invariance: the array strategy must satisfy the SAME oracle
    ("events_asof_order_array", _q_events_asof_order_array, _ASOF_ORDER_ORACLE),
    ("host_pagerank", _q_host_pagerank, _host_pagerank_oracle),
    ("events_in_windows", _q_events_in_windows, _EVENTS_IN_WINDOWS_ORACLE),
    ("hll_distinct_users", _q_hll_distinct_users, _hll_distinct_users_oracle),
    ("quantile_sketch", _q_quantile_sketch, _quantile_sketch_oracle),
    ("cms_heavy_hitters", _q_cms_heavy_hitters, _cms_heavy_hitters_oracle),
    ("calibration_bins", _q_calibration, _CALIBRATION_BINS_ORACLE),
    ("discount_product", _q_discount_product, _DISCOUNT_PRODUCT_ORACLE),
    ("dedup_exact", _q_dedup_exact, _DEDUP_EXACT_ORACLE),
    ("jaccard_pairs", _q_jaccard_pairs, _jaccard_pairs_oracle),
    ("dedup_resolve", _q_dedup_resolve, _DEDUP_RESOLVE_ORACLE),
    ("minhash_lsh_pairs", _q_minhash_pairs, _minhash_oracle),
    ("simhash_pairs", _q_simhash_pairs, _simhash_oracle),
    ("ann_cosine_topk", _q_ann_cosine, _ANN_COSINE_TOPK_ORACLE),
    ("ann_lsh_topk", _q_ann_lsh, _ann_lsh_oracle),
)


def queries() -> dict[str, _Builder]:
    return {name: build for name, build, _ in _QUERIES}


def oracle_sql() -> dict[str, str]:
    return {name: o if isinstance(o, str) else o() for name, _, o in _QUERIES}
