"""Driver-contract query registry: every implemented operator from
SURVEY.md §2 (plus the training-data-pipeline operators) as a
(spark_callable, duckdb_oracle_sql) pair.

Conventions that make the oracle comparison byte-stable:
  * every computed column is aliased identically on both sides
  * float aggregations go through DECIMAL(18,4) for an exact sum, then
    cast back to DOUBLE and round — identical on both engines
  * every hash is md5-derived (same algorithm both sides); 64-bit hashes
    are conv(substr(md5,16),16,10) == CAST('0x'||… AS BIGINT)
  * ties in rankings/limits always break on a unique id
"""

from __future__ import annotations

import os as _os
from typing import Callable, Dict, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_ocr_spark.operators import dedup as D
from pdf_ocr_spark.operators import similarity as S
from pdf_ocr_spark.operators import text_analysis as T
from pdf_ocr_spark.pipeline.session import CacheOwner

QueryFn = Callable[[SparkSession, str], DataFrame]

_NORM_SQL = "trim(regexp_replace(lower({c}), '\\s+', ' ', 'g'))"

# stage frames persisted by multi-action queries (the filter funnels count
# every stage, so each stage frame is referenced twice); bounded to the
# most recent funnel query's, so a long-lived driver running the registry
# in a loop holds at most one query's stage caches.
_query_caches = CacheOwner()
release_query_cache = _query_caches.release
_qcache = _query_caches.cache


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _golden(name: str) -> str:
    """Path of a frozen kernel golden (tools/freeze.py) — the
    DuckDB oracle for non-SQL-expressible kernels reads these."""
    return _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)), "fixtures", f"{name}_golden.parquet"
    )


#: Spark type of every fixture-row field a query reads
_CORPUS_TYPES = {
    "url": "string", "domain": "string", "warc_ts": "timestamp",
    "html": "binary", "body": "binary", "warc": "binary", "blob": "binary",
    "text": "string", "lang": "string", "media_id": "long", "page": "int",
    "y": "double",
}


def _corpus(spark: SparkSession, name: str, *cols: str) -> DataFrame:
    """A named fixture corpus (``fixtures.genpages.CORPORA`` — the rows
    tools/freeze.py builds the goldens from) as a frame of ``cols``,
    ``url, html`` unless given.  A field a row lacks is NULL."""
    from pdf_ocr_spark.fixtures.genpages import CORPORA

    cols = cols or ("url", "html")
    return spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in CORPORA[name]()],
        schema=", ".join(f"{c} {_CORPUS_TYPES[c]}" for c in cols),
    )


def _dec_sum_sql(expr: str, r: int = 2) -> str:
    # round the exact DECIMAL, cast to double AFTER: rounding the double
    # instead diverges between engines at exact .xx5 boundaries (Spark
    # rounds the double's shortest decimal rendering, DuckDB its true
    # binary value) — see dsir_doc_logweights for the caught instance
    return f"CAST(round(SUM(CAST({expr} AS DECIMAL(18,4))), {r}) AS DOUBLE)"


def _dec_sum(col, r: int = 2):
    return F.round(F.sum(col.cast("decimal(18,4)")), r).cast("double")


# ---------------------------------------------------------------------------
# §2.2 projections / filters
# ---------------------------------------------------------------------------


def q_p1_confidence_filter(spark, sf_dir):
    """P1: confidence/threshold filter + non-blank predicate
    (reference: score > 0.5 and text non-blank,
    pdf_ocr_with_boxes_v2.py:119-123,292)."""
    return (
        _t(spark, sf_dir, "documents")
        .filter((F.col("n_chars") > 200) & (F.trim(F.col("text")) != ""))
        .select("doc_id", "lang", "n_chars")
    )


SQL_P1 = """
SELECT doc_id, lang, n_chars FROM documents
WHERE n_chars > 200 AND trim(text) <> ''
"""


def q_p3_type_whitelist(spark, sf_dir):
    """P3: type whitelist filter (pdf_ocr_with_boxes_v3.py:216)."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(
            F.col("lang").isin("en", "zh", "fr")
            & F.col("source").isin("src0", "src1", "src2", "src3", "src4")
        )
        .select("doc_id", "lang", "source")
    )


SQL_P3 = """
SELECT doc_id, lang, source FROM documents
WHERE lang IN ('en','zh','fr') AND source IN ('src0','src1','src2','src3','src4')
"""


def q_p4_type_dispatch(spark, sf_dir):
    """P4+F7/F8: per-type text formatter dispatch
    (pdf_ocr_with_boxes_v4.py:210-248: table/image/text branches)."""
    t = F.substring(F.col("text"), 1, 12)
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("source") == "src0", F.concat(F.lit("table caption: "), t))
        .when(F.col("source") == "src1", F.concat(F.lit("image caption: "), t))
        .otherwise(t)
        .alias("block_text"),
    )


SQL_P4 = """
SELECT doc_id,
  CASE WHEN source = 'src0' THEN 'table caption: ' || substr(text, 1, 12)
       WHEN source = 'src1' THEN 'image caption: ' || substr(text, 1, 12)
       ELSE substr(text, 1, 12) END AS block_text
FROM documents
"""


def q_p6_clamp(spark, sf_dir):
    """P6: coordinate clamp into [0, bound]
    (pdf_ocr_with_boxes_v3.py:270-274)."""
    clamped = F.greatest(F.lit(0.0), F.least(F.col("value"), F.lit(50.0)))
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            _dec_sum(clamped, 3).alias("sum_clamped"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


SQL_P6 = f"""
SELECT event_type,
  {_dec_sum_sql("greatest(0.0, least(value, 50.0))", 3)} AS sum_clamped,
  count(*) AS n_events
FROM events GROUP BY event_type
"""


def q_p7_truncate(spark, sf_dir):
    """P7: text-label truncation text[:15]+'...'
    (pdf_ocr_with_boxes_v2.py:480)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.length("text") > 15,
            F.concat(F.substring("text", 1, 15), F.lit("...")),
        )
        .otherwise(F.col("text"))
        .alias("label"),
    )


SQL_P7 = """
SELECT doc_id,
  CASE WHEN length(text) > 15 THEN substr(text, 1, 15) || '...' ELSE text END AS label
FROM documents
"""


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------


def q_a1_ordered_concat(spark, sf_dir):
    """A1: ordered per-group text concat (v2:684-686 '\\n'.join in page
    order) — collect_list(struct) + array_sort + array_join."""
    d = _t(spark, sf_dir, "documents").select(
        "lang", "source", "doc_id", F.substring("text", 1, 8).alias("s")
    )
    return d.groupBy("lang", "source").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "s"))),
                lambda x: x.s,
            ),
            "\n",
        ).alias("joined")
    )


SQL_A1 = """
SELECT lang, source,
  string_agg(substr(text, 1, 8), chr(10) ORDER BY doc_id) AS joined
FROM documents GROUP BY lang, source
"""


def q_a2_doc_headers(spark, sf_dir):
    """A2: per-doc page headers '# 第 {i} 页' + concatenation
    (v2:697,715-718), as an ordered aggregate with positional headers."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 30)
        .select("lang", "doc_id", F.substring("text", 1, 10).alias("s"))
    )
    return d.groupBy("lang").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "s"))),
                lambda x, i: F.format_string("# 第 %d 页\n\n%s\n\n", i + 1, x.s),
            ),
            "",
        ).alias("doc_text")
    )


SQL_A2 = """
WITH ordered AS (
  SELECT lang, substr(text, 1, 10) AS s,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
  FROM documents WHERE doc_id < 30
)
SELECT lang,
  string_agg('# 第 ' || CAST(rn AS VARCHAR) || ' 页' || chr(10) || chr(10)
             || s || chr(10) || chr(10), '' ORDER BY rn) AS doc_text
FROM ordered GROUP BY lang
"""


def q_a3_histogram(spark, sf_dir):
    """A3: block-type histogram (v3:424-427) shape: counts per key pair."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


SQL_A3 = "SELECT lang, source, count(*) AS cnt FROM documents GROUP BY lang, source"


def q_a4_counts(spark, sf_dir):
    """A4: count aggregates — totals + distinct (v3:415-418)."""
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


SQL_A4 = """
SELECT lang, count(*) AS n_docs, count(DISTINCT source) AS n_sources,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


def q_a6_text_length(spark, sf_dir):
    """A6: text-length metric (v2:686 len(cleaned_text))."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", F.length("text").alias("text_len"))
    )


SQL_A6 = "SELECT doc_id, length(text) AS text_len FROM documents WHERE doc_id < 50"


# ---------------------------------------------------------------------------
# §2.5 windows / ranking, §2.6 sorts
# ---------------------------------------------------------------------------


def q_w1_argmax(spark, sf_dir):
    """W1: argmax-by-length selection (rotation pick,
    parse_student_answers.py:555-614): best doc per lang."""
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _t(spark, sf_dir, "documents")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lang", F.col("doc_id").alias("best_doc"), F.col("n_chars").alias("best_chars"))
    )


SQL_W1 = """
SELECT lang, doc_id AS best_doc, n_chars AS best_chars FROM documents
QUALIFY row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) = 1
"""


def q_w2_reading_order(spark, sf_dir):
    """W2: reading-order sequence numbers (v3:211-226 block_index)."""
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _t(spark, sf_dir, "documents")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("source", "doc_id", "rnk")
    )


SQL_W2 = """
SELECT source, doc_id, rnk FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rnk
  FROM documents)
WHERE rnk <= 3
"""


def q_o1_topk_sort(spark, sf_dir):
    """O1+O2: deterministic global sort + limit (page-order sort +
    first-N preview, v2:200,700-703)."""
    return (
        _t(spark, sf_dir, "documents")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "n_chars")
    )


SQL_O1 = "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 20"


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------


def q_j1_broadcast_join(spark, sf_dir):
    """J1: metadata-alignment equi-join with an explicitly broadcast
    small side (v3:384-408 page⋈blocks)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(_dec_sum(rev, 2).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


SQL_J1 = f"""
SELECT p_brand, {_dec_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_j3_anti_join(spark, sf_dir):
    """J3: the resume anti-join shape (north rule): rows not yet present
    on the completed side."""
    cust = _t(spark, sf_dir, "customer")
    big_orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        cust.join(big_orders, cust.c_custkey == big_orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


SQL_J3 = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
GROUP BY c_mktsegment
"""


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1-style pricing summary (lineitem scan + multi-agg)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1999-09-02").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_sum(F.col("l_quantity"), 2).alias("sum_qty"),
        _dec_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
        _dec_sum(disc, 2).alias("sum_disc_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


SQL_TPCH_Q1 = f"""
SELECT l_returnflag, l_linestatus,
  {_dec_sum_sql("l_quantity")} AS sum_qty,
  {_dec_sum_sql("l_extendedprice")} AS sum_base_price,
  {_dec_sum_sql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3ish(spark, sf_dir):
    """3-table join: customer ⋈ orders ⋈ lineitem revenue rollup."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            _dec_sum(rev, 2).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


SQL_TPCH_Q3ISH = f"""
SELECT c_mktsegment, o_orderpriority,
  {_dec_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
  count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY c_mktsegment, o_orderpriority
"""


def q_events_hourly(spark, sf_dir):
    """Timestamp bucketing + agg over the events table (streaming-shaped
    query in batch form; the streaming variant lives in
    pipeline/streaming.py)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), 3).alias("sum_value"),
        )
    )


SQL_EVENTS_HOURLY = f"""
SELECT event_type, date_trunc('hour', ts) AS hour_ts,
  count(*) AS n_events, {_dec_sum_sql("value", 3)} AS sum_value
FROM events GROUP BY event_type, date_trunc('hour', ts)
"""


def q_events_session_windows(spark, sf_dir):
    """Session windows (30-min inactivity gap) per user — the stateful
    sessionization shape (`F.session_window`; oracle = classic
    gaps-and-islands SQL).  Bounded to a user slice for test speed."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 50 == 0)
    return (
        ev.groupBy("user_id", F.session_window(F.col("ts"), "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), 3).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


SQL_EVENTS_SESSIONS = f"""
WITH marked AS (
  SELECT user_id, ts, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL 30 MINUTE OR
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events WHERE user_id % 50 = 0
),
sessions AS (
  SELECT user_id, ts, value,
    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id, min(ts) AS session_start,
  count(*) AS n_events, {_dec_sum_sql("value", 3)} AS sum_value
FROM sessions GROUP BY user_id, session_id
"""


def q_tpch_q6ish(spark, sf_dir):
    """TPC-H Q6-style scan-heavy filtered aggregate — pure pushdown +
    whole-stage-codegen path (no shuffle beyond the final 1-row agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_quantity") < 24)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
        )
        .agg(
            _dec_sum(F.col("l_extendedprice") * F.col("l_discount"), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


SQL_TPCH_Q6ISH = f"""
SELECT {_dec_sum_sql("l_extendedprice * l_discount", 2)} AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_quantity < 24 AND l_discount BETWEEN 0.05 AND 0.07
"""


def q_tpch_rollup(spark, sf_dir):
    """ROLLUP hierarchy totals (SURVEY §2.4: relational breadth Spark
    gives for free) — per (returnflag, linestatus), per returnflag, and
    grand total in one pass (partial-agg friendly, one shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dec_sum(F.col("l_quantity"), 2).alias("sum_qty"),
        )
    )


SQL_TPCH_ROLLUP = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       {_dec_sum_sql("l_quantity", 2)} AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_events_cube(spark, sf_dir):
    """CUBE over (event_type, hour-of-day): all four grouping sets in one
    shuffle — the OLAP breakdown a metrics dashboard asks for."""
    ev = _t(spark, sf_dir, "events").withColumn("hod", F.hour("ts"))
    return (
        ev.cube("event_type", "hod")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum(F.col("value"), 3).alias("sum_value"),
        )
    )


SQL_EVENTS_CUBE = f"""
SELECT event_type, CAST(hour(ts) AS INT) AS hod, count(*) AS n_events,
       {_dec_sum_sql("value", 3)} AS sum_value
FROM events GROUP BY CUBE (event_type, hour(ts))
"""


def q_tpch_q2ish(spark, sf_dir):
    """TPC-H Q2-style correlated minimum: each customer's cheapest
    order(s) — the correlated subquery decorrelated into a groupBy-min +
    equi-join back (what Catalyst does to Q2's inner query; the oracle
    keeps the literal correlated form)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    mins = o.groupBy("o_custkey").agg(F.min("o_totalprice").alias("min_price"))
    return (
        o.join(mins, "o_custkey")
        .filter(F.col("o_totalprice") == F.col("min_price"))
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("min_total"))
    )


SQL_TPCH_Q2ISH = """
SELECT o_custkey, o_orderkey, o_totalprice AS min_total
FROM orders o
WHERE o_custkey < 200
  AND o_totalprice = (
    SELECT min(o2.o_totalprice) FROM orders o2
    WHERE o2.o_custkey = o.o_custkey AND o2.o_custkey < 200
  )
"""


def q_tpch_q4ish(spark, sf_dir):
    """TPC-H Q4-style EXISTS: orders with at least one qualifying
    lineitem, counted per priority — the correlated EXISTS decorrelates
    to a LEFT SEMI join (what Catalyst plans; the oracle keeps the
    literal EXISTS form)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_TPCH_Q4ISH = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o_orderpriority
"""


def q_tpch_q16ish(spark, sf_dir):
    """TPC-H Q16-style supplier-count: distinct suppliers per
    (brand, type) via part⋈lineitem, EXCLUDING suppliers matching a
    predicate (the NOT IN subquery → broadcast anti-join).  Exercises
    distinct-agg + anti-join + broadcast dimension in one plan."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    return (
        li.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_TPCH_Q16ISH = """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type
"""


def q_events_running_share(spark, sf_dir):
    """Per-user running share of total event value: cumulative sum over
    (ts, event_id) divided by the user's total — two frames of ONE
    window partition (per user), no global sort; values sum as
    DECIMAL(18,4) so the cumsum is exact at any partitioning."""
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    v = F.col("value").cast("decimal(18,4)")
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = Window.partitionBy("user_id")
    cum = F.sum(v).over(wc)
    tot = F.sum(v).over(wt)
    return ev.select(
        "user_id",
        "event_id",
        F.round(cum, 4).cast("double").alias("cum_value"),
        F.round((cum.cast("double") / tot.cast("double")), 4).alias("running_share"),
    )


SQL_EVENTS_RUNNING_SHARE = """
SELECT user_id, event_id,
  CAST(round(sum(CAST(value AS DECIMAL(18,4)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS DOUBLE)
    AS cum_value,
  round(CAST(sum(CAST(value AS DECIMAL(18,4)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE)
        / CAST(sum(CAST(value AS DECIMAL(18,4)))
               OVER (PARTITION BY user_id) AS DOUBLE), 4)
    AS running_share
FROM events WHERE user_id < 50
"""


def q_tpch_q18ish(spark, sf_dir):
    """TPC-H Q18-style large-volume orders: HAVING-filtered per-order
    quantity totals joined back to orders (the IN-subquery shape)."""
    li = _t(spark, sf_dir, "lineitem")
    totals = (
        li.groupBy("l_orderkey")
        .agg(_dec_sum(F.col("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 180)
    )
    o = _t(spark, sf_dir, "orders")
    return o.join(totals, o["o_orderkey"] == totals["l_orderkey"]).select(
        "o_orderkey", "o_custkey", "sum_qty"
    )


SQL_TPCH_Q18ISH = f"""
SELECT o.o_orderkey, o.o_custkey, t.sum_qty
FROM orders o
JOIN (SELECT l_orderkey, {_dec_sum_sql("l_quantity", 2)} AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING {_dec_sum_sql("l_quantity", 2)} > 180) t
  ON o.o_orderkey = t.l_orderkey
"""


# ---------------------------------------------------------------------------
# §2.8 string / regex functions
# ---------------------------------------------------------------------------


def q_f1_tag_strip(spark, sf_dir):
    """F1: grounding-tag stripper (clean_ocr_output,
    parse_student_answers.py:111-125) — regexp_replace chain + trim."""
    synth = F.concat(
        F.lit("<|ref|>"), F.substring("text", 1, 40), F.lit("<|/ref|>\n\n\n\nend")
    )
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(synth, r"<\|ref\|>|<\|/ref\|>", ""),
            r"\n{3,}",
            "\n\n",
        )
    )
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", cleaned.alias("cleaned"))
    )


SQL_F1 = """
SELECT doc_id,
  trim(regexp_replace(regexp_replace(
      '<|ref|>' || substr(text, 1, 40) || ('<|/ref|>' || chr(10) || chr(10) || chr(10) || chr(10) || 'end'),
      '<\\|ref\\|>|<\\|/ref\\|>', '', 'g'),
      '\\n{3,}', chr(10) || chr(10), 'g')) AS cleaned
FROM documents WHERE doc_id < 100
"""


def q_f2_grounding_parse(spark, sf_dir):
    """F2: grounding-box coordinate parser (parse_grounding_output,
    parse_student_answers.py:254-293) — regexp_extract of coord pairs."""
    synth = F.format_string(
        "<|det|>%d,%d<|/det|>%s", F.col("doc_id"), F.col("n_chars"), F.col("lang")
    )
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.regexp_extract(synth, r"<\|det\|>(\d+),(\d+)<\|/det\|>", 1)
            .cast("long")
            .alias("x0"),
            F.regexp_extract(synth, r"<\|det\|>(\d+),(\d+)<\|/det\|>", 2)
            .cast("long")
            .alias("y0"),
            F.regexp_extract(synth, r"<\|/det\|>([a-z]+)", 1).alias("tag"),
        )
    )


SQL_F2 = """
WITH s AS (
  SELECT doc_id,
    '<|det|>' || CAST(doc_id AS VARCHAR) || ',' || CAST(n_chars AS VARCHAR)
      || '<|/det|>' || lang AS synth
  FROM documents WHERE doc_id < 100
)
SELECT doc_id,
  CAST(regexp_extract(synth, '<\\|det\\|>(\\d+),(\\d+)<\\|/det\\|>', 1) AS BIGINT) AS x0,
  CAST(regexp_extract(synth, '<\\|det\\|>(\\d+),(\\d+)<\\|/det\\|>', 2) AS BIGINT) AS y0,
  regexp_extract(synth, '<\\|/det\\|>([a-z]+)', 1) AS tag
FROM s
"""


def q_f9_base64(spark, sf_dir):
    """F9: base64 data-URI encoder (_image_to_base64,
    pdf_ocr_with_silicon_remote_vllm.py:95-125)."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.concat(
                F.lit("data:text/plain;base64,"),
                F.base64(F.encode(F.substring("text", 1, 30), "utf-8")),
            ).alias("data_uri"),
        )
    )


SQL_F9 = """
SELECT doc_id,
  'data:text/plain;base64,' || to_base64(encode(substr(text, 1, 30))) AS data_uri
FROM documents WHERE doc_id < 100
"""


def q_f10_coordinate_transform(spark, sf_dir):
    """F10: coordinate transforms — zoom scale, y-flip, min/max bounds
    (v2:202, parse_student_answers.py:364-376)."""
    zoom = F.col("value") * (200.0 / 72.0)
    flip = F.lit(100.0) - F.col("value")
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.min(zoom), 4).alias("min_zoomed"),
            F.round(F.max(zoom), 4).alias("max_zoomed"),
            F.round(F.min(flip), 4).alias("min_flipped"),
            F.round(F.max(flip), 4).alias("max_flipped"),
        )
    )


SQL_F10 = """
SELECT event_type,
  round(min(value * (200.0/72.0)), 4) AS min_zoomed,
  round(max(value * (200.0/72.0)), 4) AS max_zoomed,
  round(min(100.0 - value), 4) AS min_flipped,
  round(max(100.0 - value), 4) AS max_flipped
FROM events GROUP BY event_type
"""


def q_f14_lang_prompt_map(spark, sf_dir):
    """F13/F14: code→value map lookup (EXIF rotation map, lang→prompt map,
    parse_student_answers.py:69-89, silicon script :249-258)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("lang") == "zh", F.lit("识别图中文字"))
        .when(F.col("lang") == "en", F.lit("Extract all text"))
        .when(F.col("lang") == "fr", F.lit("Extraire le texte"))
        .otherwise(F.lit("auto"))
        .alias("prompt"),
        F.element_at(
            F.create_map(
                F.lit(1), F.lit(0), F.lit(3), F.lit(180), F.lit(6), F.lit(270), F.lit(8), F.lit(90)
            ),
            (F.col("doc_id") % 8 + 1).cast("int"),
        ).alias("rotation"),
    )


SQL_F14 = """
SELECT doc_id,
  CASE lang WHEN 'zh' THEN '识别图中文字' WHEN 'en' THEN 'Extract all text'
            WHEN 'fr' THEN 'Extraire le texte' ELSE 'auto' END AS prompt,
  CASE (doc_id % 8 + 1) WHEN 1 THEN 0 WHEN 3 THEN 180 WHEN 6 THEN 270 WHEN 8 THEN 90
       ELSE NULL END AS rotation
FROM documents
"""


# ---------------------------------------------------------------------------
# dedup operators
# ---------------------------------------------------------------------------


def _docs_with_variants(spark, sf_dir, limit: int = 100):
    """Dup universe: each doc + a whitespace-perturbed copy (same
    normalized content, id + 100000) — gives dedup something to find."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < limit)
    variants = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.lit("  "), F.regexp_replace("text", " ", "  ")).alias("text"),
    )
    return d.select("doc_id", "text").unionByName(variants)


_SQL_VARIANTS = """
  SELECT doc_id, text FROM documents WHERE doc_id < 100
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         '  ' || regexp_replace(text, ' ', '  ', 'g') AS text
  FROM documents WHERE doc_id < 100
"""


def q_dedup_exact(spark, sf_dir):
    """Exact dedup via normalized-text md5 fingerprint groupBy."""
    return D.exact_duplicates(_docs_with_variants(spark, sf_dir))


SQL_DEDUP_EXACT = f"""
WITH u AS ({_SQL_VARIANTS})
SELECT md5({_NORM_SQL.format(c='text')}) AS fingerprint,
       count(*) AS n_docs, min(doc_id) AS canonical_id
FROM u GROUP BY 1 HAVING count(*) > 1
"""


def q_dedup_bloom_prefilter(spark, sf_dir):
    """Relational Bloom-filter pre-filter for incremental dedup: the
    history fingerprints (doc_id % 5 != 0 slice) build a 4096-bit /
    3-hash filter as a distinct set-bit-position table (≤ m rows no
    matter how many billions of keys — that bound is what makes the
    visited set broadcastable); every document probes it.  Output adds
    ground truth so false positives are VISIBLE in the value hash:
    possibly_seen=true & truly_seen=false rows are the FP rate the
    (1-e^(-kn/m))^k formula predicts; false negatives are structurally
    impossible, which is why possibly_seen=false rows may safely skip
    the exact history join."""
    docs = _t(spark, sf_dir, "documents")
    fp = D.fingerprint(F.col("text")).alias("fingerprint")
    hist = docs.filter(F.col("doc_id") % 5 != 0).select(fp)
    bloom = D.bloom_build(hist)
    probe = docs.select(F.col("doc_id"), fp)
    truly = (
        probe.join(
            hist.distinct().withColumn("_t", F.lit(1)), "fingerprint", "left"
        )
        .select("doc_id", F.col("_t").isNotNull().alias("truly_seen"))
    )
    return (
        D.bloom_possibly_seen(probe, bloom)
        .join(truly, "doc_id")
        .select("doc_id", "possibly_seen", "truly_seen")
    )


def _sql_bloom_pos(key: str, i: int, m: int = 4096) -> str:
    return (
        f"(CAST('0x' || substr(md5({key} || ':bloom{i}'), 1, 10) AS BIGINT) % {m})"
    )


SQL_DEDUP_BLOOM_PREFILTER = f"""
WITH fps AS (
  SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS fingerprint FROM documents
),
hist AS (SELECT fingerprint FROM fps WHERE doc_id % 5 <> 0),
bloom AS (
  SELECT DISTINCT unnest([{_sql_bloom_pos('fingerprint', 0)},
                          {_sql_bloom_pos('fingerprint', 1)},
                          {_sql_bloom_pos('fingerprint', 2)}]) AS pos
  FROM hist
),
probes AS (
  SELECT doc_id, unnest([{_sql_bloom_pos('fingerprint', 0)},
                         {_sql_bloom_pos('fingerprint', 1)},
                         {_sql_bloom_pos('fingerprint', 2)}]) AS pos
  FROM fps
),
verdict AS (
  SELECT p.doc_id, count(b.pos) = 3 AS possibly_seen
  FROM probes p LEFT JOIN bloom b ON p.pos = b.pos
  GROUP BY p.doc_id
)
SELECT v.doc_id, v.possibly_seen,
       (f.fingerprint IN (SELECT fingerprint FROM hist)) AS truly_seen
FROM verdict v JOIN fps f ON v.doc_id = f.doc_id
"""


def q_snapshot_delta(spark, sf_dir):
    """Crawl-to-crawl delta verdicts: old snapshot = doc_id < 450, new
    snapshot = doc_id ≥ 50 with every 9th page's content edited → all
    four verdicts (added / removed / changed / unchanged) exercised.
    One full-outer join on url; only (url, md5) rows cross the wire."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://s"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/"), F.col("doc_id").cast("string"),
    )
    old = d.filter(F.col("doc_id") < 450).select(url.alias("url"), "text")
    new = d.filter(F.col("doc_id") >= 50).select(
        url.alias("url"),
        F.when(
            F.col("doc_id") % 9 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return D.snapshot_delta(old, new)


SQL_SNAPSHOT_DELTA = f"""
WITH o AS (
  SELECT 'https://s' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/'
         || CAST(doc_id AS VARCHAR) AS url,
         md5({_NORM_SQL.format(c='text')}) AS fp_old
  FROM documents WHERE doc_id < 450
),
n AS (
  SELECT 'https://s' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/'
         || CAST(doc_id AS VARCHAR) AS url,
         md5({_NORM_SQL.format(c="CASE WHEN doc_id % 9 = 0 THEN text || ' [edited]' ELSE text END")}) AS fp_new
  FROM documents WHERE doc_id >= 50
)
SELECT coalesce(o.url, n.url) AS url,
  CASE WHEN o.fp_old IS NULL THEN 'added'
       WHEN n.fp_new IS NULL THEN 'removed'
       WHEN o.fp_old <> n.fp_new THEN 'changed'
       ELSE 'unchanged' END AS verdict
FROM o FULL OUTER JOIN n ON o.url = n.url
"""


def q_dedup_incremental(spark, sf_dir):
    """Cross-snapshot incremental dedup: the history store holds the
    fingerprints of every doc_id%4==0 document ("previous snapshots");
    the new snapshot is the dup universe (docs + whitespace variants).
    Verdicts: dup_of_history / dup_in_snapshot / kept."""
    hist = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 100) & (F.col("doc_id") % 4 == 0)
    )
    seen = hist.select(D.fingerprint(F.col("text")).alias("fingerprint"))
    return D.incremental_dedup(_docs_with_variants(spark, sf_dir), seen)


SQL_DEDUP_INCREMENTAL = f"""
WITH u AS ({_SQL_VARIANTS}),
hist AS (
  SELECT DISTINCT md5({_NORM_SQL.format(c='text')}) AS fingerprint
  FROM documents WHERE doc_id < 100 AND doc_id % 4 = 0
),
nf AS (
  SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS fingerprint FROM u
)
SELECT nf.doc_id, nf.fingerprint,
  CASE WHEN h.fingerprint IS NOT NULL THEN 'dup_of_history'
       WHEN nf.doc_id <> min(nf.doc_id) OVER (PARTITION BY nf.fingerprint)
       THEN 'dup_in_snapshot'
       ELSE 'kept' END AS verdict
FROM nf LEFT JOIN hist h ON nf.fingerprint = h.fingerprint
"""


def _sql_shingles(src: str, k: int = 5) -> str:
    norm = _NORM_SQL.format(c="text")
    return f"""
  SELECT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(length(t) - {k - 1}, 1) + 1),
             i -> substr(t, CAST(i AS INT), {k})))) AS sh
  FROM (SELECT doc_id, {norm} AS t FROM {src}) n
"""


def _sql_h64(expr: str, salt: str) -> str:
    return f"CAST(('0x' || substr(md5({expr} || ':{salt}'), 1, 15)) AS BIGINT)"


def _sql_minhash_mins(num_perm: int = 8) -> str:
    """Per-permutation minima over the affine-permuted 40-bit base hash —
    the SAME constants as operators.dedup.minhash_perm_consts, so DuckDB
    reproduces the Spark signatures bit-for-bit (all arithmetic < 2^62:
    exact BIGINT in both engines)."""
    hb = "CAST(('0x' || substr(md5(sh), 1, 10)) AS BIGINT)"
    return ", ".join(
        f"min(({hb} * {a} + {b}) % {D.MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(D.minhash_perm_consts(num_perm))
    )


def q_dedup_minhash_sigs(spark, sf_dir):
    """MinHash signatures (8 affine permutations over one md5-derived
    base hash per 5-char shingle) — reproduced exactly by the SQL oracle."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return D.minhash_signatures(docs, num_perm=8, k=5)


SQL_DEDUP_MINHASH_SIGS = f"""
WITH sh AS ({_sql_shingles("(SELECT doc_id, text FROM documents WHERE doc_id < 200)")})
SELECT doc_id,
  {_sql_minhash_mins(8)}
FROM sh GROUP BY doc_id
"""


def q_dedup_lsh_scurve(spark, sf_dir):
    """The LSH DESIGN row: capture probability 1 − (1 − s^r)^b over a
    Jaccard grid s = g/20 for the four (bands × rows) splits of an
    8-permutation signature — the S-curve that justifies the engine's
    4×2 default (threshold ≈ (1/b)^(1/r) ≈ 0.5) and shows what moving
    to 8×1 (recall-heavy) or 1×8 (precision-heavy) would do.  Every
    power is an EXACT integer (g^r as BIGINT) or an explicit multiply
    chain (q², q⁴ = (q²)², …) — no libm pow, so both engines compute
    bit-identical doubles; rounding is the explicit half-up floor
    (the hyperball protocol)."""
    cfg = spark.createDataFrame(
        [(8, 1, 0.125), (4, 2, 0.5), (2, 4, 0.840896), (1, 8, 1.0)],
        "bands int, rows_per_band int, threshold double",
    )
    g = spark.range(1, 20).select(F.col("id").cast("int").alias("g"))
    gi = F.col("g").cast("long")
    g_pow = (
        F.when(F.col("rows_per_band") == 1, gi)
        .when(F.col("rows_per_band") == 2, gi * gi)
        .when(F.col("rows_per_band") == 4, (gi * gi) * (gi * gi))
        .otherwise(((gi * gi) * (gi * gi)) * ((gi * gi) * (gi * gi)))
    )
    den = (
        F.when(F.col("rows_per_band") == 1, F.lit(20).cast("long"))
        .when(F.col("rows_per_band") == 2, F.lit(400).cast("long"))
        .when(F.col("rows_per_band") == 4, F.lit(160000).cast("long"))
        .otherwise(F.lit(25600000000).cast("long"))
    )
    q = F.lit(1.0) - g_pow.cast("double") / den.cast("double")
    q2 = q * q
    q4 = q2 * q2
    q_pow = (
        F.when(F.col("bands") == 1, q)
        .when(F.col("bands") == 2, q2)
        .when(F.col("bands") == 4, q4)
        .otherwise(q4 * q4)
    )
    cap = F.lit(1.0) - q_pow
    return g.crossJoin(F.broadcast(cfg)).select(
        "bands",
        "rows_per_band",
        "threshold",
        (gi.cast("double") / 20).alias("s"),
        (F.floor(cap * 1000000 + 0.5) / 1000000).alias("p_capture"),
    )


SQL_DEDUP_LSH_SCURVE = """
WITH cfg AS (
  SELECT * FROM (VALUES (8, 1, 0.125), (4, 2, 0.5), (2, 4, 0.840896),
                        (1, 8, 1.0))
    AS t(bands, rows_per_band, threshold)
),
grid AS (SELECT unnest(generate_series(1, 19)) AS g),
e AS (
  SELECT bands, rows_per_band, threshold, CAST(g AS BIGINT) AS g,
    CASE rows_per_band WHEN 1 THEN CAST(g AS BIGINT)
      WHEN 2 THEN CAST(g AS BIGINT) * g
      WHEN 4 THEN (CAST(g AS BIGINT) * g) * (CAST(g AS BIGINT) * g)
      ELSE ((CAST(g AS BIGINT) * g) * (CAST(g AS BIGINT) * g))
           * ((CAST(g AS BIGINT) * g) * (CAST(g AS BIGINT) * g)) END AS gp,
    CASE rows_per_band WHEN 1 THEN 20 WHEN 2 THEN 400
      WHEN 4 THEN 160000 ELSE 25600000000 END AS den
  FROM grid CROSS JOIN cfg
),
p AS (
  SELECT bands, rows_per_band, threshold, g,
    1.0 - CAST(gp AS DOUBLE) / CAST(den AS DOUBLE) AS q
  FROM e
)
SELECT bands, rows_per_band, threshold,
  CAST(g AS DOUBLE) / 20 AS s,
  floor((1.0 - CASE bands WHEN 1 THEN q WHEN 2 THEN q * q
         WHEN 4 THEN (q * q) * (q * q)
         ELSE ((q * q) * (q * q)) * ((q * q) * (q * q)) END) * 1000000
        + 0.5) / 1000000 AS p_capture
FROM p
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash LSH candidate pairs (4 bands × 2 rows) over the
    dup-variant universe: every original must pair with its variant."""
    return D.minhash_lsh_pairs(
        _docs_with_variants(spark, sf_dir), num_perm=8, bands=4, k=5
    )


_SQL_SIGS_VARIANTS = f"""
WITH u AS ({_SQL_VARIANTS}),
sh AS ({_sql_shingles("u")}),
sigs AS (
  SELECT doc_id,
    {_sql_minhash_mins(8)}
  FROM sh GROUP BY doc_id
),
banded AS (
  {" UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    f"md5(CAST(mh{2*b} AS VARCHAR) || '_' || CAST(mh{2*b+1} AS VARCHAR)) AS bh FROM sigs"
    for b in range(4)
  )}
),
bands AS (
  -- mirror of minhash_lsh_pairs' max_bucket=500 hot-bucket cap
  SELECT doc_id, band, bh FROM (
    SELECT *, row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) AS rn
    FROM banded)
  WHERE rn <= 500
)
"""

SQL_DEDUP_MINHASH_LSH = (
    _SQL_SIGS_VARIANTS
    + """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
"""
)


def q_dedup_recall(spark, sf_dir):
    """Dedup-path quality observability ("measure, don't guess" — the
    MinHash twin of sim_recall): recall and precision of the banded
    LSH candidate generator against exact 5-gram-Jaccard ground truth
    (threshold 0.5) on the dup-variant universe.  The dashboard row
    that tells a 100-TB operator whether 4 bands × 2 rows is catching
    the near-dups the verify stage would confirm — and how much
    verification work the candidate set wastes (precision)."""
    docs = _docs_with_variants(spark, sf_dir)
    truth = D.ngram_jaccard_pairs(docs, k=5, threshold=0.5).select(
        "doc_a", "doc_b"
    )
    cand = D.minhash_lsh_pairs(docs, num_perm=8, bands=4, k=5)
    hit = truth.join(
        cand.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).agg(
        F.count(F.lit(1)).alias("n_truth"), F.count("hit").alias("n_hits")
    )
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    return hit.crossJoin(n_cand).select(
        "n_truth",
        "n_candidates",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_truth"), 4).alias("recall"),
        F.round(F.col("n_hits") / F.col("n_candidates"), 4).alias(
            "precision_at_t"
        ),
    )


SQL_DEDUP_RECALL = (
    _SQL_SIGS_VARIANTS
    + """
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) >= 0.5
),
h AS (SELECT count(*) AS n_hits FROM truth JOIN cand USING (doc_a, doc_b)),
t AS (SELECT count(*) AS n_truth FROM truth),
c AS (SELECT count(*) AS n_candidates FROM cand)
SELECT n_truth, n_candidates, n_hits,
  round(CAST(n_hits AS DOUBLE) / n_truth, 4) AS recall,
  round(CAST(n_hits AS DOUBLE) / n_candidates, 4) AS precision_at_t
FROM t CROSS JOIN c CROSS JOIN h
"""
)


def q_dedup_containment(spark, sf_dir):
    """Asymmetric CONTAINMENT dedup (Broder c(A,B) = |A∩B|/|A|) on a
    fragment universe: each doc < 80 plus its 40%-prefix fragment
    (id + 200000).  Fragments sit at containment 1.0 but Jaccard ≈ 0.4
    — invisible to the symmetric MinHash path; this is the operator
    that catches quotes and aggregator inclusions.  Candidates come
    from the prefix-filter join (rare-first global shingle order,
    prefix length |S|−⌈t·|S|⌉+1 vs full postings — the set-similarity-
    join literature's index, zero false negatives), then exact
    array_intersect verification.  The ORACLE is an independent
    all-pairs exact containment over raw (unhashed) shingles — a
    different algorithm AND a different shingle representation
    arriving at the same verified pairs."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    words = T.norm_words_expr(F.col("text"))
    frag = d.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(
            F.slice(words, 1, F.ceil(F.size(words) * 0.4).cast("int")), " "
        ).alias("text"),
    )
    u = d.select("doc_id", "text").unionByName(frag)
    return D.containment_pairs(u, k=8, threshold=0.8)


SQL_DEDUP_CONTAINMENT = f"""
WITH u AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 80
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
    array_to_string(
      (str_split({_NORM_SQL.format(c='text')}, ' '))
        [1:CAST(ceil(0.4 * len(str_split({_NORM_SQL.format(c='text')}, ' ')))
            AS INT)], ' ') AS text
  FROM documents WHERE doc_id < 80
),
sh AS (
  SELECT DISTINCT doc_id, substr(n, i, 8) AS sh
  FROM (SELECT doc_id, {_NORM_SQL.format(c='text')} AS n FROM u),
       LATERAL (SELECT unnest(generate_series(1, greatest(len(n) - 7, 1)))
                AS i) _s
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter,
  round(CAST(n_inter AS DOUBLE) / na.n_sh, 4) AS containment_a,
  round(CAST(n_inter AS DOUBLE) / nb.n_sh, 4) AS containment_b,
  round(CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE greatest(CAST(n_inter AS DOUBLE) / na.n_sh,
               CAST(n_inter AS DOUBLE) / nb.n_sh) >= 0.8
"""


def q_dedup_lsh_overflow(spark, sf_dir):
    """LSH hot-bucket overflow accounting: buckets whose membership
    exceeds the cap (here 2, so the dup-variant fixture actually
    overflows) with how many members the capped pair join drops —
    the visible-truncation metric for minhash_lsh_pairs' max_bucket."""
    return D.minhash_lsh_overflow(
        _docs_with_variants(spark, sf_dir), num_perm=8, bands=4, k=5, max_bucket=2
    )


SQL_DEDUP_LSH_OVERFLOW = (
    _SQL_SIGS_VARIANTS
    + """
SELECT band, bh, count(*) AS n_members, count(*) - 2 AS n_dropped
FROM banded GROUP BY band, bh HAVING count(*) > 2
"""
)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: connected components (iterative min-label
    propagation) over the MinHash-LSH candidate pairs — pairwise hits →
    canonical-document groups."""
    pairs = D.minhash_lsh_pairs(
        _docs_with_variants(spark, sf_dir), num_perm=8, bands=4, k=5
    )
    return D.connected_components(pairs)


_SQL_CC_PREFIX = (
    _SQL_SIGS_VARIANTS.replace("WITH", "WITH RECURSIVE", 1)
    + """
, pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
bi AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       UNION SELECT doc_b, doc_a FROM pairs),
cc(node, label) AS (
  SELECT a, a FROM (SELECT a FROM bi UNION SELECT b FROM bi)
  UNION
  SELECT bi.b, cc.label FROM cc JOIN bi ON cc.node = bi.a
)
"""
)

SQL_DEDUP_CLUSTERS = (
    _SQL_CC_PREFIX
    + "SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node"
)


def q_dedup_apply(spark, sf_dir):
    """The dedup APPLY step: cluster labels → per-doc keep/drop verdicts
    (canonical = min-id member, which IS the connected-components label,
    so no extra aggregate); unclustered docs keep themselves via the
    left join."""
    u = _docs_with_variants(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(u, num_perm=8, bands=4, k=5)
    return D.dedup_apply(u, D.connected_components(pairs))


_SQL_CC_CLUSTERS_CTE = (
    _SQL_CC_PREFIX
    + ", clusters AS (SELECT node AS doc_id, min(label) AS cluster_id"
    + " FROM cc GROUP BY node)\n"
)

SQL_DEDUP_APPLY = (
    _SQL_CC_CLUSTERS_CTE
    + """
SELECT u.doc_id,
       coalesce(c.cluster_id, u.doc_id) AS canonical_id,
       coalesce(c.cluster_id, u.doc_id) = u.doc_id AS keep
FROM u LEFT JOIN clusters c USING (doc_id)
"""
)


def q_dedup_apply_longest(spark, sf_dir):
    """Quality-aware dedup apply: the cluster representative is the
    LONGEST member (ties → min id) via a row_number window partitioned
    by cluster — near-dup clusters are shallow, so the window never
    sees a skewed or global partition."""
    u = _docs_with_variants(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(u, num_perm=8, bands=4, k=5)
    return D.dedup_apply(u, D.connected_components(pairs), text_col="text")


SQL_DEDUP_APPLY_LONGEST = (
    _SQL_CC_CLUSTERS_CTE
    + """
, members AS (
  SELECT c.doc_id, c.cluster_id, length(u.text) AS n
  FROM clusters c JOIN u USING (doc_id)
),
reps AS (
  SELECT cluster_id, doc_id AS rep
  FROM (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY n DESC, doc_id) AS rn
        FROM members)
  WHERE rn = 1
)
SELECT u.doc_id,
       coalesce(r.rep, u.doc_id) AS canonical_id,
       coalesce(r.rep, u.doc_id) = u.doc_id AS keep
FROM u LEFT JOIN clusters c USING (doc_id)
       LEFT JOIN reps r ON c.cluster_id = r.cluster_id
"""
)


def q_dedup_salted_count(spark, sf_dir):
    """Skew-safe two-phase (salted) aggregation: exact-dup counts per
    content fingerprint where hot keys would bottleneck single reducers."""
    d = _docs_with_variants(spark, sf_dir).select(
        D.fingerprint(F.col("text")).alias("fp")
    )
    return D.salted_group_count(d, "fp", salt_buckets=8)


SQL_DEDUP_SALTED_COUNT = f"""
SELECT md5({_NORM_SQL.format(c='text')}) AS fp, count(*) AS n_rows
FROM ({_SQL_VARIANTS})
GROUP BY 1
"""


def q_dedup_simhash(spark, sf_dir):
    """SimHash signatures (32-bit, 4-char shingles) as bitstrings."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return D.simhash_signatures(docs, bits=32, k=4)


def _sql_simhash(bits: int = 32) -> str:
    h = _sql_h64("sh", "simhash")
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    chars = " || ".join(
        f"CASE WHEN v{b} > 0 THEN '1' ELSE '0' END" for b in range(bits - 1, -1, -1)
    )
    return f"""
WITH sh AS ({_sql_shingles("(SELECT doc_id, text FROM documents WHERE doc_id < 100)", k=4)}),
hashed AS (SELECT doc_id, {h} AS h FROM sh),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
SELECT doc_id, {chars} AS simhash FROM votes
"""


SQL_DEDUP_SIMHASH = _sql_simhash(32)


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact 5-gram Jaccard pairs (shingle self-join) over a bounded
    universe; at scale this runs on LSH candidates only."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    return D.ngram_jaccard_pairs(docs, k=5, threshold=0.2)


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH sh AS ({_sql_shingles("(SELECT doc_id, text FROM documents WHERE doc_id < 80)")}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
  round(CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter), 4) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) >= 0.2
"""


_SQL_COSINE = """
list_sum(list_transform(list_zip({a}, {b}),
         s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
/ (sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
 * sqrt(list_sum(list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
"""


def q_dedup_embedding_cos(spark, sf_dir):
    """Embedding-cosine near-dup pairs (threshold 0.3, bounded universe)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    return D.embedding_near_pairs(emb, threshold=0.3)


SQL_DEDUP_EMBEDDING_COS = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round({_SQL_COSINE.format(a='a.embedding', b='b.embedding')}, 4) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_SQL_COSINE.format(a='a.embedding', b='b.embedding')} >= 0.3
"""


def q_dedup_paragraphs(spark, sf_dir):
    """Cross-document paragraph dedup: synthesize a corpus where every
    doc shares one boilerplate paragraph (the site-footer case) plus its
    own body — the footer must survive only in its first carrier."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    synth = F.concat(
        F.lit("Shared footer boilerplate paragraph.\n\n"),
        F.substring("text", 1, 120),
        F.lit("\n\nDoc-specific tail "),
        F.col("doc_id").cast("string"),
    )
    out = D.dedup_paragraphs(d.select("doc_id", synth.alias("text")))
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        F.length("clean_text").alias("clean_len"),
        "n_paras",
        F.col("n_paras_kept").cast("long").alias("n_paras_kept"),
    )


SQL_DEDUP_PARAGRAPHS = f"""
WITH u AS (
  SELECT doc_id,
    'Shared footer boilerplate paragraph.' || chr(10) || chr(10)
    || substr(text, 1, 120) || chr(10) || chr(10)
    || 'Doc-specific tail ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents WHERE doc_id < 200
),
p AS (
  SELECT doc_id, CAST(i AS INT) - 1 AS idx,
         parts[CAST(i AS INT)] AS para
  FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS parts FROM u),
       range(1, 100) t(i)
  WHERE i <= len(parts) AND trim(parts[CAST(i AS INT)]) <> ''
),
m AS (
  SELECT doc_id, idx, para,
    row_number() OVER (
      PARTITION BY md5({_NORM_SQL.format(c='para')})
      ORDER BY doc_id, idx) AS rn
  FROM p
)
SELECT doc_id,
  md5(string_agg(CASE WHEN rn = 1 THEN para END, chr(10) || chr(10)
                 ORDER BY idx)) AS clean_md5,
  CAST(length(string_agg(CASE WHEN rn = 1 THEN para END, chr(10) || chr(10)
                          ORDER BY idx)) AS INT) AS clean_len,
  count(*) AS n_paras,
  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_paras_kept
FROM m GROUP BY doc_id
"""


def q_strip_boilerplate(spark, sf_dir):
    """Site-scoped boilerplate stripping: every page of a domain carries
    that domain's nav + copyright paragraphs (frequency 100% > 50%
    threshold → dropped from EVERY page, unlike first-occurrence dedup)
    plus a unique body paragraph that must survive."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    domain = F.concat(
        F.lit("site"), (F.col("doc_id") % 5).cast("string"), F.lit(".example.com")
    )
    synth = F.concat(
        F.lit("Navigation menu for "), domain,
        F.lit("\n\n"), F.substring("text", 1, 120),
        F.lit("\n\nCopyright "), domain,
    )
    out = D.strip_domain_boilerplate(
        d.select("doc_id", domain.alias("domain"), synth.alias("text"))
    )
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        F.length("clean_text").alias("clean_len"),
        "n_paras",
        F.col("n_paras_kept").cast("long").alias("n_paras_kept"),
    )


SQL_STRIP_BOILERPLATE = f"""
WITH u AS (
  SELECT doc_id,
    'site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com' AS domain,
    'Navigation menu for site' || CAST(doc_id % 5 AS VARCHAR)
      || '.example.com' || chr(10) || chr(10)
      || substr(text, 1, 120) || chr(10) || chr(10)
      || 'Copyright site' || CAST(doc_id % 5 AS VARCHAR) || '.example.com'
      AS text
  FROM documents WHERE doc_id < 200
),
p AS (
  SELECT doc_id, domain, CAST(i AS INT) - 1 AS idx,
         parts[CAST(i AS INT)] AS para
  FROM (SELECT doc_id, domain,
               string_split(text, chr(10) || chr(10)) AS parts FROM u),
       range(1, 100) t(i)
  WHERE i <= len(parts) AND trim(parts[CAST(i AS INT)]) <> ''
),
pf AS (
  SELECT doc_id, domain, idx, para,
         md5({_NORM_SQL.format(c='para')}) AS fp
  FROM p
),
dom AS (SELECT domain, count(DISTINCT doc_id) AS n_dom_pages FROM u GROUP BY 1),
fpp AS (SELECT domain, fp, count(DISTINCT doc_id) AS n_fp_pages
        FROM pf GROUP BY 1, 2),
bp AS (
  SELECT fpp.domain, fpp.fp
  FROM fpp JOIN dom ON fpp.domain = dom.domain
  WHERE n_fp_pages >= 2 AND n_fp_pages / n_dom_pages > 0.5
),
m AS (
  SELECT pf.doc_id, pf.idx, pf.para,
         (bp.fp IS NULL) AS kept
  FROM pf LEFT JOIN bp ON pf.domain = bp.domain AND pf.fp = bp.fp
)
SELECT doc_id,
  md5(string_agg(CASE WHEN kept THEN para END, chr(10) || chr(10)
                 ORDER BY idx)) AS clean_md5,
  CAST(length(string_agg(CASE WHEN kept THEN para END, chr(10) || chr(10)
                          ORDER BY idx)) AS INT) AS clean_len,
  count(*) AS n_paras,
  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_paras_kept
FROM m GROUP BY doc_id
"""


def q_dedup_dup_spans(spark, sf_dir):
    """Cross-document exact duplicate spans (windowed ExactSubstr, Lee et
    al. 2022) over the dup-variant universe: every original/variant pair
    shares its full normalized text, and template docs share sentences —
    the merged (doc_id, span_start, span_end) regions must match the
    oracle's identical window-hash + gaps-and-islands construction."""
    return D.duplicate_spans(
        _docs_with_variants(spark, sf_dir), k=40, stride=10
    )


def _sql_dup_spans(k: int = 40, stride: int = 10, anchor_w: int = 8) -> str:
    hb = "CAST(('0x' || substr(md5(substr(t, CAST(pos AS INT), {k})), 1, 10)) AS BIGINT)".format(k=k)
    anchor = (
        "CAST(('0x' || substr(md5(substr(t, CAST(i AS INT), {w})), 1, 10))"
        " AS BIGINT) % {s} = 0"
    ).format(w=anchor_w, s=stride)
    return f"""
WITH u AS ({_SQL_VARIANTS}),
n AS (SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM u),
wins AS (
  SELECT doc_id, pos, {hb} AS h
  FROM n, unnest(list_filter(range(1, greatest(length(t) - {k - 1}, 1) + 1),
                 i -> {anchor})) AS r(pos)
),
dup AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) > 1),
marked AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (h)),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos > coalesce(max(pos + {k - 1}) OVER (
        PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      THEN 1 ELSE 0 END AS new_grp
  FROM marked
),
grps AS (
  SELECT doc_id, pos,
    sum(new_grp) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM isl
)
SELECT doc_id, min(pos) AS span_start,
  CAST(max(pos) + {k - 1} AS BIGINT) AS span_end,
  CAST(max(pos) + {k - 1} - min(pos) + 1 AS BIGINT) AS span_len
FROM grps GROUP BY doc_id, grp
"""


SQL_DEDUP_DUP_SPANS = _sql_dup_spans()


def q_dedup_span_remove(spark, sf_dir):
    """Exact-substring dedup APPLY (Lee et al. 2022 remove-all-but-one)
    over the dup-variant universe: the corpus-first occurrence of each
    duplicated window survives, every later occurrence is cut out and
    the surviving segments are stitched back — variants of a doc lose
    their whole body (clean_text = ''), originals keep theirs, and
    template-shared sentences survive only in the lowest-id doc.
    Oracle replays the identical keeper election + islands merge +
    segment stitching relationally."""
    return D.remove_duplicate_spans(
        _docs_with_variants(spark, sf_dir), k=40, stride=10
    )


def _sql_span_remove(k: int = 40, stride: int = 10, anchor_w: int = 8) -> str:
    hb = "CAST(('0x' || substr(md5(substr(t, CAST(pos AS INT), {k})), 1, 10)) AS BIGINT)".format(k=k)
    anchor = (
        "CAST(('0x' || substr(md5(substr(t, CAST(i AS INT), {w})), 1, 10))"
        " AS BIGINT) % {s} = 0"
    ).format(w=anchor_w, s=stride)
    return f"""
WITH u AS ({_SQL_VARIANTS}),
n AS (SELECT doc_id, {_NORM_SQL.format(c='text')} AS t FROM u),
wins AS (
  SELECT doc_id, pos, {hb} AS h
  FROM n, unnest(list_filter(range(1, greatest(length(t) - {k - 1}, 1) + 1),
                 i -> {anchor})) AS r(pos)
),
dup AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) > 1),
marked AS (SELECT w.doc_id, w.pos, w.h FROM wins w JOIN dup USING (h)),
rem AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
      row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
    FROM marked) WHERE rn > 1
),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN pos > coalesce(max(pos + {k - 1}) OVER (
        PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      THEN 1 ELSE 0 END AS new_grp
  FROM rem
),
grps AS (
  SELECT doc_id, pos,
    sum(new_grp) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM isl
),
spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {k - 1} AS e
  FROM grps GROUP BY doc_id, grp
),
gaps AS (
  SELECT doc_id,
    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s) + 1, 1) AS seg_s,
    s - 1 AS seg_e
  FROM spans
  UNION ALL
  SELECT doc_id, max(e) + 1 AS seg_s, NULL AS seg_e FROM spans GROUP BY doc_id
),
segs AS (
  SELECT g.doc_id, g.seg_s,
    substr(n.t, CAST(g.seg_s AS INT),
           CAST(least(coalesce(g.seg_e, length(n.t)), length(n.t))
                - g.seg_s + 1 AS INT)) AS sub
  FROM gaps g JOIN n USING (doc_id)
  WHERE g.seg_s <= least(coalesce(g.seg_e, length(n.t)), length(n.t))
),
asm AS (
  SELECT doc_id, string_agg(sub, '' ORDER BY seg_s) AS clean FROM segs
  GROUP BY doc_id
),
st AS (
  SELECT s.doc_id,
    sum(least(s.e, length(n.t)) - s.s + 1) AS removed_chars,
    count(*) AS n_spans
  FROM spans s JOIN n USING (doc_id) GROUP BY s.doc_id
)
SELECT n.doc_id,
  CASE WHEN st.doc_id IS NOT NULL THEN coalesce(asm.clean, '') ELSE n.t END
    AS clean_text,
  CAST(coalesce(st.removed_chars, 0) AS BIGINT) AS removed_chars,
  CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans_removed
FROM n
LEFT JOIN asm USING (doc_id)
LEFT JOIN st ON n.doc_id = st.doc_id
"""


SQL_DEDUP_SPAN_REMOVE = _sql_span_remove()


def q_dedup_verified_lsh(spark, sf_dir):
    """The composed 100-TB near-dup pipeline: MinHash-LSH candidates
    (bucketed band join) → exact n-gram Jaccard verification restricted
    to the candidates (operators.dedup.verified_near_pairs) — no
    all-pairs stage anywhere."""
    return D.verified_near_pairs(
        _docs_with_variants(spark, sf_dir), num_perm=8, bands=4, k=5, threshold=0.2
    )


SQL_DEDUP_VERIFIED_LSH = (
    _SQL_SIGS_VARIANTS
    + """
, cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
shh AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(sh), 1, 10)) AS BIGINT) AS hb
  FROM sh
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN shh a ON a.doc_id = c.doc_a
  JOIN shh b ON b.doc_id = c.doc_b AND b.hb = a.hb
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
        / (na.n_sh + nb.n_sh - coalesce(i.n_inter, 0)), 4) AS jaccard
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
JOIN sizes na ON na.doc_id = c.doc_a
JOIN sizes nb ON nb.doc_id = c.doc_b
WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE)
      / (na.n_sh + nb.n_sh - coalesce(i.n_inter, 0)) >= 0.2
"""
)


def q_text_decontaminate_fuzzy(spark, sf_dir):
    """FUZZY decontamination: the 'benchmark' is a paraphrase-style
    edit of every 11th document ('Note: ' prefix — verbatim 13-grams
    survive edits like this, so the exact rule would still catch these,
    but shortened/reworded leaks would not); MinHash-LSH crossmatch
    against the broadcast benchmark, exact shingle-Jaccard verification
    ≥ 0.5 on the candidates only.

    The corpus is spread to defaultParallelism before signing: the
    small-sf parquet is a single row group (scan parallelism 1), which
    would serialize the CPU-heavy per-doc MinHash; at scale the scan
    already yields many partitions and the spread is a no-op-sized
    shuffle relative to the signature stage it feeds."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    bench = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 50000).alias("bench_id"),
        F.concat(F.lit("Note: "), F.col("text")).alias("text"),
    )
    return D.fuzzy_decontaminate(docs, bench, threshold=0.5)


def _sql_banded(sig_src: str, bands: int = 4) -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(CAST(mh{2 * b} AS VARCHAR) || '_' || CAST(mh{2 * b + 1} AS VARCHAR)) AS bh "
        f"FROM {sig_src}"
        for b in range(bands)
    )


SQL_TEXT_DECONTAMINATE_FUZZY = f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
bench AS (
  SELECT doc_id + 50000 AS doc_id, 'Note: ' || text AS text
  FROM documents WHERE doc_id % 11 = 0
),
csh AS ({_sql_shingles("corpus")}),
bsh AS ({_sql_shingles("bench")}),
csigs AS (SELECT doc_id, {_sql_minhash_mins(8)} FROM csh GROUP BY doc_id),
bsigs AS (SELECT doc_id, {_sql_minhash_mins(8)} FROM bsh GROUP BY doc_id),
cbanded AS ({_sql_banded("csigs")}),
cbands AS (
  SELECT doc_id, band, bh FROM (
    SELECT *, row_number() OVER (PARTITION BY band, bh ORDER BY doc_id) AS rn
    FROM cbanded)
  WHERE rn <= 500
),
bbanded AS ({_sql_banded("bsigs")}),
pairs AS (
  SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
  FROM cbands c JOIN bbanded b ON c.band = b.band AND c.bh = b.bh
),
cshh AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(sh), 1, 10)) AS BIGINT) AS hb
  FROM csh
),
bshh AS (
  SELECT DISTINCT doc_id AS bench_id,
         CAST(('0x' || substr(md5(sh), 1, 10)) AS BIGINT) AS hb
  FROM bsh
),
csizes AS (SELECT doc_id, count(*) AS n_sh FROM cshh GROUP BY doc_id),
bsizes AS (SELECT bench_id, count(*) AS n_sh FROM bshh GROUP BY bench_id),
inter AS (
  SELECT p.doc_id, p.bench_id, count(*) AS n_inter
  FROM pairs p
  JOIN cshh a ON a.doc_id = p.doc_id
  JOIN bshh b ON b.bench_id = p.bench_id AND b.hb = a.hb
  GROUP BY 1, 2
)
SELECT p.doc_id, p.bench_id,
  round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
        / (ca.n_sh + cb.n_sh - coalesce(i.n_inter, 0)), 4) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.doc_id = p.doc_id AND i.bench_id = p.bench_id
JOIN csizes ca ON ca.doc_id = p.doc_id
JOIN bsizes cb ON cb.bench_id = p.bench_id
WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE)
      / (ca.n_sh + cb.n_sh - coalesce(i.n_inter, 0)) >= 0.5
"""


def q_dedup_embedding_bucketed(spark, sf_dir):
    """Scale path for embedding near-dup: sign-LSH bucketed self-join on
    the FULL embeddings table (no bounded-universe cap needed — the pair
    space is per-bucket, not global)."""
    return D.embedding_near_pairs_bucketed(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, bits=8
    )


SQL_DEDUP_EMBEDDING_BUCKETED = f"""
WITH b0 AS (
  SELECT vec_id, embedding, CAST({{bucket}} AS BIGINT) AS bucket FROM embeddings
),
b AS (
  -- mirror of embedding_near_pairs_bucketed's max_bucket=500 cap
  SELECT vec_id, embedding, bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
    FROM b0)
  WHERE rn <= 500
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
  round({_SQL_COSINE.format(a='a.embedding', b='c.embedding')}, 4) AS cosine
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE {_SQL_COSINE.format(a='a.embedding', b='c.embedding')} >= 0.3
"""


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: prefix-blocked (first 8 signature bits)
    self-join, exact Hamming ≤ 3 inside blocks — the rotate-and-block
    family's first table."""
    return D.simhash_near_pairs(
        _docs_with_variants(spark, sf_dir), bits=32, max_hamming=3, prefix_bits=8
    )


def _sql_simhash_pairs(bits: int = 32, prefix: int = 8, max_h: int = 3) -> str:
    h = _sql_h64("sh", "simhash")
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    chars = " || ".join(
        f"CASE WHEN v{b} > 0 THEN '1' ELSE '0' END" for b in range(bits - 1, -1, -1)
    )
    ham = (
        f"CAST(list_sum(list_transform(range(1, {bits + 1}), i -> "
        f"CASE WHEN substr(a.simhash, CAST(i AS INT), 1) <> "
        f"substr(b.simhash, CAST(i AS INT), 1) THEN 1 ELSE 0 END)) AS INT)"
    )
    return f"""
WITH u AS ({_SQL_VARIANTS}),
sh AS ({_sql_shingles("u", k=4)}),
hashed AS (SELECT doc_id, {h} AS h FROM sh),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
sigs AS (SELECT doc_id, {chars} AS simhash FROM votes),
blocked AS (SELECT doc_id, simhash, substr(simhash, 1, {prefix}) AS blk FROM sigs)
SELECT doc_a, doc_b, hamming FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {ham} AS hamming
  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
) WHERE hamming <= {max_h}
"""


SQL_DEDUP_SIMHASH_PAIRS = _sql_simhash_pairs()


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def q_sim_topk_bruteforce(spark, sf_dir):
    """Brute-force cosine top-3 per query vector (vec_id % 100 == 0)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.cosine_topk_bruteforce(emb, queries, k=3)


SQL_SIM_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    round({_SQL_COSINE.format(a='q.qv', b='e.embedding')}, 4) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE q.query_id <> e.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 3
"""


def q_sim_lsh_buckets(spark, sf_dir):
    """Sign-LSH bucket occupancy histogram (8 bits)."""
    return S.lsh_bucket_histogram(_t(spark, sf_dir, "embeddings"), bits=8)


def _sql_bucket(bits: int = 8) -> str:
    return " + ".join(
        f"CASE WHEN CAST(embedding[{j + 1}] AS DOUBLE) > 0.0 THEN {1 << j} ELSE 0 END"
        for j in range(bits)
    )


_SQL_BUCKET = _sql_bucket(8)


def _sql_topk_lsh(bits: int) -> str:
    return f"""
WITH b AS (
  SELECT vec_id, embedding, CAST({_sql_bucket(bits)} AS BIGINT) AS bucket FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    round({_SQL_COSINE.format(a='q.qv', b='e.embedding')}, 4) AS cosine
  FROM b e JOIN q ON e.bucket = q.bucket
  WHERE q.query_id <> e.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 3
"""

SQL_SIM_LSH_BUCKETS = f"""
SELECT CAST({_SQL_BUCKET} AS BIGINT) AS bucket, count(*) AS n_vectors
FROM embeddings GROUP BY 1
"""

# deferred: the bucketed near-dup oracle needs _SQL_BUCKET, defined here
SQL_DEDUP_EMBEDDING_BUCKETED = SQL_DEDUP_EMBEDDING_BUCKETED.format(
    bucket=_SQL_BUCKET
)


def q_dedup_embedding_overflow(spark, sf_dir):
    """Sign-LSH hot-bucket overflow accounting for embedding near-dup:
    buckets over the cap (2 here, so the 500-vector fixture overflows)
    and the membership the capped within-bucket join drops."""
    return D.embedding_bucket_overflow(
        _t(spark, sf_dir, "embeddings"), bits=8, max_bucket=2
    )


SQL_DEDUP_EMBEDDING_OVERFLOW = f"""
SELECT CAST({_SQL_BUCKET} AS BIGINT) AS bucket,
       count(*) AS n_members, count(*) - 2 AS n_dropped
FROM embeddings GROUP BY 1 HAVING count(*) > 2
"""


def q_sim_topk_lsh(spark, sf_dir):
    """ANN top-3 within sign-LSH buckets (recall<1 scale path)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return S.cosine_topk_lsh(emb, queries, k=3, bits=8)


SQL_SIM_TOPK_LSH = _sql_topk_lsh(8)  # same text sim_recall's lsh8 arm uses


def q_sim_topk_ivf(spark, sf_dir):
    """IVF-style ANN top-3: seeded coarse centroids → argmin-L2 cell
    assignment → nprobe=1 search inside the query's cell.  The scale path
    for embedding search (index bucketed by cent_id; k-means drop-in for
    the seeded quantizer)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk_ivf(
        emb, F.col("vec_id") % 100 == 0, k=3, n_centroids=8
    )


_SQL_L2SQ = """
list_sum(list_transform(list_zip({a}, {b}),
         s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))
            * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))))
"""


def _sql_ivf_assign(csrc: str) -> str:
    """Argmin-L2 cell assignment (the SQL twin of ivf_assign): round-6
    distance with cent_id tie-break — ONE definition shared by the
    k-means training iterations and the final probe assignment, so the
    contract cannot desynchronize."""
    return f"""
  SELECT vec_id, embedding, cent_id FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
      row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round({_SQL_L2SQ.format(a='e.embedding', b='c.cvec')}, 6), c.cent_id
      ) AS rn
    FROM embeddings e CROSS JOIN {csrc} c) WHERE rn = 1
"""


def _sql_kmeans_cte(k: int = 8, dim: int = 64) -> str:
    """CTE chain replaying kmeans_centroids exactly: seeded init + two
    unrolled Lloyd iterations with exact-decimal per-dimension means."""
    mean = ", ".join(
        f"round(CAST(sum(CAST(CAST(embedding[{i + 1}] AS DOUBLE)"
        f" AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)"
        for i in range(dim)
    )
    return f"""
cents0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS cent_id, embedding AS cvec
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {k})
),
a1 AS ({_sql_ivf_assign('cents0')}),
c1 AS (SELECT cent_id, [{mean}] AS cvec FROM a1 GROUP BY cent_id),
a2 AS ({_sql_ivf_assign('c1')}),
c2 AS (SELECT cent_id, [{mean}] AS cvec FROM a2 GROUP BY cent_id)
"""


def _sql_pq_cte(m: int = 4, ksub: int = 8, dim: int = 64) -> str:
    """CTE chain replaying pq_train + pq_encode exactly: per subspace a
    seeded init + two unrolled Lloyd iterations over the embedding
    SLICE (same round-6 assign, same exact-decimal per-dimension
    means), codebooks unioned with sub_id tags, then the per-(vec, sub)
    argmin encode."""
    dsub = dim // m
    parts = []
    for s in range(m):
        off = s * dsub
        sl = f"list_slice(e.embedding, {off + 1}, {off + dsub})"
        mean = ", ".join(
            f"round(CAST(sum(CAST(CAST(embedding[{off + i + 1}] AS DOUBLE)"
            f" AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)"
            for i in range(dsub)
        )

        def assign(csrc: str) -> str:
            return f"""
  SELECT vec_id, embedding, cent_id FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
      row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round({_SQL_L2SQ.format(a=sl, b='c.cvec')}, 6), c.cent_id
      ) AS rn
    FROM embeddings e CROSS JOIN {csrc} c) WHERE rn = 1
"""

        parts.append(f"""
p{s}c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS cent_id,
         list_slice(embedding, {off + 1}, {off + dsub}) AS cvec
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {ksub})
),
p{s}a1 AS ({assign(f'p{s}c0')}),
p{s}c1 AS (SELECT cent_id, [{mean}] AS cvec FROM p{s}a1 GROUP BY cent_id),
p{s}a2 AS ({assign(f'p{s}c1')}),
p{s}c2 AS (SELECT cent_id, [{mean}] AS cvec FROM p{s}a2 GROUP BY cent_id)""")
    union = "\n  UNION ALL\n".join(
        f"  SELECT {s} AS sub_id, cent_id, cvec FROM p{s}c2" for s in range(m)
    )
    slc = f"list_slice(e.embedding, cb.sub_id * {dsub} + 1, cb.sub_id * {dsub} + {dsub})"
    return f"""{','.join(parts)},
pqcb AS (
{union}
),
pqcodes AS (
  SELECT vec_id, sub_id, cent_id AS code FROM (
    SELECT e.vec_id, cb.sub_id, cb.cent_id,
      row_number() OVER (
        PARTITION BY e.vec_id, cb.sub_id
        ORDER BY round({_SQL_L2SQ.format(a=slc, b='cb.cvec')}, 6), cb.cent_id
      ) AS rn
    FROM embeddings e CROSS JOIN pqcb cb) WHERE rn = 1
)"""


def q_sim_pq_codebooks(spark, sf_dir):
    """The trained product-quantization model itself (Jégou et al.
    2011): per-subspace Lloyd codebooks (4 subspaces × 8 centroids ×
    16 dims) under the same deterministic seeded-init + exact-decimal-
    mean protocol as the IVF quantizer, exploded per dimension so the
    gate value-hashes the full model."""
    cb = S.pq_train(_t(spark, sf_dir, "embeddings"), m=4, ksub=8, iters=2)
    return cb.select(
        "sub_id", "cent_id", F.posexplode("cvec").alias("dim_idx", "value")
    )


SQL_SIM_PQ_CODEBOOKS = f"""
WITH {_sql_pq_cte()}
SELECT sub_id, cent_id, CAST(i - 1 AS INT) AS dim_idx,
       cvec[CAST(i AS INT)] AS value
FROM pqcb, range(1, 17) t(i)
"""


def q_sim_pq_codes(spark, sf_dir):
    """PQ ENCODING of the whole corpus: every 64-dim float vector
    compresses to 4 small codes via per-subspace argmin against the
    broadcast codebooks — a pure map-side projection, zero shuffle
    (the 8-32x index compression that keeps a 100-TB ANN index in
    memory).  Exploded to (vec_id, sub_id, code) so the oracle pins
    every single code."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = S.pq_train(emb, m=4, ksub=8, iters=2)
    codes = S.pq_encode(emb, cb)
    return codes.select(
        "vec_id", F.posexplode("codes").alias("sub_id", "code")
    ).select("vec_id", "sub_id", F.col("code").cast("long").alias("code"))


SQL_SIM_PQ_CODES = f"""
WITH {_sql_pq_cte()}
SELECT vec_id, CAST(sub_id AS INT) AS sub_id, CAST(code AS BIGINT) AS code
FROM pqcodes
"""


def q_sim_pq_topk(spark, sf_dir):
    """Asymmetric-distance (ADC) top-k over the PQ-coded corpus — the
    classic PQ search made relational: a queries × codebooks distance
    TABLE (broadcast-shaped), the coded corpus posexplodes and joins
    the table on (sub, code), one map-side-combined groupBy sums the
    exact-DECIMAL partial distances, row_number takes k=3 under the
    total (adc ASC, neighbor ASC) order."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = S.pq_train(emb, m=4, ksub=8, iters=2)
    return S.pq_adc_topk(emb, cb, F.col("vec_id") % 100 == 0, k=3)


def _sql_pq_topk(m: int = 4, ksub: int = 8, dim: int = 64) -> str:
    """Standalone (WITH-included) ADC top-3 SQL for the given PQ shape —
    embeddable as a derived table, so recall arms with different
    codebook sizes can coexist in one query."""
    dsub = dim // m
    return f"""
WITH {_sql_pq_cte(m=m, ksub=ksub, dim=dim)},
qrys AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id % 100 = 0
),
dtab AS (
  SELECT q.query_id, cb.sub_id, cb.cent_id,
    CAST(round({_SQL_L2SQ.format(
        a=f'list_slice(q.qv, cb.sub_id * {dsub} + 1, cb.sub_id * {dsub} + {dsub})',
        b='cb.cvec')}, 6) AS DECIMAL(18,6)) AS d
  FROM qrys q CROSS JOIN pqcb cb
),
adc AS (
  SELECT dt.query_id, c.vec_id AS neighbor_id, sum(dt.d) AS adc
  FROM pqcodes c
  JOIN dtab dt ON dt.sub_id = c.sub_id AND dt.cent_id = c.code
  WHERE dt.query_id <> c.vec_id
  GROUP BY dt.query_id, c.vec_id
)
SELECT query_id, neighbor_id, CAST(adc AS DOUBLE) AS adc_dist,
       CAST(rank AS INT) AS rank
FROM (
  SELECT query_id, neighbor_id, adc,
    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id)
      AS rank
  FROM adc)
WHERE rank <= 3
"""


SQL_SIM_PQ_TOPK = _sql_pq_topk()


def q_sim_pq_recall(spark, sf_dir):
    """PQ quality observability ("measure, don't guess", the sim_recall
    twin for the compressed index): recall@3 of ADC search against the
    EXACT squared-L2 top-3 — isolating pure quantization error (ADC
    approximates L2, so L2 truth is the apples-to-apples ground truth).
    On these near-uniform synthetic embeddings a 12-bit code CANNOT
    rank neighbors (recall@3 ~0.13, and sweeping m/ksub/iters moves it
    only within noise) — which is precisely what the dashboard row is
    for: it says the compressed path is NOT safe on this distribution,
    where the same row on clustered real embeddings (where PQ earns its
    keep) clears the bar before anyone ships the index."""
    from pyspark.sql.window import Window

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(S.l2sq_expr(F.col("qv"), F.col("cv")), 6).alias("d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("neighbor_id"))
    truth = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id")
    )
    cb = S.pq_train(emb, m=4, ksub=8, iters=2)
    adc = S.pq_adc_topk(emb, cb, F.col("vec_id") % 100 == 0, k=3).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        truth.join(adc, ["query_id", "neighbor_id"], "left")
        .agg(
            F.count("hit").alias("n_hits"),
            F.count(F.lit(1)).alias("n_truth"),
            F.round(F.count("hit") / F.count(F.lit(1)), 4).alias("recall"),
        )
        .select(F.lit("pq_adc_m4k8").alias("method"), "n_hits", "n_truth", "recall")
    )


def _sql_pq_recall_arm(name: str, ksub: int) -> str:
    return f"""
SELECT '{name}' AS method,
  count(l.neighbor_id) AS n_hits, count(*) AS n_truth,
  round(count(l.neighbor_id) / count(*), 4) AS recall
FROM bf b
LEFT JOIN (SELECT query_id, neighbor_id FROM ({_sql_pq_topk(ksub=ksub)})) l
  ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
"""


SQL_SIM_PQ_RECALL = f"""
WITH tq AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id % 100 = 0
),
bf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT tq.query_id, e.vec_id AS neighbor_id,
      row_number() OVER (
        PARTITION BY tq.query_id
        ORDER BY round({_SQL_L2SQ.format(a='tq.qv', b='e.embedding')}, 6),
                 e.vec_id) AS rn
    FROM tq CROSS JOIN embeddings e WHERE e.vec_id <> tq.query_id)
  WHERE rn <= 3
)
{_sql_pq_recall_arm('pq_adc_m4k8', 8)}
"""


def q_sim_kmeans_centroids(spark, sf_dir):
    """The trained IVF quantizer itself: 2 Lloyd iterations from the
    seeded init, centroids exploded per dimension so the gate value-
    hashes the full trained model (8 cells × 64 dims)."""
    cents = S.kmeans_centroids(_t(spark, sf_dir, "embeddings"), n_centroids=8, iters=2)
    return cents.select(
        "cent_id", F.posexplode("cvec").alias("dim_idx", "value")
    )


SQL_SIM_KMEANS_CENTROIDS = f"""
WITH {_sql_kmeans_cte()}
SELECT cent_id, CAST(i - 1 AS INT) AS dim_idx, cvec[CAST(i AS INT)] AS value
FROM c2, range(1, 65) t(i)
"""


def q_sim_topk_ivf_kmeans(spark, sf_dir):
    """IVF ANN with the REAL trained quantizer: kmeans cells instead of
    the seeded stand-in, same nprobe=1 probe + exact in-cell cosine."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk_ivf(
        emb, F.col("vec_id") % 100 == 0, k=3, n_centroids=8, quantizer="kmeans"
    )


SQL_SIM_TOPK_IVF_KMEANS = f"""
WITH {_sql_kmeans_cte()},
assigned AS ({_sql_ivf_assign('c2')}),
q AS (
  SELECT vec_id AS query_id, embedding AS qv, cent_id
  FROM assigned WHERE vec_id % 100 = 0
),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
    round({_SQL_COSINE.format(a='q.qv', b='a.embedding')}, 4) AS cosine
  FROM assigned a JOIN q ON a.cent_id = q.cent_id
  WHERE q.query_id <> a.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 3
"""

SQL_SIM_TOPK_IVF = f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS cent_id, embedding AS cvec
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
),
assigned AS (
  SELECT vec_id, embedding, cent_id FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
      row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round({_SQL_L2SQ.format(a='e.embedding', b='c.cvec')}, 6), c.cent_id
      ) AS rn
    FROM embeddings e CROSS JOIN cents c)
  WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS qv, cent_id
  FROM assigned WHERE vec_id % 100 = 0
),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
    round({_SQL_COSINE.format(a='q.qv', b='a.embedding')}, 4) AS cosine
  FROM assigned a JOIN q ON a.cent_id = q.cent_id
  WHERE q.query_id <> a.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 3
"""


def q_sim_topk_ivf_probe2(spark, sf_dir):
    """Multi-probe IVF (nprobe=2): the query searches its TWO nearest
    cells — the standard IVF recall lever; candidates double, the
    corpus-side assignment and plan shape stay identical."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.cosine_topk_ivf(
        emb, F.col("vec_id") % 100 == 0, k=3, n_centroids=8, nprobe=2
    )


SQL_SIM_TOPK_IVF_PROBE2 = f"""
WITH cents AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS cent_id, embedding AS cvec
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)
),
ranked AS (
  SELECT e.vec_id, e.embedding, c.cent_id,
    row_number() OVER (
      PARTITION BY e.vec_id
      ORDER BY round({_SQL_L2SQ.format(a='e.embedding', b='c.cvec')}, 6), c.cent_id
    ) AS rn
  FROM embeddings e CROSS JOIN cents c
),
assigned AS (SELECT vec_id, embedding, cent_id FROM ranked WHERE rn = 1),
q AS (
  SELECT vec_id AS query_id, embedding AS qv, cent_id
  FROM ranked WHERE vec_id % 100 = 0 AND rn <= 2
),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
    round({_SQL_COSINE.format(a='q.qv', b='a.embedding')}, 4) AS cosine
  FROM assigned a JOIN q ON a.cent_id = q.cent_id
  WHERE q.query_id <> a.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 3
"""


def q_bitext_mining(spark, sf_dir):
    """Margin-based bitext mining (Artetxe & Schwenk 2019): the two
    'languages' are the even/odd vec_id halves of the embeddings table;
    every cross pair scores cosine / mean(avg-4NN densities), and a
    pair is mined iff it is the MUTUAL best-by-margin and above 1.0.
    Exactness baseline (bits=None, guarded all-pairs); bits=8 is the
    CCMatrix-style LSH-bucketed scale path with the same plan tail."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.bitext_margin_pairs(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=4,
        threshold=1.0,
    )


SQL_BITEXT_MINING = f"""
WITH xs AS (SELECT vec_id AS x_id, embedding AS xv FROM embeddings WHERE vec_id % 2 = 0),
ys AS (SELECT vec_id AS y_id, embedding AS yv FROM embeddings WHERE vec_id % 2 = 1),
scored AS (
  SELECT x_id, y_id,
    round({{cos}}, 6) AS c6
  FROM xs CROSS JOIN ys
),
ranked AS (
  SELECT x_id, y_id, c6,
    row_number() OVER (PARTITION BY x_id ORDER BY c6 DESC, y_id) AS rx,
    row_number() OVER (PARTITION BY y_id ORDER BY c6 DESC, x_id) AS ry
  FROM scored
),
dx AS (
  SELECT x_id, CAST(sum(CAST(c6 AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS dx
  FROM ranked WHERE rx <= 4 GROUP BY x_id
),
dy AS (
  SELECT y_id, CAST(sum(CAST(c6 AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS dy
  FROM ranked WHERE ry <= 4 GROUP BY y_id
),
margins AS (
  SELECT s.x_id, s.y_id, s.c6,
    round(s.c6 / ((dx.dx + dy.dy) / 2), 4) AS margin
  FROM scored s JOIN dx USING (x_id) JOIN dy USING (y_id)
),
best AS (
  SELECT x_id, y_id, c6, margin,
    row_number() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id) AS bx,
    row_number() OVER (PARTITION BY y_id ORDER BY margin DESC, x_id) AS by
  FROM margins
)
SELECT x_id, y_id, round(c6, 4) AS cosine, margin
FROM best WHERE bx = 1 AND by = 1 AND margin >= 1.0
""".format(cos=_SQL_COSINE.format(a="xv", b="yv"))


def q_bitext_mining_lsh(spark, sf_dir):
    """The CCMatrix-style SCALE path of bitext mining: candidates
    restricted to shared sign-LSH buckets (bits=8) instead of all cross
    pairs — the bucket equi-join is the plan that runs at 100 TB, so it
    gets its own oracle gate rather than riding on the all-pairs
    baseline's (r3 verdict item).  The margin denominators average over
    the CANDIDATE neighborhood (as in production FAISS mining); recall
    vs the exact baseline is < 1 by construction — ``bitext_mining``
    stays as the exactness reference."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.bitext_margin_pairs(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        k=4,
        threshold=1.0,
        bits=8,
    )


SQL_BITEXT_MINING_LSH = f"""
WITH xs AS (
  SELECT vec_id AS x_id, embedding AS xv, CAST({_sql_bucket(8)} AS BIGINT) AS bucket
  FROM embeddings WHERE vec_id % 2 = 0),
ys AS (
  SELECT vec_id AS y_id, embedding AS yv, CAST({_sql_bucket(8)} AS BIGINT) AS bucket
  FROM embeddings WHERE vec_id % 2 = 1),
scored AS (
  SELECT x_id, y_id,
    round({{cos}}, 6) AS c6
  FROM xs JOIN ys USING (bucket)
),
ranked AS (
  SELECT x_id, y_id, c6,
    row_number() OVER (PARTITION BY x_id ORDER BY c6 DESC, y_id) AS rx,
    row_number() OVER (PARTITION BY y_id ORDER BY c6 DESC, x_id) AS ry
  FROM scored
),
dx AS (
  SELECT x_id, CAST(sum(CAST(c6 AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS dx
  FROM ranked WHERE rx <= 4 GROUP BY x_id
),
dy AS (
  SELECT y_id, CAST(sum(CAST(c6 AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS dy
  FROM ranked WHERE ry <= 4 GROUP BY y_id
),
margins AS (
  SELECT s.x_id, s.y_id, s.c6,
    round(s.c6 / ((dx.dx + dy.dy) / 2), 4) AS margin
  FROM scored s JOIN dx USING (x_id) JOIN dy USING (y_id)
),
best AS (
  SELECT x_id, y_id, c6, margin,
    row_number() OVER (PARTITION BY x_id ORDER BY margin DESC, y_id) AS bx,
    row_number() OVER (PARTITION BY y_id ORDER BY margin DESC, x_id) AS by
  FROM margins
)
SELECT x_id, y_id, round(c6, 4) AS cosine, margin
FROM best WHERE bx = 1 AND by = 1 AND margin >= 1.0
""".format(cos=_SQL_COSINE.format(a="xv", b="yv"))


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup = k-means cluster
    the embeddings (the REAL trained quantizer, 2 Lloyd iterations),
    cosine pairs WITHIN clusters only, drop the larger id of each pair
    over the cosine threshold → per-vector keep/drop verdicts.  The
    production default is 0.95; the gate runs at 0.35 because the
    synthetic embeddings have no true near-dups (max within-cluster
    cosine ≈ 0.47) — 0.35 sits at the fixture's top percentile so BOTH
    verdict branches are exercised and value-hashed.  Training is
    sample-scale, the assignment is a zero-shuffle map-side argmin, and
    the pair join is Σ O(cluster²) on k-means-balanced cells — the
    embedding-space twin of the MinHash-LSH text path."""
    return D.semdedup_verdicts(
        _t(spark, sf_dir, "embeddings"), threshold=0.35, n_centroids=8, iters=2
    )


SQL_DEDUP_SEMANTIC = f"""
WITH {_sql_kmeans_cte()},
assigned AS ({_sql_ivf_assign('c2')}),
drops AS (
  SELECT DISTINCT b.vec_id AS vid
  FROM assigned a JOIN assigned b
    ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
  WHERE {_SQL_COSINE.format(a='a.embedding', b='b.embedding')} >= 0.35
)
SELECT a.vec_id, a.cent_id, (d.vid IS NULL) AS keep
FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vid
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_sim_recall(spark, sf_dir):
    """ANN quality observability ("measure, don't guess"): recall@3 of
    each approximate method (sign-LSH buckets, seeded IVF, k-means IVF)
    against the exact brute-force top-3 — the dashboard row that tells a
    100-TB operator whether the cheap path is safe to rely on, and shows
    the tuning lever: lsh8 (256 buckets) prunes hardest and misses most;
    lsh4 (16 buckets) trades candidate-set size for recall."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") % 100 == 0)
    truth = S.cosine_topk_bruteforce(emb, queries_df, k=3).select(
        "query_id", "neighbor_id"
    )
    methods = {
        "lsh8": S.cosine_topk_lsh(emb, queries_df, k=3, bits=8),
        "lsh4": S.cosine_topk_lsh(emb, queries_df, k=3, bits=4),
        "ivf": S.cosine_topk_ivf(emb, F.col("vec_id") % 100 == 0, k=3),
        "ivf_probe2": S.cosine_topk_ivf(
            emb, F.col("vec_id") % 100 == 0, k=3, nprobe=2
        ),
        "ivf_kmeans": S.cosine_topk_ivf(
            emb, F.col("vec_id") % 100 == 0, k=3, quantizer="kmeans"
        ),
    }
    outs = []
    for name, df in methods.items():
        hits = df.select(
            "query_id", "neighbor_id", F.lit(1).alias("hit")
        )
        outs.append(
            truth.join(hits, ["query_id", "neighbor_id"], "left")
            .agg(
                F.count("hit").alias("n_hits"),
                F.count(F.lit(1)).alias("n_truth"),
                F.round(F.count("hit") / F.count(F.lit(1)), 4).alias("recall"),
            )
            .select(
                F.lit(name).alias("method"), "n_hits", "n_truth", "recall"
            )
        )
    res = outs[0]
    for df in outs[1:]:
        res = res.unionByName(df)
    return res


def _sql_recall_arm(name: str, approx_sql: str) -> str:
    return f"""
SELECT '{name}' AS method,
  count(l.neighbor_id) AS n_hits, count(*) AS n_truth,
  round(count(l.neighbor_id) / count(*), 4) AS recall
FROM bf b LEFT JOIN (SELECT query_id, neighbor_id FROM ({approx_sql})) l
  ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
"""


SQL_SIM_RECALL = f"""
WITH bf AS (SELECT query_id, neighbor_id FROM ({SQL_SIM_TOPK}))
{_sql_recall_arm('lsh8', _sql_topk_lsh(8))}
UNION ALL
{_sql_recall_arm('lsh4', _sql_topk_lsh(4))}
UNION ALL
{_sql_recall_arm('ivf', SQL_SIM_TOPK_IVF)}
UNION ALL
{_sql_recall_arm('ivf_probe2', SQL_SIM_TOPK_IVF_PROBE2)}
UNION ALL
{_sql_recall_arm('ivf_kmeans', SQL_SIM_TOPK_IVF_KMEANS)}
"""


def q_text_lang_id(spark, sf_dir):
    """Script-ratio language ID per document."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", T.lang_guess_expr(F.col("text")).alias("lang_guess")
    )


_SQL_CNT = "len(regexp_extract_all(text, '{p}'))"

SQL_TEXT_LANG_ID = f"""
WITH c AS (
  SELECT doc_id, lang,
    {_SQL_CNT.format(p='[぀-ゟ]')} AS hira,
    {_SQL_CNT.format(p='[゠-ヿ]')} AS kata,
    {_SQL_CNT.format(p='[一-鿿]')} AS cjk,
    {_SQL_CNT.format(p='[가-힯]')} AS hang,
    {_SQL_CNT.format(p='[Ѐ-ӿ]')} AS cyr,
    {_SQL_CNT.format(p='[A-Za-z]')} AS lat
  FROM documents
)
SELECT doc_id, lang,
  CASE WHEN hira + kata + cjk + hang + cyr + lat = 0 THEN 'unknown'
       WHEN (hira + kata) > 0.05 * (hira + kata + cjk + hang + cyr + lat) THEN 'ja'
       WHEN hang > 0.3 * (hira + kata + cjk + hang + cyr + lat) THEN 'ko'
       WHEN cjk > 0.3 * (hira + kata + cjk + hang + cyr + lat) THEN 'zh'
       WHEN cyr > 0.3 * (hira + kata + cjk + hang + cyr + lat) THEN 'ru'
       WHEN lat > 0 THEN 'en'
       ELSE 'unknown' END AS lang_guess
FROM c
"""


_LANGID_WEIGHTS = _os.path.join(
    _os.path.dirname(_os.path.abspath(__file__)), "fixtures", "langid_weights.parquet"
)


def q_lang_id_confusion(spark, sf_dir):
    """Language-ID quality observability (the sim_recall/dedup_recall
    pattern for the lang gate): the confusion matrix of the script-ratio
    guesser vs the declared page language, plus per-cell share of the
    declared language's rows — the dashboard that says which shards the
    cheap script heuristic can route and which need the trained
    trigram model (text_lang_id2).  One groupBy over codegen'd
    expressions; a window per declared language for the shares."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").select(
        "lang", T.lang_guess_expr(F.col("text")).alias("lang_guess")
    )
    cells = docs.groupBy("lang", "lang_guess").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "lang_guess",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4).alias("share"),
        (F.col("lang") == F.col("lang_guess")).alias("agree"),
    )


SQL_LANG_ID_CONFUSION = f"""
WITH c AS (
  SELECT lang,
    {_SQL_CNT.format(p='[぀-ゟ]')} AS hira,
    {_SQL_CNT.format(p='[゠-ヿ]')} AS kata,
    {_SQL_CNT.format(p='[一-鿿]')} AS cjk,
    {_SQL_CNT.format(p='[가-힯]')} AS hang,
    {_SQL_CNT.format(p='[Ѐ-ӿ]')} AS cyr,
    {_SQL_CNT.format(p='[A-Za-z]')} AS lat
  FROM documents
),
g AS (
  SELECT lang,
    CASE WHEN hira + kata + cjk + hang + cyr + lat = 0 THEN 'unknown'
         WHEN (hira + kata) > 0.05 * (hira + kata + cjk + hang + cyr + lat) THEN 'ja'
         WHEN hang > 0.3 * (hira + kata + cjk + hang + cyr + lat) THEN 'ko'
         WHEN cjk > 0.3 * (hira + kata + cjk + hang + cyr + lat) THEN 'zh'
         WHEN cyr > 0.3 * (hira + kata + cjk + hang + cyr + lat) THEN 'ru'
         WHEN lat > 0 THEN 'en'
         ELSE 'unknown' END AS lang_guess
  FROM c
),
cells AS (
  SELECT lang, lang_guess, count(*) AS n_docs FROM g GROUP BY lang, lang_guess
)
SELECT lang, lang_guess, n_docs,
  round(n_docs / sum(n_docs) OVER (PARTITION BY lang), 4) AS share,
  lang = lang_guess AS agree
FROM cells
"""


def q_text_lang_id2(spark, sf_dir):
    """fastText-style language ID (operators/langid.py): hashed
    char-trigram naive-Bayes scorer with frozen deterministic weights —
    distinguishes Latin-script languages the script-ratio heuristic
    (text_lang_id) collapses to 'en' (A/B on the labeled fixture set:
    17/17 vs 6/17, tests/test_langid.py).  Oracle = full SQL replay of
    the hash, the broadcast weight join, the integer score sum, and the
    argmax over the SAME committed weight table."""
    from pdf_ocr_spark.operators.langid import lang_id2

    weights = spark.read.parquet(_LANGID_WEIGHTS)
    docs = _t(spark, sf_dir, "documents")
    return lang_id2(docs, weights)


SQL_TEXT_LANG_ID2 = f"""
WITH d AS (SELECT doc_id, substr(text, 1, 200) AS t FROM documents),
tri AS (
  SELECT d.doc_id,
         (unicode(substr(d.t, CAST(u.i AS INT), 1)) * 961
          + unicode(substr(d.t, CAST(u.i + 1 AS INT), 1)) * 31
          + unicode(substr(d.t, CAST(u.i + 2 AS INT), 1))) % 4096 AS bucket
  FROM d, UNNEST(generate_series(1, greatest(length(d.t) - 2, 0))) AS u(i)
),
sc AS (
  SELECT tri.doc_id, w.lang, SUM(w.weight) AS score
  FROM tri JOIN read_parquet('{_LANGID_WEIGHTS}') w ON w.bucket = tri.bucket
  GROUP BY tri.doc_id, w.lang
),
best AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
  FROM sc
)
SELECT d0.doc_id, COALESCE(b.lang, 'unknown') AS lang_pred
FROM (SELECT doc_id FROM documents) d0
LEFT JOIN (SELECT doc_id, lang FROM best WHERE rn = 1) b ON b.doc_id = d0.doc_id
"""


def q_text_quality(spark, sf_dir):
    """Quality-gate features per document (length/alpha/punct/stopwords)."""
    return T.quality_features(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    )


_STOPWORD_PAT = r"(?i)\b(the|a|an|and|or|of|to|in|is|are)\b"
_CNT_TOKENS = _SQL_CNT.format(p=T.TOKEN_PATTERN)
_CNT_ALPHA = _SQL_CNT.format(p="[A-Za-z]")
_CNT_PUNCT = _SQL_CNT.format(p="[.,;:!?]")
_CNT_STOP = _SQL_CNT.format(p=_STOPWORD_PAT)

SQL_TEXT_QUALITY = f"""
SELECT doc_id,
  length(text) AS n_chars_exact,
  {_CNT_TOKENS} AS n_tokens,
  round(CAST({_CNT_ALPHA} AS DOUBLE) / length(text), 4) AS alpha_ratio,
  round(CAST({_CNT_PUNCT} AS DOUBLE) / length(text), 4) AS punct_ratio,
  {_CNT_STOP} AS n_stopwords,
  round(least(length(text) / 500.0, 1.0) * 0.5
      + least({_CNT_STOP} / 20.0, 1.0) * 0.5,
      4) AS quality_score
FROM documents WHERE doc_id < 200
"""


def q_text_token_count(spark, sf_dir):
    """BPE-ish token counting rolled up per lang."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.sum(T.token_count_expr(F.col("text"))).alias("total_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


SQL_TEXT_TOKEN_COUNT = f"""
SELECT lang, CAST(SUM({_SQL_CNT.format(p=T.TOKEN_PATTERN)}) AS BIGINT) AS total_tokens,
       count(*) AS n_docs
FROM documents GROUP BY lang
"""


def q_text_gopher(spark, sf_dir):
    """Gopher-rules quality gate (web-text pretraining filter) — all
    codegen'd regexp_count arithmetic, RE2-safe so the oracle evaluates
    the identical patterns."""
    return T.gopher_quality(_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))


def _cnt(p: str) -> str:
    return _SQL_CNT.format(p=p)


# patterns imported from the operator module — VERBATIM the strings the
# Spark side compiles, so both engines evaluate identical regexes
_C_WORDS = _cnt(T.WORD_PATTERN_SPLIT)
_C_WCHARS = _cnt(T.WORD_CHAR_PATTERN)
_C_BULLET = _cnt(T.BULLET_LINE_PATTERN)
_C_ELLIP = _cnt(T.ELLIPSIS_LINE_PATTERN)
_C_SYM = _cnt(T.SYMBOL_PATTERN)
_C_ALPHAW = _cnt(T.ALPHA_WORD_PATTERN)
_C_NL = _cnt(r"\n")
_C_SENT = _cnt(T.SENTENCE_PATTERN)
_C_TERM = _cnt(T.TERMINAL_LINE_PATTERN)

SQL_TEXT_GOPHER = f"""
WITH f AS (
  SELECT doc_id,
    {_C_WORDS} AS words,
    {_C_WCHARS} AS word_chars,
    {_C_BULLET} AS bullet_lines,
    {_C_ELLIP} AS ellipsis_lines,
    {_C_SYM} AS symbols,
    {_C_ALPHAW} AS alpha_words,
    {_C_NL} + 1 AS n_lines
  FROM documents WHERE doc_id < 300
)
SELECT doc_id, words AS n_words,
  round(word_chars / greatest(words, 1), 4) AS mean_word_len,
  round(symbols / greatest(words, 1), 4) AS symbol_ratio,
  round(bullet_lines / n_lines, 4) AS bullet_frac,
  round(ellipsis_lines / n_lines, 4) AS ellipsis_frac,
  round(alpha_words / greatest(words, 1), 4) AS alpha_word_frac,
  (words >= 50 AND words <= 100000
   AND word_chars / greatest(words, 1) >= 3.0
   AND word_chars / greatest(words, 1) <= 10.0
   AND symbols / greatest(words, 1) <= 0.1
   AND bullet_lines / n_lines <= 0.9
   AND ellipsis_lines / n_lines <= 0.3
   AND alpha_words / greatest(words, 1) >= 0.8) AS passes_gopher
FROM f
"""


def q_corpus_datacard(spark, sf_dir):
    """Per-(source, lang) datasheet rollup: volumes, Gopher pass rate,
    exact-dup fraction — one pass, one groupBy."""
    return T.corpus_datacard(_t(spark, sf_dir, "documents"))


SQL_CORPUS_DATACARD = f"""
WITH f AS (
  SELECT source, lang,
    {_SQL_CNT.format(p=T.TOKEN_PATTERN)} AS tok,
    length(text) AS chars,
    CASE WHEN ({_C_WORDS} >= 50 AND {_C_WORDS} <= 100000
      AND {_C_WCHARS} / greatest({_C_WORDS}, 1) >= 3.0
      AND {_C_WCHARS} / greatest({_C_WORDS}, 1) <= 10.0
      AND {_C_SYM} / greatest({_C_WORDS}, 1) <= 0.1
      AND {_C_BULLET} / ({_C_NL} + 1) <= 0.9
      AND {_C_ELLIP} / ({_C_NL} + 1) <= 0.3
      AND {_C_ALPHAW} / greatest({_C_WORDS}, 1) >= 0.8)
    THEN 1 ELSE 0 END AS pass,
    md5({_NORM_SQL.format(c='text')}) AS fp
  FROM documents
)
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS n_tokens,
       CAST(sum(chars) AS BIGINT) AS n_chars,
       round(sum(pass) / count(*), 6) AS gate_pass_rate,
       round((count(*) - count(DISTINCT fp)) / count(*), 6) AS dup_frac,
       round(CAST(sum(chars) AS BIGINT) / count(*), 2) AS mean_chars
FROM f GROUP BY 1, 2
"""


def q_ngram_repetition(spark, sf_dir):
    """Gopher §A1.1 n-gram repetition gate: top-2/3/4-gram char fraction
    + duplicated-5..10-gram fraction, counted per row in one Arrow pass
    over the normalized text (no explode/shuffle).  Every third doc is self-
    concatenated so the duplicated-n-gram signals actually fire.  The
    oracle replays the SAME statistics RELATIONALLY (unnest → groupBy →
    window) — two independent implementations must agree."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    text = F.when(
        F.col("doc_id") % 3 == 0, F.concat("text", F.lit(" "), "text")
    ).otherwise(F.col("text"))
    return T.ngram_repetition_stats(d.select("doc_id", text.alias("text")))


_NGRAM_REP_NORM = _NORM_SQL.format(c="text")

SQL_NGRAM_REPETITION = f"""
WITH base AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN text || ' ' || text ELSE text END AS text
  FROM documents WHERE doc_id < 200
),
w AS (
  SELECT doc_id, str_split({_NGRAM_REP_NORM}, ' ') AS words,
         length({_NGRAM_REP_NORM}) AS nchars
  FROM base
),
g AS (
  SELECT doc_id, nchars, n,
         unnest(list_transform(range(1, len(words) - n + 2),
                i -> array_to_string(list_slice(words, i, i + n - 1), ' ')))
           AS gram
  FROM w, (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) ns
),
c AS (
  SELECT doc_id, nchars, n, gram, count(*) AS cnt FROM g GROUP BY ALL
),
top AS (
  SELECT doc_id, n, round(cnt * length(gram) / nchars, 6) AS frac,
         row_number() OVER (PARTITION BY doc_id, n
                            ORDER BY cnt DESC, gram ASC) AS rn
  FROM c WHERE n <= 4 AND nchars > 0
),
dup AS (
  SELECT doc_id, n, round((sum(cnt) - count(*)) / sum(cnt), 6) AS frac
  FROM c WHERE n >= 5 GROUP BY doc_id, n
),
p AS (
  SELECT b.doc_id,
    coalesce(max(CASE WHEN t.n = 2 THEN t.frac END), 0.0) AS top2_frac,
    coalesce(max(CASE WHEN t.n = 3 THEN t.frac END), 0.0) AS top3_frac,
    coalesce(max(CASE WHEN t.n = 4 THEN t.frac END), 0.0) AS top4_frac,
    coalesce(max(CASE WHEN d.n = 5 THEN d.frac END), 0.0) AS dup5_frac,
    coalesce(max(CASE WHEN d.n = 6 THEN d.frac END), 0.0) AS dup6_frac,
    coalesce(max(CASE WHEN d.n = 7 THEN d.frac END), 0.0) AS dup7_frac,
    coalesce(max(CASE WHEN d.n = 8 THEN d.frac END), 0.0) AS dup8_frac,
    coalesce(max(CASE WHEN d.n = 9 THEN d.frac END), 0.0) AS dup9_frac,
    coalesce(max(CASE WHEN d.n = 10 THEN d.frac END), 0.0) AS dup10_frac
  FROM base b
  LEFT JOIN (SELECT * FROM top WHERE rn = 1) t ON b.doc_id = t.doc_id
  LEFT JOIN dup d ON b.doc_id = d.doc_id
  GROUP BY b.doc_id
)
SELECT *,
  (top2_frac <= 0.20 AND top3_frac <= 0.18 AND top4_frac <= 0.16
   AND dup5_frac <= 0.15 AND dup6_frac <= 0.14 AND dup7_frac <= 0.13
   AND dup8_frac <= 0.12 AND dup9_frac <= 0.11 AND dup10_frac <= 0.10)
  AS passes_repetition
FROM p
"""


def q_domain_reputation(spark, sf_dir):
    """Site-level reputation rollup (the pass ABOVE per-doc gates):
    per-domain Gopher-failure and exact-dup fractions → keep / drop /
    low_evidence verdicts.  Universe: real docs spread over 7 sites, a
    20-page template farm (identical spam text → dup_frac 0.95, gate
    fail 1.0 → drop), and a 2-page site (low_evidence)."""
    d = _t(spark, sf_dir, "documents")
    base = d.filter(F.col("doc_id") < 300).select(
        F.concat(
            F.lit("site"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
        ).alias("domain"),
        "text",
    )
    farm = d.filter(F.col("doc_id") < 20).select(
        F.lit("farm.example.com").alias("domain"),
        F.lit("buy cheap pills now").alias("text"),
    )
    tiny = d.filter(F.col("doc_id") < 2).select(
        F.lit("tiny.example.com").alias("domain"), "text"
    )
    return T.domain_reputation(base.unionByName(farm).unionByName(tiny))


SQL_DOMAIN_REPUTATION = f"""
WITH u AS (
  SELECT 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS domain,
         text
  FROM documents WHERE doc_id < 300
  UNION ALL
  SELECT 'farm.example.com', 'buy cheap pills now'
  FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT 'tiny.example.com', text FROM documents WHERE doc_id < 2
),
f AS (
  SELECT domain,
    CASE WHEN ({_C_WORDS} >= 50 AND {_C_WORDS} <= 100000
      AND {_C_WCHARS} / greatest({_C_WORDS}, 1) >= 3.0
      AND {_C_WCHARS} / greatest({_C_WORDS}, 1) <= 10.0
      AND {_C_SYM} / greatest({_C_WORDS}, 1) <= 0.1
      AND {_C_BULLET} / ({_C_NL} + 1) <= 0.9
      AND {_C_ELLIP} / ({_C_NL} + 1) <= 0.3
      AND {_C_ALPHAW} / greatest({_C_WORDS}, 1) >= 0.8)
    THEN 1 ELSE 0 END AS pass,
    md5({_NORM_SQL.format(c='text')}) AS fp,
    {_C_WORDS} AS words
  FROM u
),
a AS (
  SELECT domain, count(*) AS n_docs,
         count(*) - sum(pass) AS n_gate_fail,
         count(DISTINCT fp) AS n_distinct,
         sum(words) AS sum_words
  FROM f GROUP BY 1
)
SELECT domain, n_docs, n_gate_fail,
  round(n_gate_fail / n_docs, 6) AS gate_fail_frac,
  round((n_docs - n_distinct) / n_docs, 6) AS dup_frac,
  round(sum_words / n_docs, 4) AS mean_words,
  CASE WHEN n_docs < 3 THEN 'low_evidence'
       WHEN round(n_gate_fail / n_docs, 6) > 0.5
            OR round((n_docs - n_distinct) / n_docs, 6) > 0.5 THEN 'drop'
       ELSE 'keep' END AS verdict
FROM a
"""


def _change_caps(spark, sf_dir):
    """Shared 6-snapshot capture fixture for the change-rate family:
    pages change with period p ∈ {1,2,3,6} by doc id; every 50th doc is
    captured once only (the n=0 'unknown' lane)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    p = (
        F.when(F.col("doc_id") % 4 == 0, 1)
        .when(F.col("doc_id") % 4 == 1, 2)
        .when(F.col("doc_id") % 4 == 2, 3)
        .otherwise(6)
    )
    caps = d.select(
        F.col("doc_id"),
        F.concat(
            F.lit("https://s"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.explode(F.sequence(F.lit(0), F.lit(5))).alias("snapshot_id"),
        p.alias("_p"),
    ).filter((F.col("doc_id") % 50 != 7) | (F.col("snapshot_id") == 0))
    return caps.select(
        "url",
        "snapshot_id",
        F.md5(
            F.concat(
                F.col("url"),
                F.lit(":v"),
                F.floor(F.col("snapshot_id") / F.col("_p")).cast("string"),
            )
        ).alias("fingerprint"),
    )


def q_crawl_change_rate(spark, sf_dir):
    """Per-URL change-frequency estimation (Cho & Garcia-Molina, TOIT
    2003) over 6 synthetic crawl snapshots: pages change with period
    p ∈ {1,2,3,6} by doc id, one singleton URL exercises the n=0
    'unknown' lane; detected changes feed the bias-corrected Poisson
    estimator r̂ = −ln((n−X+0.5)/(n+0.5)) and the hot/warm/cold recrawl
    verdict — the page-level signal below `page_freshness` (declared
    dates) and `crawl_budget` (host quotas).  One per-url lag window +
    one groupBy; oracle replays the window and the estimator."""
    from pdf_ocr_spark.operators.frontier import change_rate

    return change_rate(_change_caps(spark, sf_dir))


_SQL_CHANGE_PER_URL = """caps AS (
  SELECT
    'https://s' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/'
      || CAST(doc_id AS VARCHAR) AS url,
    s.snapshot_id,
    md5('https://s' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/'
        || CAST(doc_id AS VARCHAR) || ':v'
        || CAST(CAST(floor(s.snapshot_id / (CASE doc_id % 4
             WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3 ELSE 6 END))
           AS BIGINT) AS VARCHAR)) AS fingerprint
  FROM documents, (SELECT unnest(generate_series(0, 5)) AS snapshot_id) s
  WHERE doc_id < 200
    AND (doc_id % 50 <> 7 OR s.snapshot_id = 0)
),
marked AS (
  SELECT url, snapshot_id, fingerprint,
    lag(fingerprint) OVER (PARTITION BY url ORDER BY snapshot_id) AS prev_fp
  FROM caps
),
per_url AS (
  SELECT url, count(*) - 1 AS n_intervals,
    CAST(sum(CASE WHEN prev_fp IS NOT NULL AND fingerprint <> prev_fp
             THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
  FROM marked GROUP BY url
)"""


SQL_CRAWL_CHANGE_RATE = f"""
WITH {_SQL_CHANGE_PER_URL}
SELECT url, n_intervals, n_changes,
  CASE WHEN n_intervals > 0 THEN
    round(-ln((CAST(n_intervals AS DOUBLE) - n_changes + 0.5)
              / (n_intervals + 0.5)), 6) END AS change_rate,
  CASE WHEN n_intervals = 0 THEN 'unknown'
       WHEN round(-ln((CAST(n_intervals AS DOUBLE) - n_changes + 0.5)
                      / (n_intervals + 0.5)), 6) >= 0.6931471805599453
         THEN 'hot'
       WHEN round(-ln((CAST(n_intervals AS DOUBLE) - n_changes + 0.5)
                      / (n_intervals + 0.5)), 6) >= 0.1
         THEN 'warm'
       ELSE 'cold' END AS recrawl
FROM per_url
"""


def q_recrawl_schedule(spark, sf_dir):
    """The RECRAWL loop as one composed plan (the maintenance twin of
    `crawl_cycle`'s discovery loop): measure change (6-snapshot capture
    history → per-url detected-change counts) → prioritize (priority =
    n_changes, BIGINT-exact — on a fixed observation window the count
    orders identically to the Poisson rate, with none of the float
    quantization) → politeness-schedule (per-domain slots × crawl-delay
    → fetch offsets, broadcast delays, windows only per domain).
    Frequently-changing pages fetch first in each domain's queue;
    never-changing and singleton pages sink to the tail."""
    from pdf_ocr_spark.operators.frontier import change_rate, fetch_schedule

    rates = change_rate(_change_caps(spark, sf_dir))
    frontier = rates.select(
        "url", F.col("n_changes").cast("long").alias("priority")
    )
    delays = spark.createDataFrame(
        [("s0.example.com", 2.0), ("s3.example.com", 0.5),
         ("s5.example.com", 4.0)],
        "domain string, crawl_delay double",
    )
    return fetch_schedule(frontier, delays)


SQL_RECRAWL_SCHEDULE = f"""
WITH {_SQL_CHANGE_PER_URL},
delays AS (
  SELECT * FROM (VALUES ('s0.example.com', 2.0), ('s3.example.com', 0.5),
                        ('s5.example.com', 4.0))
    AS t(domain, crawl_delay)
),
slotted AS (
  SELECT url,
    lower(regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)', 1))
      AS domain,
    n_changes AS priority,
    CAST(row_number() OVER (
      PARTITION BY
        lower(regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)', 1))
      ORDER BY n_changes DESC, url) - 1 AS INT) AS slot
  FROM per_url
)
SELECT url, domain, slot,
       slot * coalesce(crawl_delay, 1.0) AS fetch_offset
FROM slotted LEFT JOIN delays USING (domain)
"""


def q_crawl_budget(spark, sf_dir):
    """Per-host crawl-budget allocation (frontier shaping above the
    politeness scheduler): each site's fetch quota for the next cycle
    is its floor-quantized proportional share of a 1000-fetch budget,
    scored by pages × Gopher pass rate.  BIGINT-exact end to end
    (scores quantize to millionths before summing — no decimal-division
    scale rules, no largest-remainder global rank); one map-side
    groupBy + a broadcast one-row total."""
    from pdf_ocr_spark.operators.frontier import crawl_budget

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    docs = d.select(
        F.concat(
            F.lit("site"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
        ).alias("domain"),
        "text",
    )
    per = docs.select(
        "domain", T.gopher_pass_expr(F.col("text")).cast("int").alias("p")
    )
    stats = per.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("p") / F.count(F.lit(1)), 6).alias("pass_rate"),
    )
    scored = stats.select(
        "domain", (F.col("n_docs") * F.col("pass_rate")).alias("score")
    )
    out = crawl_budget(scored, total_budget=1000)
    return out.select("domain", F.round("score", 6).alias("score"), "budget")


SQL_CRAWL_BUDGET = f"""
WITH u AS (
  SELECT 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS domain,
         text
  FROM documents WHERE doc_id < 300
),
f AS (
  SELECT domain,
    CASE WHEN ({_C_WORDS} >= 50 AND {_C_WORDS} <= 100000
      AND {_C_WCHARS} / greatest({_C_WORDS}, 1) >= 3.0
      AND {_C_WCHARS} / greatest({_C_WORDS}, 1) <= 10.0
      AND {_C_SYM} / greatest({_C_WORDS}, 1) <= 0.1
      AND {_C_BULLET} / ({_C_NL} + 1) <= 0.9
      AND {_C_ELLIP} / ({_C_NL} + 1) <= 0.3
      AND {_C_ALPHAW} / greatest({_C_WORDS}, 1) >= 0.8)
    THEN 1 ELSE 0 END AS p
  FROM u
),
a AS (
  SELECT domain, count(*) AS n_docs, round(sum(p) / count(*), 6) AS pass_rate
  FROM f GROUP BY 1
),
s AS (
  SELECT domain, n_docs * pass_rate AS score,
         CAST(floor((n_docs * pass_rate) * 1000000) AS BIGINT) AS sq
  FROM a
),
t AS (SELECT sum(sq) AS tot FROM s)
SELECT domain, round(score, 6) AS score,
       CAST(coalesce((1000 * sq) // nullif(tot, 0), 0) AS BIGINT) AS budget
FROM s CROSS JOIN t
"""


def q_blocklist_filter(spark, sf_dir):
    """UT1-style domain blocklist with parent-suffix matching: even-id
    docs live under *.news.example.org (blocked via the parent entry
    'example.org'), odd-id docs under siteN.example.com (blocked only
    on the exact entry 'site3.example.com')."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    domain = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("sub"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".news.example.org"),
        ),
    ).otherwise(
        F.concat(
            F.lit("site"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
        )
    )
    docs = d.select("doc_id", domain.alias("domain"))
    bl = spark.createDataFrame(
        [("example.org",), ("site3.example.com",), ("badtld",)],
        "suffix string",
    )
    return T.blocklist_filter(docs, bl)


SQL_BLOCKLIST_FILTER = """
WITH u AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0
      THEN 'sub' || CAST(doc_id % 5 AS VARCHAR) || '.news.example.org'
      ELSE 'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
    END AS domain
  FROM documents WHERE doc_id < 300
),
bl AS (SELECT * FROM (VALUES ('example.org'), ('site3.example.com'),
                             ('badtld')) t(suffix)),
s AS (
  SELECT doc_id,
    unnest(list_transform(
      range(1, len(str_split(domain, '.')) + 1),
      i -> array_to_string(
        list_slice(str_split(domain, '.'), CAST(i AS BIGINT),
                   len(str_split(domain, '.'))), '.')
    )) AS suffix
  FROM u
),
h AS (
  SELECT doc_id, min(s.suffix) AS blocked_by
  FROM s JOIN bl ON s.suffix = bl.suffix GROUP BY 1
)
SELECT u.doc_id, u.domain, h.blocked_by,
       h.blocked_by IS NOT NULL AS blocked
FROM u LEFT JOIN h ON u.doc_id = h.doc_id
"""


def q_filter_funnel(spark, sf_dir):
    """The FILTER FUNNEL: per-stage kill accounting through the
    composed cleaning pipeline (Gopher lexical gate → Gopher n-gram
    repetition gate → LM worst-tercile drop → exact first-occurrence
    dedup) — the datasheet table every corpus release publishes
    (C4 §2.2, Gopher A.1.1, RefinedWeb Fig. 2: what each stage removes).
    Universe = the corpus + repetition bait (doubled text) + exact
    copies, so every stage does visible, hash-pinned work.

    SEMI-JOIN PUSHDOWN down the funnel: each stage's (expensive)
    statistics run only on the PRIOR stage's survivors — the n-gram
    counts never touch Gopher rejects, the LM scorer never touches
    repetition rejects.  Per-row gates make this provably
    output-identical to scoring everything (the oracle scores the full
    universe relationally and must hash-match).  The five funnel counts
    are one-row aggregates crossJoined and unstacked — one action.

    Cache ownership: the four persists serve the multi-count reuse of
    ONE datacard run (this is a once-per-release report, not a loop
    body); Spark's LRU evicts them, and a session looping over corpora
    should clearCache() between runs."""
    from pyspark.sql.window import Window

    release_query_cache()
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = _qcache(
        base.unionByName(
            base.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 10000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" "), F.col("text")).alias("text"),
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 20000).alias("doc_id"), F.col("text")
            )
        )
    )
    # Survivor frames are round-robin repartitioned before caching: AQE
    # coalesces the tiny join outputs to ~3 partitions locally, which
    # would serialize the expensive per-doc n-gram stage; at scale the
    # same repartition is the anti-skew spread of survivors (its shuffle
    # ships only surviving rows — small next to the stats it feeds).
    par = spark.sparkContext.defaultParallelism
    d1 = _qcache(docs.join(
        T.gopher_quality(docs)
        .filter(F.col("passes_gopher"))
        .select("doc_id"),
        "doc_id",
    ).repartition(par))
    d2 = _qcache(d1.join(
        T.ngram_repetition_stats(d1)
        .filter(F.col("passes_repetition"))
        .select("doc_id"),
        "doc_id",
    ).repartition(par))
    vocab = T.lm_word_counts(docs, min_count=2)  # corpus-general LM
    scores = T.lm_doc_scores(d2, vocab, alpha=1.0).select(
        "doc_id", "avg_logprob"
    )
    cut = scores.agg(
        F.round(F.percentile("avg_logprob", F.lit(1.0 / 3)), 6).alias("c1")
    )
    d3 = _qcache(d2.join(
        scores.crossJoin(F.broadcast(cut))
        .filter(F.col("avg_logprob") > F.col("c1"))
        .select("doc_id"),
        "doc_id",
    ))
    wd = Window.partitionBy(D.fingerprint(F.col("text"))).orderBy("doc_id")
    n4df = (
        d3.withColumn("_rn", F.row_number().over(wd))
        .filter(F.col("_rn") == 1)
        .agg(F.count(F.lit(1)).alias("n4"))
    )
    one = (
        docs.agg(F.count(F.lit(1)).alias("n0"))
        .crossJoin(d1.agg(F.count(F.lit(1)).alias("n1")))
        .crossJoin(d2.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(d3.agg(F.count(F.lit(1)).alias("n3")))
        .crossJoin(n4df)
    )
    return one.selectExpr(
        "stack(4, "
        "'1_gopher_gate', n0, n0 - n1, n1, "
        "'2_repetition_gate', n1, n1 - n2, n2, "
        "'3_lm_tail_drop', n2, n2 - n3, n3, "
        "'4_exact_dedup', n3, n3 - n4, n4"
        ") AS (stage, n_in, n_dropped, n_out)"
    )


SQL_FILTER_FUNNEL = f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, text || ' ' || text
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 20000, text FROM documents WHERE doc_id % 7 = 0
),
f AS (
  SELECT doc_id,
    {_C_WORDS} AS words,
    {_C_WCHARS} AS word_chars,
    {_C_BULLET} AS bullet_lines,
    {_C_ELLIP} AS ellipsis_lines,
    {_C_SYM} AS symbols,
    {_C_ALPHAW} AS alpha_words,
    {_C_NL} + 1 AS n_lines,
    md5({_NGRAM_REP_NORM}) AS fp
  FROM u
),
v AS (
  SELECT doc_id, fp,
    (words >= 50 AND words <= 100000
     AND word_chars / greatest(words, 1) >= 3.0
     AND word_chars / greatest(words, 1) <= 10.0
     AND symbols / greatest(words, 1) <= 0.1
     AND bullet_lines / n_lines <= 0.9
     AND ellipsis_lines / n_lines <= 0.3
     AND alpha_words / greatest(words, 1) >= 0.8) AS s1
  FROM f
),
rw AS (
  SELECT doc_id, str_split({_NGRAM_REP_NORM}, ' ') AS words,
         length({_NGRAM_REP_NORM}) AS nchars
  FROM u
),
rg AS (
  SELECT doc_id, nchars, n,
         unnest(list_transform(range(1, len(words) - n + 2),
                i -> array_to_string(list_slice(words, i, i + n - 1), ' ')))
           AS gram
  FROM rw, (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) ns
),
rc AS (
  SELECT doc_id, nchars, n, gram, count(*) AS cnt FROM rg GROUP BY ALL
),
rtop AS (
  SELECT doc_id, n, round(cnt * length(gram) / nchars, 6) AS frac,
         row_number() OVER (PARTITION BY doc_id, n
                            ORDER BY cnt DESC, gram ASC) AS rn
  FROM rc WHERE n <= 4 AND nchars > 0
),
rdup AS (
  SELECT doc_id, n, round((sum(cnt) - count(*)) / sum(cnt), 6) AS frac
  FROM rc WHERE n >= 5 GROUP BY doc_id, n
),
rep AS (
  SELECT b.doc_id,
    (coalesce(max(CASE WHEN t.n = 2 THEN t.frac END), 0.0) <= 0.20
     AND coalesce(max(CASE WHEN t.n = 3 THEN t.frac END), 0.0) <= 0.18
     AND coalesce(max(CASE WHEN t.n = 4 THEN t.frac END), 0.0) <= 0.16
     AND coalesce(max(CASE WHEN d.n = 5 THEN d.frac END), 0.0) <= 0.15
     AND coalesce(max(CASE WHEN d.n = 6 THEN d.frac END), 0.0) <= 0.14
     AND coalesce(max(CASE WHEN d.n = 7 THEN d.frac END), 0.0) <= 0.13
     AND coalesce(max(CASE WHEN d.n = 8 THEN d.frac END), 0.0) <= 0.12
     AND coalesce(max(CASE WHEN d.n = 9 THEN d.frac END), 0.0) <= 0.11
     AND coalesce(max(CASE WHEN d.n = 10 THEN d.frac END), 0.0) <= 0.10)
    AS passes_repetition
  FROM u b
  LEFT JOIN (SELECT * FROM rtop WHERE rn = 1) t ON b.doc_id = t.doc_id
  LEFT JOIN rdup d ON b.doc_id = d.doc_id
  GROUP BY b.doc_id
),
dwf AS (
  SELECT doc_id, w
  FROM (SELECT doc_id,
               unnest(str_split({_NGRAM_REP_NORM}, ' ')) AS w
        FROM u)
  WHERE w <> ''
),
vocab AS (SELECT w, count(*) AS cnt FROM dwf GROUP BY w HAVING count(*) >= 2),
tot AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
         CAST(count(*) AS DOUBLE) AS v_size FROM vocab
),
scores AS (
  SELECT doc_id,
    round(CAST(sum(CAST(ln((coalesce(cnt, 0) + 1.0)
                           / (n_total + 1.0 * (v_size + 1))) AS DECIMAL(18,6)))
               AS DOUBLE) / count(*), 4) AS avg_logprob
  FROM dwf LEFT JOIN vocab USING (w) CROSS JOIN tot
  GROUP BY doc_id
),
j AS (
  SELECT v.doc_id, v.fp, v.s1, (v.s1 AND r.passes_repetition) AS s2,
         s.avg_logprob
  FROM v JOIN rep r ON v.doc_id = r.doc_id
       JOIN scores s ON v.doc_id = s.doc_id
),
cut AS (
  SELECT round(quantile_cont(avg_logprob, 1.0/3), 6) AS c1
  FROM j WHERE s2
),
j3 AS (
  SELECT j.*, (j.s2 AND j.avg_logprob > cut.c1) AS s3
  FROM j CROSS JOIN cut
),
j4 AS (
  SELECT *, (s3 AND row_number() OVER (
      PARTITION BY fp, s3 ORDER BY doc_id) = 1) AS s4
  FROM j3
),
one AS (
  SELECT count(*) AS n0,
         sum(CAST(s1 AS BIGINT)) AS n1,
         sum(CAST(s2 AS BIGINT)) AS n2,
         sum(CAST(s3 AS BIGINT)) AS n3,
         sum(CAST(s4 AS BIGINT)) AS n4
  FROM j4
)
SELECT '1_gopher_gate' AS stage, n0 AS n_in, n0 - n1 AS n_dropped, n1 AS n_out FROM one
UNION ALL
SELECT '2_repetition_gate', n1, n1 - n2, n2 FROM one
UNION ALL
SELECT '3_lm_tail_drop', n2, n2 - n3, n3 FROM one
UNION ALL
SELECT '4_exact_dedup', n3, n3 - n4, n4 FROM one
"""


def q_training_mix(spark, sf_dir):
    """The PRETRAINING-MIX pipeline as ONE plan: Gopher quality gate →
    corpus-trained LM tercile filter (drop the worst third) → exact
    first-occurrence dedup → greedy 2048-token sequence packing →
    per-lang shard accounting (docs, sequences, tokens).  Every stage
    is an already-oracle-verified operator; this query verifies their
    COMPOSITION end-to-end against one SQL mirror.

    Scale: gates are codegen'd scans; the LM vocab broadcasts; the only
    shuffles are the vocab/score groupBys, the dedup window on the
    fingerprint, and the per-shard pack window — nothing global."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    gq = T.gopher_quality(docs)
    kept1 = docs.join(
        gq.filter(F.col("passes_gopher")).select("doc_id"), "doc_id"
    )
    vocab = T.lm_word_counts(docs, min_count=2)  # corpus-general LM
    scores = T.lm_doc_scores(kept1, vocab, alpha=1.0)
    cuts = scores.agg(
        F.round(F.percentile("avg_logprob", F.lit(1.0 / 3)), 6).alias("c1")
    )
    kept2 = (
        kept1.join(scores.select("doc_id", "avg_logprob"), "doc_id")
        .crossJoin(F.broadcast(cuts))
        .filter(F.col("avg_logprob") > F.col("c1"))
    )
    wd = Window.partitionBy(D.fingerprint(F.col("text"))).orderBy("doc_id")
    kept3 = (
        kept2.withColumn("_rn", F.row_number().over(wd))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "text", "lang")
    )
    packed = T.pack_sequences(kept3, seq_len=2048)
    return packed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.max("seq_index") + 1).cast("long").alias("n_sequences"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


SQL_TRAINING_MIX = f"""
WITH f AS (
  SELECT doc_id,
    {_C_WORDS} AS words,
    {_C_WCHARS} AS word_chars,
    {_C_BULLET} AS bullet_lines,
    {_C_ELLIP} AS ellipsis_lines,
    {_C_SYM} AS symbols,
    {_C_ALPHAW} AS alpha_words,
    {_C_NL} + 1 AS n_lines
  FROM documents
),
kept1 AS (
  SELECT doc_id FROM f
  WHERE words >= 50 AND words <= 100000
    AND word_chars / greatest(words, 1) >= 3.0
    AND word_chars / greatest(words, 1) <= 10.0
    AND symbols / greatest(words, 1) <= 0.1
    AND bullet_lines / n_lines <= 0.9
    AND ellipsis_lines / n_lines <= 0.3
    AND alpha_words / greatest(words, 1) >= 0.8
),
dwf AS (
  SELECT doc_id, w
  FROM (SELECT doc_id,
               unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
        FROM documents)
  WHERE w <> ''
),
vocab AS (
  SELECT w, count(*) AS cnt FROM dwf GROUP BY w HAVING count(*) >= 2
),
tot AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
         CAST(count(*) AS DOUBLE) AS v_size
  FROM vocab
),
scores AS (
  SELECT doc_id,
    round(CAST(sum(CAST(ln((coalesce(cnt, 0) + 1.0)
                           / (n_total + 1.0 * (v_size + 1))) AS DECIMAL(18,6)))
               AS DOUBLE) / count(*), 4) AS avg_logprob
  FROM (SELECT d.* FROM dwf d JOIN kept1 USING (doc_id)) dk
  LEFT JOIN vocab USING (w) CROSS JOIN tot
  GROUP BY doc_id
),
cuts AS (SELECT round(quantile_cont(avg_logprob, 1.0/3), 6) AS c1 FROM scores),
kept2 AS (
  SELECT doc_id FROM scores CROSS JOIN cuts WHERE avg_logprob > c1
),
kept3 AS (
  SELECT doc_id FROM (
    SELECT d.doc_id,
      row_number() OVER (PARTITION BY md5({_NORM_SQL.format(c='d.text')})
                         ORDER BY d.doc_id) AS rn
    FROM documents d JOIN kept2 USING (doc_id))
  WHERE rn = 1
),
t AS (
  SELECT lang, doc_id,
         CAST({_SQL_CNT.format(p=T.TOKEN_PATTERN)} AS BIGINT) AS n_tokens
  FROM documents JOIN kept3 USING (doc_id)
),
packed AS (
  SELECT lang, doc_id, n_tokens,
    CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
                - n_tokens) / 2048.0) AS BIGINT) AS seq_index
  FROM t
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(seq_index) + 1 AS BIGINT) AS n_sequences,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM packed GROUP BY lang
"""


_NB_LABEL_SQL = "CASE WHEN source IN ('src1','src2','src3') THEN 1 ELSE 0 END"

_SQL_NB_MODEL = f"""
d AS (
  SELECT doc_id, text, {_NB_LABEL_SQL} AS y FROM documents
),
nbw AS (
  SELECT y, w FROM (
    SELECT y, unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w FROM d)
  WHERE w <> ''
),
cnts AS (
  SELECT {_sql_h64('w', 'nbq')} % 4096 AS bucket,
         sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS pos_cnt,
         sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS neg_cnt
  FROM nbw GROUP BY 1
),
nbtot AS (SELECT sum(pos_cnt) AS tot_pos, sum(neg_cnt) AS tot_neg FROM cnts),
model AS (
  SELECT bucket, CAST(pos_cnt AS BIGINT) AS pos_cnt,
         CAST(neg_cnt AS BIGINT) AS neg_cnt,
         CAST(round(ln((pos_cnt + 1) / (tot_pos + 4096))
                    - ln((neg_cnt + 1) / (tot_neg + 4096)), 6)
              AS DECIMAL(18,6)) AS weight
  FROM cnts CROSS JOIN nbtot
  UNION ALL
  SELECT -1, 0, 0,
         CAST(round(ln(1.0 / (tot_pos + 4096))
                    - ln(1.0 / (tot_neg + 4096)), 6) AS DECIMAL(18,6))
  FROM nbtot
  UNION ALL
  SELECT -2,
         sum(CASE WHEN y = 1 THEN 1 ELSE 0 END),
         sum(CASE WHEN y = 0 THEN 1 ELSE 0 END),
         CAST(CASE WHEN sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) > 0
                    AND sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) > 0
              THEN round(ln(CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                            / sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)), 6)
              ELSE 0.0 END AS DECIMAL(18,6))
  FROM d
)"""


def _nb_labeled_docs(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.when(F.col("source").isin("src1", "src2", "src3"), 1)
        .otherwise(0)
        .alias("label"),
    )


def q_filter_funnel_v2(spark, sf_dir):
    """The MODERN filter funnel (FineWeb/DCLM-shape): rule gate →
    TRAINED-classifier gate → dedup, with per-stage kill accounting —
    the v2 of ``filter_funnel`` where the LM-tercile heuristic is
    replaced by the trained NB quality classifier (weak-labeled on the
    curated sources, trained on the BASE corpus only, applied to the
    funnel universe).  The classifier gates by QUOTA, not sign — keep
    scores strictly above the survivors' median, exactly how
    FineWeb-edu applies its quality model (a threshold picked for a
    target kill rate, here 50%) — a weak-label sign test over an
    imbalanced prior keeps ~nothing.  Universe = corpus + exact-copy
    bait so the dedup stage does visible work.  Same semi-join pushdown
    discipline: the classifier scores only gopher survivors, the dedup
    window sees only classifier survivors; counts unstack from one
    crossJoined aggregate row — one action."""
    from pyspark.sql.window import Window

    from pdf_ocr_spark.operators import quality as Q

    release_query_cache()
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = _qcache(base.unionByName(
        base.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 20000).alias("doc_id"), F.col("text")
        )
    ))
    d1 = _qcache(docs.join(
        T.gopher_quality(docs).filter(F.col("passes_gopher")).select("doc_id"),
        "doc_id",
    ))
    model = Q.nb_train(_nb_labeled_docs(spark, sf_dir), buckets=4096)
    scores = Q.nb_score(d1, model, buckets=4096).select("doc_id", "nb_score")
    cut = scores.agg(
        F.round(F.percentile("nb_score", F.lit(0.5)), 6).alias("c")
    )
    d2 = _qcache(d1.join(
        scores.crossJoin(F.broadcast(cut))
        .filter(F.col("nb_score") > F.col("c"))
        .select("doc_id"),
        "doc_id",
    ))
    w = Window.partitionBy("fp").orderBy("doc_id")
    d3 = (
        d2.select("doc_id", D.fingerprint(F.col("text")).alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    one = (
        docs.agg(F.count(F.lit(1)).alias("n0"))
        .crossJoin(d1.agg(F.count(F.lit(1)).alias("n1")))
        .crossJoin(d2.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(d3.agg(F.count(F.lit(1)).alias("n3")))
    )

    def stage(name, a, b):
        return one.select(
            F.lit(name).alias("stage"),
            F.col(a).alias("n_in"),
            (F.col(a) - F.col(b)).alias("n_dropped"),
            F.col(b).alias("n_out"),
        )

    return (
        stage("1_gopher_gate", "n0", "n1")
        .unionByName(stage("2_nb_quality_gate", "n1", "n2"))
        .unionByName(stage("3_exact_dedup", "n2", "n3"))
    )


SQL_FILTER_FUNNEL_V2 = f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000, text FROM documents WHERE doc_id % 7 = 0
),
f AS (
  SELECT doc_id,
    {_C_WORDS} AS words,
    {_C_WCHARS} AS word_chars,
    {_C_BULLET} AS bullet_lines,
    {_C_ELLIP} AS ellipsis_lines,
    {_C_SYM} AS symbols,
    {_C_ALPHAW} AS alpha_words,
    {_C_NL} + 1 AS n_lines
  FROM u
),
v AS (
  SELECT doc_id,
    (words >= 50 AND words <= 100000
     AND word_chars / greatest(words, 1) >= 3.0
     AND word_chars / greatest(words, 1) <= 10.0
     AND symbols / greatest(words, 1) <= 0.1
     AND bullet_lines / n_lines <= 0.9
     AND ellipsis_lines / n_lines <= 0.3
     AND alpha_words / greatest(words, 1) >= 0.8) AS s1
  FROM f
),
s1d AS (SELECT u.doc_id, u.text FROM u JOIN v USING (doc_id) WHERE v.s1),
{_SQL_NB_MODEL.lstrip()},
obs AS (SELECT bucket, weight FROM model WHERE bucket >= 0),
dflt AS (SELECT weight AS dw FROM model WHERE bucket = -1),
prior AS (SELECT weight AS pw FROM model WHERE bucket = -2),
docw AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
    FROM s1d)
  WHERE w <> ''
),
db AS (
  SELECT doc_id, {_sql_h64('w', 'nbq')} % 4096 AS bucket FROM docw
),
per_doc AS (
  SELECT db.doc_id, sum(coalesce(obs.weight, dflt.dw)) AS s
  FROM db LEFT JOIN obs USING (bucket) CROSS JOIN dflt
  GROUP BY db.doc_id
),
nbsc AS (
  SELECT s1d.doc_id,
    round(CAST(coalesce(per_doc.s, 0) + prior.pw AS DOUBLE), 4) AS nb_score
  FROM s1d LEFT JOIN per_doc USING (doc_id) CROSS JOIN prior
),
cut AS (SELECT round(quantile_cont(nb_score, 0.5), 6) AS c FROM nbsc),
s2d AS (
  SELECT s1d.doc_id, s1d.text
  FROM s1d JOIN nbsc USING (doc_id) CROSS JOIN cut
  WHERE nbsc.nb_score > cut.c
),
s3d AS (
  SELECT doc_id,
    row_number() OVER (
      PARTITION BY md5({_NORM_SQL.format(c='text')}) ORDER BY doc_id) AS rn
  FROM s2d
),
one AS (
  SELECT (SELECT count(*) FROM u) AS n0,
         (SELECT count(*) FROM s1d) AS n1,
         (SELECT count(*) FROM s2d) AS n2,
         (SELECT count(*) FROM s3d WHERE rn = 1) AS n3
)
SELECT '1_gopher_gate' AS stage, n0 AS n_in, n0 - n1 AS n_dropped, n1 AS n_out FROM one
UNION ALL
SELECT '2_nb_quality_gate', n1, n1 - n2, n2 FROM one
UNION ALL
SELECT '3_exact_dedup', n2, n2 - n3, n3 FROM one
"""


def q_text_c4(spark, sf_dir):
    """C4-style cleanup signals + keep decision."""
    return T.c4_filters(_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300))


SQL_TEXT_C4 = f"""
SELECT doc_id,
  {_C_SENT} AS n_sentences,
  contains(text, '{{') AS has_curly,
  contains(lower(text), 'lorem ipsum') AS has_lorem,
  contains(lower(text), 'javascript') AS has_javascript,
  round({_C_TERM} / ({_C_NL} + 1), 4) AS terminal_line_frac,
  ({_C_SENT} >= 3 AND NOT contains(text, '{{')
   AND NOT contains(lower(text), 'lorem ipsum')
   AND NOT contains(lower(text), 'javascript')) AS keep_c4
FROM documents WHERE doc_id < 300
"""


def _c4_line_fixture():
    """Deterministic lined pages exercising every C4 line rule: terminal
    punctuation pass/fail, the 3-word minimum, the javascript mention,
    and both sides of the page-level 5-surviving-lines gate.  The
    synthetic documents table has no line/punctuation structure, so the
    apply gate gets its own universe (the _docs_with_variants
    pattern)."""
    keepers = [
        "this sentence ends with a period.",
        "does this line survive the gate?",
        "an exclamation also counts here!",
        'a line ending in a quote"',
        "five good lines make the page keepable.",
        "a sixth keeper for good measure.",
    ]
    rows = [
        # page 1: all six keepers + assorted failures -> keep_doc
        (1, "\n".join(keepers + [
            "no terminal punctuation here",
            "too short.",
            "the javascript toolkit renders this page.",
            "   ",
        ])),
        # page 2: four keepers only -> dropped by the page gate
        (2, "\n".join(keepers[:4] + ["trailing fragment without an end"])),
        # page 3: nothing survives
        (3, "just one bare fragment\nand another\nok."),
        # page 4: single-line page that is itself a keeper
        (4, "a single well formed sentence stands alone."),
    ]
    return rows


def q_text_c4_line_apply(spark, sf_dir):
    """C4's ACTUAL cleanup granularity — the line-removal APPLY (Raffel
    et al. 2020 §2.2 drops LINES: no terminal punctuation, <3 words, or
    a javascript mention — then pages with <5 surviving lines): pure
    higher-order functions over the split line array (filter +
    array_join), ZERO shuffle, zero explode — composes map-side into
    any gate stack at any scale.  Oracle replays the identical rules
    over the same lined fixture pages."""
    docs = spark.createDataFrame(_c4_line_fixture(), "doc_id long, text string")
    return T.c4_line_apply(docs)


def _sql_c4_line_fixture() -> str:
    vals = []
    for doc_id, text in _c4_line_fixture():
        parts = " || chr(10) || ".join(
            "'" + ln.replace("'", "''") + "'" for ln in text.split("\n")
        )
        vals.append(f"({doc_id}, {parts})")
    return "SELECT * FROM (VALUES " + ", ".join(vals) + ") AS t(doc_id, text)"


SQL_TEXT_C4_LINE_APPLY = f"""
WITH d AS ({_sql_c4_line_fixture()}),
f AS (
  SELECT doc_id,
    str_split(text, chr(10)) AS lines,
    list_filter(str_split(text, chr(10)), l ->
      regexp_matches(trim(l), '[.!?"]$')
      AND len(str_split_regex(trim(l), ' +')) >= 3
      AND NOT contains(lower(trim(l)), 'javascript')) AS kept
  FROM d
)
SELECT doc_id,
  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS n_kept,
  len(kept) >= 5 AS keep_doc
FROM f
"""


# -- encoding hygiene: mojibake repair + NFC normalization -------------------

# unicode-rich suffixes appended to the (mostly-ASCII) synthetic docs so
# the encoding ops have real work; chars drawn from T.MOJIBAKE_CHARS and
# decomposed NFC sequences
_MOJI_SUFFIX = " caf\u00e9 \u2014 \u201cquoted\u201d \u2026 na\u00efve"
_NFC_SUFFIX = " cafe\u0301 nai\u0308ve A\u030angstro\u0308m"


def _sql_replace_chain(expr: str, mapping) -> str:
    out = expr
    for a, b in mapping:
        out = f"replace({out}, '{a}', '{b}')"
    return out


def q_text_mojibake(spark, sf_dir):
    """Mojibake (double-encoded UTF-8) repair: synthesize corrupted text
    in-engine via the inverse map, repair it with the forward map — both
    pure chained replaces (JVM-side, codegen'd), replayed verbatim by the
    oracle from the same computed literals (operators.text_analysis
    MOJIBAKE_MAP).  roundtrip_ok proves repair(corrupt(x)) == x."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    base = F.concat(F.col("text"), F.lit(_MOJI_SUFFIX))
    corrupted = T.mojibake_corrupt_expr(base)
    repaired = T.mojibake_repair_expr(corrupted)
    return d.select(
        "doc_id",
        F.md5(corrupted).alias("corrupt_md5"),
        F.md5(repaired).alias("repaired_md5"),
        (repaired == base).alias("roundtrip_ok"),
    )


def _sql_text_mojibake() -> str:
    base = f"(text || '{_MOJI_SUFFIX}')"
    corrupted = _sql_replace_chain(
        base, [(g, b) for b, g in reversed(T.MOJIBAKE_MAP)]
    )
    repaired = _sql_replace_chain(corrupted, T.MOJIBAKE_MAP)
    return f"""
SELECT doc_id,
  md5({corrupted}) AS corrupt_md5,
  md5({repaired}) AS repaired_md5,
  ({repaired} = {base}) AS roundtrip_ok
FROM documents WHERE doc_id < 200
"""


SQL_TEXT_MOJIBAKE = _sql_text_mojibake()


def q_text_nfc(spark, sf_dir):
    """Unicode NFC normalization via an Arrow-batched pandas UDF (python
    unicodedata); the oracle replays it with DuckDB's native
    nfc_normalize (utf8proc) — two independent NFC implementations must
    agree on the md5 of every normalized document."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select(
            "doc_id", F.concat(F.col("text"), F.lit(_NFC_SUFFIX)).alias("text")
        )
    )
    n = T.nfc_normalize(d)
    return n.select(
        "doc_id",
        F.md5("text").alias("nfc_md5"),
        F.length("text").alias("nfc_len"),
    )


SQL_TEXT_NFC = f"""
SELECT doc_id,
  md5(nfc_normalize(text || '{_NFC_SUFFIX}')) AS nfc_md5,
  CAST(length(nfc_normalize(text || '{_NFC_SUFFIX}')) AS INT) AS nfc_len
FROM documents WHERE doc_id < 150
"""


_SQL_WORD_NGRAMS = """
list_distinct(list_transform(
    range(1, greatest(len({w}) - {nm1}, 0) + 1),
    i -> array_to_string(list_slice({w}, CAST(i AS INT), CAST(i + {nm1} AS INT)), ' ')))
""".strip()


def _sql_ngram_rows(src: str, n: int = 13) -> str:
    """(doc_id, ng) rows: distinct word n-grams of the normalized text —
    the DuckDB twin of operators.text_analysis.word_ngrams_expr."""
    norm = _NORM_SQL.format(c="text")
    ngrams = _SQL_WORD_NGRAMS.format(w="str_split(t, ' ')", nm1=n - 1)
    return f"""
  SELECT doc_id, unnest({ngrams}) AS ng
  FROM (SELECT doc_id, {norm} AS t FROM {src}) s
"""


def q_text_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3/Dolma/FineWeb 13-gram rule):
    documents sharing any word 13-gram with the evaluation set are
    flagged with their hit count.  Benchmark stand-in = every 97th
    document's text (leaked eval items).  Plan: tiny benchmark n-gram
    set distinct + BROADCAST, corpus n-grams explode map-side into the
    broadcast join — the corpus never shuffles; only hit rows reach the
    per-doc aggregate."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return T.contaminated_docs(docs, bench, n=13)


SQL_TEXT_DECONTAMINATE = f"""
WITH bng AS (
  SELECT DISTINCT ng FROM ({_sql_ngram_rows("(SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0)")})
),
dng AS ({_sql_ngram_rows("documents")})
SELECT doc_id, count(*) AS n_hits
FROM dng JOIN bng USING (ng)
GROUP BY doc_id
"""


def q_pack_sequences(spark, sf_dir):
    """Greedy sequential sequence packing (GPT-style pack-then-chunk):
    per lang shard, documents concatenate in id order and chunk into
    2048-token training sequences; seq_index = floor(preceding tokens /
    2048) as ONE window cumsum — a single shuffle on the shard key."""
    return T.pack_sequences(
        _t(spark, sf_dir, "documents"), seq_len=2048
    )


SQL_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT lang, doc_id,
         CAST({_SQL_CNT.format(p=T.TOKEN_PATTERN)} AS BIGINT) AS n_tokens
  FROM documents
)
SELECT lang, doc_id, n_tokens,
  CAST(floor((sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id)
              - n_tokens) / 2048.0) AS BIGINT) AS seq_index
FROM t
"""


def q_export_shards(spark, sf_dir):
    """Deterministic output sharding for training-data export: per lang,
    documents pack in id order into ~64 KiB files (greedy byte cumsum —
    shard k starts where k whole targets are filled), emitting the final
    path ``{lang}/shard-00042.jsonl``.  Assignment is a pure function of
    (key, id order, byte sizes): stable across runs, engines, and
    cluster layouts, so a resumed export lands every document in the
    same file.  ONE shuffle (the per-lang window); the oracle replays
    the identical cumsum + floor + printf."""
    return T.shard_assign(
        _t(spark, sf_dir, "documents"), target_bytes=1 << 16
    )


SQL_EXPORT_SHARDS = """
WITH t AS (
  SELECT lang AS shard_key, doc_id,
         CAST(strlen(text) + 1 AS BIGINT) AS n_bytes
  FROM documents
), c AS (
  SELECT shard_key, doc_id, n_bytes,
    CAST(floor((sum(n_bytes) OVER (PARTITION BY shard_key ORDER BY doc_id)
                - n_bytes) / 65536.0) AS BIGINT) AS shard_index
  FROM t
)
SELECT shard_key, doc_id, n_bytes, shard_index,
       printf('%s/shard-%05d.jsonl', shard_key, shard_index) AS shard_path
FROM c
"""


def q_link_host_graph(spark, sf_dir):
    """Host-level webgraph rollup (the granularity Common Crawl actually
    publishes its webgraph at): page link edges → (src_host, dst_host,
    n_links, n_nofollow, n_pages).  Only fetchable web links participate
    (absolute http(s) + root-relative, which resolve to the source
    host); mailto:/javascript:/fragment hrefs drop out, as in a crawl
    frontier.  One filter + one map-side-combined groupBy; the oracle
    replays the identical host regexp (RE2 both sides) and aggregation.
    """
    return _host_graph_input(spark, sf_dir)


_HOST_SQL_RE = "^[a-z][a-z0-9+.-]*://(?:[^/?#]*@)?([^/:?#]+)"

_EDGE_SYNTH_SQL = """
  SELECT 'https://site' || CAST(doc_id % 11 AS VARCHAR)
           || '.example.org/page/' || CAST(doc_id AS VARCHAR) AS url,
         CASE doc_id % 5
           WHEN 0 THEN 'https://site' || CAST((doc_id * 3) % 11 AS VARCHAR)
                       || '.example.org/x/' || CAST(doc_id AS VARCHAR)
           WHEN 1 THEN '/local/' || CAST(doc_id % 7 AS VARCHAR)
           WHEN 2 THEN 'mailto:user' || CAST(doc_id AS VARCHAR)
                       || '@example.org'
           WHEN 3 THEN 'HTTPS://CDN.Example.NET:8080/asset?id='
                       || CAST(doc_id % 13 AS VARCHAR)
           ELSE 'https://u:p@site' || CAST(doc_id % 4 AS VARCHAR)
                       || '.example.org/auth'
         END AS link,
         (doc_id % 3 = 0) AS nofollow
  FROM documents WHERE doc_id < 400
"""

SQL_LINK_HOST_GRAPH = f"""
WITH raw AS (
  SELECT url, link, nofollow
  FROM read_parquet('{_golden("link_edges")}')
  UNION ALL
  {_EDGE_SYNTH_SQL}
), e AS (
  SELECT url, link, nofollow FROM raw
  WHERE lower(link) LIKE 'http://%' OR lower(link) LIKE 'https://%'
     OR link LIKE '/%'
), h AS (
  SELECT regexp_extract(lower(url), '{_HOST_SQL_RE}', 1) AS src_host,
         coalesce(
           nullif(regexp_extract(lower(link), '{_HOST_SQL_RE}', 1), ''),
           regexp_extract(lower(url), '{_HOST_SQL_RE}', 1)
         ) AS dst_host,
         url, nofollow
  FROM e
)
SELECT src_host, dst_host, count(*) AS n_links,
       CAST(sum(CASE WHEN nofollow THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nofollow,
       count(DISTINCT url) AS n_pages
FROM h
WHERE src_host <> ''
GROUP BY 1, 2
"""


def q_chunk_passages(spark, sf_dir):
    """RAG-style passage chunking: 64-word windows advancing by 48
    (16-word overlap) over the normalized word sequence — pure per-row
    fan-out (sequence → transform → posexplode), ZERO shuffle; the
    chunk table inherits the corpus partitioning for the downstream
    embedding stage."""
    return T.chunk_passages(
        _t(spark, sf_dir, "documents"), chunk_words=64, overlap=16
    )


SQL_CHUNK_PASSAGES = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(str_split({_NORM_SQL.format(c='text')}, ' '),
                     x -> x <> '') AS words
  FROM documents
),
fan AS (
  SELECT doc_id, words, len(words) AS nw,
         unnest(range(0, len(words), 48)) AS s
  FROM w
)
SELECT doc_id,
  CAST(s / 48 AS INT) AS chunk_idx,
  CAST(least(nw - s, 64) AS BIGINT) AS n_words,
  array_to_string(words[s + 1 : s + 64], ' ') AS passage
FROM fan
"""


def q_text_lm_score(spark, sf_dir):
    """CCNet-style LM quality score: add-1-smoothed unigram LM trained
    on the corpus itself (min_count=2 vocab trim keeps it broadcast-
    sized), per-doc mean log-prob.  Vocab + totals broadcast; corpus
    words explode map-side into the hash join; per-word log-probs sum
    as DECIMAL(18,6) (exact, order-independent) before the final
    per-doc aggregate — the only shuffles are the vocab groupBy and
    the doc groupBy."""
    docs = _t(spark, sf_dir, "documents")
    vocab = T.lm_word_counts(docs, min_count=2)
    return T.lm_doc_scores(docs, vocab, alpha=1.0)


_SQL_LM_SCORES = f"""
WITH dwf AS (
  SELECT doc_id, w
  FROM (SELECT doc_id,
               unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
        FROM documents)
  WHERE w <> ''
),
vocab AS (
  SELECT w, count(*) AS cnt FROM dwf GROUP BY w HAVING count(*) >= 2
),
tot AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
         CAST(count(*) AS DOUBLE) AS v_size
  FROM vocab
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_words,
  round(CAST(sum(CAST(ln((coalesce(cnt, 0) + 1.0)
                         / (n_total + 1.0 * (v_size + 1))) AS DECIMAL(18,6)))
             AS DOUBLE) / count(*), 4) AS avg_logprob
FROM dwf LEFT JOIN vocab USING (w) CROSS JOIN tot
GROUP BY doc_id
""".strip()

SQL_TEXT_LM_SCORE = _SQL_LM_SCORES


def q_text_lm_buckets(spark, sf_dir):
    """CCNet head/middle/tail selection: exact tercile cutoffs of the
    LM score (tree-aggregated percentile — no global sort anywhere),
    broadcast back onto the scores, per-bucket doc counts."""
    docs = _t(spark, sf_dir, "documents")
    scores = T.lm_doc_scores(docs, T.lm_word_counts(docs, min_count=2), alpha=1.0)
    return T.lm_bucket_counts(scores)


SQL_TEXT_LM_BUCKETS = f"""
WITH scores AS ({_SQL_LM_SCORES}),
cuts AS (
  SELECT round(quantile_cont(avg_logprob, 1.0/3), 6) AS c1,
         round(quantile_cont(avg_logprob, 2.0/3), 6) AS c2
  FROM scores
)
SELECT CASE WHEN avg_logprob > c2 THEN 'head'
            WHEN avg_logprob > c1 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM scores CROSS JOIN cuts
GROUP BY 1
"""


def q_text_lm_buckets_approx(spark, sf_dir):
    """CCNet tercile split with APPROXIMATE cutoffs: approx_percentile's
    Greenwald-Khanna sketch (buffer O(accuracy·log n) by construction —
    the safe choice when scores are not pre-quantized; the exact twin in
    text_lm_buckets relies on avg_logprob's 4-decimal rounding to bound
    its value→count buffer).  At this n the sketch is exact and returns
    the ceil(p·n)-th order statistic — DuckDB quantile_disc, verified
    same rank convention (see lm_tercile_cuts)."""
    docs = _t(spark, sf_dir, "documents")
    scores = T.lm_doc_scores(docs, T.lm_word_counts(docs, min_count=2), alpha=1.0)
    return T.lm_bucket_counts(scores, approximate=True)


SQL_TEXT_LM_BUCKETS_APPROX = f"""
WITH scores AS ({_SQL_LM_SCORES}),
cuts AS (
  SELECT round(quantile_disc(avg_logprob, 1.0/3), 6) AS c1,
         round(quantile_disc(avg_logprob, 2.0/3), 6) AS c2
  FROM scores
)
SELECT CASE WHEN avg_logprob > c2 THEN 'head'
            WHEN avg_logprob > c1 THEN 'middle'
            ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs
FROM scores CROSS JOIN cuts
GROUP BY 1
"""


def q_text_lm_bigram(spark, sf_dir):
    """Interpolated BIGRAM LM fluency score (the order-2 step up from
    text_lm_score — CCNet-style pruned-LM filtering): corpus-trained
    trimmed bigram table (BOS-prefixed pairs, min_count=2) mixed
    Jelinek-Mercer-style with the add-1 unigram floor,
    log(0.7·P_bi(w2|w1) + 0.3·P_uni(w2)) averaged per doc.  All model
    tables broadcast (bigrams + context sums + unigrams + totals); doc
    pairs explode map-side; per-pair logs sum as DECIMAL(18,6) — the
    only shuffles are the two count groupBys and the per-doc agg."""
    docs = _t(spark, sf_dir, "documents")
    uni = T.lm_word_counts(docs, min_count=2)
    bi = T.lm_bigram_counts(docs, min_count=2)
    return T.lm_bigram_doc_scores(docs, uni, bi, lam=0.7, alpha=1.0)


SQL_TEXT_LM_BIGRAM = f"""
WITH ws AS (
  SELECT doc_id, ['<s>'] || str_split({_NORM_SQL.format(c='text')}, ' ') AS seq
  FROM documents
),
prs AS (
  SELECT doc_id, pr[1] AS w1, pr[2] AS w2
  FROM (SELECT doc_id,
               unnest(list_zip(seq[1:len(seq)-1], seq[2:len(seq)])) AS pr
        FROM ws)
  WHERE pr[2] <> ''
),
uni AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
    FROM documents) t
  WHERE w <> '' GROUP BY w HAVING count(*) >= 2
),
tot AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS n_total,
         CAST(count(*) AS DOUBLE) AS v_size
  FROM uni
),
bi AS (
  SELECT w1, w2, count(*) AS bcnt FROM prs GROUP BY 1, 2
  HAVING count(*) >= 2
),
ctx AS (SELECT w1, sum(bcnt) AS ctx_cnt FROM bi GROUP BY 1)
SELECT p.doc_id,
  CAST(count(*) AS BIGINT) AS n_bigrams,
  round(CAST(sum(CAST(ln(
      0.7 * (CASE WHEN b.bcnt IS NOT NULL AND c.ctx_cnt IS NOT NULL
                  THEN CAST(b.bcnt AS DOUBLE) / c.ctx_cnt ELSE 0.0 END)
      + (1.0 - 0.7) * (coalesce(u.cnt, 0) + 1.0)
        / (t.n_total + 1.0 * (t.v_size + 1))
    ) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_logprob
FROM prs p
LEFT JOIN bi b ON b.w1 = p.w1 AND b.w2 = p.w2
LEFT JOIN ctx c ON c.w1 = p.w1
LEFT JOIN uni u ON u.w = p.w2
CROSS JOIN tot t
GROUP BY p.doc_id
"""


def q_corpus_zipf(spark, sf_dir):
    """Zipf's-law fit over the corpus vocabulary (datacard health
    check: slope ≈ −1 for natural text; template spam bends the
    curve): least-squares log-log line + r² over the top-1000 ranked
    word counts.  Log coordinates quantize to DECIMAL(18,6) before the
    moment sums — exact order-independent addition, so both engines
    compute the identical closed-form fit; only the ≤1000-row trimmed
    vocab is ever sorted."""
    return T.zipf_fit(_t(spark, sf_dir, "documents"), min_count=2,
                      top_n=1000)


SQL_CORPUS_ZIPF = f"""
WITH vocab AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
    FROM documents) t
  WHERE w <> '' GROUP BY w HAVING count(*) >= 2
),
top AS (SELECT w, cnt FROM vocab ORDER BY cnt DESC, w LIMIT 1000),
ranked AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rank FROM top
),
pts AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
         CAST(round(ln(CAST(cnt AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
  FROM ranked
),
a AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
  round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 4)
    AS zipf_slope,
  round((sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) * sx) / n,
        4) AS zipf_intercept,
  round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 4) AS r2
FROM a
"""


def q_corpus_heaps(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit (datacard health check: β ≈ 0.5
    for natural text; heavy duplication bends β down): V(N) at 8
    doc_id-threshold checkpoints from ONE word pass (first-occurrence
    groupBy + ≤8-row cumulative sums), log-log least squares with the
    DECIMAL-quantized moment sums — bit-identical across engines."""
    return T.heaps_fit(_t(spark, sf_dir, "documents"), checkpoints=8)


SQL_CORPUS_HEAPS = f"""
WITH dwf AS (
  SELECT doc_id, w
  FROM (SELECT doc_id,
               unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
        FROM documents)
  WHERE w <> ''
),
mx AS (SELECT CAST(max(doc_id) AS DOUBLE) AS max_id FROM documents),
fo AS (
  SELECT greatest(least(CAST(ceil(CAST(first_id AS DOUBLE) * 8.0 / max_id)
                             AS BIGINT), 8), 1) AS cp,
         count(*) AS new_words
  FROM (SELECT w, min(doc_id) AS first_id FROM dwf GROUP BY w)
  CROSS JOIN mx GROUP BY 1
),
tk AS (
  SELECT greatest(least(CAST(ceil(CAST(doc_id AS DOUBLE) * 8.0 / max_id)
                             AS BIGINT), 8), 1) AS cp,
         count(*) AS toks
  FROM dwf CROSS JOIN mx GROUP BY 1
),
curve AS (
  SELECT cp,
    sum(coalesce(new_words, 0)) OVER (ORDER BY cp
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
    sum(coalesce(toks, 0)) OVER (ORDER BY cp
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
  FROM fo FULL JOIN tk USING (cp)
),
pts AS (
  SELECT CAST(round(ln(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
         CAST(round(ln(CAST(v AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
  FROM curve WHERE v > 0 AND n > 0
),
a AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(x * x) AS DOUBLE) AS sxx,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
  round((n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 4) + 0.0
    AS heaps_beta,
  round((sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) * sx) / n,
        4) + 0.0 AS heaps_logk,
  round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 4) + 0.0 AS r2
FROM a
"""


def q_dsir_logweights(spark, sf_dir):
    """DSIR (Xie et al. 2023) per-document importance log-weights:
    hashed bag-of-words models of the target distribution (here: the
    ``lang='en'`` slice, standing in for 'looks like Wikipedia') and the
    raw corpus; log_w(doc) = Σ_words [ln p_t(bucket) − ln p_r(bucket)]
    with add-1 smoothing over the 1024-bucket hashed universe.  Both
    bucket tables are ≤1024 rows → merged driver-scale and BROADCAST;
    the corpus explodes words map-side into the broadcast join, so the
    only shuffles are the two bucket groupBys and the per-doc agg."""
    docs = _t(spark, sf_dir, "documents")
    lrs = T.dsir_bucket_logratios(docs, docs.filter(F.col("lang") == "en"))
    return T.dsir_doc_logweights(docs, lrs)


_SQL_DSIR_BUCKET = (
    "(CAST('0x' || substr(md5(w), 1, 10) AS BIGINT) % 1024)"
)

_SQL_DSIR_LOGWEIGHTS = f"""
WITH dwf AS (
  SELECT doc_id, lang, {_SQL_DSIR_BUCKET} AS bucket
  FROM (SELECT doc_id, lang,
               unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
        FROM documents)
  WHERE w <> ''
),
t AS (
  SELECT bucket, count(*) AS tcnt FROM dwf WHERE lang = 'en' GROUP BY bucket
),
r AS (
  SELECT bucket, count(*) AS rcnt FROM dwf GROUP BY bucket
),
lrs AS (
  SELECT bucket,
         round(ln((coalesce(tcnt, 0) + 1.0)
                  / ((SELECT sum(tcnt) FROM t) + 1024.0))
               - ln((coalesce(rcnt, 0) + 1.0)
                    / ((SELECT sum(rcnt) FROM r) + 1024.0)), 6) AS lr
  FROM t FULL OUTER JOIN r USING (bucket)
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_words,
  CAST(round(sum(CAST(coalesce(lr, 0.0) AS DECIMAL(18,6))), 4) AS DOUBLE)
    AS log_w
FROM dwf LEFT JOIN lrs USING (bucket)
GROUP BY doc_id
""".strip()

SQL_DSIR_LOGWEIGHTS = _SQL_DSIR_LOGWEIGHTS


def q_dsir_resample(spark, sf_dir):
    """DSIR Gumbel-top-k resampling: k docs without replacement with
    probability ∝ exp(log_w), as the k largest (log_w + Gumbel) keys
    where the Gumbel is derived from a salted md5 of doc_id (RNG-free,
    resume-stable).  orderBy+limit plans as TakeOrdered — per-partition
    top-k, then a k-row merge on the driver; no global sort shuffle."""
    docs = _t(spark, sf_dir, "documents")
    lrs = T.dsir_bucket_logratios(docs, docs.filter(F.col("lang") == "en"))
    return T.dsir_resample(T.dsir_doc_logweights(docs, lrs), k=40)


SQL_DSIR_RESAMPLE = f"""
WITH lw AS ({_SQL_DSIR_LOGWEIGHTS}),
keyed AS (
  SELECT doc_id, log_w,
    round(log_w - ln(-ln(
      (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dsir'), 1, 10)
            AS BIGINT) + 0.5) / 1099511627776.0)), 6) AS gumbel_key
  FROM lw
)
SELECT doc_id, log_w, gumbel_key
FROM keyed
ORDER BY gumbel_key DESC, doc_id
LIMIT 40
"""


def q_source_lang_entropy(spark, sf_dir):
    """Per-source language-mix entropy — the datacard coherence metric
    (a 'source' whose language distribution is near-uniform noise is a
    mislabeled aggregator; a near-zero-entropy source is monolingual).
    H = -Σ p·ln p over the source's language shares, summed in
    DECIMAL(18,6) for partition-order independence.  TWO map-side-
    combinable groupBys ((source, lang) then source) — no window."""
    d = _t(spark, sf_dir, "documents")
    sl = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    tot = sl.groupBy("source").agg(F.sum("cnt").alias("n_docs"))
    p = F.col("cnt") / F.col("n_docs")
    return (
        sl.join(tot, "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_langs"),
            F.round(
                -F.sum((p * F.log(p)).cast("decimal(18,6)")).cast("double"), 4
            ).alias("lang_entropy"),
        )
    )


SQL_SOURCE_LANG_ENTROPY = """
WITH sl AS (
  SELECT source, lang, count(*) AS cnt FROM documents GROUP BY 1, 2
),
tot AS (SELECT source, sum(cnt) AS n_docs FROM sl GROUP BY 1)
SELECT sl.source,
  CAST(max(tot.n_docs) AS BIGINT) AS n_docs,
  count(*) AS n_langs,
  round(-CAST(sum(CAST((sl.cnt / tot.n_docs) * ln(sl.cnt / tot.n_docs)
                       AS DECIMAL(18,6))) AS DOUBLE), 4) AS lang_entropy
FROM sl JOIN tot ON sl.source = tot.source
GROUP BY sl.source
"""


def q_domain_kl_drift(spark, sf_dir):
    """Per-source unigram-distribution drift KL(Q_source ‖ P_corpus)
    over the shared min_count-trimmed vocabulary — the segment-level
    quality signal CCNet-style pipelines rank crawl sources by before
    per-document gates run.  DECIMAL(18,6)-summed terms (order-
    independent, engine-reproducible); one word fan-out, two bounded
    map-side-combined groupBys, broadcast vocab join, no window."""
    return T.source_kl_divergence(
        _t(spark, sf_dir, "documents"), group_col="source", min_count=2
    )


SQL_DOMAIN_KL_DRIFT = f"""
WITH wf AS (
  SELECT grp, w FROM (
    SELECT source AS grp,
           unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
    FROM documents)
  WHERE w <> ''
),
vocab AS (
  SELECT w, count(*) AS cnt FROM wf GROUP BY w HAVING count(*) >= 2
),
tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM vocab),
gw AS (
  SELECT grp, wf.w, count(*) AS gcnt, max(cnt) AS cnt
  FROM wf JOIN vocab ON wf.w = vocab.w GROUP BY grp, wf.w
),
gtot AS (SELECT grp, CAST(sum(gcnt) AS DOUBLE) AS g_total FROM gw GROUP BY grp)
SELECT grp AS source,
  CAST(max(g_total) AS BIGINT) AS n_words,
  count(*) AS n_vocab,
  round(CAST(sum(CAST((gcnt / g_total) * ln((gcnt / g_total) / (cnt / n_total))
                      AS DECIMAL(18,6))) AS DOUBLE), 4) AS kl_divergence
FROM gw JOIN gtot USING (grp) CROSS JOIN tot
GROUP BY grp
"""


def q_quality_nb_weights(spark, sf_dir):
    """TRAINED quality classifier, training half: closed-form hashed-
    bag-of-words Naive Bayes (the relational stand-in for CCNet/DCLM/
    FineWeb-edu's fastText quality models; the weak label here is a
    curated-source-vs-rest split, the CCNet framing).  The whole model
    is one broadcastable weight table: per-bucket Laplace log-odds at
    6-dp DECIMAL (engine-reproducible), plus the unseen-bucket default
    (bucket -1) and the class prior (bucket -2).  Oracle replays the
    identical counts + log arithmetic in DuckDB."""
    from pdf_ocr_spark.operators import quality as Q

    model = Q.nb_train(_nb_labeled_docs(spark, sf_dir), buckets=4096)
    return model.select(
        "bucket", "pos_cnt", "neg_cnt", F.col("weight").cast("double").alias("weight")
    )


SQL_QUALITY_NB_WEIGHTS = f"""
WITH {_SQL_NB_MODEL}
SELECT bucket, pos_cnt, neg_cnt, CAST(weight AS DOUBLE) AS weight FROM model
"""


def q_quality_nb_score(spark, sf_dir):
    """TRAINED quality classifier, scoring half: word explode →
    broadcast LEFT join on the hashed bucket (unseen buckets take the
    Laplace default row) → one EXACT per-doc DECIMAL(18,6) sum + the
    class prior; pred is the exact-decimal sign test, nb_score the
    4-dp rounded log-odds.  Train + score in one plan over the
    documents table — the shape a 100-TB fastText-style scorer runs."""
    from pdf_ocr_spark.operators import quality as Q

    docs = _nb_labeled_docs(spark, sf_dir)
    model = Q.nb_train(docs, buckets=4096)
    return Q.nb_score(docs, model, buckets=4096)


SQL_QUALITY_NB_SCORE = f"""
WITH {_SQL_NB_MODEL},
obs AS (SELECT bucket, weight FROM model WHERE bucket >= 0),
dflt AS (SELECT weight AS dw FROM model WHERE bucket = -1),
prior AS (SELECT weight AS pw FROM model WHERE bucket = -2),
docw AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
    FROM documents)
  WHERE w <> ''
),
db AS (
  SELECT doc_id, {_sql_h64('w', 'nbq')} % 4096 AS bucket FROM docw
),
per_doc AS (
  SELECT db.doc_id, sum(coalesce(obs.weight, dflt.dw)) AS s
  FROM db LEFT JOIN obs USING (bucket) CROSS JOIN dflt
  GROUP BY db.doc_id
)
SELECT d.doc_id,
  round(CAST(coalesce(per_doc.s, 0) + prior.pw AS DOUBLE), 4) AS nb_score,
  CAST(CASE WHEN coalesce(per_doc.s, 0) + prior.pw > 0 THEN 1 ELSE 0 END
       AS INT) AS pred
FROM documents d LEFT JOIN per_doc USING (doc_id) CROSS JOIN prior
"""


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer TRAINING (Sennrich et al. 2016) over
    the deterministic fixture corpus: one corpus-sized word groupBy,
    then per-round codegen'd pair explodes + map-side-combined pair
    aggregates over the compact weighted vocab table, TakeOrdered(1)
    winner with a total tie-break, greedy fold rewrite.  Oracle = the
    INDEPENDENT pure-python BPE frozen by tools/freeze_bpe_golden.py
    (value hash pins every merge, rank, and frequency)."""
    from pdf_ocr_spark.operators import tokenizer as TK

    corpus = spark.createDataFrame(TK.fixture_corpus(), "doc_id long, text string")
    merges = TK.bpe_train(TK.word_freq_table(corpus), n_merges=12)
    return spark.createDataFrame(
        merges, "rank long, left string, right string, freq long"
    )


SQL_BPE_MERGES = f"""
SELECT "rank", "left", "right", freq
FROM read_parquet('{{golden}}')
""".format(golden=_golden("bpe_merges"))


def q_bpe_encode(spark, sf_dir):
    """BPE ENCODING with the learned merge table: every merge applied
    in rank order as chained greedy folds (pure codegen — zero Python
    in the row path).  Train + encode in one job; oracle = the frozen
    pure-python encoder's token streams (value hash pins every subword
    boundary in every document)."""
    from pdf_ocr_spark.operators import tokenizer as TK

    corpus = spark.createDataFrame(TK.fixture_corpus(), "doc_id long, text string")
    merges = TK.bpe_train(TK.word_freq_table(corpus), n_merges=12)
    enc = TK.bpe_encode(corpus, merges)
    return enc.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "tokens"
    )


SQL_BPE_ENCODE = f"""
SELECT doc_id, n_tokens, tokens FROM read_parquet('{{golden}}')
""".format(golden=_golden("bpe_encode"))


def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer-quality dashboard (the metric every production
    tokenizer eval reports): per-doc FERTILITY (tokens per word) and
    chars-per-token of the live BPE encode — fertility near 1.0 means
    the vocab covers the corpus in whole words, high fertility means
    over-fragmentation.  Both denominators derive from the token
    stream itself (words = tokens carrying the '</w>' end marker), so
    the metric needs no side channel to the raw text.  Spark runs the
    LIVE train+encode; the oracle replays the identical derivation
    over the frozen encode golden — pinning live-encode determinism
    AND the metric math (the extract_quality protocol)."""
    from pdf_ocr_spark.operators import tokenizer as TK

    corpus = spark.createDataFrame(TK.fixture_corpus(), "doc_id long, text string")
    merges = TK.bpe_train(TK.word_freq_table(corpus), n_merges=12)
    enc = TK.bpe_encode_arrow(corpus, merges)
    toks = F.split(F.col("tokens"), " ")
    n_words = F.size(F.filter(toks, lambda t: t.endswith("</w>")))
    n_chars = F.length(
        F.regexp_replace(F.replace(F.col("tokens"), F.lit("</w>"), F.lit("")), " ", "")
    )
    n_tokens = F.col("n_tokens").cast("long")
    return enc.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_words.alias("n_words"),
        # empty documents have no word markers and no tokens: NULL
        # metrics, not an ANSI DIVIDE_BY_ZERO job failure
        F.when(n_words > 0, F.round(n_tokens / n_words, 6)).alias("fertility"),
        F.when(n_tokens > 0, F.round(n_chars / n_tokens, 6)).alias(
            "chars_per_token"
        ),
    )


SQL_TOKENIZER_FERTILITY = f"""
WITH g AS (SELECT * FROM read_parquet('{_golden("bpe_encode")}')),
d AS (
  SELECT doc_id, n_tokens,
    len(list_filter(str_split(tokens, ' '), t -> t LIKE '%</w>')) AS n_words,
    length(replace(replace(tokens, '</w>', ''), ' ', '')) AS n_chars
  FROM g
)
SELECT doc_id, n_tokens, n_words,
  CASE WHEN n_words > 0 THEN
    round(CAST(n_tokens AS DOUBLE) / n_words, 6) END AS fertility,
  CASE WHEN n_tokens > 0 THEN
    round(CAST(n_chars AS DOUBLE) / n_tokens, 6) END AS chars_per_token
FROM d
"""


def q_bpe_encode_arrow(spark, sf_dir):
    """The PRODUCTION-VOCAB encode path (operators/tokenizer.py
    bpe_encode_arrow): the frozen merge table applied in the ONE
    shared mapInArrow encode stage with per-word memoization instead
    of the len(merges)-deep codegen chain — the shape a
    thousands-of-merges vocabulary needs (plan size O(1), not O(k)).
    Same oracle as ``bpe_encode``: both paths must reproduce the
    pure-python twin's token streams byte-exactly."""
    from pdf_ocr_spark.operators import tokenizer as TK

    corpus = spark.createDataFrame(TK.fixture_corpus(), "doc_id long, text string")
    merges = TK.bpe_train(TK.word_freq_table(corpus), n_merges=12)
    enc = TK.bpe_encode_arrow(corpus, merges)
    return enc.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "tokens"
    )


SQL_BPE_ENCODE_ARROW = SQL_BPE_ENCODE


def q_bpe_pair_counts(spark, sf_dir):
    """First-round BPE pair statistics over the DOCUMENTS table (the
    sf-scaled twin of the fixture-corpus trainer): top-50 adjacent
    symbol pairs by weighted frequency.  Fully SQL-expressible, so this
    one gets a live DuckDB replay instead of a golden — it pins the
    word-frequency collapse, the symbol init (chars + '</w>'), and the
    overlap-counting pair explode against an independent engine."""
    from pdf_ocr_spark.operators import tokenizer as TK

    docs = _t(spark, sf_dir, "documents")
    wf = TK.word_freq_table(docs)
    words = wf.select("cnt", TK._symbols_expr(F.col("w")).alias("syms"))
    sz = F.size("syms")
    pairs = F.arrays_zip(F.slice("syms", 1, sz - 1), F.slice("syms", 2, sz - 1))
    return (
        words.select(F.col("cnt"), F.explode(pairs).alias("p"))
        .select(F.col("p.0").alias("l"), F.col("p.1").alias("r"), "cnt")
        .groupBy("l", "r")
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("l"), F.asc("r"))
        .limit(50)
    )


SQL_BPE_PAIR_COUNTS = f"""
WITH wf AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
    FROM documents) t
  WHERE w <> '' GROUP BY w
),
s AS (SELECT cnt, list_append(str_split(w, ''), '</w>') AS syms FROM wf),
p AS (
  SELECT cnt, unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS pr
  FROM s
)
SELECT pr[1] AS l, pr[2] AS r, sum(cnt) AS freq
FROM p GROUP BY 1, 2
ORDER BY freq DESC, l ASC, r ASC
LIMIT 50
"""


def q_unigram_vocab(spark, sf_dir):
    """Distributed unigram-LM tokenizer TRAINING (SentencePiece family,
    Kudo 2018; Viterbi hard-EM) over the deterministic fixture corpus:
    one corpus-sized word groupBy, a codegen'd substring fan-out over
    the compact vocab table for the seed statistics, then per-round
    mapInArrow Viterbi E-steps + map-side-combined piece
    aggregates, coverage-safe pruning to vocab_size.  Oracle = the
    INDEPENDENT pure-python trainer frozen by
    tools/freeze_unigram_golden.py (value hash pins every piece and
    path count)."""
    from pdf_ocr_spark.operators import unigram as UG

    corpus = spark.createDataFrame(UG.fixture_corpus(), "doc_id long, text string")
    vocab = UG.unigram_train(
        UG.word_freq_table(corpus), vocab_size=40, rounds=2,
        max_piece_len=4, seed_size=150,
    )
    return spark.createDataFrame(vocab, "piece string, freq long")


SQL_UNIGRAM_VOCAB = f"""
SELECT piece, freq FROM read_parquet('{{golden}}')
""".format(golden=_golden("unigram_vocab"))


def q_unigram_encode(spark, sf_dir):
    """Unigram-LM ENCODING with the learned piece table: the ONE shared
    mapInArrow encode stage (broadcast scores, per-word Viterbi
    with memoization — O(1) plan depth at any vocabulary size, the
    bpe_encode_arrow shape).  Train + encode in one job; oracle = the
    frozen pure-python twin's token streams (value hash pins every
    segmentation boundary in every document)."""
    from pdf_ocr_spark.operators import unigram as UG

    corpus = spark.createDataFrame(UG.fixture_corpus(), "doc_id long, text string")
    vocab = UG.unigram_train(
        UG.word_freq_table(corpus), vocab_size=40, rounds=2,
        max_piece_len=4, seed_size=150,
    )
    enc = UG.unigram_encode(corpus, vocab, max_piece_len=4)
    return enc.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "tokens"
    )


SQL_UNIGRAM_ENCODE = f"""
SELECT doc_id, n_tokens, tokens FROM read_parquet('{{golden}}')
""".format(golden=_golden("unigram_encode"))


def q_unigram_seed_counts(spark, sf_dir):
    """Unigram seed-piece statistics over the DOCUMENTS table (the
    sf-scaled twin of the fixture-corpus trainer; the bpe_pair_counts
    analogue): top-50 substring pieces (length ≤ 4) by corpus-weighted
    occurrence frequency.  The substring fan-out runs over the compact
    distinct-word table, never the corpus.  Fully SQL-expressible, so
    this one gets a live DuckDB replay instead of a golden — it pins
    the word-frequency collapse and the position-weighted substring
    explode against an independent engine."""
    from pdf_ocr_spark.operators import unigram as UG

    docs = _t(spark, sf_dir, "documents")
    wf = UG.word_freq_table(docs)
    return (
        UG.seed_piece_counts(wf, max_piece_len=4)
        .orderBy(F.desc("freq"), F.asc("piece"))
        .limit(50)
    )


SQL_UNIGRAM_SEED_COUNTS = f"""
WITH wf AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
    FROM documents) t
  WHERE w <> '' GROUP BY w
),
pos AS (
  SELECT w, cnt, unnest(range(1, length(w) + 1)) AS i FROM wf
),
sub AS (
  SELECT cnt,
         substr(w, i::INT, unnest(range(1, least(4, length(w) - i + 1) + 1))::INT)
           AS piece
  FROM pos
)
SELECT piece, sum(cnt) AS freq
FROM sub GROUP BY 1
ORDER BY freq DESC, piece ASC
LIMIT 50
"""


def q_bpe_byte_alphabet(spark, sf_dir):
    """The GPT-2 byte→printable-unicode alphabet itself (Radford et al.
    2019 bytes_to_unicode — what lets byte-level BPE cover EVERY byte
    web text can contain while the merge loop sees clean strings):
    all 256 rows value-hash-pinned.  The oracle derives the table
    INDEPENDENTLY from the published rule (printable ranges map to
    themselves, the 68 others shift to 256+k in byte order) — two
    implementations of the spec, not a replay."""
    from pdf_ocr_spark.operators import bytebpe as BB

    return spark.createDataFrame(
        BB.byte_alphabet_rows(), "byte long, mapped string"
    )


SQL_BPE_BYTE_ALPHABET = """
WITH b AS (
  SELECT unnest(range(0, 256)) AS byte
),
cls AS (
  SELECT byte,
    (byte BETWEEN 33 AND 126 OR byte BETWEEN 161 AND 172
     OR byte BETWEEN 174 AND 255) AS keep
  FROM b
),
shifted AS (
  SELECT byte, keep,
    row_number() OVER (PARTITION BY keep ORDER BY byte) - 1 AS k
  FROM cls
)
SELECT byte,
  CASE WHEN keep THEN chr(CAST(byte AS INT))
       ELSE chr(CAST(256 + k AS INT)) END AS mapped
FROM shifted
"""


def q_bpe_byte_pretokens(spark, sf_dir):
    """Byte-level BPE front end over the DOCUMENTS table: GPT-2-style
    pre-tokens (leading space kept — the byte map renders it Ġ; no
    lowercasing, byte-level sees text as-is) in the byte alphabet, as
    the weighted (pretoken, cnt) table the merge loop consumes — top 50.
    Hex-pair chunking + one map-literal lookup per byte, all codegen;
    the oracle rebuilds every mapped pre-token relationally (256-row
    VALUES join on hex pairs, string_agg by position)."""
    from pdf_ocr_spark.operators import bytebpe as BB

    docs = _t(spark, sf_dir, "documents")
    return (
        BB.byte_pretoken_freqs(docs)
        .orderBy(F.desc("cnt"), F.asc("pretoken"))
        .limit(50)
    )


def _sql_byte_map_values() -> str:
    from pdf_ocr_spark.operators.bytebpe import bytes_to_unicode

    rows = ", ".join(
        "('{h}', '{c}')".format(h=f"{b:02X}", c=ch.replace("'", "''"))
        for b, ch in sorted(bytes_to_unicode().items())
    )
    return f"SELECT * FROM (VALUES {rows}) AS bm(hp, ch)"


SQL_BPE_BYTE_PRETOKENS = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(text, ' ?\\S+')) AS tok FROM documents
),
tokc AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
bmap AS ({_sql_byte_map_values()}),
chunks AS (
  SELECT tok, i,
         substr(hex(encode(tok)), CAST(i * 2 - 1 AS INT), 2) AS hp
  FROM tokc,
       unnest(range(1, CAST(length(hex(encode(tok))) / 2 AS INT) + 1)) AS t(i)
),
mapped AS (
  SELECT c.tok, string_agg(bm.ch, '' ORDER BY c.i) AS pretoken
  FROM chunks c JOIN bmap bm ON c.hp = bm.hp
  GROUP BY c.tok
)
SELECT m.pretoken, CAST(sum(tokc.cnt) AS BIGINT) AS cnt
FROM mapped m JOIN tokc ON m.tok = tokc.tok
GROUP BY m.pretoken
ORDER BY cnt DESC, pretoken ASC
LIMIT 50
"""


def q_wordpiece_vocab(spark, sf_dir):
    """Distributed WordPiece tokenizer TRAINING (Schuster & Nakajima
    2012; the BERT tokenizer — likelihood merge criterion freq(pair) /
    (freq(l)·freq(r)) as a BIGINT-exact 10^12-quantized ratio) over the
    deterministic fixture corpus: per round, codegen'd pair + symbol
    explodes over the compact weighted vocab, broadcast denominator
    joins, TakeOrdered(1) winner, greedy fold rewrite.  Oracle = the
    INDEPENDENT pure-python trainer frozen by
    tools/freeze_wordpiece_golden.py (value hash pins every piece)."""
    from pdf_ocr_spark.operators import wordpiece as WP

    corpus = spark.createDataFrame(WP.fixture_corpus(), "doc_id long, text string")
    _, vocab = WP.wordpiece_train(WP.word_freq_table(corpus), n_merges=8)
    return spark.createDataFrame(vocab, "piece string, freq long")


SQL_WORDPIECE_VOCAB = f"""
SELECT piece, freq FROM read_parquet('{{golden}}')
""".format(golden=_golden("wordpiece_vocab"))


def q_wordpiece_encode(spark, sf_dir):
    """WordPiece ENCODING (BERT-runtime greedy longest-prefix MaxMatch,
    ## continuation, whole-word [UNK] fallback) with the learned piece
    table: the ONE shared mapInArrow encode stage (broadcast vocab set,
    per-word memoization — O(1) plan depth at any vocabulary size).
    The eval corpus extends the training fixture with rows the
    vocabulary can only partially cover or not at all, so both the
    backoff and the [UNK] paths are value-hash-pinned by the frozen
    independent twin."""
    from pdf_ocr_spark.operators import wordpiece as WP

    train_corpus = spark.createDataFrame(
        WP.fixture_corpus(), "doc_id long, text string"
    )
    _, vocab = WP.wordpiece_train(WP.word_freq_table(train_corpus), n_merges=8)
    eval_docs = spark.createDataFrame(WP.eval_corpus(), "doc_id long, text string")
    enc = WP.wordpiece_encode(eval_docs, vocab)
    return enc.select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "tokens"
    )


SQL_WORDPIECE_ENCODE = f"""
SELECT doc_id, n_tokens, tokens FROM read_parquet('{{golden}}')
""".format(golden=_golden("wordpiece_encode"))


def q_wordpiece_pair_scores(spark, sf_dir):
    """Round-1 WordPiece pair-likelihood statistics over the DOCUMENTS
    table (the bpe_pair_counts analogue for the likelihood criterion):
    top-50 adjacent symbol pairs by the BIGINT-exact quantized score
    freq·10^12 div (freq_l·freq_r).  Fully SQL-expressible, so this one
    gets a live DuckDB replay — it pins the ##-prefixed symbol
    construction, the weighted pair/symbol statistics, and the integer
    score arithmetic against an independent engine."""
    from pdf_ocr_spark.operators import wordpiece as WP

    docs = _t(spark, sf_dir, "documents")
    wf = WP.word_freq_table(docs)
    return (
        WP.wordpiece_pair_scores(wf)
        .orderBy(F.desc("score_q"), F.desc("freq"), F.asc("l"), F.asc("r"))
        .limit(50)
    )


SQL_WORDPIECE_PAIR_SCORES = f"""
WITH wf AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
    FROM documents) t
  WHERE w <> '' GROUP BY w
),
pairs AS (
  SELECT CASE WHEN i = 1 THEN substr(w, 1, 1)
              ELSE '##' || substr(w, CAST(i AS INT), 1) END AS l,
         '##' || substr(w, CAST(i + 1 AS INT), 1) AS r,
         cnt
  FROM wf, unnest(range(1, length(w))) AS t(i)
  WHERE length(w) > 1
),
pf AS (SELECT l, r, sum(cnt) AS freq FROM pairs GROUP BY l, r),
syms AS (
  SELECT CASE WHEN i = 1 THEN substr(w, 1, 1)
              ELSE '##' || substr(w, CAST(i AS INT), 1) END AS sym,
         cnt
  FROM wf, unnest(range(1, length(w) + 1)) AS t(i)
),
sf AS (SELECT sym, sum(cnt) AS freq FROM syms GROUP BY sym)
SELECT pf.l, pf.r, CAST(pf.freq AS BIGINT) AS freq,
       CAST(pf.freq AS BIGINT) * 1000000000000
         // (CAST(fl.freq AS BIGINT) * CAST(fr.freq AS BIGINT)) AS score_q
FROM pf
JOIN sf fl ON pf.l = fl.sym
JOIN sf fr ON pf.r = fr.sym
ORDER BY score_q DESC, freq DESC, l, r
LIMIT 50
"""


def q_tfidf_keywords(spark, sf_dir):
    """Per-document TF-IDF keywords (top-3, df ≥ 2): one words fan-out
    feeds the (doc, term) tf groupBy and the term df groupBy; the df
    table broadcasts back; the only other shuffle is the per-doc top-k
    window — never global."""
    from pdf_ocr_spark.operators.search import tfidf_keywords

    return tfidf_keywords(_t(spark, sf_dir, "documents"), k=3, min_df=2)


SQL_TFIDF_KEYWORDS = f"""
WITH dwf AS (
  SELECT doc_id, w
  FROM (SELECT doc_id,
               unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
        FROM documents)
  WHERE w <> ''
),
tf AS (SELECT doc_id, w, count(*) AS tf FROM dwf GROUP BY doc_id, w),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w HAVING count(*) >= 2),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.w AS term, tf.tf, df.df,
         round(tf.tf * ln(n.n_docs / df.df), 4) AS tfidf
  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored)
WHERE rank <= 3
"""


_BM25_TERMS = ("spark", "window", "merge")


def q_search_bm25(spark, sf_dir):
    """BM25 top-k relevance search (Lucene idf) for a fixed bag of
    query terms — one corpus scan (dl + per-term tfs in one groupBy),
    one broadcast stats row, TakeOrdered top-k; per-term contributions
    quantize to DECIMAL(18,6) so the score hash matches the oracle."""
    from pdf_ocr_spark.operators.search import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS, k=10)


def _sql_bm25(terms, k=10):
    norm = _NORM_SQL.format(c="text")
    tfs = ",\n    ".join(
        f"sum(CASE WHEN w = '{t}' THEN 1 ELSE 0 END) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    dfs = ",\n    ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(terms))
    )
    # shapes mirror the Spark expression exactly (same association order)
    contribs = "\n     + ".join(
        f"CAST(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * CAST(tf_{i} AS DOUBLE) * (1.2 + 1.0)"
        f" / (CAST(tf_{i} AS DOUBLE)"
        f" + 1.2 * (1.0 - 0.75 + 0.75 * dl / (total_dl / n_docs)))"
        f" AS DECIMAL(18,6))"
        for i in range(len(terms))
    )
    return f"""
WITH w AS (
  SELECT doc_id, w
  FROM (SELECT doc_id, unnest(str_split({norm}, ' ')) AS w FROM documents)
  WHERE w <> ''
),
per_doc AS (
  SELECT doc_id, count(*) AS dl,
    {tfs}
  FROM w GROUP BY doc_id
),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) AS total_dl,
    {dfs}
  FROM per_doc
)
SELECT doc_id, score FROM (
  SELECT doc_id,
    CAST(round(({contribs}), 4) AS DOUBLE) AS score
  FROM per_doc CROSS JOIN stats
)
WHERE score > 0
ORDER BY score DESC, doc_id
LIMIT {k}
"""


SQL_SEARCH_BM25 = _sql_bm25(_BM25_TERMS)


def q_search_postings(spark, sf_dir):
    """Inverted-index build: (term, df, postings) with the postings as
    a sorted id list (comma-joined for the hash compare) — one map-side
    combined shuffle; min_df=5 trims hapax noise."""
    from pdf_ocr_spark.operators.search import build_postings

    p = build_postings(_t(spark, sf_dir, "documents"), min_df=5)
    return p.select(
        "term", "df", F.array_join("postings", ",").alias("postings")
    )


SQL_SEARCH_POSTINGS = f"""
WITH w AS (
  SELECT DISTINCT doc_id, w
  FROM (SELECT doc_id,
               unnest(str_split({_NORM_SQL.format(c='text')}, ' ')) AS w
        FROM documents)
  WHERE w <> ''
)
SELECT w AS term, count(*) AS df,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
FROM w GROUP BY w HAVING count(*) >= 5
"""


_PHRASE = ("fast", "table")


def q_search_phrase(spark, sf_dir):
    """Exact phrase query ('fast table') over positional postings — the
    classic IR adjacency join beside bag-of-words BM25: postings filter
    to the phrase terms (pushed into the scan), chained equi-joins on
    (doc, pos+offset) keep exactly the occurrences.  The corpus-audit
    precision tool: find-this-exact-quote, decontamination spot checks,
    boilerplate hunting.  Oracle replays postings via DuckDB
    generate_subscripts and the same adjacency join."""
    from pdf_ocr_spark.operators.search import phrase_search

    return phrase_search(_t(spark, sf_dir, "documents"), _PHRASE)


def _sql_phrase(phrase) -> str:
    norm = _NORM_SQL.format(c="text")
    joins = "\n  ".join(
        f"JOIN p p{i} ON p{i}.doc = p0.doc AND p{i}.pos = p0.pos + {i}"
        f" AND p{i}.term = '{t}'"
        for i, t in enumerate(phrase[1:], start=1)
    )
    return f"""
WITH p AS (
  SELECT doc, pos, term FROM (
    SELECT doc_id AS doc,
           generate_subscripts(arr, 1) - 1 AS pos,
           unnest(arr) AS term
    FROM (SELECT doc_id, str_split({norm}, ' ') AS arr FROM documents)
  ) WHERE term <> ''
)
SELECT p0.doc AS doc_id, count(*) AS n_occurrences,
       min(p0.pos) AS first_pos
FROM p p0
  {joins}
WHERE p0.term = '{phrase[0]}'
GROUP BY p0.doc
"""


SQL_SEARCH_PHRASE = _sql_phrase(_PHRASE)


def q_search_proximity(spark, sf_dir):
    """Ordered proximity query ('fast … table' within slop 2 — Lucene's
    sloppy phrase, ordered case): the adjacency equi-joins of
    `search_phrase` widen into BOUNDED range joins (≤ slop+1 fan-out
    per probe row), occurrences counted per distinct start anchor.
    Matches everything the exact phrase matches plus gap variants —
    the recall dial of the corpus-audit tool."""
    from pdf_ocr_spark.operators.search import proximity_search

    return proximity_search(_t(spark, sf_dir, "documents"), _PHRASE, slop=2)


def _sql_proximity(phrase, slop: int) -> str:
    norm = _NORM_SQL.format(c="text")
    joins = "\n  ".join(
        f"JOIN p p{i} ON p{i}.doc = p{i - 1}.doc"
        f" AND p{i}.pos > p{i - 1}.pos"
        f" AND p{i}.pos <= p{i - 1}.pos + {1 + slop}"
        f" AND p{i}.term = '{t}'"
        for i, t in enumerate(phrase[1:], start=1)
    )
    return f"""
WITH p AS (
  SELECT doc, pos, term FROM (
    SELECT doc_id AS doc,
           generate_subscripts(arr, 1) - 1 AS pos,
           unnest(arr) AS term
    FROM (SELECT doc_id, str_split({norm}, ' ') AS arr FROM documents)
  ) WHERE term <> ''
)
SELECT p0.doc AS doc_id, count(DISTINCT p0.pos) AS n_occurrences,
       min(p0.pos) AS first_pos
FROM p p0
  {joins}
WHERE p0.term = '{phrase[0]}'
GROUP BY p0.doc
"""


SQL_SEARCH_PROXIMITY = _sql_proximity(_PHRASE, 2)


def q_fetch_schedule(spark, sf_dir):
    """Politeness fetch scheduler: per-domain slots × crawl-delay →
    fetch offsets.  Frontier = one synthetic URL per document across 7
    domains with doc-derived priorities; delays table broadcast; the
    slot window partitions by domain (politeness's inherent unit of
    serialization — no global sort)."""
    from pdf_ocr_spark.operators.frontier import fetch_schedule

    frontier = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("https://d"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".test/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 13).cast("long").alias("priority"),
    )
    delays = spark.createDataFrame(
        [("d0.test", 2.0), ("d3.test", 0.5), ("d5.test", 4.0)],
        "domain string, crawl_delay double",
    )
    return fetch_schedule(frontier, delays, default_delay=1.0)


SQL_FETCH_SCHEDULE = """
WITH frontier AS (
  SELECT 'https://d' || CAST(doc_id % 7 AS VARCHAR) || '.test/page/'
         || CAST(doc_id AS VARCHAR) AS url,
         CAST(doc_id % 13 AS BIGINT) AS priority
  FROM documents
),
delays AS (
  SELECT * FROM (VALUES ('d0.test', 2.0), ('d3.test', 0.5), ('d5.test', 4.0))
    AS t(domain, crawl_delay)
),
slotted AS (
  SELECT url,
    lower(regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)) AS domain,
    priority,
    CAST(row_number() OVER (
      PARTITION BY lower(regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)', 1))
      ORDER BY priority DESC, url) - 1 AS INT) AS slot
  FROM frontier
)
SELECT url, domain, slot,
       slot * coalesce(crawl_delay, 1.0) AS fetch_offset
FROM slotted LEFT JOIN delays USING (domain)
"""


def q_text_repetition(spark, sf_dir):
    """Duplicate-line / duplicate-paragraph fractions (Gopher repetition
    family) — array built-ins, no explode."""
    return T.repetition_stats(
        _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    )


SQL_TEXT_REPETITION = """
WITH f AS (
  SELECT doc_id,
    list_filter(string_split(text, chr(10)), s -> trim(s) <> '') AS lines,
    list_filter(string_split(text, chr(10) || chr(10)), s -> trim(s) <> '') AS paras
  FROM documents WHERE doc_id < 300
)
SELECT doc_id,
  CAST(len(lines) AS INT) AS n_lines,
  CASE WHEN len(lines) > 0
       THEN round((len(lines) - len(list_distinct(lines))) / len(lines), 4)
       ELSE 0.0 END AS dup_line_frac,
  CAST(len(paras) AS INT) AS n_paras,
  CASE WHEN len(paras) > 0
       THEN round((len(paras) - len(list_distinct(paras))) / len(paras), 4)
       ELSE 0.0 END AS dup_para_frac
FROM f
"""


_PII_SYNTH = (
    "substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail' || CAST(doc_id % 5 AS VARCHAR)"
    " || '.example.com or 10.0.' || CAST(doc_id % 200 AS VARCHAR)"
    " || '.7, call 555-123-4567.'"
)


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing (emails/IPv4/phones → typed placeholders) over a
    deterministic synthesized corpus — the documents table carries no
    natural PII, so both sides inject the same addresses per doc_id."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    synth = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.com or 10.0."), (F.col("doc_id") % 200).cast("string"),
        F.lit(".7, call 555-123-4567."),
    )
    return T.pii_scrub(d.select("doc_id", synth.alias("text")))


SQL_PII_SCRUB = f"""
WITH u AS (
  SELECT doc_id, {_PII_SYNTH} AS text FROM documents WHERE doc_id < 300
),
s AS (
  SELECT doc_id, text,
    regexp_replace(
      regexp_replace(
        regexp_replace(text, '{T.EMAIL_PATTERN}', '|||EMAIL|||', 'g'),
        '{T.IPV4_PATTERN}', '|||IP|||', 'g'),
      '{T.PHONE_PATTERN}', '|||PHONE|||', 'g') AS scrubbed
  FROM u
)
SELECT doc_id,
  len(regexp_extract_all(text, '{T.EMAIL_PATTERN}')) AS n_emails,
  len(regexp_extract_all(text, '{T.IPV4_PATTERN}')) AS n_ips,
  len(regexp_extract_all(text, '{T.PHONE_PATTERN}')) AS n_phones,
  md5(scrubbed) AS scrubbed_md5,
  CAST(length(scrubbed) AS INT) AS scrubbed_len
FROM s
"""


def q_pii_credit_cards(spark, sf_dir):
    """Luhn-validated credit-card PII (the Dolma scrub's highest-risk
    category): card-shaped 13-19-digit runs all redact (over-redaction
    is the safe failure mode); the Luhn checksum splits candidates into
    true positives vs digit-run noise — the precision column a release
    datacard publishes.  The documents table carries no natural card
    numbers, so both sides inject the same deterministic candidates:
    every 7th doc a Luhn-VALID Visa test number, every 11th an invalid
    digit run, every 13th a bare 14-digit run (valid by construction
    iff its checksum lands on 0)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    synth = F.concat(
        F.substring("text", 1, 40),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.lit(" pay with 4111-1111-1111-1111 now"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit(" ref 1234 5678 9012 3456 thanks"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" order 555500001111"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    return T.credit_card_stats(d.select("doc_id", synth.alias("text")))


_CC_SYNTH = """
  substr(text, 1, 40)
  || CASE WHEN doc_id % 7 = 0 THEN ' pay with 4111-1111-1111-1111 now'
          ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN ' ref 1234 5678 9012 3456 thanks'
          ELSE '' END
  || CASE WHEN doc_id % 13 = 0
          THEN ' order 555500001111' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
          ELSE '' END
""".strip()

_CC_LUHN = (
    "list_sum(list_transform("
    "list_reverse(str_split(regexp_replace(c, '[ -]', '', 'g'), '')), "
    "(d, i) -> CASE WHEN i % 2 = 0 THEN "
    "CASE WHEN CAST(d AS INT) * 2 > 9 THEN CAST(d AS INT) * 2 - 9 "
    "ELSE CAST(d AS INT) * 2 END "
    "ELSE CAST(d AS INT) END)) % 10 = 0"
)

SQL_PII_CREDIT_CARDS = f"""
WITH u AS (
  SELECT doc_id, {_CC_SYNTH} AS text FROM documents WHERE doc_id < 300
),
s AS (
  SELECT doc_id, text,
    regexp_extract_all(text, '{T.CC_PATTERN}') AS cands,
    regexp_replace(text, '{T.CC_PATTERN}', '|||CC|||', 'g') AS scrubbed
  FROM u
)
SELECT doc_id,
  CAST(len(cands) AS INT) AS n_cc_candidates,
  CAST(len(list_filter(cands, c -> {_CC_LUHN})) AS INT) AS n_cc_luhn_valid,
  md5(scrubbed) AS scrubbed_md5,
  CAST(length(scrubbed) AS INT) AS scrubbed_len
FROM s
"""


_URL_SYNTH = (
    "'HTTPS://Site' || CAST(doc_id % 7 AS VARCHAR)"
    " || '.Example.COM:443/Path/' || CAST(doc_id AS VARCHAR)"
    " || '/?utm_source=feed&utm_id=' || CAST(doc_id % 3 AS VARCHAR)"
    " || '&id=' || CAST(doc_id AS VARCHAR)"
    " || '&xutm_keep=' || CAST(doc_id % 2 AS VARCHAR) || '#Section-2'"
)

_SQL_URL_NORM = """
regexp_replace(regexp_replace(regexp_replace(
  regexp_replace(regexp_replace(regexp_replace(
  regexp_replace(
    regexp_replace(regexp_replace(
      lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)),
      '^(http://[^:/]*):80$', '\\1'),
      '^(https://[^:/]*):443$', '\\1')
  || regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
  '#.*$', ''),
  '([?&])utm_[^&#]*&', '\\1', 'g'), '([?&])utm_[^&#]*&', '\\1', 'g'),
  '([?&])utm_[^&#]*&', '\\1', 'g'), '[?&]utm_[^&#]*$', ''),
  '\\?$', ''), '/$', '')
"""


def _url_corpus(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    url = F.concat(
        F.lit("HTTPS://Site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM:443/Path/"), F.col("doc_id").cast("string"),
        F.lit("/?utm_source=feed&utm_id="), (F.col("doc_id") % 3).cast("string"),
        F.lit("&id="), F.col("doc_id").cast("string"),
        F.lit("&xutm_keep="), (F.col("doc_id") % 2).cast("string"),
        F.lit("#Section-2"),
    )
    return d.select("doc_id", url.alias("url"))


def _trap_url_corpus(spark, sf_dir):
    """Synthetic URL space with two real trap shapes: a calendar trap
    (every doc its own /cal/{n}/day URL), a session-id trap (/p/{h}
    md5 hex), a bounded archive (/article/{n} with only 12 pages — a
    generated template but too small to be a trap), and a literal
    docs site (never a trap)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    m = F.col("doc_id") % 4
    url = (
        F.when(
            m == 0,
            F.concat(
                F.lit("https://trap.example.com/cal/"),
                F.col("doc_id").cast("string"),
                F.lit("/day"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("https://news.example.com/article/"),
                (F.col("doc_id") % 12).cast("string"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("https://docs.example.com/guide/chapter"),
                ((F.col("doc_id") % 3) + 1).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://mixed.example.com/p/"),
                F.md5(F.col("doc_id").cast("string")),
            )
        )
    )
    return d.select("doc_id", url.alias("url"))


_SQL_TRAP_URLS = """
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'https://trap.example.com/cal/' || CAST(doc_id AS VARCHAR) || '/day'
      WHEN 1 THEN 'https://news.example.com/article/' || CAST(doc_id % 12 AS VARCHAR)
      WHEN 2 THEN 'https://docs.example.com/guide/chapter' || CAST((doc_id % 3) + 1 AS VARCHAR)
      ELSE 'https://mixed.example.com/p/' || md5(CAST(doc_id AS VARCHAR))
    END AS url
  FROM documents WHERE doc_id < 400
"""

_SQL_URL_TEMPLATE = (
    "array_to_string(list_transform("
    "str_split(regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)', 1), '/'),"
    " s -> CASE WHEN regexp_matches(s, '^[0-9]+$') THEN '{n}'"
    " WHEN regexp_matches(s, '^[0-9a-f]{16,}$') THEN '{h}'"
    " ELSE s END), '/')"
)

_SQL_TEMPLATE_COUNTS = (
    "SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS domain,\n"
    "       " + _SQL_URL_TEMPLATE + " AS template,\n"
    "       count(*) AS n_urls, count(DISTINCT url) AS n_distinct_urls\n"
    "FROM u GROUP BY 1, 2"
)


def q_url_templates(spark, sf_dir):
    """URL template mining: per (domain, path template) URL counts,
    digit segments → '{n}', 16+-hex segments → '{h}' — ONE map-side-
    combined groupBy after a codegen'd per-row template projection."""
    return T.url_template_counts(_trap_url_corpus(spark, sf_dir))


SQL_URL_TEMPLATES = (
    "WITH u AS (" + _SQL_TRAP_URLS + ")\n" + _SQL_TEMPLATE_COUNTS
)


def q_url_spam_features(spark, sf_dir):
    """URL-shape spam features — the pre-fetch gate (C4/RefinedWeb both
    gate on URL heuristics before spending bandwidth): subdomain depth,
    path depth/length, digit ratio, query-parameter count, port/userinfo
    flag, and the composed url_suspect verdict.  Five synthesized URL
    shapes: clean article, deep subdomain chain, date+id digit-heavy
    path, parameter explosion, and a malformed relative URL (no
    scheme://host) which must come back is_valid_url=false with NULL
    features, not nonsense negatives.  Pure map-side codegen, zero
    shuffle."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    i = F.col("doc_id").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("https://www.example.com/articles/item-"), i),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit("https://a.b.c.d.e.example.com/p/"), i),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(
                F.lit("https://shop.example.com:8080/2024/11/05/item/"),
                i,
                F.lit("/9912387/view"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(
                F.lit("https://t.example.com/s?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&id="),
                i,
            )
        )
        .otherwise(F.concat(F.lit("relative/path-"), i))
    )
    return T.url_spam_features(d.select(url.alias("url")))


SQL_URL_SPAM_FEATURES = """
WITH u AS (
  SELECT CASE
    WHEN doc_id % 5 = 0 THEN 'https://www.example.com/articles/item-' || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 5 = 1 THEN 'https://a.b.c.d.e.example.com/p/' || CAST(doc_id AS VARCHAR)
    WHEN doc_id % 5 = 2 THEN 'https://shop.example.com:8080/2024/11/05/item/'
         || CAST(doc_id AS VARCHAR) || '/9912387/view'
    WHEN doc_id % 5 = 3 THEN 'https://t.example.com/s?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8&id='
         || CAST(doc_id AS VARCHAR)
    ELSE 'relative/path-' || CAST(doc_id AS VARCHAR) END AS url
  FROM documents WHERE doc_id < 200
),
f AS (
  SELECT url,
    lower(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)) AS host,
    regexp_replace(
      lower(regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)),
      '(:[0-9]+)$', '') AS hostname,
    regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)?', 1) AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS query
  FROM u
),
v AS (SELECT f.*, hostname <> '' AS is_valid_url FROM f)
SELECT url,
  is_valid_url,
  CASE WHEN is_valid_url
       THEN CAST(len(string_split(hostname, '.')) - 2 AS INT) END AS sub_depth,
  CASE WHEN is_valid_url
       THEN CAST(CASE WHEN len(path) > 1 THEN len(string_split(path, '/')) - 1
                 ELSE 0 END AS INT) END AS path_depth,
  CASE WHEN is_valid_url THEN CAST(len(path) AS INT) END AS path_len,
  CASE WHEN is_valid_url
       THEN round(len(regexp_replace(path, '[^0-9]', '', 'g'))
                  / greatest(len(path), 1), 4) END AS digit_ratio,
  CASE WHEN is_valid_url
       THEN CAST(CASE WHEN len(query) > 0 THEN len(string_split(query, '&'))
                 ELSE 0 END AS INT) END AS n_params,
  (is_valid_url AND
   (regexp_matches(host, '@') OR regexp_matches(host, ':[0-9]+$')))
    AS has_userinfo_or_port,
  (is_valid_url AND
  ((len(string_split(hostname, '.')) - 2 >= 4)
   OR (CASE WHEN len(path) > 1 THEN len(string_split(path, '/')) - 1
            ELSE 0 END >= 8)
   OR (len(path) >= 200)
   OR (round(len(regexp_replace(path, '[^0-9]', '', 'g'))
             / greatest(len(path), 1), 4) >= 0.4)
   OR (CASE WHEN len(query) > 0 THEN len(string_split(query, '&'))
            ELSE 0 END >= 8))) AS url_suspect
FROM v
"""


def q_crawl_traps(spark, sf_dir):
    """Crawl-trap verdicts: the calendar trap (100 distinct /cal/{n}/day
    URLs, 100% concentration) and the session-id trap (/p/{h}) flag; the
    12-page /article/{n} archive is generated but too small; the literal
    docs site never counts.  Aggregate-only plan — argmax-by-struct, no
    window, no sort."""
    return T.crawl_trap_domains(
        _trap_url_corpus(spark, sf_dir), trap_min_urls=20, trap_concentration=0.5
    )


SQL_CRAWL_TRAPS = (
    "WITH u AS (" + _SQL_TRAP_URLS + "),\n"
    "tc AS (" + _SQL_TEMPLATE_COUNTS + "),\n"
    """ranked AS (
  SELECT domain, template, n_distinct_urls,
    CASE WHEN regexp_matches(template, '\\{[nh]\\}')
         THEN n_distinct_urls ELSE 0 END AS k,
    row_number() OVER (
      PARTITION BY domain
      ORDER BY (CASE WHEN regexp_matches(template, '\\{[nh]\\}')
                     THEN n_distinct_urls ELSE 0 END) DESC, template DESC
    ) AS rn
  FROM tc
),
dom AS (
  SELECT domain, sum(n_distinct_urls) AS n_urls, count(*) AS n_templates
  FROM tc GROUP BY domain
)
SELECT d.domain, d.n_urls, d.n_templates,
       r.template AS hot_template,
       CAST(r.k AS BIGINT) AS hot_template_urls,
       (r.k >= 20 AND r.k / d.n_urls >= 0.5) AS is_trap
FROM dom d JOIN ranked r ON d.domain = r.domain AND r.rn = 1
"""
)


def q_sink_warc_roundtrip(spark, sf_dir):
    """WARC sink + source round-trip IN ONE PLAN: synthesized pages →
    per-partition WARC archives (from-scratch ISO 28500 writer,
    deterministic record ids) → the from-scratch reader parses them
    back → (url, body_md5, n_bytes).  The oracle computes the md5 of
    the expected bytes directly, so the value hash pins BOTH codecs:
    any header, length, or body corruption in either direction breaks
    the match."""
    from pdf_ocr_spark.sources.warc import archive_pages, pages_to_warc

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pages = d.select(
        F.concat(
            F.lit("https://w"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id")).alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    archives = pages_to_warc(pages.repartition(4, "url"))
    back = archive_pages(archives)
    return back.select(
        "url",
        F.md5(F.col("html")).alias("body_md5"),
        F.length(F.col("html")).cast("long").alias("n_bytes"),
    )


def q_sink_warc_revisit(spark, sf_dir):
    """WARC REVISIT records — dedup AT THE SINK, the way Common Crawl's
    own archives encode URL-level duplicates (WARC-Profile
    identical-payload-digest): each of 150 pages carries the payload of
    doc (id % 50), so every payload appears at three urls; the earliest
    capture stores the full response (with its sha256 payload digest),
    the two later ones store revisit records whose WARC-Refers-To{,
    -Target-URI, -Date} point at the keeper.  One digest groupBy (only
    (digest, ts, url) shuffles — never bodies) + per-partition archive
    map + parse-back in ONE plan; the oracle recomputes keeper
    selection, digests, dates, and even the md5-derived refers-to
    record ids relationally."""
    from pdf_ocr_spark.sources.warc import pages_to_warc_deduped, warc_revisit_rows

    d = _t(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") < 150).select("doc_id")
    b = d.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("_src"), F.col("text")
    )
    pages = a.join(b, a["doc_id"] % 50 == b["_src"]).select(
        F.concat(
            F.lit("https://w"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id")).alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
    )
    archives = pages_to_warc_deduped(pages.repartition(4, "url"))
    return warc_revisit_rows(archives)


SQL_SINK_WARC_REVISIT = """
WITH pages AS (
  SELECT a.doc_id,
    'https://w' || CAST(a.doc_id % 5 AS VARCHAR)
      || '.example.com/p/' || CAST(a.doc_id AS VARCHAR) AS url,
    strftime(make_timestamp((1735689600 + a.doc_id) * 1000000),
             '%Y-%m-%dT%H:%M:%SZ') AS date,
    b.text AS content
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id % 50
  WHERE a.doc_id < 150
),
keyed AS (
  SELECT *, sha256(content) AS digest,
    row_number() OVER (PARTITION BY sha256(content)
                       ORDER BY date, url) AS rn
  FROM pages
),
keepers AS (SELECT digest, url AS k_url, date AS k_date FROM keyed WHERE rn = 1)
SELECT
  CASE WHEN k.rn = 1 THEN 'response' ELSE 'revisit' END AS warc_type,
  k.url, k.date, 'sha256:' || k.digest AS digest,
  CASE WHEN k.rn = 1 THEN NULL ELSE kp.k_url END AS refers_uri,
  CASE WHEN k.rn = 1 THEN NULL ELSE kp.k_date END AS refers_date,
  CASE WHEN k.rn = 1 THEN NULL ELSE
    '<urn:uuid:' || substr(h.h, 1, 8) || '-' || substr(h.h, 9, 4) || '-'
      || substr(h.h, 13, 4) || '-' || substr(h.h, 17, 4) || '-'
      || substr(h.h, 21, 12) || '>' END AS refers_id,
  CASE WHEN k.rn = 1 THEN md5(k.content) END AS body_md5
FROM keyed k
JOIN keepers kp ON k.digest = kp.digest,
LATERAL (SELECT md5(kp.k_url || chr(10) || kp.k_date) AS h) h
"""


def q_warc_cdx(spark, sf_dir):
    """CDX capture index over a WARC archive (the lookup artifact of
    web archiving — Common Crawl ships a CDXJ index beside every
    crawl): SURT-sorted url key, 14-digit timestamp, base32-SHA1
    payload digest, mime/status from the HTTP envelope, and the
    (offset, length) byte range that fetches exactly that record.
    Pages sort into ONE archive partition so the byte layout (hence
    offsets) is pinned; production indexing is per-file parallel, no
    shuffle.  Oracle = frozen kernel replay of pages → WARC → CDX
    (tools/freeze.py); a test slices every (offset, length)
    back out of the archive and re-parses it."""
    from pdf_ocr_spark.sources.warc import pages_to_warc, warc_cdx

    pages = _corpus(spark, "cdx", "url", "warc_ts", "html", "text", "lang")
    archives = pages_to_warc(pages.repartition(1).sortWithinPartitions("url"))
    return warc_cdx(
        archives.select(
            F.col("warc"), F.lit("part-00000.warc").alias("filename")
        )
    )


SQL_WARC_CDX = f"""
SELECT surt_key, ts, url, mime, CAST(status AS INT) AS status, digest,
       CAST("offset" AS BIGINT) AS offset,
       CAST(length AS BIGINT) AS length, filename
FROM read_parquet('{_golden("cdx")}')
"""


SQL_SINK_WARC_ROUNDTRIP = """
SELECT 'https://w' || CAST(doc_id % 5 AS VARCHAR)
       || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
       md5(text) AS body_md5,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents WHERE doc_id < 200
"""


def q_warc_redirects(spark, sf_dir):
    """Redirect-edge extraction from WARC captures: every 3xx response
    record with a Location header → (url, ts, status, raw location,
    absolutized target) — the crawl's URL-rewrite edges (canonical
    moves, http→https).  Location resolution covers absolute,
    scheme-relative (//host), root-relative, and path-relative forms;
    200s, Location-less 3xxs, and conversion records are ignored.
    Per-archive map, no shuffle.  Oracle = frozen kernel golden
    (tools/freeze.py)."""
    from pdf_ocr_spark.sources.warc import warc_redirects

    return warc_redirects(_corpus(spark, "redirect_archive", "warc"))


SQL_WARC_REDIRECTS = f"""
SELECT url, ts, CAST(status AS INT) AS status, location, target
FROM read_parquet('{_golden("redirects")}')
"""


def q_redirect_resolve(spark, sf_dir):
    """Redirect-chain resolution over the fetch frontier: follow
    (url → target) edges up to 3 hops relationally — the loop UNROLLS
    to broadcast left joins, no iteration state.  Synthetic edge table
    exercises chains (u_i → u_{{i+1}} for i%5<3: up to 3-hop walks),
    self-loops (i%7==6 → unresolved), and redirect-free urls
    (direct).  The oracle replays the identical unrolled joins."""
    from pdf_ocr_spark.operators.frontier import resolve_redirects

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    i = F.col("doc_id")
    u = F.concat(F.lit("https://r.test/u/"), i.cast("string"))
    target = (
        F.when(i % 7 == 6, u)
        .when(i % 5 < 3,
              F.concat(F.lit("https://r.test/u/"), (i + 1).cast("string")))
    )
    edges = d.select(u.alias("url"), target.alias("target")).filter(
        F.col("target").isNotNull()
    )
    urls = d.select(u.alias("url"))
    return resolve_redirects(edges, urls, max_hops=3)


_SQL_REDIR_U = "'https://r.test/u/' || CAST(doc_id AS VARCHAR)"

SQL_REDIRECT_RESOLVE = f"""
WITH u AS (
  SELECT {_SQL_REDIR_U} AS url, doc_id FROM documents WHERE doc_id < 300
), e AS (
  SELECT url AS src,
         CASE WHEN doc_id % 7 = 6 THEN url
              WHEN doc_id % 5 < 3
                THEN 'https://r.test/u/' || CAST(doc_id + 1 AS VARCHAR)
         END AS dst
  FROM u
  WHERE doc_id % 7 = 6 OR doc_id % 5 < 3
)
SELECT u.url,
  coalesce(e2.dst, e1.dst, e0.dst, u.url) AS final_url,
  CAST((CASE WHEN e0.dst IS NULL THEN 0 ELSE 1 END)
     + (CASE WHEN e1.dst IS NULL THEN 0 ELSE 1 END)
     + (CASE WHEN e2.dst IS NULL THEN 0 ELSE 1 END) AS INT) AS n_hops,
  CASE WHEN e0.dst IS NULL THEN 'direct'
       WHEN e3.dst IS NOT NULL THEN 'unresolved'
       ELSE 'moved' END AS resolution
FROM u
LEFT JOIN e e0 ON u.url = e0.src
LEFT JOIN e e1 ON coalesce(e0.dst, u.url) = e1.src
LEFT JOIN e e2 ON coalesce(e1.dst, e0.dst, u.url) = e2.src
LEFT JOIN e e3 ON coalesce(e2.dst, e1.dst, e0.dst, u.url) = e3.src
"""


def q_ingest_validate(spark, sf_dir):
    """Ingestion quarantine gate over the north-rule pages shape
    (url, warc_ts, html, text, lang), with every corruption class
    synthesized deterministically from documents: ftp/empty urls,
    null/pre-web timestamps, contentless rows, unroutable lang tags.
    One map-side projection, zero shuffle."""
    from pdf_ocr_spark.operators.ingest import ingest_validate

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    m = F.col("doc_id") % 10
    url = (
        F.when(m == 3, F.lit("ftp://bad.example.com/x"))
        .when(m == 7, F.lit(""))
        .otherwise(
            F.concat(
                F.lit("https://site"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.com/doc/"),
                F.col("doc_id").cast("string"),
            )
        )
    )
    epoch = (
        F.when(m == 1, F.lit(None).cast("long"))
        .when(m == 9, F.lit(123456).cast("long"))
        .otherwise(F.lit(1735689600) + F.col("doc_id"))
    )
    html = F.when(m == 5, F.lit(None).cast("binary")).otherwise(
        F.encode(F.col("text"), "utf-8")
    )
    text = F.when(m == 5, F.lit("")).otherwise(F.col("text"))
    lang = F.when(m == 2, F.lit("xx")).otherwise(F.col("lang"))
    pages = d.select(
        url.alias("url"),
        F.timestamp_seconds(epoch).alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )
    return ingest_validate(pages)


SQL_INGEST_VALIDATE = r"""
WITH p AS (
  SELECT
    CASE WHEN doc_id % 10 = 3 THEN 'ftp://bad.example.com/x'
         WHEN doc_id % 10 = 7 THEN ''
         ELSE 'https://site' || CAST(doc_id % 7 AS VARCHAR)
              || '.example.com/doc/' || CAST(doc_id AS VARCHAR) END AS url,
    CASE WHEN doc_id % 10 = 1 THEN NULL
         WHEN doc_id % 10 = 9 THEN 123456
         ELSE 1735689600 + doc_id END AS epoch,
    CASE WHEN doc_id % 10 = 5 THEN NULL ELSE text END AS html_text,
    CASE WHEN doc_id % 10 = 5 THEN '' ELSE text END AS text,
    CASE WHEN doc_id % 10 = 2 THEN 'xx' ELSE lang END AS lang
  FROM documents WHERE doc_id < 400
),
r AS (
  SELECT url,
    list_sort(list_filter([
      CASE WHEN url IS NULL OR NOT regexp_matches(url, '^https?://[^\s/?#]+')
           THEN 'bad_url' END,
      CASE WHEN epoch IS NULL OR epoch < 789000000 OR epoch >= 2050000000
           THEN 'bad_ts' END,
      CASE WHEN (html_text IS NULL OR length(html_text) = 0)
                AND (text IS NULL OR length(text) = 0)
           THEN 'no_content' END,
      CASE WHEN lang IS NOT NULL AND lang NOT IN
                ('en','de','fr','es','zh','ja','ko','ru','unknown')
           THEN 'bad_lang' END
    ], x -> x IS NOT NULL)) AS reasons
  FROM p
)
SELECT url, len(reasons) = 0 AS valid,
       coalesce(array_to_string(reasons, '|'), '') AS reasons
FROM r
"""


def q_url_normalize(spark, sf_dir):
    """URL canonicalization for url-level dedup: lowercase scheme+host,
    strip default port / utm_* params / fragment / trailing slash."""
    u = _url_corpus(spark, sf_dir)
    norm = T.normalize_url_expr(F.col("url"))
    return u.select(
        "doc_id", norm.alias("norm_url"), T.domain_expr(norm).alias("domain")
    )


SQL_URL_NORMALIZE = f"""
WITH u AS (
  SELECT doc_id, {_URL_SYNTH} AS url FROM documents WHERE doc_id < 300
),
n AS (SELECT doc_id, {_SQL_URL_NORM} AS norm_url FROM u)
SELECT doc_id, norm_url,
  regexp_extract(norm_url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS domain
FROM n
"""


def q_url_domain_counts(spark, sf_dir):
    """Per-domain crawl accounting over normalized urls (the blocklist /
    per-site-quota filter shape): one groupBy on the extracted domain."""
    u = _url_corpus(spark, sf_dir)
    norm = T.normalize_url_expr(F.col("url"))
    return (
        u.select(norm.alias("norm_url"), T.domain_expr(norm).alias("domain"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("norm_url").alias("n_distinct"),
        )
    )


SQL_URL_DOMAIN_COUNTS = f"""
WITH u AS (
  SELECT doc_id, {_URL_SYNTH} AS url FROM documents WHERE doc_id < 300
),
n AS (SELECT {_SQL_URL_NORM} AS norm_url FROM u)
SELECT regexp_extract(norm_url, '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1) AS domain,
       count(*) AS n_urls, count(DISTINCT norm_url) AS n_distinct
FROM n GROUP BY 1
"""


def q_text_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 over normalized text."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", D.fingerprint(F.col("text")).alias("fingerprint"))
    )


SQL_TEXT_FINGERPRINT = f"""
SELECT doc_id, md5({_NORM_SQL.format(c='text')}) AS fingerprint
FROM documents WHERE doc_id < 200
"""


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def q_multimodal_meta(spark, sf_dir):
    """Typed metadata over an opaque binary column (never decodes)."""
    from pdf_ocr_spark.operators.multimodal import media_metadata

    media = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode(F.col("text"), "utf-8").alias("blob"),
        )
    )
    return media_metadata(media).select("media_id", "mime", "n_bytes")


SQL_MULTIMODAL_META = """
SELECT doc_id AS media_id, 'application/octet-stream' AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
FROM documents WHERE doc_id < 200
"""


def _media_corpus(spark):
    """Media universe for the multimodal queries: synthetic corpus
    payloads as opaque blobs."""
    return _corpus(spark, "media", "media_id", "blob")


def q_multimodal_frames(spark, sf_dir):
    """Arrow-batched media decode fan-out (deterministic fake decoder);
    oracle = frozen kernel golden — full value-hash gate."""
    from pdf_ocr_spark.operators.multimodal import decode_frames

    frames = decode_frames(_media_corpus(spark))
    return frames.select(
        "media_id",
        "frame_idx",
        F.round(
            F.aggregate(F.col("feature"), F.lit(0.0), lambda a, v: a + v), 6
        ).alias("feature_sum"),
    )


SQL_MULTIMODAL_FRAMES = f"""
SELECT media_id, frame_idx, feature_sum
FROM read_parquet('{_golden("multimodal_frames")}')
"""


def q_multimodal_resize(spark, sf_dir):
    """Arrow-batched media resize (stubbed decode, real plumbing): the
    pseudo-dims derive from the first/last payload byte, so restricting
    to ASCII-clean `en` docs keeps the oracle SQL-expressible."""
    from pdf_ocr_spark.operators.multimodal import resize_media

    media = (
        _t(spark, sf_dir, "documents")
        .filter((F.col("doc_id") < 200) & (F.col("lang") == "en") & (F.length("text") > 0))
        .select(
            F.col("doc_id").alias("media_id"),
            F.encode(F.col("text"), "utf-8").alias("blob"),
        )
    )
    return resize_media(media).select("media_id", "width", "height", "thumb_bytes")


SQL_MULTIMODAL_RESIZE = """
WITH m AS (
  SELECT doc_id AS media_id, text, octet_length(encode(text)) AS nb,
         320 + ascii(substr(text, 1, 1)) * 4 AS w,
         240 + ascii(substr(text, -1, 1)) * 3 AS h
  FROM documents WHERE doc_id < 200 AND lang = 'en' AND length(text) > 0
)
SELECT media_id,
  CAST(greatest(1, CAST(trunc(w * (64.0 / greatest(w, h))) AS INTEGER)) AS INTEGER) AS width,
  CAST(greatest(1, CAST(trunc(h * (64.0 / greatest(w, h))) AS INTEGER)) AS INTEGER) AS height,
  CAST(32 + least(nb, 256) AS BIGINT) AS thumb_bytes
FROM m
"""


def q_multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling composed over the decode fan-out (every 2nd frame);
    oracle = frozen frames golden filtered on the frame index."""
    from pdf_ocr_spark.operators.multimodal import decode_frames, sample_frames

    return sample_frames(decode_frames(_media_corpus(spark)), every_nth=2).select(
        "media_id",
        "frame_idx",
        F.round(
            F.aggregate(F.col("feature"), F.lit(0.0), lambda a, v: a + v), 6
        ).alias("feature_sum"),
    )


SQL_MULTIMODAL_FRAME_SAMPLE = f"""
SELECT media_id, frame_idx, feature_sum
FROM read_parquet('{_golden("multimodal_frames")}')
WHERE frame_idx % 2 = 0
"""


def q_sink_overlay_svg(spark, sf_dir):
    """S7 annotated-overlay sink (SVG): the distributed grouped-map
    renderer vs the overlay kernel run locally — oracle = frozen golden
    (md5 + length of the deterministic markup per page)."""
    from pdf_ocr_spark.operators.sinks import render_overlays

    src = _corpus(spark, "overlay_boxes", "url", "page", "text", "y")
    blocks = src.select(
        "url",
        "page",
        F.lit(612.0).alias("page_w"),
        F.lit(792.0).alias("page_h"),
        "text",
        F.array(
            F.array(F.lit(10.0), F.col("y")),
            F.array(F.lit(200.0), F.col("y")),
            F.array(F.lit(200.0), F.col("y") + 20.0),
            F.array(F.lit(10.0), F.col("y") + 20.0),
        ).alias("quad"),
    )
    return render_overlays(blocks).select(
        "url", "page", F.md5("svg").alias("svg_md5"), F.length("svg").alias("svg_len")
    )


SQL_SINK_OVERLAY_SVG = f"""
SELECT url, page, svg_md5, CAST(svg_len AS INT) AS svg_len
FROM read_parquet('{_golden("sink_overlay")}')
"""


# ---------------------------------------------------------------------------
# extraction pipeline (rows-only: the kernels are not SQL-expressible)
# ---------------------------------------------------------------------------


def q_extract_quality(spark, sf_dir):
    """Extraction-quality observability ("measure, don't guess" for the
    boilerplate stripper itself): token precision/recall/F1 of the
    extracted main text against the article ground truth, per page, on
    the frozen self-contained HTML fixture.  The Spark side re-runs the
    DISTRIBUTED extractor on the frozen html bytes; the oracle replays
    the metric arithmetic over the frozen in-process extraction
    (tools/freeze.py) — so the gate pins kernel
    determinism AND the metric math cross-engine.  Multiset token
    matching (per-(url, token) count minimums), 6-dp rounded ratios."""
    from pdf_ocr_spark.pipeline.extract_job import extract_documents

    g = spark.read.parquet(_golden("extract_quality"))
    pages = g.select(
        "url",
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        "html",
        F.lit("").alias("text"),
        F.lit("en").alias("lang"),
    )
    docs = extract_documents(pages).select("url", "extracted_text")

    def tok_counts(df, col, cname):
        return (
            df.select("url", F.explode(T.norm_words_expr(F.col(col))).alias("w"))
            .filter(F.col("w") != "")
            .groupBy("url", "w")
            .agg(F.count(F.lit(1)).alias(cname))
        )

    tw = tok_counts(g, "true_text", "ct")
    ew = tok_counts(docs, "extracted_text", "ce")
    j = tw.join(ew, ["url", "w"], "full_outer")
    per = j.groupBy("url").agg(
        F.sum(
            F.least(F.coalesce("ct", F.lit(0)), F.coalesce("ce", F.lit(0)))
        ).cast("long").alias("tp"),
        F.sum(F.coalesce("ct", F.lit(0))).cast("long").alias("n_true"),
        F.sum(F.coalesce("ce", F.lit(0))).cast("long").alias("n_extracted"),
    )
    p = F.round(
        F.when(F.col("n_extracted") > 0, F.col("tp") / F.col("n_extracted"))
        .otherwise(F.lit(0.0)),
        6,
    )
    r = F.round(
        F.when(F.col("n_true") > 0, F.col("tp") / F.col("n_true"))
        .otherwise(F.lit(0.0)),
        6,
    )
    scored = per.select("url", "tp", "n_true", "n_extracted",
                        p.alias("prec"), r.alias("rec"))
    f1 = F.round(
        F.when(
            F.col("prec") + F.col("rec") > 0,
            2 * F.col("prec") * F.col("rec") / (F.col("prec") + F.col("rec")),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return scored.select("url", "tp", "n_true", "n_extracted", "prec", "rec",
                         f1.alias("f1"))


SQL_EXTRACT_QUALITY = f"""
WITH g AS (
  SELECT url, true_text, extracted_text
  FROM read_parquet('{{golden}}')
),
tw AS (
  SELECT url, w, count(*) AS ct FROM (
    SELECT url, unnest(str_split({_NORM_SQL.format(c='true_text')}, ' ')) AS w
    FROM g) WHERE w <> '' GROUP BY url, w
),
ew AS (
  SELECT url, w, count(*) AS ce FROM (
    SELECT url,
           unnest(str_split({_NORM_SQL.format(c='extracted_text')}, ' ')) AS w
    FROM g) WHERE w <> '' GROUP BY url, w
),
j AS (
  SELECT coalesce(tw.url, ew.url) AS url,
         least(coalesce(ct, 0), coalesce(ce, 0)) AS tp,
         coalesce(ct, 0) AS ct, coalesce(ce, 0) AS ce
  FROM tw FULL OUTER JOIN ew ON tw.url = ew.url AND tw.w = ew.w
),
per AS (
  SELECT url, CAST(sum(tp) AS BIGINT) AS tp,
         CAST(sum(ct) AS BIGINT) AS n_true,
         CAST(sum(ce) AS BIGINT) AS n_extracted
  FROM j GROUP BY url
),
pr AS (
  SELECT url, tp, n_true, n_extracted,
    round(CASE WHEN n_extracted > 0 THEN tp * 1.0 / n_extracted
               ELSE 0 END, 6) AS prec,
    round(CASE WHEN n_true > 0 THEN tp * 1.0 / n_true ELSE 0 END, 6) AS rec
  FROM per
)
SELECT url, tp, n_true, n_extracted, prec, rec,
  round(CASE WHEN prec + rec > 0 THEN 2 * prec * rec / (prec + rec)
             ELSE 0 END, 6) AS f1
FROM pr
""".format(golden=_golden("extract_quality"))


def q_extract_corpus(spark, sf_dir):
    """The flagship operator: full extraction pipeline over the
    deterministic synthetic pages corpus (PDF glyph/simple/scan + HTML +
    broken rows).  Oracle = frozen golden computed by running the SAME
    UDF body in-process (tools/freeze.py) — a full value-hash
    gate on the distributed pipeline, text bytes pinned via md5."""
    from pdf_ocr_spark.pipeline.extract_job import extract_documents

    docs = extract_documents(_corpus(spark, "mix_150"))
    return docs.select(
        "url",
        "content_kind",
        "status",
        "n_pages",
        "n_blocks",
        "n_chars",
        F.md5(F.coalesce(F.col("extracted_text"), F.lit(""))).alias("text_md5"),
    ).orderBy("url")


SQL_EXTRACT_CORPUS = f"""
SELECT url, content_kind, status, CAST(n_pages AS INT) AS n_pages,
       CAST(n_blocks AS INT) AS n_blocks, CAST(n_chars AS INT) AS n_chars,
       text_md5
FROM read_parquet('{_golden("extract_corpus")}')
"""


def q_sink_wet_export(spark, sf_dir):
    """The WET product END-TO-END: synthetic pages corpus → full
    extraction pipeline → conversion-record WARC archives (Common
    Crawl's WET layout: one text record per document) → the from-scratch
    reader parses them back → (url, text_md5).  Oracle = the frozen
    extraction golden's md5 per url (docs with non-empty extracted
    text, which is exactly the set WET emits) — so the hash pins the
    extractor AND the writer AND the reader in one gate."""
    from pdf_ocr_spark.pipeline.extract_job import extract_documents
    from pdf_ocr_spark.sources.warc import archive_pages, pages_to_warc

    docs = extract_documents(_corpus(spark, "mix_150"))
    wet_in = docs.select(
        "url",
        F.timestamp_seconds(F.lit(1735689600)).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),  # null html → conversion record
        F.col("extracted_text").alias("text"),
        F.lit("unknown").alias("lang"),
    )
    archives = pages_to_warc(wet_in.repartition(4, "url"))
    back = archive_pages(archives)
    return back.select("url", F.md5(F.col("html")).alias("text_md5"))


SQL_SINK_WET_EXPORT = f"""
SELECT url, text_md5
FROM read_parquet('{_golden("extract_corpus")}')
WHERE n_chars > 0
"""


def q_sink_wat_export(spark, sf_dir):
    """The WAT product end-to-end (Common Crawl's metadata sidecar —
    the third member of the WARC/WAT/WET triple): synthetic pages →
    response WARC archives → WAT metadata archives (JSON envelopes with
    WARC headers, HTTP status/mime, and HTML title + outgoing links
    from the same from-scratch kernels the pipeline uses) → parsed back
    to rows.  Oracle = the frozen kernel replay of the same chain
    (tools/freeze.py); the value hash pins writer, WAT
    builder, and parser together.  Rows carry no byte offsets, so the
    gate is archive-partitioning-independent."""
    from pdf_ocr_spark.sources.warc import pages_to_warc, warc_to_wat, wat_to_rows

    pages = _corpus(spark, "mix_150", "url", "warc_ts", "html", "text", "lang")
    arcs = pages_to_warc(pages.repartition(4, "url"))
    return wat_to_rows(warc_to_wat(arcs))


SQL_SINK_WAT_EXPORT = f"""
SELECT url, target_type, CAST(status AS INT) AS status, mime, title,
       CAST(n_links AS BIGINT) AS n_links, links_md5
FROM read_parquet('{_golden("wat")}')
"""


def q_text_compression(spark, sf_dir):
    """zlib compression-ratio quality signal (the Dolma/RedPajama-style
    repetition proxy): templated pages compress abnormally well, binary
    junk abnormally badly — catches both failure classes lexical gates
    miss.  Arrow-batched pandas UDF (the same deliberate exception as
    NFC: nothing built-in can compress), zero shuffle, fixed level 6 so
    the ratio is platform-reproducible.  Oracle = frozen kernel golden
    (tools/freeze.py)."""
    from pdf_ocr_spark.operators.text_analysis import compression_signals

    return compression_signals(_corpus(spark, "html_meta"))


SQL_TEXT_COMPRESSION = f"""
SELECT url, CAST(n_bytes AS BIGINT) AS n_bytes, compression_ratio
FROM read_parquet('{_golden("compression")}')
"""


def q_wet_cdx(spark, sf_dir):
    """The WET product PLUS its index in one gate: synthetic pages →
    full extraction pipeline → conversion-record WET archive → CDX
    capture index — the value hash pins the extractor, the WARC writer,
    AND the CDX indexer (SURT keys, text/plain mime, base32-SHA1 digests
    of the extracted text, byte ranges) together.  One sorted archive
    partition pins the byte layout; production indexing is per-file
    parallel.  Oracle = frozen kernel replay of the same three stages
    (tools/freeze.py)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_documents
    from pdf_ocr_spark.sources.warc import pages_to_warc, warc_cdx

    docs = extract_documents(_corpus(spark, "mix_150"))
    wet_in = docs.select(
        "url",
        F.timestamp_seconds(F.lit(1735689600)).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),  # null html → conversion
        F.col("extracted_text").alias("text"),
        F.lit("unknown").alias("lang"),
    )
    archives = pages_to_warc(
        wet_in.repartition(1).sortWithinPartitions("url")
    )
    return warc_cdx(
        archives.select(
            F.col("warc"), F.lit("wet-00000.warc").alias("filename")
        )
    )


SQL_WET_CDX = f"""
SELECT surt_key, ts, url, mime, CAST(status AS INT) AS status, digest,
       CAST("offset" AS BIGINT) AS offset,
       CAST(length AS BIGINT) AS length, filename
FROM read_parquet('{_golden("wet_cdx")}')
"""


def q_resume_canonical(spark, sf_dir):
    """Reader-side canonicalization of at-least-once extraction appends
    (pipeline/extract_job.py:canonical_docs): a resume run retries
    transient ``ocr_failed`` rows and APPENDS the new outcome next to
    the old one, so readers pick one row per url — ok beats failed,
    ties broken by a total coalesced key.  Simulated two-run table:
    run 1 fails every url transiently, run 2 retries and succeeds on
    every third; canonical view must show ok for those, failed rest."""
    from pdf_ocr_spark.pipeline.extract_job import canonical_docs

    d = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("u://"), F.col("doc_id").cast("string")).alias("url")
    run1 = d.select(
        url,
        F.lit("pdf").alias("content_kind"),
        F.lit(None).cast("string").alias("extracted_text"),
        F.lit(0).alias("n_pages"),
        F.lit(0).alias("n_blocks"),
        F.lit(0).alias("n_chars"),
        F.lit("failed").alias("status"),
        F.lit("ocr_failed: remote timeout").alias("failure_reason"),
        F.length("text").cast("long").alias("n_bytes"),
        F.lit(0).alias("n_ocr_pages"),
    )
    run2 = d.filter(F.col("doc_id") % 3 == 0).select(
        url,
        F.lit("pdf").alias("content_kind"),
        F.col("text").alias("extracted_text"),
        F.lit(1).alias("n_pages"),
        F.lit(1).alias("n_blocks"),
        F.length("text").alias("n_chars"),
        F.lit("ok").alias("status"),
        F.lit(None).cast("string").alias("failure_reason"),
        F.length("text").cast("long").alias("n_bytes"),
        F.lit(1).alias("n_ocr_pages"),
    )
    return canonical_docs(run1.unionByName(run2)).select(
        "url",
        "status",
        F.col("n_chars").cast("int").alias("n_chars"),
        "failure_reason",
        F.md5(F.coalesce(F.col("extracted_text"), F.lit(""))).alias("text_md5"),
    )


SQL_RESUME_CANONICAL = """
WITH run1 AS (
  SELECT 'u://' || CAST(doc_id AS VARCHAR) AS url, 'pdf' AS content_kind,
         CAST(NULL AS VARCHAR) AS extracted_text, 0 AS n_pages,
         0 AS n_blocks, 0 AS n_chars, 'failed' AS status,
         'ocr_failed: remote timeout' AS failure_reason,
         length(text) AS n_bytes, 0 AS n_ocr_pages
  FROM documents
), run2 AS (
  SELECT 'u://' || CAST(doc_id AS VARCHAR) AS url, 'pdf' AS content_kind,
         text AS extracted_text, 1 AS n_pages, 1 AS n_blocks,
         length(text) AS n_chars, 'ok' AS status,
         CAST(NULL AS VARCHAR) AS failure_reason,
         length(text) AS n_bytes, 1 AS n_ocr_pages
  FROM documents WHERE doc_id % 3 = 0
), u AS (SELECT * FROM run1 UNION ALL SELECT * FROM run2),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY url ORDER BY
      CASE WHEN status = 'ok' THEN 1 ELSE 0 END DESC,
      COALESCE(n_chars, 0) DESC, COALESCE(n_ocr_pages, 0) DESC,
      COALESCE(n_bytes, 0) DESC, COALESCE(failure_reason, '') DESC,
      COALESCE(extracted_text, '') DESC, COALESCE(content_kind, '') DESC,
      COALESCE(n_pages, 0) DESC, COALESCE(n_blocks, 0) DESC
  ) AS rn FROM u
)
SELECT url, status, CAST(n_chars AS INT) AS n_chars, failure_reason,
       md5(COALESCE(extracted_text, '')) AS text_md5
FROM r WHERE rn = 1
"""


_BLOCKS_GOLDEN = _golden("blocks")


def _blocks_corpus_df(spark):
    from pdf_ocr_spark.pipeline.extract_job import extract_blocks

    return extract_blocks(_corpus(spark, "mix_60"))


def q_blocks_table(spark, sf_dir):
    """Block-level table (SURVEY §1.3 documents → pages → blocks): one row
    per typed layout block with bbox + confidence, computed by the
    distributed pipeline; the oracle reads the frozen kernel golden
    (tools/freeze.py) — value-hash equality proves the
    Spark route reproduces the kernel byte-for-byte.  Mirrors the
    reference blocks JSON sink
    (/root/reference/pdf_ocr_with_boxes_v3.py:220-227,374-377)."""
    b = _blocks_corpus_df(spark)
    return b.select(
        "url",
        "page_num",
        "block_index",
        F.col("type").alias("block_type"),
        "text",
        "confidence",
        F.element_at("bbox", 1).alias("x0"),
        F.element_at("bbox", 2).alias("y0"),
        F.element_at("bbox", 3).alias("x1"),
        F.element_at("bbox", 4).alias("y1"),
    )


SQL_BLOCKS_TABLE = f"""
SELECT url, page_num, block_index, block_type, text, confidence, x0, y0, x1, y1
FROM read_parquet('{_BLOCKS_GOLDEN}')
"""


def q_blocks_histogram(spark, sf_dir):
    """A3 over REAL pipeline blocks: per-type histogram of the block
    table (the reference's block-type counts, v3:415-418)."""
    b = _blocks_corpus_df(spark)
    return b.groupBy(F.col("type").alias("block_type")).agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.round(F.avg("confidence"), 4).alias("avg_confidence"),
    )


SQL_BLOCKS_HISTOGRAM = f"""
SELECT block_type, count(*) AS n_blocks,
       round(avg(confidence), 4) AS avg_confidence
FROM read_parquet('{_BLOCKS_GOLDEN}') GROUP BY block_type
"""


_COMPOSITES_GOLDEN = _golden("composites")


def q_blocks_composite(spark, sf_dir):
    """v4 composite blocks through the distributed pipeline: one row per
    table/figure with the reference's exact rendered string —
    'table caption: …\\ntable body: …\\ntable footnote: …' /
    'image caption: …' (/root/reference/pdf_ocr_with_boxes_v4.py:232-260).
    Table typing comes from ruled-grid detection, image blocks from
    draw-time CTM bboxes, captions/footnotes from geometric adjacency
    (kernels/pdf/layout.py attach_captions/composite_text).  Oracle =
    frozen kernel golden (tools/freeze.py)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_composites

    return extract_composites(_corpus(spark, "composites"))


SQL_BLOCKS_COMPOSITE = f"""
SELECT url, page_num, block_index, kind, composite
FROM read_parquet('{_COMPOSITES_GOLDEN}')
"""


def q_raster_pages(spark, sf_dir):
    """S10 rasterizer as a queryable table: every PDF page rendered by
    the from-scratch coverage rasterizer (kernels/pdf/raster.py — the
    twin of the reference's pdf_to_images,
    /root/reference/pdf_ocr_with_boxes_v3.py:144-158) with dimensions,
    ink-pixel count, and the full-bitmap md5.  Corpus = standard mix +
    vector-only line-art docs (the class the rasterizer unlocks for
    OCR).  Oracle = frozen kernel golden (tools/freeze.py) —
    value-hash equality pins every pixel of every page."""
    from pdf_ocr_spark.pipeline.extract_job import extract_rasters

    return extract_rasters(_corpus(spark, "rasters"))


SQL_RASTER_PAGES = f"""
SELECT url, page_num, raster_w, raster_h, ink_px, raster_md5
FROM read_parquet('{_golden("rasters")}')
"""


def _scan_ocr(spark, corpus: str) -> DataFrame:
    """The page route over a scan corpus, each page's recognized text
    pinned by md5 (the q_*_scan_ocr queries)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_pages

    p = extract_pages(_corpus(spark, corpus), num_partitions=8)
    return p.select(
        "url",
        F.col("page").cast("int").alias("page"),
        F.md5(F.coalesce(F.col("page_text"), F.lit(""))).alias("ocr_md5"),
        "needs_ocr",
        "status",
    )


def q_jpeg_scan_ocr(spark, sf_dir):
    """Real-pixel scan branch (K2 over S3 with the from-scratch DCTDecode
    codec): multi-page PDFs whose pages are baseline-JPEG image XObjects
    flow through the distributed extract→OCR route — the stub decodes the
    ACTUAL JPEG pixels (kernels/pdf/jpeg.py) and reads the pixel-grid
    ground truth (kernels/pixelcode.py), the reference's real-pixmap OCR
    flow (/root/reference/pdf_ocr_with_boxes_v2.py:200-247).  One doc
    carries a truncated JPEG: its page must emit the deterministic
    fingerprint fallback, not a task failure.  Oracle = frozen kernel
    golden — value-hash pins every page's recognized text."""
    return _scan_ocr(spark, "jpeg_scans")


SQL_JPEG_SCAN_OCR = f"""
SELECT url, CAST(page AS INT) AS page, ocr_md5, needs_ocr, status
FROM read_parquet('{_golden("jpeg_scan_ocr")}')
"""


def q_jpeg_scan_raster(spark, sf_dir):
    """S10 rasterizer over REAL decoded image content: the same JPEG
    scan corpus rendered by the coverage rasterizer with the codec's
    luma resampled into each image draw rect (raster.py _blit_image) —
    full-bitmap md5 pins every pixel, so the DCT/Huffman/IDCT output is
    value-hash verified through the distributed route."""
    from pdf_ocr_spark.pipeline.extract_job import extract_rasters

    return extract_rasters(_corpus(spark, "jpeg_scans"))


SQL_JPEG_SCAN_RASTER = f"""
SELECT url, page_num, raster_w, raster_h, ink_px, raster_md5
FROM read_parquet('{_golden("jpeg_rasters")}')
"""


def q_ccitt_scan_ocr(spark, sf_dir):
    """Group-4 fax scan branch (K2 over S3 with the from-scratch T.4/T.6
    codec): multi-page PDFs whose pages are CCITTFaxDecode image
    XObjects — the codec real-world scanned PDFs carry almost
    universally — flow through the distributed extract→OCR route: the
    capture site decodes the fax stream to REAL pixels
    (kernels/pdf/ccitt.py via content.image_ocr_payload) and the stub
    reads the pixel-grid ground truth from them, the reference's
    real-pixmap OCR flow (/root/reference/pdf_ocr_with_boxes_v2.py:
    200-247).  One doc zlib-wraps its streams (/Filter [/FlateDecode
    /CCITTFaxDecode] chain), one carries a truncated stream (must fall
    back to the deterministic fingerprint, not a task failure).
    Oracle = frozen kernel golden — value-hash pins every page's
    recognized text."""
    return _scan_ocr(spark, "ccitt_scans")


SQL_CCITT_SCAN_OCR = f"""
SELECT url, CAST(page AS INT) AS page, ocr_md5, needs_ocr, status
FROM read_parquet('{_golden("ccitt_scan_ocr")}')
"""


def q_ccitt_scan_raster(spark, sf_dir):
    """S10 rasterizer over decoded Group-4 fax content: the CCITT scan
    corpus rendered by the coverage rasterizer with the T.6 decoder's
    luma resampled into each image draw rect — full-bitmap md5 pins the
    MMR mode/run decode pixel-for-pixel through the distributed route."""
    from pdf_ocr_spark.pipeline.extract_job import extract_rasters

    return extract_rasters(_corpus(spark, "ccitt_scans"))


SQL_CCITT_SCAN_RASTER = f"""
SELECT url, page_num, raster_w, raster_h, ink_px, raster_md5
FROM read_parquet('{_golden("ccitt_rasters")}')
"""


def q_jpx_scan_ocr(spark, sf_dir):
    """JPEG 2000 scan branch (K2 over S3 with the from-scratch EBCOT
    codec): multi-page PDFs whose pages are JPXDecode image XObjects —
    the codec of archival/library scans and PDF/A-2+ workflows — flow
    through the distributed extract→OCR route: the capture site decodes
    the codestream to REAL pixels (kernels/pdf/jp2.py: MQ coder, EBCOT
    tier-1, tag-tree packets, reversible 5/3 DWT — via
    content.image_ocr_payload) and the stub reads the pixel-grid ground
    truth from them, the reference's real-pixmap OCR flow
    (/root/reference/pdf_ocr_with_boxes_v2.py:200-247).  Doc 0 embeds
    the raw SOC..EOC codestream (no JP2 container), one doc zlib-wraps
    its streams (/Filter [/FlateDecode /JPXDecode] chain), one carries
    a truncated stream (must fall back to the deterministic
    fingerprint, not a task failure).  Oracle = frozen kernel golden —
    value-hash pins every page's recognized text."""
    return _scan_ocr(spark, "jpx_scans")


SQL_JPX_SCAN_OCR = f"""
SELECT url, CAST(page AS INT) AS page, ocr_md5, needs_ocr, status
FROM read_parquet('{_golden("jpx_scan_ocr")}')
"""


def q_jpx_scan_raster(spark, sf_dir):
    """S10 rasterizer over decoded JPEG 2000 content: the JPX scan
    corpus rendered by the coverage rasterizer with the EBCOT decoder's
    luma resampled into each image draw rect — full-bitmap md5 pins the
    MQ decode, tier-1 passes and inverse 5/3 DWT pixel-for-pixel
    through the distributed route."""
    from pdf_ocr_spark.pipeline.extract_job import extract_rasters

    return extract_rasters(_corpus(spark, "jpx_scans"))


SQL_JPX_SCAN_RASTER = f"""
SELECT url, page_num, raster_w, raster_h, ink_px, raster_md5
FROM read_parquet('{_golden("jpx_rasters")}')
"""



def q_jbig2_scan_ocr(spark, sf_dir):
    """JBIG2 scan branch (K2 over S3 with the from-scratch
    generic-region codec): multi-page PDFs whose pages are JBIG2Decode
    image XObjects — the high-compression bi-level codec of
    scanner/archive output — flow through the distributed extract→OCR
    route: the capture site decodes the embedded segment stream to REAL
    pixels (kernels/pdf/jbig2.py: template-0 arithmetic coding +
    TPGDON, MQ coder shared with jp2.py — via
    content.image_ocr_payload) and the stub reads the pixel-grid ground
    truth from them, the reference's real-pixmap OCR flow
    (/root/reference/pdf_ocr_with_boxes_v2.py:200-247).  One doc
    zlib-wraps its streams (/Filter [/FlateDecode /JBIG2Decode]), one
    carries a truncated stream (must fall back to the deterministic
    fingerprint, not a task failure).  With this branch all FOUR
    real-world scan codecs (DCT, CCITT, JPX, JBIG2) decode to pixels.
    Oracle = frozen kernel golden — value-hash pins every page's text."""
    return _scan_ocr(spark, "jbig2_scans")


SQL_JBIG2_SCAN_OCR = f"""
SELECT url, CAST(page AS INT) AS page, ocr_md5, needs_ocr, status
FROM read_parquet('{_golden("jbig2_scan_ocr")}')
"""


def q_jbig2_scan_raster(spark, sf_dir):
    """S10 rasterizer over decoded JBIG2 content: the JBIG2 scan corpus
    rendered by the coverage rasterizer with the generic-region
    decoder's luma resampled into each image draw rect — full-bitmap
    md5 pins the arithmetic template decode pixel-for-pixel through the
    distributed route."""
    from pdf_ocr_spark.pipeline.extract_job import extract_rasters

    return extract_rasters(_corpus(spark, "jbig2_scans"))


SQL_JBIG2_SCAN_RASTER = f"""
SELECT url, page_num, raster_w, raster_h, ink_px, raster_md5
FROM read_parquet('{_golden("jbig2_rasters")}')
"""



def q_page_orientation(spark, sf_dir):
    """K4 orientation detection as a queryable table: per-page
    content-based OSD verdict (dominant glyph flow direction, the
    digital-text analogue of the reference's Tesseract image_to_osd —
    /root/reference/parse_student_answers.py:40-59) with the vote split.
    Corpus = standard mix (all upright) + one baked-rotation doc per
    angle; extract_pdf applies the same verdict to re-orient those pages
    (tests prove text byte-parity with the upright twin).  Oracle =
    frozen kernel golden."""
    from pdf_ocr_spark.pipeline.extract_job import detect_orientation

    return detect_orientation(_corpus(spark, "orientation"))


SQL_PAGE_ORIENTATION = f"""
SELECT url, page_num, rotation, n_upright, n_sideways
FROM read_parquet('{_golden("orientation")}')
"""


_HTML_TABLES_GOLDEN = _golden("html_tables")


def q_html_tables(spark, sf_dir):
    """Structured <table> extraction from HTML pages — the HTML twin of
    the PDF composite table blocks: one row per table with caption,
    shape, and row-major cells as TSV, computed by the distributed
    pipeline (extract_html_tables; same single-shuffle plan shape as the
    hot path).  Tableless pages emit nothing.  Oracle = frozen kernel
    golden (tools/freeze.py)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_html_tables

    return extract_html_tables(_corpus(spark, "html_tables"))


SQL_HTML_TABLES = f"""
SELECT url, table_index, caption, n_rows, n_cols, tsv
FROM read_parquet('{_HTML_TABLES_GOLDEN}')
"""


_HTML_META_GOLDEN = _golden("html_meta")


def q_html_meta(spark, sf_dir):
    """Head-metadata extraction (trafilatura-style): title, meta
    description, canonical URL, declared lang, OpenGraph title/image,
    publish date (meta > <time datetime> > JSON-LD) — one row per HTML
    page, computed by the distributed pipeline (extract_html_meta; same
    single-shuffle plan shape as the hot path).  Exercises quoted /
    unquoted attributes, entity decoding, a UTF-16LE page, and
    metadata-free shells.  Oracle = frozen kernel golden
    (tools/freeze.py)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_html_meta

    return extract_html_meta(_corpus(spark, "html_meta"))


SQL_HTML_META = f"""
SELECT url, title, description, canonical, lang, og_title, og_image, published,
       robots
FROM read_parquet('{_HTML_META_GOLDEN}')
"""


def q_page_freshness(spark, sf_dir):
    """Capture-freshness signal over extracted head metadata: publish
    date (meta > <time> > JSON-LD priority, from the SAME distributed
    extract_html_meta route) → age at a pinned crawl date → staleness
    bucket (fresh ≤30d, recent ≤365d, stale beyond, unknown when the
    page declares nothing, future when publish postdates the crawl).
    The recrawl-prioritization input every freshness-aware scheduler
    feeds on.  All codegen (regex-guarded try_to_date + datediff +
    CASE), zero shuffle; oracle replays the identical arithmetic
    relationally over the frozen html-meta golden.  try_to_date (not
    to_date): page-declared dates can be shape-valid but calendar-
    invalid ('2024-02-30'), which would raise CAST_INVALID_INPUT under
    ANSI mode — those fall into the 'unknown' bucket instead (the
    DuckDB twin mirrors with TRY_CAST)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_html_meta

    pages = _corpus(spark, "html_meta")
    meta = extract_html_meta(pages)
    ok = F.col("published").rlike(r"^\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])")
    pub = F.when(ok, F.try_to_date(F.substring("published", 1, 10)))
    age = F.datediff(F.lit("2025-08-18").cast("date"), pub)
    bucket = (
        F.when(pub.isNull(), F.lit("unknown"))
        .when(age < 0, F.lit("future"))
        .when(age <= 30, F.lit("fresh"))
        .when(age <= 365, F.lit("recent"))
        .otherwise(F.lit("stale"))
    )
    return meta.select(
        "url",
        pub.cast("string").alias("publish_date"),
        age.cast("int").alias("age_days"),
        bucket.alias("freshness"),
    )


SQL_PAGE_FRESHNESS = f"""
WITH m AS (
  SELECT url,
    CASE WHEN regexp_matches(published,
              '^\\d{{4}}-(0[1-9]|1[0-2])-(0[1-9]|[12]\\d|3[01])')
         THEN TRY_CAST(substr(published, 1, 10) AS DATE) END AS publish_date
  FROM read_parquet('{_HTML_META_GOLDEN}')
)
SELECT url, CAST(publish_date AS VARCHAR) AS publish_date,
  CAST(date_diff('day', publish_date, DATE '2025-08-18') AS INT) AS age_days,
  CASE WHEN publish_date IS NULL THEN 'unknown'
       WHEN date_diff('day', publish_date, DATE '2025-08-18') < 0 THEN 'future'
       WHEN date_diff('day', publish_date, DATE '2025-08-18') <= 30 THEN 'fresh'
       WHEN date_diff('day', publish_date, DATE '2025-08-18') <= 365 THEN 'recent'
       ELSE 'stale' END AS freshness
FROM m
"""


def q_html_jsonld(spark, sf_dir):
    """Schema.org JSON-LD structured-data extraction: one row per
    entity node in the page's ``<script type=application/ld+json>``
    blocks — @type ('|'-joined lists), name (falling back to headline),
    datePublished, and a valid flag (malformed embeds emit a
    valid=False row instead of vanishing).  Exercises plain objects,
    top-level arrays, @graph wrappers, attribute parameters, uppercase
    tags, non-ld scripts (ignored), and JSON-LD-free pages (nothing).
    Same single-shuffle route shape as the hot path.  Oracle = frozen
    kernel golden (tools/freeze.py)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_structured_data

    return extract_structured_data(_corpus(spark, "jsonld"))


SQL_HTML_JSONLD = f"""
SELECT url, CAST(block_index AS INT) AS block_index,
       CAST(node_index AS INT) AS node_index, ld_type, name,
       date_published, valid, raw_md5
FROM read_parquet('{_golden("jsonld")}')
"""


def q_html_microdata(spark, sf_dir):
    """Schema.org MICRODATA extraction — the attribute-based
    structured-data channel next to `html_jsonld` (the encoding older
    pages and many product/recipe pages use): one row per itemprop,
    attached to the nearest enclosing itemscope, values resolved by
    the WHATWG tag rules (meta→content, a/link→href, img→src,
    time→datetime with text fallback, nested items as #item<N>
    references, else collapsed text).  Exercises nested trees, bare vs
    valued itemscope, uppercase attributes, orphan itemprops (skipped),
    a decoy inside a quoted attribute value, truncated pages, and
    microdata-free pages.  Oracle = frozen kernel golden
    (tools/freeze.py)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_microdata_rows

    return extract_microdata_rows(_corpus(spark, "microdata"))


SQL_HTML_MICRODATA = f"""
SELECT url, CAST(item_index AS INT) AS item_index, item_type, prop,
       value, source
FROM read_parquet('{_golden("microdata")}')
"""


def q_noindex_gate(spark, sf_dir):
    """Page-level robots-directive gate (the indexing twin of
    robots.txt): a page whose <meta name=robots> carries ``noindex`` or
    ``none`` must not enter the searchable index, whatever robots.txt
    said at FETCH time — the two gates protect different stages.
    Composition: the html-meta route extracts the normalized directive
    list, a codegen'd filter computes eligibility; the oracle REPLAYS
    the eligibility logic in SQL over the frozen kernel golden, so the
    gate itself is second-implementation checked."""
    from pdf_ocr_spark.pipeline.extract_job import extract_html_meta

    pages = _corpus(spark, "html_meta")
    toks = F.split(F.col("robots"), ",")
    blocked = F.array_contains(toks, "noindex") | F.array_contains(
        toks, "none"
    )
    return extract_html_meta(pages).select(
        "url",
        "robots",
        (F.col("robots").isNull() | ~F.coalesce(blocked, F.lit(False)))
        .alias("index_eligible"),
    )


SQL_NOINDEX_GATE = f"""
SELECT url, robots,
       (robots IS NULL
        OR NOT (list_contains(string_split(robots, ','), 'noindex')
                OR list_contains(string_split(robots, ','), 'none')))
         AS index_eligible
FROM read_parquet('{_golden("html_meta")}')
"""


_PDF_FORMS_GOLDEN = _golden("pdf_forms")


def q_pdf_forms(spark, sf_dir):
    """AcroForm field extraction through the distributed pipeline: one
    row per terminal form field (fully-qualified name, type, decoded
    value) — the COS object-graph walk (/Root → /AcroForm → /Fields
    with /Kids recursion, /FT//V inheritance, widget-kid collapse, and
    UTF-16BE/PDFDoc text-string decoding).  Form data never reaches the
    text layer when fields lack appearance streams; skipping it loses
    real content at crawl scale.  Formless PDFs and HTML emit nothing.
    Oracle = frozen kernel golden (tools/freeze.py)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_forms

    return extract_forms(_corpus(spark, "forms"))


SQL_PDF_FORMS = f"""
SELECT url, field_index, name, field_type, value
FROM read_parquet('{_PDF_FORMS_GOLDEN}')
"""


_PDF_DOC_INFO_GOLDEN = _golden("pdf_doc_info")
_PDF_OUTLINE_GOLDEN = _golden("pdf_outline")


def q_pdf_doc_info(spark, sf_dir):
    """Trailer /Info metadata per PDF (title/author/subject/producer/
    dates + page count) through the distributed pipeline — the
    quality/dedup signals the content stream doesn't carry; info-less
    PDFs emit all-null fields, non-PDFs emit nothing.  Oracle = frozen
    kernel golden (tools/freeze.py)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_doc_info

    return extract_doc_info(_corpus(spark, "docmeta"))


SQL_PDF_DOC_INFO = f"""
SELECT url, title, author, subject, producer, created, modified, n_pages
FROM read_parquet('{_PDF_DOC_INFO_GOLDEN}')
"""


def q_pdf_outline(spark, sf_dir):
    """Outline (bookmark) extraction: the document's own table of
    contents flattened in document order with 1-based target pages —
    /First→/Next sibling walks, /Dest arrays AND /A GoTo actions,
    UTF-16BE titles; the section-boundary signal for structure-aware
    chunking.  Oracle = frozen kernel golden."""
    from pdf_ocr_spark.pipeline.extract_job import extract_outline

    return extract_outline(_corpus(spark, "docmeta"))


SQL_PDF_OUTLINE = f"""
SELECT url, "order", level, title, page_num
FROM read_parquet('{_PDF_OUTLINE_GOLDEN}')
"""


def q_outline_sections(spark, sf_dir):
    """Structure-aware chunk boundaries: top-level outline items become
    (section_title, start_page, end_page) ranges — lead() over document
    order closes each section at the next chapter, the last one at
    n_pages.  The boundary table a section-aware splitter consumes
    instead of blind byte windows.  Windows partition per url."""
    from pyspark.sql.window import Window

    from pdf_ocr_spark.pipeline.extract_job import extract_doc_info, extract_outline

    pages = _corpus(spark, "docmeta")
    ol = extract_outline(pages).filter(F.col("level") == 1)
    info = extract_doc_info(pages).select("url", "n_pages")
    w = Window.partitionBy("url").orderBy("order")
    return (
        ol.join(info, "url")
        .select(
            "url",
            F.col("title").alias("section_title"),
            F.col("page_num").alias("start_page"),
            F.coalesce(
                F.lead("page_num").over(w) - 1, F.col("n_pages")
            ).alias("end_page"),
        )
    )


SQL_OUTLINE_SECTIONS = f"""
SELECT o.url, o.title AS section_title, o.page_num AS start_page,
  coalesce(lead(o.page_num) OVER (PARTITION BY o.url ORDER BY o."order") - 1,
           i.n_pages) AS end_page
FROM read_parquet('{_PDF_OUTLINE_GOLDEN}') o
JOIN read_parquet('{_PDF_DOC_INFO_GOLDEN}') i USING (url)
WHERE o.level = 1
"""


_PDF_ANNOTS_GOLDEN = _golden("pdf_annotations")


def q_pdf_annotations(spark, sf_dir):
    """Comment-layer annotation extraction: sticky notes, highlights
    with comments, free-text remarks — with page number, document
    order, decoded /Contents (UTF-16BE supported) and author.  Link and
    Widget annots route to the frontier/forms extractors; geometry-only
    markup emits nothing.  Oracle = frozen kernel golden
    (tools/freeze.py)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_annotations_route

    return extract_annotations_route(_corpus(spark, "annots"))


SQL_PDF_ANNOTATIONS = f"""
SELECT url, page_num, "order", subtype, contents, author
FROM read_parquet('{_PDF_ANNOTS_GOLDEN}')
"""


def q_canonical_collapse(spark, sf_dir):
    """Canonical-URL dedup composed over the metadata extraction: the
    meta corpus plus a mirror copy of every page (same html, '?m=1'
    url) runs through extract_html_meta; pages declaring the same
    <link rel=canonical> collapse to one group, canonical-less pages
    stand alone.  One map-side-combined shuffle on the group key.
    Oracle = the frozen html_meta golden mirrored in SQL."""
    from pdf_ocr_spark.operators.dedup import canonical_url_collapse
    from pdf_ocr_spark.pipeline.extract_job import extract_html_meta

    pages = _corpus(spark, "html_meta")
    pages = pages.union(pages.withColumn("url", F.concat("url", F.lit("?m=1"))))
    return canonical_url_collapse(extract_html_meta(pages))


SQL_CANONICAL_COLLAPSE = f"""
WITH meta AS (
  SELECT url, canonical FROM read_parquet('{_HTML_META_GOLDEN}')
  UNION ALL
  SELECT url || '?m=1' AS url, canonical
  FROM read_parquet('{_HTML_META_GOLDEN}')
)
SELECT CASE
         WHEN regexp_matches(canonical, '(?i)^https?://') THEN canonical
         WHEN canonical LIKE '/%' AND canonical NOT LIKE '//%'
           THEN regexp_extract(url, '(?i)^([a-z][a-z0-9+.-]*://[^/?#]+)', 1)
                || canonical
         ELSE url
       END AS canonical_url,
       count(*) AS n_pages,
       min(url) AS kept_url
FROM meta GROUP BY 1
"""


def q_pages_table(spark, sf_dir):
    """Pages-level table (SURVEY §1.3 documents → PAGES → blocks): the
    page-route output with text pinned by md5; oracle = frozen kernel
    golden, so the distributed page route is value-hash verified too."""
    from pdf_ocr_spark.pipeline.extract_job import extract_pages

    pages = _corpus(spark, "mix_100")
    p = extract_pages(pages, num_partitions=8)
    return p.select(
        "url",
        "content_kind",
        "page",
        F.md5(F.coalesce(F.col("page_text"), F.lit(""))).alias("page_md5"),
        "n_blocks",
        "needs_ocr",
        "status",
        "failure_reason",
        "n_bytes",
    )


SQL_PAGES_TABLE = f"""
SELECT url, content_kind, CAST(page AS INT) AS page, page_md5,
       CAST(n_blocks AS INT) AS n_blocks, needs_ocr, status,
       failure_reason, CAST(n_bytes AS BIGINT) AS n_bytes
FROM read_parquet('{_golden("pages_table")}')
"""


def q_link_edges(spark, sf_dir):
    """Crawl-frontier link graph: one row per outgoing hyperlink (HTML
    anchors with the rel=nofollow/ugc/sponsored opt-out flag + PDF
    /Annots Link URIs), oracle = frozen kernel golden."""
    from pdf_ocr_spark.pipeline.extract_job import extract_links

    return extract_links(_corpus(spark, "links"))


SQL_LINK_EDGES = f"""
SELECT url, link, CAST(link_index AS INT) AS link_index, source_kind, nofollow,
       anchor_text
FROM read_parquet('{_golden("link_edges")}')
"""


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling (training-mix reweighting):
    per-language hash-threshold rates — en 30%, ja 100%, zh 10% — the
    same md5-derived verdict per doc_id on every run/engine/partitioning
    (operators/sampling.py).  The oracle replays the identical CASE +
    hash + modulo expression."""
    from pdf_ocr_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        d, {"en": 0.30, "ja": 1.0, "zh": 0.10}, stratum_col="lang",
        key_col="doc_id",
    )


_SQL_H40_KEY = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT)"

SQL_SAMPLE_STRATIFIED = f"""
SELECT doc_id, lang FROM documents
WHERE {_SQL_H40_KEY} % 10000 <
  CASE WHEN lang = 'zh' THEN 1000
       WHEN lang = 'ja' THEN 10000
       WHEN lang = 'en' THEN 3000
       ELSE 0 END
"""


def q_lang_mix_rates(spark, sf_dir):
    """Temperature resampling rates (mT5/XLM alpha=0.5): per-language
    √-weighted shares and sampling rates toward a 300-doc target."""
    from pdf_ocr_spark.operators.sampling import temperature_mix_rates

    return temperature_mix_rates(_t(spark, sf_dir, "documents"), 300)


_SQL_LANG_MIX_BASE = """
c AS (SELECT lang AS stratum, count(*) AS n_docs FROM documents GROUP BY 1),
w AS (SELECT stratum, n_docs,
             CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT) AS wgt FROM c),
t AS (SELECT sum(wgt) AS wsum FROM w),
s AS (SELECT stratum, n_docs,
             round(wgt / (SELECT wsum FROM t), 6) AS share
      FROM w),
r AS (SELECT stratum, n_docs, share,
             least(1.0, round(300.0 * share / n_docs, 6)) AS sample_rate
      FROM s)
"""

SQL_LANG_MIX_RATES = f"""
WITH {_SQL_LANG_MIX_BASE}
SELECT stratum, n_docs, share, sample_rate,
       round(sample_rate * n_docs, 2) AS expected_docs
FROM r
"""


def q_lang_mix_sample(spark, sf_dir):
    """Apply the temperature-mix rates: deterministic hash-threshold
    keep per language (broadcast rates, codegen'd filter — the corpus
    never shuffles)."""
    from pdf_ocr_spark.operators.sampling import (
        temperature_mix_apply,
        temperature_mix_rates,
    )

    docs = _t(spark, sf_dir, "documents")
    return temperature_mix_apply(docs, temperature_mix_rates(docs, 300))


SQL_LANG_MIX_SAMPLE = f"""
WITH {_SQL_LANG_MIX_BASE},
thr AS (SELECT stratum,
               CAST(round(sample_rate * 1000000, 0) AS BIGINT) AS t
        FROM r)
SELECT d.doc_id, d.lang
FROM documents d JOIN thr ON d.lang = thr.stratum
WHERE {_SQL_H40_KEY} % 1000000 < thr.t
"""


def q_robots_rules(spark, sf_dir):
    """robots.txt rule tables through the distributed route (RFC 9309
    parse: agent groups, Allow/Disallow, wildcard/end-anchor patterns,
    empty-Disallow allow-all sentinel) — oracle = frozen kernel golden
    (tools/freeze.py)."""
    from pdf_ocr_spark.operators.frontier import robots_rules

    return robots_rules(_corpus(spark, "robots", *robots_rules.cols))


SQL_ROBOTS_RULES = f"""
SELECT domain, agent, allow, pattern, regex,
       CAST(specificity AS INT) AS specificity,
       CAST(rule_order AS INT) AS rule_order
FROM read_parquet('{_golden("robots_rules")}')
"""


def q_robots_delays(spark, sf_dir):
    """Per-agent-group Crawl-delay directives (the de-facto politeness
    extension a frontier scheduler rate-limits by) through the
    distributed route — oracle = frozen kernel golden."""
    from pdf_ocr_spark.operators.frontier import robots_delays

    return robots_delays(_corpus(spark, "robots", *robots_delays.cols))


SQL_ROBOTS_DELAYS = f"""
SELECT domain, agent, delay_s
FROM read_parquet('{_golden("robots_delays")}')
"""


def q_robots_sitemaps(spark, sf_dir):
    """Sitemap URLs declared in robots.txt (frontier seeding) through the
    distributed route — oracle = frozen kernel golden."""
    from pdf_ocr_spark.operators.frontier import robots_sitemaps

    return robots_sitemaps(_corpus(spark, "robots", *robots_sitemaps.cols))


SQL_ROBOTS_SITEMAPS = f"""
SELECT domain, sitemap_url, CAST(sm_index AS INT) AS sm_index
FROM read_parquet('{_golden("robots_sitemaps")}')
"""


def q_sitemap_urls(spark, sf_dir):
    """Sitemap-protocol XML parsing through the distributed route:
    urlsets (plain + gzipped), sitemapindex children (kind='sitemap',
    fetched recursively), lastmod, entity-decoded locs; broken docs emit
    nothing.  Oracle = frozen kernel golden."""
    from pdf_ocr_spark.operators.frontier import sitemap_urls

    return sitemap_urls(_corpus(spark, "sitemaps", *sitemap_urls.cols))


SQL_SITEMAP_URLS = f"""
SELECT sitemap, loc, lastmod, kind
FROM read_parquet('{_golden("sitemap_urls")}')
"""


def q_robots_frontier(spark, sf_dir):
    """Fetch permission per frontier URL (agent 'graftbot'): RFC 9309
    group selection + longest-match with Allow winning ties, computed
    relationally (broadcast rules join + regexp_like + argmax-by-struct).
    The oracle RECOMPUTES the verdicts in DuckDB from the frozen rules
    and URL fixtures — an independent implementation of the matcher, not
    a read-back of answers."""
    from pdf_ocr_spark.operators.frontier import frontier_allowed, robots_rules

    rules = robots_rules(_corpus(spark, "robots", *robots_rules.cols))
    urls = _corpus(spark, "robots_urls", "url")
    return frontier_allowed(urls, rules, agent="graftbot")


SQL_ROBOTS_FRONTIER = f"""
WITH urls AS (
  SELECT url,
    lower(regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)([^#]*)', 1))
      AS domain,
    coalesce(nullif(
      regexp_extract(url, '(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)([^#]*)', 2), ''),
      '/') AS path
  FROM read_parquet('{_golden("robots_urls")}')
),
rules AS (SELECT * FROM read_parquet('{_golden("robots_rules")}')),
sel AS (
  SELECT domain,
    max(CASE WHEN agent = 'graftbot' THEN 1 ELSE 0 END) AS has_exact
  FROM rules GROUP BY domain
),
eff AS (
  SELECT r.domain, r.allow, r.regex, r.specificity
  FROM rules r JOIN sel USING (domain)
  WHERE (r.agent = 'graftbot' AND sel.has_exact = 1)
     OR (r.agent = '*' AND sel.has_exact = 0)
),
matched AS (
  SELECT u.url, e.allow, e.specificity,
    row_number() OVER (
      PARTITION BY u.url
      ORDER BY e.specificity DESC, CAST(e.allow AS INT) DESC
    ) AS rn
  FROM urls u JOIN eff e ON u.domain = e.domain
  WHERE regexp_matches(u.path, e.regex)
)
SELECT u.url, u.domain, u.path,
  coalesce((SELECT m.allow FROM matched m WHERE m.url = u.url AND m.rn = 1),
           TRUE) AS allowed
FROM urls u
"""


def q_link_pagerank(spark, sf_dir):
    """PageRank over the extracted link graph (3 iterations, d=0.85) —
    the crawl-prioritization signal computed from `link_edges`; every
    iteration's mass goes through exact decimal sums, so the oracle's
    unrolled-CTE replay hashes identically."""
    from pdf_ocr_spark.operators.graph import pagerank

    edges = spark.read.parquet(_golden("link_edges")).select(
        F.col("url").alias("src"), F.col("link").alias("dst")
    )
    return pagerank(edges, iters=3, damping=0.85, prec=10)


def _sql_pagerank(iters: int = 3, damping: float = 0.85, prec: int = 10) -> str:
    # (1.0 - d) as an explicit DOUBLE subtraction: python's 1.0-0.85 is
    # 0.15000000000000002, one ulp off decimal 0.15 — the oracle must
    # perform the IDENTICAL IEEE operation
    base = f"(CAST(1.0 AS DOUBLE) - CAST({damping} AS DOUBLE)) / (SELECT n FROM nn)"

    def it(prev: str, name: str) -> str:
        return f"""
{name} AS (
  SELECT n.node,
    round(coalesce(s.mass, 0) * CAST({damping} AS DOUBLE) + {base}, {prec}) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node,
      CAST(sum(CAST(p.pr / d.deg AS DECIMAL(28,14))) AS DOUBLE) AS mass
    FROM e JOIN {prev} p ON p.node = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
)"""

    its = ",".join(it(f"pr{i}" if i else "pr0", f"pr{i + 1}") for i in range(iters))
    return f"""
WITH e AS (
  SELECT url AS src, link AS dst FROM read_parquet('{_golden("link_edges")}')
),
nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
pr0 AS (SELECT node, round(1.0 / (SELECT n FROM nn), {prec}) AS pr FROM nodes),
{its}
SELECT node, pr FROM pr{iters}
"""


SQL_LINK_PAGERANK = _sql_pagerank()


def q_link_hits(spark, sf_dir):
    """HITS hubs/authorities over the extracted link graph (2 mutual-
    reinforcement iterations, L1-normalized): the crawl-prioritization
    complement to PageRank — directories score as hubs, linked-to
    content as authorities.  DECIMAL mass sums + round-10 make the run
    value-hash identical to the unrolled-CTE oracle."""
    from pdf_ocr_spark.operators.graph import hits

    edges = spark.read.parquet(_golden("link_edges")).select(
        F.col("url").alias("src"), F.col("link").alias("dst")
    )
    return hits(edges, iters=2, prec=10)


def _sql_hits(iters: int = 2, prec: int = 10) -> str:
    ctes = []
    for i in range(1, iters + 1):
        prev_h = f"h{i - 1}"
        ctes.append(f"""
am{i} AS (
  SELECT e.dst AS node, sum(CAST(h.hub AS DECIMAL(28,14))) AS am
  FROM e JOIN {prev_h} h ON e.src = h.node GROUP BY e.dst
),
a{i} AS (
  SELECT n.node,
    round(coalesce(CAST(m.am AS DOUBLE), 0.0)
          / (SELECT CAST(sum(am) AS DOUBLE) FROM am{i}), {prec}) AS auth
  FROM nodes n LEFT JOIN am{i} m ON n.node = m.node
),
hm{i} AS (
  SELECT e.src AS node, sum(CAST(a.auth AS DECIMAL(28,14))) AS hm
  FROM e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
),
h{i} AS (
  SELECT n.node,
    round(coalesce(CAST(m.hm AS DOUBLE), 0.0)
          / (SELECT CAST(sum(hm) AS DOUBLE) FROM hm{i}), {prec}) AS hub
  FROM nodes n LEFT JOIN hm{i} m ON n.node = m.node
)""")
    return f"""
WITH e AS (
  SELECT url AS src, link AS dst FROM read_parquet('{_golden("link_edges")}')
),
nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
h0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes),
{",".join(ctes)}
SELECT n.node, h.hub, a.auth
FROM nodes n JOIN h{iters} h ON n.node = h.node JOIN a{iters} a ON n.node = a.node
"""


SQL_LINK_HITS = _sql_hits()


def q_anchor_text_profile(spark, sf_dir):
    """Per-target incoming-anchor profile over the extracted link graph:
    inlink/follow/distinct-source counts + the bounded lexicographic
    anchor summary (nofollow links excluded per robots semantics)."""
    from pdf_ocr_spark.operators.graph import anchor_text_profile

    edges = spark.read.parquet(_golden("link_edges"))
    return anchor_text_profile(edges)


SQL_ANCHOR_TEXT_PROFILE = f"""
WITH e AS (SELECT * FROM read_parquet('{_golden("link_edges")}')),
c AS (
  SELECT link AS dst, count(*) AS n_inlinks,
         sum(CASE WHEN NOT nofollow THEN 1 ELSE 0 END) AS n_follow,
         count(DISTINCT url) AS n_src_pages
  FROM e GROUP BY 1
),
pa AS (
  SELECT DISTINCT link AS dst, anchor_text AS anchor
  FROM e WHERE NOT nofollow AND anchor_text <> ''
),
top AS (
  SELECT dst, anchor,
         row_number() OVER (PARTITION BY dst ORDER BY anchor) AS rn
  FROM pa
),
s AS (
  SELECT dst, string_agg(anchor, '|' ORDER BY anchor) AS anchor_summary
  FROM top WHERE rn <= 8 GROUP BY 1
)
SELECT c.dst, c.n_inlinks, c.n_follow, c.n_src_pages, s.anchor_summary
FROM c LEFT JOIN s ON c.dst = s.dst
"""


def q_link_trustrank(spark, sf_dir):
    """TrustRank (Gyöngyi et al., VLDB 2004) over the extracted link
    graph: PageRank whose teleport mass lands only on a trusted seed
    set, so trust decays with link distance from the seeds — the web-
    spam demotion signal beside plain PageRank.  Seeds here are picked
    deterministically (top-2 nodes by indegree, node-id tie-break), the
    relational stand-in for a curated whitelist; unreachable nodes
    score exactly 0.0 — that zero IS the spam flag.  Same DECIMAL-sum /
    round-10 contract as `link_pagerank`, replayed by an unrolled CTE
    oracle including the seed selection."""
    from pdf_ocr_spark.operators.graph import trustrank
    from pyspark.sql import Window

    edges = spark.read.parquet(_golden("link_edges")).select(
        F.col("url").alias("src"), F.col("link").alias("dst")
    )
    indeg = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("indeg")
    )
    seeds = (
        indeg.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("indeg").desc(), F.col("node"))
            ),
        )
        .filter(F.col("rn") <= 2)
        .select("node")
    )
    return trustrank(edges, seeds, iters=3, damping=0.85, prec=10)


def _sql_trustrank(iters: int = 3, damping: float = 0.85, prec: int = 10) -> str:
    # (1.0 - d) as the explicit IEEE DOUBLE subtraction, like _sql_pagerank
    base = (
        f"(CAST(1.0 AS DOUBLE) - CAST({damping} AS DOUBLE))"
        " / (SELECT n FROM ns)"
    )

    def it(prev: str, name: str) -> str:
        return f"""
{name} AS (
  SELECT n.node, n.is_seed,
    round(coalesce(s.mass, 0) * CAST({damping} AS DOUBLE)
          + CASE WHEN n.is_seed THEN {base} ELSE 0.0 END, {prec}) AS trust
  FROM seeded n LEFT JOIN (
    SELECT e.dst AS node,
      CAST(sum(CAST(p.trust / d.deg AS DECIMAL(28,14))) AS DOUBLE) AS mass
    FROM e JOIN {prev} p ON p.node = e.src JOIN deg d ON d.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
)"""

    its = ",".join(it(f"t{i}" if i else "t0", f"t{i + 1}") for i in range(iters))
    return f"""
WITH e AS (
  SELECT url AS src, link AS dst FROM read_parquet('{_golden("link_edges")}')
),
nodes AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
indeg AS (SELECT dst AS node, count(*) AS indeg FROM e GROUP BY dst),
seeds AS (
  SELECT node FROM (
    SELECT node, row_number() OVER (ORDER BY indeg DESC, node) AS rn
    FROM indeg) WHERE rn <= 2
),
seeded AS (
  SELECT n.node, (s.node IS NOT NULL) AS is_seed
  FROM nodes n LEFT JOIN seeds s ON n.node = s.node
),
ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM seeds),
deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
t0 AS (
  SELECT node, is_seed,
    round(CASE WHEN is_seed THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END,
          {prec}) AS trust
  FROM seeded
),
{its}
SELECT node, trust, is_seed FROM t{iters}
"""


SQL_LINK_TRUSTRANK = _sql_trustrank()


def q_link_harmonic(spark, sf_dir):
    """Bounded-radius harmonic centrality over the HOST graph — the
    metric Common Crawl ranks hosts by in its published webgraph
    (computed there with HyperBall; here the exact R=3 truncation over
    the bounded host universe, with n_reached making the truncation
    visible).  Input = the same composed link_edges + synthetic multi-
    host universe as `link_host_graph`, rolled up to distinct host
    edges; distances by two unrolled relational min-plus steps; 1/d
    through DECIMAL sums.  The oracle replays host rollup, min-plus,
    and the harmonic sum in one nested CTE."""
    from pdf_ocr_spark.operators.graph import harmonic_centrality

    hg = _host_graph_input(spark, sf_dir).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return harmonic_centrality(hg, radius=3, prec=10)


_SQL_HOST_E1 = f"""raw AS (
  SELECT url, link, nofollow
  FROM read_parquet('{_golden("link_edges")}')
  UNION ALL
  {_EDGE_SYNTH_SQL}
), we AS (
  SELECT url, link FROM raw
  WHERE lower(link) LIKE 'http://%' OR lower(link) LIKE 'https://%'
     OR link LIKE '/%'
), hosts AS (
  SELECT regexp_extract(lower(url), '{_HOST_SQL_RE}', 1) AS src,
         coalesce(
           nullif(regexp_extract(lower(link), '{_HOST_SQL_RE}', 1), ''),
           regexp_extract(lower(url), '{_HOST_SQL_RE}', 1)
         ) AS dst
  FROM we
), e1 AS (
  SELECT DISTINCT src, dst, 1 AS d FROM hosts
  WHERE src <> '' AND src <> dst
),
nodes AS (SELECT DISTINCT src AS node FROM e1
          UNION SELECT DISTINCT dst FROM e1)"""


def _sql_harmonic_ctes(radius: int = 3, prec: int = 10) -> str:
    """The exact bounded-radius harmonic computation as CTE text
    (min-plus steps + final select pieces), shared by the exact oracle
    and the HyperBall error-dashboard oracle."""
    steps, prev = [], "e1"
    for i in range(2, radius + 1):
        steps.append(f"""
d{i} AS (
  SELECT src, dst, min(d) AS d FROM (
    SELECT src, dst, d FROM {prev}
    UNION ALL
    SELECT p.src, e.dst, p.d + 1 AS d
    FROM {prev} p JOIN e1 e ON p.dst = e.src
    WHERE p.src <> e.dst
  ) GROUP BY src, dst
)""")
        prev = f"d{i}"
    return f"""{",".join(steps)}{"," if steps else ""}
hx AS (
  SELECT dst AS node,
    CAST(sum(CAST(1.0 / d AS DECIMAL(28,14))) AS DOUBLE) AS hsum,
    count(*) AS n_reached
  FROM {prev} GROUP BY dst
),
exact AS (
  SELECT n.node,
    round(coalesce(hx.hsum, 0.0), {prec}) AS harmonic,
    coalesce(hx.n_reached, 0) AS n_reached
  FROM nodes n LEFT JOIN hx ON n.node = hx.node
)"""


def _sql_harmonic(radius: int = 3, prec: int = 10) -> str:
    return f"""
WITH {_SQL_HOST_E1},
{_sql_harmonic_ctes(radius, prec)}
SELECT node, harmonic, n_reached FROM exact
"""


SQL_LINK_HARMONIC = _sql_harmonic()


# -- sketches: relational HLL / CMS / HyperBall (operators/sketches.py) ----

def _sql_h48(expr: str, salt: str) -> str:
    """DuckDB twin of sketches._h48: 48-bit md5-derived hash."""
    return f"CAST('0x' || substr(md5({expr} || ':{salt}'), 1, 12) AS BIGINT)"


def _sql_hll_reg(src: str, key: str, item: str, salt: str = "hll") -> str:
    """Register rows (key, bucket, rho) for b=6 (m=64, wbits=42)."""
    return f"""(
  SELECT {key} AS hkey, hh % 64 AS bucket,
    max(CASE WHEN hh // 64 = 0 THEN 43
        ELSE 42 - length(bin(hh // 64)) + 1 END) AS rho
  FROM (SELECT {key}, {_sql_h48(item, salt)} AS hh FROM {src})
  GROUP BY 1, 2
)"""


def _sql_hll_est(reg: str) -> str:
    """Per-key estimate from a register CTE (b=6), mirroring
    sketches.hll_estimate's literals bit-for-bit — including the
    linear-counting lookup table, so no engine libm participates."""
    from pdf_ocr_spark.operators.sketches import _ALPHA, lc_table

    alpha_m2 = repr(_ALPHA[64] * 64 * 64)
    lc = " ".join(
        f"WHEN {v} THEN {x!r}" for v, x in enumerate(lc_table(64), start=1)
    )
    return f"""(
  SELECT hkey,
    round(CASE WHEN {alpha_m2} / (s + (64 - nb)) <= 160.0 AND 64 - nb > 0
          THEN (CASE 64 - nb {lc} END)
          ELSE {alpha_m2} / (s + (64 - nb)) END, 4) AS est
  FROM (SELECT hkey, sum(pow(2.0, -rho)) AS s, count(*) AS nb
        FROM {reg} GROUP BY hkey)
)"""


def q_sketch_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-URL counting per host — the mergeable
    bounded-state alternative to exact countDistinct at 100 TB (merge =
    groupBy max over ≤64 register rows per host, cross-snapshot and
    cross-shard).  Relational HLL: md5-derived 48-bit hashes, rho from
    length(bin(w)) (no float log2), linear-counting small-range branch;
    the EXACT distinct count ships next to the estimate so the sketch
    error is a visible dashboard column.  Oracle replays registers and
    the estimator formula bit-for-bit."""
    from pdf_ocr_spark.operators import sketches as SK

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    pages = d.select(
        F.concat(F.lit("s"), (F.col("doc_id") % 7).cast("string")).alias("host"),
        F.concat(
            F.lit("https://s"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"), F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    reg = SK.hll_registers(pages, "host", "url", b=6)
    est = SK.hll_estimate(reg, "host", b=6)
    exact = pages.groupBy("host").agg(F.countDistinct("url").alias("exact"))
    return est.join(exact, "host").select(
        "host",
        "exact",
        "est",
        F.round(F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 4).alias(
            "rel_err"
        ),
    )


SQL_SKETCH_HLL_DISTINCT = f"""
WITH pages AS (
  SELECT 's' || CAST(doc_id % 7 AS VARCHAR) AS host,
    'https://s' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/p/'
      || CAST(doc_id AS VARCHAR) AS url
  FROM documents WHERE doc_id < 500
),
reg AS {_sql_hll_reg("pages", "host", "url")},
est AS {_sql_hll_est("reg")},
exact AS (SELECT host, count(DISTINCT url) AS exact FROM pages GROUP BY host)
SELECT x.host, x.exact, e.est,
  round(abs(e.est - x.exact) / x.exact, 4) AS rel_err
FROM exact x JOIN est e ON e.hkey = x.host
"""


def q_sketch_cms_freq(spark, sf_dir):
    """Count-Min frequency estimation: 150 distinct items hashed into a
    3×64-counter sketch (d·w = 192 rows total — broadcastable at ANY
    input size; merge across shards = groupBy sum), point-queried for
    every item.  est ≥ exact ALWAYS (the CMS one-sided guarantee);
    the overcount column makes collision noise visible next to the
    exact count.  Oracle replays the counters and min-probe."""
    from pdf_ocr_spark.operators import sketches as SK

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    items = d.select(
        F.concat(F.lit("u"), (F.col("doc_id") % 150).cast("string")).alias("item")
    )
    sketch = SK.cms_counts(items, "item", d=3, w=64)
    est = SK.cms_estimate(items.distinct(), sketch, "item", d=3, w=64)
    exact = items.groupBy("item").agg(F.count(F.lit(1)).alias("exact"))
    return est.join(exact, "item").select(
        "item", "exact", "est", (F.col("est") - F.col("exact")).alias("overcount")
    )


def _sql_cms(d: int = 3, w: int = 64) -> str:
    probe = " UNION ALL ".join(
        f"SELECT item, {i} AS rw, {_sql_h48('item', f'cms{i}')} % {w} AS pos"
        " FROM {src}"
        for i in range(d)
    )
    return f"""
WITH items AS (
  SELECT 'u' || CAST(doc_id % 150 AS VARCHAR) AS item
  FROM documents WHERE doc_id < 500
),
probes AS ({probe.format(src="items")}),
counters AS (SELECT rw, pos, count(*) AS cnt FROM probes GROUP BY rw, pos),
di AS (SELECT DISTINCT item FROM items),
dprobes AS ({probe.format(src="di")}),
est AS (
  SELECT d.item, min(c.cnt) AS est
  FROM dprobes d JOIN counters c ON d.rw = c.rw AND d.pos = c.pos
  GROUP BY d.item
),
exact AS (SELECT item, count(*) AS exact FROM items GROUP BY item)
SELECT x.item, x.exact, e.est, e.est - x.exact AS overcount
FROM exact x JOIN est e ON e.item = x.item
"""


SQL_SKETCH_CMS_FREQ = _sql_cms()


def q_sketch_kmv_overlap(spark, sf_dir):
    """Crawl-to-crawl overlap from KMV/bottom-k sketches (the theta-
    sketch family — the SET-OPERATION sketch HLL can't be): two
    snapshot url sets (docs <400 vs 100–499, true Jaccard 0.6) reduce
    to k=128 smallest-hash samples; the union's bottom-k is a uniform
    sample of A ∪ B, and the fraction present in BOTH sketches
    estimates the Jaccard.  Distinct-count estimates ((k−1)·2⁴⁸/h_k)
    and EXACT counts/overlap ship side by side, so sketch error is a
    visible column.  At 100 TB only two k-row sketches ever meet —
    the full url sets never co-locate."""
    from pdf_ocr_spark.operators import sketches as SK

    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://s"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/"), F.col("doc_id").cast("string"),
    ).alias("url")
    a = d.filter(F.col("doc_id") < 400).select(url)
    b = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 500)).select(url)
    sk_a = SK.kmv_bottom_k(a, [], "url", k=128)
    sk_b = SK.kmv_bottom_k(b, [], "url", k=128)
    est_a = SK.kmv_estimate(sk_a, [], k=128).withColumnRenamed("est", "est_a")
    est_b = SK.kmv_estimate(sk_b, [], k=128).withColumnRenamed("est", "est_b")
    jac = SK.kmv_jaccard(sk_a, sk_b, k=128)
    exact = (
        a.withColumn("_a", F.lit(1))
        .join(b.withColumn("_b", F.lit(1)), "url", "full")
        .agg(
            F.sum(F.col("_a").cast("int")).alias("exact_a"),
            F.sum(F.col("_b").cast("int")).alias("exact_b"),
            F.sum(
                (F.col("_a").isNotNull() & F.col("_b").isNotNull()).cast("int")
            ).alias("exact_inter"),
            F.count(F.lit(1)).alias("exact_union"),
        )
    )
    return (
        jac.crossJoin(est_a)
        .crossJoin(est_b)
        .crossJoin(exact)
        .select(
            "exact_a", "est_a", "exact_b", "est_b",
            "exact_inter", "exact_union",
            F.round(F.col("exact_inter") / F.col("exact_union"), 4).alias(
                "jaccard_exact"
            ),
            "n_union_sample", "n_matched", "jaccard_est",
        )
    )


SQL_SKETCH_KMV_OVERLAP = f"""
WITH a AS (
  SELECT DISTINCT 'https://s' || CAST(doc_id % 7 AS VARCHAR)
    || '.example.com/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents WHERE doc_id < 400
),
b AS (
  SELECT DISTINCT 'https://s' || CAST(doc_id % 7 AS VARCHAR)
    || '.example.com/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents WHERE doc_id >= 100 AND doc_id < 500
),
ha AS (SELECT {_sql_h48('url', 'kmv')} AS h FROM a),
hb AS (SELECT {_sql_h48('url', 'kmv')} AS h FROM b),
ska AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM ha)) WHERE rn <= 128),
skb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM hb)) WHERE rn <= 128),
ea AS (SELECT round(CASE WHEN count(*) < 128 THEN CAST(count(*) AS DOUBLE)
         ELSE CAST(127 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
              / greatest(max(h), 1)
         END, 4) AS est_a FROM ska),
eb AS (SELECT round(CASE WHEN count(*) < 128 THEN CAST(count(*) AS DOUBLE)
         ELSE CAST(127 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
              / greatest(max(h), 1)
         END, 4) AS est_b FROM skb),
u AS (SELECT h FROM (
  SELECT h, row_number() OVER (ORDER BY h) AS rn
  FROM (SELECT h FROM ska UNION SELECT h FROM skb)) WHERE rn <= 128),
m AS (
  SELECT count(*) AS n_union_sample,
    CAST(sum(CASE WHEN h IN (SELECT h FROM ska)
              AND h IN (SELECT h FROM skb) THEN 1 ELSE 0 END) AS BIGINT)
      AS n_matched
  FROM u
),
x AS (
  SELECT
    CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS exact_a,
    CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS exact_b,
    CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter,
    count(*) AS exact_union
  FROM (
    SELECT coalesce(a.url, b.url) AS url,
           a.url IS NOT NULL AS ia, b.url IS NOT NULL AS ib
    FROM a FULL OUTER JOIN b ON a.url = b.url
  )
)
SELECT x.exact_a, ea.est_a, x.exact_b, eb.est_b,
  x.exact_inter, x.exact_union,
  round(CAST(x.exact_inter AS DOUBLE) / x.exact_union, 4) AS jaccard_exact,
  m.n_union_sample, m.n_matched,
  CASE WHEN m.n_union_sample > 0 THEN
    round(CAST(m.n_matched AS DOUBLE) / m.n_union_sample, 4) END AS jaccard_est
FROM x, ea, eb, m
"""


def q_link_harmonic_hyperball(spark, sf_dir):
    """HyperBall (Boldi & Vigna 2013) — the algorithm Common Crawl
    actually runs for its harmonic host rankings, and the scale path
    `link_harmonic`'s exact min-plus cannot take past bounded radii:
    per-node HLL registers merged along in-edges each round, harmonic
    sum accumulated from ball growth.  Runs on the SAME composed host
    universe as `link_harmonic` and joins the exact values so the
    sketch error is a visible column (abs_err) — the go/no-go row for
    replacing the exact pair table with 2^b registers per node at
    10⁸ hosts.  Oracle replays register init, three merge rounds, the
    estimator, the growth sum, AND the exact min-plus."""
    from pdf_ocr_spark.operators.graph import harmonic_centrality
    from pdf_ocr_spark.operators import sketches as SK

    hg = _host_graph_input(spark, sf_dir).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    hb = SK.hyperball_harmonic(hg, radius=3, b=6)
    ex = harmonic_centrality(hg, radius=3)
    return hb.join(ex, "node").select(
        "node",
        "harmonic",
        "hb_harmonic",
        "n_reached",
        "hb_reached",
        (
            F.floor(F.abs(F.col("hb_harmonic") - F.col("harmonic")) * 10000 + 0.5)
            / 10000
        ).alias("abs_err"),
    )


def _sql_hyperball(radius: int = 3) -> str:
    rounds = []
    for r in range(1, radius + 1):
        rounds.append(f"""
r{r} AS (
  SELECT node AS hkey, bucket, max(rho) AS rho FROM (
    SELECT hkey AS node, bucket, rho FROM r{r - 1}
    UNION ALL
    SELECT e.dst AS node, p.bucket, p.rho
    FROM r{r - 1} p JOIN e1 e ON p.hkey = e.src
  ) GROUP BY 1, 2
),
est{r} AS {_sql_hll_est(f"r{r}")}""")
    growth = " + ".join(
        f"{round(1.0 / r, 10)!r} * (est{r}.est - est{r - 1}.est)"
        for r in range(1, radius + 1)
    )  # half-up via floor(x*1e4+0.5)/1e4 — see sketches.hyperball_harmonic
    est_joins = "\n  ".join(
        f"JOIN est{r} ON est{r}.hkey = est0.hkey" for r in range(1, radius + 1)
    )
    return f"""
WITH {_SQL_HOST_E1},
r0 AS (
  SELECT hkey, bucket, rho FROM {_sql_hll_reg("nodes", "node", "node")}
),
est0 AS {_sql_hll_est("r0")},
{",".join(rounds)},
{_sql_harmonic_ctes(radius)},
hb AS (
  SELECT est0.hkey AS node,
    floor((0.0 + {growth}) * 10000 + 0.5) / 10000 AS hb_harmonic,
    floor((est{radius}.est - est0.est) * 10000 + 0.5) / 10000 AS hb_reached
  FROM est0
  {est_joins}
)
SELECT x.node, x.harmonic, hb.hb_harmonic, x.n_reached, hb.hb_reached,
  floor(abs(hb.hb_harmonic - x.harmonic) * 10000 + 0.5) / 10000 AS abs_err
FROM exact x JOIN hb ON hb.node = x.node
"""


SQL_LINK_HARMONIC_HYPERBALL = _sql_hyperball()


def q_feed_items(spark, sf_dir):
    """RSS/Atom feed parsing through the distributed route: item links
    with titles (entities + CDATA decoded) and raw dates; Atom
    alternate links beat rel=self decoys; gzipped feeds decompress
    in-kernel; broken docs emit nothing.  Feeds are the freshest
    frontier-discovery channel next to sitemaps and page links.
    Oracle = frozen kernel golden (tools/freeze.py)."""
    from pdf_ocr_spark.operators.frontier import feed_items

    return feed_items(_corpus(spark, "feeds", *feed_items.cols))


SQL_FEED_ITEMS = f"""
SELECT feed, link, title, date
FROM read_parquet('{_golden("feed_items")}')
"""


def q_frontier_discover(spark, sf_dir):
    """Crawl-frontier discovery as ONE composed plan: extracted link
    edges → absolute-URL resolution (root-relative links against the
    source's scheme+host) → anti-join against already-crawled urls →
    per-target priority = Σ pagerank(source) with rel=nofollow sources
    demoted 2× (mass through exact DECIMAL sums, like pagerank itself,
    so the float result is partition-order independent) → top-50.  The
    oracle recomputes the whole composition including the unrolled
    pagerank CTE."""
    from pdf_ocr_spark.operators.graph import pagerank

    edges = spark.read.parquet(_golden("link_edges"))
    pr = pagerank(
        edges.select(F.col("url").alias("src"), F.col("link").alias("dst")),
        iters=3,
    )
    scheme = F.regexp_extract("url", r"^([a-z][a-z0-9+.-]*)://", 1)
    host = F.regexp_extract("url", r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    target = (
        F.when(F.col("link").rlike("^https?://"), F.col("link"))
        .when(
            F.col("link").startswith("/"),
            F.concat(scheme, F.lit("://"), host, F.col("link")),
        )
    )
    cand = edges.select(
        F.col("url").alias("src"), target.alias("target"), "nofollow"
    ).filter(F.col("target").isNotNull())
    seen = edges.select(F.col("url").alias("target")).distinct()
    weight = F.when(F.col("nofollow"), F.lit(0.5)).otherwise(F.lit(1.0))
    return (
        cand.join(seen, "target", "left_anti")
        .join(pr.withColumnRenamed("node", "src"), "src")
        .groupBy("target")
        .agg(
            F.round(
                F.sum((F.col("pr") * weight).cast("decimal(28,14)")), 8
            ).cast("double").alias("priority"),
            F.count(F.lit(1)).alias("n_inlinks"),
        )
        .orderBy(F.desc("priority"), "target")
        .limit(50)
    )


SQL_FRONTIER_DISCOVER = f"""
WITH pr AS (SELECT * FROM ({SQL_LINK_PAGERANK})),
e AS (
  SELECT url, link, nofollow FROM read_parquet('{_golden("link_edges")}')
),
cand AS (
  SELECT url AS src,
    CASE WHEN regexp_matches(link, '^https?://') THEN link
         WHEN link LIKE '/%' THEN
           regexp_extract(url, '^([a-z][a-z0-9+.-]*)://', 1) || '://'
           || regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) || link
         ELSE NULL END AS target,
    nofollow
  FROM e
),
new AS (
  SELECT c.* FROM cand c
  WHERE c.target IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM e WHERE e.url = c.target)
)
SELECT n.target,
  CAST(round(sum(CAST(pr.pr * CASE WHEN n.nofollow THEN 0.5 ELSE 1.0 END
                     AS DECIMAL(28,14))), 8) AS DOUBLE) AS priority,
  count(*) AS n_inlinks
FROM new n JOIN pr ON pr.node = n.src
GROUP BY n.target
ORDER BY priority DESC, n.target
LIMIT 50
"""


def q_crawl_cycle(spark, sf_dir):
    """The crawl-ops capstone as ONE composed plan (the planning twin
    of pipeline_end_to_end): frontier discovery (link resolution →
    anti-join vs crawled → PageRank-weighted priority, the
    frontier_discover composition) → per-domain crawl-budget allocation
    (BIGINT-exact floor-quantized shares of 20 fetches, scored by
    Σ priority) → politeness slots per domain (priority order) →
    scheduled fetches only (slot < budget) with 1 s-delay offsets.
    Every stage is individually oracled elsewhere; this gate pins the
    composition.  Shuffles: the discovery groupBy + the per-domain
    aggregates and window — the window partitions by DOMAIN only
    (politeness's inherent serialization unit); nothing global."""
    from pyspark.sql.window import Window

    from pdf_ocr_spark.operators.frontier import crawl_budget

    disc = q_frontier_discover(spark, sf_dir)
    domain = F.lower(
        F.regexp_extract("target", r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)
    )
    d = disc.select("target", "priority", domain.alias("domain"))
    per = d.groupBy("domain").agg(
        F.sum(F.col("priority").cast("decimal(28,14)"))
        .cast("double")
        .alias("score")
    )
    budgets = crawl_budget(per, total_budget=20)
    w = Window.partitionBy("domain").orderBy(F.desc("priority"), F.asc("target"))
    return (
        d.withColumn("slot", F.row_number().over(w) - 1)
        .join(budgets.select("domain", "budget"), "domain")
        .filter(F.col("slot") < F.col("budget"))
        .select(
            "target",
            "domain",
            "priority",
            F.col("slot").cast("int").alias("slot"),
            "budget",
            (F.col("slot") * F.lit(1.0)).alias("fetch_offset"),
        )
    )


SQL_CRAWL_CYCLE = f"""
WITH disc AS ({{disc}}),
d AS (
  SELECT target, priority,
         lower(regexp_extract(target,
               '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1)) AS domain
  FROM disc
),
per AS (
  SELECT domain,
         CAST(sum(CAST(priority AS DECIMAL(28,14))) AS DOUBLE) AS score
  FROM d GROUP BY 1
),
q AS (SELECT domain, CAST(floor(score * 1000000) AS BIGINT) AS sq FROM per),
t AS (SELECT sum(sq) AS tot FROM q),
b AS (
  SELECT domain,
         CAST(coalesce((20 * sq) // nullif(tot, 0), 0) AS BIGINT) AS budget
  FROM q CROSS JOIN t
),
s AS (
  SELECT d.*, row_number() OVER (
    PARTITION BY domain ORDER BY priority DESC, target) - 1 AS slot
  FROM d
)
SELECT s.target, s.domain, s.priority, CAST(s.slot AS INT) AS slot, b.budget,
       s.slot * 1.0 AS fetch_offset
FROM s JOIN b USING (domain)
WHERE s.slot < b.budget
""".format(disc=SQL_FRONTIER_DISCOVER)


def q_pipeline_end_to_end(spark, sf_dir):
    """The engine's reason to exist, as ONE composed plan: crawl pages →
    fused extraction → Gopher quality gate on the EXTRACTED text → exact
    dedup (canonical per normalized fingerprint) → clean-corpus
    accounting per content kind.  Oracle = frozen golden computed by a
    THIRD engine (in-process kernel + python-re quality twins +
    hashlib dedup, tools/freeze.py) — so Spark, DuckDB-read
    golden, and plain python all agree on the full composition."""
    from pdf_ocr_spark.operators import text_analysis as TT
    from pdf_ocr_spark.pipeline.extract_job import dedup_extracted, extract_documents

    # every 3rd page also appears under a mirror url (the recrawl/mirror
    # case) so the dedup leg is load-bearing: n_clean < n_quality
    pages = _corpus(spark, "mix_150_mirrored")
    ok = extract_documents(pages).filter(F.col("status") == "ok")
    feats = TT.gopher_quality(
        ok.select(F.col("url").alias("doc_id"), F.col("extracted_text").alias("text")),
        id_col="doc_id",
    ).select(F.col("doc_id").alias("url"), "passes_gopher")
    marked = dedup_extracted(ok.join(feats, "url"), mark_only=True)
    return marked.groupBy("content_kind").agg(
        F.count(F.lit(1)).alias("n_extracted"),
        F.sum(F.when(F.col("passes_gopher"), 1).otherwise(0)).alias("n_quality"),
        F.sum(
            F.when(F.col("passes_gopher") & F.col("is_canonical"), 1).otherwise(0)
        ).alias("n_clean"),
    )


SQL_PIPELINE_E2E = f"""
SELECT content_kind, CAST(n_extracted AS BIGINT) AS n_extracted,
       CAST(n_quality AS BIGINT) AS n_quality,
       CAST(n_clean AS BIGINT) AS n_clean
FROM read_parquet('{_golden("pipeline_e2e")}')
"""


def q_extract_lineage_totals(spark, sf_dir):
    """Corpus-wide lineage totals: partition-INDEPENDENT aggregation over
    the per-partition sidecar rows — oracle = frozen kernel golden (the
    per-bucket rows get their own golden via the deterministic url-md5
    bucket key, see q_extract_lineage)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_pages, lineage_metrics

    pages = _corpus(spark, "mix_150")
    m = lineage_metrics(extract_pages(pages, num_partitions=8))
    return m.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_pages").cast("long").alias("n_pages"),
        F.sum("n_failed").cast("long").alias("n_failed"),
        F.sum("n_ocr_pages").cast("long").alias("n_ocr_pages"),
        F.sum("n_bytes").cast("long").alias("n_bytes"),
    )


SQL_EXTRACT_LINEAGE_TOTALS = f"""
SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(n_pages AS BIGINT) AS n_pages,
       CAST(n_failed AS BIGINT) AS n_failed,
       CAST(n_ocr_pages AS BIGINT) AS n_ocr_pages,
       CAST(n_bytes AS BIGINT) AS n_bytes
FROM read_parquet('{_golden("lineage_totals")}')
"""


def q_extract_lineage(spark, sf_dir):
    """Lineage/metrics sidecar over the same corpus, keyed by the
    DETERMINISTIC url-md5 bucket (engine- and partitioning-independent),
    so the per-part rows value-hash against a frozen in-process golden
    instead of the weaker rows-only check."""
    from pdf_ocr_spark.pipeline.extract_job import extract_pages, lineage_metrics

    pages = _corpus(spark, "mix_150")
    m = lineage_metrics(
        extract_pages(pages, num_partitions=8), deterministic_buckets=8
    )
    return m.select(
        "part_id", "n_docs", "n_pages", "n_failed", "n_ocr_pages", "n_bytes"
    )


SQL_EXTRACT_LINEAGE = f"""
SELECT CAST(part_id AS BIGINT) AS part_id,
       CAST(n_docs AS BIGINT) AS n_docs, CAST(n_pages AS BIGINT) AS n_pages,
       CAST(n_failed AS BIGINT) AS n_failed,
       CAST(n_ocr_pages AS BIGINT) AS n_ocr_pages,
       CAST(n_bytes AS BIGINT) AS n_bytes
FROM read_parquet('{_golden("lineage_parts")}')
"""


# ---------------------------------------------------------------------------
# §2.2/§2.5/§2.8 second wave: validity predicates, classifier dispatch,
# span fold, JSON fence, layout→text, round-robin, token accumulation,
# font-size fitter, EXIF map
# ---------------------------------------------------------------------------


def q_p5_bbox_validity(spark, sf_dir):
    """P2+P5: validity predicates — non-empty after trim AND a
    well-formed coordinate array (len(bbox) == 4 skip,
    pdf_ocr_with_boxes_v3.py:265-266; ``if text.strip()`` v3:219)."""
    toks = F.split(F.substring(F.col("text"), 1, 40), " ")
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .filter((F.size("toks") >= 4) & (F.trim(F.element_at("toks", 1)) != ""))
        .select("doc_id", F.size("toks").alias("n_toks"))
    )


SQL_P5 = """
SELECT doc_id, len(string_split(substr(text, 1, 40), ' ')) AS n_toks
FROM documents
WHERE len(string_split(substr(text, 1, 40), ' ')) >= 4
  AND trim(string_split(substr(text, 1, 40), ' ')[1]) <> ''
"""


def q_p9_content_sniff(spark, sf_dir):
    """P8/P9: content-type sniff + mode-dispatch column (the
    ``ds.classify()`` / magic-prefix decision, pdf_ocr_with_boxes_v3.py:118-128;
    here keyed off a deterministic per-doc fingerprint prefix)."""
    prefix = F.substring(F.md5(F.col("text")), 1, 2)
    kind = (
        F.when(prefix < "40", F.lit("pdf"))
        .when(prefix < "80", F.lit("html"))
        .otherwise(F.lit("unknown"))
    )
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", kind.alias("content_kind"))
        .groupBy("content_kind")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


SQL_P9 = """
SELECT CASE WHEN substr(md5(text), 1, 2) < '40' THEN 'pdf'
            WHEN substr(md5(text), 1, 2) < '80' THEN 'html'
            ELSE 'unknown' END AS content_kind,
       count(*) AS n_docs
FROM documents GROUP BY 1
"""


def q_a5_span_fold(spark, sf_dir):
    """A5+F3/F4: ordered span fold with de-hyphenation — the reference's
    ``_merge_all_lines_on_block`` (pdf_ocr_with_boxes_v3.py:182-201) as a
    higher-order ``aggregate`` over an array column: a span starting with
    a letter splices onto a trailing hyphen or joins with a space;
    anything else concatenates directly (kernel twin:
    pdf_ocr_spark/kernels/pdf/layout.py merge_spans)."""
    spans = F.split(F.substring(F.col("text"), 1, 60), " ")
    folded = F.aggregate(
        spans,
        F.lit(""),
        lambda acc, x: F.when(
            x.rlike("^[A-Za-z]") & acc.endswith("-"),
            F.concat(acc.substr(F.lit(1), F.length(acc) - 1), x),
        )
        .when(x.rlike("^[A-Za-z]"), F.concat(acc, F.lit(" "), x))
        .otherwise(F.concat(acc, x)),
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.ltrim(folded).alias("merged")
    )


SQL_A5 = """
SELECT doc_id,
  ltrim(list_reduce(list_prepend('', string_split(substr(text, 1, 60), ' ')),
    (acc, x) -> CASE
      WHEN regexp_matches(x, '^[A-Za-z]') AND acc LIKE '%-'
        THEN acc[1:-2] || x
      WHEN regexp_matches(x, '^[A-Za-z]') THEN acc || ' ' || x
      ELSE acc || x END)) AS merged
FROM documents
"""


def q_f5_json_fence(spark, sf_dir):
    """F5: JSON fence extraction + parse with the reference's EXACT
    3-way fallback (pdf_ocr_with_silicon_remote_vllm.py:317-334):
    ```json …``` block if present, else the first bare ``` …``` block,
    else the raw stripped response — models answer in several fence
    dialects (kernel twin: ocr_remote.parse_layout_response).  The
    corpus cycles all three dialects by doc_id."""
    payload = F.format_string(
        '{"page": %d, "lang": "%s"}', F.col("doc_id"), F.col("lang")
    )
    resp = (
        F.when(F.col("doc_id") % 3 == 0,
               F.format_string("intro text ```json%s``` trailing", payload))
        .when(F.col("doc_id") % 3 == 1,
              F.format_string("note ```%s``` done", payload))
        .otherwise(F.format_string("  %s  ", payload))
    )
    fence = (
        F.when(resp.contains("```json"),
               F.trim(F.regexp_extract(resp, r"```json(.*?)```", 1)))
        .when(resp.contains("```"),
              F.trim(F.regexp_extract(resp, r"```(.*?)```", 1)))
        .otherwise(F.trim(resp))
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        fence.alias("fence"),
        F.get_json_object(fence, "$.page").cast("long").alias("page"),
        F.get_json_object(fence, "$.lang").alias("parsed_lang"),
    )


SQL_F5 = """
WITH resp AS (
  SELECT doc_id, lang,
    printf('{"page": %d, "lang": "%s"}', doc_id, lang) AS payload,
    CASE doc_id % 3
      WHEN 0 THEN printf('intro text ```json{"page": %d, "lang": "%s"}``` trailing', doc_id, lang)
      WHEN 1 THEN printf('note ```{"page": %d, "lang": "%s"}``` done', doc_id, lang)
      ELSE printf('  {"page": %d, "lang": "%s"}  ', doc_id, lang)
    END AS r
  FROM documents
)
SELECT doc_id,
  CASE
    WHEN contains(r, '```json') THEN trim(regexp_extract(r, '```json(.*?)```', 1))
    WHEN contains(r, '```') THEN trim(regexp_extract(r, '```(.*?)```', 1))
    ELSE trim(r)
  END AS fence,
  doc_id AS page,
  lang AS parsed_lang
FROM resp
"""


def q_f6_layout_to_text(spark, sf_dir):
    """F6: layout-items → page text — join item texts with newline via a
    lambda transform (pdf_ocr_with_silicon_remote_vllm.py:428-434)."""
    items = F.split(F.substring(F.col("text"), 1, 50), " ")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(
            F.transform(items, lambda x: F.upper(x)), "\n"
        ).alias("page_text"),
    )


SQL_F6 = """
SELECT doc_id,
  array_to_string(list_transform(string_split(substr(text, 1, 50), ' '),
                                 x -> upper(x)), chr(10)) AS page_text
FROM documents
"""


def q_w3_color_roundrobin(spark, sf_dir):
    """W3: round-robin assignment COLORS[idx % 8]
    (pdf_ocr_with_boxes_v2.py:428).  The reference index resets per PAGE;
    here the window partitions by the grouping key (lang as the
    page stand-in) — which is also what keeps the plan scale-safe: a
    no-partition ``Window.orderBy`` funnels the whole table through one
    task."""
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .withColumn("color_idx", F.pmod(F.row_number().over(w), F.lit(8)))
    )


SQL_W3 = """
SELECT doc_id, lang,
       (row_number() OVER (PARTITION BY lang ORDER BY doc_id)) % 8 AS color_idx
FROM documents
"""


def q_a7_token_usage(spark, sf_dir):
    """A7: token-usage accumulation — per-call prompt/completion token
    counts summed per group (pdf_ocr_with_silicon_remote_vllm.py:224-226)."""
    prompt = F.floor(F.col("n_chars") / 4).cast("long")
    completion = F.floor(F.col("n_chars") / 7).cast("long")
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.sum(prompt).alias("prompt_tokens"),
            F.sum(completion).alias("completion_tokens"),
            F.sum(prompt + completion).alias("total_tokens"),
        )
    )


SQL_A7 = """
SELECT lang,
  CAST(sum(n_chars // 4) AS BIGINT) AS prompt_tokens,
  CAST(sum(n_chars // 7) AS BIGINT) AS completion_tokens,
  CAST(sum(n_chars // 4 + n_chars // 7) AS BIGINT) AS total_tokens
FROM documents GROUP BY lang
"""


def q_f11_font_size_fit(spark, sf_dir):
    """F11: font-size fitter min(0.9*h, h*w/stringWidth) clamped to
    [6, 48] (calculate_font_size, parse_student_answers.py:406-444)."""
    h = (F.col("doc_id") % 40 + 8).cast("double")
    w = (F.col("n_chars") % 300 + 20).cast("double")
    text_w = (F.col("n_chars") % 90 + 30).cast("double")
    fitted = F.greatest(
        F.lit(6.0), F.least(F.lit(48.0), F.least(h * 0.9, h * w / text_w))
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.round(fitted, 4).alias("font_size")
    )


SQL_F11 = """
SELECT doc_id,
  round(greatest(6.0, least(48.0,
    least((doc_id % 40 + 8) * 0.9,
          (doc_id % 40 + 8) * (n_chars % 300 + 20) / (n_chars % 90 + 30)))), 4)
  AS font_size
FROM documents
"""


def q_f13_exif_map(spark, sf_dir):
    """F13: EXIF orientation map {1:0, 3:180, 6:270, 8:90} lookup via a
    map literal (get_exif_orientation, parse_student_answers.py:69-89)."""
    exif = (F.col("doc_id") % 9 + 1).cast("int")
    rot = F.element_at(
        F.create_map(
            F.lit(1), F.lit(0), F.lit(3), F.lit(180),
            F.lit(6), F.lit(270), F.lit(8), F.lit(90),
        ),
        exif,
    )
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        exif.alias("exif_orientation"),
        F.coalesce(rot, F.lit(0)).alias("rotation"),
    )


SQL_F13 = """
SELECT doc_id,
  CAST(doc_id % 9 + 1 AS INTEGER) AS exif_orientation,
  CASE doc_id % 9 + 1 WHEN 1 THEN 0 WHEN 3 THEN 180 WHEN 6 THEN 270
                      WHEN 8 THEN 90 ELSE 0 END AS rotation
FROM documents
"""


def q_stream_windowed_counts(spark, sf_dir):
    """Watermarked tumbling-window rollup (streaming operator applied to
    the batch events frame — identical plan modulo the watermark; the
    streaming execution path is exercised in tests/test_streaming.py)."""
    from pdf_ocr_spark.streaming import windowed_event_counts

    return windowed_event_counts(_t(spark, sf_dir, "events"))


SQL_STREAM_WINDOWED = """
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_stream_hot_hosts(spark, sf_dir):
    """Batch twin of `streaming.stream_hot_hosts` (the foreachBatch
    exactly-once execution runs in tests/test_streaming.py): the corpus
    splits into three shards standing in for micro-batches, each builds
    its own CMS counter table, and the read-side groupBy-sum merge is
    point-queried for every host next to the exact counts.  The ORACLE
    computes the counters in ONE pass — the gate therefore PROVES the
    CMS merge property (sharded-merge ≡ single-pass), which is what
    makes per-batch sketch directories a sound streaming accumulator."""
    from pdf_ocr_spark.operators import sketches as SK

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    hosts = d.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 29).cast("string")).alias("item"),
        (F.col("doc_id") % 3).alias("_shard"),
    )
    shards = [
        SK.cms_counts(hosts.filter(F.col("_shard") == s).select("item"), "item")
        for s in range(3)
    ]
    merged = (
        shards[0]
        .unionByName(shards[1])
        .unionByName(shards[2])
        .groupBy("row", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )
    est = SK.cms_estimate(hosts.select("item").distinct(), merged, "item")
    exact = hosts.groupBy("item").agg(F.count(F.lit(1)).alias("exact"))
    return est.join(exact, "item").select(
        "item", "exact", "est", (F.col("est") - F.col("exact")).alias("overcount")
    )


def _sql_stream_hot_hosts(d: int = 3, w: int = 64) -> str:
    probe = " UNION ALL ".join(
        f"SELECT item, {i} AS rw, {_sql_h48('item', f'cms{i}')} % {w} AS pos"
        " FROM {src}"
        for i in range(d)
    )
    return f"""
WITH items AS (
  SELECT 'h' || CAST(doc_id % 29 AS VARCHAR) AS item
  FROM documents WHERE doc_id < 500
),
probes AS ({probe.format(src="items")}),
counters AS (SELECT rw, pos, count(*) AS cnt FROM probes GROUP BY rw, pos),
di AS (SELECT DISTINCT item FROM items),
dprobes AS ({probe.format(src="di")}),
est AS (
  SELECT d.item, min(c.cnt) AS est
  FROM dprobes d JOIN counters c ON d.rw = c.rw AND d.pos = c.pos
  GROUP BY d.item
),
exact AS (SELECT item, count(*) AS exact FROM items GROUP BY item)
SELECT x.item, x.exact, e.est, e.est - x.exact AS overcount
FROM exact x JOIN est e ON e.item = x.item
"""


SQL_STREAM_HOT_HOSTS = _sql_stream_hot_hosts()


def q_sample_weighted(spark, sf_dir):
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-Res): the 50 documents winning the exponential race
    -ln(u)/weight with u a per-doc_id hash-uniform and weight =
    character length — the deterministic curation draw that picks
    rows proportionally to length with NO RNG state (resume-stable,
    engine-exact selection; operators/sampling.py weighted_sample).
    The oracle replays the identical race."""
    from pdf_ocr_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = weighted_sample(
        d, F.length("text"), k=50, key_col="doc_id"
    )
    return out.select("doc_id", "lang", F.col("weight").cast("long"))


SQL_SAMPLE_WEIGHTED = f"""
SELECT doc_id, lang, w AS weight FROM (
  SELECT doc_id, lang, CAST(GREATEST(1, length(text)) AS BIGINT) AS w,
         -ln(({_SQL_H40_KEY} + 1) / 1099511627776.0)
           / GREATEST(1, length(text)) AS pr
  FROM documents
) ORDER BY pr LIMIT 50
"""


def q_sketch_quantile_hist(spark, sf_dir):
    """Mergeable quantile sketch: a log2 histogram with 4 sub-bins per
    octave over document lengths, built PER SHARD (doc_id % 32,
    standing in for partitions) and merged by plain SUM — the
    constant-state quantile path for a 100-TB column, vs the exact
    discrete percentile which needs a sort.  Output per quantile
    (p50/p90/p99): target rank, interpolated estimate, exact value,
    abs error — the estimates ship NEXT TO exact, the sketch-honesty
    convention of this registry.  Every arithmetic step is IEEE-exact
    (log2 on power-of-two boundaries, power-of-two divisions, one
    rational interpolation) so the oracle value-hash matches."""
    from pyspark.sql import Window

    from pdf_ocr_spark.operators import sketches as SK

    docs = _t(spark, sf_dir, "documents").select(
        F.greatest(F.lit(1).cast("long"),
                   F.length("text").cast("long")).alias("v"),
        (F.col("doc_id") % 32).alias("shard"),
    )
    hist = SK.log_histogram(docs, "v", sub_bits=2,
                            shard_col=F.col("shard"))
    est = SK.histogram_quantiles(hist, [0.5, 0.9, 0.99], sub_bits=2)
    counts = docs.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select("v", F.sum("c").over(w).alias("cum"))
    total = cum.agg(F.max("cum").alias("n"))
    exact = None
    for q in (0.5, 0.9, 0.99):
        r = F.ceil(F.lit(q) * F.col("n")).cast("long")
        e = (
            cum.crossJoin(F.broadcast(total))
            .filter(F.col("cum") >= r)
            .agg(F.min("v").alias("exact"))
            .select(F.lit(q).alias("q"), "exact")
        )
        exact = e if exact is None else exact.unionByName(e)
    return est.join(exact, "q").select(
        "q", "target_rank", "est", "exact",
        F.round(F.abs(F.col("est") - F.col("exact")), 4).alias("abs_err"),
    )


SQL_SKETCH_QUANTILE_HIST = """
WITH v AS (SELECT CAST(GREATEST(1, length(text)) AS BIGINT) AS v
           FROM documents),
b AS (SELECT CAST(floor(log2(v)) AS BIGINT) AS e, v FROM v),
bins AS (
  SELECT e * 4 + CAST(floor(v / power(2.0, e) * 4) AS BIGINT) - 4 AS bin,
         count(*) AS cnt
  FROM b GROUP BY 1
),
cum AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin) AS cum FROM bins),
n AS (SELECT max(cum) AS n FROM cum),
qs AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) AS t(q)),
tgt AS (SELECT q, CAST(ceil(q * n.n) AS BIGINT) AS r FROM qs, n),
fb AS (SELECT t.q, t.r, min(c.bin) AS bin
       FROM tgt t JOIN cum c ON c.cum >= t.r GROUP BY 1, 2),
pick AS (SELECT f.q, f.r, c.bin, c.cnt, c.cum
         FROM fb f JOIN cum c ON c.bin = f.bin),
est AS (
  SELECT q, r AS target_rank,
         round(power(2.0, CAST(floor(bin / 4.0) AS BIGINT))
                 * (1 + (bin % 4) / 4.0)
               + (power(2.0, CAST(floor(bin / 4.0) AS BIGINT))
                    * (1 + (bin % 4 + 1) / 4.0)
                  - power(2.0, CAST(floor(bin / 4.0) AS BIGINT))
                    * (1 + (bin % 4) / 4.0))
                 * (r - (cum - cnt)) / cnt, 4) AS est
  FROM pick
),
ec AS (SELECT v, count(*) AS c FROM v GROUP BY v),
ecum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM ec),
exact AS (SELECT t.q, min(e.v) AS exact
          FROM tgt t JOIN ecum e ON e.cum >= t.r GROUP BY 1)
SELECT est.q, est.target_rank, est.est, exact.exact,
       round(abs(est.est - exact.exact), 4) AS abs_err
FROM est JOIN exact ON est.q = exact.q
"""


def q_link_communities(spark, sf_dir):
    """Label-propagation communities on the host webgraph (Raghavan et
    al. 2007): two synchronous frequency-voting rounds over the same
    host graph link_host_graph builds — unlike min-label propagation
    (connected components), frequency voting splits a component along
    its dense cores, separating organic link neighbourhoods from
    link-farm clusters joined by a stray edge.  Deterministic
    (synchronous update, min-label tie-break, no RNG); the oracle
    unrolls both rounds as SQL over the identical graph."""
    from pdf_ocr_spark.operators.graph import label_propagation

    hg = _host_graph_input(spark, sf_dir)
    out = label_propagation(hg, "src_host", "dst_host", rounds=2)
    return out.select(F.col("node").alias("host"), "community")


def _sql_lpa_round(prev: str, idx: int) -> str:
    return f"""
v{idx} AS (SELECT ballot.s AS node, l.label, count(*) AS cnt
       FROM ballot JOIN {prev} l ON l.node = ballot.d GROUP BY 1, 2),
w{idx} AS (SELECT node, label FROM (
         SELECT node, label,
                row_number() OVER (PARTITION BY node
                                   ORDER BY cnt DESC, label ASC) AS rn
         FROM v{idx}) WHERE rn = 1),
l{idx} AS (SELECT n.node, coalesce(w.label, n.node) AS label
       FROM nodes n LEFT JOIN w{idx} w ON w.node = n.node)"""


SQL_LINK_COMMUNITIES = f"""
WITH hg AS ({SQL_LINK_HOST_GRAPH}),
e0 AS (SELECT src_host AS s, dst_host AS d FROM hg
       WHERE src_host <> dst_host),
sym AS (SELECT DISTINCT s, d FROM
        (SELECT s, d FROM e0 UNION ALL SELECT d, s FROM e0)),
nodes AS (SELECT DISTINCT s AS node FROM sym),
ballot AS (SELECT s, d FROM sym
           UNION ALL SELECT node, node FROM nodes),
l0 AS (SELECT node, node AS label FROM nodes),
{_sql_lpa_round('l0', 1)},
{_sql_lpa_round('l1', 2)}
SELECT node AS host, label AS community FROM l2
"""


_HREFLANG_GOLDEN = _golden("hreflang")


def q_hreflang_alternates(spark, sf_dir):
    """hreflang extraction (Google's cross-language page mapping): one
    row per <link rel=alternate hreflang> head annotation, computed by
    the distributed pipeline (extract_hreflang_links; same
    single-shuffle plan shape as the hot path).  Exercises reciprocal
    cliques, broken reciprocity, one-way hubs, uppercase/unquoted/
    entity-encoded markup, an alternate-feed decoy (no hreflang — must
    not emit), and annotation-free pages.  Oracle = frozen kernel
    golden (tools/freeze.py)."""
    from pdf_ocr_spark.pipeline.extract_job import extract_hreflang_links

    return extract_hreflang_links(_corpus(spark, "hreflang"))


SQL_HREFLANG_ALTERNATES = f"""
SELECT url, CAST(ord AS INT) AS ord, hreflang, href
FROM read_parquet('{_HREFLANG_GOLDEN}')
"""


def q_hreflang_clusters(spark, sf_dir):
    """hreflang reciprocity audit over the extracted annotations: per
    page, total annotations, distinct RECIPROCAL alternates (the
    target page links back — the invariant search engines require
    before honoring the mapping), and a 1-hop cluster id = min(url,
    reciprocal alternates) that groups each translation set under its
    lexicographically-first member.  Pure relational logic over the
    extraction golden: one self-join for reciprocity + two groupBys —
    scales as the host-graph queries do.  The oracle replays it in
    SQL over the same golden."""
    g = spark.read.parquet(_HREFLANG_GOLDEN)
    edges = (
        g.filter(F.col("href") != F.col("url"))
        .select("url", "href")
        .distinct()
    )
    rev = edges.select(
        F.col("href").alias("url"), F.col("url").alias("href")
    )
    recip = edges.intersect(rev)
    per_url = g.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_alternates")
    )
    rstats = recip.groupBy("url").agg(
        F.count(F.lit(1)).alias("n_reciprocal"),
        F.min("href").alias("_minr"),
    )
    return (
        per_url.join(rstats, "url", "left")
        .select(
            "url",
            "n_alternates",
            F.coalesce(F.col("n_reciprocal"), F.lit(0)).alias("n_reciprocal"),
            F.least(F.col("url"), F.coalesce(F.col("_minr"), F.col("url")))
            .alias("cluster_id"),
        )
    )


SQL_HREFLANG_CLUSTERS = f"""
WITH g AS (SELECT * FROM read_parquet('{_HREFLANG_GOLDEN}')),
edges AS (SELECT DISTINCT url, href FROM g WHERE href <> url),
recip AS (SELECT e.url, e.href FROM edges e
          JOIN edges r ON r.url = e.href AND r.href = e.url),
per_url AS (SELECT url, count(*) AS n_alternates FROM g GROUP BY url),
rstats AS (SELECT url, count(*) AS n_reciprocal, min(href) AS minr
           FROM recip GROUP BY url)
SELECT p.url, p.n_alternates,
       coalesce(r.n_reciprocal, 0) AS n_reciprocal,
       LEAST(p.url, coalesce(r.minr, p.url)) AS cluster_id
FROM per_url p LEFT JOIN rstats r ON r.url = p.url
"""


def _host_graph_input(spark, sf_dir):
    """The shared host-graph input of every link_* query: golden link
    edges + the synthetic multi-host corpus, rolled up by host_graph
    (replayed by _EDGE_SYNTH_SQL)."""
    from pdf_ocr_spark.operators.graph import host_graph

    extracted = spark.read.parquet(_golden("link_edges")).select(
        "url", "link", "nofollow"
    )
    # Synthetic multi-host edges (the golden corpus is one site): cross-
    # host links, a relative path, a mailto (must drop), an uppercase
    # host with a port, and a userinfo URL — every shape host_expr
    # normalizes.  Replayed verbatim by the oracle.
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    i = F.col("doc_id")
    src = F.concat(
        F.lit("https://site"), (i % 11).cast("string"),
        F.lit(".example.org/page/"), i.cast("string"),
    )
    m = i % 5
    link = (
        F.when(m == 0, F.concat(
            F.lit("https://site"), ((i * 3) % 11).cast("string"),
            F.lit(".example.org/x/"), i.cast("string")))
        .when(m == 1, F.concat(F.lit("/local/"), (i % 7).cast("string")))
        .when(m == 2, F.concat(
            F.lit("mailto:user"), i.cast("string"), F.lit("@example.org")))
        .when(m == 3, F.concat(
            F.lit("HTTPS://CDN.Example.NET:8080/asset?id="),
            (i % 13).cast("string")))
        .otherwise(F.concat(
            F.lit("https://u:p@site"), (i % 4).cast("string"),
            F.lit(".example.org/auth")))
    )
    synth = d.select(
        src.alias("url"), link.alias("link"),
        (i % 3 == 0).alias("nofollow"),
    )
    return host_graph(extracted.unionByName(synth))


def q_link_degree_dist(spark, sf_dir):
    """Host degree distribution as a log2/4-sub-bin histogram — the
    standard webgraph shape dashboard (Common Crawl publishes exactly
    this for its host graph; heavy-tailed in-degree is the expected
    signature, a flat one flags a synthetic/spam-dominated crawl).
    Reuses the mergeable quantile-histogram binning from
    operators/sketches.py: the degree table (one row per host) is tiny
    next to the edge table, and the histogram needs no global sort at
    any scale.  Output: (direction, bin, cnt)."""
    from pdf_ocr_spark.operators.sketches import log_histogram

    hg = _host_graph_input(spark, sf_dir)
    outd = hg.groupBy("src_host").agg(
        F.countDistinct("dst_host").alias("v"))
    ind = hg.groupBy("dst_host").agg(
        F.countDistinct("src_host").alias("v"))
    h_out = log_histogram(outd, "v").withColumn(
        "direction", F.lit("out"))
    h_in = log_histogram(ind, "v").withColumn(
        "direction", F.lit("in"))
    return h_out.unionByName(h_in).select("direction", "bin", "cnt")


_SQL_DEG_HIST = """
SELECT '{name}' AS direction,
       CAST(floor(log2(v)) AS BIGINT) * 4
         + CAST(floor(v / power(2.0, CAST(floor(log2(v)) AS BIGINT)) * 4)
                AS BIGINT) - 4 AS bin,
       count(*) AS cnt
FROM {src} GROUP BY 2
"""

SQL_LINK_DEGREE_DIST = f"""
WITH hg AS ({SQL_LINK_HOST_GRAPH}),
outd AS (SELECT src_host, count(DISTINCT dst_host) AS v FROM hg
         GROUP BY 1),
ind AS (SELECT dst_host, count(DISTINCT src_host) AS v FROM hg
        GROUP BY 1)
{_SQL_DEG_HIST.format(name="out", src="outd")}
UNION ALL
{_SQL_DEG_HIST.format(name="in", src="ind")}
"""


def q_link_reciprocity(spark, sf_dir):
    """One-row webgraph health dashboard: edge reciprocity (share of
    directed host edges whose reverse also exists — organic link
    neighbourhoods reciprocate, scraped/spam graphs rarely do) and
    out-in degree assortativity (Pearson correlation of src out-degree
    vs dst in-degree across edges — negative on the web's hub-spoke
    structure).  Every sum is exact integer arithmetic; the Pearson
    formula runs once on one row (sqrt is IEEE-correctly-rounded in
    both engines), rounded to 6dp."""
    hg = _host_graph_input(spark, sf_dir)
    e = (
        hg.select(F.col("src_host").alias("s"), F.col("dst_host").alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )
    rev = e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    nrec = e.intersect(rev).agg(
        F.count(F.lit(1)).cast("long").alias("nrec"))
    outd = e.groupBy("s").agg(F.count(F.lit(1)).alias("od"))
    ind = e.groupBy("d").agg(F.count(F.lit(1)).alias("idg"))
    j = e.join(outd, "s").join(ind, "d").select(
        F.col("od").cast("long").alias("x"),
        F.col("idg").cast("long").alias("y"),
    )
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).crossJoin(F.broadcast(nrec))                # both one-row frames
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        F.col("n").alias("n_edges"),
        F.col("nrec").alias("n_reciprocal"),
        F.round(F.col("nrec") / F.col("n"), 6).alias("reciprocity"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("assortativity"),
    )


SQL_LINK_RECIPROCITY = f"""
WITH hg AS ({SQL_LINK_HOST_GRAPH}),
e AS (SELECT DISTINCT src_host AS s, dst_host AS d FROM hg
      WHERE src_host <> dst_host),
rec AS (SELECT e.s, e.d FROM e JOIN e r ON r.s = e.d AND r.d = e.s),
outd AS (SELECT s, count(*) AS od FROM e GROUP BY 1),
ind AS (SELECT d, count(*) AS idg FROM e GROUP BY 1),
j AS (SELECT o.od AS x, i.idg AS y FROM e
      JOIN outd o ON o.s = e.s JOIN ind i ON i.d = e.d),
s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM j),
r AS (SELECT count(*) AS nrec FROM rec)
SELECT s.n AS n_edges, r.nrec AS n_reciprocal,
       round(r.nrec / CAST(s.n AS DOUBLE), 6) AS reciprocity,
       round((s.n * s.sxy - s.sx * s.sy)
             / nullif(sqrt((s.n * s.sxx - s.sx * s.sx)
                           * (s.n * s.syy - s.sy * s.sy)), 0), 6)
         AS assortativity
FROM s, r
"""


def q_dedup_source_rates(spark, sf_dir):
    """Per-source duplicate-rate dashboard: exact-dup share within
    each source (n_docs, distinct fingerprints, dup count, rate) — the
    crawl-ops metric that demotes template-heavy hosts in recrawl
    scheduling.  One groupBy over (source, md5) then one over source;
    both map-side combinable, fully SQL-replayable."""
    d = _t(spark, sf_dir, "documents").select(
        "source", F.md5(F.col("text")).alias("fp")
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            (F.col("n_docs") - F.col("n_distinct")).alias("n_dups"),
            F.round(
                (F.col("n_docs") - F.col("n_distinct")) / F.col("n_docs"), 6
            ).alias("dup_rate"),
        )
    )


SQL_DEDUP_SOURCE_RATES = """
SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_distinct,
       count(*) - count(DISTINCT md5(text)) AS n_dups,
       round((count(*) - count(DISTINCT md5(text)))
             / CAST(count(*) AS DOUBLE), 6) AS dup_rate
FROM documents GROUP BY source
"""


def q_link_pagerank_incremental(spark, sf_dir):
    """Incremental PageRank across crawl snapshots: snapshot B = A plus
    a deterministic hash-selected reversed-edge delta; ONE power
    iteration warm-started from A's converged ranks lands next to the
    full 3-iteration cold recompute on B — the dashboard that justifies
    warm-starting rank jobs per crawl instead of recomputing from the
    uniform vector (3× fewer join passes over a 10^12-edge graph).
    Output per node: warm pr, cold pr, abs diff.  All decimal-summed
    and fixed-rounded; the oracle unrolls every round (3 cold-A +
    1 warm + 3 cold-B) in SQL."""
    from pdf_ocr_spark.operators.dedup import _hbase40
    from pdf_ocr_spark.operators.graph import pagerank

    a = spark.read.parquet(_golden("link_edges")).select(
        F.col("url").alias("src"), F.col("link").alias("dst")
    )
    delta = (
        a.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        .filter(
            _hbase40(F.concat(F.col("src"), F.lit(":"), F.col("dst"))) % 5
            == 0
        )
    )
    b = a.unionByName(delta)
    cold_a = pagerank(a, iters=3)
    warm_b = pagerank(b, iters=1, prior=cold_a)
    cold_b = pagerank(b, iters=3)
    return (
        warm_b.select("node", F.col("pr").alias("pr_warm"))
        .join(cold_b.select("node", F.col("pr").alias("pr_cold")), "node")
        .select(
            "node", "pr_warm", "pr_cold",
            F.round(F.abs(F.col("pr_warm") - F.col("pr_cold")), 10)
            .alias("abs_diff"),
        )
    )


def _sql_pr_it(e: str, deg: str, nodes: str, nn: str, prev: str,
               name: str, damping: float = 0.85, prec: int = 10) -> str:
    base = (f"(CAST(1.0 AS DOUBLE) - CAST({damping} AS DOUBLE))"
            f" / (SELECT n FROM {nn})")
    return f"""
{name} AS (
  SELECT n.node,
    round(coalesce(s.mass, 0) * CAST({damping} AS DOUBLE) + {base}, {prec}) AS pr
  FROM {nodes} n LEFT JOIN (
    SELECT e.dst AS node,
      CAST(sum(CAST(p.pr / d.deg AS DECIMAL(28,14))) AS DOUBLE) AS mass
    FROM {e} e JOIN {prev} p ON p.node = e.src JOIN {deg} d ON d.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
)"""


def _sql_pagerank_incremental(prec: int = 10) -> str:
    ita = ",".join(
        _sql_pr_it("ga", "dega", "na", "nna", f"pra{i}", f"pra{i + 1}")
        for i in range(3)
    )
    itc = ",".join(
        _sql_pr_it("gb", "degb", "nb", "nnb", f"prc{i}", f"prc{i + 1}")
        for i in range(3)
    )
    itw = _sql_pr_it("gb", "degb", "nb", "nnb", "prw0", "prw1")
    g = _golden("link_edges")
    return f"""
WITH ga AS (SELECT url AS src, link AS dst FROM read_parquet('{g}')),
delta AS (
  SELECT link AS src, url AS dst FROM read_parquet('{g}')
  WHERE CAST(('0x' || substr(md5(link || ':' || url), 1, 10)) AS BIGINT)
        % 5 = 0
),
gb AS (SELECT src, dst FROM ga UNION ALL SELECT src, dst FROM delta),
na AS (SELECT DISTINCT src AS node FROM ga UNION SELECT DISTINCT dst FROM ga),
nna AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM na),
dega AS (SELECT src, count(*) AS deg FROM ga GROUP BY src),
pra0 AS (SELECT node, round(1.0 / (SELECT n FROM nna), {prec}) AS pr FROM na),
{ita},
nb AS (SELECT DISTINCT src AS node FROM gb UNION SELECT DISTINCT dst FROM gb),
nnb AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nb),
degb AS (SELECT src, count(*) AS deg FROM gb GROUP BY src),
prw0 AS (
  SELECT n.node,
    round(coalesce(p.pr, 1.0 / (SELECT n FROM nnb)), {prec}) AS pr
  FROM nb n LEFT JOIN pra3 p ON p.node = n.node
),
{itw},
prc0 AS (SELECT node, round(1.0 / (SELECT n FROM nnb), {prec}) AS pr FROM nb),
{itc}
SELECT w.node, w.pr AS pr_warm, c.pr AS pr_cold,
       round(abs(w.pr - c.pr), {prec}) AS abs_diff
FROM prw1 w JOIN prc3 c ON c.node = w.node
"""


SQL_LINK_PAGERANK_INCREMENTAL = _sql_pagerank_incremental()


def q_warc_header_gate(spark, sf_dir):
    """X-Robots-Tag header-channel indexing gate: robots directives in
    the HTTP RESPONSE HEADERS, the only robots channel PDFs/images
    have and one a meta-robots-only gate silently misses.  Documents
    become WARC response records whose envelopes carry real
    X-Robots-Tag headers (agent-scoped 'googlebot: noindex', 'none',
    'noarchive', unavailable_after, absent); the archive is read BACK
    and the verdict computed from the recovered header: strip an
    optional agent prefix (but never the unavailable_after directive,
    whose value also contains ':'), then token-match noindex/none.
    The WARC write+read round-trips in one partition-parallel map; the
    oracle replays the header construction and the identical gate
    relationally from the documents table."""
    from pdf_ocr_spark.operators.dedup import _hbase40  # noqa: F401
    from pdf_ocr_spark.sources.warc import (
        pages_to_warc_with_headers, warc_robots_headers)

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    i = F.col("doc_id")
    tag = (
        F.when(i % 6 == 0, F.lit("noindex"))
        .when(i % 6 == 1, F.lit("noindex, nofollow"))
        .when(i % 6 == 2, F.lit("googlebot: noindex"))
        .when(i % 6 == 3, F.lit("none"))
        .when(i % 6 == 4, F.lit("noarchive, nosnippet"))
        .otherwise(F.lit(""))
    )
    pages = d.select(
        F.concat(F.lit("https://h"), (i % 7).cast("string"),
                 F.lit(".example.com/p/"), i.cast("string")).alias("url"),
        F.to_timestamp(F.lit("2025-01-05 00:00:00")).alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        tag.alias("x_robots_tag"),
    )
    hdrs = warc_robots_headers(pages_to_warc_with_headers(pages))
    v = F.lower(F.trim(F.col("x_robots_tag")))
    stripped = (
        F.when(v.startswith("unavailable_after:"), v)
        .when(
            v.rlike("^[a-z0-9_-]+ *:"),
            F.regexp_replace(v, "^[a-z0-9_-]+ *:", ""),
        )
        .otherwise(v)
    )
    toks = F.concat(
        F.lit(","), F.regexp_replace(stripped, " ", ""), F.lit(",")
    )
    indexable = ~(
        toks.contains(",noindex,") | toks.contains(",none,")
    )
    return hdrs.select(
        "url", "status", "x_robots_tag", indexable.alias("indexable")
    )


SQL_WARC_HEADER_GATE = """
WITH pages AS (
  SELECT 'https://h' || CAST(doc_id % 7 AS VARCHAR)
           || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
         CASE doc_id % 6
           WHEN 0 THEN 'noindex'
           WHEN 1 THEN 'noindex, nofollow'
           WHEN 2 THEN 'googlebot: noindex'
           WHEN 3 THEN 'none'
           WHEN 4 THEN 'noarchive, nosnippet'
           ELSE ''
         END AS x_robots_tag
  FROM documents WHERE doc_id < 300
),
g AS (
  SELECT url, 200 AS status, x_robots_tag,
         CASE WHEN lower(trim(x_robots_tag))
                   LIKE 'unavailable_after:%'
              THEN lower(trim(x_robots_tag))
              WHEN regexp_matches(lower(trim(x_robots_tag)),
                                  '^[a-z0-9_-]+ *:')
              THEN regexp_replace(lower(trim(x_robots_tag)),
                                  '^[a-z0-9_-]+ *:', '')
              ELSE lower(trim(x_robots_tag))
         END AS v
  FROM pages
)
SELECT url, CAST(status AS INT) AS status, x_robots_tag,
       NOT (
         (',' || replace(v, ' ', '') || ',') LIKE '%,noindex,%'
         OR (',' || replace(v, ' ', '') || ',') LIKE '%,none,%'
       ) AS indexable
FROM g
"""


def q_sim_matryoshka_recall(spark, sf_dir):
    """Matryoshka-truncation recall (Kusupati et al. 2022): top-3
    cosine neighbors computed on PREFIX sub-vectors (dims 8/16/32) vs
    the full 64-dim baseline — the dashboard behind serving MRL
    embeddings truncated (a 32-dim prefix costs 2× less memory and
    bandwidth at whatever recall this table shows; these synthetic
    embeddings don't front-load information, so low dims degrade —
    reported honestly, like sim_pq_recall).  Integer hit counts over
    the joined top-k sets; one rounded division per dim."""
    from pdf_ocr_spark.operators import similarity as S

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    base = S.cosine_topk_bruteforce(emb, qs, k=3).select(
        "query_id", "neighbor_id"
    )
    rows = None
    for dim in (8, 16, 32):
        te = emb.select(
            "vec_id", F.slice("embedding", 1, dim).alias("embedding")
        )
        tq = qs.select(
            "vec_id", F.slice("embedding", 1, dim).alias("embedding")
        )
        t = S.cosine_topk_bruteforce(te, tq, k=3).select(
            "query_id", "neighbor_id"
        )
        hits = t.join(base, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).alias("n_hits")
        )
        tot = base.agg(F.count(F.lit(1)).alias("n_base"))
        r = hits.crossJoin(F.broadcast(tot)).select(
            F.lit(dim).alias("dim"),
            F.col("n_hits").cast("long"),
            F.col("n_base").cast("long"),
            F.round(F.col("n_hits") / F.col("n_base"), 6).alias("recall"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


def _sql_mrl_dim(dim: int) -> str:
    qv, ev = f"q.qv[1:{dim}]", f"e.embedding[1:{dim}]"
    return f"""
sc{dim} AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    round({_SQL_COSINE.format(a=qv, b=ev)}, 4) AS cosine
  FROM embeddings e CROSS JOIN q WHERE q.query_id <> e.vec_id),
t{dim} AS (SELECT query_id, neighbor_id FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM sc{dim}) WHERE rank <= 3),
r{dim} AS (SELECT {dim} AS dim,
  (SELECT count(*) FROM t{dim} t JOIN tbase b
     ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id)
    AS n_hits,
  (SELECT count(*) FROM tbase) AS n_base)"""


SQL_SIM_MATRYOSHKA_RECALL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id % 100 = 0),
scbase AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    round({_SQL_COSINE.format(a='q.qv', b='e.embedding')}, 4) AS cosine
  FROM embeddings e CROSS JOIN q WHERE q.query_id <> e.vec_id),
tbase AS (SELECT query_id, neighbor_id FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scbase) WHERE rank <= 3),
{_sql_mrl_dim(8)},
{_sql_mrl_dim(16)},
{_sql_mrl_dim(32)}
SELECT dim, CAST(n_hits AS BIGINT) AS n_hits,
       CAST(n_base AS BIGINT) AS n_base,
       round(n_hits / CAST(n_base AS DOUBLE), 6) AS recall
FROM (SELECT * FROM r8 UNION ALL SELECT * FROM r16
      UNION ALL SELECT * FROM r32)
"""


def q_tpch_q5ish(spark, sf_dir):
    """TPC-H Q5 shape — local-supplier volume: the 6-table join chain
    (region → nation → customer → orders → lineitem → supplier) with
    the Q5 twist that the SUPPLIER must sit in the CUSTOMER's nation
    (two independent paths to nation meeting in one equality).  Only
    the fixed-size nation and region tables carry a broadcast hint:
    customer and supplier grow with the scale factor, so their join
    strategy is left to the planner and AQE (a forced broadcast of
    either would not fit an executor at 100 TB).  Exact decimal
    revenue sums."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dims = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_nationkey", "n_name", "r_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(dims, orders.o_custkey == dims.c_custkey)
        .join(
            sup,
            (li.l_suppkey == sup.s_suppkey)
            & (sup.s_nationkey == dims.c_nationkey),
        )
        .groupBy("r_name", "n_name")
        .agg(
            _dec_sum(rev, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_TPCH_Q5ISH = f"""
SELECT r_name, n_name,
  {_dec_sum_sql("l_extendedprice * (1 - l_discount)")} AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY r_name, n_name
"""


def q_tpch_q14ish(spark, sf_dir):
    """TPC-H Q14 shape — promotion revenue share: conditional
    aggregation over the lineitem⋈part join (CASE inside the sum, the
    filter-inside-aggregate idiom), one month of shipments.  Part grows
    with the scale factor, so its join strategy is left to the planner
    and AQE; the ratio divides two exact decimal sums once."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(
        F.col("p_type").startswith("PROMO"), rev
    ).otherwise(F.lit(0.0))
    j = li.join(part, li.l_partkey == part.p_partkey)
    agg = j.agg(
        _dec_sum(promo, 2).alias("promo_revenue"),
        _dec_sum(rev, 2).alias("total_revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return agg.select(
        "promo_revenue",
        "total_revenue",
        "n_items",
        F.round(
            F.lit(100.0) * F.col("promo_revenue")
            / F.nullif(F.col("total_revenue"), F.lit(0.0)),
            4,
        ).alias("promo_pct"),
    )


SQL_TPCH_Q14ISH = f"""
WITH j AS (
  SELECT CASE WHEN p_type LIKE 'PROMO%'
              THEN l_extendedprice * (1 - l_discount)
              ELSE 0.0 END AS promo_rev,
         l_extendedprice * (1 - l_discount) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
),
a AS (
  SELECT {_dec_sum_sql("promo_rev")} AS promo_revenue,
         {_dec_sum_sql("rev")} AS total_revenue,
         count(*) AS n_items
  FROM j
)
SELECT promo_revenue, total_revenue, n_items,
       round(100.0 * promo_revenue / nullif(total_revenue, 0.0), 4)
         AS promo_pct
FROM a
"""


def q_robots_policy_drift(spark, sf_dir):
    """robots.txt policy drift across crawl snapshots: snapshot B is
    the rules table with deterministic hash-selected mutations (some
    rules dropped, some domains gain a new Disallow) — the diff a
    crawler must run per fetch of robots.txt, because a newly
    disallowed prefix means already-indexed urls under it must be
    RETIRED, not merely skipped next crawl.  Per domain: rule counts
    in both snapshots, added/removed counts, changed/unchanged
    verdict.  One full-outer join on (domain, rule identity) + one
    groupBy; the oracle replays mutation and diff relationally over
    the same frozen golden."""
    from pdf_ocr_spark.operators.dedup import _hbase40

    a = spark.read.parquet(_golden("robots_rules")).select(
        "domain", "agent", "allow", "pattern"
    )
    rid = F.concat_ws(
        "\x1f", F.col("agent"),
        F.col("allow").cast("string"), F.col("pattern")
    )
    a = a.withColumn("rule", rid)
    dropped = _hbase40(F.concat(F.col("domain"), F.lit("#"),
                                F.col("rule"))) % 4 == 0
    gains = (
        a.select("domain").distinct()
        .filter(_hbase40(F.col("domain")) % 5 == 0)
        .select(
            "domain",
            F.concat_ws("\x1f", F.lit("*"), F.lit("false"),
                        F.lit("/private-new/")).alias("rule"),
        )
    )
    b = a.filter(~dropped).select("domain", "rule").unionByName(gains)
    aa = a.select("domain", "rule").withColumn("in_a", F.lit(1))
    bb = b.withColumn("in_b", F.lit(1))
    j = aa.join(bb, ["domain", "rule"], "full_outer")
    return (
        j.groupBy("domain")
        .agg(
            F.sum(F.coalesce(F.col("in_a"), F.lit(0))).alias("n_rules_a"),
            F.sum(F.coalesce(F.col("in_b"), F.lit(0))).alias("n_rules_b"),
            F.sum(
                F.when(F.col("in_b").isNull(), 1).otherwise(0)
            ).alias("n_removed"),
            F.sum(
                F.when(F.col("in_a").isNull(), 1).otherwise(0)
            ).alias("n_added"),
        )
        .select(
            "domain", "n_rules_a", "n_rules_b", "n_removed", "n_added",
            F.when(F.col("n_removed") + F.col("n_added") > 0,
                   F.lit("changed")).otherwise(F.lit("unchanged"))
            .alias("verdict"),
        )
    )


_SQL_H40 = "CAST(('0x' || substr(md5({e}), 1, 10)) AS BIGINT)"

SQL_ROBOTS_POLICY_DRIFT = f"""
WITH a AS (
  SELECT domain,
         agent || chr(31) || CAST(allow AS VARCHAR) || chr(31) || pattern
           AS rule
  FROM read_parquet('{_golden("robots_rules")}')
),
gains AS (
  SELECT DISTINCT domain,
         '*' || chr(31) || 'false' || chr(31) || '/private-new/' AS rule
  FROM a WHERE {_SQL_H40.format(e="domain")} % 5 = 0
),
b AS (
  SELECT domain, rule FROM a
  WHERE {_SQL_H40.format(e="domain || '#' || rule")} % 4 <> 0
  UNION ALL SELECT domain, rule FROM gains
),
j AS (
  SELECT coalesce(a2.domain, b2.domain) AS domain,
         CASE WHEN a2.domain IS NULL THEN 0 ELSE 1 END AS in_a,
         CASE WHEN b2.domain IS NULL THEN 0 ELSE 1 END AS in_b
  FROM (SELECT domain, rule, 1 AS x FROM a) a2
  FULL OUTER JOIN (SELECT domain, rule, 1 AS x FROM b) b2
    ON a2.domain = b2.domain AND a2.rule = b2.rule
)
SELECT domain,
       CAST(sum(in_a) AS BIGINT) AS n_rules_a,
       CAST(sum(in_b) AS BIGINT) AS n_rules_b,
       CAST(sum(CASE WHEN in_b = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       CAST(sum(CASE WHEN in_a = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_added,
       CASE WHEN sum(CASE WHEN in_b = 0 THEN 1 ELSE 0 END)
               + sum(CASE WHEN in_a = 0 THEN 1 ELSE 0 END) > 0
            THEN 'changed' ELSE 'unchanged' END AS verdict
FROM j GROUP BY domain
"""


def q_events_retention(spark, sf_dir):
    """Cohort retention over the events stream: users cohorted by
    first-activity date, per-cohort distinct-active counts at day
    offsets 0-7 and the retention rate — the engagement dashboard
    every event pipeline ships.  Two map-side-combinable groupBys plus
    one broadcastable cohort-size join; day arithmetic on DATEs only
    (identical integer day-diffs in both engines), rate rounded 6dp."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort"))
    act = (
        ev.join(first, "user_id")
        .select(
            "user_id", "cohort",
            F.datediff(F.col("d"), F.col("cohort")).alias("day_offset"),
        )
        .filter(F.col("day_offset") <= 7)
        .distinct()
    )
    size = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ret = act.groupBy("cohort", "day_offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    return ret.join(F.broadcast(size), "cohort").select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
        "day_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6)
        .alias("retention"),
    )


SQL_EVENTS_RETENTION = """
WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
f AS (SELECT user_id, min(d) AS cohort FROM ev GROUP BY 1),
act AS (
  SELECT DISTINCT e.user_id, f.cohort,
         date_diff('day', f.cohort, e.d) AS day_offset
  FROM ev e JOIN f ON f.user_id = e.user_id
  WHERE date_diff('day', f.cohort, e.d) <= 7
),
sz AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY 1),
r AS (SELECT cohort, day_offset, count(DISTINCT user_id) AS n_active
      FROM act GROUP BY 1, 2)
SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort,
       CAST(r.day_offset AS INT) AS day_offset, r.n_active,
       s.cohort_size,
       round(r.n_active / CAST(s.cohort_size AS DOUBLE), 6) AS retention
FROM r JOIN sz s ON s.cohort = r.cohort
"""


def q_export_manifest(spark, sf_dir):
    """Per-shard delivery manifest over the deterministic export
    sharding: doc count, byte total, id range, and an ORDER-SENSITIVE
    content digest (md5 of the per-doc md5s in id order) per output
    file — what a consumer verifies a delivered training shard
    against, and what a resumed export proves byte-identity with.
    Same single window shuffle as export_shards plus one bounded
    per-shard fold; the oracle replays the digest with an ordered
    string_agg."""
    return T.shard_manifest(
        _t(spark, sf_dir, "documents"), target_bytes=1 << 16
    )


SQL_EXPORT_MANIFEST = """
WITH t AS (
  SELECT lang AS shard_key, doc_id,
         CAST(octet_length(encode(text)) + 1 AS BIGINT) AS n_bytes,
         md5(text) AS h
  FROM documents
),
c AS (
  SELECT shard_key, doc_id, n_bytes, h,
         sum(n_bytes) OVER (PARTITION BY shard_key ORDER BY doc_id)
           AS cum
  FROM t
),
a AS (
  SELECT shard_key, doc_id, n_bytes, h,
         CAST(floor((cum - n_bytes) / 65536.0) AS BIGINT) AS shard_index
  FROM c
)
SELECT shard_key, shard_index,
       printf('%s/shard-%05d.jsonl', shard_key, shard_index)
         AS shard_path,
       count(*) AS n_docs,
       CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
       min(doc_id) AS first_id,
       max(doc_id) AS last_id,
       md5(string_agg(h, '' ORDER BY doc_id)) AS content_md5
FROM a
GROUP BY shard_key, shard_index
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY: Dict[str, Tuple[QueryFn, Optional[str]]] = {
    # §2.2 projections / filters
    "p1_confidence_filter": (q_p1_confidence_filter, SQL_P1),
    "p3_type_whitelist": (q_p3_type_whitelist, SQL_P3),
    "p4_type_dispatch": (q_p4_type_dispatch, SQL_P4),
    "p6_clamp": (q_p6_clamp, SQL_P6),
    "p7_truncate": (q_p7_truncate, SQL_P7),
    # §2.4 aggregations
    "a1_ordered_concat": (q_a1_ordered_concat, SQL_A1),
    "a2_doc_headers": (q_a2_doc_headers, SQL_A2),
    "a3_histogram": (q_a3_histogram, SQL_A3),
    "a4_counts": (q_a4_counts, SQL_A4),
    "a6_text_length": (q_a6_text_length, SQL_A6),
    # §2.5 windows, §2.6 sorts
    "w1_argmax": (q_w1_argmax, SQL_W1),
    "w2_reading_order": (q_w2_reading_order, SQL_W2),
    "o1_topk_sort": (q_o1_topk_sort, SQL_O1),
    # §2.3 joins
    "j1_broadcast_join": (q_j1_broadcast_join, SQL_J1),
    "j3_anti_join": (q_j3_anti_join, SQL_J3),
    "tpch_q1": (q_tpch_q1, SQL_TPCH_Q1),
    "tpch_q3ish": (q_tpch_q3ish, SQL_TPCH_Q3ISH),
    "events_hourly": (q_events_hourly, SQL_EVENTS_HOURLY),
    "events_session_windows": (q_events_session_windows, SQL_EVENTS_SESSIONS),
    "tpch_q6ish": (q_tpch_q6ish, SQL_TPCH_Q6ISH),
    "tpch_rollup": (q_tpch_rollup, SQL_TPCH_ROLLUP),
    "events_cube": (q_events_cube, SQL_EVENTS_CUBE),
    "tpch_q2ish": (q_tpch_q2ish, SQL_TPCH_Q2ISH),
    "tpch_q16ish": (q_tpch_q16ish, SQL_TPCH_Q16ISH),
    "events_running_share": (q_events_running_share, SQL_EVENTS_RUNNING_SHARE),
    "tpch_q4ish": (q_tpch_q4ish, SQL_TPCH_Q4ISH),
    "tpch_q18ish": (q_tpch_q18ish, SQL_TPCH_Q18ISH),
    # streaming (same operator runs under Structured Streaming, see
    # pdf_ocr_spark/streaming/ and tests/test_streaming.py)
    "stream_windowed_counts": (q_stream_windowed_counts, SQL_STREAM_WINDOWED),
    "stream_hot_hosts": (q_stream_hot_hosts, SQL_STREAM_HOT_HOSTS),
    # §2 second wave
    "p5_bbox_validity": (q_p5_bbox_validity, SQL_P5),
    "p9_content_sniff": (q_p9_content_sniff, SQL_P9),
    "a5_span_fold": (q_a5_span_fold, SQL_A5),
    "f5_json_fence": (q_f5_json_fence, SQL_F5),
    "f6_layout_to_text": (q_f6_layout_to_text, SQL_F6),
    "w3_color_roundrobin": (q_w3_color_roundrobin, SQL_W3),
    "a7_token_usage": (q_a7_token_usage, SQL_A7),
    "f11_font_size_fit": (q_f11_font_size_fit, SQL_F11),
    "f13_exif_map": (q_f13_exif_map, SQL_F13),
    # §2.8 string/regex functions
    "f1_tag_strip": (q_f1_tag_strip, SQL_F1),
    "f2_grounding_parse": (q_f2_grounding_parse, SQL_F2),
    "f9_base64": (q_f9_base64, SQL_F9),
    "f10_coordinate_transform": (q_f10_coordinate_transform, SQL_F10),
    "f14_lang_prompt_map": (q_f14_lang_prompt_map, SQL_F14),
    # dedup
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "snapshot_delta": (q_snapshot_delta, SQL_SNAPSHOT_DELTA),
    "dedup_bloom_prefilter": (q_dedup_bloom_prefilter, SQL_DEDUP_BLOOM_PREFILTER),
    "dedup_minhash_sigs": (q_dedup_minhash_sigs, SQL_DEDUP_MINHASH_SIGS),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH_LSH),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_apply": (q_dedup_apply, SQL_DEDUP_APPLY),
    "dedup_apply_longest": (q_dedup_apply_longest, SQL_DEDUP_APPLY_LONGEST),
    "dedup_salted_count": (q_dedup_salted_count, SQL_DEDUP_SALTED_COUNT),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_embedding_cos": (q_dedup_embedding_cos, SQL_DEDUP_EMBEDDING_COS),
    "dedup_verified_lsh": (q_dedup_verified_lsh, SQL_DEDUP_VERIFIED_LSH),
    "dedup_dup_spans": (q_dedup_dup_spans, SQL_DEDUP_DUP_SPANS),
    "dedup_span_remove": (q_dedup_span_remove, SQL_DEDUP_SPAN_REMOVE),
    "dedup_paragraphs": (q_dedup_paragraphs, SQL_DEDUP_PARAGRAPHS),
    "strip_boilerplate": (q_strip_boilerplate, SQL_STRIP_BOILERPLATE),
    "dedup_embedding_bucketed": (
        q_dedup_embedding_bucketed,
        SQL_DEDUP_EMBEDDING_BUCKETED,
    ),
    "dedup_lsh_overflow": (q_dedup_lsh_overflow, SQL_DEDUP_LSH_OVERFLOW),
    "dedup_recall": (q_dedup_recall, SQL_DEDUP_RECALL),
    "dedup_containment": (q_dedup_containment, SQL_DEDUP_CONTAINMENT),
    "dedup_lsh_scurve": (q_dedup_lsh_scurve, SQL_DEDUP_LSH_SCURVE),
    "dedup_embedding_overflow": (
        q_dedup_embedding_overflow,
        SQL_DEDUP_EMBEDDING_OVERFLOW,
    ),
    "dedup_simhash_pairs": (q_dedup_simhash_pairs, SQL_DEDUP_SIMHASH_PAIRS),
    "dedup_semantic": (q_dedup_semantic, SQL_DEDUP_SEMANTIC),
    "bitext_mining": (q_bitext_mining, SQL_BITEXT_MINING),
    "bitext_mining_lsh": (q_bitext_mining_lsh, SQL_BITEXT_MINING_LSH),
    # similarity search
    "sim_topk_bruteforce": (q_sim_topk_bruteforce, SQL_SIM_TOPK),
    "sim_lsh_buckets": (q_sim_lsh_buckets, SQL_SIM_LSH_BUCKETS),
    "sim_topk_lsh": (q_sim_topk_lsh, SQL_SIM_TOPK_LSH),
    "sim_topk_ivf": (q_sim_topk_ivf, SQL_SIM_TOPK_IVF),
    "sim_kmeans_centroids": (q_sim_kmeans_centroids, SQL_SIM_KMEANS_CENTROIDS),
    "sim_topk_ivf_kmeans": (q_sim_topk_ivf_kmeans, SQL_SIM_TOPK_IVF_KMEANS),
    "sim_pq_codebooks": (q_sim_pq_codebooks, SQL_SIM_PQ_CODEBOOKS),
    "sim_pq_codes": (q_sim_pq_codes, SQL_SIM_PQ_CODES),
    "sim_pq_topk": (q_sim_pq_topk, SQL_SIM_PQ_TOPK),
    "sim_pq_recall": (q_sim_pq_recall, SQL_SIM_PQ_RECALL),
    "sim_topk_ivf_probe2": (q_sim_topk_ivf_probe2, SQL_SIM_TOPK_IVF_PROBE2),
    "sim_recall": (q_sim_recall, SQL_SIM_RECALL),
    # text analysis
    "text_lang_id": (q_text_lang_id, SQL_TEXT_LANG_ID),
    "lang_id_confusion": (q_lang_id_confusion, SQL_LANG_ID_CONFUSION),
    "text_lang_id2": (q_text_lang_id2, SQL_TEXT_LANG_ID2),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "text_token_count": (q_text_token_count, SQL_TEXT_TOKEN_COUNT),
    "text_fingerprint": (q_text_fingerprint, SQL_TEXT_FINGERPRINT),
    "text_gopher": (q_text_gopher, SQL_TEXT_GOPHER),
    "text_ngram_repetition": (q_ngram_repetition, SQL_NGRAM_REPETITION),
    "corpus_datacard": (q_corpus_datacard, SQL_CORPUS_DATACARD),
    "domain_reputation": (q_domain_reputation, SQL_DOMAIN_REPUTATION),
    "crawl_budget": (q_crawl_budget, SQL_CRAWL_BUDGET),
    "crawl_change_rate": (q_crawl_change_rate, SQL_CRAWL_CHANGE_RATE),
    "recrawl_schedule": (q_recrawl_schedule, SQL_RECRAWL_SCHEDULE),
    "blocklist_filter": (q_blocklist_filter, SQL_BLOCKLIST_FILTER),
    "text_c4": (q_text_c4, SQL_TEXT_C4),
    "text_c4_line_apply": (q_text_c4_line_apply, SQL_TEXT_C4_LINE_APPLY),
    "text_repetition": (q_text_repetition, SQL_TEXT_REPETITION),
    "text_mojibake": (q_text_mojibake, SQL_TEXT_MOJIBAKE),
    "text_nfc": (q_text_nfc, SQL_TEXT_NFC),
    "text_decontaminate": (q_text_decontaminate, SQL_TEXT_DECONTAMINATE),
    "text_decontaminate_fuzzy": (
        q_text_decontaminate_fuzzy,
        SQL_TEXT_DECONTAMINATE_FUZZY,
    ),
    "text_lm_score": (q_text_lm_score, SQL_TEXT_LM_SCORE),
    "text_lm_buckets": (q_text_lm_buckets, SQL_TEXT_LM_BUCKETS),
    "text_lm_buckets_approx": (
        q_text_lm_buckets_approx,
        SQL_TEXT_LM_BUCKETS_APPROX,
    ),
    "text_lm_bigram": (q_text_lm_bigram, SQL_TEXT_LM_BIGRAM),
    "corpus_zipf": (q_corpus_zipf, SQL_CORPUS_ZIPF),
    "corpus_heaps": (q_corpus_heaps, SQL_CORPUS_HEAPS),
    "dsir_logweights": (q_dsir_logweights, SQL_DSIR_LOGWEIGHTS),
    "dsir_resample": (q_dsir_resample, SQL_DSIR_RESAMPLE),
    "search_bm25": (q_search_bm25, SQL_SEARCH_BM25),
    "search_postings": (q_search_postings, SQL_SEARCH_POSTINGS),
    "search_phrase": (q_search_phrase, SQL_SEARCH_PHRASE),
    "search_proximity": (q_search_proximity, SQL_SEARCH_PROXIMITY),
    "tfidf_keywords": (q_tfidf_keywords, SQL_TFIDF_KEYWORDS),
    "source_lang_entropy": (q_source_lang_entropy, SQL_SOURCE_LANG_ENTROPY),
    "domain_kl_drift": (q_domain_kl_drift, SQL_DOMAIN_KL_DRIFT),
    "quality_nb_weights": (q_quality_nb_weights, SQL_QUALITY_NB_WEIGHTS),
    "quality_nb_score": (q_quality_nb_score, SQL_QUALITY_NB_SCORE),
    "bpe_merges": (q_bpe_merges, SQL_BPE_MERGES),
    "bpe_encode": (q_bpe_encode, SQL_BPE_ENCODE),
    "bpe_encode_arrow": (q_bpe_encode_arrow, SQL_BPE_ENCODE_ARROW),
    "tokenizer_fertility": (q_tokenizer_fertility, SQL_TOKENIZER_FERTILITY),
    "bpe_pair_counts": (q_bpe_pair_counts, SQL_BPE_PAIR_COUNTS),
    "unigram_vocab": (q_unigram_vocab, SQL_UNIGRAM_VOCAB),
    "unigram_encode": (q_unigram_encode, SQL_UNIGRAM_ENCODE),
    "unigram_seed_counts": (q_unigram_seed_counts, SQL_UNIGRAM_SEED_COUNTS),
    "bpe_byte_alphabet": (q_bpe_byte_alphabet, SQL_BPE_BYTE_ALPHABET),
    "bpe_byte_pretokens": (q_bpe_byte_pretokens, SQL_BPE_BYTE_PRETOKENS),
    "wordpiece_vocab": (q_wordpiece_vocab, SQL_WORDPIECE_VOCAB),
    "wordpiece_encode": (q_wordpiece_encode, SQL_WORDPIECE_ENCODE),
    "wordpiece_pair_scores": (q_wordpiece_pair_scores, SQL_WORDPIECE_PAIR_SCORES),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "export_shards": (q_export_shards, SQL_EXPORT_SHARDS),
    "chunk_passages": (q_chunk_passages, SQL_CHUNK_PASSAGES),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "pii_credit_cards": (q_pii_credit_cards, SQL_PII_CREDIT_CARDS),
    "url_normalize": (q_url_normalize, SQL_URL_NORMALIZE),
    "url_templates": (q_url_templates, SQL_URL_TEMPLATES),
    "url_spam_features": (q_url_spam_features, SQL_URL_SPAM_FEATURES),
    "ingest_validate": (q_ingest_validate, SQL_INGEST_VALIDATE),
    "sink_warc_roundtrip": (q_sink_warc_roundtrip, SQL_SINK_WARC_ROUNDTRIP),
    "sink_warc_revisit": (q_sink_warc_revisit, SQL_SINK_WARC_REVISIT),
    "warc_cdx": (q_warc_cdx, SQL_WARC_CDX),
    "warc_redirects": (q_warc_redirects, SQL_WARC_REDIRECTS),
    "wet_cdx": (q_wet_cdx, SQL_WET_CDX),
    "text_compression": (q_text_compression, SQL_TEXT_COMPRESSION),
    "redirect_resolve": (q_redirect_resolve, SQL_REDIRECT_RESOLVE),
    "sink_wet_export": (q_sink_wet_export, SQL_SINK_WET_EXPORT),
    "sink_wat_export": (q_sink_wat_export, SQL_SINK_WAT_EXPORT),
    "crawl_traps": (q_crawl_traps, SQL_CRAWL_TRAPS),
    "url_domain_counts": (q_url_domain_counts, SQL_URL_DOMAIN_COUNTS),
    # multimodal
    # non-SQL-expressible kernels: oracle = frozen kernel golden
    # (tools/freeze.py) → full value-hash gate
    "multimodal_meta": (q_multimodal_meta, SQL_MULTIMODAL_META),
    "multimodal_frames": (q_multimodal_frames, SQL_MULTIMODAL_FRAMES),
    "multimodal_resize": (q_multimodal_resize, SQL_MULTIMODAL_RESIZE),
    "multimodal_frame_sample": (
        q_multimodal_frame_sample,
        SQL_MULTIMODAL_FRAME_SAMPLE,
    ),
    "sink_overlay_svg": (q_sink_overlay_svg, SQL_SINK_OVERLAY_SVG),
    "extract_corpus": (q_extract_corpus, SQL_EXTRACT_CORPUS),
    "extract_quality": (q_extract_quality, SQL_EXTRACT_QUALITY),
    "resume_canonical": (q_resume_canonical, SQL_RESUME_CANONICAL),
    "pages_table": (q_pages_table, SQL_PAGES_TABLE),
    "training_mix": (q_training_mix, SQL_TRAINING_MIX),
    "filter_funnel": (q_filter_funnel, SQL_FILTER_FUNNEL),
    "filter_funnel_v2": (q_filter_funnel_v2, SQL_FILTER_FUNNEL_V2),
    "pipeline_end_to_end": (q_pipeline_end_to_end, SQL_PIPELINE_E2E),
    "link_edges": (q_link_edges, SQL_LINK_EDGES),
    "link_host_graph": (q_link_host_graph, SQL_LINK_HOST_GRAPH),
    "link_hits": (q_link_hits, SQL_LINK_HITS),
    "link_pagerank": (q_link_pagerank, SQL_LINK_PAGERANK),
    "link_trustrank": (q_link_trustrank, SQL_LINK_TRUSTRANK),
    "link_harmonic": (q_link_harmonic, SQL_LINK_HARMONIC),
    "link_harmonic_hyperball": (
        q_link_harmonic_hyperball,
        SQL_LINK_HARMONIC_HYPERBALL,
    ),
    "sketch_hll_distinct": (q_sketch_hll_distinct, SQL_SKETCH_HLL_DISTINCT),
    "sketch_cms_freq": (q_sketch_cms_freq, SQL_SKETCH_CMS_FREQ),
    "sketch_kmv_overlap": (q_sketch_kmv_overlap, SQL_SKETCH_KMV_OVERLAP),
    "anchor_text_profile": (q_anchor_text_profile, SQL_ANCHOR_TEXT_PROFILE),
    "sample_stratified": (q_sample_stratified, SQL_SAMPLE_STRATIFIED),
    "lang_mix_rates": (q_lang_mix_rates, SQL_LANG_MIX_RATES),
    "lang_mix_sample": (q_lang_mix_sample, SQL_LANG_MIX_SAMPLE),
    "robots_rules": (q_robots_rules, SQL_ROBOTS_RULES),
    "robots_frontier": (q_robots_frontier, SQL_ROBOTS_FRONTIER),
    "robots_delays": (q_robots_delays, SQL_ROBOTS_DELAYS),
    "robots_sitemaps": (q_robots_sitemaps, SQL_ROBOTS_SITEMAPS),
    "sitemap_urls": (q_sitemap_urls, SQL_SITEMAP_URLS),
    "feed_items": (q_feed_items, SQL_FEED_ITEMS),
    "frontier_discover": (q_frontier_discover, SQL_FRONTIER_DISCOVER),
    "fetch_schedule": (q_fetch_schedule, SQL_FETCH_SCHEDULE),
    "crawl_cycle": (q_crawl_cycle, SQL_CRAWL_CYCLE),
    # lineage per-part rows use the deterministic url-md5 bucket key, so
    # they value-hash against a frozen in-process golden like the totals
    "extract_lineage": (q_extract_lineage, SQL_EXTRACT_LINEAGE),
    "extract_lineage_totals": (
        q_extract_lineage_totals,
        SQL_EXTRACT_LINEAGE_TOTALS,
    ),
    # blocks level: pipeline-computed vs frozen kernel golden (full hash)
    "blocks_table": (q_blocks_table, SQL_BLOCKS_TABLE),
    "blocks_histogram": (q_blocks_histogram, SQL_BLOCKS_HISTOGRAM),
    "blocks_composite": (q_blocks_composite, SQL_BLOCKS_COMPOSITE),
    "html_tables": (q_html_tables, SQL_HTML_TABLES),
    "html_meta": (q_html_meta, SQL_HTML_META),
    "html_jsonld": (q_html_jsonld, SQL_HTML_JSONLD),
    "html_microdata": (q_html_microdata, SQL_HTML_MICRODATA),
    "noindex_gate": (q_noindex_gate, SQL_NOINDEX_GATE),
    "page_freshness": (q_page_freshness, SQL_PAGE_FRESHNESS),
    "pdf_forms": (q_pdf_forms, SQL_PDF_FORMS),
    "pdf_doc_info": (q_pdf_doc_info, SQL_PDF_DOC_INFO),
    "pdf_outline": (q_pdf_outline, SQL_PDF_OUTLINE),
    "outline_sections": (q_outline_sections, SQL_OUTLINE_SECTIONS),
    "pdf_annotations": (q_pdf_annotations, SQL_PDF_ANNOTATIONS),
    "canonical_collapse": (q_canonical_collapse, SQL_CANONICAL_COLLAPSE),
    "raster_pages": (q_raster_pages, SQL_RASTER_PAGES),
    "page_orientation": (q_page_orientation, SQL_PAGE_ORIENTATION),
    "jpeg_scan_ocr": (q_jpeg_scan_ocr, SQL_JPEG_SCAN_OCR),
    "jpeg_scan_raster": (q_jpeg_scan_raster, SQL_JPEG_SCAN_RASTER),
    "ccitt_scan_ocr": (q_ccitt_scan_ocr, SQL_CCITT_SCAN_OCR),
    "ccitt_scan_raster": (q_ccitt_scan_raster, SQL_CCITT_SCAN_RASTER),
    "jpx_scan_ocr": (q_jpx_scan_ocr, SQL_JPX_SCAN_OCR),
    "jpx_scan_raster": (q_jpx_scan_raster, SQL_JPX_SCAN_RASTER),
    "jbig2_scan_ocr": (q_jbig2_scan_ocr, SQL_JBIG2_SCAN_OCR),
    "jbig2_scan_raster": (q_jbig2_scan_raster, SQL_JBIG2_SCAN_RASTER),
    # round 5: weighted sampling, quantile sketch, communities, hreflang
    "sample_weighted": (q_sample_weighted, SQL_SAMPLE_WEIGHTED),
    "sketch_quantile_hist": (q_sketch_quantile_hist,
                             SQL_SKETCH_QUANTILE_HIST),
    "link_communities": (q_link_communities, SQL_LINK_COMMUNITIES),
    "hreflang_alternates": (q_hreflang_alternates,
                            SQL_HREFLANG_ALTERNATES),
    "hreflang_clusters": (q_hreflang_clusters, SQL_HREFLANG_CLUSTERS),
    "link_degree_dist": (q_link_degree_dist, SQL_LINK_DEGREE_DIST),
    "link_reciprocity": (q_link_reciprocity, SQL_LINK_RECIPROCITY),
    "dedup_source_rates": (q_dedup_source_rates, SQL_DEDUP_SOURCE_RATES),
    "link_pagerank_incremental": (q_link_pagerank_incremental,
                                  SQL_LINK_PAGERANK_INCREMENTAL),
    "warc_header_gate": (q_warc_header_gate, SQL_WARC_HEADER_GATE),
    "sim_matryoshka_recall": (q_sim_matryoshka_recall,
                              SQL_SIM_MATRYOSHKA_RECALL),
    "tpch_q5ish": (q_tpch_q5ish, SQL_TPCH_Q5ISH),
    "tpch_q14ish": (q_tpch_q14ish, SQL_TPCH_Q14ISH),
    "robots_policy_drift": (q_robots_policy_drift,
                            SQL_ROBOTS_POLICY_DRIFT),
    "events_retention": (q_events_retention, SQL_EVENTS_RETENTION),
    "export_manifest": (q_export_manifest, SQL_EXPORT_MANIFEST),
}


# Newest-wave operators (rounds 4-5: sketches, trained quality, PQ,
# TrustRank/HyperBall, phrase search, tokenizer trainers, codec scans,
# funnel v2, …) — interleaved ahead of the append-ordered REGISTRY so a
# bounded-sample consumer that takes the first K exported keys sees ~K/2
# of these alongside ~K/2 §2 basics, instead of only the basics.
_SAMPLE_PRIORITY = [
    "sample_weighted", "sketch_quantile_hist", "link_communities",
    "hreflang_alternates", "hreflang_clusters", "link_degree_dist",
    "link_reciprocity", "dedup_source_rates", "link_pagerank_incremental",
    "warc_header_gate", "sim_matryoshka_recall", "robots_policy_drift",
    "tpch_q5ish", "tpch_q14ish", "events_retention", "export_manifest",
    "text_lm_bigram", "pii_credit_cards", "corpus_zipf", "corpus_heaps",
    "jbig2_scan_ocr", "sketch_hll_distinct", "quality_nb_score",
    "link_trustrank", "search_phrase", "sim_pq_topk", "filter_funnel_v2",
    "link_harmonic_hyperball", "sketch_cms_freq", "dedup_containment",
    "sink_warc_revisit", "stream_hot_hosts", "html_microdata",
    "search_proximity", "quality_nb_weights", "sketch_kmv_overlap",
    "sim_pq_recall", "bpe_pair_counts", "unigram_seed_counts",
    "wordpiece_pair_scores", "text_lang_id2", "bitext_mining_lsh",
    "dedup_semantic", "text_decontaminate_fuzzy", "dsir_resample",
    "link_pagerank", "dedup_verified_lsh", "extract_quality",
    "crawl_budget", "lang_id_confusion", "jpx_scan_ocr",
    "extract_lineage", "extract_lineage_totals",
]


def _export_order() -> list:
    """Deterministic export order: _SAMPLE_PRIORITY names interleaved
    1:1 with the remaining REGISTRY keys in append order, then the
    remainder.  Every REGISTRY key appears exactly once."""
    pri = [n for n in _SAMPLE_PRIORITY if n in REGISTRY]
    pri_set = set(pri)
    rest = [n for n in REGISTRY if n not in pri_set]
    out = []
    for i, p in enumerate(pri):
        out.append(p)
        if i < len(rest):
            out.append(rest[i])
    out.extend(rest[len(pri):])
    return out


def queries() -> Dict[str, QueryFn]:
    return {name: REGISTRY[name][0] for name in _export_order()}


def oracle_sql() -> Dict[str, str]:
    return {
        name: REGISTRY[name][1]
        for name in _export_order()
        if REGISTRY[name][1] is not None
    }
