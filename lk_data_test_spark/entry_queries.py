"""Registry backing ``__spark_entry__``: one entry per operator of SURVEY.md §2
plus the training-data-pipeline operators, each with a DuckDB oracle.

Cross-engine determinism rules used throughout (verified by probe):
- money sums go through DECIMAL(18,4) (exact, associative) then one cast to
  DOUBLE — identical bits in Spark and DuckDB;
- similarity scores are double divisions of exact integer dot products
  (embeddings quantized to round(x*1000) longs);
- portable hashing is md5-hex -> first 15 hex digits -> BIGINT mod 2^31-1;
- outputs avoid raw timestamps/arrays (formatted to strings / exploded).

Every aggregate/computed column is aliased identically in the Spark plan and
the SQL so the driver's sorted-column value-hash lines up.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import dedup, similarity, textstats
from .operators.dedup import MERSENNE31, MINHASH_A, MINHASH_B
from .sources.catalog import read_parquet

Q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, sql: str | None):
    def deco(fn):
        Q[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The testdata table ``name`` under ``sf_dir`` (``<name>.parquet``)."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _dec(c, scale: int = 4):
    return F.col(c).cast(f"decimal(18,{scale})")


# ===========================================================================
# §2.4 aggregations / §2.6 sorts — TPC-H-Q1-shaped pricing summary (A1,A6)
# ===========================================================================

@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
           count(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ===========================================================================
# §2.3 J1 — broadcast dimension joins (dict-lookup analog, make_texts.py:156-176)
# ===========================================================================

@query(
    "revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
)
def revenue_by_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), "nation")
    )


@query(
    "brand_part_agg",
    """
    SELECT p.p_brand AS brand, count(*) AS n_lines,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           max(p.p_retailprice) AS max_price
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand ORDER BY brand
    """,
)
def brand_part_agg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.max("p_retailprice").alias("max_price"),
        )
        .orderBy("brand")
    )


# ===========================================================================
# §2.3 J2/J3 — anti/semi joins (referential integrity, check_authors.py:7-17)
# ===========================================================================

@query(
    "customers_without_orders",
    """
    SELECT c_mktsegment AS segment, count(*) AS n_customers,
           min(c_custkey) AS min_custkey
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment ORDER BY segment
    """,
)
def customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_custkey").alias("min_custkey"),
        )
        .orderBy("segment")
    )


@query(
    "customers_with_orders",
    """
    SELECT c_mktsegment AS segment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment ORDER BY segment
    """,
)
def customers_with_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("segment")
    )


# ===========================================================================
# §2.3 J4/§2.5 W1 — tie-broken pick-first (enrich_fackel_bibls.py:67-116)
# ===========================================================================

@query(
    "top_line_per_order",
    """
    SELECT l_orderkey, l_partkey, l_extendedprice
    FROM (SELECT l_orderkey, l_partkey, l_extendedprice,
                 row_number() OVER (PARTITION BY l_orderkey
                     ORDER BY l_extendedprice DESC, l_linenumber) AS rn
          FROM lineitem)
    WHERE rn = 1 ORDER BY l_orderkey
    """,
)
def top_line_per_order(spark, sf_dir):
    # r6 note: a max(struct(price, -linenumber, partkey)) aggregate form was
    # measured at 1.30s vs 0.73s for this window form — Spark 4's
    # WindowGroupLimit already performs a codegen'd map-side top-1 before the
    # exchange, while struct-max aggregation is interpreted ordering. The
    # window IS the aggregate-before-shuffle plan here.
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_extendedprice"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_partkey", "l_extendedprice")
        .orderBy("l_orderkey")
    )


# §2.5 W2 — surrogate keys over group order (add_keys_to_listbibl.py:22-29)
@query(
    "priority_surrogate_keys",
    """
    SELECT DISTINCT o_orderpriority AS priority,
           printf('sk_lk%05d', CAST(dense_rank() OVER (ORDER BY o_orderpriority) AS INT)) AS sk
    FROM orders ORDER BY priority
    """,
)
def priority_surrogate_keys(spark, sf_dir):
    # Aggregate to the (5-value) priority domain FIRST, then rank: the global
    # window only ever sees the distinct dimension values, never fact rows, so
    # the single-task sort is bounded by the enum's cardinality at any scale.
    o = _t(spark, sf_dir, "orders")
    pri = o.select(F.col("o_orderpriority").alias("priority")).distinct()
    w = Window.orderBy("priority")
    return pri.select(
        "priority",
        F.format_string("sk_lk%05d", F.dense_rank().over(w)).alias("sk"),
    ).orderBy("priority")


# §2.5 W3 — sort-by-count ranking (check_fackel_references.py:33-35)
@query(
    "event_type_counts",
    """
    SELECT event_type, count(*) AS n
    FROM events GROUP BY event_type ORDER BY n DESC, event_type
    """,
)
def event_type_counts(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "event_type")
    )


# §2.5 W4 — last-preceding lookup (make_texts.py:62-66: last pb before mention)
@query(
    "last_purchase_before",
    """
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
    FROM events WHERE user_id < 20
    ORDER BY user_id, event_id
    """,
)
def last_purchase_before(spark, sf_dir):
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn(
            "last_purchase",
            F.last(
                F.when(F.col("event_type") == "purchase", F.col("value")),
                ignorenulls=True,
            ).over(w),
        )
        .select("event_id", "user_id", "last_purchase")
        .orderBy("user_id", "event_id")
    )


# ===========================================================================
# §2.8 date / json / string scalar families
# ===========================================================================

@query(
    "orders_by_month",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders GROUP BY 1 ORDER BY month
    """,
)
def orders_by_month(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
        .orderBy("month")
    )


# Time-series resample with gap fill: a calendar spine generated from the
# observed [min, max] month range (sequence + explode over a 1-row
# aggregate — no driver round-trip) left-joined to the sparse counts, so
# silent gaps become explicit zeros. The URGENT filter induces real gaps.
@query(
    "urgent_orders_gapfilled",
    """
    WITH m AS (SELECT date_trunc('month', o_orderdate) AS mo, count(*) AS n
               FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1),
    cal AS (SELECT unnest(generate_series((SELECT min(mo) FROM m),
                                          (SELECT max(mo) FROM m),
                                          INTERVAL 1 MONTH)) AS mo)
    SELECT strftime(cal.mo, '%Y-%m') AS month,
           CAST(coalesce(n, 0) AS BIGINT) AS n_orders
    FROM cal LEFT JOIN m USING (mo) ORDER BY month
    """,
)
def urgent_orders_gapfilled(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    m = o.groupBy(
        F.trunc("o_orderdate", "month").alias("mo")
    ).agg(F.count(F.lit(1)).alias("n"))
    cal = (
        m.agg(F.min("mo").alias("lo"), F.max("mo").alias("hi"))
        .select(F.explode(F.expr("sequence(lo, hi, interval 1 month)")).alias("mo"))
    )
    return (
        cal.join(m, "mo", "left")
        .select(
            F.date_format("mo", "yyyy-MM").alias("month"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
        )
        .orderBy("month")
    )


# §2.8 date — ISO range extraction with fallback (extract_begin_end,
# make_listwork.py:833-841): range strings synthesized from event timestamps,
# parsed back to (begin, end) date pairs; single dates fall back to begin=end
@query(
    "date_range_extract",
    """
    WITH r AS (
      SELECT event_id,
             CASE WHEN event_id % 3 = 0
                  THEN strftime(ts, '%Y-%m-%d') || ' – ' ||
                       strftime(ts + INTERVAL 7 DAY, '%Y-%m-%d')
                  ELSE strftime(ts, '%Y-%m-%d') END AS span
      FROM events WHERE event_id < 500)
    SELECT event_id, span,
           strftime(strptime(string_split(span, ' – ')[1], '%Y-%m-%d'),
                    '%Y-%m-%d') AS begin_d,
           strftime(strptime(string_split(span, ' – ')[-1], '%Y-%m-%d'),
                    '%Y-%m-%d') AS end_d
    FROM r ORDER BY event_id
    """,
)
def date_range_extract(spark, sf_dir):
    from .functions.strings import extract_begin_end

    e = _t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    span = F.when(
        F.col("event_id") % 3 == 0,
        F.concat_ws(
            " – ",
            F.date_format("ts", "yyyy-MM-dd"),
            F.date_format(F.date_add(F.col("ts"), 7), "yyyy-MM-dd"),
        ),
    ).otherwise(F.date_format("ts", "yyyy-MM-dd"))
    r = e.select("event_id", span.alias("span"))
    begin, end = extract_begin_end(F.col("span"))
    return r.select(
        "event_id",
        "span",
        F.date_format(begin, "yyyy-MM-dd").alias("begin_d"),
        F.date_format(end, "yyyy-MM-dd").alias("end_d"),
    ).orderBy("event_id")


@query(
    "props_json_buckets",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
           count(*) AS n, min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY 1 ORDER BY k_bucket
    """,
)
def props_json_buckets(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            (F.get_json_object("props", "$.k").cast("int") % 10).alias("k_bucket"),
            F.col("value").alias("v"),
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("min_value"),
            F.max("v").alias("max_value"),
        )
        .orderBy("k_bucket")
    )


@query(
    "part_string_projection",
    """
    SELECT p_partkey,
           lower(p_name) AS name_lc,
           regexp_replace(p_type, '^[a-z]+ ', '') AS type_tail,
           string_split(p_type, ' ')[-1] AS type_last,
           lpad(CAST(p_size AS VARCHAR), 3, '0') AS size_padded,
           concat(p_brand, '#', CAST(p_partkey AS VARCHAR)) AS brand_key
    FROM part ORDER BY p_partkey
    """,
)
def part_string_projection(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lc"),
        F.regexp_replace("p_type", r"^[a-z]+ ", "").alias("type_tail"),
        F.element_at(F.split("p_type", " "), -1).alias("type_last"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
        F.concat_ws("#", "p_brand", F.col("p_partkey").cast("string")).alias(
            "brand_key"
        ),
    ).orderBy("p_partkey")


# §2.8 conditional — declarative CASE-rule classification (work_type_mapping.py)
@query(
    "classify_parts",
    """
    SELECT CASE WHEN p_type LIKE '%anodized%' THEN 'anodized'
                WHEN p_type LIKE '%brushed%'  THEN 'brushed'
                WHEN p_type LIKE '%polished%' THEN 'polished'
                WHEN p_size >= 30 THEN 'oversize'
                ELSE 'other' END AS part_class,
           count(*) AS n, min(p_retailprice) AS min_price
    FROM part GROUP BY 1 ORDER BY part_class
    """,
)
def classify_parts(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    cls = (
        F.when(F.col("p_type").contains("anodized"), "anodized")
        .when(F.col("p_type").contains("brushed"), "brushed")
        .when(F.col("p_type").contains("polished"), "polished")
        .when(F.col("p_size") >= 30, "oversize")
        .otherwise("other")
    )
    return (
        p.groupBy(cls.alias("part_class"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("p_retailprice").alias("min_price"))
        .orderBy("part_class")
    )


# §2.3 J9 — FK-miss logging via outer-join null branch (make_texts.py:418-421)
@query(
    "orders_rich_customer_misses",
    """
    SELECT o.o_orderpriority AS priority, count(*) AS n_missing,
           min(o.o_orderkey) AS min_orderkey
    FROM orders o LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
      ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    GROUP BY 1 ORDER BY priority
    """,
)
def orders_rich_customer_misses(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .filter(F.col("c_custkey").isNull())
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_missing"),
            F.min("o_orderkey").alias("min_orderkey"),
        )
        .orderBy("priority")
    )


# ===========================================================================
# §2.3 J5/J6 — explode-then-join via multimap (make_texts.py:246-271 build,
# 468-499 probe: page-id -> [text-ids] multimap; here word -> [partkeys])
# ===========================================================================

@query(
    "word_partkey_multimap",
    """
    SELECT w.word AS word, count(*) AS n_lines,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem l
    JOIN (SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word FROM part) w
      ON l.l_partkey = w.p_partkey
    GROUP BY word ORDER BY word
    """,
)
def word_partkey_multimap(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    multimap = p.select(
        "p_partkey", F.explode(F.split("p_name", " ")).alias("word")
    )
    return (
        li.join(F.broadcast(multimap), li.l_partkey == multimap.p_partkey)
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .orderBy("word")
    )


# §2.4 A4 — group -> collect list multimap (check_fackel_references.py:40-52)
@query(
    "source_doc_multimap",
    """
    SELECT source,
           array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ',') AS doc_ids,
           count(*) AS n
    FROM documents WHERE doc_id < 100 GROUP BY source ORDER BY source
    """,
)
def source_doc_multimap(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return (
        d.groupBy("source")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list(F.col("doc_id").cast("string"))), ","
            ).alias("doc_ids"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("source")
    )


# §2.4 A9 — distinct set per group (utils/utilities.py:103-110 event types)
@query(
    "user_event_type_sets",
    """
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types,
           count(*) AS n_events
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def user_event_type_sets(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
                "types"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


# §2.4 A3 — exact count-distinct (set(sources), check_fackel_references.py:63,72)
@query(
    "distinct_users_per_type",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def distinct_users_per_type(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


# A3 at-scale variant: HLL sketch (approx_count_distinct). The estimate is
# DETERMINISTIC — HLL registers merge by max, so the value is a pure
# function of the distinct user_id set, independent of partitioning, task
# order, and merge order — but it is not SQL-derivable, so the oracle pins
# the recorded estimates as VALUES keyed by corpus row count (the same SQL
# string value-checks whichever shipped SF the harness runs). Derivation:
# exact per-type counts are 15 / 150 / 1500 at sf0.001/0.01/0.1 (all five
# event types share the same user population by construction); the rsd=1%
# HLL reports 15 / 151 / 1507 — within 1% of exact, as the pytest bound in
# tests/test_ops_misc.py asserts for the same sketch.
@query(
    "approx_distinct_users_per_type",
    """
    WITH n AS (SELECT count(*) AS c FROM events),
    v(event_type, n_users_approx, c) AS (VALUES
      ('click', 15, 1000), ('error', 15, 1000), ('purchase', 15, 1000),
      ('signup', 15, 1000), ('view', 15, 1000),
      ('click', 151, 10000), ('error', 151, 10000),
      ('purchase', 151, 10000), ('signup', 151, 10000),
      ('view', 151, 10000),
      ('click', 1507, 100000), ('error', 1507, 100000),
      ('purchase', 1507, 100000), ('signup', 1507, 100000),
      ('view', 1507, 100000))
    SELECT event_type, CAST(n_users_approx AS BIGINT) AS n_users_approx
    FROM v JOIN n ON v.c = n.c
    ORDER BY event_type
    """,
)
def approx_distinct_users_per_type(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("n_users_approx"))
        .orderBy("event_type")
    )


# §2.4 A8 — pick-first-match per group (enrich_fackel_bibls.py:107 matches[0])
@query(
    "cheapest_part_per_brand",
    """
    SELECT brand, cheapest_partkey, min_price FROM (
      SELECT p_brand AS brand, p_partkey AS cheapest_partkey,
             min(p_retailprice) OVER (PARTITION BY p_brand) AS min_price,
             row_number() OVER (PARTITION BY p_brand
                 ORDER BY p_retailprice, p_partkey) AS rn
      FROM part) WHERE rn = 1 ORDER BY brand
    """,
)
def cheapest_part_per_brand(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (
        p.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.min_by("p_partkey", F.struct("p_retailprice", "p_partkey")).alias(
                "cheapest_partkey"
            ),
            F.min("p_retailprice").alias("min_price"),
        )
        .orderBy("brand")
    )


# §2.3 J8 — self-referential update join: key_map applied to all rows, keep
# original where unmapped (fix_journal_keys.py:17-22, fix_key_in_date.py:19-25)
@query(
    "event_type_key_rewrite",
    """
    SELECT coalesce(m.new_type, e.event_type) AS event_type_resolved,
           count(*) AS n
    FROM events e
    LEFT JOIN (VALUES ('error', 'failure'), ('signup', 'registration'))
         AS m(old_type, new_type)
      ON e.event_type = m.old_type
    GROUP BY 1 ORDER BY event_type_resolved
    """,
)
def event_type_key_rewrite(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    key_map = spark.createDataFrame(
        [("error", "failure"), ("signup", "registration")],
        "old_type string, new_type string",
    )
    return (
        e.join(F.broadcast(key_map), e.event_type == key_map.old_type, "left")
        .select(
            F.coalesce("new_type", "event_type").alias("event_type_resolved")
        )
        .groupBy("event_type_resolved")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type_resolved")
    )


# ===========================================================================
# §2.2 P3/P8/P9/P10 — prefix strip, skip-value, fallback chain, limit
# ===========================================================================

@query(
    "coalesce_fallback_chain",
    """
    SELECT doc_id,
           coalesce(NULLIF(lang, 'und'), 'undefined') AS lang_resolved,
           regexp_replace(source, '^src', '') AS source_no_prefix
    FROM documents WHERE source <> 'not-set' ORDER BY doc_id
    """,
)
def coalesce_fallback_chain(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.filter(F.col("source") != "not-set")
        .select(
            "doc_id",
            F.coalesce(
                F.when(F.col("lang") == "und", None).otherwise(F.col("lang")),
                F.lit("undefined"),
            ).alias("lang_resolved"),
            F.regexp_replace("source", "^src", "").alias("source_no_prefix"),
        )
        .orderBy("doc_id")
    )


@query(
    "top100_docs_sample",
    """
    SELECT doc_id, n_chars FROM documents ORDER BY doc_id LIMIT 100
    """,
)
def top100_docs_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "n_chars").orderBy("doc_id").limit(100)


# §2.8 geo — "long lat" -> WKT Point literal (utils/utilities.py:507-514)
@query(
    "supplier_geo_wkt",
    """
    SELECT s_suppkey,
           concat('Point(', CAST(s_nationkey AS VARCHAR), ' ',
                  CAST(s_suppkey % 90 AS VARCHAR), ')') AS wkt
    FROM supplier ORDER BY s_suppkey
    """,
)
def supplier_geo_wkt(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.concat(
            F.lit("Point("),
            F.col("s_nationkey").cast("string"),
            F.lit(" "),
            (F.col("s_suppkey") % 90).cast("string"),
            F.lit(")"),
        ).alias("wkt"),
    ).orderBy("s_suppkey")


# §2.5 W1 / §2.10 UDTF-shape — 1 row -> N indexed rows (make_listwork.py:169-191
# enumerate -> indexed URIs), as posexplode
@query(
    "posexplode_words",
    """
    SELECT doc_id, pos, word FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)+1),
                    i -> {'pos': i-1, 'word': ws[i]}), recursive := true)
      FROM (SELECT doc_id, string_split(trim(text), ' ') ws
            FROM documents WHERE doc_id < 20)
    ) ORDER BY doc_id, pos
    """,
)
def posexplode_words(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return d.select(
        "doc_id", F.posexplode(F.split(F.trim("text"), " ")).alias("pos", "word")
    ).orderBy("doc_id", "pos")


# §2.8 map/json — struct -> JSON export (counter dicts -> JSON,
# check_fackel_references.py:36-37)
@query(
    "event_json_export",
    """
    SELECT event_id,
           to_json({'event_type': event_type, 'user_id': user_id}) AS j
    FROM events ORDER BY event_id
    """,
)
def event_json_export(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.to_json(F.struct("event_type", "user_id")).alias("j"),
    ).orderBy("event_id")


# §2.8 array — fold/aggregate over arrays (exact int arithmetic both engines)
@query(
    "embedding_int_norms",
    """
    WITH q AS (SELECT vec_id,
                      list_transform(embedding,
                          x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) qv
               FROM embeddings)
    SELECT vec_id, len(qv) AS dim,
           CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS sq_norm_milli
    FROM q ORDER BY vec_id
    """,
)
def embedding_int_norms(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * 1000).cast("long")
    )
    return e.select(
        "vec_id",
        F.size(qv).alias("dim"),
        F.aggregate(
            qv, F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("sq_norm_milli"),
    ).orderBy("vec_id")


@query(
    "doc_word_membership",
    """
    SELECT doc_id, len(ws) AS n_words, list_contains(ws, 'the') AS has_the
    FROM (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents)
    ORDER BY doc_id
    """,
)
def doc_word_membership(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim("text"), " ")
    return d.select(
        "doc_id",
        F.size(ws).alias("n_words"),
        F.array_contains(ws, "the").alias("has_the"),
    ).orderBy("doc_id")


# ===========================================================================
# Multimodal plumbing (operators/multimodal.py) — binary payloads + Arrow
# batch UDFs; decode is stubbed (no media libs in container) so rows-only
# ===========================================================================

@query("multimodal_features", None)
def multimodal_features(spark, sf_dir):
    from .operators import multimodal

    assets = multimodal.synth_assets(spark, n=300)
    feats = multimodal.extract_features(assets)
    return (
        feats.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            F.avg(F.element_at("feature", 1)).alias("mean_f0"),
        )
        .orderBy("modality")
    )


@query("video_frame_samples", None)
def video_frame_samples(spark, sf_dir):
    from .operators import multimodal

    assets = multimodal.synth_assets(spark, n=300)
    return (
        multimodal.frame_sample_plan(assets, every_n=2)
        .groupBy("asset_id")
        .agg(F.count(F.lit(1)).alias("n_samples"), F.max("frame_no").alias("max_frame"))
        .orderBy("asset_id")
    )


# ===========================================================================
# §2.7 set operations
# ===========================================================================

@query(
    "custkeys_only_finished",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    ORDER BY o_custkey
    """,
)
def custkeys_only_finished(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.distinct().subtract(op.distinct()).orderBy("o_custkey")


@query(
    "custkeys_both_statuses",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    ORDER BY o_custkey
    """,
)
def custkeys_both_statuses(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op).orderBy("o_custkey")


@query(
    "union_lang_subsets",
    """
    SELECT lang, count(*) AS n FROM (
      SELECT doc_id, lang FROM documents WHERE lang = 'en' AND n_chars > 200
      UNION ALL
      SELECT doc_id, lang FROM documents WHERE lang <> 'en' AND source = 'src1'
    ) GROUP BY lang ORDER BY lang
    """,
)
def union_lang_subsets(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    a = d.filter((F.col("lang") == "en") & (F.col("n_chars") > 200)).select(
        "doc_id", "lang"
    )
    b = d.filter((F.col("lang") != "en") & (F.col("source") == "src1")).select(
        "doc_id", "lang"
    )
    return (
        a.unionByName(b)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang")
    )


# ===========================================================================
# Validation-rule analogs on `documents` (R1/R2/R3 — SQL-expressible)
# ===========================================================================

@query(
    "doc_column_stats",
    """
    SELECT source, count(*) AS n_docs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
           CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text
    FROM documents GROUP BY source ORDER BY source
    """,
)
def doc_column_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("null_text"),
        )
        .orderBy("source")
    )


@query(
    "doc_chars_histogram",
    """
    SELECT CAST(floor(n_chars / 100) AS INT) AS bucket, count(*) AS n
    FROM documents GROUP BY 1 ORDER BY bucket
    """,
)
def doc_chars_histogram(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(
            F.floor(F.col("n_chars") / 100).cast("int").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


# A2/A5 — duplicate detection on a composite key (HAVING count > 1)
@query(
    "dup_lang_source_pairs",
    """
    SELECT lang, source, count(*) AS n
    FROM documents GROUP BY lang, source HAVING count(*) > 1
    ORDER BY lang, source
    """,
)
def dup_lang_source_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .orderBy("lang", "source")
    )


ALLOWED_DOC_SOURCES = [f"src{i}" for i in range(16)]  # src16..19 are "unknown"


@query(
    "doc_referential_violations",
    f"""
    SELECT doc_id, source FROM documents
    WHERE source NOT IN ({', '.join(repr(s) for s in ALLOWED_DOC_SOURCES)})
    ORDER BY doc_id
    """,
)
def doc_referential_violations(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    allowed = spark.createDataFrame(
        [(s,) for s in ALLOWED_DOC_SOURCES], "source string"
    )
    return (
        d.join(F.broadcast(allowed), "source", "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@query(
    "doc_source_drift",
    """
    SELECT source,
           abs(1.0 - (CAST(sum(n_chars) AS DOUBLE) / count(*)) /
                 (SELECT CAST(sum(n_chars) AS DOUBLE) / count(*) FROM documents))
             AS deviation
    FROM documents GROUP BY source ORDER BY source
    """,
)
def doc_source_drift(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    g = d.agg(
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("gavg")
    )
    return (
        d.groupBy("source")
        .agg((F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("savg"))
        .crossJoin(F.broadcast(g))
        .select(
            "source",
            F.abs(1.0 - F.col("savg") / F.col("gavg")).alias("deviation"),
        )
        .orderBy("source")
    )


# ===========================================================================
# Text analysis (operators/textstats.py)
# ===========================================================================

@query(
    "doc_token_counts",
    """
    SELECT doc_id,
           len(string_split(trim(text), ' ')) AS n_words,
           len(list_distinct(string_split(trim(text), ' '))) AS n_distinct_words,
           length(text) AS n_chars_measured
    FROM documents ORDER BY doc_id
    """,
)
def doc_token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return textstats.token_counts(d).select(
        "doc_id", "n_words", "n_distinct_words", "n_chars_measured"
    ).orderBy("doc_id")


_STOP_SQL = ", ".join(repr(s) for s in textstats.EN_STOPWORDS)
_ES_SQL = ", ".join(repr(s) for s in textstats.ES_STOPWORDS)


@query(
    "doc_quality_scores",
    f"""
    WITH w AS (
      SELECT doc_id, source, text, string_split(trim(text), ' ') ws FROM documents
    )
    SELECT doc_id, source, len(ws) AS n_words,
           length(regexp_replace(text, '\\s+', '', 'g')) / len(ws) AS mean_word_len,
           len(list_filter(ws, x -> x IN ({_STOP_SQL}))) / len(ws) AS stopword_ratio
    FROM w ORDER BY doc_id
    """,
)
def doc_quality_scores(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return textstats.quality_scores(d).select(
        "doc_id", "source", "n_words", "mean_word_len", "stopword_ratio"
    ).orderBy("doc_id")


# Gopher-style repetition signals (duplicate-word / duplicate-bigram
# fractions) — the within-document counterpart of the corpus-level dedup
# ladder; a training pipeline drops docs above a repetition threshold.
@query(
    "doc_repetition_scores",
    """
    WITH w AS (
      SELECT doc_id, string_split(trim(text), ' ') ws FROM documents
    ),
    b AS (
      SELECT doc_id, ws,
             list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) bs
      FROM w WHERE len(ws) >= 2
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws)
             AS word_rep_ratio,
           CAST(len(bs) - len(list_distinct(bs)) AS DOUBLE) / len(bs)
             AS bigram_rep_ratio
    FROM b ORDER BY doc_id
    """,
)
def doc_repetition_scores(spark, sf_dir):
    return textstats.repetition_scores(_t(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


# Bigram-LM fluency scoring (CCNet-style perplexity bucketing, log-free so
# the score is bit-identical across engines — see operators/textstats.py::
# lm_bigram_scores for the fixed-point determinism contract and the 100 TB
# shape: map-only bigram extraction, vocabulary-bounded count tables,
# AQE-skew-handled rejoin).
@query(
    "doc_lm_scores",
    """
    WITH ws AS (SELECT doc_id, string_split(trim(text), ' ') AS w
                FROM documents),
    bg0 AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                    i -> struct_pack(w1 := w[i], w2 := w[i+1]))) AS b
      FROM ws WHERE len(w) >= 2
    ),
    bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg0),
    cb AS (SELECT w1, w2, count(*) AS c_bg FROM bg GROUP BY 1, 2),
    cc AS (SELECT w1, CAST(sum(c_bg) AS BIGINT) AS c_ctx FROM cb GROUP BY 1),
    sc AS (SELECT bg.doc_id, cb.c_bg,
                  (cb.c_bg * 1000000) // cc.c_ctx AS p_fp
           FROM bg JOIN cb USING (w1, w2) JOIN cc USING (w1))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CASE WHEN c_bg = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(sum(CASE WHEN c_bg = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS novel_rate,
           CAST(sum(p_fp) AS DOUBLE) / count(*) / 1000000.0 AS lm_score
    FROM sc GROUP BY doc_id ORDER BY doc_id
    """,
)
def doc_lm_scores(spark, sf_dir):
    return textstats.lm_bigram_scores(_t(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


@query(
    "doc_lang_id",
    f"""
    WITH w AS (SELECT doc_id, lang, string_split(trim(lower(text)), ' ') ws FROM documents),
    h AS (SELECT doc_id, lang,
                 len(list_filter(ws, x -> x IN ({_STOP_SQL}))) AS en_hits,
                 len(list_filter(ws, x -> x IN ({_ES_SQL}))) AS es_hits
          FROM w)
    SELECT doc_id, lang, en_hits, es_hits,
           CASE WHEN en_hits > es_hits AND en_hits > 0 THEN 'en'
                WHEN es_hits > en_hits AND es_hits > 0 THEN 'es'
                ELSE 'und' END AS lang_guess
    FROM h ORDER BY doc_id
    """,
)
def doc_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return textstats.lang_id(d).orderBy("doc_id")


@query(
    "doc_fingerprints",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
)
def doc_fingerprints(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return textstats.fingerprints(d).select("doc_id", "fingerprint").orderBy("doc_id")


@query(
    "word_freq_top20",
    """
    SELECT word, count(*) AS freq FROM (
      SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents
    ) GROUP BY word ORDER BY freq DESC, word LIMIT 20
    """,
)
def word_freq_top20(spark, sf_dir):
    return textstats.word_freq_topk(_t(spark, sf_dir, "documents"), 20)


# ===========================================================================
# §2.10 SPARQL inverse-property swap analog + URL canonicalization family
# ===========================================================================

# Reference: scripts/owl_inverse_props.py:68-108 — for every property with an
# owl:inverseOf, SELECT ?s ?o WHERE {?s <p> ?o}, emit the swapped triple under
# the inverse predicate, append to the graph, dedup. Here: a long-format
# (subject, predicate, object) frame; the inverse map is a tiny ontology
# dimension -> broadcast join (never a shuffle of the triple side); swapped
# rows union back and dropDuplicates removes re-derived triples that already
# exist (the customer<50 segment_of rows exercise that path).
@query(
    "inverse_property_swap",
    """
    WITH triples AS (
      SELECT 'order/' || CAST(o_orderkey AS VARCHAR) AS subject,
             'placed_by' AS predicate,
             'customer/' || CAST(o_custkey AS VARCHAR) AS object
      FROM orders WHERE o_orderkey < 2000
      UNION ALL
      SELECT 'supplier/' || CAST(s_suppkey AS VARCHAR), 'located_in',
             'nation/' || CAST(s_nationkey AS VARCHAR) FROM supplier
      UNION ALL
      SELECT 'customer/' || CAST(c_custkey AS VARCHAR), 'in_segment',
             'segment/' || c_mktsegment FROM customer
      UNION ALL
      SELECT 'segment/' || c_mktsegment, 'segment_of',
             'customer/' || CAST(c_custkey AS VARCHAR)
      FROM customer WHERE c_custkey < 50
    ),
    inv(predicate, inverse) AS (
      VALUES ('placed_by', 'placed'), ('located_in', 'location_of'),
             ('in_segment', 'segment_of'), ('segment_of', 'in_segment')
    ),
    swapped AS (
      SELECT t.object AS subject, i.inverse AS predicate, t.subject AS object
      FROM triples t JOIN inv i USING (predicate)
    )
    SELECT DISTINCT subject, predicate, object
    FROM (SELECT * FROM triples UNION ALL SELECT * FROM swapped)
    ORDER BY subject, predicate, object
    """,
)
def inverse_property_swap(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000).select(
        F.concat(F.lit("order/"), F.col("o_orderkey").cast("string")).alias("subject"),
        F.lit("placed_by").alias("predicate"),
        F.concat(F.lit("customer/"), F.col("o_custkey").cast("string")).alias("object"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.concat(F.lit("supplier/"), F.col("s_suppkey").cast("string")).alias("subject"),
        F.lit("located_in").alias("predicate"),
        F.concat(F.lit("nation/"), F.col("s_nationkey").cast("string")).alias("object"),
    )
    c = _t(spark, sf_dir, "customer")
    seg = c.select(
        F.concat(F.lit("customer/"), F.col("c_custkey").cast("string")).alias("subject"),
        F.lit("in_segment").alias("predicate"),
        F.concat(F.lit("segment/"), F.col("c_mktsegment")).alias("object"),
    )
    seg_of = c.filter(F.col("c_custkey") < 50).select(
        F.concat(F.lit("segment/"), F.col("c_mktsegment")).alias("subject"),
        F.lit("segment_of").alias("predicate"),
        F.concat(F.lit("customer/"), F.col("c_custkey").cast("string")).alias("object"),
    )
    triples = o.unionByName(s).unionByName(seg).unionByName(seg_of)
    inv = spark.createDataFrame(
        [
            ("placed_by", "placed"),
            ("located_in", "location_of"),
            ("in_segment", "segment_of"),
            ("segment_of", "in_segment"),
        ],
        "predicate string, inverse string",
    )
    swapped = triples.join(F.broadcast(inv), "predicate").select(
        F.col("object").alias("subject"),
        F.col("inverse").alias("predicate"),
        F.col("subject").alias("object"),
    )
    return (
        triples.unionByName(swapped)
        .dropDuplicates(["subject", "predicate", "object"])
        .orderBy("subject", "predicate", "object")
    )


# slugify + normalize_uri over document-derived titles/URLs: the pandas-UDF
# string family's driver-checked exercise (round-1 verdict gap). The SQL
# analog reproduces the fold-lower-dash slug and the lowercase-scheme+host
# canonicalization with portable string ops.
@query(
    "normalized_source_urls",
    """
    WITH d AS (
      SELECT doc_id,
             'Doc ' || CAST(doc_id AS VARCHAR) || ' – ' || upper(source) ||
               ' (' || lang || ')' AS title,
             'HTTPS://Example' || CAST(doc_id % 5 AS VARCHAR) || '.ORG/Docs/' ||
               source || '/' || CAST(doc_id AS VARCHAR) ||
               CASE WHEN doc_id % 3 = 0 THEN '/#sec-' || lang
                    WHEN doc_id % 3 = 1 THEN '/' ELSE '' END AS url
      FROM documents
    ),
    n AS (SELECT doc_id, title,
                 rtrim(string_split(url, '#')[1], '/') AS x FROM d)
    SELECT doc_id,
           trim(regexp_replace(lower(title), '[^a-z0-9]+', '-', 'g'), '-') AS slug,
           lower(regexp_extract(x, '^[^:]+://[^/]*')) ||
             substr(x, length(regexp_extract(x, '^[^:]+://[^/]*')) + 1) AS norm_url
    FROM n ORDER BY doc_id
    """,
)
def normalized_source_urls(spark, sf_dir):
    from .functions.strings import normalize_uri, slugify

    d = _t(spark, sf_dir, "documents")
    title = F.concat(
        F.lit("Doc "), F.col("doc_id").cast("string"), F.lit(" – "),
        F.upper("source"), F.lit(" ("), F.col("lang"), F.lit(")"),
    )
    url = F.concat(
        F.lit("HTTPS://Example"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".ORG/Docs/"), F.col("source"), F.lit("/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("/#sec-"), F.col("lang")))
        .when(F.col("doc_id") % 3 == 1, F.lit("/"))
        .otherwise(F.lit("")),
    )
    return d.select(
        "doc_id",
        slugify(title).alias("slug"),
        normalize_uri(url).alias("norm_url"),
    ).orderBy("doc_id")


# ===========================================================================
# Temporal / sampling / range-join pipeline extensions
# ===========================================================================

# Gap sessionization (operators/temporal.py): activity segmentation over the
# event stream — one shuffle by user, two window expressions over one sort.
@query(
    "event_sessions",
    """
    WITH x AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS flag
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, value,
             CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_idx
      FROM x
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx
    """,
)
def event_sessions(spark, sf_dir):
    from .operators.temporal import sessionize

    e = _t(spark, sf_dir, "events")
    return (
        sessionize(e, gap_sec=1800)
        .groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("user_id", "session_idx")
    )


# Session funnel: compose sessionization with conditional aggregation —
# per user, how many sessions, how many contained a click, and how many
# converted (click AND purchase in the same session). Same one-shuffle
# session assignment as event_sessions; the funnel flags are bool_or-style
# max(CASE) per session then summed per user.
@query(
    "session_funnel",
    """
    WITH x AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS flag
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, event_type,
             CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_idx
      FROM x
    ),
    per_session AS (
      SELECT user_id, session_idx,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_click,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_buy
      FROM s GROUP BY user_id, session_idx)
    SELECT user_id, count(*) AS n_sessions,
           CAST(sum(has_click) AS BIGINT) AS click_sessions,
           CAST(sum(has_click * has_buy) AS BIGINT) AS converted_sessions
    FROM per_session GROUP BY user_id ORDER BY user_id
    """,
)
def session_funnel(spark, sf_dir):
    from .operators.temporal import sessionize

    e = _t(spark, sf_dir, "events")
    per_session = (
        sessionize(e, gap_sec=1800)
        .groupBy("user_id", "session_idx")
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("has_click"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("has_buy"),
        )
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("has_click").alias("click_sessions"),
            F.sum(F.col("has_click") * F.col("has_buy")).alias(
                "converted_sessions"
            ),
        )
        .orderBy("user_id")
    )


# As-of join (operators/temporal.py): attach each user's most recent error
# event at-or-before every event. The oracle is DuckDB's NATIVE ASOF JOIN —
# an independent implementation of the same semantics, so agreement is a
# strong check of the union-window rewrite's tie and null behavior.
@query(
    "last_error_asof",
    """
    WITH err AS (
      SELECT user_id, ts, max(event_id) AS last_error_id,
             arg_max(value, event_id) AS last_error_value
      FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, e.event_type,
           err.last_error_id, err.last_error_value
    FROM events e ASOF LEFT JOIN err
      ON e.user_id = err.user_id AND e.ts >= err.ts
    ORDER BY e.event_id
    """,
)
def last_error_asof(spark, sf_dir):
    from .operators.temporal import asof_join

    e = _t(spark, sf_dir, "events")
    err = (
        e.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("last_error_id"),
            F.max_by("value", "event_id").alias("last_error_value"),
        )
    )
    joined = asof_join(
        e, err, on="user_id", left_ts="ts", right_ts="ts",
        right_cols=["last_error_id", "last_error_value"],
    )
    return joined.select(
        "event_id", "user_id", "event_type", "last_error_id", "last_error_value"
    ).orderBy("event_id")


# Numeric range join via the bucketed equi-join rewrite: each band explodes
# to the fixed-width buckets it covers, facts compute their bucket, the join
# is a plain equi-join + residual BETWEEN filter. With a tiny band dim a
# broadcast would do; the rewrite is the BOTH-SIDES-LARGE pattern (interval
# dims at 100 TB: time buckets, size classes) — no range join, no cartesian.
# The oracle is the semantic BETWEEN join.
@query(
    "chars_band_join",
    """
    SELECT b.label, count(*) AS n_docs,
           min(d.n_chars) AS min_chars, max(d.n_chars) AS max_chars
    FROM documents d
    JOIN (VALUES ('short', 0, 149), ('medium', 150, 299),
                 ('long', 300, 449), ('xl', 450, 1999)) b(label, lo, hi)
      ON d.n_chars BETWEEN b.lo AND b.hi
    GROUP BY b.label ORDER BY b.label
    """,
)
def chars_band_join(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    bands = spark.createDataFrame(
        [("short", 0, 149), ("medium", 150, 299), ("long", 300, 449),
         ("xl", 450, 1999)],
        "label string, lo int, hi int",
    )
    b = bands.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / 100).cast("int"),
                F.floor(F.col("hi") / 100).cast("int"),
            )
        ),
    )
    facts = d.withColumn("bucket", F.floor(F.col("n_chars") / 100).cast("int"))
    return (
        facts.join(b, "bucket")
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("label")
    )


# Deterministic stratified sampling: k docs per source ordered by a salt-free
# content hash — reproducible across engines and runs (a seeded RAND is not),
# one shuffle by source, no global sort.
@query(
    "stratified_doc_sample",
    """
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rk
      FROM documents)
    WHERE rk <= 5 ORDER BY source, rk
    """,
)
def stratified_doc_sample(spark, sf_dir):
    # Two-stage distributed top-k: a single Window.partitionBy(source) would
    # funnel the WHOLE corpus through |sources| tasks (source is a bounded
    # ~20-value domain — at 10^12 rows that is a single-task sort of
    # corpus/20). Stage 1 ranks within (input partition, source) — P x
    # |sources| well-sized groups — and keeps 5; the global window then ranks
    # <= P x |sources| x 5 rows. The (md5, doc_id) order is a total order per
    # source, so the two-stage result is identical to the single-window
    # form (the oracle) for ANY partitioning.
    d = _t(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    d2 = d.select("doc_id", "source", key.alias("k")).withColumn(
        "pid", F.spark_partition_id()
    )
    w1 = Window.partitionBy("pid", "source").orderBy("k", "doc_id")
    local = d2.withColumn("lrk", F.row_number().over(w1)).filter(
        F.col("lrk") <= 5
    )
    w2 = Window.partitionBy("source").orderBy("k", "doc_id")
    return (
        local.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "source", "rk")
        .orderBy("source", "rk")
    )


# Exact per-group quantiles, engine-portable: quantize to integer cents first
# so the linear interpolation (quarter fractions over small ints) is exact in
# double arithmetic in BOTH engines — bit-identical without rounding tricks.
@query(
    "event_value_quantiles",
    """
    WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
               FROM events)
    SELECT event_type,
           quantile_cont(cents, 0.25) AS q25_cents,
           quantile_cont(cents, 0.50) AS q50_cents,
           quantile_cont(cents, 0.75) AS q75_cents
    FROM c GROUP BY event_type ORDER BY event_type
    """,
)
def event_value_quantiles(spark, sf_dir):
    # Exact percentile() buffers every value of a group in executor memory —
    # fine for 5 event types at sf0.1, a scale-killer for a hot group at
    # 100x. Kept as the sf0.01 correctness oracle; the engine's scale
    # default is `event_value_quantiles_sketch` below.
    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("bigint")
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.expr("percentile(cents, 0.25D)").alias("q25_cents"),
            F.expr("percentile(cents, 0.50D)").alias("q50_cents"),
            F.expr("percentile(cents, 0.75D)").alias("q75_cents"),
        )
        .orderBy("event_type")
    )


# Scale-safe quantiles (the engine default): approx_percentile keeps a
# bounded mergeable sketch per group (map-side combine, constant memory per
# hot key) instead of buffering every value. Oracle: while every group
# holds <= accuracy (10000) rows — true at both oracle scales (max group
# ~2000 at sf0.01) — the Greenwald-Khanna summary never compresses, so the
# sketch is EXACT and partition/merge-order independent, and Spark's rank
# query equals the discrete lower quantile, i.e. DuckDB's quantile_disc
# (verified value-identical at sf0.001 and sf0.01). Past that regime (e.g.
# sf0.1's 20k-row groups) the sketch approximates within 1/accuracy and
# the accuracy-bound pytest takes over from the oracle.
@query(
    "event_value_quantiles_sketch",
    """
    SELECT event_type,
           CAST(quantile_disc(cents, 0.25) AS DOUBLE) AS q25_cents,
           CAST(quantile_disc(cents, 0.50) AS DOUBLE) AS q50_cents,
           CAST(quantile_disc(cents, 0.75) AS DOUBLE) AS q75_cents
    FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
          FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
)
def event_value_quantiles_sketch(spark, sf_dir):
    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("bigint")
    )
    qs = F.percentile_approx("cents", [0.25, 0.5, 0.75], 10000)
    return (
        e.groupBy("event_type")
        .agg(qs.alias("qs"))
        .select(
            "event_type",
            F.col("qs")[0].cast("double").alias("q25_cents"),
            F.col("qs")[1].cast("double").alias("q50_cents"),
            F.col("qs")[2].cast("double").alias("q75_cents"),
        )
        .orderBy("event_type")
    )


# ===========================================================================
# Dedup ladder (operators/dedup.py)
# ===========================================================================

@query(
    "exact_dup_docs",
    """
    SELECT md5(lower(trim(text))) AS fingerprint, count(*) AS dup_count,
           min(doc_id) AS min_doc_id
    FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY fingerprint
    """,
)
def exact_dup_docs(spark, sf_dir):
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents")).orderBy(
        "fingerprint"
    )


_SHINGLE_CTE = """
    w AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM (
       SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) s
       FROM w WHERE len(ws) >= 3)),
    sizes AS (SELECT doc_id, count(*) n_sh FROM sh GROUP BY 1),
    rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20),
    rsh AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
    cand AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) shared
             FROM rsh a JOIN rsh b ON a.s = b.s AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
    jac AS (SELECT doc_a, doc_b,
                   shared / (sa.n_sh + sb.n_sh - shared) AS jaccard
            FROM cand JOIN sizes sa ON doc_a = sa.doc_id
                      JOIN sizes sb ON doc_b = sb.doc_id)
"""


@query(
    "ngram_jaccard_dups",
    f"""
    WITH {_SHINGLE_CTE}
    SELECT doc_a, doc_b, jaccard FROM jac
    WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b
    """,
)
def ngram_jaccard_dups(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5, max_df=20
    ).orderBy("doc_a", "doc_b")


def _minhash_sql(k: int) -> str:
    """Oracle for MinHash signatures, generated from the SAME committed
    permutation constants as the Spark plan."""
    mins = ",\n           ".join(
        f"min((({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MERSENNE31})) AS s{i}"
        for i in range(k)
    )
    return f"""
    WITH w AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM (
       SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) s
       FROM w WHERE len(ws) >= 3)),
    hh AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {MERSENNE31} AS h
           FROM sh)
    SELECT doc_id, {mins}
    FROM hh GROUP BY doc_id ORDER BY doc_id
    """


@query("minhash_signatures_k8", _minhash_sql(8))
def minhash_signatures_k8(spark, sf_dir):
    sig = dedup.minhash_signatures(_t(spark, sf_dir, "documents"), k=8, n=3)
    return sig.select(
        "doc_id", *[F.col("sig")[i].alias(f"s{i}") for i in range(8)]
    ).orderBy("doc_id")


@query(
    "minhash_lsh_dups",
    f"""
    WITH {_SHINGLE_CTE},
    hh AS (SELECT doc_id,
                  CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) % {MERSENNE31} AS h
           FROM sh),
    sig AS (SELECT doc_id,
        {', '.join(f"min((({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MERSENNE31})) AS s{i}" for i in range(16))}
        FROM hh GROUP BY doc_id),
    banded AS (
      SELECT doc_id, band, key FROM (
        SELECT doc_id,
               unnest(['b0','b1','b2','b3']) AS band,
               unnest([
                 concat_ws('_', s0, s1, s2, s3),
                 concat_ws('_', s4, s5, s6, s7),
                 concat_ws('_', s8, s9, s10, s11),
                 concat_ws('_', s12, s13, s14, s15)
               ]) AS key
        FROM sig)),
    lsh_cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
             FROM banded a JOIN banded b
               ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
    pair_shared AS (
      SELECT c.doc_a, c.doc_b, count(*) AS shared
      FROM lsh_cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
      GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b,
           p.shared / (sa.n_sh + sb.n_sh - p.shared) AS jaccard
    FROM pair_shared p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE p.shared / (sa.n_sh + sb.n_sh - p.shared) >= 0.5
    ORDER BY p.doc_a, p.doc_b
    """,
)
def minhash_lsh_dups(spark, sf_dir):
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), k=16, bands=4, n=3, threshold=0.5
    ).orderBy("doc_a", "doc_b")


# Benchmark decontamination: per-doc 3-gram overlap against a benchmark set
# (here: doc_id < 10 stands in for an eval set). The benchmark's shingle set
# is tiny by definition -> broadcast semi-ish inner join; the corpus side
# streams through without a self-join. At 100 TB this is THE contamination
# check shape: benchmark shingles broadcast once, one pass over the corpus.
@query(
    "benchmark_contamination",
    f"""
    WITH {_SHINGLE_CTE},
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 10),
    hits AS (SELECT sh.doc_id, count(*) AS n_hits
             FROM sh JOIN bench USING (s)
             WHERE sh.doc_id >= 10 GROUP BY sh.doc_id)
    SELECT h.doc_id, h.n_hits, sizes.n_sh,
           h.n_hits / sizes.n_sh AS contamination
    FROM hits h JOIN sizes ON h.doc_id = sizes.doc_id
    WHERE h.n_hits / sizes.n_sh >= 0.2
    ORDER BY h.doc_id
    """,
)
def benchmark_contamination(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    sh = dedup.shingles(d, 3)
    bench = (
        sh.filter(F.col("doc_id") < 10).select("shingle").distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    hits = (
        sh.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        hits.join(sizes, "doc_id")
        .withColumn("contamination", F.col("n_hits") / F.col("n_sh"))
        .filter(F.col("contamination") >= 0.2)
        .select("doc_id", "n_hits", "n_sh", "contamination")
        .orderBy("doc_id")
    )


# Substring-level dedup (Lee et al. 2022): maximal cross-document duplicated
# token spans — what a substring deduper cuts before training. See
# operators/dedup.py::dup_token_spans for the scale shape (map-only gram
# extraction, 8-byte hash shuffle keys, doc_id-partitioned islands window).
@query(
    "dup_token_spans",
    """
    WITH ws AS (SELECT doc_id, string_split(trim(text), ' ') AS w
                FROM documents),
    g0 AS (
      SELECT doc_id, unnest(list_transform(range(1, len(w)-8+2),
             i -> struct_pack(pos := i-1,
                    gram := list_aggregate(w[i:i+7], 'string_agg', ' '))))
             AS b
      FROM ws WHERE len(w) >= 8),
    g AS (SELECT doc_id, CAST(b.pos AS INT) AS pos,
                 ('0x' || substr(md5(b.gram), 1, 15))::BIGINT AS gh
          FROM g0),
    sh AS (SELECT gh FROM g GROUP BY gh
           HAVING count(DISTINCT doc_id) >= 2),
    f AS (SELECT doc_id, pos FROM g JOIN sh USING (gh)),
    i1 AS (SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER win IS NULL
                    OR pos - lag(pos) OVER win > 8 THEN 1 ELSE 0 END AS brk
           FROM f WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
    i2 AS (SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS isl
           FROM i1)
    SELECT doc_id,
           CAST(min(pos) AS INT) AS span_start,
           CAST(max(pos) + 7 AS INT) AS span_end,
           CAST(max(pos) - min(pos) + 8 AS INT) AS span_tokens
    FROM i2 GROUP BY doc_id, isl
    ORDER BY doc_id, span_start
    """,
)
def dup_token_spans(spark, sf_dir):
    return dedup.dup_token_spans(
        _t(spark, sf_dir, "documents"), w=8
    ).orderBy("doc_id", "span_start")


# TF-IDF-style salient terms: rank each doc's words by (tf / df) — the
# log-free formulation keeps the score a single IEEE double division, which
# is bit-identical across engines (ln() is libm-dependent and is not).
# Two hash aggregations + one window; word df is NOT broadcast (unbounded
# vocabulary) — the join is a plain equi-join on word.
@query(
    "tfidf_top_terms",
    """
    WITH w AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
               FROM documents),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
    df AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.word, tf.tf, df.df,
             tf.tf / df.df AS score
      FROM tf JOIN df USING (word))
    SELECT doc_id, word, tf, df, rk FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, word) AS INT) AS rk
      FROM scored)
    WHERE rk <= 3 ORDER BY doc_id, rk
    """,
)
def tfidf_top_terms(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("word"),
    )
    tf = w.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = w.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df, "word").withColumn(
        "score", F.col("tf") / F.col("df")
    )
    win = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "word")
    return (
        scored.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "word", "tf", "df", "rk")
        .orderBy("doc_id", "rk")
    )


# SimHash: bit-level ops — Spark-only (rows-only correctness check)
@query("simhash_near_dups", None)
def simhash_near_dups(spark, sf_dir):
    return dedup.simhash_near_dups(
        _t(spark, sf_dir, "documents"), max_hamming=6
    ).orderBy("doc_a", "doc_b")


# Iterative algorithm with an exact oracle: duplicate clustering = connected
# components over the Jaccard near-dup graph. Spark side = hash-to-min label
# propagation (one shuffle per round); DuckDB side = recursive-CTE transitive
# closure + min label. Both operate on the SAME pair set (the shingle CTE).
@query(
    "dup_clusters",
    f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    e AS (SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5
          UNION ALL
          SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
    reach(id, r) AS (
      SELECT DISTINCT src, src FROM e
      UNION
      SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
    )
    SELECT id AS doc_id, min(r) AS component
    FROM reach GROUP BY id ORDER BY doc_id
    """,
)
def dup_clusters(spark, sf_dir):
    pairs = dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.5, max_df=20
    )
    return dedup.dup_clusters(pairs).orderBy("doc_id")


# The decision a dedup pipeline actually ships to the trainer: ONE canonical
# representative per duplicate cluster (keep-longest, ties -> lowest doc_id —
# the standard heuristic), every other member dropped. Spark side picks the
# winner with a per-component max(struct(n_chars, -doc_id)) partial
# aggregation + an equi-join back (component count is tiny next to the
# corpus; no window over low-cardinality keys, no O(cluster) sort per task);
# the oracle expresses the same tie rule as a window for readability.
@query(
    "dedup_keep_list",
    f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    e AS (SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard >= 0.5
          UNION ALL
          SELECT doc_b, doc_a FROM jac WHERE jaccard >= 0.5),
    reach(id, r) AS (
      SELECT DISTINCT src, src FROM e
      UNION
      SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id
    ),
    comp AS (SELECT id AS doc_id, min(r) AS component
             FROM reach GROUP BY id),
    j AS (SELECT c.doc_id, c.component, d.n_chars
          FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
    ranked AS (SELECT doc_id, component, n_chars,
                      row_number() OVER (PARTITION BY component
                                         ORDER BY n_chars DESC, doc_id ASC)
                        AS rk
               FROM j)
    SELECT doc_id, component, n_chars, (rk = 1) AS keep
    FROM ranked ORDER BY doc_id
    """,
)
def dedup_keep_list(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_df=20)
    members = dedup.dup_clusters(pairs).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    best = members.groupBy("component").agg(
        F.max(
            F.struct(
                F.col("n_chars").alias("len"),
                (-F.col("doc_id")).alias("neg_id"),
                F.col("doc_id").alias("winner"),
            )
        ).alias("b")
    )
    return (
        members.join(best, "component")
        .select(
            "doc_id",
            "component",
            "n_chars",
            (F.col("doc_id") == F.col("b.winner")).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ===========================================================================
# Similarity search (operators/similarity.py)
# ===========================================================================

_QCOS = """
    q AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
          FROM embeddings),
    qn AS (SELECT vec_id, qv,
                  sqrt(CAST(list_sum(list_transform(list_zip(qv, qv), p -> p[1]*p[2])) AS DOUBLE)) AS nrm
           FROM q)
"""


@query(
    "embedding_topk",
    f"""
    WITH {_QCOS},
    scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1]*p[2])) AS DOUBLE)
                   / (a.nrm * b.nrm) AS cosine
      FROM qn a JOIN qn b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM ranked
    WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def embedding_topk(spark, sf_dir):
    return similarity.brute_force_topk(
        _t(spark, sf_dir, "embeddings"), k=5, n_queries=10
    ).orderBy("query_id", "rank")


@query(
    "embedding_dup_pairs",
    f"""
    WITH {_QCOS}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1]*p[2])) AS DOUBLE)
                 / (a.nrm * b.nrm) AS cosine
    FROM qn a JOIN qn b ON a.vec_id < b.vec_id
    WHERE CAST(list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1]*p[2])) AS DOUBLE)
                / (a.nrm * b.nrm) >= 0.4
    ORDER BY vec_a, vec_b
    """,
)
def embedding_dup_pairs(spark, sf_dir):
    return dedup.embedding_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4
    ).orderBy("vec_a", "vec_b")


# SemDeDup-style semantic dedup (operators/dedup.py::semantic_dup_pairs):
# trained-kmeans cell assignment, pairs scored only within a cell — the
# corpus-scale form of embedding_dup_pairs (per-cluster equi-join replaces
# the O(n^2) cross pair space). Rows-only (iterative clustering isn't one
# SQL statement); pytest pins recall vs the brute-force pair set and exact
# score agreement on shared pairs.
@query("semantic_dedup_pairs", None)
def semantic_dedup_pairs(spark, sf_dir):
    return dedup.semantic_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.4, n_clusters=8
    ).orderBy("vec_a", "vec_b")


# ANN via hyperplane-LSH buckets: recall-reducing by design — rows-only.
# 8 tables x 6 planes with query-side Hamming-1 multiprobe: measured 0.80
# mean recall@5 at sf0.01 (single-table 8-plane signatures collapse to ~0 on
# this corpus — the embeddings are near-random, so OR-amplification is what
# buys recall); `ann_recall_at5` keeps the number driver-visible.
@query("embedding_ann_lsh", None)
def embedding_ann_lsh(spark, sf_dir):
    return similarity.ann_lsh_topk(
        _t(spark, sf_dir, "embeddings"),
        k=5, n_queries=10, n_planes=6, n_tables=8, multiprobe=True,
    ).orderBy("query_id", "rank")


# ANN via IVF inverted lists (coarse-quantizer assignment + probed exact
# scoring): recall-reducing by design — rows-only; the unit test pins recall
# vs the brute-force oracle
@query("embedding_ann_ivf", None)
def embedding_ann_ivf(spark, sf_dir):
    return similarity.ivf_topk(
        _t(spark, sf_dir, "embeddings"), k=5, n_queries=10, n_centroids=8,
        n_probe=3,
    ).orderBy("query_id", "rank")


# ANN quality as a continuously-gated metric: per-query recall@5 of EVERY
# ANN path in the ladder (hyperplane LSH, random-quantizer IVF, trained-
# quantizer IVF, flat PQ with ADC + exact re-rank, residual IVF+PQ) against
# the exact brute-force baseline, same parameters as the headline ANN
# queries above — 50 rows (5 methods x 10 queries). Rows-only (the hash /
# trained paths aren't SQL-portable); `tests/test_ops_misc.py` asserts the
# per-method mean-recall floors, this registry row keeps every method's
# value visible to the driver every round.
@query("ann_recall_at5", None)
def ann_recall_at5(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    exact = similarity.brute_force_topk(e, k=5, n_queries=10)
    tcents, _ = similarity.kmeans_fit(e, n_clusters=8, n_iter=3)
    out = None
    for method, approx in (
        ("ivf", similarity.ivf_topk(e, k=5, n_queries=10, n_centroids=8, n_probe=3)),
        ("ivf_trained", similarity.ivf_topk(
            e, k=5, n_queries=10, n_probe=2, cents=tcents,
        )),
        ("ivfpq", similarity.ivfpq_topk(
            e, k=5, n_queries=10, n_lists=8, n_probe=3, m=16, n_codes=16,
            rerank=50, n_iter=3,
        )),
        ("lsh", similarity.ann_lsh_topk(
            e, k=5, n_queries=10, n_planes=6, n_tables=8, multiprobe=True,
        )),
        ("pq", similarity.pq_topk(
            e, k=5, n_queries=10, m=16, n_codes=16, rerank=50, n_iter=3,
        )),
    ):
        part = similarity.recall_vs_exact(approx, exact, k=5).select(
            F.lit(method).alias("method"), "query_id", "n_hits", "recall"
        )
        out = part if out is None else out.unionByName(part)
    return out.orderBy("method", "query_id")


# Per-row array-equality invariant as a portable digest (the oracle-checkable
# analog of the engine's xxhash64 token digest, SURVEY.md §7.2 `token_eq`;
# runner.token_digests is the engine-side variant): md5 of the canonical
# comma-joined quantized array — byte-identical across Spark and DuckDB.
@query(
    "embedding_digest_invariant",
    """
    SELECT vec_id,
           md5(array_to_string(list_transform(embedding,
               x -> CAST(CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT) AS VARCHAR)),
             ',')) AS digest
    FROM embeddings ORDER BY vec_id
    """,
)
def embedding_digest_invariant(spark, sf_dir):
    from .functions.arrays import quantized

    e = _t(spark, sf_dir, "embeddings")
    qv = quantized(F.col("embedding"))
    return e.select(
        "vec_id",
        F.md5(
            F.array_join(F.transform(qv, lambda x: x.cast("string")), ",")
        ).alias("digest"),
    ).orderBy("vec_id")


# ===========================================================================
# OLAP surface widening: rollup, pivot, rolling windows, overlap matrix
# ===========================================================================

# ROLLUP with grouping_id: subtotal rows per nation, per (nation, year), and
# a grand total — one pass, Spark expands grouping sets inside the aggregate
# (no union of re-scans). gid bit order (first listed col = MSB) matches
# DuckDB's GROUPING().
@query(
    "revenue_rollup",
    """
    WITH j AS (
      SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year, o_totalprice
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey)
    SELECT n_name, o_year,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           count(*) AS n_orders,
           CAST(grouping(n_name, o_year) AS INT) AS gid
    FROM j GROUP BY ROLLUP (n_name, o_year)
    ORDER BY gid, n_name, o_year
    """,
)
def revenue_rollup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "n_name",
            F.year("o_orderdate").cast("int").alias("o_year"),
            "o_totalprice",
        )
    )
    return (
        j.rollup("n_name", "o_year")
        .agg(
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().cast("int").alias("gid"),
        )
        .orderBy("gid", "n_name", "o_year")
    )


# Pivot (long -> wide): month x event_type counts. Spark's pivot with an
# EXPLICIT value list compiles to one aggregate with conditional counters —
# same plan as the oracle's FILTER clauses — and skips the extra
# distinct-values scan an implicit pivot would add.
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

@query(
    "event_type_pivot",
    """
    SELECT strftime(ts, '%Y-%m') AS month,
           count(*) FILTER (WHERE event_type = 'click') AS click,
           count(*) FILTER (WHERE event_type = 'error') AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS signup,
           count(*) FILTER (WHERE event_type = 'view') AS view
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def event_type_pivot(spark, sf_dir):
    e = _t(spark, sf_dir, "events").withColumn(
        "month", F.date_format("ts", "yyyy-MM")
    )
    return (
        e.groupBy("month")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
        .orderBy("month")
    )


# Unpivot (wide -> long, the inverse of event_type_pivot): melt the
# per-month conditional counters back to (month, event_type, n) rows.
# Spark's unpivot is a zero-shuffle projection+generator over the wide rows.
@query(
    "event_type_unpivot",
    """
    WITH wide AS (
      SELECT strftime(ts, '%Y-%m') AS month,
             count(*) FILTER (WHERE event_type = 'click') AS click,
             count(*) FILTER (WHERE event_type = 'error') AS error,
             count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
             count(*) FILTER (WHERE event_type = 'signup') AS signup,
             count(*) FILTER (WHERE event_type = 'view') AS view
      FROM events GROUP BY 1)
    SELECT month, event_type, n
    FROM wide
    UNPIVOT (n FOR event_type IN (click, error, purchase, signup, view))
    WHERE n > 0 ORDER BY month, event_type
    """,
)
def event_type_unpivot(spark, sf_dir):
    wide = event_type_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            ids=["month"],
            values=_EVENT_TYPES,
            variableColumnName="event_type",
            valueColumnName="n",
        )
        .filter(F.col("n") > 0)
        .orderBy("month", "event_type")
    )


# The remaining ranking-window family in one pass: rank / dense_rank /
# percent_rank / cume_dist / lag / lead over each user's event timeline.
# percent_rank and cume_dist are exact small-integer ratios -> portable
# doubles; one shuffle on user_id serves all six functions.
@query(
    "user_event_rank_family",
    """
    SELECT event_id, user_id,
           CAST(rank() OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk,
           percent_rank() OVER w AS prnk,
           cume_dist() OVER w AS cdist,
           lag(event_id) OVER w AS prev_event,
           lead(event_id) OVER w AS next_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """,
)
def user_event_rank_family(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
    ).orderBy("event_id")


# Rolling window aggregate (ROWS frame): trailing-4-event spend per user.
# One shuffle on user_id; the frame is evaluated in a single sorted pass per
# partition. Cents keep the sum integer-exact across engines.
@query(
    "user_rolling_value",
    """
    WITH c AS (SELECT event_id, user_id, ts,
                      CAST(round(value * 100) AS BIGINT) AS cents
               FROM events)
    SELECT event_id, user_id, cents,
           CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             AS BIGINT) AS roll4_cents,
           CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             AS INT) AS roll4_n
    FROM c ORDER BY event_id
    """,
)
def user_rolling_value(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "cents",
        F.sum("cents").over(w).alias("roll4_cents"),
        F.count(F.lit(1)).over(w).cast("int").alias("roll4_n"),
    ).orderBy("event_id")


# Cross-source overlap matrix (contamination shape): how many distinct words
# each source pair shares. Self-equi-join on word after a per-source distinct
# — the vocabulary is sublinear in corpus size, so the join input is bounded;
# hot words (stopwords) are exactly the AQE skew-split case.
@query(
    "source_vocab_overlap",
    """
    WITH wv AS (SELECT DISTINCT source,
                       unnest(string_split(trim(text), ' ')) AS word
                FROM documents)
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS shared_words
    FROM wv a JOIN wv b ON a.word = b.word AND a.source < b.source
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def source_vocab_overlap(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    wv = d.select(
        "source", F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
    ).distinct()
    a, b = wv.alias("a"), wv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_words"))
        .orderBy("source_a", "source_b")
    )


# Planned-skew join (operators/skew.py): the word-frequency dimension keeps
# only HOT words (df >= 50 — the top word hits 80%+ of docs), so the plain
# equi-join would pile most of the corpus onto a handful of reducer keys.
# salted_join fans each hot word over 8 deterministic salts; the oracle is
# the semantically identical unsalted join.
@query(
    "salted_hot_word_join",
    """
    WITH dw AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
                FROM documents),
    hot AS (SELECT word, count(DISTINCT doc_id) AS df
            FROM dw GROUP BY word HAVING count(DISTINCT doc_id) >= 50)
    SELECT dw.word, count(*) AS n_hits, CAST(max(hot.df) AS BIGINT) AS df
    FROM dw JOIN hot ON dw.word = hot.word
    GROUP BY dw.word ORDER BY dw.word
    """,
)
def salted_hot_word_join(spark, sf_dir):
    from .operators.skew import salted_join

    d = _t(spark, sf_dir, "documents")
    dw = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
    )
    hot = (
        dw.groupBy("word")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 50)
    )
    j = salted_join(dw, hot, "word", salt_from=["doc_id"], n_salts=8)
    return (
        j.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_hits"), F.max("df").alias("df"))
        .orderBy("word")
    )


# Equi-depth histogram via ntile: quartile boundaries of n_chars per lang —
# the complement of doc_chars_histogram's equi-width buckets. One shuffle on
# lang, one sorted window pass.
@query(
    "chars_quartiles_by_lang",
    """
    WITH t AS (SELECT lang, n_chars,
                      ntile(4) OVER (PARTITION BY lang
                                     ORDER BY n_chars, doc_id) AS q
               FROM documents)
    SELECT lang, CAST(q AS INT) AS quartile, count(*) AS n,
           min(n_chars) AS lo, max(n_chars) AS hi
    FROM t GROUP BY lang, q ORDER BY lang, quartile
    """,
)
def chars_quartiles_by_lang(spark, sf_dir):
    # Exact ntile oracle form: each window partition holds an entire
    # language's rows (one task sorts ~1/n_langs of the corpus at scale).
    # Kept as the sf0.01 correctness oracle; the engine's scale default is
    # `chars_quartiles_by_lang_sketch` below.
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    return (
        d.withColumn("quartile", F.ntile(4).over(w).cast("int"))
        .groupBy("lang", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
        .orderBy("lang", "quartile")
    )


# Scale-safe equi-depth quartiles (the engine default): per-lang boundary
# sketch via approx_percentile (mergeable partial aggregation — no per-group
# full sort), broadcast the tiny (lang, bounds) table back, classify each row
# against its boundaries, and aggregate. Two map-side-combinable passes; a
# hot language costs nothing beyond its share of the hash aggregate.
# Oracle: per-lang doc counts sit far below the sketch accuracy (10000) at
# both oracle scales, so the boundary sketch is in its EXACT regime and
# the boundaries equal DuckDB's quantile_disc (see
# event_value_quantiles_sketch for the regime argument; verified
# value-identical at sf0.001 and sf0.01) — the oracle classifies against
# the same discrete boundaries. Beyond the regime,
# `tests/test_ops_misc.py::test_sketch_quartiles_close_to_exact` bounds the
# per-bucket mass error against the exact ntile form.
@query(
    "chars_quartiles_by_lang_sketch",
    """
    WITH b AS (SELECT lang, quantile_disc(n_chars, 0.25) AS b1,
                      quantile_disc(n_chars, 0.50) AS b2,
                      quantile_disc(n_chars, 0.75) AS b3
               FROM documents GROUP BY lang)
    SELECT d.lang,
           CASE WHEN n_chars <= b1 THEN 1 WHEN n_chars <= b2 THEN 2
                WHEN n_chars <= b3 THEN 3 ELSE 4 END AS quartile,
           CAST(count(*) AS BIGINT) AS n,
           min(n_chars) AS lo, max(n_chars) AS hi
    FROM documents d JOIN b USING (lang)
    GROUP BY d.lang, quartile ORDER BY d.lang, quartile
    """,
)
def chars_quartiles_by_lang_sketch(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    bounds = d.groupBy("lang").agg(
        F.percentile_approx("n_chars", [0.25, 0.5, 0.75], 10000).alias("bs")
    )
    q = (
        F.when(F.col("n_chars") <= F.col("bs")[0], 1)
        .when(F.col("n_chars") <= F.col("bs")[1], 2)
        .when(F.col("n_chars") <= F.col("bs")[2], 3)
        .otherwise(4)
    )
    return (
        d.join(F.broadcast(bounds), "lang")
        .withColumn("quartile", q.cast("int"))
        .groupBy("lang", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
        .orderBy("lang", "quartile")
    )


# Map-family aggregation: per source, a CANONICAL (key-sorted, no-space)
# JSON object of lang -> doc count, built JVM-side from
# map_from_entries(array_sort(collect_list(struct))) — the grouped-map
# rollup the reference's Counter-per-key reports produce
# (check_fackel_references.py:33-35), emitted in a cross-engine-stable text
# form.
@query(
    "source_lang_map",
    """
    WITH c AS (SELECT source, lang, count(*) AS n
               FROM documents GROUP BY 1, 2)
    SELECT source,
           '{' || string_agg(format('"{}":{}', lang, n), ','
                             ORDER BY lang) || '}' AS lang_counts
    FROM c GROUP BY source ORDER BY source
    """,
)
def source_lang_map(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("source")
        .agg(
            F.to_json(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("lang", "n")))
                )
            ).alias("lang_counts")
        )
        .orderBy("source")
    )


# Pearson correlation, engine-portable: built-in corr() accumulates doubles
# in partition order (bits differ across engines/plans), so compute it from
# EXACT BIGINT moment sums and evaluate the identical closed-form double
# expression in both engines — same int64 inputs, same IEEE ops, same bits.
@query(
    "chars_words_corr",
    """
    WITH m AS (
      SELECT source, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM (SELECT source, n_chars AS x,
                   len(string_split(trim(text), ' ')) AS y
            FROM documents)
      GROUP BY source)
    SELECT source, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_chars_words
    FROM m ORDER BY source
    """,
)
def chars_words_corr(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "source",
        F.col("n_chars").cast("bigint").alias("x"),
        F.size(F.split(F.trim(F.col("text")), " ")).cast("bigint").alias("y"),
    )
    m = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return m.select(
        "source", "n", (num / den).alias("corr_chars_words")
    ).orderBy("source")


# Scored best-match join (operators/matching.py) — the reference's
# enrichment-matcher shape (enrich_fackel_bibls.py:77-96): de docs matched
# against the en index by shared-rare-shingle score, deterministic argmax
# per left doc with a threshold. Oracle = the same semantics in SQL.
@query(
    "best_cross_lang_match",
    """
    WITH l AS (SELECT doc_id AS lid, string_split(trim(text), ' ') AS ws
               FROM documents WHERE lang = 'de'),
    r AS (SELECT doc_id AS rid, string_split(trim(text), ' ') AS ws
          FROM documents WHERE lang = 'en'),
    li AS (SELECT lid, ws, generate_subscripts(ws, 1) AS i FROM l),
    ri AS (SELECT rid, ws, generate_subscripts(ws, 1) AS i FROM r),
    lw AS (SELECT DISTINCT lid, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
           FROM li WHERE i + 2 <= len(ws)),
    rw AS (SELECT DISTINCT rid, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS sh
           FROM ri WHERE i + 2 <= len(ws)),
    dfc AS (SELECT sh FROM (SELECT sh FROM lw UNION ALL SELECT sh FROM rw)
            GROUP BY sh HAVING count(*) <= 20),
    cand AS (SELECT lid, rid, count(*) AS score
             FROM lw JOIN dfc USING (sh) JOIN rw USING (sh) GROUP BY 1, 2),
    best AS (SELECT lid, rid, score,
                    row_number() OVER (PARTITION BY lid
                                       ORDER BY score DESC, rid) AS rk
             FROM cand)
    SELECT lid AS doc_id, rid AS match_id, score
    FROM best WHERE rk = 1 AND score >= 2 ORDER BY doc_id
    """,
)
def best_cross_lang_match(spark, sf_dir):
    from .operators.matching import scored_best_match

    d = _t(spark, sf_dir, "documents")
    return scored_best_match(
        d.filter(F.col("lang") == "de").select("doc_id", "text"),
        d.filter(F.col("lang") == "en").select("doc_id", "text"),
        n=3,
        max_df=20,
        min_score=2,
    ).orderBy("doc_id")


# VARIANT path (Spark 4 semi-structured type): parse the JSON once into a
# VARIANT, shred typed fields from it — the open-schema analog of
# props_json_buckets' string-path get_json_object. At scale VARIANT wins
# when several fields come out of one parse (one decode, many extractions).
@query(
    "props_variant_stats",
    """
    SELECT CAST(json_extract(props, '$.k') AS INT) // 25 AS k_quartile,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_sum
    FROM events GROUP BY 1 ORDER BY k_quartile
    """,
)
def props_variant_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(F.col("props")), "$.k", "int")
    return (
        e.select(F.floor(k / 25).cast("int").alias("k_quartile"), k.alias("k"))
        .groupBy("k_quartile")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("k_sum"))
        .orderBy("k_quartile")
    )


# Bigram top-k: adjacent-pair language statistics. JVM-side pair
# construction (indexed transform over the word array — no UDF, no
# self-join on position), then the standard two-phase count + global top-k.
# The Python-UDTF lateral-join surface computes the same thing on a sample
# in tests (tests/test_ops_misc.py::test_bigram_udtf_matches_jvm_path).
@query(
    "bigram_top15",
    """
    WITH w AS (SELECT string_split(trim(text), ' ') AS ws FROM documents),
    b AS (SELECT ws[i] || ' ' || ws[i + 1] AS bigram
          FROM (SELECT ws, generate_subscripts(ws, 1) AS i FROM w)
          WHERE i < len(ws)),
    c AS (SELECT bigram, count(*) AS n FROM b GROUP BY 1)
    SELECT bigram, n, rk FROM (
      SELECT bigram, n,
             CAST(row_number() OVER (ORDER BY n DESC, bigram) AS INT) AS rk
      FROM c)
    WHERE rk <= 15 ORDER BY rk
    """,
)
def bigram_top15(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), " ")
    bigrams = F.transform(
        F.slice(words, 1, F.size(words) - 1),
        lambda x, i: F.concat_ws(" ", x, F.element_at(words, i + 2)),
    )
    counts = (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Distributed top-k: orderBy+limit compiles to TakeOrderedAndProject
    # (per-partition partial top-15, merged on the driver) — the full bigram
    # vocabulary is never funneled through one task. Only the 15 surviving
    # rows pass through the numbering window.
    top = counts.orderBy(F.col("n").desc(), "bigram").limit(15)
    win = Window.orderBy(F.col("n").desc(), "bigram")
    return (
        top.withColumn("rk", F.row_number().over(win).cast("int"))
        .orderBy("rk")
    )


# ===========================================================================
# Training-corpus preparation: split / shard / vocab / packing
# ===========================================================================

# Deterministic train/val/test split + shard assignment from a content-stable
# hash (md5 of doc_id): reproducible across engines, runs, and cluster sizes
# — a seeded rand() is none of those. Split boundaries 80/10/10 on the
# hash's first 15 hex digits mod 100; shard = mod n_shards of the SAME hash
# family (offset digits so split and shard are independent).
@query(
    "doc_split_shards",
    """
    WITH h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % 100 AS INT) AS bucket,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 17, 15))::BIGINT
                  % 8 AS INT) AS shard
      FROM documents)
    SELECT doc_id,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           shard
    FROM h ORDER BY doc_id
    """,
)
def doc_split_shards(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    hx = F.md5(F.col("doc_id").cast("string"))
    bucket = (F.conv(F.substring(hx, 1, 15), 16, 10).cast("bigint") % 100).cast(
        "int"
    )
    shard = (F.conv(F.substring(hx, 17, 15), 16, 10).cast("bigint") % 8).cast(
        "int"
    )
    return d.select(
        "doc_id",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
        shard.alias("shard"),
    ).orderBy("doc_id")


# Vocabulary build: words above a min document frequency get dense ids by
# (df desc, word) rank — the id table a tokenizer trainer emits. Two hash
# aggs + one window over the (bounded) vocabulary, never over occurrences.
@query(
    "vocab_ids",
    """
    WITH df AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM (
        SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
        FROM documents)
      GROUP BY word HAVING count(DISTINCT doc_id) >= 5)
    SELECT word, CAST(df AS BIGINT) AS df,
           CAST(row_number() OVER (ORDER BY df DESC, word) AS INT) AS token_id
    FROM df ORDER BY token_id
    """,
)
def vocab_ids(spark, sf_dir):
    # Dense global ids WITHOUT a single-task global window (an unbounded
    # vocabulary would funnel through one task at scale). Two-stage rank:
    #   1. range-partition the vocab on the id order (df DESC, word) so
    #      partition p holds a contiguous, sorted-before-(p+1) key range;
    #   2. local row_number within each range partition (distributed sort);
    #   3. exclusive prefix-sum of the P per-partition counts (a broadcast
    #      triangular join over P<=32 rows — never fact data) as the offset.
    # token_id = offset(pid) + local_rank, identical to the global rank for
    # any boundary placement because range partitioning preserves key order.
    # The windowed frame is persisted before the count/offset branch forks
    # off it: correctness requires BOTH branches to observe the same range
    # boundaries, and exchange reuse alone is an optimization Spark may
    # forgo (AQE/config/version changes); MEMORY_AND_DISK persistence pins
    # one materialization (the vocab is df>=5-bounded, tiny relative to
    # occurrences), with the plan-shape test as a secondary check.
    d = _t(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("word")
    )
    df = (
        w.groupBy("word")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 5)
    )
    n_ranges = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = df.repartitionByRange(
        n_ranges, F.col("df").desc(), F.col("word")
    ).withColumn("pid", F.spark_partition_id())
    lwin = Window.partitionBy("pid").orderBy(F.col("df").desc(), "word")
    local = ranged.withColumn("lrk", F.row_number().over(lwin)).persist()
    cnt = local.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    offsets = (
        cnt.alias("a")
        .join(F.broadcast(cnt.alias("b")), F.col("b.pid") < F.col("a.pid"), "left")
        .groupBy(F.col("a.pid").alias("pid"))
        .agg(F.coalesce(F.sum("b.cnt"), F.lit(0)).alias("offset"))
    )
    return (
        local.join(F.broadcast(offsets), "pid")
        .select(
            "word",
            "df",
            (F.col("offset") + F.col("lrk")).cast("int").alias("token_id"),
        )
        .orderBy("token_id")
    )


# Sequence packing: greedy fill of fixed token-budget training bins per
# (shard-able) source — bin = floor((running n_chars before me) / budget),
# one window pass, no driver loop. The contract a packer needs: bins are
# dense per source, deterministic order (n_chars DESC, doc_id ties).
@query(
    "packed_char_bins",
    """
    SELECT doc_id, source, n_chars,
           CAST(floor((sum(n_chars) OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_chars) / 2000.0) AS INT) AS bin
    FROM documents ORDER BY source, bin, doc_id
    """,
)
def packed_char_bins(spark, sf_dir):
    # Two-stage distributed prefix sum (same shape as vocab_ids' rank): a
    # single Window.partitionBy(source) would run the whole running sum for
    # each source in ONE task (source is a bounded ~20-value domain — a
    # corpus/20-row single-task sort at 10^12 rows). Instead:
    #   1. range-partition on the pack order (source, n_chars DESC, doc_id)
    #      so each partition holds a contiguous slice of each source's
    #      sequence; persist it so both branches see the same boundaries;
    #   2. local running sum within (partition, source) — P x |sources|
    #      bounded groups;
    #   3. exclusive prefix of the per-(partition, source) totals via a
    #      broadcast triangular join over <= P x |sources| tiny rows.
    # prefix = offset + local running sum, identical to the single-window
    # form (the oracle) for any boundary placement because range
    # partitioning preserves the pack order.
    d = _t(spark, sf_dir, "documents")
    n_ranges = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        d.select("doc_id", "source", "n_chars")
        .repartitionByRange(
            n_ranges, F.col("source"), F.col("n_chars").desc(), F.col("doc_id")
        )
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    w_local = (
        Window.partitionBy("pid", "source")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("lsum", F.sum("n_chars").over(w_local))
    totals = ranged.groupBy("pid", "source").agg(
        F.sum("n_chars").alias("tot")
    )
    offsets = (
        totals.alias("a")
        .join(
            F.broadcast(totals.alias("b")),
            (F.col("b.source") == F.col("a.source"))
            & (F.col("b.pid") < F.col("a.pid")),
            "left",
        )
        .groupBy(F.col("a.pid").alias("pid"), F.col("a.source").alias("source"))
        .agg(F.coalesce(F.sum("b.tot"), F.lit(0)).alias("offset"))
    )
    running_before = F.col("offset") + F.col("lsum") - F.col("n_chars")
    return (
        local.join(F.broadcast(offsets), ["pid", "source"])
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.floor(running_before / 2000.0).cast("int").alias("bin"),
        )
        .orderBy("source", "bin", "doc_id")
    )


# Document chunking: fixed-size word windows with stride (training-sequence
# slicing). posexplode over a JVM-computed slice list — one generator, no
# UDF; window count = ceil(n_words / stride) rows per doc.
@query(
    "doc_word_windows",
    """
    WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words
               FROM documents WHERE doc_id < 100),
    idx AS (SELECT doc_id, words, generate_subscripts(words, 1) AS i FROM w)
    SELECT doc_id, CAST((i - 1) / 5 AS INT) AS window_idx,
           array_to_string(words[i:least(i + 4, len(words))], ' ') AS chunk
    FROM idx WHERE (i - 1) % 5 = 0
    ORDER BY doc_id, window_idx
    """,
)
def doc_word_windows(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    words = F.split(F.trim(F.col("text")), " ")
    starts = F.sequence(
        F.lit(0),
        F.floor((F.size(words) - F.lit(1)) / F.lit(5)).cast("int"),
        F.lit(1),
    )
    chunks = F.transform(
        starts,
        lambda k: F.concat_ws(
            " ", F.slice(words, k * 5 + 1, F.lit(5))
        ),
    )
    return d.select(
        "doc_id", F.posexplode(chunks).alias("window_idx", "chunk")
    ).orderBy("doc_id", "window_idx")


# ===========================================================================
# Iterative training: distributed spherical k-means (operators/similarity.py)
# — rows-only (driver-coordinated iteration is not one SQL statement; pytest
# asserts monotone objective + determinism instead)
# ===========================================================================

@query("embedding_kmeans_clusters", None)
def embedding_kmeans_clusters(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    cents, _hist = similarity.kmeans_fit(e, n_clusters=8, n_iter=3)
    return (
        similarity.kmeans_assign(e, cents)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .orderBy("cluster")
    )


@query("embedding_ann_ivf_trained", None)
def embedding_ann_ivf_trained(spark, sf_dir):
    """IVF probe over a kmeans-trained coarse quantizer (vs the random one
    in ``embedding_ann_ivf``) — same probe/score plan, better list balance."""
    e = _t(spark, sf_dir, "embeddings")
    cents, _hist = similarity.kmeans_fit(e, n_clusters=8, n_iter=3)
    return similarity.ivf_topk(
        e, k=5, n_queries=10, n_probe=2, cents=cents
    ).orderBy("query_id", "rank")


# ===========================================================================
# Core engine rules over a generated sequences corpus — rows-only (the SQL
# oracle can't express HLL screens / KS statistics; pytest covers these
# against analytic golden verdicts instead)
# ===========================================================================

# The flagship's corpus is generated deterministically in-process
# (GenConfig(5, 400) — sf_dir is ignored), so its 30 (part, rule) verdict
# rows are constants: the oracle is the reference expectation spelled out as
# a VALUES literal (verified identical under local[8] and local[32]).
#
# ANALYTIC DERIVATION (not captured from engine output — each value follows
# from the generator config, the same derivation `datagen.
# expected_failing_parts` encodes and `test_rules.py` gates rule-by-rule):
# - roles: part_id % 5 -> 0 clean, 1 dup, 2 badcol, 3 badsrc, 4 drift
#   (`datagen.py:19-49`), so exactly one part can fail each rule.
# - uniqueness part 1 metric 20.0: dup_frac=0.05 x 400 rows = 20 colliding
#   doc_ids (`datagen.py:62,119-121`); detail path=exact because 20 dups
#   exceed the HLL screen's 3*rsd band, the others path=screen.
# - column_stats part 2 metric 8.0: 6 injected bad rows (2 null + 2 zero +
#   2 mismatched n_tok, `datagen.py:123-130`) count 8 defects — the 2 zero
#   rows each trip BOTH nonpos_n_tok and len_mismatch (0 != size(tokens),
#   which stays the original length; `operators/column_stats.py:100-105`),
#   so metric = 2 null + 2 nonpos + (2+2) mismatch = 8.
# - referential part 3 metric 4.0: badsrc_frac=0.01 x 400 = 4 disallowed
#   sources (`datagen.py:63,131-137`).
# - token_bounds part 2 metric 5.0: the badcol role plants exactly 5 rows
#   whose first token is replaced by an out-of-vocab id (3 above vocab,
#   2 negative — `datagen.py` badcol branch); the metric counts ROWS with
#   any OOV token, so it is 5 regardless of how many ids each row holds.
#   detail is the checked bound, vocab=[0,32768) (GenConfig.vocab default).
# - drift: all 5 parts pass with metric 0.0 under the default histogram
#   method (threshold 1.0): part 4's injected drift shifts the n_tok/token
#   distributions but stays inside the hist threshold at 400 rows; on the
#   larger `test_rules.py` corpus the same method flags it, as
#   EXPECTED["drift"] gates separately.
# - schema: the generated corpus always matches the declared contract.
_FLAGSHIP_ROWS = [
    (0, "column_stats", True, 0.0, 0.0, None),
    (1, "column_stats", True, 0.0, 0.0, None),
    (2, "column_stats", False, 8.0, 0.0, None),
    (3, "column_stats", True, 0.0, 0.0, None),
    (4, "column_stats", True, 0.0, 0.0, None),
    (0, "drift", True, 0.0, 1.0, "method=hist"),
    (1, "drift", True, 0.0, 1.0, "method=hist"),
    (2, "drift", True, 0.0, 1.0, "method=hist"),
    (3, "drift", True, 0.0, 1.0, "method=hist"),
    (4, "drift", True, 0.0, 1.0, "method=hist"),
    (0, "referential", True, 0.0, 0.0, None),
    (1, "referential", True, 0.0, 0.0, None),
    (2, "referential", True, 0.0, 0.0, None),
    (3, "referential", False, 4.0, 0.0, None),
    (4, "referential", True, 0.0, 0.0, None),
    (0, "schema", True, 0.0, 0.0, None),
    (1, "schema", True, 0.0, 0.0, None),
    (2, "schema", True, 0.0, 0.0, None),
    (3, "schema", True, 0.0, 0.0, None),
    (4, "schema", True, 0.0, 0.0, None),
    (0, "token_bounds", True, 0.0, 0.0, "vocab=[0,32768)"),
    (1, "token_bounds", True, 0.0, 0.0, "vocab=[0,32768)"),
    (2, "token_bounds", False, 5.0, 0.0, "vocab=[0,32768)"),
    (3, "token_bounds", True, 0.0, 0.0, "vocab=[0,32768)"),
    (4, "token_bounds", True, 0.0, 0.0, "vocab=[0,32768)"),
    (0, "uniqueness", True, 0.0, 0.0, "path=screen"),
    (1, "uniqueness", False, 20.0, 0.0, "path=exact"),
    (2, "uniqueness", True, 0.0, 0.0, "path=screen"),
    (3, "uniqueness", True, 0.0, 0.0, "path=screen"),
    (4, "uniqueness", True, 0.0, 0.0, "path=screen"),
]


def _flagship_values_sql() -> str:
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v + "'"
        return repr(v)

    rows = ",\n      ".join(
        "(" + ", ".join(lit(v) for v in r) + ")" for r in _FLAGSHIP_ROWS
    )
    return f"""
    SELECT CAST(part_id AS INTEGER) AS part_id, rule_id,
           CAST(passed AS BOOLEAN) AS passed,
           CAST(metric AS DOUBLE) AS metric,
           CAST(threshold AS DOUBLE) AS threshold,
           CAST(detail AS VARCHAR) AS detail
    FROM (VALUES
      {rows}
    ) AS t(part_id, rule_id, passed, metric, threshold, detail)
    ORDER BY rule_id, part_id
    """


@query("validation_suite_verdicts", _flagship_values_sql())
def validation_suite_verdicts(spark, sf_dir):
    from .datagen import GenConfig, allowed_sources_df, reference_profiles_df, sequences_df
    from .plans.rules import RuleContext, default_rules
    from .plans.shared import build_shared

    cfg = GenConfig(n_parts=5, rows_per_part=400)
    df = sequences_df(spark, cfg).cache()
    ctx = RuleContext(
        spark=spark,
        allowed_sources=allowed_sources_df(spark),
        reference_profiles=reference_profiles_df(spark, cfg),
        part_ids=list(range(cfg.n_parts)),
    )
    # one shared token pass for the four data rules, as the runner builds
    ctx.shared = build_shared(df, ctx)
    out = None
    for rule in default_rules():
        v = rule.evaluate(df, ctx).verdicts
        out = v if out is None else out.unionByName(v)
    return out.orderBy("rule_id", "part_id")


# Opt-in seq_structure rule (operators/seq_structure.py) over a literal
# 10-row corpus whose defects are constructed by hand, so the oracle is a
# VALUES literal derived from the CONSTRUCTION (not captured from engine
# output): d2 lacks BOS at position 1; d3's tokens[n_tok] != EOS; d4 carries
# PAD inside [1, n_tok]; d5 trips all three; d0/d1 are clean (d1's trailing
# PAD beyond n_tok is the legal storage convention); d6-d9 have undefined
# framing (null tokens / null / zero n_tok / array shorter than n_tok) and
# must be SKIPPED (column_stats territory — asserted by the partition-2 pass
# in tests/test_seq_structure.py).
_SEQ_STRUCT_ROWS = [
    ("d0", [1, 7, 8, 2], 4, "web", 0),
    ("d1", [1, 9, 2, 0, 0], 3, "web", 0),
    ("d2", [5, 7, 8, 2], 4, "web", 1),
    ("d3", [1, 7, 8, 9], 4, "web", 1),
    ("d4", [1, 7, 0, 2], 4, "web", 1),
    ("d5", [5, 0, 8, 9], 4, "web", 1),
    ("d6", None, 4, "web", 2),
    ("d7", [1, 2], None, "web", 2),
    ("d8", [1, 2], 0, "web", 2),
    ("d9", [1, 7], 5, "web", 2),
]


@query(
    "seq_structure_violations",
    """
    SELECT CAST(part_id AS INTEGER) AS part_id, rule_id, doc_id, source,
           CAST(n_tok AS INTEGER) AS n_tok, detail
    FROM (VALUES
      (1, 'seq_structure', 'd2', 'web', 4, 'missing_bos'),
      (1, 'seq_structure', 'd3', 'web', 4, 'missing_eos'),
      (1, 'seq_structure', 'd4', 'web', 4, 'interior_pad'),
      (1, 'seq_structure', 'd5', 'web', 4, 'interior_pad'),
      (1, 'seq_structure', 'd5', 'web', 4, 'missing_bos'),
      (1, 'seq_structure', 'd5', 'web', 4, 'missing_eos')
    ) AS t(part_id, rule_id, doc_id, source, n_tok, detail)
    ORDER BY doc_id, detail
    """,
)
def seq_structure_violations(spark, sf_dir):
    from .operators import seq_structure
    from .plans.rules import RuleContext

    df = spark.createDataFrame(
        _SEQ_STRUCT_ROWS,
        "doc_id string, tokens array<int>, n_tok int, source string,"
        " part_id int",
    )
    ctx = RuleContext(
        spark=spark,
        part_ids=[0, 1, 2],
        params={"seq_bos_id": 1, "seq_eos_id": 2, "seq_pad_id": 0},
    )
    return seq_structure.evaluate(df, ctx).violations.orderBy(
        "doc_id", "detail"
    )


# Global (cross-partition) uniqueness — the case partition scope cannot see:
# a doc_id duplicated across shards (re-ingested dumps). The oracle is a
# VALUES literal DERIVED ANALYTICALLY from the injection arithmetic
# (datagen.expected_global_dup_ids — never captured from engine output):
#   - metric per dup-role partition = d local dup ids (dup_frac*rows)
#     + c cross ids received from partition p-5 (cross_dup_frac*rows, p>=5)
#     + c cross ids its successor p+5 re-uses (when p+5 exists);
#     with n_parts=10 the dup-role partitions are {1, 6}: part 1 sources 20
#     ids to part 6, part 6 receives them -> metric 40 = 20 local + 20 cross
#     on both; every other partition 0.
#   - detail: dup-role partitions carry a 5% local dup rate > the screen's
#     3*rsd = 3% band -> locally flagged -> path=exact; the cross excess is
#     20/4000 = 0.5% < 3% of total rows, so the exact pass stays pruned to
#     the flagged partitions (which hold ALL injected cross ids) and the
#     clean partitions' verdicts rest on the sketch screen.
# tests/test_rules.py re-derives the same rows with a pure-pandas Counter
# over the generated corpus, independent of both this literal and the engine.
_GLOBAL_DUP_CFG = dict(n_parts=10, rows_per_part=400, cross_dup_frac=0.05)


def _global_dup_values_sql() -> str:
    from .datagen import GenConfig, expected_global_dup_ids, part_role

    cfg = GenConfig(**_GLOBAL_DUP_CFG)
    exp = expected_global_dup_ids(cfg)
    rows = []
    for pid in range(cfg.n_parts):
        m = float(exp[pid])
        flagged = part_role(pid) == "dup"  # 5% local rate > 3*rsd band
        detail = (
            "path=exact scope=global" if flagged else "path=screen scope=global"
        )
        rows.append(
            f"({pid}, 'uniqueness', {'FALSE' if m else 'TRUE'}, {m!r}, 0.0, "
            f"'{detail}')"
        )
    body = ",\n      ".join(rows)
    return f"""
    SELECT CAST(part_id AS INTEGER) AS part_id, rule_id,
           CAST(passed AS BOOLEAN) AS passed,
           CAST(metric AS DOUBLE) AS metric,
           CAST(threshold AS DOUBLE) AS threshold,
           CAST(detail AS VARCHAR) AS detail
    FROM (VALUES
      {body}
    ) AS t(part_id, rule_id, passed, metric, threshold, detail)
    ORDER BY part_id
    """


@query("global_uniqueness_verdicts", _global_dup_values_sql())
def global_uniqueness_verdicts(spark, sf_dir):
    """R2 at GLOBAL scope: doc_ids duplicated ACROSS partitions (reference
    semantics: corpus-wide Counter over keys,
    /root/reference/curation/check_fackel_references.py:32,55 — the report is
    keyed on the whole corpus, not per file). One aggregation pass builds
    per-partition Datasketches HLL sketches; sum(per-part estimates) minus
    the union-sketch estimate screens for cross-partition ids at zero extra
    scan cost, and only flagged scopes pay the exact 8-byte-hash group pass
    (operators/uniqueness.py: ``sketch_state``, ``screen``)."""
    from .datagen import GenConfig, sequences_df
    from .operators import uniqueness
    from .plans.rules import RuleContext

    cfg = GenConfig(**_GLOBAL_DUP_CFG)
    df = sequences_df(spark, cfg).cache()
    ctx = RuleContext(
        spark=spark,
        part_ids=list(range(cfg.n_parts)),
        params={"uniqueness": {"scope": "global"}},
    )
    return uniqueness.evaluate(df, ctx).verdicts.orderBy("part_id")


# File-delta INCREMENTAL validation under the external gate: first run
# validates a freshly generated corpus in full; a pure parquet append into
# the CLEAN partition then re-runs, and the rerun must (a) scan ONLY the
# appended rows, (b) skip every untouched partition with its stored verdict,
# and (c) flip the grown partition's verdict via the exact stats merge —
# proving the merged delta path reaches the same verdicts as a full rescan
# without paying for one. The oracle is a VALUES literal derived from the
# injection arithmetic (never captured from engine output):
#   - the badcol-role partition (part 2 of 5) plants exactly 6 defective
#     rows = 8 defect counters: 2 null n_tok, 2 zero n_tok (each also a
#     length mismatch), 2 n_tok off by +7 (datagen._gen_partition);
#   - the append adds _INCR_APPEND_CLEAN consistent rows plus
#     _INCR_APPEND_BAD rows whose n_tok disagrees with size(tokens), so the
#     merged metric of the clean partition is exactly _INCR_APPEND_BAD;
#   - run-1 scan = n_parts*rows_per_part rows, run-2 scan = only the
#     appended file's rows.
_INCR_CFG = dict(n_parts=5, rows_per_part=300)
_INCR_APPEND_CLEAN = 38
_INCR_APPEND_BAD = 2


def _incremental_values_sql() -> str:
    from .datagen import GenConfig, part_role

    cfg = GenConfig(**_INCR_CFG)
    # badcol defect counters: 2 null + 2 nonpos + 4 len-mismatch (the two
    # zero-n_tok rows mismatch their token length too)
    badcol_metric = 2.0 + 2.0 + 4.0
    append_rows = _INCR_APPEND_CLEAN + _INCR_APPEND_BAD
    rows = []
    for pid in range(cfg.n_parts):
        m = badcol_metric if part_role(pid) == "badcol" else 0.0
        rows.append(
            f"(1, {pid}, 'full', {'FALSE' if m else 'TRUE'}, {m!r}, "
            f"{cfg.n_parts * cfg.rows_per_part})"
        )
    for pid in range(cfg.n_parts):
        if pid == 0:  # clean partition grown by the append
            mode, m = "delta", float(_INCR_APPEND_BAD)
        else:
            mode, m = "skip", (
                badcol_metric if part_role(pid) == "badcol" else 0.0
            )
        rows.append(
            f"(2, {pid}, '{mode}', {'FALSE' if m else 'TRUE'}, {m!r}, "
            f"{append_rows})"
        )
    body = ",\n      ".join(rows)
    return f"""
    SELECT CAST(run_id AS INTEGER) AS run_id,
           CAST(part_id AS INTEGER) AS part_id,
           CAST(mode AS VARCHAR) AS mode,
           CAST(passed AS BOOLEAN) AS passed,
           CAST(metric AS DOUBLE) AS metric,
           CAST(run_scanned_rows AS BIGINT) AS run_scanned_rows
    FROM (VALUES
      {body}
    ) AS t(run_id, part_id, mode, passed, metric, run_scanned_rows)
    ORDER BY run_id, part_id
    """


@query("incremental_delta_verdicts", _incremental_values_sql())
def incremental_delta_verdicts(spark, sf_dir):
    """Append-only incremental validation (plans/incremental_stats.py): the
    rerun after a pure append reads exactly the added files, merges their
    stats into the stored per-partition state (integer-exact, so the merged
    verdict is bit-identical to a full recompute), and skips every untouched
    partition. Reference analog: the idempotent enrich re-runs that keep
    everything except derived matches
    (/root/reference/scripts/enrich_fackel_bibls.py:18-25), re-expressed as
    file-level lineage. Scale shape: state is O(files), the delta job is one
    partition-pruned-by-construction scan of ONLY the appended files."""
    import shutil
    import tempfile

    from .datagen import GenConfig, generate
    from .plans.incremental_stats import IncrementalStatsValidator
    from .sources.catalog import PartitionedTable

    cfg = GenConfig(**_INCR_CFG)
    work = tempfile.mkdtemp(prefix="incr_gate_")
    try:
        generate(spark, work, cfg)
        table = PartitionedTable(f"{work}/sequences")
        store = f"{work}/state.json"
        runs = [IncrementalStatsValidator(table, store).run(spark)]
        extra = [
            (f"A{i:04d}", [1, 2, 3], 3, "cases")
            for i in range(_INCR_APPEND_CLEAN)
        ] + [
            (f"B{i:04d}", [1, 2, 3], 3 + 5, "cases")
            for i in range(_INCR_APPEND_BAD)
        ]
        (
            spark.createDataFrame(
                extra,
                "doc_id string, tokens array<int>, n_tok int, source string",
            )
            # repartition, not coalesce: coalesce(1) over a parallelized
            # local relation walks every Python source partition serially in
            # one task (~6s, r6 measurement in datagen.generate)
            .repartition(1)
            .write.mode("append")
            .parquet(f"{work}/sequences/part_id=0")
        )
        # a fresh validator instance proves the state round-trips via disk
        runs.append(IncrementalStatsValidator(table, store).run(spark))
        out = []
        for run_id, r in enumerate(runs, start=1):
            for pid in sorted(r["parts"]):
                p = r["parts"][pid]
                out.append(
                    (
                        run_id,
                        pid,
                        p["mode"],
                        bool(p["passed"]),
                        float(p["metric"]),
                        int(r["scanned_rows"]),
                    )
                )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "run_id int, part_id int, mode string, passed boolean, "
        "metric double, run_scanned_rows bigint",
    ).orderBy("run_id", "part_id")


# End-to-end training-data preparation as ONE composed declarative plan —
# the statement query for "a user can run their whole prep pipeline here":
# exact dedup (keep lowest doc_id per canonical fingerprint) -> quality
# filter (length floor + Gopher repetition ceiling) -> deterministic hash
# split (train slice only) -> fixed-stride word chunking into training
# examples. Every stage is the registry operator it reuses
# (exact_dup_docs / doc_repetition_scores / doc_split_shards /
# doc_word_windows); composed they stay one Catalyst plan: the dedup
# aggregate is the only wide stage, everything after is narrow.
@query(
    "training_pipeline_sample",
    """
    WITH fp AS (
      SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents
    ),
    keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
    docs AS (
      SELECT d.doc_id, string_split(trim(d.text), ' ') AS ws
      FROM documents d JOIN keep USING (doc_id)
    ),
    q AS (
      SELECT doc_id, ws FROM docs
      WHERE len(ws) >= 20
        AND CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws) <= 0.6
    ),
    tr AS (
      SELECT doc_id, ws FROM q
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 % 100 AS INT) < 80
    ),
    idx AS (SELECT doc_id, ws, generate_subscripts(ws, 1) AS i FROM tr)
    SELECT doc_id, CAST((i - 1) / 10 AS INT) AS window_idx,
           array_to_string(ws[i:least(i + 9, len(ws))], ' ') AS chunk
    FROM idx WHERE (i - 1) % 10 = 0
    ORDER BY doc_id, window_idx
    """,
)
def training_pipeline_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    fp = d.select("doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fp"))
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    ws = F.split(F.trim(F.col("text")), " ")
    docs = d.join(keep, "doc_id").select("doc_id", ws.alias("ws"))
    rep = (F.size("ws") - F.size(F.array_distinct("ws"))).cast("double") / F.size("ws")
    q = docs.filter((F.size("ws") >= 20) & (rep <= 0.6))
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint") % 100
    ).cast("int")
    tr = q.filter(bucket < 80)
    words = F.col("ws")
    starts = F.sequence(
        F.lit(0),
        F.floor((F.size(words) - F.lit(1)) / F.lit(10)).cast("int"),
        F.lit(1),
    )
    chunks = F.transform(
        starts, lambda kk: F.concat_ws(" ", F.slice(words, kk * 10 + 1, F.lit(10)))
    )
    return tr.select(
        "doc_id", F.posexplode(chunks).alias("window_idx", "chunk")
    ).orderBy("doc_id", "window_idx")


# FAISS-style product quantization (operators/similarity.py::pq_*): codebook
# training (per-subspace L2 Lloyd's, one scan/round for all m subspaces),
# code-table compression (m small codes per vector instead of dim floats),
# ADC scoring via per-query literal lookup tables (m element_at lookups per
# candidate), distributed top-R, exact re-rank of R candidates only — the
# standard billion-vector architecture. Rows-only (iterative training isn't
# one SQL statement); pytest pins recall@5 vs brute force, the monotone
# training objective, and determinism.
@query("embedding_pq_topk", None)
def embedding_pq_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        e, k=5, n_queries=10, m=16, n_codes=16, rerank=50, n_iter=3
    ).orderBy("query_id", "rank")


# The full FAISS composition: IVF inverted lists prune the corpus to the
# probed fraction, PQ codes make scoring within lists m lookups, exact
# re-rank fixes the shortlist — rows-only; pytest pins recall.
@query("embedding_ivfpq_topk", None)
def embedding_ivfpq_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(
        e, k=5, n_queries=10, n_lists=8, n_probe=3, m=16, n_codes=16,
        rerank=50, n_iter=3,
    ).orderBy("query_id", "rank")


# Engine-built drift reference profiles (operators/profiles.py): bootstrap
# the per-source (n_tok quantile sketch, top-K token frequency) index from
# the clean partitions of the deterministic flagship corpus — flattened to
# hashable scalars.
#
# Oracle: the corpus is generated in-process (GenConfig(5, 400); sf_dir is
# ignored) so the 20 per-source rows are constants, pinned as a VALUES
# literal (verified identical under local[8] and local[32]). Circularity
# mitigation (the flagship's ADVICE item applies here too): the quantile
# values are INDEPENDENTLY re-derived in
# `tests/test_rules.py::test_built_profile_values_match_numpy_derivation`,
# which recomputes q50/q99 per source with numpy over the collected clean
# corpus (percentile_approx at accuracy=10000 on <=400-row groups is exact)
# and recounts the top-K vocabulary with collections.Counter — so a
# rule-logic bug at capture time would break the pytest derivation even
# though the literal matches. `test_engine_built_profiles_detect_drift`
# additionally proves the built profiles reproduce the analytic profiles'
# failing set end-to-end.
_PROFILE_ROWS = [
    ("cases", 47.0, 170.0, 16, 0), ("editions", 183.0, 807.0, 16, 0),
    ("fackel", 56.0, 198.0, 16, 0), ("web-00", 35.0, 105.0, 16, 0),
    ("web-01", 40.0, 170.0, 16, 0), ("web-02", 51.0, 115.0, 16, 0),
    ("web-03", 53.0, 162.0, 16, 0), ("web-04", 81.0, 271.0, 16, 0),
    ("web-05", 107.0, 375.0, 16, 0), ("web-06", 118.0, 171.0, 16, 0),
    ("web-07", 57.0, 507.0, 16, 0), ("web-08", 109.0, 238.0, 16, 0),
    ("web-09", 81.0, 227.0, 16, 0), ("web-10", 57.0, 151.0, 16, 0),
    ("web-11", 70.0, 144.0, 16, 0), ("web-12", 96.0, 157.0, 16, 0),
    ("web-13", 119.0, 178.0, 16, 0), ("web-14", 54.0, 190.0, 16, 0),
    ("web-15", 226.0, 226.0, 16, 0), ("web-16", 69.0, 69.0, 16, 0),
]


def _profile_values_sql() -> str:
    rows = ",\n      ".join(
        f"('{s}', {q50!r}, {q99!r}, {nt}, {mt})"
        for s, q50, q99, nt, mt in _PROFILE_ROWS
    )
    return f"""
    SELECT source, CAST(q50_ntok AS DOUBLE) AS q50_ntok,
           CAST(q99_ntok AS DOUBLE) AS q99_ntok,
           CAST(n_top_tokens AS INTEGER) AS n_top_tokens,
           CAST(min_top_token AS INTEGER) AS min_top_token
    FROM (VALUES
      {rows}
    ) AS t(source, q50_ntok, q99_ntok, n_top_tokens, min_top_token)
    ORDER BY source
    """


@query("built_reference_profiles", _profile_values_sql())
def built_reference_profiles(spark, sf_dir):
    from .datagen import GenConfig, sequences_df
    from .operators.profiles import build_reference_profiles

    cfg = GenConfig(n_parts=5, rows_per_part=400)
    clean = sequences_df(spark, cfg).filter((F.col("part_id") % 5) == 0)
    b = build_reference_profiles(clean, top_k=16)
    return b.select(
        "source",
        F.element_at("n_tok_quantiles", 50).alias("q50_ntok"),
        F.element_at("n_tok_quantiles", 99).alias("q99_ntok"),
        F.size(F.map_keys("token_freq")).alias("n_top_tokens"),
        F.array_min(F.map_keys("token_freq")).alias("min_top_token"),
    ).orderBy("source")


# PII redaction (operators/textstats.py::redact_pii): scrub emails and
# phone-shaped numbers before anything downstream sees the text — the
# map-only first pass of a training-data pipeline. The synthetic corpus
# carries no natural PII, so the fixture EMBEDS it deterministically from
# doc_id with expressions both engines evaluate identically (the redaction
# itself — RE2-safe regexes — is then a real cross-engine check, digest-
# compared on the scrubbed text).
@query(
    "doc_pii_redaction",
    """
    WITH aug AS (
      SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@mail.example or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' bye' AS text
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phones,
           md5(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'))
             AS clean_digest
    FROM aug ORDER BY doc_id
    """,
)
def doc_pii_redaction(spark, sf_dir):
    from .operators import textstats

    d = _t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" bye"),
        ).alias("text"),
    )
    r = textstats.redact_pii(aug)
    return r.select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.md5("clean_text").alias("clean_digest"),
    ).orderBy("doc_id")


# Data-mixing weights: per-source downsampling rates that equalize each
# source's token contribution to a uniform target mix (capped at 1.0 — a
# batch pipeline can only downsample). The arithmetic a mixture-tuning
# stage emits before sharding; two hash aggregations + one broadcast of a
# 1-row global total, exact integer counts and deterministic double
# division.
@query(
    "source_mixture_weights",
    """
    WITH t AS (
      SELECT source, count(*) AS n_docs,
             SUM(len(string_split(trim(text), ' '))) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total,
                   count(*) AS n_sources FROM t)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           least(1.0, (total / n_sources) / n_tokens) AS weight,
           CAST(floor(n_tokens * least(1.0, (total / n_sources) / n_tokens))
                AS BIGINT) AS expected_tokens
    FROM t, tot ORDER BY source
    """,
)
def source_mixture_weights(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    t = (
        d.select(
            "source",
            F.size(F.split(F.trim(F.col("text")), " ")).alias("n_tok"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    tot = t.agg(
        F.sum("n_tokens").cast("double").alias("total"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    weight = F.least(
        F.lit(1.0), (F.col("total") / F.col("n_sources")) / F.col("n_tokens")
    )
    return (
        t.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            weight.alias("weight"),
            F.floor(F.col("n_tokens") * weight).cast("bigint").alias(
                "expected_tokens"
            ),
        )
        .orderBy("source")
    )


# Boilerplate detection (CCNet-style): a doc's boilerplate ratio is the
# fraction of its distinct 3-gram shingles that occur in more than tau docs
# corpus-wide. The high-df "stop shingle" set is SMALL BY CONSTRUCTION when
# tau scales as a corpus fraction (|set| <= occurrences/tau), so the scale
# plan is: one shingle-count aggregation, broadcast the stop set, one
# left-semi count per doc — the corpus-wide shingle table is never join-
# shuffled against itself.
@query(
    "doc_boilerplate_ratio",
    """
    WITH w AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
    sh AS (SELECT DISTINCT doc_id, s FROM (
       SELECT doc_id, unnest(list_transform(range(1, len(ws)-1),
              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) s
       FROM w WHERE len(ws) >= 3)),
    boiler AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 20),
    nb AS (SELECT doc_id, count(*) AS n_boiler FROM sh
           WHERE s IN (SELECT s FROM boiler) GROUP BY doc_id),
    tot AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id)
    SELECT tot.doc_id, CAST(tot.n_shingles AS BIGINT) AS n_shingles,
           CAST(coalesce(nb.n_boiler, 0) AS BIGINT) AS n_boiler,
           CAST(coalesce(nb.n_boiler, 0) AS DOUBLE) / tot.n_shingles
             AS boiler_ratio
    FROM tot LEFT JOIN nb USING (doc_id) ORDER BY doc_id
    """,
)
def doc_boilerplate_ratio(spark, sf_dir):
    # two corpus passes total: one to aggregate shingle df (the stop set),
    # one broadcast-left-join + single per-doc aggregate for BOTH counters —
    # not one pass per counter
    d = _t(spark, sf_dir, "documents")
    sh = dedup.shingles(d, 3)
    boiler = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 20)
        .select("shingle", F.lit(1).alias("is_boiler"))
    )
    # No broadcast hint: the boiler set is every shingle with df>20, which
    # grows with corpus vocabulary — at 100 TB it would blow Spark's 8 GB
    # broadcast cap. The join is a plain equi-join on `shingle`; AQE picks
    # broadcast when the stop set happens to be small and falls back to a
    # shuffled hash join when it isn't.
    flagged = sh.join(boiler, "shingle", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("is_boiler", F.lit(0))).alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            (F.col("n_boiler").cast("double") / F.col("n_shingles")).alias(
                "boiler_ratio"
            ),
        )
        .orderBy("doc_id")
    )


# Composed corpus-health report: the one-stop per-source summary a data
# curator reads before a training run — doc counts, exact-dup exposure
# (via the same canonical md5 fingerprint the dedup ladder uses, counted
# with a window over fp so no dup-set is ever collected or broadcast),
# trainable rate under the pipeline's quality gate (>=20 words, repetition
# <= 0.6 — same predicates as training_pipeline_sample), mean words per doc
# (one exact integer sum, one double division), and language spread.
@query(
    "corpus_health_report",
    """
    WITH f AS (
      SELECT doc_id, source, lang,
             len(string_split(trim(text), ' ')) AS n_words,
             len(string_split(trim(text), ' '))
               - len(list_distinct(string_split(trim(text), ' '))) AS n_rep,
             md5(lower(trim(text))) AS fp
      FROM documents),
    g AS (SELECT *, count(*) OVER (PARTITION BY fp) AS n_fp FROM f)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_fp > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(sum(CASE WHEN n_words >= 20
                          AND CAST(n_rep AS DOUBLE) / n_words <= 0.6
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_trainable,
           CAST(sum(CASE WHEN n_words >= 20
                          AND CAST(n_rep AS DOUBLE) / n_words <= 0.6
                     THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS trainable_rate,
           CAST(sum(n_words) AS DOUBLE) / count(*) AS mean_words,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM g GROUP BY source ORDER BY source
    """,
)
def corpus_health_report(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.col("text")), " ")
    f = d.select(
        "doc_id",
        "source",
        "lang",
        F.size(ws).alias("n_words"),
        (F.size(ws) - F.size(F.array_distinct(ws))).alias("n_rep"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
    )
    g = f.withColumn(
        "n_fp", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    )
    trainable = F.when(
        (F.col("n_words") >= 20)
        & (F.col("n_rep").cast("double") / F.col("n_words") <= 0.6),
        1,
    ).otherwise(0)
    return (
        g.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_fp") > 1, 1).otherwise(0)).alias(
                "n_dup_docs"
            ),
            F.sum(trainable).alias("n_trainable"),
            (F.sum(trainable).cast("double") / F.count(F.lit(1))).alias(
                "trainable_rate"
            ),
            (F.sum("n_words").cast("double") / F.count(F.lit(1))).alias(
                "mean_words"
            ),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("source")
    )


# Constraint suggestion (operators/suggest.py): ONE aggregation pass
# profiles every column (completeness, distinctness, numeric range), a
# second pass collects value domains ONLY for measured-low-cardinality
# string columns — the Deequ-style bootstrap for pointing the validation
# engine at an unfamiliar corpus. exact=True here for oracle parity; the
# 10^12-row default is approx_count_distinct (HLL), asserted equivalent at
# test scale in tests/test_ops_misc.py.
@query(
    "suggested_constraints",
    """
    WITH s AS (
      SELECT count(*) AS n,
        count(doc_id) AS nn_doc, count(DISTINCT doc_id) AS d_doc,
        min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        count(text) AS nn_text, count(DISTINCT text) AS d_text,
        count(lang) AS nn_lang, count(DISTINCT lang) AS d_lang,
        count(source) AS nn_src, count(DISTINCT source) AS d_src,
        count(n_chars) AS nn_nc, count(DISTINCT n_chars) AS d_nc,
        min(n_chars) AS min_nc, max(n_chars) AS max_nc
      FROM documents)
    SELECT col_name, constraint_kind, suggested_value, support FROM (
      SELECT 'doc_id' AS col_name, 'not_null' AS constraint_kind,
             '' AS suggested_value, 1.0 AS support
      FROM s WHERE nn_doc = n AND n > 0
      UNION ALL SELECT 'doc_id', 'unique', '', CAST(d_doc AS DOUBLE)/nn_doc
      FROM s WHERE nn_doc > 0 AND CAST(d_doc AS DOUBLE)/nn_doc >= 0.99
      UNION ALL SELECT 'doc_id', 'min_ge', CAST(min_doc AS VARCHAR), 1.0
      FROM s WHERE nn_doc > 0
      UNION ALL SELECT 'doc_id', 'max_le', CAST(max_doc AS VARCHAR), 1.0
      FROM s WHERE nn_doc > 0
      UNION ALL SELECT 'text', 'not_null', '', 1.0
      FROM s WHERE nn_text = n AND n > 0
      UNION ALL SELECT 'text', 'unique', '', CAST(d_text AS DOUBLE)/nn_text
      FROM s WHERE nn_text > 0 AND CAST(d_text AS DOUBLE)/nn_text >= 0.99
      UNION ALL SELECT 'lang', 'not_null', '', 1.0
      FROM s WHERE nn_lang = n AND n > 0
      UNION ALL SELECT 'lang', 'unique', '', CAST(d_lang AS DOUBLE)/nn_lang
      FROM s WHERE nn_lang > 0 AND CAST(d_lang AS DOUBLE)/nn_lang >= 0.99
      UNION ALL SELECT 'lang', 'is_in',
        (SELECT string_agg(v, ',' ORDER BY v)
         FROM (SELECT DISTINCT lang AS v FROM documents
               WHERE lang IS NOT NULL)), 1.0
      FROM s WHERE d_lang BETWEEN 1 AND 32
      UNION ALL SELECT 'source', 'not_null', '', 1.0
      FROM s WHERE nn_src = n AND n > 0
      UNION ALL SELECT 'source', 'unique', '', CAST(d_src AS DOUBLE)/nn_src
      FROM s WHERE nn_src > 0 AND CAST(d_src AS DOUBLE)/nn_src >= 0.99
      UNION ALL SELECT 'source', 'is_in',
        (SELECT string_agg(v, ',' ORDER BY v)
         FROM (SELECT DISTINCT source AS v FROM documents
               WHERE source IS NOT NULL)), 1.0
      FROM s WHERE d_src BETWEEN 1 AND 32
      UNION ALL SELECT 'n_chars', 'not_null', '', 1.0
      FROM s WHERE nn_nc = n AND n > 0
      UNION ALL SELECT 'n_chars', 'unique', '', CAST(d_nc AS DOUBLE)/nn_nc
      FROM s WHERE nn_nc > 0 AND CAST(d_nc AS DOUBLE)/nn_nc >= 0.99
      UNION ALL SELECT 'n_chars', 'min_ge', CAST(min_nc AS VARCHAR), 1.0
      FROM s WHERE nn_nc > 0
      UNION ALL SELECT 'n_chars', 'max_le', CAST(max_nc AS VARCHAR), 1.0
      FROM s WHERE nn_nc > 0
    ) ORDER BY col_name, constraint_kind
    """,
)
def suggested_constraints(spark, sf_dir):
    from .operators.suggest import suggest_constraints

    d = _t(spark, sf_dir, "documents")
    return suggest_constraints(
        d,
        columns=["doc_id", "text", "lang", "source", "n_chars"],
        exact=True,
    )


# The full Deequ-style loop: profile a trusted reference slice (4 named
# sources), accept its suggestions, enforce them corpus-wide — one grouped
# aggregate emits every (source, constraint) verdict. The oracle mirrors
# BOTH stages in SQL: the `cons` CTE reproduces the suggester's emission
# conditions (not_null iff zero nulls, is_in iff 0<distinct<=32, range iff a
# numeric min exists; `unique` is never enforced — from_suggestions skips
# it), the outer aggregate reproduces the null-safe violation predicates.
@query(
    "constraint_suggest_enforce",
    """
    WITH ref AS (
      SELECT lang, n_chars FROM documents
      WHERE source IN ('src0','src1','src2','src3')),
    prof AS (
      SELECT count(*) AS n, count(lang) AS nn_lang,
             count(DISTINCT lang) AS d_lang, count(n_chars) AS nn_nc,
             min(n_chars) AS mn, max(n_chars) AS mx
      FROM ref),
    cons AS (
      SELECT 'is_in:lang' AS constraint_id FROM prof
      WHERE d_lang BETWEEN 1 AND 32
      UNION ALL SELECT 'not_null:lang' FROM prof WHERE n > 0 AND nn_lang = n
      UNION ALL SELECT 'max_le:n_chars' FROM prof WHERE mx IS NOT NULL
      UNION ALL SELECT 'min_ge:n_chars' FROM prof WHERE mn IS NOT NULL
      UNION ALL SELECT 'not_null:n_chars' FROM prof WHERE n > 0 AND nn_nc = n)
    SELECT d.source AS group_key, c.constraint_id,
           CAST(sum(CASE c.constraint_id
             WHEN 'is_in:lang' THEN CASE WHEN d.lang IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM ref r WHERE r.lang = d.lang)
               THEN 1 ELSE 0 END
             WHEN 'not_null:lang' THEN
               CASE WHEN d.lang IS NULL THEN 1 ELSE 0 END
             WHEN 'min_ge:n_chars' THEN CASE WHEN d.n_chars IS NOT NULL
               AND d.n_chars < p.mn THEN 1 ELSE 0 END
             WHEN 'max_le:n_chars' THEN CASE WHEN d.n_chars IS NOT NULL
               AND d.n_chars > p.mx THEN 1 ELSE 0 END
             WHEN 'not_null:n_chars' THEN
               CASE WHEN d.n_chars IS NULL THEN 1 ELSE 0 END
           END) AS BIGINT) AS n_violations,
           sum(CASE c.constraint_id
             WHEN 'is_in:lang' THEN CASE WHEN d.lang IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM ref r WHERE r.lang = d.lang)
               THEN 1 ELSE 0 END
             WHEN 'not_null:lang' THEN
               CASE WHEN d.lang IS NULL THEN 1 ELSE 0 END
             WHEN 'min_ge:n_chars' THEN CASE WHEN d.n_chars IS NOT NULL
               AND d.n_chars < p.mn THEN 1 ELSE 0 END
             WHEN 'max_le:n_chars' THEN CASE WHEN d.n_chars IS NOT NULL
               AND d.n_chars > p.mx THEN 1 ELSE 0 END
             WHEN 'not_null:n_chars' THEN
               CASE WHEN d.n_chars IS NULL THEN 1 ELSE 0 END
           END) = 0 AS passed
    FROM documents d CROSS JOIN cons c CROSS JOIN prof p
    GROUP BY d.source, c.constraint_id
    ORDER BY group_key, constraint_id
    """,
)
def constraint_suggest_enforce(spark, sf_dir):
    from .operators import constraints as C
    from .operators.suggest import suggest_constraints

    d = _t(spark, sf_dir, "documents")
    ref = d.filter(F.col("source").isin("src0", "src1", "src2", "src3"))
    cons = C.from_suggestions(
        suggest_constraints(ref, columns=["lang", "n_chars"], exact=True)
    )
    return C.constraint_verdicts(d, cons, "source").orderBy(
        "group_key", "constraint_id"
    )


# ===========================================================================
# Layout health: partition balance / skew report. The operational question
# behind every salting decision in this engine ("is this key skewed enough
# to hurt?") asked AS a validation rule: per partition-key value, rows and
# payload size vs the across-key mean, with a rebalance flag. One partial
# aggregation (map-side combine) to |keys| rows, then a crossJoin against
# the broadcast 1-row global total — the fact table is scanned once and
# never shuffled beyond the per-key partials, so the report costs the same
# as any count-by-key at 10^12 rows. Skew ratios are single divisions of
# exact integer products (bit-identical across engines). Reference analog:
# the per-index size accounting in scripts/make_report.py (counts per
# category before rendering) — reimagined as a skew detector.
# ===========================================================================

@query(
    "partition_balance_report",
    """
    WITH g AS (SELECT lang, count(*) AS n_rows,
                      CAST(sum(n_chars) AS BIGINT) AS payload_chars
               FROM documents GROUP BY lang),
    t AS (SELECT sum(n_rows) AS t_rows, sum(payload_chars) AS t_chars,
                 count(*) AS n_groups FROM g)
    SELECT g.lang, g.n_rows, g.payload_chars,
           CAST(g.n_rows * t.n_groups AS DOUBLE) / CAST(t.t_rows AS DOUBLE)
             AS row_skew,
           CAST(g.payload_chars * t.n_groups AS DOUBLE)
             / CAST(t.t_chars AS DOUBLE) AS char_skew,
           (CAST(g.n_rows * t.n_groups AS DOUBLE) / CAST(t.t_rows AS DOUBLE)
              > 1.5
            OR CAST(g.payload_chars * t.n_groups AS DOUBLE)
              / CAST(t.t_chars AS DOUBLE) > 1.5) AS needs_rebalance
    FROM g CROSS JOIN t ORDER BY lang
    """,
)
def partition_balance_report(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("payload_chars"),
    )
    t = g.agg(
        F.sum("n_rows").alias("t_rows"),
        F.sum("payload_chars").alias("t_chars"),
        F.count(F.lit(1)).alias("n_groups"),
    )
    j = g.crossJoin(F.broadcast(t))
    row_skew = (F.col("n_rows") * F.col("n_groups")).cast("double") / F.col(
        "t_rows"
    ).cast("double")
    char_skew = (F.col("payload_chars") * F.col("n_groups")).cast(
        "double"
    ) / F.col("t_chars").cast("double")
    return j.select(
        "lang",
        "n_rows",
        "payload_chars",
        row_skew.alias("row_skew"),
        char_skew.alias("char_skew"),
        ((row_skew > 1.5) | (char_skew > 1.5)).alias("needs_rebalance"),
    ).orderBy("lang")


# ===========================================================================
# Sample-based validation with an integer-exact Wilson bound. At 10^12 rows
# some rules are affordable only on a sample; the statistically honest form
# reports the CONFIDENCE BOUND on the violation rate, not the point
# estimate. The sample is deterministic (first md5-hex digit of doc_id ==
# '0', a fixed 1/16 — reruns and both engines select identical rows; at
# scale the same predicate pushes into the scan as a cheap string filter).
# The z=2 Wilson upper bound "upper <= p0" is evaluated WITHOUT float
# algebra: for p0 = 1/5 and z = 2 (upper = (v + 2 + 2*sqrt(v(n-v)/n + 1))
# / (n + 4)), the test "upper(v, n) <= 0.2" is algebraically equivalent to
#     A = n + 4 - 5*(v + 2) >= 0   AND   100*(v*(n - v) + n) <= n*A*A
# (square both sides of 2*sqrt((v(n-v)+n)/n) <= A/5, all integer products)
# so the verdict is exact in both engines — Spark uses DECIMAL(38,0),
# DuckDB HUGEINT; no double rounding can flip it. The only float emitted is
# the single division v/n. Fits DECIMAL(38,0) up to n ~ 10^12 per group.
# ===========================================================================

@query(
    "sampled_quality_check",
    """
    WITH s AS (SELECT lang, n_chars FROM documents
               WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'),
    a AS (SELECT lang,
                 CAST(count(*) AS BIGINT) AS sample_n,
                 CAST(sum(CASE WHEN n_chars < 150 THEN 1 ELSE 0 END)
                      AS BIGINT) AS viol_n
          FROM s GROUP BY lang)
    SELECT lang, sample_n, viol_n,
           CAST(viol_n AS DOUBLE) / CAST(sample_n AS DOUBLE) AS viol_rate,
           (CAST(sample_n AS HUGEINT) + 4 - 5 * (CAST(viol_n AS HUGEINT) + 2)
              >= 0
            AND 100 * (CAST(viol_n AS HUGEINT)
                       * (CAST(sample_n AS HUGEINT) - CAST(viol_n AS HUGEINT))
                       + CAST(sample_n AS HUGEINT))
                <= CAST(sample_n AS HUGEINT)
                   * (CAST(sample_n AS HUGEINT) + 4
                      - 5 * (CAST(viol_n AS HUGEINT) + 2))
                   * (CAST(sample_n AS HUGEINT) + 4
                      - 5 * (CAST(viol_n AS HUGEINT) + 2)))
             AS wilson_pass
    FROM a ORDER BY lang
    """,
)
def sampled_quality_check(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    s = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    )
    a = s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("sample_n"),
        F.sum(F.when(F.col("n_chars") < 150, 1).otherwise(0)).alias("viol_n"),
    )
    n = F.col("sample_n").cast("decimal(38,0)")
    v = F.col("viol_n").cast("decimal(38,0)")
    big_a = n + F.lit(4) - F.lit(5) * (v + F.lit(2))
    return a.select(
        "lang",
        "sample_n",
        "viol_n",
        (
            F.col("viol_n").cast("double") / F.col("sample_n").cast("double")
        ).alias("viol_rate"),
        (
            (big_a >= 0)
            & (F.lit(100) * (v * (n - v) + n) <= n * big_a * big_a)
        ).alias("wilson_pass"),
    ).orderBy("lang")


@query(
    "docs_cube_counts",
    """
    SELECT COALESCE(lang, '(all)') AS lang_grp,
           COALESCE(source, '(all)') AS source_grp,
           CAST(GROUPING(lang) + 2 * GROUPING(source) AS INTEGER)
             AS grouping_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY CUBE(lang, source)
    ORDER BY lang_grp, source_grp
    """,
)
def docs_cube_counts(spark, sf_dir):
    """§2.5 multi-granularity aggregation: CUBE(lang, source) — per-pair,
    per-lang, per-source, and grand-total counts in ONE pass (the reference
    computes its coverage counters at several granularities in separate
    dict walks, e.g. the per-category and total tallies of
    ``/root/reference/curation/check_fackel_references.py:24-35``; CUBE is
    the engine's one-shuffle form: Spark's Expand emits the 4 grouping sets
    map-side and the partial aggregation collapses them before the single
    exchange — no per-granularity rescan). ``grouping_id`` disambiguates a
    real value from a rolled-up margin exactly as SQL GROUPING() does;
    testdata lang/source are non-null, so the '(all)' labels are
    unambiguous. Scale: output is |lang x source| + |lang| + |source| + 1
    rows — bounded by dimension cardinalities, not corpus size."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.cube("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("(all)")).alias("lang_grp"),
            F.coalesce(F.col("source"), F.lit("(all)")).alias("source_grp"),
            (
                F.when(F.col("lang").isNull(), 1).otherwise(0)
                + F.lit(2) * F.when(F.col("source").isNull(), 1).otherwise(0)
            )
            .cast("int")
            .alias("grouping_id"),
            "n_docs",
            "total_chars",
        )
        .orderBy("lang_grp", "source_grp")
    )


# ===========================================================================
# Driver-gate ordering. The driver's CORRECTNESS gate records only the FIRST
# 50 registry entries in iteration order, so the registry is explicitly
# reordered here: the gated window covers (a) one exemplar for every
# SURVEY.md §2 operator family and (b) the scale-critical pipeline set
# (dedup ladder, ANN + recall, salted skew join, temporal as-of, flagship
# rule suite). Entries outside the window still get hard value-checks every
# round from the sf0.01 oracle self-gate (`tests/test_entry_oracle.py`
# compares ALL oracled queries).
#
# ROTATION SCHEDULE (one rotation per round, so every oracled entry earns a
# driver hash row within a few rounds):
#   r3: rotated IN the round-2 dedup/ANN/OLAP set that round 2's insertions
#       had pushed out.
#   r4 (this round): rotated OUT 18 r1-r3-proven-stable exemplars whose §2
#       family stays covered by another gated entry (noted per line below);
#       rotated IN the 18 never-gated entries: the training-prep set
#       (training_pipeline_sample, vocab_ids, doc_split_shards,
#       packed_char_bins, doc_word_windows), temporal sessions/funnel,
#       contamination + tf-idf, repetition scores, stratified sampling,
#       pivot/unpivot, the ranking-window family, correlation, the digest
#       invariant, bigram top-k, and the (newly VALUES-oracled) profile
#       builder; date_range_extract stays gated as the sole §2.8
#       date-family exemplar (17 never-gated ins).
#   r4 (late): swapped IN incremental_delta_verdicts (the round's new
#       file-delta incremental-validation family, analytic VALUES oracle)
#       for custkeys_both_statuses (§2.7 stays covered by except + union).
#   r5 (planned): rotate the r4 outs' remaining never-gated siblings IN
#       (custkeys_both_statuses, session_funnel, orders_by_month, urgent_orders_gapfilled, doc_chars_histogram,
#       event_json_export, doc_word_membership, approx_distinct_users,
#       user_rolling_value, source_vocab_overlap, chars_quartiles pair,
#       source_lang_map, props_variant_stats, embedding_topk/dup_pairs,
#       simhash_near_dups, sketch quantiles) against the r4 ins that prove
#       stable, keeping the per-family exemplar constraint; plus the
#       round-4-late additions (suggested_constraints,
#       constraint_suggest_enforce, dup_token_spans, doc_lm_scores,
#       semantic_dedup_pairs) once they have an oracle-self-gate round
#       behind them.
# ===========================================================================

# Rotation schedule (advisor-requested): the driver hash-gates the FIRST 50
# registry entries each round, so the window rotates to earn every oracled
# entry a driver row while keeping one exemplar per SURVEY §2 family pinned.
# - r3 gated: the original exemplar set (see CORRECTNESS_r03.json keys).
# - r4 gated (below): 21 never-gated oracled entries rotated in; displaced
#   exemplars' families stay covered per the inline notes.
# - r5 (APPLIED below): rotated the proven-stable r4 additions (training_pipeline_sample,
#   vocab_ids, bigram_top15, doc_split_shards, packed_char_bins,
#   doc_word_windows, event_sessions, benchmark_contamination,
#   tfidf_top_terms, doc_repetition_scores, stratified_doc_sample,
#   event_type_pivot/unpivot, user_event_rank_family, chars_words_corr,
#   embedding_digest_invariant) back out for the remaining never-gated
#   ORACLED tail: session_funnel, custkeys_both_statuses, orders_by_month,
#   urgent_orders_gapfilled, event_json_export, doc_word_membership,
#   doc_chars_histogram, doc_lm_scores, dup_token_spans, embedding_topk,
#   embedding_dup_pairs, user_rolling_value, source_vocab_overlap,
#   chars_quartiles_by_lang, source_lang_map, props_variant_stats,
#   global_uniqueness_verdicts, doc_pii_redaction, source_mixture_weights,
#   doc_boilerplate_ratio, corpus_health_report, suggested_constraints,
#   constraint_suggest_enforce, partition_balance_report,
#   sampled_quality_check, seq_structure_violations, docs_cube_counts,
#   dedup_keep_list (28 slots — every oracled entry then has had a
#   driver hash row within two rounds of landing). The rows-only entries
#   (ANN/sketch/stub families) stay covered by ann_recall_at5 + pytest.
GATED_ORDER = [
    # --- §2 exemplars (one per operator family, pinned) -------------------
    "pricing_summary",            # A1/A6 aggregation
    "revenue_by_nation",          # S2/J1 broadcast dim join
    "customers_with_orders",      # J3 left-semi
    "orders_rich_customer_misses",  # P5/J9 null-branch outer join
    "source_doc_multimap",        # J6/A4 explode-then-join multimap
    "user_event_type_sets",       # A9 distinct-set per group
    "event_type_key_rewrite",     # J8 self-referential update join
    "coalesce_fallback_chain",    # P3/P8/P9 fallback chain
    "supplier_geo_wkt",           # §2.8 geo WKT (sole geo exemplar)
    "union_lang_subsets",         # §2.7 union + P4/P7 predicates
    "incremental_delta_verdicts",  # §2.9 incremental/file-delta validation
    "doc_column_stats",           # A10/R1 single-pass column stats
    "doc_referential_violations",  # J2/R3 left-anti referential
    "doc_source_drift",           # §2.10/R4 KS drift applyInPandas
    "doc_lang_id",                # text-pipeline lang-id
    "inverse_property_swap",      # §2.10 SPARQL inverse-property swap
    "normalized_source_urls",     # §2.8/§2.10 URL canon pandas_udf + J7/P2
    "vocab_ids",                  # W2 surrogate ids / A3 two-stage rank
    #   (kept gated: sole W2 exemplar after the r5 rotation)
    "date_range_extract",         # §2.8 date family (ISO range parsing)
    "chars_band_join",            # range/band join (sole exemplar)
    "ann_recall_at5",             # ANN quality, all 5 methods, every round
    "validation_suite_verdicts",  # flagship, VALUES-literal oracle
    # --- r5 rotation: the 28 remaining never-gated ORACLED entries --------
    # Displaced r4/r3 entries all hold r3/r4 driver hash rows; family
    # coverage notes per line. With this window every oracled registry
    # entry has earned a driver hash row within two rounds of landing.
    "session_funnel",             # W1 ordered event sequences
    "custkeys_both_statuses",     # §2.7 intersect (except exemplar
    #   custkeys_only_finished rotated out with its r1-r4 hash rows;
    #   set-op family stays covered by intersect + union)
    "orders_by_month",            # date-truncated grouping
    "urgent_orders_gapfilled",    # W4 gap-fill / last-preceding
    #   (covers as-of family: last_error_asof rotated out)
    "event_json_export",          # S6 JSON report sink
    "doc_word_membership",        # §2.8 array membership
    #   (covers array family: embedding_digest_invariant rotated out)
    "doc_chars_histogram",        # width_bucket histogram agg
    "doc_lm_scores",              # bigram-LM text scoring
    "dup_token_spans",            # J5 windowed-shingle equi-join dedup
    #   (covers containment-join family: benchmark_contamination out)
    "embedding_topk",             # §2.6 exact top-k cosine baseline
    "embedding_dup_pairs",        # banded cosine dup pairs (brute baseline)
    "user_rolling_value",         # W rolling window aggregate
    "source_vocab_overlap",       # set-overlap aggregation
    "chars_quartiles_by_lang",    # exact percentile agg
    #   (covers quantile family: event_value_quantiles rotated out)
    "source_lang_map",            # §2.8 map aggregation
    "props_variant_stats",        # §2.8 json/variant stats
    #   (with source_lang_map covers map/json: props_json_buckets out)
    "global_uniqueness_verdicts",  # R2 global HLL sketch-union uniqueness
    "doc_pii_redaction",          # §2.8 regex redaction chain
    "source_mixture_weights",     # mixture-weight aggregation
    "doc_boilerplate_ratio",      # boilerplate shingle ratio
    "corpus_health_report",       # composed corpus health metrics
    "suggested_constraints",      # Deequ-style suggestion
    "constraint_suggest_enforce",  # suggest->enforce round-trip
    "partition_balance_report",   # partition skew diagnostics
    "sampled_quality_check",      # P10 deterministic sampling gate
    #   (covers sampling family: stratified_doc_sample rotated out)
    "seq_structure_violations",   # BOS/EOS/PAD sequence-structure rule
    "docs_cube_counts",           # CUBE multi-granularity agg
    #   (covers grouping-sets family: revenue_rollup rotated out)
    "dedup_keep_list",            # A2/A8/J4 canonical keep-list per cluster
    #   (max-struct tie-break + join back covers the dedup ladder's gated
    #   slot: exact_dup/ngram_jaccard/minhash*/dup_clusters all rotated out
    #   with r3+r4 hash rows; salted_hot_word_join out — salting stays
    #   covered by doc_column_stats' salted single-pass)
]


def _apply_gated_order() -> None:
    assert len(GATED_ORDER) == 50, len(GATED_ORDER)
    missing = [n for n in GATED_ORDER if n not in Q]
    assert not missing, f"GATED_ORDER names not in registry: {missing}"
    ordered = GATED_ORDER + [n for n in Q if n not in set(GATED_ORDER)]
    for d in (Q, ORACLE):
        tail = {n: d[n] for n in ordered if n in d}
        d.clear()
        d.update(tail)


_apply_gated_order()
