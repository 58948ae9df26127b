"""Relational spine queries over the TPC-H-ish star schema.

These re-express the reference's hand-written RDD patterns as
declarative DataFrame plans (SURVEY.md §2.3-2.7):

- scan + projection + predicate  (reference: manual CQL select/where,
  batch/AccuracyAnalysis.scala:116-117)
- group-aggregate with partial aggregation (reference: combineByKey,
  GeolookupTableUpdateApp.scala:206-214)
- equi-joins with automatic strategy selection (reference: pair-RDD
  shuffle joins, service/DeliveryLocationRefinementService.scala:44)
- anti/semi joins (reference: per-row CQL existence probes,
  service/GeoCodeService.scala:167-179)
- full-outer key-ratio joins (reference: key-set union + per-key ratio,
  batch/GeoTagEventIntersection.scala:56-92)
- window top-k per group (reference: takeRight caps + argmax dedup,
  service/GeoTagOptimizedService.scala:245-247)

Scale notes (100 TB): only genuinely bounded dimensions (region = 5
rows, nation = 25 rows at every SF) carry broadcast hints; tables
that scale with the data (customer, supplier, orders, lineitem) are
left to AQE's runtime strategy choice. Everything else shuffles on
the natural join key with AQE handling skew; aggregates
are expressed so Catalyst plans partial (map-side) aggregation.
Money sums are taken over the money columns cast to their TPC-H type,
DECIMAL(15,2), on BOTH engine and oracle side: the sums are exact, so
rounding to 2 decimals gives the same cent in every engine and every
summation order. Over doubles an exact total of 397487.715 summed to
397487.71499999997, which DuckDB rounded to .72 and Spark to .71. Each
rounded sum is cast back to DOUBLE, so the output schemas are
unchanged.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast, col

from pulsar_spark_spark.plans.registry import query
from pulsar_spark_spark.sources.tables import load_table


def _money(name: str) -> Column:
    """A money column at its TPC-H type, DECIMAL(15,2)."""
    return col(name).cast("decimal(15,2)")


def _money_sum(amount: Column) -> Column:
    """Exact sum of a DECIMAL money expression, rounded to cents and
    cast back to DOUBLE."""
    return F.round(F.sum(amount), 2).cast("double")


# --------------------------------------------------------------------
# q1: pricing summary (flagship; scan→filter→group→agg→sort)
# --------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
        SELECT
            l_returnflag,
            l_linestatus,
            round(sum(l_quantity), 2)                                    AS sum_qty,
            CAST(round(sum(p), 2) AS DOUBLE)                             AS sum_base_price,
            CAST(round(sum(p * (1 - d)), 2) AS DOUBLE)                   AS sum_disc_price,
            CAST(round(sum(p * (1 - d) * (1 + t)), 2) AS DOUBLE)         AS sum_charge,
            round(avg(l_quantity), 4)                                    AS avg_qty,
            round(avg(l_extendedprice), 4)                               AS avg_price,
            round(avg(l_discount), 4)                                    AS avg_disc,
            count(*)                                                     AS count_order
        FROM (
            SELECT *,
                   CAST(l_extendedprice AS DECIMAL(15,2)) AS p,
                   CAST(l_discount AS DECIMAL(15,2))      AS d,
                   CAST(l_tax AS DECIMAL(15,2))           AS t
            FROM lineitem
        ) lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary.

    Single wide scan → hash aggregate. Catalyst plans a partial
    aggregate before the shuffle (2 group keys × handful of rows cross
    partitions), so at 100 TB the shuffle moves only
    |partitions|×|groups| pre-aggregated rows.
    """
    li = load_table(spark, "lineitem", sf_dir)
    disc_price = _money("l_extendedprice") * (1 - _money("l_discount"))
    return (
        li.filter(col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            _money_sum(_money("l_extendedprice")).alias("sum_base_price"),
            _money_sum(disc_price).alias("sum_disc_price"),
            _money_sum(disc_price * (1 + _money("l_tax"))).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------
# q3: shipping priority (3-way join + group + top-k)
# --------------------------------------------------------------------
@query(
    "q3_shipping_priority",
    oracle="""
        SELECT
            l.l_orderkey                                            AS l_orderkey,
            CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(15,2))
                           * (1 - CAST(l.l_discount AS DECIMAL(15,2)))), 2)
                 AS DOUBLE)                                         AS revenue,
            o.o_orderdate                                           AS o_orderdate
        FROM customer c
        JOIN orders o    ON c.c_custkey = o.o_custkey
        JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l.l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: filtered dims joined to the fact, top-10 revenue.

    orders⋈lineitem shuffles on the orderkey. customer is NOT
    broadcast-hinted: it scales with the fact tables in TPC-H (at the
    100 TB target it is fact-sized and a forced broadcast would OOM
    the driver) — AQE picks broadcast at small SFs from runtime stats
    and falls back to shuffled join at scale. Deterministic tiebreak
    on l_orderkey for the LIMIT.
    """
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    c = load_table(spark, "customer", sf_dir).filter(col("c_mktsegment") == "BUILDING")
    o = load_table(spark, "orders", sf_dir).filter(col("o_orderdate") < cutoff)
    li = load_table(spark, "lineitem", sf_dir).filter(col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            _money_sum(_money("l_extendedprice") * (1 - _money("l_discount"))).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(col("revenue").desc(), col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------
# q5: local supplier volume (5-way join through region)
# --------------------------------------------------------------------
@query(
    "q5_region_revenue",
    oracle="""
        SELECT
            n.n_name                                               AS n_name,
            CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(15,2))
                           * (1 - CAST(l.l_discount AS DECIMAL(15,2)))), 2)
                 AS DOUBLE)                                        AS revenue
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
                       AND c.c_nationkey = s.s_nationkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
        ORDER BY revenue DESC, n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: revenue by nation within one region.

    Only region/nation carry broadcast hints — they are genuinely
    bounded (5 / 25 rows at every SF). customer and supplier scale
    linearly with the data and are left to AQE: at test SFs it
    broadcasts them from runtime stats, at 100 TB it plans shuffled
    joins instead of OOMing the driver on a forced hint.
    """
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).filter(col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            _money_sum(_money("l_extendedprice") * (1 - _money("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(col("revenue").desc(), col("n_name"))
    )


# --------------------------------------------------------------------
# top-k per group (window)  — reference O2/A2 family
# --------------------------------------------------------------------
@query(
    "top_customers_per_segment",
    oracle="""
        SELECT c_mktsegment, c_custkey, round(c_acctbal, 2) AS acctbal, rank
        FROM (
            SELECT c_mktsegment, c_custkey, c_acctbal,
                   row_number() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey
                   ) AS rank
            FROM customer
        )
        WHERE rank <= 3
        ORDER BY c_mktsegment, rank
    """,
)
def top_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per market segment.

    Reference pattern: per-group cap/top-k done with in-memory list
    sorts (service/GeoTagOptimizedService.scala:245-247 keeps newest
    100 with takeRight). Here: a rank window — one shuffle on the
    group key; at scale AQE coalesces the tiny output.
    """
    c = load_table(spark, "customer", sf_dir)
    w = Window.partitionBy("c_mktsegment").orderBy(
        col("c_acctbal").desc(), col("c_custkey")
    )
    return (
        c.withColumn("rank", F.row_number().over(w))
        .filter(col("rank") <= 3)
        .select(
            "c_mktsegment",
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            "rank",
        )
        .orderBy("c_mktsegment", "rank")
    )


# --------------------------------------------------------------------
# anti-join (existence complement) — reference J5/U3
# --------------------------------------------------------------------
@query(
    "customers_without_open_orders",
    oracle="""
        SELECT c.c_custkey AS c_custkey, c.c_name AS c_name
        FROM customer c
        ANTI JOIN (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        ) o ON c.c_custkey = o.o_custkey
        ORDER BY c.c_custkey
    """,
)
def customers_without_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no open ('O'-status) order (left-anti join).

    Reference does this with per-row CQL count probes
    (batch/KafkaCassandraConsistencyChecker.scala:32-56) — O(rows)
    point lookups. As a left-anti join Catalyst broadcasts the smaller
    side / uses a shuffled hash anti join at scale. The status filter
    keeps the result non-empty on the synthetic data (every custkey is
    referenced by some order).
    """
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).filter(col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------
# full-outer key-ratio join — reference J6 (GeoTagEventIntersection)
# --------------------------------------------------------------------
@query(
    "nation_customer_supplier_ratio",
    oracle="""
        WITH cc AS (
            SELECT c_nationkey AS nationkey, count(*) AS n_customers
            FROM customer GROUP BY c_nationkey
        ), ss AS (
            SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
            FROM supplier GROUP BY s_nationkey
        )
        SELECT
            coalesce(cc.nationkey, ss.nationkey)  AS nationkey,
            coalesce(cc.n_customers, 0)           AS n_customers,
            coalesce(ss.n_suppliers, 0)           AS n_suppliers,
            round(coalesce(ss.n_suppliers, 0) * 1.0
                  / greatest(coalesce(cc.n_customers, 0), 1), 6) AS supplier_ratio
        FROM cc FULL OUTER JOIN ss ON cc.nationkey = ss.nationkey
        ORDER BY nationkey
    """,
)
def nation_customer_supplier_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer/supplier counts merged by full-outer join.

    Reference: batch/GeoTagEventIntersection.scala:56-92 unions the
    key sets of two countByKey maps on the driver and divides. Here
    both aggregates stay distributed and merge with one full-outer
    join on the (pre-aggregated, tiny) key sets.
    """
    cc = (
        load_table(spark, "customer", sf_dir)
        .groupBy(col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    ss = (
        load_table(spark, "supplier", sf_dir)
        .groupBy(col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    joined = cc.join(ss, "nationkey", "full_outer")
    return (
        joined.select(
            col("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            F.round(
                F.coalesce("n_suppliers", F.lit(0))
                / F.greatest(F.coalesce("n_customers", F.lit(0)), F.lit(1)),
                6,
            ).alias("supplier_ratio"),
        )
        .orderBy("nationkey")
    )


# --------------------------------------------------------------------
# order-priority count per status (semi-join reduction) — J3
# --------------------------------------------------------------------
@query(
    "priority_counts_semijoin",
    oracle="""
        SELECT o.o_orderpriority AS o_orderpriority, count(*) AS n_orders
        FROM orders o
        SEMI JOIN (
            SELECT l_orderkey FROM lineitem
            WHERE l_quantity > 45
        ) l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
)
def priority_counts_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders having at least one high-quantity line, counted by priority.

    Reference pattern J3: collect distinct keys to driver then CQL
    ``WHERE key IN ?`` (service/GeoTagOptimizedService.scala:157-200).
    As a left-semi join nothing is collected: the key set stays
    distributed and Catalyst picks broadcast when it's small.
    """
    o = load_table(spark, "orders", sf_dir)
    hot = (
        load_table(spark, "lineitem", sf_dir)
        .filter(col("l_quantity") > 45)
        .select("l_orderkey")
    )
    return (
        o.join(hot, o.o_orderkey == hot.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------
# A8/U2: distinct key sets, union-distinct, intersection
# --------------------------------------------------------------------
@query(
    "distinct_event_entities",
    oracle="""
        WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
             c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
        SELECT
            (SELECT count(*) FROM p)                                  AS n_purchasers,
            (SELECT count(*) FROM c)                                  AS n_clickers,
            (SELECT count(*) FROM (SELECT * FROM p UNION SELECT * FROM c)) AS n_union,
            (SELECT count(*) FROM (SELECT * FROM p INTERSECT SELECT * FROM c)) AS n_both
    """,
)
def distinct_event_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct entity key sets with union-distinct and intersection.

    Reference U2/A8: device-id key sets across two tables unioned on
    the driver (batch/GeoTagEventIntersection.scala:56-92) and
    ``rdd.distinct().collect()`` probes. Here the sets stay
    distributed.

    All four counts are derived from ONE pass: group the filtered
    events by user_id with two boolean presence flags, then fold the
    flag table into a single row. The literal set-algebra form
    (two ``.distinct()`` sets, ``union().distinct()``,
    ``.intersect()``, three crossJoins of scalar aggregates) scanned
    events 4× and planned 6 exchanges; per-key ``max(bool)`` presence
    flags make union = "any flag", intersection = "both flags", so
    the same relation answers every count — 1 scan, 1 keyed exchange
    (+ the single-row final fold). Set semantics are preserved
    exactly: a NULL user_id forms one group, as one NULL member does
    in SQL DISTINCT/UNION/INTERSECT.
    """
    ev = load_table(spark, "events", sf_dir)
    flags = (
        ev.filter(col("event_type").isin("purchase", "click"))
        .groupBy("user_id")
        .agg(
            F.max(col("event_type") == "purchase").alias("is_p"),
            F.max(col("event_type") == "click").alias("is_c"),
        )
    )
    return flags.agg(
        F.count(F.when(col("is_p"), 1)).alias("n_purchasers"),
        F.count(F.when(col("is_c"), 1)).alias("n_clickers"),
        F.count(F.lit(1)).alias("n_union"),
        F.count(F.when(col("is_p") & col("is_c"), 1)).alias("n_both"),
    )
