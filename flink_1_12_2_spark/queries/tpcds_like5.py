"""TPC-DS-style composite queries, tranche 8 (adapted to the driver's star
schema — gate context in tpcds_like.py).

These six promote queries that previously SHARED an archetype into genuine
distinct shapes (reference SQL in
``flink-end-to-end-tests/flink-tpcds-test/tpcds-tool/query/query{7,18,50,70,71,84}.sql``):

- q7  — multi-dimension AND-predicate star with a battery of AVG measures
  grouped by an item attribute (previously folded into ds_q13's OR bands).
- q18 — the SAME dimension table joined in TWO ROLES (bill-side customer
  nation vs ship-side supplier nation) feeding a ROLLUP of averages.
- q50 — fact-fact composite-key join BEFORE a day-delay histogram (q99's
  histogram is single-fact; q50's defining feature is the sales⨝returns
  join producing the delay pairs).
- q70 — ROLLUP restricted by a RANK SUBQUERY (top-k groups chosen by a
  windowed rank over a pre-aggregate), plus grouping()-level hierarchy
  rank within parent.
- q71 — three-channel UNION ALL with per-branch dim filters joined to a
  time-of-day breakdown (meal-time filter, hour grain).
- q84 — banded-dimension lookup CHAIN with a range predicate and a
  concatenated-name projection, no aggregation, duplicate-bearing output
  (the returns-fact join multiplies customer rows).

Float discipline (FIXTURES.md): money sums use integer cents; averages are
computed as one division of an integer sum by a count, so both engines
divide identical integers and produce bit-identical doubles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_1_12_2_spark.registry import EVENTS_US_CTE, load, query

_CENTS = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"


@query(
    "ds_q7_multi_dim_star_avgs",
    oracle="""
    SELECT p.p_brand AS brand,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS DOUBLE)
             / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 100 AS avg_price,
           CAST(SUM(CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 100 AS avg_disc,
           CAST(SUM(CAST(ROUND(l.l_tax * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 100 AS avg_tax
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      AND (o.o_orderpriority = '1-URGENT' OR o.o_orderpriority = '2-HIGH')
      AND p.p_size <= 25
      AND o.o_orderstatus = 'F'
    GROUP BY 1 ORDER BY brand LIMIT 100
    """,
    tags=("batch", "tpcds", "star", "avg-battery"),
)
def ds_q7_multi_dim_star_avgs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q7 shape (query7.sql): a star join with conjunctive
    predicates on FOUR different dimensions and a battery of AVG measures
    grouped by an item attribute. All dims broadcast; one shuffle for the
    final group-by. Averages divide an exact integer sum by the count so
    the double is bit-identical across engines."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        & (F.col("o_orderstatus") == "F")
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_size") <= 25)
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11"))

    def int_avg(int_col, scale, alias):
        return (F.sum(int_col).cast("double") / F.count(F.lit(1)) / scale).alias(alias)

    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            int_avg(F.col("l_quantity").cast("bigint"), 1, "avg_qty"),
            int_avg(F.round(F.col("l_extendedprice") * 100).cast("bigint"), 100, "avg_price"),
            int_avg(F.round(F.col("l_discount") * 100).cast("bigint"), 100, "avg_disc"),
            int_avg(F.round(F.col("l_tax") * 100).cast("bigint"), 100, "avg_tax"),
        )
        .orderBy("brand")
        .limit(100)
    )


@query(
    "ds_q18_dual_role_dim_rollup",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS DOUBLE)
             / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 100 AS avg_price,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 100 AS avg_order_total
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
    JOIN region r    ON sn.n_regionkey = r.r_regionkey
    WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      AND YEAR(o.o_orderdate) = 1997
      AND r.r_name = 'ASIA'
    GROUP BY ROLLUP (cn.n_name, sn.n_name)
    ORDER BY cust_nation NULLS FIRST, supp_nation NULLS FIRST
    """,
    tags=("batch", "tpcds", "rollup", "dual-role-dim"),
)
def ds_q18_dual_role_dim_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q18 shape (query18.sql): the same dimension table joined in
    TWO ROLES — customer_demographics appears as bill-side cd1 and
    current cd2 in the reference; here ``nation`` joins once through the
    customer (bill side) and once through the supplier (ship side) — and
    a ROLLUP of cast averages over the result. One Expand after a single
    fact shuffle; every dimension broadcasts."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997)
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_regionkey").alias("sn_rkey"),
        F.col("n_name").alias("supp_nation"),
    )

    def int_avg(int_col, scale, alias):
        return (F.sum(int_col).cast("double") / F.count(F.lit(1)) / scale).alias(alias)

    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(r), F.col("sn_rkey") == r.r_regionkey)
        .rollup("cust_nation", "supp_nation")
        .agg(
            int_avg(F.col("l_quantity").cast("bigint"), 1, "avg_qty"),
            int_avg(F.round(F.col("l_extendedprice") * 100).cast("bigint"), 100, "avg_price"),
            int_avg(F.round(F.col("o_totalprice") * 100).cast("bigint"), 100, "avg_order_total"),
        )
        .orderBy(
            F.col("cust_nation").asc_nulls_first(),
            F.col("supp_nation").asc_nulls_first(),
        )
    )


@query(
    "ds_q50_fact_fact_delay_histogram",
    oracle="""
    SELECT n.n_name AS nation,
           SUM(CASE WHEN DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE)) <= 30
                    THEN 1 ELSE 0 END) AS d30,
           SUM(CASE WHEN DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE)) BETWEEN 31 AND 60
                    THEN 1 ELSE 0 END) AS d60,
           SUM(CASE WHEN DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE)) BETWEEN 61 AND 90
                    THEN 1 ELSE 0 END) AS d90,
           SUM(CASE WHEN DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE)) BETWEEN 91 AND 120
                    THEN 1 ELSE 0 END) AS d120,
           SUM(CASE WHEN DATE_DIFF('day', CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE)) > 120
                    THEN 1 ELSE 0 END) AS dmore
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE YEAR(l.l_shipdate) = 1998 AND MONTH(l.l_shipdate) = 3
    GROUP BY 1 ORDER BY nation
    """,
    tags=("batch", "tpcds", "fact-fact", "delay-histogram"),
)
def ds_q50_fact_fact_delay_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q50 shape (query50.sql): store_sales ⨝ store_returns on a
    composite key, date filter on the RETURN side only, then a
    day-delay histogram bucketed by CASE sums. ds_q99's histogram is
    single-fact; the defining feature here is the fact-fact join
    producing (sold, returned) date pairs. The delay is computed in one
    conditional-aggregation pass — no per-bucket scans."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.year("l_shipdate") == 1998) & (F.month("l_shipdate") == 3)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))

    def bucket(cond, alias):
        return F.sum(F.when(cond, 1).otherwise(0)).alias(alias)

    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            bucket(delay <= 30, "d30"),
            bucket(delay.between(31, 60), "d60"),
            bucket(delay.between(61, 90), "d90"),
            bucket(delay.between(91, 120), "d120"),
            bucket(delay > 120, "dmore"),
        )
        .orderBy("nation")
    )


@query(
    "ds_q70_rank_restricted_rollup",
    oracle=f"""
    WITH rev AS (
      SELECT n.n_name AS n_name, r.r_name AS r_name, s.s_name AS s_name,
             SUM({_CENTS}) AS cents
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2, 3),
    tmp1 AS (
      SELECT n_name,
             RANK() OVER (PARTITION BY r_name
                          ORDER BY SUM(cents) DESC, n_name) AS ranking
      FROM rev GROUP BY n_name, r_name),
    keep AS (SELECT n_name FROM tmp1 WHERE ranking <= 3),
    g AS (
      SELECT n_name, s_name,
             SUM(cents) AS total_cents,
             GROUPING(n_name) + GROUPING(s_name) AS lochierarchy,
             CASE WHEN GROUPING(s_name) = 0 THEN n_name END AS parent_key
      FROM rev
      WHERE n_name IN (SELECT n_name FROM keep)
      GROUP BY ROLLUP (n_name, s_name))
    SELECT CAST(total_cents AS DOUBLE) / 100 AS total_rev,
           n_name, s_name,
           CAST(lochierarchy AS BIGINT) AS lochierarchy,
           CAST(RANK() OVER (PARTITION BY lochierarchy, parent_key
                             ORDER BY total_cents DESC) AS BIGINT)
             AS rank_within_parent
    FROM g
    ORDER BY lochierarchy DESC, n_name NULLS FIRST, s_name NULLS FIRST
    """,
    tags=("batch", "tpcds", "rollup", "rank-subquery"),
)
def ds_q70_rank_restricted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q70 shape (query70.sql): the ROLLUP's dimension domain is
    RESTRICTED BY A RANK SUBQUERY (states ranked by profit, top 5), and
    each rollup row gets GROUPING()-derived hierarchy level plus a rank
    WITHIN ITS PARENT level. Here: nations ranked by revenue within their
    region (top 3 kept, deterministic name tiebreak), then
    ROLLUP(n_name, s_name) with rank over (lochierarchy, parent).

    One pass computes the (nation, region, supplier) pre-aggregate; the
    rank subquery and the rollup both reuse it, so the fact table is
    scanned once. Revenue stays in integer cents until the final
    projection."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name", "s_name")
        .agg(F.sum(cents).alias("cents"))
    )
    tmp1 = (
        rev.groupBy("n_name", "r_name")
        .agg(F.sum("cents").alias("nc"))
        .withColumn(
            "ranking",
            F.rank().over(
                Window.partitionBy("r_name").orderBy(F.desc("nc"), F.col("n_name"))
            ),
        )
    )
    keep = tmp1.filter(F.col("ranking") <= 3).select("n_name")
    g = (
        rev.join(F.broadcast(keep), "n_name", "left_semi")
        .rollup("n_name", "s_name")
        .agg(
            F.sum("cents").alias("total_cents"),
            (F.grouping("n_name") + F.grouping("s_name")).alias("lochierarchy"),
            F.grouping("s_name").alias("_gs"),
        )
        .withColumn("parent_key", F.when(F.col("_gs") == 0, F.col("n_name")))
    )
    w = Window.partitionBy("lochierarchy", "parent_key").orderBy(
        F.desc("total_cents")
    )
    return (
        g.select(
            (F.col("total_cents").cast("double") / 100).alias("total_rev"),
            "n_name",
            "s_name",
            F.col("lochierarchy").cast("bigint").alias("lochierarchy"),
            F.rank().over(w).cast("bigint").alias("rank_within_parent"),
        )
        .orderBy(
            F.desc("lochierarchy"),
            F.col("n_name").asc_nulls_first(),
            F.col("s_name").asc_nulls_first(),
        )
    )


@query(
    "ds_q71_channel_union_time_breakdown",
    oracle=EVENTS_US_CTE
    + """
    , tmp AS (
      SELECT user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM ev WHERE event_type = 'click' AND DAY(ts) <= 10
      UNION ALL
      SELECT user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM ev WHERE event_type = 'view' AND DAY(ts) BETWEEN 11 AND 20
      UNION ALL
      SELECT user_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM ev WHERE event_type = 'purchase' AND DAY(ts) >= 21)
    SELECT c.c_mktsegment AS segment,
           CAST(HOUR(t.ts) AS BIGINT) AS t_hour,
           CAST(SUM(t.cents) AS DOUBLE) / 100 AS ext_value
    FROM tmp t JOIN customer c ON t.user_id = c.c_custkey
    WHERE HOUR(t.ts) BETWEEN 6 AND 9 OR HOUR(t.ts) BETWEEN 18 AND 21
    GROUP BY 1, 2
    ORDER BY ext_value DESC, segment, t_hour
    """,
    tags=("batch", "tpcds", "union-channels", "time-dim"),
)
def ds_q71_channel_union_time_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q71 shape (query71.sql): three sales channels each filtered
    against the date dimension, UNION ALL'd, joined to the time dimension
    with a meal-time predicate, grouped by (brand, hour, minute). Here:
    three event-type channels with disjoint day-of-month windows, a
    breakfast/dinner hour filter, grouped by (segment, hour).

    The three branch filters push into the SAME parquet scan per branch;
    the union is append-only and the customer dim broadcasts, so the only
    shuffle is the final group-by."""
    ev = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer")
    cents = F.round(F.col("value") * 100).cast("bigint").alias("cents")

    def branch(etype, cond):
        return (
            ev.filter((F.col("event_type") == etype) & cond)
            .select("user_id", "ts", cents)
        )

    tmp = (
        branch("click", F.dayofmonth("ts") <= 10)
        .unionAll(branch("view", F.dayofmonth("ts").between(11, 20)))
        .unionAll(branch("purchase", F.dayofmonth("ts") >= 21))
    )
    hour = F.hour("ts")
    return (
        tmp.filter(hour.between(6, 9) | hour.between(18, 21))
        .join(F.broadcast(c), tmp.user_id == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            hour.cast("bigint").alias("t_hour"),
        )
        .agg((F.sum("cents").cast("double") / 100).alias("ext_value"))
        .orderBy(F.desc("ext_value"), "segment", "t_hour")
    )


@query(
    "ds_q84_banded_lookup_chain",
    oracle="""
    SELECT c.c_custkey AS customer_id,
           COALESCE(c.c_name, '') || ', ' || COALESCE(c.c_mktsegment, '')
             AS customername
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE r.r_name = 'EUROPE'
      AND c.c_acctbal >= 3812 AND c.c_acctbal <= 3812 + 5000
    ORDER BY customer_id
    LIMIT 100
    """,
    tags=("batch", "tpcds", "lookup-chain", "banded"),
)
def ds_q84_banded_lookup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q84 shape (query84.sql): a pure dimension lookup CHAIN
    (customer → address → demographics → household → income_band) with a
    BAND predicate on the banded dimension, joined against a returns fact
    that MULTIPLIES customer rows, projecting a concatenated name — no
    aggregation. Here: customer → nation → region chain, an acctbal band,
    and the orders fact supplying the row multiplication.

    Output rows for one customer are identical, so the ORDER BY
    customer_id LIMIT 100 boundary is hash-stable regardless of which
    physical duplicates survive. Every dimension broadcasts; the fact
    side never shuffles (plan-asserted)."""
    c = load(spark, sf_dir, "customer").filter(
        (F.col("c_acctbal") >= 3812) & (F.col("c_acctbal") <= 3812 + 5000)
    )
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    o = load(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.concat(
                F.coalesce(F.col("c_name"), F.lit("")),
                F.lit(", "),
                F.coalesce(F.col("c_mktsegment"), F.lit("")),
            ).alias("customername"),
        )
        .orderBy("customer_id")
        .limit(100)
    )


@query(
    "ds_q24_shared_cte_scalar_threshold",
    oracle="""
    WITH ssales AS (
      SELECT c.c_name AS c_name, n.n_name AS n_name, p.p_brand AS p_brand,
             SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS netpaid_cents
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN part p     ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      WHERE c.c_nationkey <> s.s_nationkey
      GROUP BY 1, 2, 3),
    scal AS (SELECT SUM(netpaid_cents) AS tot, COUNT(*) AS cnt FROM ssales)
    SELECT ss.c_name AS c_name, ss.n_name AS n_name,
           CAST(SUM(ss.netpaid_cents) AS DOUBLE) / 100 AS paid
    FROM ssales ss, scal
    WHERE ss.p_brand = 'Brand#13'
    GROUP BY 1, 2, scal.tot, scal.cnt
    HAVING CAST(20 AS DECIMAL(38,0)) * CAST(SUM(ss.netpaid_cents) AS DECIMAL(38,0))
           * MAX(scal.cnt) > CAST(MAX(scal.tot) AS DECIMAL(38,0))
    ORDER BY c_name, n_name
    """,
    tags=("batch", "tpcds", "shared-cte", "scalar-threshold"),
)
def ds_q24_shared_cte_scalar_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q24 shape (query24a.sql): a shared WITH pre-aggregate
    (``ssales``) consumed TWICE — once filtered (i_color = 'peach') and
    re-aggregated, once unfiltered to produce the scalar ``0.05·avg``
    HAVING threshold — over a fact-fact composite join with a NON-EQUI
    dimension predicate (c_birth_country <> upper(ca_country)). Here:
    lineitem⨝orders with customer-nation ≠ supplier-nation, brand filter
    on the re-agg branch, threshold from the whole pre-aggregate.

    The pre-aggregate is persisted so both consumers reuse one
    computation (the reference planner shares the CTE subgraph the same
    way). The ``paid > 0.05·avg`` predicate cross-multiplies to pure
    integers: ``20·paid·n > Σ`` — no float enters the comparison. The
    product is widened to DECIMAL(38,0) on BOTH engines before
    multiplying: raw BIGINT would wrap silently in Spark's non-ANSI mode
    at 100-TB row counts while DuckDB errors, so the explicit widening
    keeps the comparison exact with ~10¹¹× headroom over the worst-case
    operand magnitudes."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    p = load(spark, sf_dir, "part")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    ssales = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy("c_name", "n_name", "p_brand")
        .agg(F.sum(cents).alias("netpaid_cents"))
        # deliberate: cached until the caller's collect; long-lived
        # sessions reclaim it via catalog.clearCache() between queries
        # (tools/oracle_check.py does) — same policy as tpcds_like.py q15
        .persist()
    )
    scal = ssales.agg(
        F.sum("netpaid_cents").alias("tot"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        ssales.filter(F.col("p_brand") == "Brand#13")
        .groupBy("c_name", "n_name")
        .agg(F.sum("netpaid_cents").alias("paid_cents"))
        .crossJoin(F.broadcast(scal))
        # DECIMAL(38,0) product: 20·paid·n on raw BIGINTs would wrap
        # silently in Spark's non-ANSI mode at 100-TB row counts while
        # DuckDB promotes to HUGEINT — widen before multiplying so both
        # engines compare exactly, with 38 digits of headroom
        .filter(
            F.lit(20).cast("decimal(38,0)")
            * F.col("paid_cents").cast("decimal(38,0)")
            * F.col("cnt")
            > F.col("tot").cast("decimal(38,0)")
        )
        .select(
            "c_name",
            "n_name",
            (F.col("paid_cents").cast("double") / 100).alias("paid"),
        )
        .orderBy("c_name", "n_name")
    )
