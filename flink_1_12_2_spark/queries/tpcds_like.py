"""TPC-DS-style composite queries (adapted to the driver's star schema).

The reference's end-to-end gate runs 103 TPC-DS queries at sf1
(flink-end-to-end-tests/flink-tpcds-test/tpcds-tool/query/, driver
TpcdsTestProgram.java:48) — the defining plan shapes beyond TPC-H are:
ROLLUP with rank-within-grouping-level (q36/q67/q86), ratio-over-class via
windowed aggregate (q12/q98), cumulative-series comparison through a FULL
OUTER join (q51), period-over-period self-joins (q59), batteries of scalar
subqueries cross-joined (q88), channel-overlap set analysis (q97),
frequent-buyer HAVING ranges (q34/q73), multi-channel UNION pipelines with
YoY self-joins (q2/q74), EXISTS batteries (q10/q35), WITH-chained
frequent/best sets gated by a scalar-max subquery (q23), correlated
group-average filters (q1), union-of-aggregates re-aggregation
(q33/q56/q60), returns-adjusted fact-fact LEFT joins (q93), and
cross-channel ratio joins with returns excluded (q78), and semi+anti
against the same fact (q94/q16). Each query below
reproduces one of those shapes on the driver tables with a hash-checked
DuckDB oracle — 18 archetypes covering the recurring plan structures of
the reference's 103-query gate.

Scale notes: every dimension join is broadcast; rollups multiply rows only
AFTER partial aggregation (Catalyst Expand); the cumulative/q51 window runs
over the *aggregated daily* series (≤ a few thousand rows at any scale), not
the fact table, so the single-partition analytic window is safe.

Floating-point discipline: the gate's canonical hash rounds doubles to 2
decimals, so plain sums are safe; every value that feeds a RANK or a LIMIT
is rounded (or integer) first so near-ties cannot order differently across
engines, and window tiebreakers state NULLS FIRST explicitly (DuckDB
defaults to NULLS LAST on ASC, Spark to NULLS FIRST).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_1_12_2_spark.registry import EVENTS_US_CTE, load, query

def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query(
    "ds_q3_brand_year",
    oracle="""
    SELECT CAST(YEAR(o.o_orderdate) AS INT) AS d_year,
           p.p_brand                        AS brand,
           CAST(SUM(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE) AS sum_agg
    FROM lineitem l
    JOIN part p   ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_type = 'PROMO'
    GROUP BY d_year, p.p_brand
    ORDER BY d_year, brand
    """,
    tags=("batch", "tpcds", "join", "agg"),
)
def ds_q3_brand_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q3 shape: fact ⋈ item ⋈ date_dim, year×brand aggregate."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    o = load(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.year("o_orderdate").alias("d_year"), F.col("p_brand").alias("brand")
        )
        .agg(F.sum(_rev()).alias("sum_agg"))
        .orderBy("d_year", "brand")
    )


@query(
    "ds_q12_ratio_by_class",
    oracle="""
    WITH g AS (
      SELECT p.p_brand, p.p_type,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS itemrevenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, p.p_type)
    SELECT p_brand, p_type,
           CAST(itemrevenue AS DOUBLE) AS itemrevenue,
           CAST(ROUND(itemrevenue * 100.0 /
                      SUM(itemrevenue) OVER (PARTITION BY p_brand), 4) AS DOUBLE)
             AS revenueratio
    FROM g ORDER BY p_brand, p_type
    """,
    tags=("batch", "tpcds", "window", "agg"),
)
def ds_q12_ratio_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q12/q98 shape: revenue share of each item within its class —
    aggregate then windowed-sum ratio (window runs over the agg output)."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    g = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.sum(_rev()).alias("itemrevenue"))
    )
    w = Window.partitionBy("p_brand")
    return g.select(
        "p_brand",
        "p_type",
        "itemrevenue",
        F.round(F.col("itemrevenue") * 100.0 / F.sum("itemrevenue").over(w), 4).alias(
            "revenueratio"
        ),
    ).orderBy("p_brand", "p_type")


@query(
    "ds_q36_margin_rollup_rank",
    oracle="""
    WITH g AS (
      SELECT SUM(l.l_extendedprice * l.l_discount)       AS disc_amt,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS gross,
             r.r_name, n.n_name,
             GROUPING(r.r_name) + GROUPING(n.n_name)     AS lochierarchy,
             GROUPING(n.n_name)                          AS g_n
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
      GROUP BY ROLLUP (r.r_name, n.n_name))
    SELECT CAST(lochierarchy AS INT)        AS lochierarchy,
           COALESCE(r_name, 'ALL')          AS region_name,
           COALESCE(n_name, 'ALL')          AS nation_name,
           CAST(ROUND(disc_amt / gross, 6) AS DOUBLE) AS margin,
           CAST(RANK() OVER (
             PARTITION BY lochierarchy,
                          CASE WHEN g_n = 0 THEN r_name END
             ORDER BY ROUND(disc_amt / gross, 6) DESC,
                      n_name ASC NULLS FIRST) AS INT) AS rank_within_parent
    FROM g ORDER BY lochierarchy DESC, region_name, nation_name
    """,
    tags=("batch", "tpcds", "groupingsets", "window"),
)
def ds_q36_margin_rollup_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q36/q86 shape: ROLLUP hierarchy + RANK within each grouping
    level (partition key = CASE over GROUPING()). Margin is rounded before
    ranking so FP near-ties cannot order differently across engines."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    g = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("disc_amt"),
            F.sum(_rev()).alias("gross"),
            (F.grouping("r_name") + F.grouping("n_name")).alias("lochierarchy"),
            F.grouping("n_name").alias("g_n"),
        )
    )
    margin = F.round(F.col("disc_amt") / F.col("gross"), 6)
    w = Window.partitionBy(
        "lochierarchy", F.when(F.col("g_n") == 0, F.col("r_name"))
    ).orderBy(margin.desc(), F.col("n_name").asc_nulls_first())
    return (
        g.select(
            F.col("lochierarchy").cast("int").alias("lochierarchy"),
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            margin.alias("margin"),
            F.rank().over(w).cast("int").alias("rank_within_parent"),
        )
        .orderBy(F.col("lochierarchy").desc(), "region_name", "nation_name")
    )


@query(
    "ds_q51_cumulative_compare",
    oracle="""
    WITH daily AS (
      SELECT l_returnflag, DATE_TRUNC('day', l_shipdate) AS d_day,
             CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)) * 100, 0)
                  AS BIGINT) AS rev_cents
      FROM lineitem WHERE l_returnflag IN ('R', 'A')
      GROUP BY l_returnflag, d_day),
    r AS (SELECT d_day, SUM(rev_cents) OVER (ORDER BY d_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_r
          FROM daily WHERE l_returnflag = 'R'),
    a AS (SELECT d_day, SUM(rev_cents) OVER (ORDER BY d_day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a
          FROM daily WHERE l_returnflag = 'A')
    SELECT CAST(COALESCE(r.d_day, a.d_day) AS TIMESTAMP) AS d_day,
           CAST(r.cum_r / 100.0 AS DOUBLE) AS cum_r,
           CAST(a.cum_a / 100.0 AS DOUBLE) AS cum_a
    FROM r FULL OUTER JOIN a ON r.d_day = a.d_day
    WHERE r.cum_r > a.cum_a
    ORDER BY d_day
    """,
    tags=("batch", "tpcds", "window", "join"),
)
def ds_q51_cumulative_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q51 shape: two cumulative daily series FULL OUTER joined on
    day, keeping days where one channel's running total leads the other.
    The analytic window runs over the aggregated daily series (bounded
    cardinality at any scale factor), never the fact table."""
    li = load(spark, sf_dir, "lineitem")
    daily = (
        li.filter(F.col("l_returnflag").isin("R", "A"))
        .groupBy(
            "l_returnflag", F.date_trunc("day", "l_shipdate").alias("d_day")
        )
        .agg(
            # quantize to integer cents BEFORE the running sum: a cumulative
            # double sum drifts past the gate's 2-dp rounding over thousands
            # of rows, while an integer cumsum is bit-exact in both engines
            F.round(F.sum(_rev()) * 100, 0)
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w = Window.orderBy("d_day").rowsBetween(Window.unboundedPreceding, 0)
    r = daily.filter(F.col("l_returnflag") == "R").select(
        "d_day", (F.sum("rev_cents").over(w) / 100.0).alias("cum_r")
    )
    a = daily.filter(F.col("l_returnflag") == "A").select(
        F.col("d_day").alias("a_day"),
        (F.sum("rev_cents").over(w) / 100.0).alias("cum_a"),
    )
    return (
        r.join(a, r.d_day == a.a_day, "full_outer")
        .filter(F.col("cum_r") > F.col("cum_a"))
        .select(
            F.coalesce("d_day", "a_day").alias("d_day"), "cum_r", "cum_a"
        )
        .orderBy("d_day")
    )


@query(
    "ds_q59_wow_compare",
    oracle="""
    WITH wk AS (
      SELECT CAST(YEAR(l_shipdate) AS INT) AS y,
             CAST(WEEKOFYEAR(l_shipdate) AS INT) AS w,
             SUM(l_extendedprice * (1 - l_discount)) AS rev
      FROM lineitem GROUP BY y, w)
    SELECT t.w                      AS week_seq,
           t.y                      AS year_this,
           CAST(t.rev AS DOUBLE)    AS rev_this,
           CAST(nx.rev AS DOUBLE)   AS rev_next,
           CAST(ROUND(nx.rev / t.rev, 6) AS DOUBLE) AS yoy_ratio
    FROM wk t JOIN wk nx ON t.w = nx.w AND nx.y = t.y + 1
    WHERE t.y BETWEEN 1996 AND 1999
    ORDER BY year_this, week_seq
    """,
    tags=("batch", "tpcds", "join", "agg"),
)
def ds_q59_wow_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q59 shape: weekly sales self-joined one period apart
    (same ISO week, following year) with a growth-ratio column."""
    li = load(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        F.year("l_shipdate").alias("y"), F.weekofyear("l_shipdate").alias("w")
    ).agg(F.sum(_rev()).alias("rev"))
    t, nx = wk.alias("t"), wk.alias("nx")
    return (
        t.join(nx, (F.col("t.w") == F.col("nx.w")) & (F.col("nx.y") == F.col("t.y") + 1))
        .filter(F.col("t.y").between(1996, 1999))
        .select(
            F.col("t.w").alias("week_seq"),
            F.col("t.y").alias("year_this"),
            F.col("t.rev").alias("rev_this"),
            F.col("nx.rev").alias("rev_next"),
            F.round(F.col("nx.rev") / F.col("t.rev"), 6).alias("yoy_ratio"),
        )
        .orderBy("year_this", "week_seq")
    )


@query(
    "ds_q67_rollup_topk",
    oracle="""
    WITH g AS (
      SELECT p.p_brand, p.p_type,
             GROUPING_ID(p.p_brand, p.p_type) AS gid,
             ROUND(SUM(l.l_quantity * l.l_extendedprice), 2) AS sumsales
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY ROLLUP (p.p_brand, p.p_type)),
    rk AS (
      SELECT COALESCE(p_brand, 'ALL') AS brand_name,
             COALESCE(p_type, 'ALL')  AS type_name,
             CAST(sumsales AS DOUBLE) AS sumsales,
             CAST(RANK() OVER (PARTITION BY gid, p_brand
                               ORDER BY sumsales DESC,
                                        p_type ASC NULLS FIRST) AS INT) AS rk
      FROM g)
    SELECT * FROM rk WHERE rk <= 3 ORDER BY brand_name, type_name, rk
    """,
    tags=("batch", "tpcds", "groupingsets", "window"),
)
def ds_q67_rollup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q67 shape: ROLLUP product hierarchy, then top-k rows per
    hierarchy partition by ranked sales. Sales are rounded before ranking
    (engine-stable order); ties broken on the item key."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    g = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .rollup("p_brand", "p_type")
        .agg(
            F.round(
                F.sum(F.col("l_quantity") * F.col("l_extendedprice")), 2
            ).alias("sumsales"),
            F.grouping_id().alias("gid"),
        )
    )
    w = Window.partitionBy("gid", "p_brand").orderBy(
        F.col("sumsales").desc(), F.col("p_type").asc_nulls_first()
    )
    return (
        g.select(
            F.coalesce("p_brand", F.lit("ALL")).alias("brand_name"),
            F.coalesce("p_type", F.lit("ALL")).alias("type_name"),
            "sumsales",
            F.rank().over(w).cast("int").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .orderBy("brand_name", "type_name", "rk")
    )


@query(
    "ds_q88_time_slots",
    oracle=EVENTS_US_CTE
    + """
    SELECT * FROM
      (SELECT CAST(COUNT(*) AS BIGINT) AS h0_3   FROM ev
        WHERE event_type = 'click' AND HOUR(ts) BETWEEN 0 AND 3)  s1,
      (SELECT CAST(COUNT(*) AS BIGINT) AS h4_7   FROM ev
        WHERE event_type = 'click' AND HOUR(ts) BETWEEN 4 AND 7)  s2,
      (SELECT CAST(COUNT(*) AS BIGINT) AS h8_11  FROM ev
        WHERE event_type = 'click' AND HOUR(ts) BETWEEN 8 AND 11) s3,
      (SELECT CAST(COUNT(*) AS BIGINT) AS h12_15 FROM ev
        WHERE event_type = 'click' AND HOUR(ts) BETWEEN 12 AND 15) s4,
      (SELECT CAST(COUNT(*) AS BIGINT) AS h16_19 FROM ev
        WHERE event_type = 'click' AND HOUR(ts) BETWEEN 16 AND 19) s5,
      (SELECT CAST(COUNT(*) AS BIGINT) AS h20_23 FROM ev
        WHERE event_type = 'click' AND HOUR(ts) BETWEEN 20 AND 23) s6
    """,
    tags=("batch", "tpcds", "join"),
)
def ds_q88_time_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q88 shape: a battery of scalar-aggregate subqueries
    CROSS JOINed into one row (each side is a 1-row broadcast —
    BroadcastNestedLoopJoin of singletons, no shuffle)."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    slots = [(0, 3), (4, 7), (8, 11), (12, 15), (16, 19), (20, 23)]
    out = None
    for lo, hi in slots:
        cnt = ev.filter(F.hour("ts").between(lo, hi)).agg(
            F.count(F.lit(1)).alias(f"h{lo}_{hi}")
        )
        out = cnt if out is None else out.crossJoin(cnt)
    return out


@query(
    "ds_q97_channel_overlap",
    oracle="""
    WITH ss AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         ws AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
    SELECT CAST(SUM(CASE WHEN ss.o_custkey IS NOT NULL AND ws.o_custkey IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS both_channels,
           CAST(SUM(CASE WHEN ss.o_custkey IS NOT NULL AND ws.o_custkey IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS store_only,
           CAST(SUM(CASE WHEN ss.o_custkey IS NULL AND ws.o_custkey IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS web_only
    FROM ss FULL OUTER JOIN ws ON ss.o_custkey = ws.o_custkey
    """,
    tags=("batch", "tpcds", "join", "agg"),
)
def ds_q97_channel_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q97 shape: customer overlap between two channels — distinct
    key sets FULL OUTER joined, conditional counts of the null pattern."""
    o = load(spark, sf_dir, "orders")
    ss = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    ws = (
        o.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("w_custkey"))
        .distinct()
    )
    j = ss.join(ws, ss.o_custkey == ws.w_custkey, "full_outer")
    flag = lambda c: F.col(c).isNotNull()  # noqa: E731
    return j.agg(
        F.sum(
            F.when(flag("o_custkey") & flag("w_custkey"), 1).otherwise(0)
        ).alias("both_channels"),
        F.sum(
            F.when(flag("o_custkey") & ~flag("w_custkey"), 1).otherwise(0)
        ).alias("store_only"),
        F.sum(
            F.when(~flag("o_custkey") & flag("w_custkey"), 1).otherwise(0)
        ).alias("web_only"),
    )


@query(
    "ds_q89_monthly_deviation",
    oracle="""
    WITH m AS (
      SELECT p.p_brand, CAST(MONTH(l.l_shipdate) AS INT) AS d_moy,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS sum_sales
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, d_moy)
    SELECT p_brand, d_moy,
           CAST(sum_sales AS DOUBLE) AS sum_sales,
           CAST(avg_monthly_sales AS DOUBLE) AS avg_monthly_sales
    FROM (SELECT *, AVG(sum_sales) OVER (PARTITION BY p_brand)
                      AS avg_monthly_sales FROM m) t
    WHERE ABS(sum_sales - avg_monthly_sales) > 0.1 * avg_monthly_sales
    ORDER BY p_brand, d_moy
    """,
    tags=("batch", "tpcds", "window", "agg"),
)
def ds_q89_monthly_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q89 shape: monthly sales vs the item's average month
    (windowed AVG over the aggregate), keeping months deviating > 10%."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    m = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", F.month("l_shipdate").alias("d_moy"))
        .agg(F.sum(_rev()).alias("sum_sales"))
    )
    w = Window.partitionBy("p_brand")
    return (
        m.withColumn("avg_monthly_sales", F.avg("sum_sales").over(w))
        .filter(
            F.abs(F.col("sum_sales") - F.col("avg_monthly_sales"))
            > 0.1 * F.col("avg_monthly_sales")
        )
        .select("p_brand", "d_moy", "sum_sales", "avg_monthly_sales")
        .orderBy("p_brand", "d_moy")
    )


@query(
    "ds_q34_frequent_buyers",
    oracle="""
    SELECT c.c_name, j.o_orderkey, j.cnt
    FROM (SELECT o.o_orderkey, o.o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          GROUP BY o.o_orderkey, o.o_custkey
          HAVING COUNT(*) BETWEEN 5 AND 7) j
    JOIN customer c ON j.o_custkey = c.c_custkey
    ORDER BY c.c_name, j.o_orderkey
    """,
    tags=("batch", "tpcds", "join", "agg"),
)
def ds_q34_frequent_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q34/q73 shape: per-ticket item-count HAVING range, then the
    qualifying tickets joined back to customer."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")
    j = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt").between(5, 7))
    )
    return (
        j.join(c, j.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "cnt")
        .orderBy("c_name", "o_orderkey")
    )


@query(
    "ds_q74_yoy_channel_union",
    oracle="""
    WITH year_total AS (
      SELECT o.o_custkey AS custkey, YEAR(o.o_orderdate) AS yr,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS total, 's' AS channel
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_linenumber <= 3 GROUP BY 1, 2
      UNION ALL
      SELECT o.o_custkey, YEAR(o.o_orderdate),
             SUM(l.l_extendedprice * (1 - l.l_discount)), 'w'
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_linenumber > 3 GROUP BY 1, 2)
    SELECT s1.custkey AS custkey,
           CAST(ROUND(s2.total / s1.total, 6) AS DOUBLE) AS store_ratio,
           CAST(ROUND(w2.total / w1.total, 6) AS DOUBLE) AS web_ratio
    FROM year_total s1 JOIN year_total s2 ON s1.custkey = s2.custkey
         JOIN year_total w1 ON s1.custkey = w1.custkey
         JOIN year_total w2 ON s1.custkey = w2.custkey
    WHERE s1.channel = 's' AND s1.yr = 1996 AND s2.channel = 's' AND s2.yr = 1997
      AND w1.channel = 'w' AND w1.yr = 1996 AND w2.channel = 'w' AND w2.yr = 1997
      AND s1.total > 0 AND w1.total > 0
      AND ROUND(w2.total / w1.total, 6) > ROUND(s2.total / s1.total, 6)
    ORDER BY custkey
    """,
    tags=("batch", "tpcds", "union", "self-join"),
)
def ds_q74_yoy_channel_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q2/q74 shape: a multi-channel UNION ALL pipeline (per-channel
    per-year customer totals) materialized once, then self-joined four ways
    for the year-over-year growth comparison across channels. The union CTE
    is persisted — Flink/TPC-DS materialize year_total once; without the
    boundary Catalyst would re-run both channel aggregations per self-join
    branch. Ratios are rounded to 6dp BEFORE the growth comparison so
    float summation order cannot flip the predicate across engines."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = o.join(li, li.l_orderkey == o.o_orderkey)

    def channel(pred, label):
        return (
            base.filter(pred)
            .groupBy(
                F.col("o_custkey").alias("custkey"),
                F.year("o_orderdate").alias("yr"),
            )
            .agg(F.sum(rev).alias("total"))
            .withColumn("channel", F.lit(label))
        )

    year_total = channel(F.col("l_linenumber") <= 3, "s").unionByName(
        channel(F.col("l_linenumber") > 3, "w")
    ).persist()

    def slice_(ch, yr, prefix):
        return year_total.filter(
            (F.col("channel") == ch) & (F.col("yr") == yr)
        ).select(F.col("custkey").alias(f"{prefix}_ck"), F.col("total").alias(f"{prefix}_total"))

    s1, s2 = slice_("s", 1996, "s1"), slice_("s", 1997, "s2")
    w1, w2 = slice_("w", 1996, "w1"), slice_("w", 1997, "w2")
    store_ratio = F.round(F.col("s2_total") / F.col("s1_total"), 6)
    web_ratio = F.round(F.col("w2_total") / F.col("w1_total"), 6)
    return (
        s1.join(s2, s1.s1_ck == s2.s2_ck)
        .join(w1, s1.s1_ck == w1.w1_ck)
        .join(w2, s1.s1_ck == w2.w2_ck)
        .filter((F.col("s1_total") > 0) & (F.col("w1_total") > 0))
        .filter(web_ratio > store_ratio)
        .select(
            F.col("s1_ck").alias("custkey"),
            store_ratio.alias("store_ratio"),
            web_ratio.alias("web_ratio"),
        )
        .orderBy("custkey")
    )


@query(
    "ds_q10_exists_battery",
    oracle="""
    SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(c.c_acctbal) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND YEAR(o.o_orderdate) = 1997)
      AND (EXISTS (SELECT 1 FROM orders o
                   JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                   WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
           OR EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > 400000))
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
    tags=("batch", "tpcds", "exists", "semi-join"),
)
def ds_q10_exists_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q10/q35 shape: an EXISTS battery — one mandatory EXISTS (a
    left-semi join) AND an OR of two further EXISTS. The OR cannot be two
    semi joins (a semi join can't express disjunction), so each branch
    becomes a distinct-key flag frame left-joined to the customer axis and
    the OR is a filter on the flags — Spark's ExistenceJoin does the same
    under SQL; the DataFrame form makes the rewrite explicit."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    in_1997 = o.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    has_return = (
        o.join(li.filter(F.col("l_returnflag") == "R"),
               li.l_orderkey == o.o_orderkey)
        .select("o_custkey").distinct()
        .withColumn("__has_ret", F.lit(True))
    )
    big_spender = (
        o.filter(F.col("o_totalprice") > 400000)
        .select("o_custkey").distinct()
        .withColumn("__big", F.lit(True))
    )
    return (
        c.join(in_1997, c.c_custkey == in_1997.o_custkey, "left_semi")
        .join(has_return, c.c_custkey == has_return.o_custkey, "left")
        .drop(has_return.o_custkey)
        .join(big_spender, c.c_custkey == big_spender.o_custkey, "left")
        .drop(big_spender.o_custkey)
        .filter(F.col("__has_ret").isNotNull() | F.col("__big").isNotNull())
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("c_acctbal").alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "ds_q23_frequent_best",
    oracle="""
    WITH freq_items AS (
      SELECT l_partkey FROM lineitem GROUP BY l_partkey
      HAVING COUNT(DISTINCT l_orderkey) > 30),
    cust_total AS (
      SELECT o.o_custkey, SUM(l.l_extendedprice * (1 - l.l_discount)) AS total
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey),
    best_customers AS (
      SELECT o_custkey FROM cust_total
      WHERE total > 0.5 * (SELECT MAX(total) FROM cust_total))
    SELECT CAST(SUM(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE)
             AS total_sales,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE YEAR(o.o_orderdate) = 1998
      AND l.l_partkey IN (SELECT l_partkey FROM freq_items)
      AND o.o_custkey IN (SELECT o_custkey FROM best_customers)
    """,
    tags=("batch", "tpcds", "with-chain", "scalar-subquery"),
)
def ds_q23_frequent_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q23 shape: WITH-chained expensive CTEs — frequent items
    (COUNT(DISTINCT) HAVING), best customers (spend above 50% of the max
    customer spend: a scalar subquery over an aggregate), then the final
    fact scan semi-joined against BOTH qualifying sets. Both IN-lists are
    key-only frames, broadcast as semi joins against the fact scan."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    freq_items = (
        li.groupBy("l_partkey")
        .agg(F.count_distinct("l_orderkey").alias("n_ord"))
        .filter(F.col("n_ord") > 30)
        .select("l_partkey")
    )
    cust_total = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(rev).alias("total"))
        .persist()  # consumed twice: max scalar + threshold filter
    )
    max_total = cust_total.agg(F.max("total").alias("__max"))
    best = (
        cust_total.crossJoin(F.broadcast(max_total))
        .filter(F.col("total") > 0.5 * F.col("__max"))
        .select("o_custkey")
    )
    return (
        li.join(o.filter(F.year("o_orderdate") == 1998),
                li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(freq_items), "l_partkey", "left_semi")
        .join(F.broadcast(best.withColumnRenamed("o_custkey", "__bc")),
              F.col("o_custkey") == F.col("__bc"), "left_semi")
        .agg(
            F.sum(rev).alias("total_sales"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "ds_q1_returns_above_avg",
    oracle="""
    WITH ctr AS (
      SELECT o.o_custkey AS custkey, c.c_nationkey AS nationkey,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                 * 1000000) AS DECIMAL(18,0))) AS DOUBLE)
               / 1000000.0 AS total_return
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE l.l_returnflag = 'R'
      GROUP BY 1, 2)
    SELECT c.c_name AS c_name, ctr1.total_return AS total_return
    FROM ctr ctr1 JOIN customer c ON ctr1.custkey = c.c_custkey
    WHERE ctr1.total_return > 1.2 * (
        SELECT AVG(ctr2.total_return) FROM ctr ctr2
        WHERE ctr2.nationkey = ctr1.nationkey)
    ORDER BY c_name
    """,
    tags=("batch", "tpcds", "correlated-subquery"),
)
def ds_q1_returns_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q1 shape: per-customer return totals filtered against 1.2x the
    per-group (nation=state) average via a CORRELATED scalar subquery. The
    oracle keeps the correlated form; the engine applies the standard
    decorrelation every optimizer performs on it -- a window AVG over the
    group key -- proving the rewrite equivalent. Determinism: per-customer
    totals are summed as exact micro-unit decimals (the agg_stddev_var
    pattern) so output values are bit-identical across engines; the 1.2x
    filter margin then depends only on AVG's own ~1e-12 noise, 10 orders
    below any observed margin."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    micros = F.round(_rev() * 1000000).cast("decimal(18,0)")
    ctr = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("c_nationkey").alias("nationkey"),
        )
        .agg((F.sum(micros).cast("double") / 1000000.0).alias("total_return"))
    )
    w = Window.partitionBy("nationkey")
    flt = ctr.withColumn("__avg", F.avg("total_return").over(w)).filter(
        F.col("total_return") > 1.2 * F.col("__avg")
    )
    return (
        flt.join(c, flt.custkey == c.c_custkey)
        .select("c_name", "total_return")
        .orderBy("c_name")
    )


@query(
    "ds_q60_channel_item_union",
    oracle="""
    WITH ch1 AS (
      SELECT p.p_brand, SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_linenumber <= 2 GROUP BY 1),
    ch2 AS (
      SELECT p.p_brand, SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_linenumber IN (3, 4) GROUP BY 1),
    ch3 AS (
      SELECT p.p_brand, SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_linenumber >= 5 GROUP BY 1)
    SELECT p_brand, CAST(SUM(rev) AS DOUBLE) AS total_rev,
           CAST(COUNT(*) AS BIGINT) AS n_channels
    FROM (SELECT * FROM ch1 UNION ALL SELECT * FROM ch2
          UNION ALL SELECT * FROM ch3)
    GROUP BY p_brand ORDER BY p_brand
    """,
    tags=("batch", "tpcds", "union", "agg"),
)
def ds_q60_channel_item_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q33/q56/q60 shape: per-channel aggregates UNION ALL'd then
    RE-aggregated by item. Each channel aggregates before the union, so the
    union moves one row per (channel, brand) -- not fact rows -- and the
    final agg is a second partial/final pass over ~3x|brands| rows."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    base = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)

    def ch(pred):
        return (
            base.filter(pred)
            .groupBy("p_brand")
            .agg(F.sum(_rev()).alias("rev"))
        )

    u = (
        ch(F.col("l_linenumber") <= 2)
        .unionByName(ch(F.col("l_linenumber").isin(3, 4)))
        .unionByName(ch(F.col("l_linenumber") >= 5))
    )
    return (
        u.groupBy("p_brand")
        .agg(
            F.sum("rev").alias("total_rev"),
            F.count(F.lit(1)).alias("n_channels"),
        )
        .orderBy("p_brand")
    )


@query(
    "ds_q93_returns_adjusted",
    oracle="""
    WITH ret AS (
      SELECT l_orderkey, l_linenumber, FLOOR(l_quantity / 2) AS ret_qty
      FROM lineitem WHERE l_returnflag = 'R'),
    net AS (
      SELECT o.o_custkey,
             l.l_quantity - COALESCE(r.ret_qty, 0) AS net_qty,
             CAST(ROUND((l.l_quantity - COALESCE(r.ret_qty, 0))
                        * l.l_extendedprice / GREATEST(l.l_quantity, 1) * 100)
                  AS DECIMAL(18,0)) AS net_cents
      FROM lineitem l
      LEFT JOIN ret r ON l.l_orderkey = r.l_orderkey
                     AND l.l_linenumber = r.l_linenumber
      JOIN orders o ON l.l_orderkey = o.o_orderkey)
    SELECT o_custkey, CAST(SUM(net_qty) AS DOUBLE) AS total_qty,
           CAST(SUM(net_cents) AS DOUBLE) / 100.0 AS total_net
    FROM net GROUP BY o_custkey HAVING SUM(net_qty) > 900
    ORDER BY o_custkey
    """,
    tags=("batch", "tpcds", "fact-fact", "returns"),
)
def ds_q93_returns_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q93 shape: sales adjusted by a returns fact via LEFT outer
    fact-fact join on the composite line key, conditional quantity
    arithmetic, then customer rollup with a HAVING floor. Net revenue is
    quantized to exact cents (same op order both engines) before summation
    so the value hash is summation-order-independent."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    ret = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("r_ok"),
        F.col("l_linenumber").alias("r_ln"),
        F.floor(F.col("l_quantity") / 2).alias("ret_qty"),
    )
    net_qty = F.col("l_quantity") - F.coalesce(F.col("ret_qty"), F.lit(0))
    net_cents = F.round(
        net_qty
        * F.col("l_extendedprice")
        / F.greatest(F.col("l_quantity"), F.lit(1))
        * 100
    ).cast("decimal(18,0)")
    return (
        li.join(
            ret,
            (li.l_orderkey == ret.r_ok) & (li.l_linenumber == ret.r_ln),
            "left",
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", net_qty.alias("net_qty"), net_cents.alias("net_cents"))
        .groupBy("o_custkey")
        .agg(
            F.sum("net_qty").cast("double").alias("total_qty"),
            (F.sum("net_cents").cast("double") / 100.0).alias("total_net"),
        )
        .filter(F.col("total_qty") > 900)
        .orderBy("o_custkey")
    )


@query(
    "ds_q78_channel_ratio",
    oracle="""
    WITH ch1 AS (
      SELECT l_partkey, YEAR(l_shipdate) AS yr,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                      AS DECIMAL(18,0))) AS rev_c
      FROM lineitem WHERE l_linenumber <= 3 AND l_returnflag <> 'R'
      GROUP BY 1, 2),
    ch2 AS (
      SELECT l_partkey, YEAR(l_shipdate) AS yr,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                      AS DECIMAL(18,0))) AS rev_c
      FROM lineitem WHERE l_linenumber > 3 AND l_returnflag <> 'R'
      GROUP BY 1, 2)
    SELECT c1.l_partkey AS partkey, c1.yr AS yr,
           CAST(c1.rev_c AS DOUBLE) / 100.0 AS store_rev,
           CAST(c2.rev_c AS DOUBLE) / 100.0 AS web_rev,
           CAST(ROUND(CAST(c1.rev_c AS DOUBLE) / CAST(c2.rev_c AS DOUBLE), 6)
                AS DOUBLE) AS ratio
    FROM ch1 c1 JOIN ch2 c2 ON c1.l_partkey = c2.l_partkey AND c1.yr = c2.yr
    WHERE c2.rev_c > 0
    ORDER BY partkey, yr
    """,
    tags=("batch", "tpcds", "fact-fact", "channel"),
)
def ds_q78_channel_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q78 shape: returns excluded from BOTH channels (anti
    semantics via predicate), per-channel (item, year) totals, then a
    fact-fact equijoin comparing channels with a rounded ratio. Exact-cents
    sums keep the hash bit-stable across engines."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") != "R")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("decimal(18,0)")

    def channel(pred, pk, yr, rev):
        return (
            li.filter(pred)
            .groupBy(
                F.col("l_partkey").alias(pk),
                F.year("l_shipdate").alias(yr),
            )
            .agg(F.sum(cents).alias(rev))
        )

    c1 = channel(F.col("l_linenumber") <= 3, "partkey", "yr", "rev1")
    c2 = channel(F.col("l_linenumber") > 3, "p2", "y2", "rev2")
    ratio = F.round(
        F.col("rev1").cast("double") / F.col("rev2").cast("double"), 6
    )
    return (
        c1.join(c2, (c1.partkey == c2.p2) & (c1.yr == c2.y2))
        .filter(F.col("rev2") > 0)
        .select(
            "partkey",
            "yr",
            (F.col("rev1").cast("double") / 100.0).alias("store_rev"),
            (F.col("rev2").cast("double") / 100.0).alias("web_rev"),
            ratio.alias("ratio"),
        )
        .orderBy("partkey", "yr")
    )


@query(
    "ds_q94_semi_anti_combo",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS order_cnt,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS DECIMAL(18,0)))
                AS DOUBLE) / 100.0 AS total_price
    FROM orders o
    WHERE YEAR(o.o_orderdate) = 1997
      AND EXISTS (SELECT 1 FROM lineitem l1
                  WHERE l1.l_orderkey = o.o_orderkey
                    AND l1.l_linenumber > 4)
      AND NOT EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = o.o_orderkey
                        AND l2.l_returnflag = 'R')
    """,
    tags=("batch", "tpcds", "semi-join", "anti-join"),
)
def ds_q94_semi_anti_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q94/q16 shape: EXISTS and NOT EXISTS against the SAME fact in
    one query -- a left-semi and a left-anti join chained on the order key
    (multi-line orders that shipped nothing returned). Totals summed as
    exact cents."""
    o = load(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997)
    li = load(spark, sf_dir, "lineitem")
    multi = li.filter(F.col("l_linenumber") > 4).select("l_orderkey")
    returned = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("r_ok")
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("decimal(18,0)")
    return (
        o.join(multi, o.o_orderkey == multi.l_orderkey, "left_semi")
        .join(returned, o.o_orderkey == F.col("r_ok"), "left_anti")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            (F.sum(cents).cast("double") / 100.0).alias("total_price"),
        )
    )
