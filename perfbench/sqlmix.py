"""The ``sql_batch`` statement mix: Flink-dialect SQL run through
``EngineSession.sql``, each with a DuckDB twin over the same parquet.

Together they cover a scan-aggregate (TPC-H Q1), a broadcast star join, a
shuffle fact-fact join, ROLLUP, TUMBLE and HOP group windows (the rewriter
path), an OVER running sum and a ROW_NUMBER top-N. Results stay small so
the timed ``collect`` measures execution, not result transfer.
"""

from __future__ import annotations

import math

TABLES = ("region", "nation", "customer", "orders", "lineitem")

# name -> (Flink SQL, DuckDB oracle SQL)
STATEMENTS: dict[str, tuple[str, str]] = {
    "q1_scan_agg": (
        """
        SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
               SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
               AVG(l_discount) AS avg_disc, COUNT(*) AS cnt
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""",
        """
        SELECT l_returnflag, l_linestatus, SUM(l_quantity),
               SUM(l_extendedprice * (1 - l_discount)),
               SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
               AVG(l_discount), COUNT(*)
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""",
    ),
    "star_broadcast": (
        """
        SELECT r.r_name, COUNT(*) AS num_orders, SUM(o.o_totalprice) AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name""",
        None,  # same text
    ),
    "fact_fact_join": (
        """
        SELECT o.o_orderpriority, COUNT(DISTINCT o.o_orderkey) AS order_count,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F' AND l.l_quantity > 20
        GROUP BY o.o_orderpriority""",
        None,
    ),
    "rollup": (
        """
        SELECT COALESCE(r_name, 'ALL') AS region_name,
               COALESCE(n_name, 'ALL') AS nation_name,
               COUNT(*) AS num_customers, SUM(c_acctbal) AS total_bal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY ROLLUP (r_name, n_name)""",
        None,
    ),
    "tumble_window": (
        """
        SELECT TUMBLE_START(o_orderdate, INTERVAL '30' DAY) AS win_start,
               o_orderstatus, COUNT(*) AS cnt, SUM(o_totalprice) AS total
        FROM orders
        GROUP BY TUMBLE(o_orderdate, INTERVAL '30' DAY), o_orderstatus""",
        """
        SELECT to_timestamp(floor(epoch(o_orderdate) / 2592000) * 2592000)::TIMESTAMP,
               o_orderstatus, COUNT(*), SUM(o_totalprice)
        FROM orders GROUP BY 1, 2""",
    ),
    "hop_window": (
        """
        SELECT HOP_START(l_shipdate, INTERVAL '30' DAY, INTERVAL '90' DAY) AS win_start,
               COUNT(*) AS cnt, SUM(l_quantity) AS qty
        FROM lineitem
        GROUP BY HOP(l_shipdate, INTERVAL '30' DAY, INTERVAL '90' DAY)""",
        """
        WITH b AS (SELECT floor(epoch(l_shipdate) / 2592000) * 2592000 AS s,
                          l_quantity FROM lineitem),
        w AS (SELECT s AS ws, l_quantity FROM b
              UNION ALL SELECT s - 2592000, l_quantity FROM b
              UNION ALL SELECT s - 5184000, l_quantity FROM b)
        SELECT to_timestamp(ws)::TIMESTAMP, COUNT(*), SUM(l_quantity)
        FROM w GROUP BY ws""",
    ),
    "over_running_sum": (
        """
        SELECT c_nationkey, yr, revenue,
               SUM(revenue) OVER (PARTITION BY c_nationkey ORDER BY yr
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        FROM (SELECT c.c_nationkey, YEAR(o.o_orderdate) AS yr,
                     SUM(o.o_totalprice) AS revenue
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              GROUP BY c.c_nationkey, YEAR(o.o_orderdate)) t""",
        None,
    ),
    "topn_row_number": (
        """
        SELECT c_nationkey, o_custkey, total, rn FROM (
          SELECT c.c_nationkey, o.o_custkey, SUM(o.o_totalprice) AS total,
                 ROW_NUMBER() OVER (PARTITION BY c.c_nationkey
                   ORDER BY SUM(o.o_totalprice) DESC, o.o_custkey) AS rn
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY c.c_nationkey, o.o_custkey) t
        WHERE rn <= 3""",
        None,
    ),
}


def oracle_sql(name: str) -> str:
    flink, duck = STATEMENTS[name]
    return duck if duck is not None else flink


def oracles(corpus: str) -> dict[str, list[tuple]]:
    """Every statement's reference rows, from DuckDB over ``corpus``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
        return {n: con.execute(oracle_sql(n)).fetchall() for n in STATEMENTS}
    finally:
        con.close()


def _canon(v):
    if isinstance(v, float):
        return ("f", v)
    if hasattr(v, "isoformat"):
        return ("t", v.replace(tzinfo=None).isoformat()
                if hasattr(v, "tzinfo") else v.isoformat())
    if isinstance(v, int) and not isinstance(v, bool):
        return ("f", float(v))
    return ("s", "NULL" if v is None else str(v))


def same_rows(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Order-insensitive row equality; numbers equal within ``rel`` (sums of
    doubles differ in the last digits when added in another order)."""
    if len(got) != len(want):
        return False
    g = sorted((tuple(_canon(v) for v in r) for r in got), key=_sort_key)
    w = sorted((tuple(_canon(v) for v in r) for r in want), key=_sort_key)
    for rg, rw in zip(g, w):
        if len(rg) != len(rw):
            return False
        for (kg, vg), (kw, vw) in zip(rg, rw):
            if kg != kw:
                return False
            if kg == "f":
                if not math.isclose(vg, vw, rel_tol=rel, abs_tol=1e-6):
                    return False
            elif vg != vw:
                return False
    return True


def _sort_key(row):
    # floats sort after rounding so near-equal sums land in the same order
    return tuple((k, round(v, 4) if k == "f" else v) for k, v in row)
