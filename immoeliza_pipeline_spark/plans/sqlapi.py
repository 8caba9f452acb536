"""SQL-API entry points (SURVEY.md §2.1): the engine's tables exposed
as temp views and queried with spark.sql — the second front door next
to the DataFrame API. Catalyst produces the same plans either way;
these queries widen the TPC-H-style analytic coverage.

Each query is ONE SQL text: Spark runs it through spark.sql and the
DuckDB oracle runs the same string, so the two sides cannot drift.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from immoeliza_pipeline_spark.functions.num import sql_exact_units, sql_quantize, sql_sum_money
from immoeliza_pipeline_spark.sources.readers import TABLES, load_table


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql.

    Re-registration is safe across sequential calls with different
    sf_dirs (createOrReplaceTempView swaps atomically); concurrent
    callers on ONE session with DIFFERENT sf_dirs would race — use
    separate sessions for that (the harness is sequential)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def _sql_query(name: str, doc: str,
               sql: str) -> Callable[[SparkSession, str], DataFrame]:
    """The registry function for one SQL text: register the views, run
    `sql`. It carries `name` and `doc` so the harness can report them."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)
    run.__name__, run.__doc__ = name, doc
    return run


_REVENUE = "l_extendedprice * (1 - l_discount)"

Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year, {sql_sum_money("volume")} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9'))
    AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""

Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {sql_sum_money(_REVENUE)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

Q18_SQL = f"""
SELECT c_custkey, o_orderkey, o_orderdate,
       {sql_quantize("o_totalprice", 100)} AS total_price,
       sum(l_quantity) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING sum(l_quantity) > 250
)
GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
"""

Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""

# sum of an INT is BIGINT in Spark already; DuckDB's is HUGEINT.
Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
"""

_PROMO = f"CASE WHEN p_type = 'PROMO' THEN {_REVENUE} ELSE 0 END"
Q14_SQL = f"""
SELECT {sql_quantize(f"100e0 * sum({sql_exact_units(_PROMO)}) / sum({sql_exact_units(_REVENUE)})", 10000)} AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate <  TIMESTAMP '1997-04-01'
"""

Q19_SQL = f"""
SELECT {sql_sum_money(_REVENUE)} AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 30
       AND l_quantity BETWEEN 10 AND 40)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
       AND l_quantity BETWEEN 20 AND 50)
"""

Q22_SQL = f"""
SELECT n_bucket, count(*) AS numcust, {sql_sum_money("c_acctbal")} AS totacctbal
FROM (
  SELECT c_custkey, c_acctbal, c_nationkey % 7 AS n_bucket
  FROM customer
  WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1998-01-01')
)
GROUP BY n_bucket
"""

Q6_SQL = f"""
SELECT {sql_sum_money("l_extendedprice * l_discount")} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""

Q16_SQL = """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_size BETWEEN 10 AND 40 AND p_brand <> 'Brand#5'
GROUP BY p_brand, p_type
"""

Q17_SQL = f"""
SELECT {sql_quantize(f"sum({sql_exact_units('l_extendedprice')}) / 1000000e0 / 7.0", 100)} AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_type = 'ECONOMY'
  AND l_quantity < (
    SELECT 0.2 * avg(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey)
"""

_NATION_9 = "CASE WHEN supp_nation = 'NATION_9' THEN volume ELSE 0 END"
Q8_SQL = f"""
SELECT o_year,
       {sql_quantize(f"sum({sql_exact_units(_NATION_9)}) * 1e0 / sum({sql_exact_units('volume')})", 1000000)} AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE'
    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
)
GROUP BY o_year
"""

Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {sql_sum_money(_REVENUE)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-07-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""

Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'STANDARD')
  GROUP BY l_suppkey
  HAVING sum(l_quantity) > (
    SELECT 1.05 * sum(l_quantity) / count(DISTINCT l_suppkey) FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'STANDARD'))
)
"""

Q9_SQL = f"""
SELECT nation, o_year, {sql_sum_money("amount")} AS sum_profit
FROM (
  SELECT n_name AS nation, year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount)
           - 0.4 * p_retailprice * l_quantity AS amount
  FROM lineitem
  JOIN part     ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%widget%'
)
GROUP BY nation, o_year
"""

Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE l1.l_linestatus = 'F' AND o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_linestatus = 'F')
GROUP BY s_name
"""


QUERIES: dict[str, tuple] = {
    name: (_sql_query(name, doc, sql), sql) for name, doc, sql in [
        ("q4_order_priority_check",
         "TPC-H Q4 shape: EXISTS semi-join + grouped counts.", Q4_SQL),
        ("q9_product_profit",
         "TPC-H Q9 shape: profit by supplier nation and year (no partsupp:"
         " cost is 40% of the part's retail price).", Q9_SQL),
        ("q21_suppliers_with_sole_failures",
         "TPC-H Q21 shape: EXISTS + NOT EXISTS against the same table.",
         Q21_SQL),
        ("q8_market_share",
         "TPC-H Q8 shape: a nation's share of regional revenue by year.",
         Q8_SQL),
        ("q15_top_supplier",
         "TPC-H Q15 shape: supplier revenue CTE + scalar-max selection.",
         Q15_SQL),
        ("q20_part_quantity_suppliers",
         "TPC-H Q20 shape: nested semi-join chain (no partsupp: suppliers"
         " over 1.05x the mean per-supplier quantity).", Q20_SQL),
        ("q6_forecast_revenue",
         "TPC-H Q6 shape: pure scan-filter-aggregate.", Q6_SQL),
        ("q13_customer_distribution",
         "TPC-H Q13 shape: LEFT join + count distribution.", Q13_SQL),
        ("q16_supplier_part_counts",
         "TPC-H Q16 shape: distinct-count per attribute bundle.", Q16_SQL),
        ("q17_small_quantity_revenue",
         "TPC-H Q17 shape: correlated per-part average threshold.", Q17_SQL),
        ("q7_volume_shipping",
         "TPC-H Q7 shape: revenue flow between two nations by year.",
         Q7_SQL),
        ("q12_shipmode_priority",
         "TPC-H Q12 shape: conditional-sum aggregation after a join.",
         Q12_SQL),
        ("q14_promo_revenue",
         "TPC-H Q14 shape: conditional revenue share (promo parts).",
         Q14_SQL),
        ("q19_disjunctive_predicates",
         "TPC-H Q19 shape: OR-of-ANDs predicate bundles across the join.",
         Q19_SQL),
        ("q22_global_sales_opportunity",
         "TPC-H Q22 shape: scalar AVG subquery + anti-join.", Q22_SQL),
        ("q10_returned_items",
         "TPC-H Q10 shape: top-20 customers by lost revenue on returns.",
         Q10_SQL),
        ("q18_large_volume_customers",
         "TPC-H Q18 shape: IN-subquery over a grouped HAVING.", Q18_SQL),
    ]
}
