"""Cleaning / preparation queries (SURVEY.md §2.2-2.3) — the
preprocessing.py + scraper.py capabilities of the reference exercised
on the testdata tables.

The testdata has no nulls, so null-handling operators first DERIVE
nulls deterministically (e.g. value→NULL when event_type='error'),
identically in the Spark plan and the DuckDB oracle, then clean them.
That keeps each capability oracle-checkable end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions import num as N
from immoeliza_pipeline_spark.functions.num import sql_avg_money, sql_sum_money
from immoeliza_pipeline_spark.operators import cleaning, encode, impute, outliers
from immoeliza_pipeline_spark.sources.readers import load_table


def clean_text_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """edit_text_columns parity (preprocessing.py:53-69): underscore→
    space + sentence-capitalize; title-case; strip ' (1234)' blocks.
    All JVM string expressions — no UDF."""
    cust = load_table(spark, sf_dir, "customer")
    derived = cust.select(
        "c_custkey",
        F.concat(F.lit("state_of "), F.lower("c_mktsegment")).alias("subtype_raw"),
        F.concat(F.lower("c_name"), F.lit(" town")).alias("locality_raw"),
        F.concat(F.lower("c_mktsegment"), F.lit(" ("),
                 (F.col("c_custkey") % 9000 + 1000).cast("string"), F.lit(")")).alias("locality_zip"),
    )
    return derived.select(
        "c_custkey",
        cleaning.capitalize_sentence(F.regexp_replace("subtype_raw", "_", " ")).alias("subtype"),
        cleaning.capitalize_words(F.col("locality_raw")).alias("locality_name"),
        cleaning.strip_parenthesized_zip(F.col("locality_zip")).alias("locality_clean"),
    )


CLEAN_TEXT_SQL = """
WITH derived AS (
  SELECT c_custkey,
         'state_of ' || lower(c_mktsegment)               AS subtype_raw,
         lower(c_name) || ' town'                          AS locality_raw,
         lower(c_mktsegment) || ' (' || CAST(c_custkey % 9000 + 1000 AS VARCHAR) || ')' AS locality_zip
  FROM customer
)
SELECT c_custkey,
       upper(replace(subtype_raw, '_', ' ')[1]) || lower(replace(subtype_raw, '_', ' ')[2:]) AS subtype,
       list_aggregate(list_transform(string_split(locality_raw, ' '),
                                     w -> upper(w[1]) || lower(w[2:])), 'string_agg', ' ') AS locality_name,
       regexp_replace(locality_zip, '\\s*\\(\\d+\\)', '') AS locality_clean
FROM derived
"""


def filter_valid_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_invalid_values_by_column parity (preprocessing.py:71-73):
    keep rows whose synthetic postal code has exactly 4 chars."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "postal_code", (F.col("c_custkey") % 12000).cast("string"))
    return (
        cleaning.filter_valid_length(cust, "postal_code", 4)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_valid"))
    )


FILTER_LEN_SQL = """
SELECT c_mktsegment, count(*) AS n_valid
FROM (SELECT c_mktsegment, CAST(c_custkey % 12000 AS VARCHAR) AS postal_code FROM customer)
WHERE length(postal_code) = 4
GROUP BY c_mktsegment
"""


def _events_with_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn(
        "value", F.when(F.col("event_type") == "error", None).otherwise(F.col("value"))
    ).withColumn(
        "props", F.when(F.col("event_id") % 13 == 0, None).otherwise(F.col("props"))
    )


_EVENTS_NULLS_CTE = """
  SELECT event_id, ts, user_id, event_type,
         CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value,
         CASE WHEN event_id % 13 = 0 THEN NULL ELSE props END AS props
  FROM events
"""


def null_fraction_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_missing_data measurement (preprocessing.py:79-85): one
    pass computing all columns' null fractions, unpivoted."""
    return cleaning.null_fraction_profile(
        _events_with_nulls(spark, sf_dir), ["event_type", "value", "props"])


NULL_PROFILE_SQL = f"""
WITH d AS ({_EVENTS_NULLS_CTE}),
w AS (
  SELECT avg(CASE WHEN event_type IS NULL THEN 1.0 ELSE 0.0 END) AS event_type,
         avg(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END) AS value,
         avg(CASE WHEN props IS NULL THEN 1.0 ELSE 0.0 END) AS props
  FROM d
)
SELECT 'event_type' AS column_name, (floor((event_type) * 10000 + 0.5) / 10000) AS null_frac FROM w
UNION ALL SELECT 'value', (floor((value) * 10000 + 0.5) / 10000) FROM w
UNION ALL SELECT 'props', (floor((props) * 10000 + 0.5) / 10000) FROM w
"""


def drop_rows_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_rows_based_on_conditions parity (preprocessing.py:34-44):
    drop flagged rows, require non-null target — then summarize."""
    ev = _events_with_nulls(spark, sf_dir).withColumn(
        "is_bot", (F.col("user_id") % 50 == 0))
    kept = cleaning.drop_rows_based_on_conditions(ev, true_col="is_bot", na_col="value")
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        N.sum_money(F.col("value"), 2).alias("sum_value"),
    )


DROP_ROWS_SQL = f"""
WITH d AS ({_EVENTS_NULLS_CTE})
SELECT event_type, count(*) AS n_kept, {sql_sum_money("value")} AS sum_value
FROM d
WHERE NOT (user_id % 50 = 0) AND value IS NOT NULL
GROUP BY event_type
"""


def normalize_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replace_nan_with_false + convert_columns parity
    (preprocessing.py:46-51, 87-104): null-flag→false→int, money→
    integer cents, key→string."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "O", True).alias("is_open_raw"),
        F.col("o_totalprice"),
    )
    df = cleaning.replace_null_with_false(orders, ["is_open_raw"])
    df = cleaning.convert_columns(df, bool_to_int=["is_open_raw"], to_string=["o_orderkey"])
    return df.select(
        F.col("o_orderkey").alias("orderkey_str"),
        F.col("is_open_raw").alias("is_open"),
        (F.floor((F.col("o_totalprice") * 100) + 0.5)).cast("bigint").alias("price_cents"),
    )


NORMALIZE_SQL = """
SELECT CAST(o_orderkey AS VARCHAR) AS orderkey_str,
       CAST(coalesce(CASE WHEN o_orderstatus = 'O' THEN TRUE END, FALSE) AS INT) AS is_open,
       CAST((floor((o_totalprice * 100) + 0.5)) AS BIGINT) AS price_cents
FROM orders
"""


def impute_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fill_missing_with_mode parity (preprocessing.py:309-319): holes
    punched in c_mktsegment are refilled with the global mode
    (ties → lowest value)."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 0, None).otherwise(F.col("c_mktsegment")))
    filled = impute.fill_missing_with_mode(cust, ["c_mktsegment"])
    return filled.select("c_custkey", F.col("c_mktsegment").alias("segment_filled"))


IMPUTE_MODE_SQL = """
WITH d AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
  FROM customer
), m AS (
  SELECT seg FROM d WHERE seg IS NOT NULL
  GROUP BY seg ORDER BY count(*) DESC, seg ASC LIMIT 1
)
SELECT c_custkey, coalesce(seg, (SELECT seg FROM m)) AS segment_filled
FROM d
"""


def impute_mode_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode imputation: holes in c_mktsegment refilled with
    the NATION's modal segment (ties → lowest). One shuffle for the
    per-group counts, broadcast back — no per-group Python."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 0, None).otherwise(F.col("c_mktsegment")))
    modes = impute.mode_per_group(cust, "c_nationkey", "c_mktsegment")
    return (
        cust.join(F.broadcast(modes), "c_nationkey", "left")
        .select("c_custkey",
                F.coalesce("c_mktsegment", "c_mktsegment_mode").alias("segment_filled"))
    )


IMPUTE_MODE_GROUP_SQL = """
WITH d AS (
  SELECT c_custkey, c_nationkey,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
  FROM customer
), m AS (
  SELECT c_nationkey, seg AS mode_seg FROM (
    SELECT c_nationkey, seg,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY count(*) DESC, seg ASC) AS rk
    FROM d WHERE seg IS NOT NULL
    GROUP BY c_nationkey, seg
  ) WHERE rk = 1
)
SELECT c_custkey, coalesce(seg, mode_seg) AS segment_filled
FROM d LEFT JOIN m USING (c_nationkey)
"""


def impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fill_missing_with_stat median parity (preprocessing.py:364-388)."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 11 == 0, None).otherwise(F.col("o_totalprice")))
    filled = impute.fill_missing_with_stat(orders, ["o_totalprice"], method="median")
    return filled.select("o_orderkey", N.quantize(F.col("o_totalprice"), 100).alias("price_filled"))


IMPUTE_MEDIAN_SQL = """
WITH d AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_totalprice END AS price
  FROM orders
)
SELECT o_orderkey, (floor((coalesce(price, (SELECT median(price) FROM d))) * 100 + 0.5) / 100) AS price_filled
FROM d
"""


def target_encode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """target_encode parity (preprocessing.py:321-336): category →
    mean(target), broadcast-joined back onto the rows."""
    orders = load_table(spark, sf_dir, "orders")
    mapping = orders.groupBy("o_orderpriority").agg(
        N.avg_money(F.col("o_totalprice"), 4).alias("priority_encoded"))
    return (orders.join(F.broadcast(mapping), "o_orderpriority")
            .select("o_orderkey", "o_orderpriority", "priority_encoded"))


TARGET_ENCODE_SQL = f"""
SELECT o_orderkey, o_orderpriority, priority_encoded
FROM orders JOIN (
  SELECT o_orderpriority AS pr, {sql_avg_money("o_totalprice")} AS priority_encoded
  FROM orders GROUP BY o_orderpriority
) ON o_orderpriority = pr
"""


def combine_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """combine_subtypes parity (preprocessing.py:256-279,506-512):
    collapse priorities into coarse groups, report counts + pct."""
    orders = load_table(spark, sf_dir, "orders")
    grouped = encode.combine_categories(orders, "o_orderpriority", {
        "CRITICAL": ["1-URGENT", "2-HIGH"],
        "NORMAL": ["3-MEDIUM", "4-NOT SPECIFIED"],
        "LOW": ["5-LOW"],
    })
    return encode.category_counts(grouped, "o_orderpriority").select(
        F.col("o_orderpriority").alias("priority_group"), "cnt", "pct", "is_rare")


COMBINE_SQL = """
WITH g AS (
  SELECT CASE o_orderpriority
           WHEN '1-URGENT' THEN 'CRITICAL' WHEN '2-HIGH' THEN 'CRITICAL'
           WHEN '3-MEDIUM' THEN 'NORMAL' WHEN '4-NOT SPECIFIED' THEN 'NORMAL'
           WHEN '5-LOW' THEN 'LOW' ELSE o_orderpriority END AS priority_group
  FROM orders
)
SELECT priority_group, count(*) AS cnt,
       (floor((count(*) / (SELECT count(*)::DOUBLE FROM g)) * 1000000 + 0.5) / 1000000) AS pct,
       (count(*) / (SELECT count(*)::DOUBLE FROM g)) < 0.05 AS is_rare
FROM g
GROUP BY priority_group
"""


def rare_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analyze_categorical_data parity (preprocessing.py:289-307) on
    part brands with a 5% rarity threshold."""
    part = load_table(spark, sf_dir, "part")
    return encode.category_counts(part, "p_brand", rare_threshold=0.05)


RARE_SQL = """
SELECT p_brand, count(*) AS cnt,
       (floor((count(*) / (SELECT count(*)::DOUBLE FROM part)) * 1000000 + 0.5) / 1000000) AS pct,
       (count(*) / (SELECT count(*)::DOUBLE FROM part)) < 0.05 AS is_rare
FROM part
GROUP BY p_brand
"""


def quantile_clip_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize parity (preprocessing.py:556-580): clip o_totalprice
    to its exact [p05, p95]."""
    orders = load_table(spark, sf_dir, "orders")
    clipped = outliers.clip_to_quantiles(orders, {"o_totalprice": (0.05, 0.95)}, exact=True)
    return clipped.select("o_orderkey", N.quantize(F.col("o_totalprice"), 100).alias("price_clipped"))


CLIP_SQL = """
WITH q AS (
  SELECT quantile_cont(o_totalprice, 0.05) AS lo,
         quantile_cont(o_totalprice, 0.95) AS hi
  FROM orders
)
SELECT o_orderkey,
       (floor((least(greatest(o_totalprice, (SELECT lo FROM q)), (SELECT hi FROM q))) * 100 + 0.5) / 100) AS price_clipped
FROM orders
"""


def iqr_outlier_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analyze_numerical_columns parity (preprocessing.py:344-362):
    quartiles, IQR-fence outlier counts, population skewness."""
    li = load_table(spark, sf_dir, "lineitem")
    return outliers.iqr_outlier_profile(
        li, ["l_quantity", "l_extendedprice", "l_discount"], exact=True)


IQR_SQL = """
WITH stats AS (
  SELECT quantile_cont(l_quantity, 0.25) AS q1_q, quantile_cont(l_quantity, 0.75) AS q3_q, avg(l_quantity) AS m_q,
         quantile_cont(l_extendedprice, 0.25) AS q1_p, quantile_cont(l_extendedprice, 0.75) AS q3_p, avg(l_extendedprice) AS m_p,
         quantile_cont(l_discount, 0.25) AS q1_d, quantile_cont(l_discount, 0.75) AS q3_d, avg(l_discount) AS m_d
  FROM lineitem
), counts AS (
  SELECT
    CAST(sum(CASE WHEN l_quantity < q1_q - 1.5*(q3_q-q1_q) OR l_quantity > q3_q + 1.5*(q3_q-q1_q) THEN 1 ELSE 0 END) AS BIGINT) AS n_q,
    CAST(sum(CASE WHEN l_extendedprice < q1_p - 1.5*(q3_p-q1_p) OR l_extendedprice > q3_p + 1.5*(q3_p-q1_p) THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
    CAST(sum(CASE WHEN l_discount < q1_d - 1.5*(q3_d-q1_d) OR l_discount > q3_d + 1.5*(q3_d-q1_d) THEN 1 ELSE 0 END) AS BIGINT) AS n_d,
    avg(pow(l_quantity - m_q, 3)) / pow(avg(pow(l_quantity - m_q, 2)), 1.5) AS sk_q,
    avg(pow(l_extendedprice - m_p, 3)) / pow(avg(pow(l_extendedprice - m_p, 2)), 1.5) AS sk_p,
    avg(pow(l_discount - m_d, 3)) / pow(avg(pow(l_discount - m_d, 2)), 1.5) AS sk_d
  FROM lineitem, stats
)
SELECT 'l_quantity' AS column_name, (floor((q1_q) * 10000 + 0.5) / 10000) AS q1, (floor((q3_q) * 10000 + 0.5) / 10000) AS q3, (floor((q3_q-q1_q) * 10000 + 0.5) / 10000) AS iqr,
       n_q AS n_outliers, (floor((sk_q) * 1000 + 0.5) / 1000) AS skewness
FROM stats, counts
UNION ALL
SELECT 'l_extendedprice', (floor((q1_p) * 10000 + 0.5) / 10000), (floor((q3_p) * 10000 + 0.5) / 10000), (floor((q3_p-q1_p) * 10000 + 0.5) / 10000),
       n_p, (floor((sk_p) * 1000 + 0.5) / 1000)
FROM stats, counts
UNION ALL
SELECT 'l_discount', (floor((q1_d) * 10000 + 0.5) / 10000), (floor((q3_d) * 10000 + 0.5) / 10000), (floor((q3_d-q1_d) * 10000 + 0.5) / 10000),
       n_d, (floor((sk_d) * 1000 + 0.5) / 1000)
FROM stats, counts
"""


def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_duplicates keep-first parity (preprocessing.py:461-463)
    with a DETERMINISTIC order (pandas keep='first' depends on file
    order; at scale that is undefined — we order explicitly)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    return (
        li.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


DEDUP_EXACT_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey
FROM (
  SELECT l_orderkey, l_linenumber, l_partkey,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rk
  FROM lineitem
)
WHERE rk = 1
"""


PROVINCES = [
    ("Brussels", 1000, 1300), ("Brabant_Walloon", 1300, 2000),
    ("Antwerp", 2000, 3000), ("Flemish Brabant", 3000, 3500),
    ("Limburg", 3500, 4000), ("Liège", 4000, 5000), ("Namur", 5000, 6000),
    ("Luxembourg", 6000, 7000), ("Hainaut", 7000, 8000),
    ("West Flanders", 8000, 9000), ("East Flanders", 9000, 10000),
]


def bucket_by_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_province_column parity (preprocessing.py:106-136): postal
    range → province via a literal CASE chain (codegen'd, no UDF —
    the reference used a per-row Python apply)."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "postal_code", (F.col("c_custkey") % 9500) + 1000)
    expr = None
    for name, lo, hi in PROVINCES:
        cond = (F.col("postal_code") >= lo) & (F.col("postal_code") < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return cust.select("c_custkey", "postal_code", expr.alias("province"))


_PROVINCE_CASE = " ".join(
    f"WHEN postal_code >= {lo} AND postal_code < {hi} THEN '{name}'"
    for name, lo, hi in PROVINCES)

BUCKET_SQL = f"""
SELECT c_custkey, postal_code, CASE {_PROVINCE_CASE} END AS province
FROM (SELECT c_custkey, (c_custkey % 9500) + 1000 AS postal_code FROM customer)
"""


def grade_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPC banding parity (scraper.py:262-287) + rare-grade remap
    (preprocessing.py:532): kWh bands → grade, then {A+→A, G→F}."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "kwh", N.quantize(F.col("value") * 2 - 100, 100))
    banded = ev.withColumn(
        "epc_raw",
        F.when(F.col("kwh") < 0, "A+")
        .when(F.col("kwh") < 100, "A").when(F.col("kwh") < 200, "B")
        .when(F.col("kwh") < 300, "C").when(F.col("kwh") < 400, "D")
        .when(F.col("kwh") < 500, "E").otherwise("F"))
    remapped = banded.withColumn(
        "epc", encode.category_map_expr(F.col("epc_raw"), {"A+": "A", "G": "F"}))
    return remapped.groupBy("epc").agg(
        F.count(F.lit(1)).alias("n"),
        N.avg_money(F.col("kwh"), 4).alias("avg_kwh"))


GRADE_SQL = f"""
WITH banded AS (
  SELECT (floor((value * 2 - 100) * 100 + 0.5) / 100) AS kwh,
         CASE WHEN (floor((value * 2 - 100) * 100 + 0.5) / 100) < 0 THEN 'A+'
              WHEN (floor((value * 2 - 100) * 100 + 0.5) / 100) < 100 THEN 'A'
              WHEN (floor((value * 2 - 100) * 100 + 0.5) / 100) < 200 THEN 'B'
              WHEN (floor((value * 2 - 100) * 100 + 0.5) / 100) < 300 THEN 'C'
              WHEN (floor((value * 2 - 100) * 100 + 0.5) / 100) < 400 THEN 'D'
              WHEN (floor((value * 2 - 100) * 100 + 0.5) / 100) < 500 THEN 'E'
              ELSE 'F' END AS epc_raw
  FROM events
)
SELECT CASE epc_raw WHEN 'A+' THEN 'A' WHEN 'G' THEN 'F' ELSE epc_raw END AS epc,
       count(*) AS n, {sql_avg_money("kwh")} AS avg_kwh
FROM banded
GROUP BY 1
"""


def registry_merge_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-registry CDC merge parity (scraper.py:158-208): compare
    the stored registry vs a fresh snapshot → new/active/inactive.
    Full-outer join on the key — one shuffle; at 100 TB this is the
    standard CDC merge (anti/semi splits fused by Catalyst)."""
    orders = load_table(spark, sf_dir, "orders")
    registry = orders.filter(F.col("o_orderdate") < "1999-01-01").select(
        F.col("o_orderkey").alias("key"))
    snapshot = orders.filter(F.col("o_orderdate") >= "1997-01-01").select(
        F.col("o_orderkey").alias("key"))
    joined = registry.withColumn("in_reg", F.lit(1)).join(
        snapshot.withColumn("in_snap", F.lit(1)), on="key", how="full_outer")
    return joined.select(
        F.col("key").alias("o_orderkey"),
        F.when(F.col("in_reg").isNull(), "new")
        .when(F.col("in_snap").isNull(), "inactive")
        .otherwise("active").alias("status"),
    )


REGISTRY_SQL = """
WITH registry AS (SELECT o_orderkey AS key FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
snapshot AS (SELECT o_orderkey AS key FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01')
SELECT coalesce(r.key, s.key) AS o_orderkey,
       CASE WHEN r.key IS NULL THEN 'new'
            WHEN s.key IS NULL THEN 'inactive'
            ELSE 'active' END AS status
FROM registry r FULL OUTER JOIN snapshot s ON r.key = s.key
"""


def export_column_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create_csv_for_preprocessing parity (scraper.py:391-463):
    rename to the downstream contract, add placeholder columns for
    unmapped fields."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("id"),
        N.quantize(F.col("o_totalprice"), 100).alias("Price"),
        F.col("o_orderpriority").alias("Subtype"),
        F.col("o_orderstatus").alias("State_of_building"),
        F.lit(None).cast("string").alias("Type_of_sale"),
        F.lit(None).cast("double").alias("sale_annuity"),
    )


EXPORT_SQL = """
SELECT o_orderkey AS id, (floor((o_totalprice) * 100 + 0.5) / 100) AS Price,
       o_orderpriority AS Subtype, o_orderstatus AS State_of_building,
       CAST(NULL AS VARCHAR) AS Type_of_sale, CAST(NULL AS DOUBLE) AS sale_annuity
FROM orders
"""


def ingest_nested_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested classified-record extraction parity (scraper.py:210-313
    safe_get over window.classified JSON): build a nested payload,
    parse with an explicit from_json schema, extract with null-safe
    traversal. Missing branches (every 3rd record drops 'location')
    must surface as nulls, not errors."""
    orders = load_table(spark, sf_dir, "orders")
    loc = F.concat(
        F.lit('{"locality": "L'), (F.col("o_orderkey") % 50).cast("string"),
        F.lit('", "postalCode": "'), (1000 + F.col("o_orderkey") % 9000).cast("string"),
        F.lit('"}'))
    payload = F.concat(
        F.lit('{"property": {'),
        F.when(F.col("o_orderkey") % 3 != 0,
               F.concat(F.lit('"location": '), loc, F.lit(', '))).otherwise(F.lit("")),
        F.lit('"type": "'), F.col("o_orderstatus"),
        F.lit('"}, "transaction": {"sale": {"price": '),
        N.quantize(F.col("o_totalprice"), 100).cast("string"), F.lit("}}}"))
    schema = ("struct<property: struct<location: struct<locality: string, "
              "postalCode: string>, type: string>, "
              "transaction: struct<sale: struct<price: double>>>")
    parsed = orders.select("o_orderkey", F.from_json(payload, schema).alias("rec"))
    return parsed.select(
        "o_orderkey",
        F.col("rec.property.location.locality").alias("locality"),
        F.col("rec.property.location.postalCode").alias("postal_code"),
        F.col("rec.property.type").alias("property_type"),
        N.quantize(F.col("rec.transaction.sale.price"), 100).alias("price"),
    )


INGEST_JSON_SQL = """
WITH payload AS (
  SELECT o_orderkey,
         '{"property": {'
         || CASE WHEN o_orderkey % 3 <> 0
                 THEN '"location": {"locality": "L' || CAST(o_orderkey % 50 AS VARCHAR)
                      || '", "postalCode": "' || CAST(1000 + o_orderkey % 9000 AS VARCHAR)
                      || '"}, '
                 ELSE '' END
         || '"type": "' || o_orderstatus
         || '"}, "transaction": {"sale": {"price": '
         || CAST((floor((o_totalprice) * 100 + 0.5) / 100) AS VARCHAR) || '}}}' AS j
  FROM orders
)
SELECT o_orderkey,
       json_extract_string(j, '$.property.location.locality') AS locality,
       json_extract_string(j, '$.property.location.postalCode') AS postal_code,
       json_extract_string(j, '$.property.type') AS property_type,
       (floor((CAST(json_extract(j, '$.transaction.sale.price') AS DOUBLE)) * 100 + 0.5) / 100) AS price
FROM payload
"""


def ingest_error_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scraper error-path parity (scraper.py:316-386: failed parses
    marked status='error', good rows 'scraped'): corrupt every 7th
    payload, classify by parse success, never abort the batch."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "props",
        F.when(F.col("event_id") % 7 == 0,
               F.expr("substring(props, 1, length(props) - 1)"))  # drop closing brace
        .otherwise(F.col("props")))
    parsed = ev.withColumn("rec", F.from_json("props", "struct<k: bigint>"))
    classified = parsed.withColumn(
        "status", F.when(F.col("rec").isNull() | F.col("rec.k").isNull(),
                         "error").otherwise("scraped"))
    return classified.groupBy("event_type", "status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.coalesce(F.col("rec.k"), F.lit(0))).alias("sum_k"))


INGEST_ERRORS_SQL = """
WITH d AS (
  SELECT event_type,
         CASE WHEN event_id % 7 = 0
              THEN substr(props, 1, length(props) - 1)
              ELSE props END AS props
  FROM events
),
valid AS (
  -- NULL-out malformed payloads BEFORE any json_extract touches them:
  -- DuckDB may vector-evaluate the extract across all rows even under
  -- a CASE WHEN json_valid(...) guard and error on the bad bytes
  SELECT event_type,
         CASE WHEN json_valid(props) THEN props END AS props_ok
  FROM d
),
classified AS (
  SELECT event_type,
         CASE WHEN json_extract_string(props_ok, '$.k') IS NOT NULL
              THEN 'scraped' ELSE 'error' END AS status,
         CAST(json_extract_string(props_ok, '$.k') AS BIGINT) AS k
  FROM valid
)
SELECT event_type, status, count(*) AS n,
       CAST(sum(coalesce(k, 0)) AS BIGINT) AS sum_k
FROM classified
GROUP BY event_type, status
"""


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """print_dataframe_summary / describe() parity
    (preprocessing.py:390-407): per-column count, nulls, min, max,
    mean, stddev in ONE aggregate pass, unpivoted to K rows."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}__cnt"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            N.quantize(F.min(c), 10000).alias(f"{c}__min"),
            N.quantize(F.max(c), 10000).alias(f"{c}__max"),
            N.avg_money(F.col(c), 4).alias(f"{c}__mean"),
            N.quantize(F.stddev_samp(c), 10000).alias(f"{c}__std"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', `{c}__cnt`, `{c}__nulls`, `{c}__min`, `{c}__max`, `{c}__mean`, `{c}__std`"
        for c in _PROFILE_COLS)
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) as "
        "(column_name, cnt, n_nulls, min_val, max_val, mean_val, std_val)")


_PROFILE_SELECTS = " UNION ALL ".join(
    f"SELECT '{c}' AS column_name, count({c}) AS cnt, "
    f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
    f"(floor((min({c})) * 10000 + 0.5) / 10000) AS min_val, (floor((max({c})) * 10000 + 0.5) / 10000) AS max_val, "
    f"{sql_avg_money(c, 4)} AS mean_val, (floor((stddev_samp({c})) * 10000 + 0.5) / 10000) AS std_val "
    f"FROM lineitem"
    for c in _PROFILE_COLS)

PROFILE_SQL = f"SELECT * FROM ({_PROFILE_SELECTS})"


QUERIES: dict[str, tuple] = {
    "clean_text_columns": (clean_text_columns, CLEAN_TEXT_SQL),
    "ingest_nested_json": (ingest_nested_json, INGEST_JSON_SQL),
    "ingest_error_handling": (ingest_error_handling, INGEST_ERRORS_SQL),
    "table_profile": (table_profile, PROFILE_SQL),
    "filter_valid_length": (filter_valid_length, FILTER_LEN_SQL),
    "null_fraction_profile": (null_fraction_profile, NULL_PROFILE_SQL),
    "drop_rows_conditions": (drop_rows_conditions, DROP_ROWS_SQL),
    "normalize_types": (normalize_types, NORMALIZE_SQL),
    "impute_mode": (impute_mode, IMPUTE_MODE_SQL),
    "impute_mode_by_group": (impute_mode_by_group, IMPUTE_MODE_GROUP_SQL),
    "impute_median": (impute_median, IMPUTE_MEDIAN_SQL),
    "target_encode_priority": (target_encode_priority, TARGET_ENCODE_SQL),
    "combine_categories": (combine_categories, COMBINE_SQL),
    "rare_categories": (rare_categories, RARE_SQL),
    "quantile_clip_prices": (quantile_clip_prices, CLIP_SQL),
    "iqr_outlier_profile": (iqr_outlier_profile, IQR_SQL),
    "dedup_exact_keep_first": (dedup_exact_keep_first, DEDUP_EXACT_SQL),
    "bucket_by_range": (bucket_by_range, BUCKET_SQL),
    "grade_banding": (grade_banding, GRADE_SQL),
    "registry_merge_status": (registry_merge_status, REGISTRY_SQL),
    "export_column_remap": (export_column_remap, EXPORT_SQL),
}
