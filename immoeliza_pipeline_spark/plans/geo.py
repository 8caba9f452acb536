"""Geo-enrichment queries (SURVEY.md §2.2 #29-30). Coordinates are
derived deterministically from keys (the TPC-H-ish testdata has no
geography), identically in Spark and the oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions.num import sql_quantize
from immoeliza_pipeline_spark.operators import geo as G
from immoeliza_pipeline_spark.sources.readers import load_table

# Belgium-ish synthetic coordinates from the customer key.
_LAT = "49.6 + (c_custkey % 300) / 150.0"
_LON = "2.6 + ((c_custkey * 7) % 350) / 100.0"


def city_radius_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """assign_city_based_on_proximity_multiple_radii parity
    (preprocessing.py:218-254): per-customer within-radius flags at
    5/10/15 km + nearest city within 15 km."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(_LAT).alias("lat"),
        F.expr(_LON).alias("lon"),
    )
    out = G.assign_city_by_proximity_literal(cust, "lat", "lon",
                                             radii_km=(5, 10, 15))
    return out.select("c_custkey", "has_city_5", "has_city_10", "has_city_15",
                      "nearest_city")


_CITY_VALUES = ", ".join(f"('{c}', {la}, {lo})" for c, la, lo in G.CITIES)
# G.haversine_km from (lat, lon) to (city_lat, city_lon)
_DIST_KM = """2 * 6371.0 * asin(sqrt(
             pow(sin(radians(city_lat - lat) / 2), 2)
             + cos(radians(lat)) * cos(radians(city_lat))
               * pow(sin(radians(city_lon - lon) / 2), 2)))"""

CITY_RADIUS_SQL = f"""
WITH cust AS (
  SELECT c_custkey, {_LAT} AS lat, {_LON} AS lon FROM customer
),
cities(city, city_lat, city_lon) AS (VALUES {_CITY_VALUES}),
scored AS (
  SELECT c_custkey,
         {sql_quantize(_DIST_KM, 1000000)} AS dist_km,
         city
  FROM cust CROSS JOIN cities
)
SELECT c_custkey,
       max(CASE WHEN dist_km <= 5 THEN 1 ELSE 0 END) AS has_city_5,
       max(CASE WHEN dist_km <= 10 THEN 1 ELSE 0 END) AS has_city_10,
       max(CASE WHEN dist_km <= 15 THEN 1 ELSE 0 END) AS has_city_15,
       min(CASE WHEN dist_km <= 15 THEN struct_pack(dist_km := dist_km, city := city) END).city AS nearest_city
FROM scored
GROUP BY c_custkey
"""

# Inline geocode cache (normalized address → coordinates); 3 of the 5
# synthetic addresses hit, 2 miss (kept with null coords, like the
# reference before its network fallback).
GEOCODE_CACHE = [
    ("teststraat 0 brussels", 50.85, 4.35),
    ("teststraat 1 brussels", 50.86, 4.36),
    ("teststraat 2 brussels", 50.87, 4.37),
]


def geocode_cache_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geocode_and_fill cache-lookup parity (preprocessing.py:138-216):
    normalize the address (abbrev expansion, case, whitespace), then
    broadcast-join the cache."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(F.lit("TestStr. "), (F.col("c_custkey") % 5).cast("string"),
                 F.lit("  Brussels")).alias("address"),
    )
    cache = spark.createDataFrame(
        GEOCODE_CACHE, "normalized_address string, lat double, lon double")
    out = G.geocode_from_cache(cust, "address", cache)
    return out.select("c_custkey", "lat", "lon",
                      F.col("lat").isNotNull().alias("cache_hit"))


_CACHE_VALUES = ", ".join(f"('{a}', {la}, {lo})" for a, la, lo in GEOCODE_CACHE)

GEOCODE_SQL = f"""
WITH cust AS (
  SELECT c_custkey,
         'TestStr. ' || CAST(c_custkey % 5 AS VARCHAR) || '  Brussels' AS address
  FROM customer
),
cache(normalized_address, lat, lon) AS (VALUES {_CACHE_VALUES})
SELECT c_custkey, lat, lon, (lat IS NOT NULL) AS cache_hit
FROM cust LEFT JOIN cache ON {G.sql_normalize_address("address")} = normalized_address
"""


QUERIES: dict[str, tuple] = {
    "city_radius_assignment": (city_radius_assignment, CITY_RADIUS_SQL),
    "geocode_cache_join": (geocode_cache_join, GEOCODE_SQL),
}
