"""Geospatial enrichment operators.

Parity: assign_city_based_on_proximity_multiple_radii
(preprocessing.py:218-254, geopandas buffer + sjoin) and
geocode_and_fill (preprocessing.py:138-216, Nominatim with a JSON
cache). Spark-first: the 10-city list unrolls into literal haversine
expressions (no join, no spatial index) and the geocode cache is a
dimension table broadcast against the fact side. Network geocoding
is inherently a driver-side external call; here the CACHE LOOKUP is
the operator and the network fallback is stubbed (no network in a
cluster hot path anyway).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions.num import quantize

EARTH_RADIUS_KM = 6371.0

# The reference's 10 Belgian cities (preprocessing.py:489-493).
CITIES = [
    ("Brussels", 50.8503, 4.3517), ("Antwerp", 51.2194, 4.4025),
    ("Ghent", 51.0543, 3.7174), ("Bruges", 51.2093, 3.2247),
    ("Liège", 50.6293, 5.3345), ("Namur", 50.4811, 4.8708),
    ("Leuven", 50.8794, 4.7004), ("Mons", 50.4542, 3.9460),
    ("Aalst", 50.9402, 4.0710), ("Sint-Niklaas", 51.2170, 4.4155),
]


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km (pure trig expressions)."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (F.sin(dlat / 2) ** 2
         + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) ** 2)
    return 2 * EARTH_RADIUS_KM * F.asin(F.sqrt(a))


def assign_city_by_proximity_literal(df: DataFrame, lat_col: str, lon_col: str,
                                     cities: list[tuple[str, float, float]] = CITIES,
                                     radii_km: Sequence[float] = (5, 10, 15)) -> DataFrame:
    """Per row: has_city_<r> flag for each radius + the nearest city
    within the largest radius, for a LITERAL city list. The distances
    unroll into one projection (codegen'd fma/trig chain) and the
    flags/argmin fold over an array of structs — no join, no groupBy,
    zero exchanges."""
    dists = [
        quantize(haversine_km(F.col(lat_col), F.col(lon_col),
                              F.lit(clat), F.lit(clon)), 1000000).alias(f"__d_{i}")
        for i, (_name, clat, clon) in enumerate(cities)
    ]
    out = df.select("*", *dists)
    max_r = max(radii_km)
    for r in radii_km:
        flag = None
        for i in range(len(cities)):
            cond = (F.col(f"__d_{i}") <= r).cast("int")
            flag = cond if flag is None else F.greatest(flag, cond)
        out = out.withColumn(f"has_city_{int(r)}", flag)
    candidates = F.array(*[
        F.when(F.col(f"__d_{i}") <= max_r,
               F.struct(F.col(f"__d_{i}").alias("dist_km"),
                        F.lit(name).alias("city")))
        for i, (name, _la, _lo) in enumerate(cities)
    ])
    nearest = F.array_min(F.filter(candidates, lambda c: c.isNotNull()))
    out = out.withColumn("nearest_city", nearest["city"])
    return out.drop(*[f"__d_{i}" for i in range(len(cities))])


# Address normalization rules (geocode_and_fill, preprocessing.py:149-154).
_ABBREV = [("str.", "straat"), ("blvd", "boulevard"), ("ave", "avenue")]


def normalize_address(col: Column) -> Column:
    out = F.lower(F.trim(col))
    for src, dst in _ABBREV:
        out = F.replace(out, F.lit(src), F.lit(dst))
    return F.regexp_replace(out, r"\s+", " ")


def geocode_from_cache(df: DataFrame, address_col: str, cache: DataFrame) -> DataFrame:
    """Broadcast-join the normalized address against the geocode
    cache (normalized_address, lat, lon) and FILL: when df already
    has lat/lon columns, existing coordinates win and only missing
    ones take the cached value (geocode_and_fill contract,
    preprocessing.py:183-215). Rows that miss the cache keep null —
    the reference's row-by-row Nominatim fallback stays out of the
    distributed hot path by design."""
    cache_r = cache.select(
        F.col("normalized_address"),
        F.col("lat").alias("__cache_lat"),
        F.col("lon").alias("__cache_lon"))
    normalized = df.withColumn("__addr_norm", normalize_address(F.col(address_col)))
    joined = normalized.join(
        F.broadcast(cache_r),
        normalized["__addr_norm"] == cache_r["normalized_address"], "left")
    for coord in ("lat", "lon"):
        if coord in df.columns:
            joined = joined.withColumn(
                coord, F.coalesce(F.col(coord), F.col(f"__cache_{coord}")))
        else:
            joined = joined.withColumn(coord, F.col(f"__cache_{coord}"))
    return joined.drop("normalized_address", "__addr_norm",
                       "__cache_lat", "__cache_lon")
