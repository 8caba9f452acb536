"""Geospatial enrichment operators.

Parity: assign_city_based_on_proximity_multiple_radii
(preprocessing.py:218-254, geopandas buffer + sjoin) and
geocode_and_fill (preprocessing.py:138-216, Nominatim with a JSON
cache). Spark-first: one haversine expression maps over the 10-city
list, one array literal (no join, no spatial index), and the geocode
cache is a dimension table broadcast against the fact side. Network
geocoding is inherently a driver-side external call; here the CACHE
LOOKUP is the operator and the network fallback is stubbed (no
network in a cluster hot path anyway).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from immoeliza_pipeline_spark.functions.num import quantize
from immoeliza_pipeline_spark.functions.text import WS

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
    within the largest radius, for a LITERAL city list. The cities are
    ONE array literal of (lat, lon, city) structs, so building the plan
    costs the same at any list length; one haversine maps over it, and
    the flags and the argmin read the cities it keeps — no join, no
    groupBy, zero exchanges. A NULL coordinate gives NULL distances,
    which no radius keeps: flags 0 and no nearest city, as the oracle's
    CASE … ELSE 0 and the reference's sjoin."""
    # Python's repr of a float or a printable str is Spark SQL literal text
    lit = F.expr("array(" + ", ".join(
        f"named_struct('lat', {float(la)!r}D, 'lon', {float(lo)!r}D, 'city', {name!r})"
        for name, la, lo in cities) + ")")
    max_r = max(radii_km)
    near = F.filter(F.transform(lit, lambda c: F.struct(
        quantize(haversine_km(F.col(lat_col), F.col(lon_col), c["lat"], c["lon"]),
                 1000000).alias("dist_km"),
        c["city"].alias("city"))), lambda c: c["dist_km"] <= max_r)
    flags = [F.exists("__near", lambda c: c["dist_km"] <= r).cast("int")
             .alias(f"has_city_{int(r)}") for r in radii_km]
    # The kept cities are staged as their own column: there is no CSE
    # across the flags' and the argmin's lambdas.
    keep = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
    return df.select("*", near.alias("__near")).select(
        *keep, *flags, F.array_min("__near")["city"].alias("nearest_city"))


# Address normalization rules (geocode_and_fill, preprocessing.py:149-154).
_ABBREV = [("str.", "straat"), ("blvd", "boulevard"), ("ave", "avenue")]


def normalize_address(col: Column) -> Column:
    out = F.lower(F.trim(col))
    for src, dst in _ABBREV:
        out = F.replace(out, F.lit(src), F.lit(dst))
    return F.regexp_replace(out, WS + "+", " ")


def sql_normalize_address(text: str) -> str:
    out = f"lower(trim({text}))"
    for src, dst in _ABBREV:
        out = f"replace({out}, '{src}', '{dst}')"
    return f"regexp_replace({out}, '{WS}+', ' ', 'g')"


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
