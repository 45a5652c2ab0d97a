"""Nearest-neighbour spatial join (SURVEY J8/K3).

Reference: `collectors/pm25/pm25_pipeline.py:166-189` — each station's
lat/lon is matched to the nearest grid cell with a haversine BallTree.
sklearn is not a dependency here; with a broadcast grid (33k rows) a
vectorized numpy haversine argmin inside a pandas UDF is exact and O(S·G)
per batch — S is tiny (hundreds of stations).

Scale path (documented for 100×: many millions of left rows): bucket both
sides by coarse geohash/50km cell, join on bucket (+neighbour buckets),
then window ``min_by(distance)`` — turns the all-pairs scan into a
co-located equi-join. The exact broadcast version below is the reference-
faithful default.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from pm25ml_spark.functions.columns import EARTH_RADIUS_KM, haversine_col


def haversine_km(
    lat1: np.ndarray, lon1: np.ndarray, lat2: np.ndarray, lon2: np.ndarray
) -> np.ndarray:
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))


def nearest_grid_join(
    points: DataFrame,
    grid: DataFrame,
    point_id: str = "id",
    grid_id: str = "grid_id",
    lat: str = "latitude",
    lon: str = "longitude",
    grid_lat: str = "lat",
    grid_lon: str = "lon",
) -> DataFrame:
    """Attach the nearest grid cell id + distance to every point.

    The grid is collected once on the driver (dimension-sized by
    contract — 33k rows in the reference) and shipped to executors via
    the UDF closure; points stream through ``mapInPandas`` in Arrow
    batches with no shuffle.
    """
    g = grid.select(grid_id, grid_lat, grid_lon).toPandas()
    g_ids = g[grid_id].to_numpy()
    g_lat = g[grid_lat].to_numpy(dtype=np.float64)
    g_lon = g[grid_lon].to_numpy(dtype=np.float64)

    out_schema = StructType(
        list(points.schema.fields)
        + [
            StructField(grid_id, grid.schema[grid_id].dataType),
            StructField("nn_distance_km", DoubleType()),
        ]
    )

    def fn(batches):
        for pdf in batches:
            lat_arr = pdf[lat].to_numpy(dtype=np.float64)
            lon_arr = pdf[lon].to_numpy(dtype=np.float64)
            d = haversine_km(
                lat_arr[:, None], lon_arr[:, None], g_lat[None, :], g_lon[None, :]
            )
            idx = d.argmin(axis=1)
            pdf = pdf.copy()
            pdf[grid_id] = g_ids[idx]
            pdf["nn_distance_km"] = d[np.arange(len(pdf)), idx]
            yield pdf

    return points.mapInPandas(fn, schema=out_schema)


def nearest_grid_join_bucketed(
    points: DataFrame,
    grid: DataFrame,
    cell_deg: float = 0.5,
    point_id: str = "id",
    grid_id: str = "grid_id",
    lat: str = "latitude",
    lon: str = "longitude",
    grid_lat: str = "lat",
    grid_lon: str = "lon",
) -> DataFrame:
    """The 100 TB shape of the NN join (SURVEY J8 scale note): bucket both
    sides into ``cell_deg``-degree cells, replicate each grid row to its
    3×3 neighborhood, equi-join on the cell key, and keep the per-point
    minimum via a (distance, grid_id)-ordered window. Everything is
    JVM-side column algebra — no Python, no broadcast of the full grid —
    and the join shuffles only same-neighborhood pairs.

    EXACT whenever each point's true nearest cell is < one cell away
    (cell_deg ≥ grid pitch guarantees it for points inside the grid
    envelope); points with an empty 3×3 neighborhood violate that
    precondition and are dropped by the inner join.
    """
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    g = (
        grid.select(grid_id, grid_lat, grid_lon)
        .withColumn("o", F.explode(offsets))
        .select(
            grid_id,
            grid_lat,
            grid_lon,
            (F.floor(F.col(grid_lon) / cell_deg) + F.col("o.dx")).alias("cx"),
            (F.floor(F.col(grid_lat) / cell_deg) + F.col("o.dy")).alias("cy"),
        )
    )
    p = points.withColumn("cx", F.floor(F.col(lon) / cell_deg)).withColumn(
        "cy", F.floor(F.col(lat) / cell_deg)
    )
    cand = p.join(g, ["cx", "cy"]).withColumn(
        "nn_distance_km",
        haversine_col(F.col(lat), F.col(lon), F.col(grid_lat), F.col(grid_lon)),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(point_id).orderBy("nn_distance_km", grid_id)
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "cx", "cy", grid_lat, grid_lon)
    )
