"""Raster-kernel plans (SURVEY K2 + the S12 distributed reader plumbing).

k02 drives the granule-manifest → ``mapInPandas`` decode → bilinear
regrid chain end-to-end under the DuckDB oracle. The granule paths are
nonexistent by construction, so ``decode_granule`` produces its
deterministic synthetic plane (value = a·lon + b·lat + c with a, b, c
derived from ``md5(path)`` — `sources/raster.py`); a plane is the one
raster family whose bilinear interpolation is exact everywhere inside
the lattice and equals coordinate-clamped evaluation outside it, so the
oracle can recompute the regrid in closed form — including the md5
seeding — without any raster in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pm25ml_spark.catalog import load_table
from pm25ml_spark.functions.columns import haversine_col
from pm25ml_spark.plans.registry import query

_G1 = "synthetic://merra/2023-06-01.nc4"
_G2 = "synthetic://merra/2023-06-02.nc4"

# the synthetic lattice bounds from decode_granule: lons 60..98 step 2,
# lats 5..37.5 step 2.5 — clamping a plane's bilinear sample to the
# lattice equals clamping the coordinates
_ORACLE = f"""
    WITH pts AS (
        SELECT vec_id AS grid_id,
               70 + CAST(embedding[2] AS DOUBLE) * 50 AS lon,
               20 + CAST(embedding[1] AS DOUBLE) * 50 AS lat
        FROM embeddings
    ),
    g AS (
        SELECT * FROM (VALUES ('{_G1}', '2023-06-01'), ('{_G2}', '2023-06-02'))
            AS t(path, date)
    ),
    seeded AS (
        SELECT path, date,
               ('0x' || substr(md5(path), 1, 8))::BIGINT % 1000 AS seed
        FROM g
    )
    SELECT p.grid_id, s.date, 't2m' AS variable,
           ROUND((0.1 + s.seed * 1e-4) * LEAST(GREATEST(p.lon, 60.0), 98.0)
                 + 0.2 * LEAST(GREATEST(p.lat, 5.0), 37.5)
                 + s.seed % 7, 6) AS value
    FROM pts p CROSS JOIN seeded s
"""


@query("k02_raster_regrid", _ORACLE)
def k02_raster_regrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.sources.raster import RasterGranule, read_granules_wide

    emb = load_table(spark, sf_dir, "embeddings")
    grid_pdf = emb.select(
        F.col("vec_id").alias("grid_id"),
        (F.lit(70.0) + F.element_at("embedding", 2).cast("double") * 50).alias(
            "lon"
        ),
        (F.lit(20.0) + F.element_at("embedding", 1).cast("double") * 50).alias(
            "lat"
        ),
    ).toPandas()
    granules = [
        RasterGranule(_G1, "2023-06-01", "t2m"),
        RasterGranule(_G2, "2023-06-02", "t2m"),
    ]
    out = read_granules_wide(spark, granules, grid_pdf)
    return out.select(
        "grid_id",
        "date",
        F.lit("t2m").alias("variable"),
        F.round("t2m", 6).alias("value"),
    )


# --------------------------------------------------------------------------
# k03 — IDW regrid (K1's oracle-checkable face; the Delaunay operator in
# `operators/interpolation.py` matches the reference's scipy.griddata
# numerically but has no SQL dual, so IDW carries the family's
# value-hash check). Synthetic station/grid geometry from the embedding
# table: targets are every 5th vector, sources the rest.
# Scale shape: 3×3 cell-bucketed equi-join — no cross join, no broadcast
# of the source table; the oracle pays the cross join only at oracle SF.
_IDW_RADIUS_KM, _IDW_CELL_DEG = 250.0, 4.0
_IDW_DIST = """ROUND(2 * 6371.0088 * asin(sqrt(
                   pow(sin(radians(g.lat - p.latitude) / 2), 2)
                   + cos(radians(p.latitude)) * cos(radians(g.lat))
                     * pow(sin(radians(g.lon - p.longitude) / 2), 2))), 6)"""


def idw_regrid_bucketed(
    targets,
    sources,
    value_col: str,
    radius_km: float,
    cell_deg: float,
    target_id: str = "id",
    lat: str = "latitude",
    lon: str = "longitude",
    src_lat: str = "lat",
    src_lon: str = "lon",
    power: int = 2,
):
    """Inverse-distance-weighted interpolation onto target points — the
    K1 family's oracle-checkable face (the Delaunay/barycentric operator
    in ``operators/interpolation`` matches the reference numerically but
    has no SQL dual; IDW is the standard alternative the literature
    reports alongside it).

    value(t) = Σ v_i / d_i^p  /  Σ 1 / d_i^p   over sources with
    haversine d_i ≤ radius_km.  Targets with no source in range drop out
    (same as an inner join — callers gap-fill downstream).

    Scale shape (same as ``nn_join.nearest_grid_join_bucketed``): both
    sides bucket into ``cell_deg`` cells, sources replicate to their 3×3
    neighborhood, and the candidate set is a co-located equi-join — no
    cross join, no broadcast of the full source table. EXACT coverage
    requires radius_km ≤ cell_deg · 111.3 · cos(max |lat|) so a cell
    step always exceeds the radius in km.

    Determinism: the haversine distance is rounded to 6 dp FIRST (the
    one cross-engine agreement point, as in the NN join oracle), the
    per-pair weight chain ``1/d6^p`` is then a fixed IEEE double
    sequence, and the two sums run in DECIMAL(38,18) — order-independent
    and exactly mirrored in SQL. A floor of 1e-6 km on d6 guards
    coincident points (deterministically, in both engines).
    """
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    s = (
        sources.select(src_lat, src_lon, value_col)
        .withColumn("o", F.explode(offsets))
        .select(
            src_lat,
            src_lon,
            value_col,
            (F.floor(F.col(src_lon) / cell_deg) + F.col("o.dx")).alias("cx"),
            (F.floor(F.col(src_lat) / cell_deg) + F.col("o.dy")).alias("cy"),
        )
    )
    t = targets.withColumn(
        "cx", F.floor(F.col(lon) / cell_deg)
    ).withColumn("cy", F.floor(F.col(lat) / cell_deg))
    d6 = F.greatest(
        F.round(
            haversine_col(
                F.col(lat), F.col(lon), F.col(src_lat), F.col(src_lon)
            ),
            6,
        ),
        F.lit(1e-6),
    )
    # spelled as repeated multiplication, not pow(): pow is not guaranteed
    # correctly rounded everywhere, a product chain is
    dpow = d6
    for _ in range(power - 1):
        dpow = dpow * d6
    w = F.lit(1.0) / dpow
    cand = (
        t.join(s, ["cx", "cy"])
        .withColumn("__d6", d6)
        .filter(F.col("__d6") <= radius_km)
        .withColumn("__w", w)
    )
    dec = "decimal(38,18)"
    return cand.groupBy(target_id).agg(
        F.count(F.lit(1)).alias("n_sources"),
        (
            F.sum((F.col("__w") * F.col(value_col).cast("double")).cast(dec)).cast("double")
            / F.sum(F.col("__w").cast(dec)).cast("double")
        ).alias("__idw"),
    ).select(
        target_id,
        "n_sources",
        F.round("__idw", 6).alias("idw_value"),
    )


@query(
    "k03_idw_regrid",
    f"""
    WITH pts AS (
        SELECT vec_id AS id,
               CAST(embedding[1] AS DOUBLE) * 50 AS latitude,
               70 + CAST(embedding[2] AS DOUBLE) * 50 AS longitude
        FROM embeddings WHERE vec_id % 5 = 0
    ),
    g AS (
        SELECT vec_id,
               CAST(embedding[1] AS DOUBLE) * 50 AS lat,
               70 + CAST(embedding[2] AS DOUBLE) * 50 AS lon,
               CAST(label AS DOUBLE) AS v
        FROM embeddings WHERE vec_id % 5 <> 0
    ),
    cand AS (
        SELECT p.id, g.v,
               GREATEST({_IDW_DIST}, 1e-6) AS d6
        FROM pts p CROSS JOIN g
    ),
    kept AS (SELECT id, v, 1.0 / (d6 * d6) AS w FROM cand WHERE d6 <= {_IDW_RADIUS_KM})
    SELECT id, COUNT(*) AS n_sources,
           ROUND(CAST(SUM(CAST((w * v) AS DECIMAL(38,18))) AS DOUBLE)
                 / CAST(SUM(CAST(w AS DECIMAL(38,18))) AS DOUBLE), 6) AS idw_value
    FROM kept GROUP BY id
    """,
)
def k03_idw_regrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    lat = F.element_at("embedding", 1).cast("double") * 50
    lon = F.lit(70.0) + F.element_at("embedding", 2).cast("double") * 50
    targets = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("id"),
        lat.alias("latitude"),
        lon.alias("longitude"),
    )
    sources = emb.filter(F.col("vec_id") % 5 != 0).select(
        lat.alias("lat"),
        lon.alias("lon"),
        F.col("label").cast("double").alias("v"),
    )
    return idw_regrid_bucketed(
        targets,
        sources,
        "v",
        radius_km=_IDW_RADIUS_KM,
        cell_deg=_IDW_CELL_DEG,
    )


# --------------------------------------------------------------------------
# k04 — raster stencil smoothing (3×3 neighborhood mean — the K-family's
# convolution face; reference regridders smooth fields the same way
# before export). Cells lattice from a hash aggregate of `events`
# (user_id → 20×20 cell), then the stencil runs as SCATTER: each cell
# explodes to its 9 (dx, dy) offsets and an equi-join on the target cell
# id aggregates contributions — the scale-correct convolution shape
# (offset explode + hash join keyed by cell), never a 9-way self-join or
# a windowed sort over the raster. Lattice edges naturally average over
# the contributions present.
#
# Determinism: both means are computed in 6-dp FIXED POINT — micro-unit
# bigint sums with an explicit half-up integer rounding
# ((s*10 div n + 5) div 10) — because a double ROUND of mean-of-6dp
# values lands on exact 10^-7 halfway points where engine rounding modes
# diverge (observed at sf0.01: 54.5894765 → .589476 vs .589477). Integer
# algebra is exact to ±9.2e18 µ-units per cell (≈2e10 rows/cell at
# value≈500); beyond that widen the sums to DECIMAL(38,0) — same algebra.
# Integer-division parity, verified on both engines: DuckDB's bigint
# ``//`` TRUNCATES toward zero (-7 // 2 = -3), exactly like Spark's
# ``div`` — so the plain div spelling below matches the oracle on
# negative sums too (half-up rounding then means "toward zero + 5"
# half-up for non-negative numerators, truncation-symmetric for
# negative ones, identically in both engines).
@query(
    "k04_grid_smooth",
    """
    WITH cells AS (
        SELECT CAST(user_id % 20 AS BIGINT) AS gx,
               CAST((user_id // 20) % 20 AS BIGINT) AS gy,
               (SUM(CAST(ROUND(value * 1000000) AS BIGINT)) * 10
                // COUNT(value) + 5) // 10 AS vm
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    ),
    offs AS (
        SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                   (0,1),(1,-1),(1,0),(1,1)) AS t(dx, dy)
    ),
    contrib AS (
        SELECT gx + dx AS tx, gy + dy AS ty, vm
        FROM cells CROSS JOIN offs
    ),
    sm AS (
        SELECT tx, ty, CAST(COUNT(*) AS BIGINT) AS n_contrib,
               (SUM(vm) * 10 // COUNT(*) + 5) // 10 AS smm
        FROM contrib GROUP BY tx, ty
    )
    SELECT c.gx, c.gy, c.vm / 1e6 AS value, s.smm / 1e6 AS smooth,
           s.n_contrib
    FROM cells c JOIN sm s ON s.tx = c.gx AND s.ty = c.gy
    """,
)
def k04_grid_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    cells = ev.groupBy(
        (F.col("user_id") % 20).cast("bigint").alias("gx"),
        (F.expr("user_id div 20") % 20).cast("bigint").alias("gy"),
    ).agg(
        F.expr(
            "(sum(cast(round(value * 1000000) as bigint)) * 10"
            " div count(value) + 5) div 10"
        ).alias("vm")
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    contrib = cells.select(
        F.explode(offs).alias("o"), "gx", "gy", "vm"
    ).select(
        (F.col("gx") + F.col("o.dx")).alias("tx"),
        (F.col("gy") + F.col("o.dy")).alias("ty"),
        "vm",
    )
    sm = contrib.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_contrib"),
        F.expr("(sum(vm) * 10 div count(1) + 5) div 10").alias("smm"),
    )
    return cells.join(
        sm,
        (F.col("tx") == F.col("gx")) & (F.col("ty") == F.col("gy")),
    ).select(
        "gx",
        "gy",
        (F.col("vm") / 1e6).alias("value"),
        (F.col("smm") / 1e6).alias("smooth"),
        "n_contrib",
    )


# --------------------------------------------------------------------------
# k06 — per-day GeoTIFF export + ingest, both FILE-PARALLEL (the S17
# GeoTIFF sink's catalog pin, closing its "no catalog-visible query"
# gap): each executor task writes one
# day's GeoTIFF (sources/geotiff.write_geotiff — real TIFF 6.0 / OGC
# GeoTIFF 1.1 bytes: zlib strips, ModelPixelScale/Tiepoint, GeoKey
# directory, GDAL nodata) and a second task-per-file pass decodes them
# back to per-day stats. Per-date files ARE the unit of parallelism for
# GIS exports, so one-task-one-file is the 100 TB shape, not a local
# shortcut. nodata cells (v == 7) are written as NaN and must be absent
# from the read-back; integer values exact in float32 keep every stat
# engine-portable with no rounding. Oracle = the generator formula.
_K6_T, _K6_Y, _K6_X = 5, 24, 40


@query(
    "k06_geotiff_roundtrip_stats",
    f"""
    WITH cells AS (
        SELECT t.t AS t_idx,
               (t.t * 31 + y.y * 7 + x.x * 3) % 89 AS v
        FROM UNNEST(range({_K6_T})) AS t(t),
             UNNEST(range({_K6_Y})) AS y(y),
             UNNEST(range({_K6_X})) AS x(x)
    )
    SELECT CAST(t_idx AS INT) AS t_idx,
           COUNT(*) AS n_valid,
           CAST(SUM(v) AS BIGINT) AS v_sum,
           CAST(MIN(v) AS DOUBLE) AS v_min,
           CAST(MAX(v) AS DOUBLE) AS v_max
    FROM cells WHERE v <> 7
    GROUP BY t_idx
    """,
)
def k06_geotiff_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import os
    import shutil
    import tempfile
    from collections.abc import Iterable, Iterator

    import numpy as np
    import pandas as pd

    t_n, y_n, x_n = _K6_T, _K6_Y, _K6_X
    out_dir = tempfile.mkdtemp(prefix="pm25ml_k06_gtiff_")
    atexit.register(shutil.rmtree, out_dir, True)
    ys = np.arange(y_n, dtype=np.float64) * 1000.0
    xs = np.arange(x_n, dtype=np.float64) * 1000.0

    def write_days(batches: "Iterable[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        from pm25ml_spark.sources.geotiff import write_geotiff

        import uuid

        for pdf in batches:
            paths = []
            for t in pdf["t"]:
                t = int(t)
                yy = np.arange(y_n).reshape(-1, 1)
                xx = np.arange(x_n).reshape(1, -1)
                g = ((t * 31 + yy * 7 + xx * 3) % 89).astype(np.float32)
                g[g == 7] = np.nan  # nodata holes
                # stage + rename: a retried/speculative task attempt
                # must never expose a torn file to the read stage
                final = os.path.join(out_dir, f"day_{t}.tif")
                tmp = write_geotiff(
                    f"{final}.tmp-{uuid.uuid4().hex}", g, ys, xs
                )
                os.replace(tmp, final)
                paths.append(final)
            yield pd.DataFrame({"path": paths, "t": pdf["t"]})

    days = spark.range(t_n).select(F.col("id").cast("int").alias("t"))
    written = days.repartition(t_n, "t").mapInPandas(
        write_days, "path string, t int"
    )

    def read_days(batches: "Iterable[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        from pm25ml_spark.sources.geotiff import read_geotiff

        for pdf in batches:
            for path, t in zip(pdf["path"], pdf["t"]):
                vals = read_geotiff(path)["values"]
                v = vals[~np.isnan(vals)].astype(np.float64)
                yield pd.DataFrame(
                    {"t_idx": np.full(len(v), int(t), dtype=np.int32),
                     "value": v}
                )

    cells = written.mapInPandas(read_days, "t_idx int, value double")
    return cells.groupBy("t_idx").agg(
        F.count(F.lit(1)).alias("n_valid"),
        F.sum(F.col("value").cast("bigint")).alias("v_sum"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )
