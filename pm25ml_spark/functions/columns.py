"""Engine-portable column expressions shared across operators and plans.

Both helpers run JVM-side (no Python UDF) and are mirrored bit-for-bit by
the DuckDB oracles: ``md5_long`` is the hash behind every deterministic
sample, bucket and signature; ``haversine_col`` is the great-circle
distance the spatial joins and IDW regridding rank on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088

# 15 hex chars = 60 bits — fits a signed BIGINT in every engine.
_HEX_LEN = 15


def md5_long(col) -> Column:
    """First 60 bits of md5 as a non-negative bigint (engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, _HEX_LEN), 16, 10).cast("bigint")


def haversine_col(lat1, lon1, lat2, lon2) -> Column:
    """Haversine distance (km) as a JVM-side column expression."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dp, dl = p2 - p1, F.radians(lon2) - F.radians(lon1)
    a = F.pow(F.sin(dp / 2), 2) + F.cos(p1) * F.cos(p2) * F.pow(F.sin(dl / 2), 2)
    return F.lit(2 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))
