"""W2/W3/W4 — expanding-window hindcasts and the lag matrix.

Reference (BiomassHindcasts.py:42-77): per zone, for cut-points from the
halfway index (capped at min(100, n/2) refits, :43), fit the GP on rows
[:cut] and predict 4 horizons; horizon h is stored diagonally at row cut+h,
column h — yielding the '0/16/32/48 day lag time' matrix (:67-69, 91-94).

Engine form: the series arrive in one-row-per-zone form
(`models.gp.zone_series_arrays`: zone_id plus date-sorted `dates` and
`biomass` arrays), and one `mapInPandas` pass (`models.gp.fit_zones`) runs
every zone's refit loop in numpy (the same cut-point semantics, no
cross-zone state), emitting TALL rows (zone_id, date, horizon_days, value).
The diagonal positional write becomes a keyed pivot — fragile index
arithmetic replaced by (zone, date, horizon) keys (SURVEY §2.4 J5).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType, DoubleType, IntegerType, StringType, StructField, StructType,
)

from lswms_forage_etl_spark.models.gp import (
    HORIZON_DAYS,
    fit_zones,
    gp_posterior_mean,
)

HINDCAST_SCHEMA = StructType([
    StructField("zone_id", StringType(), False),
    StructField("date", DateType(), False),
    StructField("horizon_days", IntegerType(), False),
    StructField("value", DoubleType(), True),
])

MAX_REFITS = 100  # reference cap min(100, n/2) at BiomassHindcasts.py:43


def _hindcast_fit(x: np.ndarray, y: np.ndarray) -> list:
    """Expanding-window refits from the halfway index (:38-39); zones with
    fewer than 4 points emit nothing."""
    n = len(x)
    if n < 4:
        return []
    fits = []
    for cut in range(n // 2, n // 2 + min(MAX_REFITS, n - n // 2)):
        xs = np.array([x[cut - 1] + h for h in (0, *HORIZON_DAYS)])
        fits.append((xs, gp_posterior_mean(x[:cut], y[:cut], xs)))
    return fits


def hindcast_tall(zone_series: DataFrame) -> DataFrame:
    """W2 — tall (zone_id, date, horizon_days, value) hindcast rows."""
    return fit_zones(zone_series, _hindcast_fit, HINDCAST_SCHEMA)


def lag_matrix(tall: DataFrame) -> DataFrame:
    """W3 — pivot horizons into the '0/16/32/48 day lag time' wide columns,
    keyed on (zone_id, date) instead of array position."""
    return (tall.groupBy("zone_id", "date")
            .pivot("horizon_days", [0, *HORIZON_DAYS])
            .agg(F.first("value"))
            .select("zone_id", "date",
                    *[F.col(str(h)).alias(f"lag_{h}_day")
                      for h in (0, *HORIZON_DAYS)]))


def tail_k_per_group(df: DataFrame, k: int = 4,
                     group_col: str = "zone_id",
                     order_col: str = "date") -> DataFrame:
    """W4 — last k rows per group (BiomassForecast.py:78 tail-4)."""
    w = Window.partitionBy(group_col).orderBy(F.col(order_col).desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k).drop("_rn"))
