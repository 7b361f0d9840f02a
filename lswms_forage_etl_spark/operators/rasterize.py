"""M3 — point-set rasterization as pure relational algebra.

Reference (rasterize.py:79-91): triple Python loop over (year, month, day)
uniques, `rasterio.features.rasterize` burning point values onto the 260x300
grid, fill=0, then `x <= 0 -> -99999`, one GeoTIFF per date.

Engine form — no UDF:
  1. snap points to (row, col) (C22),
  2. one hash agg per (date, row, col) to resolve collisions,
  3. left join the full grid-cell frame (driver-generated 78k rows,
     broadcast) per date via a cross of distinct dates x grid,
  4. nodata fill with coalesce.

The per-date loop becomes a single `partitionBy('date')` write; F8's
O(Y*M*D) subset scan disappears into one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lswms_forage_etl_spark.functions.grid import snap_cell
from lswms_forage_etl_spark.schemas import (
    GRID_N_COLS,
    GRID_N_ROWS,
    RASTER_NODATA,
)


def full_grid(spark: SparkSession, n_rows: int = GRID_N_ROWS,
              n_cols: int = GRID_N_COLS) -> DataFrame:
    """All (row, col) cells of the raster frame — generated, never stored."""
    return spark.range(n_rows).toDF("row").crossJoin(
        spark.range(n_cols).toDF("col")).select(
        F.col("row").cast("int"), F.col("col").cast("int"))


def rasterize_points(points: DataFrame, spark: SparkSession,
                     value_col: str = "biom",
                     nodata: float = RASTER_NODATA,
                     dense: bool = True) -> DataFrame:
    """points: (lon, lat, date, value_col) -> raster cells
    (date, row, col, value).

    Reference semantics preserved: `round(abs(value), 2)` burn value
    (rasterize.py:47-48), collisions resolved by mean, fill=0 then
    `<=0 -> nodata` (:85-86). With dense=False returns only populated cells
    (the engine-native sparse form — at 100 TB you never materialize empty
    cells; the dense frame exists only for GeoTIFF-faithful export).
    """
    burned = (
        snap_cell(points)
        .withColumn("_v", F.round(F.abs(F.col(value_col)), 2))
        .groupBy("date", "row", "col")
        .agg(F.avg("_v").alias("value"))
    )
    if not dense:
        return burned.withColumn(
            "value", F.when(F.col("value") <= 0, F.lit(nodata))
            .otherwise(F.col("value")))
    dates = points.select("date").distinct()
    frame = dates.crossJoin(F.broadcast(full_grid(spark)))
    return frame.join(burned, ["date", "row", "col"], "left").select(
        "date", "row", "col",
        F.when(F.coalesce(F.col("value"), F.lit(0.0)) <= 0, F.lit(nodata))
        .otherwise(F.col("value")).alias("value"),
    )


def manifest(cells: DataFrame) -> DataFrame:
    """S17 — one filename per new raster date (rasterize.py:67-77)."""
    return cells.select("date").distinct().select(
        F.concat(F.lit("biomass_"), F.date_format("date", "yyyyMMdd"),
                 F.lit(".tif")).alias("filename"))
