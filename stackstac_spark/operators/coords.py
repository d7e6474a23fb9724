"""Coordinate/metadata accumulation — the reference's "aggregation suite"
(accumulate_metadata.py + prepare.py:398-573) as DataFrame aggregations.

The xarray model attaches every item property as a time-indexed coord, with
the rule set:
- a field constant across all items collapses to a scalar coord
  (accumulate_metadata.py:42-98),
- band-level fields are kept only when identical on every item that has them
  (accumulate_metadata_only_allsame, accumulate_metadata.py:101-131),
- x/y labels are linspace(min, max, n, endpoint=False) top-left corners with
  an optional half-pixel center shift (prepare.py:445-461).

Here coords are dimension tables, tiny relative to pixels and broadcast in
joins: ``accumulate_metadata`` (the constant⇒scalar rule over item
properties) and generated label tables for x/y. The time-indexed property
table is ``items_df`` itself, and ``prepare`` / ``prepare_local`` apply the
band-field all-same rule (``Prepared.band_fields``); ``RasterStack.create_views``
publishes both as SQL views.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stackstac_spark.raster_spec import RasterSpec


def accumulate_metadata(items_df: DataFrame) -> DataFrame:
    """Property table: (key, n_distinct, is_scalar, scalar_value).

    is_scalar ⇔ the value is identical on every item that has the field —
    the reference's constant⇒scalar rule as a countDistinct aggregate.
    """
    kv = items_df.select("item_idx", F.explode("properties").alias("key", "value"))
    return (
        kv.groupBy("key")
        .agg(
            F.count_distinct("value").alias("n_distinct"),
            F.count("value").alias("n_present"),
            F.first("value").alias("any_value"),
        )
        .select(
            "key",
            "n_distinct",
            (F.col("n_distinct") == 1).alias("is_scalar"),
            F.when(F.col("n_distinct") == 1, F.col("any_value")).alias("scalar_value"),
        )
    )


def xy_label_tables(
    spark: SparkSession, spec: RasterSpec, pixel_center: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Generated x/y label tables: (col, x) and (row, y).

    Executor-side generation (sequence+explode) — a 100k-pixel-wide grid's
    labels never materialize on the driver. Labels follow prepare.py:445-458:
    top-left corners, optionally shifted by half a pixel to centers.
    """
    h, w = spec.shape
    minx, miny, maxx, maxy = spec.bounds
    xres, yres = spec.resolutions_xy
    shift_x = xres / 2 if pixel_center else 0.0
    shift_y = yres / 2 if pixel_center else 0.0
    xs = (
        spark.range(w)
        .select(
            F.col("id").cast("int").alias("col"),
            (F.lit(minx + shift_x) + F.col("id") * F.lit((maxx - minx) / w)).alias("x"),
        )
    )
    ys = (
        spark.range(h)
        .select(
            F.col("id").cast("int").alias("row"),
            (F.lit(maxy - shift_y) - F.col("id") * F.lit((maxy - miny) / h)).alias("y"),
        )
    )
    return xs, ys

