"""stackstac_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of gjoseph92/stackstac.

The reference (https://github.com/gjoseph92/stackstac) turns STAC item
metadata into a lazy, chunked 4-D ``(time, band, y, x)`` array and exposes an
xarray/dask query surface on top (filters, band select, temporal resample,
mosaic composites, NDVI arithmetic, map-tile rendering).

This engine re-expresses that model Spark-first:

- catalog / coordinates are plain DataFrames (``sources.stac``),
- the prepared IR is a sparse ``asset_table`` DataFrame + a broadcastable
  ``RasterSpec`` (``prepare``),
- the dask chunk grid becomes a generated ``tile_grid`` DataFrame joined to
  the asset table with an overlap predicate Catalyst can prune
  (``grid``),
- the leaf raster scan is an Arrow-batched ``mapInPandas`` UDF
  (``sources.raster``), with a deterministic fake-reader mode for tests,
- array compute (mosaic, resample, NDVI, percentiles) are DataFrame
  aggregations (``operators``),
- plus the large-scale training-data operators the reference never had:
  dedup (exact / minhash-LSH / simhash / n-gram Jaccard), similarity search,
  text analysis, multimodal binary columns.

Everything is designed for a 1000-executor cluster: sparse representations,
broadcast small sides, partial aggregation, predicate pushdown; tested on
``local[*]``.
"""

from stackstac_spark.raster_spec import RasterSpec
from stackstac_spark.session import get_spark
from stackstac_spark.sources.raster import (
    DEFAULT_GDAL_ENV,
    MULTITHREADED_DRIVER_ALLOWLIST,
    LayeredEnv,
)
from stackstac_spark.sources.stac_api import search_items
from stackstac_spark.stack import RasterStack, stack
from stackstac_spark.streaming.leaflet import add_to_map, show_map
from stackstac_spark.streaming.show import server_stats, show

__version__ = "0.1.0"


# --- reference drop-in surface (stackstac __init__.py __all__) --------------
# The reference re-exports mosaic / reproject_array / array_bounds /
# array_epsg / xyztile_of_array as module-level functions over DataArrays;
# here the array handle is a RasterStack (or its RasterSpec), and each
# wrapper delegates to the operator module.


def mosaic(arr, reverse: bool = False, nodata: float | None = None):
    """Reference ``stackstac.mosaic`` (ops.py:156-214): first-valid-pixel
    composite along time. ``arr`` is a RasterStack; returns the mosaic
    pixels DataFrame (``RasterStack.mosaic`` bound method equivalent)."""
    return arr.mosaic(reverse=reverse, nodata=nodata)


def array_bounds(arr) -> tuple:
    """Reference ``stackstac.array_bounds`` (geom_utils.py:37-63): the
    stack's bounds in its own CRS. Accepts a RasterStack or RasterSpec."""
    return getattr(arr, "spec", arr).bounds


def array_epsg(arr) -> int:
    """Reference ``stackstac.array_epsg`` (geom_utils.py:16-34)."""
    return int(getattr(arr, "spec", arr).epsg)


def reproject_array(arr, spec, method: str = "nearest", chunksize: int = 256):
    """Reference ``stackstac.reproject_array`` (geom_utils.py:206-304):
    warp a RasterStack onto another RasterSpec → a new float64 RasterStack
    on the destination grid (nearest / linear / cubic)."""
    import dataclasses

    from stackstac_spark.operators.warp import reproject_tiles

    warped = reproject_tiles(
        arr.tiles, arr.spec, spec, chunksize=chunksize, method=method, dtype=arr.dtype
    )
    return dataclasses.replace(arr, source=warped, spec=spec, dtype="float64")


def xyztile_of_array(
    arr, z: int, x: int, y: int, tilesize: int = 256, method: str = "linear"
):
    """Reference ``stackstac.xyztile_of_array`` (geom_utils.py:307-383):
    slice+warp the stack to one OSM tile → a new RasterStack on the
    EPSG:3857 tile grid, or None when the tile misses the stack."""
    from stackstac_spark.operators.warp import _xyz_dst_spec

    spec = _xyz_dst_spec(arr.spec, z, x, y, tilesize)
    if spec is None:
        return None
    return reproject_array(arr, spec, method=method, chunksize=tilesize)


__all__ = [
    "DEFAULT_GDAL_ENV",
    "LayeredEnv",
    "MULTITHREADED_DRIVER_ALLOWLIST",
    "RasterSpec",
    "RasterStack",
    "add_to_map",
    "array_bounds",
    "array_epsg",
    "get_spark",
    "mosaic",
    "reproject_array",
    "search_items",
    "server_stats",
    "show",
    "show_map",
    "stack",
    "xyztile_of_array",
    "__version__",
]
