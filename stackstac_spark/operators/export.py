"""Dense export + tile-table checkpointing.

Dense export re-synthesizes fill values from the sparse tile table. The
engine never materializes dense 4-D data distributed-side (SURVEY §7's
representation decision); density is an *export* concern, like the
reference's final xr.DataArray assembly (stack.py:314-326). Only for small
AOIs / tests — the driver-side array is O(time × band × h × w).

``write_tiles``/``read_tiles`` checkpoint a computed tile table as Parquet
partitioned on ``(band_idx, tile_y)`` — the persistent form of the stack.
Re-reading restores a RasterStack whose band/AOI slices become partition +
row-group pruning on the Parquet scan, which is how a 100 TB stack is
served repeatedly without re-reading source COGs.
"""

from __future__ import annotations

import json

import numpy as np

from stackstac_spark.raster_spec import RasterSpec


def to_dense_array(stack) -> np.ndarray:
    """RasterStack → dense (time, band, y, x) float64 ndarray, NaN-filled.

    Missing tiles (absent rows) become fill — identical semantics to the
    reference's empty-chunk broadcast trick (to_dask.py:168-175) without ever
    shipping fill tiles over the network.
    """
    spec: RasterSpec = stack.spec
    h, w = spec.shape
    item_rows = stack.items_df.select("item_idx").distinct().collect()
    item_idxs = sorted(r.item_idx for r in item_rows)
    pos = {idx: k for k, idx in enumerate(item_idxs)}
    n_t = len(item_idxs)
    n_b = len(stack.asset_ids)
    # band_idx values can be non-contiguous after sel_bands/mask_band (the
    # stack keeps ORIGINAL indices) — map them to dense axis positions
    band_idxs = getattr(stack, "band_idxs", None) or list(range(n_b))
    bpos = {idx: k for k, idx in enumerate(band_idxs)}
    dtype = getattr(stack, "dtype", "float64")
    fill = getattr(stack, "fill_value", np.nan)
    out = np.full((n_t, n_b, h, w), fill, dtype=dtype)
    for row in stack.tiles.collect():
        if row.item_idx not in pos or row.band_idx not in bpos:
            continue
        arr = np.frombuffer(row.data, dtype=dtype).reshape(row.tile_h, row.tile_w)
        out[
            pos[row.item_idx],
            bpos[row.band_idx],
            row.row_off : row.row_off + row.tile_h,
            row.col_off : row.col_off + row.tile_w,
        ] = arr
    return out


def write_tiles(stack, path: str, mode: str = "overwrite") -> None:
    """Checkpoint a RasterStack: tile table → Parquet partitioned on
    ``(band_idx, tile_y)`` (band-select and row-band AOI slices prune whole
    directories; finer col pruning rides Parquet min/max stats on tile_x),
    plus spec/band metadata and the item coord table alongside."""
    stack.tiles.write.partitionBy("band_idx", "tile_y").mode(mode).parquet(f"{path}/tiles")
    stack.items_df.write.mode(mode).parquet(f"{path}/items")
    meta = {
        "epsg": stack.spec.epsg,
        "bounds": list(stack.spec.bounds),
        "resolutions_xy": list(stack.spec.resolutions_xy),
        "asset_ids": stack.asset_ids,
        "dtype": stack.dtype,
        "fill_value": None if np.isnan(stack.fill_value) else stack.fill_value,
    }
    spark = stack.tiles.sparkSession
    spark.createDataFrame([(json.dumps(meta),)], "meta STRING").coalesce(1).write.mode(
        mode
    ).json(f"{path}/meta")


def read_tiles(spark, path: str):
    """Restore a RasterStack from a ``write_tiles`` checkpoint."""
    from stackstac_spark.stack import RasterStack

    meta = json.loads(spark.read.json(f"{path}/meta").collect()[0].meta)
    spec = RasterSpec(
        int(meta["epsg"]), tuple(meta["bounds"]), tuple(meta["resolutions_xy"])
    )
    fill = meta.get("fill_value")
    return RasterStack(
        source=spark.read.parquet(f"{path}/tiles"),
        spec=spec,
        asset_ids=list(meta["asset_ids"]),
        items_df=spark.read.parquet(f"{path}/items"),
        dtype=meta.get("dtype", "float64"),
        fill_value=np.nan if fill is None else fill,
    )


def plane_to_geotiff(
    df,
    spec: RasterSpec,
    path: str,
    value_col: str = "value",
    nodata: float | None = None,
    dtype: str = "float64",
    tile: tuple[int, int] | None = (256, 256),
    compress: str = "deflate",
    predictor: int | None = None,
    overviews: list[int] | None = None,
) -> str:
    """(row, col, value) pixel plane → single-band GeoTIFF on ``spec``'s
    grid, written with the built-in writer (sources/minitiff) — the export
    twin of the no-rasterio read fallback, closing the IO loop: a stack can
    be read from GeoTIFFs, processed relationally, and written back as a
    GeoTIFF with zero native dependencies.

    Works for any single-plane result: ``mosaic()``, a normalized-difference
    plane, one climatology period, a warped band. Dense assembly happens
    driver-side like :func:`to_dense_array` (export-scale AOIs only; tiled
    distributed export is ``write_tiles``). Rows absent from ``df`` become
    ``nodata`` (default NaN for float dtypes, 0 for integer dtypes — the
    same default rule as the scan's fill_value guard). ``predictor=None``
    picks the DEFLATE-friendly one for the dtype (3 for floats, 2 for ints).
    """
    from stackstac_spark.sources import minitiff

    np_dtype = np.dtype(dtype)
    if nodata is None:
        nodata = np.nan if np_dtype.kind == "f" else 0
    if predictor is None:
        predictor = 1 if compress != "deflate" else (3 if np_dtype.kind == "f" else 2)
    h, w = spec.shape
    pdf = df.select("row", "col", value_col).toPandas()
    rr = pdf["row"].to_numpy()
    cc = pdf["col"].to_numpy()
    if len(rr) and (
        rr.min() < 0 or rr.max() >= h or cc.min() < 0 or cc.max() >= w
    ):
        raise ValueError(
            f"plane has pixels outside the spec grid {h}x{w}: "
            f"rows [{rr.min()}, {rr.max()}], cols [{cc.min()}, {cc.max()}]"
        )
    arr = np.full((h, w), nodata, dtype=np_dtype)
    arr[rr, cc] = pdf[value_col].to_numpy().astype(np_dtype)
    if tile is not None:
        # don't pad a small raster out to a huge tile: clamp each tile dim
        # to the raster dim rounded up to the TIFF-required multiple of 16
        tile = (
            min(tile[0], -(-h // 16) * 16),
            min(tile[1], -(-w // 16) * 16),
        )
    xres, yres = spec.resolutions_xy
    minx, _, _, maxy = spec.bounds
    return minitiff.write_geotiff(
        path,
        arr,
        spec.epsg,
        (xres, 0.0, minx, 0.0, -yres, maxy),
        nodata=None if (isinstance(nodata, float) and np.isnan(nodata)) else float(nodata),
        tile=tile,
        compress=compress,
        predictor=predictor,
        overviews=overviews,
    )


def mosaic_to_geotiff(stack, path: str, reverse: bool = False, **kwargs) -> str:
    """Convenience: single-band stack → first-valid mosaic → GeoTIFF."""
    if len(stack.asset_ids) != 1:
        raise ValueError(
            f"mosaic_to_geotiff writes ONE band; sel_bands() first "
            f"(stack has {stack.asset_ids})"
        )
    return plane_to_geotiff(
        stack.mosaic(reverse=reverse),
        stack.spec,
        path,
        dtype=kwargs.pop("dtype", stack.dtype),
        **kwargs,
    )
