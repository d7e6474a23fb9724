"""Exact AOI crop of the tile plane — the pixel-true form of xarray's
``.loc[y-slice, x-slice]`` / ``.sel(x=slice, y=slice)`` on the reference's
stacked array (stack.py:283-326 usage in docs/basic.ipynb).

``RasterStack.slice_bounds`` prunes whole tiles (a plan-time range filter —
keep using it when downstream ops only need "no more than the AOI").
``crop_tiles`` goes the rest of the way: boundary tiles are sliced to the
pixel window and all offsets are rebased so the result is a self-contained
stack whose spec IS the cropped grid — what a user exporting or serving an
AOI expects.

Scale shape: one plan-time range filter (``tiles_in_window``, the
predicate slice_bounds pushes down) + a MAP-ONLY Arrow kernel that slices
boundary tile payloads; no shuffle, no join — interior tiles pass through
with only an offset rebase (the payload bytes are untouched, so the kernel
is O(boundary) work on an O(AOI) input).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stackstac_spark.raster_spec import RasterSpec, Window
from stackstac_spark.sources.raster import TILE_SCHEMA


def tiles_in_window(tiles: DataFrame, win: Window) -> DataFrame:
    """The tiles overlapping the pixel window ``win`` — a plan-time range
    filter on the tile offsets (a window reaching past the raster edge keeps
    the same tiles as its clamped form, since every tile lies inside)."""
    r1 = win.row_off + win.height
    c1 = win.col_off + win.width
    return tiles.filter(
        (F.col("row_off") < r1)
        & (F.col("row_off") + F.col("tile_h") > win.row_off)
        & (F.col("col_off") < c1)
        & (F.col("col_off") + F.col("tile_w") > win.col_off)
    )


def crop_tiles(
    tiles: DataFrame,
    spec: RasterSpec,
    bounds: tuple[float, float, float, float],
    dtype: str = "float64",
) -> tuple[DataFrame, RasterSpec]:
    """Crop the tile table to ``bounds`` (given in the spec's CRS).

    The pixel window is the outward-rounded cover of ``bounds`` on the
    EXISTING grid (no resampling — the cropped grid stays aligned with the
    parent, like xarray label slicing), clamped to the raster. Returns
    ``(tiles, spec)`` for the cropped stack: tile offsets are rebased to
    the new origin and boundary payloads are sliced.
    """
    win = spec.pixel_window_from_bounds(bounds)
    h, w = spec.shape
    r0, c0 = max(win.row_off, 0), max(win.col_off, 0)
    r1 = min(win.row_off + win.height, h)
    c1 = min(win.col_off + win.width, w)
    if r1 <= r0 or c1 <= c0:
        raise ValueError(
            f"crop bounds {bounds} do not overlap the raster {spec.bounds}"
        )
    xres, yres = spec.resolutions_xy
    gminx, _, _, gmaxy = spec.bounds
    new_spec = RasterSpec(
        spec.epsg,
        (
            gminx + c0 * xres,
            gmaxy - r1 * yres,
            gminx + c1 * xres,
            gmaxy - r0 * yres,
        ),
        spec.resolutions_xy,
    )

    # plan-time prune: only tiles overlapping the window reach the kernel
    kept = tiles_in_window(tiles, win)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                tr0 = max(row.row_off, r0)
                tr1 = min(row.row_off + row.tile_h, r1)
                tc0 = max(row.col_off, c0)
                tc1 = min(row.col_off + row.tile_w, c1)
                nh, nw = tr1 - tr0, tc1 - tc0
                if nh == row.tile_h and nw == row.tile_w:
                    data = row.data  # interior tile: bytes untouched
                else:
                    arr = np.frombuffer(row.data, dtype=dtype).reshape(
                        row.tile_h, row.tile_w
                    )
                    data = arr[
                        tr0 - row.row_off : tr1 - row.row_off,
                        tc0 - row.col_off : tc1 - row.col_off,
                    ].tobytes()
                out.append(
                    (
                        row.item_idx,
                        row.band_idx,
                        row.tile_y,
                        row.tile_x,
                        tr0 - r0,
                        tc0 - c0,
                        nh,
                        nw,
                        data,
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in TILE_SCHEMA.fields]
            )

    return kept.mapInPandas(kernel, TILE_SCHEMA), new_spec
