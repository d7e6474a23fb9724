"""``mosaic`` — flatten a dimension by first-valid-pixel.

Semantics from the reference's ops.py:156-224: layers are ordered along the
flattened dimension (time by default); with ``reverse=False`` the LAST layer
is on top ("last-on-top"); pixels equal to ``nodata`` are transparent; an
integer dtype with NaN nodata is a ValueError (ops.py:202-208).

Two physical strategies, both shuffle-minimal:

1. **pixel-relational** (`mosaic_pixels`): per (band, row, col) pixel,
   ``max_by(value, item_idx)`` over non-nodata values — a single hash
   aggregate, which Spark executes as partial (map-side) + final aggregation:
   exactly the reference's dask tree reduction (`_mosaic_dask`,
   ops.py:133-153) but implemented by the engine.
2. **tile-kernel** (`mosaic_tiles`): per (band, tile) group, the reference's
   own numpy fold ``out = where(invalid(out), layer, out)`` with its
   short-circuit when no invalid pixels remain (ops.py:59-62) — Arrow-batched
   via applyInPandas. Preferred when tiles are dense; identical results.
   ``operators.warp.xyztile_mosaic`` runs the same fold over warped items.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _validate_nodata(nodata, dtype: str) -> None:
    """ops.py:202-208: NaN nodata requires a float dtype."""
    if isinstance(nodata, float) and np.isnan(nodata) and not np.issubdtype(np.dtype(dtype), np.floating):
        raise ValueError(
            f"invalid nodata for dtype {dtype}: NaN is only valid for floats"
        )


def mosaic_pixels(
    pixels: DataFrame,
    dim: str = "item_idx",
    reverse: bool = False,
    nodata: float = np.nan,
    dtype: str = "float64",
) -> DataFrame:
    """First-valid-pixel composite over ``dim`` on the sparse pixel view.

    Default (reverse=False) = last-on-top ⇒ winner is the MAX item_idx with a
    valid value; reverse=True ⇒ MIN. Implemented as one hash aggregate
    (map-side partial + final), no window function, no sort.
    """
    _validate_nodata(nodata, dtype)
    valid = ~F.isnan("value") if (isinstance(nodata, float) and np.isnan(nodata)) else (F.col("value") != nodata)
    px = pixels.filter(valid)
    pick = F.min_by("value", F.col(dim)) if reverse else F.max_by("value", F.col(dim))
    keys = [c for c in ("band_idx", "row", "col") if c in pixels.columns and c != dim]
    return px.groupBy(*keys).agg(pick.alias("value"))


TILE_MOSAIC_SCHEMA = T.StructType(
    [
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("row_off", T.IntegerType()),
        T.StructField("col_off", T.IntegerType()),
        T.StructField("tile_h", T.IntegerType()),
        T.StructField("tile_w", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def _mosaic_fold(layers: Iterable[np.ndarray], nodata: float) -> np.ndarray | None:
    """The reference's numpy kernel (ops.py:11-72): fold the layers, given
    top-first, filling the output's invalid pixels; stop once none remain
    (ops.py:59-62). ``layers`` is consumed lazily, so a layer under a
    complete output is never computed."""
    isnan = isinstance(nodata, float) and np.isnan(nodata)
    out = None
    for layer in layers:
        if out is None:
            out = layer.copy()
        else:
            out[invalid] = layer[invalid]
        invalid = np.isnan(out) if isnan else (out == nodata)
        if not invalid.any():
            break
    return out


def mosaic_tiles(
    tiles: DataFrame, reverse: bool = False, nodata: float = np.nan, dtype: str = "float64"
) -> DataFrame:
    """Tile-wise mosaic: groupBy (band, tile) → numpy fold per group.

    One shuffle on (band_idx, tile_y, tile_x); group fan-in is n_items, the
    kernel short-circuits early for dense stacks.
    """
    _validate_nodata(nodata, dtype)

    def fold(key, pdf):
        first = pdf.iloc[0]
        order = np.argsort(pdf["item_idx"].to_numpy())
        if not reverse:
            order = order[::-1]  # last-on-top: highest idx first
        data = pdf["data"].to_numpy()
        out = _mosaic_fold(
            (
                np.frombuffer(data[k], dtype=dtype).reshape(first.tile_h, first.tile_w)
                for k in order
            ),
            nodata,
        )
        return pd.DataFrame(
            [
                (
                    int(key[0]),
                    int(key[1]),
                    int(key[2]),
                    int(first.row_off),
                    int(first.col_off),
                    int(first.tile_h),
                    int(first.tile_w),
                    out.tobytes(),
                )
            ],
            columns=[f.name for f in TILE_MOSAIC_SCHEMA.fields],
        )

    return (
        tiles.groupBy("band_idx", "tile_y", "tile_x")
        .applyInPandas(fold, TILE_MOSAIC_SCHEMA)
    )
