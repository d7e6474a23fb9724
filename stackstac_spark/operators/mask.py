"""Masking: elementwise ``.where(cond)`` and mask-band (SCL-style) filtering
on the tile DataFrame — the reference's own demo applies
``ndvi_comp.where(ndvi_comp > threshold)`` (examples/show.ipynb:36012), and
masking by a classification band (Sentinel-2 SCL) is the single most common
cloud-masking idiom on a stacked raster.

Physical strategy (100 TB shape):

- ``where_tiles`` is MAP-ONLY: an Arrow-batched ``mapInPandas`` kernel
  rewrites each tile payload in place (masked pixels → ``other``, default
  the stack fill). No shuffle, no join — it fuses into whatever scan or
  warp stage precedes it, and downstream sparse ops (``explode_pixels``
  with ``drop_fill``) simply never materialize the masked pixels.
- ``RasterStack.mask_band`` on a stack still read from its plan never
  joins payloads: the mask band's windows join the read plan's data rows
  (metadata), and the scan reads each data window with its mask window
  (sources/raster.py::ReadPlan.masked_by), with the keep test from
  :func:`mask_test`.
- ``mask_band_tiles`` masks tiles that exist already (a warp, a checkpoint,
  a second mask band): the mask band's payload meets each data band's
  payload in ONE hash equi-join on the tile key (item_idx, tile_y,
  tile_x) — the mask side is 1/n_bands of the stack and co-keyed, so this
  is a plain co-partitioned join (AQE broadcasts it when the AOI is
  small), then the same map-only elementwise kernel. Never a pixel-level
  join: payloads meet once per TILE, not once per pixel.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stackstac_spark.sources.raster import TILE_SCHEMA

MaskFn = Callable[[np.ndarray], np.ndarray]


def _check_other(other: float, dtype: str) -> None:
    if isinstance(other, float) and np.isnan(other) and not np.issubdtype(
        np.dtype(dtype), np.floating
    ):
        raise ValueError(
            f"other=NaN is not representable in dtype {dtype!r}; pass an "
            "integer fill or cast the stack to float first"
        )


def where_tiles(
    tiles: DataFrame,
    cond: MaskFn,
    other: float = float("nan"),
    dtype: str = "float64",
) -> DataFrame:
    """Elementwise ``xr.DataArray.where``: keep pixels where ``cond(values)``
    is True, replace the rest with ``other`` (default NaN — which the sparse
    pixel view then drops, i.e. masked pixels vanish from the relational
    plane exactly like xarray's NaN semantics).

    ``cond`` is a vectorized numpy predicate ``(tile_h, tile_w) array ->
    bool array`` evaluated per tile inside the Arrow batch. NaN input pixels
    stay masked regardless of ``cond`` (NaN comparisons are False in numpy,
    matching xarray: missing stays missing).
    """
    _check_other(other, dtype)

    def apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                arr = np.frombuffer(row.data, dtype=dtype).reshape(
                    row.tile_h, row.tile_w
                )
                keep = cond(arr)
                masked = np.where(keep, arr, np.asarray(other, dtype=dtype))
                out.append(row._replace(data=masked.astype(dtype).tobytes()))
            yield pd.DataFrame(out, columns=pdf.columns)

    return tiles.mapInPandas(apply, TILE_SCHEMA)


def mask_test(
    keep: Sequence[float] | MaskFn, other: float, dtype: str
) -> tuple[MaskFn, np.ndarray]:
    """``(keep_fn, other)`` for a mask band of a ``dtype`` stack:
    ``keep_fn`` maps a mask block to the pixels to keep — ``keep`` itself
    when callable, else membership in the value list cast to ``dtype`` —
    and ``other`` is the masked pixels' value as a ``dtype`` scalar."""
    _check_other(other, dtype)
    other_v = np.asarray(other, dtype=dtype)
    if callable(keep):
        return keep, other_v
    keep_vals = np.asarray(list(keep), dtype=dtype)
    return (lambda m: np.isin(m, keep_vals)), other_v


def mask_band_tiles(
    tiles: DataFrame,
    mask_band_idx: int,
    keep: Sequence[float] | MaskFn,
    other: float = float("nan"),
    dtype: str = "float64",
) -> DataFrame:
    """Mask every data band by a classification band (the Sentinel-2 SCL
    idiom: ``keep=[4, 5, 6]`` keeps vegetated/bare/water pixels and nulls
    clouds): pixels whose mask-band value is not kept become ``other``.

    ``keep`` is either a sequence of mask values to KEEP (``np.isin``) or a
    vectorized numpy predicate on the mask array. The mask band itself is
    removed from the output (it is consumed, like ``.sel`` dropping the
    coordinate). Tiles of the mask band with no matching data tile are
    dropped; data tiles with no mask tile are dropped too (inner join —
    a missing mask means unknown classification, which is not "keep").
    """
    keep_fn, other_v = mask_test(keep, other, dtype)
    data = tiles.filter(F.col("band_idx") != mask_band_idx)
    mask = tiles.filter(F.col("band_idx") == mask_band_idx).select(
        "item_idx",
        "tile_y",
        "tile_x",
        F.col("data").alias("mask_data"),
    )
    joined = data.join(mask, ["item_idx", "tile_y", "tile_x"])

    out_cols = [f.name for f in TILE_SCHEMA.fields]

    def apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                arr = np.frombuffer(row.data, dtype=dtype).reshape(
                    row.tile_h, row.tile_w
                )
                m = np.frombuffer(row.mask_data, dtype=dtype).reshape(
                    row.tile_h, row.tile_w
                )
                masked = np.where(keep_fn(m), arr, other_v)
                rows.append(
                    tuple(getattr(row, c) for c in out_cols[:-1])
                    + (masked.astype(dtype).tobytes(),)
                )
            yield pd.DataFrame(rows, columns=out_cols)

    return joined.mapInPandas(apply, TILE_SCHEMA)
