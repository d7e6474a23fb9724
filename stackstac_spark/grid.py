"""Tile-grid generation and the asset×tile overlap join.

The reference materializes the chunk grid implicitly through dask's
``blockwise`` over ``ArraySliceDep`` (to_dask.py:88-101) and prunes
non-overlapping (asset, chunk) pairs *at task runtime* with
``windows.intersect`` (to_dask.py:183). Here the chunk grid is a generated
DataFrame — ``sequence`` + ``explode``, so a 100 TB stack's multi-million-tile
grid is produced executor-side, never on the driver — and the pruning is a
plan-time Catalyst range predicate on the asset×tile join, which is strictly
earlier than the reference can prune.

The join itself broadcasts the tile grid (tiles are O(grid-area/chunk²) tiny
rows) against the potentially huge asset table, so no shuffle occurs on the
scan path at all.
"""

from __future__ import annotations

import math
import re

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stackstac_spark.raster_spec import RasterSpec

# dask's default target chunk size ("array.chunk-size" config) — used for
# chunksize="auto", matching the reference's delegation to
# da.core.normalize_chunks (to_dask.py:219-231)
AUTO_TARGET_BYTES = 128 * 2**20

_BYTES_RE = re.compile(r"^\s*(\d+(?:\.\d+)?)\s*([KMGTP]i?)?B\s*$", re.IGNORECASE)
_BYTES_MULT = {
    "": 1,
    "K": 1000,
    "M": 1000**2,
    "G": 1000**3,
    "T": 1000**4,
    "P": 1000**5,
    "KI": 1024,
    "MI": 1024**2,
    "GI": 1024**3,
    "TI": 1024**4,
    "PI": 1024**5,
}


def _parse_bytes(s: str) -> int:
    m = _BYTES_RE.match(s)
    if not m:
        raise ValueError(
            f"Unparseable chunksize {s!r}: expected an int, 'auto', a byte "
            "string like '128MiB', -1/None, a (h, w) pair, or a dim dict"
        )
    return int(float(m.group(1)) * _BYTES_MULT[(m.group(2) or "").upper()])


def normalize_chunksize(
    chunksize,
    shape: tuple[int, int],
    dtype: str = "float64",
    target_bytes: int = AUTO_TARGET_BYTES,
) -> tuple[int, int]:
    """Normalize every chunk spec form the reference accepts
    (to_dask.py:219-231 → dask normalize_chunks; fuzzed shapes in
    testing/strategies.py:34-79) down to a spatial (chunk_h, chunk_w):

    - int → square chunks; -1 / None → the full dim;
    - "auto" → square chunks of ~128 MiB (dask's default target);
    - byte strings ("8B", "100KiB", "64MiB") → square chunks of ~that size;
    - (h, w) pairs mixing any of the above; 4-tuples and dim dicts in dask
      layout, where time/band chunking must stay 1 (the tile model is one
      row per item × band — chunking those dims >1 is a different physical
      layout, rejected loudly rather than silently ignored).
    """
    h, w = int(shape[0]), int(shape[1])
    itemsize = np.dtype(dtype).itemsize
    cv = chunksize

    def _reject_tb(v, dim):
        if not (v is None or v == 1 or v == -1):
            raise NotImplementedError(
                f"Chunking the {dim} dimension (got {v!r}) is unsupported: "
                "tiles are one row per item x band by construction"
            )

    if isinstance(cv, dict):
        for k, v in cv.items():
            if k in (0, 1, "time", "band"):
                _reject_tb(v, {0: "time", 1: "band"}.get(k, k))
        cv = (cv.get(2, cv.get("y", -1)), cv.get(3, cv.get("x", -1)))
    if isinstance(cv, (tuple, list)) and len(cv) == 4:
        _reject_tb(cv[0], "time")
        _reject_tb(cv[1], "band")
        cv = tuple(cv[2:])

    if cv is None:
        return (h, w)
    if isinstance(cv, (int, np.integer)):
        return (h, w) if cv == -1 else (int(cv), int(cv))
    if isinstance(cv, str):
        nbytes = target_bytes if cv == "auto" else _parse_bytes(cv)
        side = max(math.isqrt(max(nbytes // itemsize, 1)), 1)
        return (min(side, h) or 1, min(side, w) or 1)

    if isinstance(cv, (tuple, list)) and len(cv) == 2:
        a, b = cv

        def fixed(v, full):
            if v is None or (isinstance(v, (int, np.integer)) and v == -1):
                return full
            if isinstance(v, (int, np.integer)):
                return int(v)
            return None  # string form: resolved against the byte budget below

        fa, fb = fixed(a, h), fixed(b, w)
        if fa is not None and fb is not None:
            return (fa, fb)
        # at least one dim is "auto"/bytes: fixed dims constrain the budget
        def budget(v):
            return target_bytes if v == "auto" else _parse_bytes(v)

        if fa is None and fb is None:
            sa = max(math.isqrt(max(budget(a) // itemsize, 1)), 1)
            sb = max(math.isqrt(max(budget(b) // itemsize, 1)), 1)
            return (min(sa, h) or 1, min(sb, w) or 1)
        if fa is None:
            side = max(budget(a) // (itemsize * max(fb, 1)), 1)
            return (min(int(side), h) or 1, fb)
        side = max(budget(b) // (itemsize * max(fa, 1)), 1)
        return (fa, min(int(side), w) or 1)

    raise ValueError(f"Unsupported chunksize spec: {chunksize!r}")


def tile_grid(
    spark: SparkSession,
    spec: RasterSpec,
    chunksize: int | str | tuple | dict | None = 1024,
    bounds: tuple[float, float, float, float] | None = None,
    dtype: str = "float64",
) -> DataFrame:
    """DataFrame of output tiles: one row per (tile_y, tile_x) chunk.

    Columns: tile_y, tile_x, row_off, col_off, tile_h, tile_w and the tile's
    world bounds (minx..maxy). An optional AOI ``bounds`` is applied as a
    range predicate so Catalyst prunes tiles before any join. ``chunksize``
    accepts every form the reference does (see
    :func:`normalize_chunksize`).
    """
    chunk_h, chunk_w = normalize_chunksize(chunksize, spec.shape, dtype)
    height, width = spec.shape
    n_ty = -(-height // chunk_h)
    n_tx = -(-width // chunk_w)
    xres, yres = spec.resolutions_xy
    gminx, _, _, gmaxy = spec.bounds

    # ONE spark.sql call instead of chained selects: every F.col/F.lit/
    # operator in the DataFrame API is a py4j round trip, and this grid is
    # on the lazy stack() hot path (BASELINE.md's construction number) —
    # the SQL string builds the same Generate-over-Generate plan in a
    # single JVM call. All values are driver-known literals (repr() on the
    # floats round-trips exactly).
    where = ""
    if bounds is not None:
        bminx, bminy, bmaxx, bmaxy = bounds
        where = (
            f"WHERE tminx < {bmaxx!r}D AND tmaxx > {bminx!r}D "
            f"AND tminy < {bmaxy!r}D AND tmaxy > {bminy!r}D"
        )
    return spark.sql(f"""
SELECT * FROM (
  SELECT tile_y, tile_x, row_off, col_off, tile_h, tile_w,
         {gminx!r}D + col_off * {xres!r}D AS tminx,
         {gmaxy!r}D - (row_off + tile_h) * {yres!r}D AS tminy,
         {gminx!r}D + (col_off + tile_w) * {xres!r}D AS tmaxx,
         {gmaxy!r}D - row_off * {yres!r}D AS tmaxy
  FROM (
    SELECT tile_y, tile_x,
           tile_y * {chunk_h} AS row_off,
           tile_x * {chunk_w} AS col_off,
           least({chunk_h}, {height} - tile_y * {chunk_h}) AS tile_h,
           least({chunk_w}, {width} - tile_x * {chunk_w}) AS tile_w
    FROM (
      SELECT tile_y, explode(sequence(0, {n_tx - 1})) AS tile_x
      FROM (SELECT explode(sequence(0, {n_ty - 1})) AS tile_y)
    )
  )
) {where}
""")


def join_assets_to_tiles(asset_table: DataFrame, tiles: DataFrame) -> DataFrame:
    """asset_table ⋈ tile_grid with overlap pruning.

    The tile side is broadcast: the asset table is the big side (items ×
    bands can be billions of rows at 100 TB) and stays shuffle-free. The
    result carries, per (item, band, tile), the asset's read window clipped
    to the tile — everything the scan UDF needs.
    """
    # string expressions: one py4j call for the whole projection / predicate
    # (see tile_grid's note — this join is on the lazy-construction hot path)
    a = asset_table.selectExpr(
        "item_idx",
        "band_idx",
        "url",
        "bounds[0] AS minx",
        "bounds[1] AS miny",
        "bounds[2] AS maxx",
        "bounds[3] AS maxy",
        "scale",
        "offset",
    )
    cond = F.expr(
        "minx < tmaxx AND maxx > tminx AND miny < tmaxy AND maxy > tminy"
    )
    return a.join(F.broadcast(tiles), cond, "inner")
