"""Power-of-2 overview pyramid for the interactive tile server — the COG
overview / SCALE.md §5 answer to "a z=4 request must not scan a full-res
100 TB stack".

``build_pyramid`` precomputes successively 2× coarser tile tables (each
level warped from the previous one, so level k costs O(pixels/4^k), total
≈ 4/3× the base). ``pick_level`` routes an XYZ request to the coarsest
level that still oversamples the screen resolution, so a low-zoom tile
touches O(tilesize²) source pixels at its own level instead of the full
resolution — the same contract COG readers get from overviews
(reference rio_reader.py opens with OVERVIEW_LEVEL via WarpedVRT, and
show.py's dask graph gets this for free from the input's overviews).
``xyztile_from_pyramid`` then returns the tile's cut source rows on that
level (``operators.warp.xyztile_cut``): one narrow Spark job over the
cached level, no exchange, at most n_items x n_bands x 9 x window² x
itemsize bytes; the caller warps and mosaics them on the driver
(``operators.warp.xyztile_mosaic``, run by ``streaming.show.compute_tile``).

Level 0 is the stack's own tile table, whose payload is in the stack's
dtype; coarser levels are warp output, always float64.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame

from stackstac_spark.functions.proj import reproject_bounds
from stackstac_spark.raster_spec import RasterSpec


@dataclass
class Pyramid:
    """levels[0] = full resolution; levels[k] = 2^k× coarser. ``dtype`` is
    the level-0 payload dtype (the stack's)."""

    levels: list[tuple[RasterSpec, DataFrame]]
    dtype: str

    def level_dtype(self, k: int) -> str:
        return self.dtype if k == 0 else "float64"

    @property
    def n_levels(self) -> int:
        return len(self.levels)


def build_pyramid(
    tiles: DataFrame,
    spec: RasterSpec,
    n_levels: int | None = None,
    chunksize: int = 256,
    method: str = "linear",
    min_side: int = 256,
    persist: bool = True,
    *,
    dtype: str,
) -> Pyramid:
    """Downsample the tile table into power-of-2 overview levels.

    Each level is produced from the PREVIOUS level (2× per step), so the
    whole pyramid reads each source pixel ~4/3 times, never re-scanning full
    resolution per level. Levels are persisted (lazily) by default; for a
    serving deployment write them with ``operators.export.write_tiles`` and
    reload, which adds Parquet partition pruning on top. ``dtype`` is the
    payload dtype of ``tiles``; it has no default because level 0 is
    served by reading the payload in it.
    """
    from stackstac_spark.operators.warp import reproject_tiles

    if n_levels is None:
        side = max(spec.shape)
        n_levels = max(int(math.floor(math.log2(max(side / min_side, 1)))) + 1, 1)

    pyr = Pyramid([(spec, tiles)], dtype)
    cur_spec, cur_tiles = spec, tiles
    for k in range(1, n_levels):
        rx, ry = spec.resolutions_xy
        nspec = RasterSpec(spec.epsg, spec.bounds, (rx * 2**k, ry * 2**k))
        if min(nspec.shape) < 1:
            break
        ntiles = reproject_tiles(
            cur_tiles,
            cur_spec,
            nspec,
            chunksize=chunksize,
            method=method,
            dtype=pyr.level_dtype(k - 1),
        )
        if persist:
            ntiles = ntiles.persist()
        pyr.levels.append((nspec, ntiles))
        cur_spec, cur_tiles = nspec, ntiles
    return pyr


def pick_level(pyramid: Pyramid, z: int, tilesize: int = 256) -> int:
    """Coarsest pyramid level whose resolution still meets the screen
    resolution of zoom ``z`` (i.e. level res ≤ tile res): level =
    clamp(floor(log2(tile_res / base_res)), 0, n-1)."""
    from stackstac_spark.operators.warp import WEB_MERCATOR_EXTENT

    spec0, _ = pyramid.levels[0]
    tile_res = 2 * WEB_MERCATOR_EXTENT / (2**z * tilesize)
    b3857 = reproject_bounds(spec0.bounds, spec0.epsg, 3857)
    base_res = (b3857[2] - b3857[0]) / spec0.shape[1]
    if tile_res <= base_res:
        return 0
    return min(int(math.floor(math.log2(tile_res / base_res))), pyramid.n_levels - 1)


def xyztile_from_pyramid(
    pyramid: Pyramid,
    z: int,
    x: int,
    y: int,
    tilesize: int = 256,
) -> tuple[DataFrame | None, int]:
    """The source rows of one XYZ tile on the best pyramid level: returns
    (``xyztile_cut`` frame, or None if the tile misses the stack; level
    used). Its rows are in ``pyramid.level_dtype(level)``."""
    from stackstac_spark.operators.warp import xyztile_cut

    k = pick_level(pyramid, z, tilesize)
    spec_k, tiles_k = pyramid.levels[k]
    return xyztile_cut(tiles_k, spec_k, z, x, y, tilesize=tilesize, dtype=pyramid.level_dtype(k)), k
