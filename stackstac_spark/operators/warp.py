"""Warping: reproject a stacked raster onto a new RasterSpec, and slice it to
XYZ web-map tiles — the reference's ``reproject_array`` (geom_utils.py:206-304)
and ``xyztile_of_array`` (geom_utils.py:307-383) re-expressed for the tile
DataFrame.

Physical strategy: the OUTPUT grid is tiled; for each output tile we compute
(inverse-transform) the source-pixel footprint it needs, fetch exactly those
source tiles (an overlap join — the bounded-halo exchange SURVEY §7 calls
for), and interpolate per output tile in an Arrow-batched kernel. Nearest,
bilinear, and cubic (Keys a=-0.5, the rasterio Resampling.cubic kernel)
interpolation are implemented in numpy directly (scipy is not a
dependency; interpn on a regular grid reduces to index arithmetic).

A served map tile is one output tile, so it skips the join and the
exchange — the reference's per-tile ``_compute_tile`` (show.py:343-397),
which fetches the chunks under the tile and finishes it locally:
``xyztile_cut`` is one narrow Spark job, a literal filter on the source
tiles for the tile's one source window, each bigger tile cut down to the
window; ``xyztile_mosaic`` then warps the collected rows on the driver,
one coordinate grid for every item and band, each item top-first folded
into the mosaic, stopping once the tile is full. What is collected is at
most n_items x n_bands x 9 x window² x itemsize bytes — the bytes an
exchange into a per-band kernel would move.

The reference collapses spatial chunks to warp whole arrays at once
(geom_utils.py:245-248 admits this doesn't scale); the per-output-tile
halo join here is the 100 TB-safe version: work and memory stay O(tile).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stackstac_spark.functions.proj import (
    _per_batch,
    install_user_crs,
    transform_xy,
    user_crs_snapshot,
)
from stackstac_spark.raster_spec import Bbox, RasterSpec
from stackstac_spark.sources.raster import TILE_SCHEMA

WEB_MERCATOR_EXTENT = 20037508.342789244  # EPSG:3857 half-extent, from the spec


def xyz_tile_bounds(z: int, x: int, y: int) -> Bbox:
    """EPSG:3857 bounds of slippy-map tile (z, x, y) — mercantile.xy_bounds
    semantics from the published tiling scheme."""
    n = 2**z
    size = 2 * WEB_MERCATOR_EXTENT / n
    minx = -WEB_MERCATOR_EXTENT + x * size
    maxy = WEB_MERCATOR_EXTENT - y * size
    return (minx, maxy - size, minx + size, maxy)


def _src_grid(
    src_spec: RasterSpec,
    src_origin: tuple[int, int],
    dst_spec: RasterSpec,
    dst_window: tuple[int, int, int, int],
) -> tuple[np.ndarray, np.ndarray]:
    """Fractional source pixel coords (rows, cols) of the output window's
    pixel centres, relative to global source pixel ``src_origin``: the
    output pixel centres inverse-projected into the source grid
    (pixel-center convention). Depends on no pixel value, so one grid
    serves every item and band warped onto the same window."""
    r0, c0, h, w = dst_window
    dxres, dyres = dst_spec.resolutions_xy
    dminx, _, _, dmaxy = dst_spec.bounds
    # output pixel centers in dst CRS
    xs = dminx + (np.arange(c0, c0 + w) + 0.5) * dxres
    ys = dmaxy - (np.arange(r0, r0 + h) + 0.5) * dyres
    xx, yy = np.meshgrid(xs, ys)
    sx, sy = transform_xy(dst_spec.epsg, src_spec.epsg, xx.ravel(), yy.ravel())
    sxres, syres = src_spec.resolutions_xy
    sminx, _, _, smaxy = src_spec.bounds
    fc = (sx.reshape(h, w) - sminx) / sxres - 0.5 - src_origin[1]
    fr = (smaxy - sy.reshape(h, w)) / syres - 0.5 - src_origin[0]
    return fr, fc


def _gather(src: np.ndarray, fr: np.ndarray, fc: np.ndarray, method: str) -> np.ndarray:
    """Nearest, bilinear or cubic gather of ``src`` at the fractional pixel
    coords (``_src_grid``) — the numpy reduction of the reference's
    interp/interpn calls (geom_utils.py:276-304); NaN where a tap falls
    outside the block."""
    h, w = fr.shape
    sh, sw = src.shape
    out = np.full((h, w), np.nan)
    if method == "nearest":
        # round-half-up, not np.round's half-even: a dst center exactly on a
        # src boundary must pick the same pixel on every engine
        rr = np.floor(fr + 0.5).astype("int64")
        cc = np.floor(fc + 0.5).astype("int64")
        ok = (rr >= 0) & (rr < sh) & (cc >= 0) & (cc < sw)
        out[ok] = src[rr[ok], cc[ok]]
    elif method == "cubic":
        # Keys (1981) cubic convolution, a = -0.5 (the GDAL/rasterio
        # Resampling.cubic kernel): separable 4x4 gather around floor(f),
        # taps at offsets -1..2. Third-order accurate — reproduces linear
        # (and quadratic) surfaces exactly, which the gate exploits.
        r0f = np.floor(fr).astype("int64")
        c0f = np.floor(fc).astype("int64")
        tr = fr - r0f
        tc = fc - c0f
        ok = (r0f - 1 >= 0) & (r0f + 2 < sh) & (c0f - 1 >= 0) & (c0f + 2 < sw)
        rok, cok, trk, tck = r0f[ok], c0f[ok], tr[ok], tc[ok]

        def _keys(t: np.ndarray) -> list[np.ndarray]:
            a = -0.5
            d0, d1, d2, d3 = 1.0 + t, t, 1.0 - t, 2.0 - t
            return [
                a * d0**3 - 5 * a * d0**2 + 8 * a * d0 - 4 * a,
                (a + 2) * d1**3 - (a + 3) * d1**2 + 1.0,
                (a + 2) * d2**3 - (a + 3) * d2**2 + 1.0,
                a * d3**3 - 5 * a * d3**2 + 8 * a * d3 - 4 * a,
            ]

        wr = _keys(trk)
        wc = _keys(tck)
        acc = np.zeros(rok.shape)
        for i in range(4):
            for j in range(4):
                acc += wr[i] * wc[j] * src[rok + i - 1, cok + j - 1]
        out[ok] = acc
    else:  # bilinear
        r0f = np.floor(fr).astype("int64")
        c0f = np.floor(fc).astype("int64")
        tr = fr - r0f
        tc = fc - c0f
        ok = (r0f >= 0) & (r0f + 1 < sh) & (c0f >= 0) & (c0f + 1 < sw)
        rok, cok, trk, tck = r0f[ok], c0f[ok], tr[ok], tc[ok]
        v00 = src[rok, cok]
        v01 = src[rok, cok + 1]
        v10 = src[rok + 1, cok]
        v11 = src[rok + 1, cok + 1]
        out[ok] = (
            v00 * (1 - trk) * (1 - tck)
            + v01 * (1 - trk) * tck
            + v10 * trk * (1 - tck)
            + v11 * trk * tck
        )
    return out


_DST_TILES_SCHEMA = (
    "dty int, dtx int, dr0 int, dc0 int, dh int, dw int, "
    "sr0 int, sc0 int, sr1 int, sc1 int"
)


def _src_windows(
    src_spec: RasterSpec,
    dst_spec: RasterSpec,
    chunksize: int,
    halo: int,
    ids: np.ndarray | None = None,
) -> pd.DataFrame:
    """The dst tile table (``_DST_TILES_SCHEMA``) in vectorized numpy: each
    dst tile and the outward-rounded, halo-padded source pixel window
    ``[sr0, sr1) x [sc0, sc1)`` it gathers from. ``ids`` are flat dst tile
    ids (``dty * n_tx + dtx``); None means the whole grid. The one window
    kernel of every warp: run once on the driver for a small grid and a
    served XYZ tile, per Arrow batch of ids for a large grid."""
    dh, dw = dst_spec.shape
    n_tx = -(-dw // chunksize)
    if ids is None:
        ids = np.arange(-(-dh // chunksize) * n_tx)
    sxres, syres = src_spec.resolutions_xy
    dxres, dyres = dst_spec.resolutions_xy
    dminx, _, _, dmaxy = dst_spec.bounds
    sminx, _, _, smaxy = src_spec.bounds

    dty, dtx = np.divmod(np.asarray(ids, dtype="int64"), n_tx)
    dr0 = dty * chunksize
    dc0 = dtx * chunksize
    th = np.minimum(chunksize, dh - dr0)
    tw = np.minimum(chunksize, dw - dc0)
    # dst tile bounds → src CRS
    bminx = dminx + dc0 * dxres
    bminy = dmaxy - (dr0 + th) * dyres
    bmaxx = dminx + (dc0 + tw) * dxres
    bmaxy = dmaxy - dr0 * dyres
    if int(dst_spec.epsg) == int(src_spec.epsg):
        s0, s1, s2, s3 = bminx, bminy, bmaxx, bmaxy
    else:
        # 3x3 boundary sampling (corners + edge midpoints + center), not the
        # 4 corners alone: curved graticules (e.g. a UTM parallel) reach
        # their extremum MID-EDGE when a tile straddles the central
        # meridian — a corner-only bbox under-covers there and the fixed
        # halo can't absorb it at coarse zooms (edge-NaN risk).
        bmidx = (bminx + bmaxx) / 2.0
        bmidy = (bminy + bmaxy) / 2.0
        xs = np.concatenate([bminx, bmidx, bmaxx] * 3)
        ys = np.concatenate(
            [bminy, bminy, bminy, bmidy, bmidy, bmidy, bmaxy, bmaxy, bmaxy]
        )
        tx_, ty_ = transform_xy(int(dst_spec.epsg), int(src_spec.epsg), xs, ys)
        n = len(dty)
        txc = tx_.reshape(9, n)
        tyc = ty_.reshape(9, n)
        s0, s1 = txc.min(axis=0), tyc.min(axis=0)
        s2, s3 = txc.max(axis=0), tyc.max(axis=0)
    col_off = (s0 - sminx) / sxres
    row_off = (smaxy - s3) / syres
    height = (s3 - s1) / syres
    width = (s2 - s0) / sxres
    return pd.DataFrame(
        {
            "dty": dty.astype("int32"),
            "dtx": dtx.astype("int32"),
            "dr0": dr0.astype("int32"),
            "dc0": dc0.astype("int32"),
            "dh": th.astype("int32"),
            "dw": tw.astype("int32"),
            "sr0": (np.floor(row_off + 1e-9) - halo).astype("int32"),
            "sc0": (np.floor(col_off + 1e-9) - halo).astype("int32"),
            "sr1": (np.ceil(row_off + height - 1e-9) + halo).astype("int32"),
            "sc1": (np.ceil(col_off + width - 1e-9) + halo).astype("int32"),
        }
    )


def _window_overlap(sr0, sc0, sr1, sc1):
    """Source tiles whose pixel extent meets the window [sr0, sr1) x
    [sc0, sc1); the bounds are columns (a join) or ints (a literal filter)."""
    return (
        (F.col("row_off") < sr1)
        & (F.col("row_off") + F.col("tile_h") > sr0)
        & (F.col("col_off") < sc1)
        & (F.col("col_off") + F.col("tile_w") > sc0)
    )


def _assemble_block(rows: pd.DataFrame, window: tuple[int, int, int, int], dtype: str) -> np.ndarray:
    """The padded float64 source block ``[sr0, sr1) x [sc0, sc1)`` from one
    item's source tiles; pixels no tile covers stay NaN. The payload dtype
    is a stack parameter (``RasterStack.dtype``); the block is float64
    because interpolation is."""
    sr0, sc0, sr1, sc1 = window
    block = np.full((sr1 - sr0, sc1 - sc0), np.nan)
    for row in rows.itertuples(index=False):
        arr = np.frombuffer(row.data, dtype=dtype).reshape(row.tile_h, row.tile_w)
        rr0 = max(row.row_off, sr0)
        rr1 = min(row.row_off + row.tile_h, sr1)
        cc0 = max(row.col_off, sc0)
        cc1 = min(row.col_off + row.tile_w, sc1)
        if rr1 > rr0 and cc1 > cc0:
            block[rr0 - sr0 : rr1 - sr0, cc0 - sc0 : cc1 - sc0] = arr[
                rr0 - row.row_off : rr1 - row.row_off, cc0 - row.col_off : cc1 - row.col_off
            ]
    return block


def _crop_to_window(tiles: DataFrame, window: tuple[int, int, int, int], dtype: str) -> DataFrame:
    """The source tiles under the window ``[sr0, sr1) x [sc0, sc1)``. A tile
    that fits in the window stays whole; a bigger one is cut down to its
    part inside it. So what a served tile collects is at most 9x the
    window's pixels per item and band, whatever the stack's chunksize. A
    narrow JVM projection (byte ``substring`` of the row-major
    payload, no Python): a cut tile within the window's columns keeps one
    contiguous run of rows; a wider one becomes one single-row strip per
    window row."""
    sr0, sc0, sr1, sc1 = window
    isz = np.dtype(dtype).itemsize
    data, ro, co, h, w = (F.col(c) for c in ("data", "row_off", "col_off", "tile_h", "tile_w"))
    r0, r1 = F.greatest(ro, F.lit(sr0)), F.least(ro + h, F.lit(sr1))
    c0, c1 = F.greatest(co, F.lit(sc0)), F.least(co + w, F.lit(sc1))
    big = (h > sr1 - sr0) | (w > sc1 - sc0)
    strips = big & ((c0 != co) | (c1 != co + w))
    strip = F.col("strip")
    row_off = F.when(strips, r0 + strip).when(big, r0).otherwise(ro)
    tile_h = F.when(strips, 1).when(big, r1 - r0).otherwise(h)
    col_off = F.when(strips, c0).otherwise(co)
    tile_w = F.when(strips, c1 - c0).otherwise(w)
    start = (row_off - ro) * w + (col_off - co)
    return (
        tiles.filter(_window_overlap(*window))
        .select("*", F.explode(F.sequence(F.lit(0), F.when(strips, r1 - r0 - 1).otherwise(0))).alias("strip"))
        .select(
            "item_idx",
            "band_idx",
            row_off.alias("row_off"),
            col_off.alias("col_off"),
            tile_h.alias("tile_h"),
            tile_w.alias("tile_w"),
            F.when(big, F.substring(data, start * isz + 1, tile_h * tile_w * isz)).otherwise(data).alias("data"),
        )
    )


def _interp_method(method: str) -> str:
    if method not in ("nearest", "linear", "bilinear", "cubic"):
        raise ValueError(
            f"interpolation must be nearest/linear/cubic, got {method!r}"
        )
    return {"nearest": "nearest", "cubic": "cubic"}.get(method, "bilinear")


def reproject_tiles(
    tiles: DataFrame,
    src_spec: RasterSpec,
    dst_spec: RasterSpec,
    chunksize: int = 256,
    method: str = "nearest",
    halo: int = 2,
    grid_on_driver_max: int = 4096,
    dtype: str = "float64",
    broadcast_dst_max: int = 65536,
    bin_px: int | None = None,
) -> DataFrame:
    """Warp the tile DataFrame onto ``dst_spec``.

    Plan shape: generate the destination tile grid, compute each dst tile's
    source-pixel footprint, range-join source tiles to dst tiles they
    overlap (+halo), groupBy dst tile assembling the padded source block,
    interpolate. One shuffle (the groupBy); every kernel is O(tile²).

    The dst grid is one numpy kernel (``_src_windows``) on either of two
    substrates:

    - ``<= grid_on_driver_max`` tiles: on the driver (zero Spark jobs, no
      Python-worker spin-up). One XYZ tile or a single-raster resample is
      1-few hundred tiles; launching an Arrow-batched job for that costs
      ~5s of pure overhead.
    - larger: per Arrow batch of flat tile ids from ``spark.range`` — a
      full-raster cross-CRS reproject has millions of dst tiles, so a
      driver loop would serialize the job before it starts (plan-guarded by
      tests/test_plan_quality.py).
    """
    meth = _interp_method(method)
    spark = tiles.sparkSession
    dh, dw = dst_spec.shape
    n_tiles = -(-dh // chunksize) * -(-dw // chunksize)
    sxres, syres = src_spec.resolutions_xy
    dxres, dyres = dst_spec.resolutions_xy

    if n_tiles <= grid_on_driver_max:
        dst_tiles = spark.createDataFrame(
            _src_windows(src_spec, dst_spec, chunksize, halo), schema=_DST_TILES_SCHEMA
        )
    else:
        dst_tiles = _per_batch(
            spark.range(n_tiles),
            lambda pdf: _src_windows(src_spec, dst_spec, chunksize, halo, pdf["id"].to_numpy()),
            _DST_TILES_SCHEMA,
        )

    # source tiles ⋈ dst tiles on pixel-window overlap. Two physical
    # strategies on the same predicate:
    #
    # - dst grid <= broadcast_dst_max tiles: broadcast nested-loop — a dst
    #   grid of 64k rows of 10 ints is ~3 MB, and AOI/viz warps (one XYZ
    #   tile, a resample) are far below that.
    # - larger: binned 2-D equi-join (the rangejoin.py shape in two
    #   dimensions) — both sides emit the source-pixel bins their window
    #   covers and equi-join on (bin_r, bin_c), so a full-corpus cross-CRS
    #   reproject with millions of tiles on BOTH sides shuffles on bin
    #   keys instead of broadcasting an unbounded grid. The src side joins
    #   METADATA only (payload bytes never duplicate across bins); matched
    #   pairs pull the payload back with one hash join on the tile key.
    #   Pairs dedupe via the canonical-bin trick (keep the pair only in
    #   the top-left bin of the window intersection), not a distinct.
    overlap = _window_overlap(F.col("sr0"), F.col("sc0"), F.col("sr1"), F.col("sc1"))
    if n_tiles <= broadcast_dst_max:
        joined = tiles.join(F.broadcast(dst_tiles), overlap)
    else:
        if bin_px is None:
            # bins sized so a typical window on either side covers O(1)
            # bins: at least 256 src px, scaled up when dst pixels are
            # coarser than src (a dst tile's footprint is ~chunksize *
            # res_ratio src px wide)
            res_ratio = max(dxres / sxres, dyres / syres, 1.0)
            bin_px = 1 << max(8, math.ceil(math.log2(chunksize * res_ratio + 1)))
        B = float(bin_px)
        src_meta = tiles.select(
            "item_idx", "band_idx", "row_off", "col_off", "tile_h", "tile_w"
        ).withColumn(
            "__br",
            F.explode(
                F.sequence(
                    F.floor(F.col("row_off") / B).cast("int"),
                    F.greatest(
                        F.floor((F.col("row_off") + F.col("tile_h") - 1) / B),
                        F.floor(F.col("row_off") / B),
                    ).cast("int"),
                )
            ),
        ).withColumn(
            "__bc",
            F.explode(
                F.sequence(
                    F.floor(F.col("col_off") / B).cast("int"),
                    F.greatest(
                        F.floor((F.col("col_off") + F.col("tile_w") - 1) / B),
                        F.floor(F.col("col_off") / B),
                    ).cast("int"),
                )
            ),
        )
        dst_binned = dst_tiles.withColumn(
            "__br",
            F.explode(
                F.sequence(
                    F.floor(F.col("sr0") / B).cast("int"),
                    F.greatest(
                        F.floor((F.col("sr1") - 1) / B), F.floor(F.col("sr0") / B)
                    ).cast("int"),
                )
            ),
        ).withColumn(
            "__bc",
            F.explode(
                F.sequence(
                    F.floor(F.col("sc0") / B).cast("int"),
                    F.greatest(
                        F.floor((F.col("sc1") - 1) / B), F.floor(F.col("sc0") / B)
                    ).cast("int"),
                )
            ),
        )
        pairs = (
            src_meta.join(dst_binned, ["__br", "__bc"])
            .filter(overlap)
            .filter(
                (
                    F.col("__br")
                    == F.floor(F.greatest(F.col("sr0"), F.col("row_off")) / B).cast("int")
                )
                & (
                    F.col("__bc")
                    == F.floor(F.greatest(F.col("sc0"), F.col("col_off")) / B).cast("int")
                )
            )
            .drop("__br", "__bc")
        )
        joined = tiles.join(
            pairs, ["item_idx", "band_idx", "row_off", "col_off", "tile_h", "tile_w"]
        )

    _crs_snap = user_crs_snapshot()

    def warp_group(key, pdf):
        install_user_crs(_crs_snap)
        item_idx, band_idx, dty, dtx = (int(k) for k in key)
        first = pdf.iloc[0]
        window = (int(first.sr0), int(first.sc0), int(first.sr1), int(first.sc1))
        dst_window = (int(first.dr0), int(first.dc0), int(first.dh), int(first.dw))
        out = _gather(
            _assemble_block(pdf, window, dtype), *_src_grid(src_spec, window[:2], dst_spec, dst_window), meth
        )
        return pd.DataFrame(
            [
                (
                    item_idx, band_idx, dty, dtx,
                    int(first.dr0), int(first.dc0), int(first.dh), int(first.dw),
                    out.tobytes(),
                )
            ],
            columns=[f.name for f in TILE_SCHEMA.fields],
        )

    return joined.groupBy("item_idx", "band_idx", "dty", "dtx").applyInPandas(
        warp_group, TILE_SCHEMA
    )


def _xyz_dst_spec(src_spec: RasterSpec, z: int, x: int, y: int, tilesize: int) -> RasterSpec | None:
    """The EPSG:3857 grid of OSM tile (z, x, y) at ``tilesize`` px, or None if
    the tile doesn't overlap the stack."""
    from stackstac_spark.functions.proj import reproject_bounds
    from stackstac_spark.raster_spec import bounds_overlap

    bounds = xyz_tile_bounds(z, x, y)
    stack_in_3857 = reproject_bounds(src_spec.bounds, src_spec.epsg, 3857)
    if not bounds_overlap(bounds, stack_in_3857):
        return None
    res = (bounds[2] - bounds[0]) / tilesize
    return RasterSpec(3857, bounds, (res, res))


def xyztile_of_tiles(
    tiles: DataFrame,
    src_spec: RasterSpec,
    z: int,
    x: int,
    y: int,
    tilesize: int = 256,
    method: str = "linear",
    dtype: str = "float64",
) -> DataFrame | None:
    """Warp the stack to one OSM tile (geom_utils.py:307-383): returns a tile
    DataFrame with one (tilesize×tilesize) EPSG:3857 tile per (item, band),
    or None if the tile doesn't overlap the stack."""
    dst_spec = _xyz_dst_spec(src_spec, z, x, y, tilesize)
    if dst_spec is None:
        return None
    return reproject_tiles(tiles, src_spec, dst_spec, chunksize=tilesize, method=method, dtype=dtype)


def _xyz_window(src_spec: RasterSpec, z: int, x: int, y: int, tilesize: int):
    """OSM tile (z, x, y) as a one-tile dst grid on ``src_spec``: its
    EPSG:3857 spec, its source window ``(sr0, sc0, sr1, sc1)`` and its dst
    window ``(dr0, dc0, dh, dw)`` — the window and halo ``reproject_tiles``
    gives it — or None if the tile doesn't overlap the stack."""
    dst_spec = _xyz_dst_spec(src_spec, z, x, y, tilesize)
    if dst_spec is None:
        return None
    (w,) = _src_windows(src_spec, dst_spec, tilesize, halo=2).itertuples(index=False)
    return dst_spec, (int(w.sr0), int(w.sc0), int(w.sr1), int(w.sc1)), (int(w.dr0), int(w.dc0), int(w.dh), int(w.dw))


def xyztile_cut(
    tiles: DataFrame,
    src_spec: RasterSpec,
    z: int,
    x: int,
    y: int,
    tilesize: int = 256,
    dtype: str = "float64",
) -> DataFrame | None:
    """The source rows OSM tile (z, x, y) is warped from, or None if the
    tile doesn't overlap the stack: a literal overlap filter on ``tiles``
    for the tile's one source window, each bigger tile cut down to the
    window (``_crop_to_window``). A narrow plan, no exchange; collected, it
    is at most n_items x n_bands x 9 x window² x itemsize bytes."""
    win = _xyz_window(src_spec, z, x, y, tilesize)
    return None if win is None else _crop_to_window(tiles, win[1], dtype)


def xyztile_mosaic(
    rows: pd.DataFrame,
    src_spec: RasterSpec,
    z: int,
    x: int,
    y: int,
    tilesize: int = 256,
    method: str = "linear",
    dtype: str = "float64",
) -> dict[int, np.ndarray]:
    """OSM tile (z, x, y) warped and mosaicked last-on-top over items, from
    its collected ``xyztile_cut`` rows, in numpy: ``{band_idx: float64
    (tilesize, tilesize) array}`` for each band with rows. Equal, byte for
    byte, to ``mosaic_tiles(xyztile_of_tiles(...))``:

    1. the tile's fractional source-pixel grid is computed once
       (``_src_grid``) and serves every item and band;
    2. per band, each item's padded block is assembled
       (``_assemble_block``) and gathered, top item (highest ``item_idx``)
       first, folding it into the output (``_mosaic_fold``);
    3. the fold stops once the tile has no invalid pixels, so the items
       underneath are never warped.
    """
    from stackstac_spark.operators.mosaic import _mosaic_fold

    meth = _interp_method(method)
    dst_spec, window, dst_window = _xyz_window(src_spec, z, x, y, tilesize)
    fr, fc = _src_grid(src_spec, window[:2], dst_spec, dst_window)
    return {
        int(band_idx): _mosaic_fold(
            (
                _gather(_assemble_block(item_rows, window, dtype), fr, fc, meth)
                for _, item_rows in reversed(list(band_rows.groupby("item_idx", sort=True)))
            ),
            np.nan,
        )
        for band_idx, band_rows in rows.groupby("band_idx", sort=True)
    }
