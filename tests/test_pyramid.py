"""Overview pyramid: low-zoom tiles must be served from coarse levels, never
the full-resolution table (SCALE.md §5; the COG-overview contract)."""

import numpy as np
import pytest

from stackstac_spark.operators.pyramid import (
    Pyramid,
    build_pyramid,
    pick_level,
    xyztile_from_pyramid,
)
from stackstac_spark.raster_spec import RasterSpec
from stackstac_spark.stack import stack
from tests.conftest import make_item


@pytest.fixture(scope="module")
def fine_stack(spark):
    # 10 m UTM pixels over ~2.6 km — zoom 13 tiles (~19 m/px at 256px)
    # roughly match level 1; anything z<=8 is far coarser
    items = [
        make_item(0, "2024-01-05T00:00:00Z", (500000.0, 4000000.0, 502560.0, 4002560.0), res=10.0)
    ]
    return stack(spark, items, assets=["red"], chunksize=128)


def test_build_pyramid_levels(spark, fine_stack):
    pyr = build_pyramid(fine_stack.tiles, fine_stack.spec, dtype=fine_stack.dtype, n_levels=3, persist=False)
    assert pyr.n_levels == 3
    (s0, _), (s1, _), (s2, _) = pyr.levels
    assert s0.shape == (256, 256)
    assert s1.shape == (128, 128) and s1.resolutions_xy == (20.0, 20.0)
    assert s2.shape == (64, 64) and s2.resolutions_xy == (40.0, 40.0)
    assert s1.bounds == s0.bounds == s2.bounds


def test_auto_level_count(spark, fine_stack):
    # 256 px base with min_side=64: 256 → 128 → 64 = 3 levels
    pyr = build_pyramid(fine_stack.tiles, fine_stack.spec, dtype=fine_stack.dtype, min_side=64, persist=False)
    assert pyr.n_levels == 3
    assert pyr.levels[-1][0].shape == (64, 64)


def test_pick_level_routes_low_zoom_coarse(fine_stack):
    pyr = build_pyramid(fine_stack.tiles, fine_stack.spec, dtype=fine_stack.dtype, n_levels=4, persist=False)
    # native ~10 m px: a z=13 256px tile is ~19 m/px → level 0 or 1;
    # z=8 is ~611 m/px → must be the coarsest available level
    assert pick_level(pyr, 15) == 0
    assert pick_level(pyr, 8) == pyr.n_levels - 1
    assert pick_level(pyr, 1) == pyr.n_levels - 1
    # monotone: coarser zoom never picks a finer level
    levels = [pick_level(pyr, z) for z in range(18, 0, -1)]
    assert levels == sorted(levels)


def test_low_zoom_never_touches_full_res(spark, fine_stack):
    """The DataFrame served for z<=8 must BE a coarse level's table, not the
    level-0 tiles."""
    pyr = build_pyramid(fine_stack.tiles, fine_stack.spec, dtype=fine_stack.dtype, n_levels=3, persist=False)

    used = {}
    for z in (1, 4, 8):
        _df, level = xyztile_from_pyramid(pyr, z, 0, 0, tilesize=64)
        used[z] = level
        assert level > 0, f"z={z} was served from full resolution"
    assert used[1] == pyr.n_levels - 1


def test_pyramid_tile_matches_direct_warp_values(spark, fine_stack):
    """A level-0 route must be byte-identical to the direct warp + mosaic; a
    coarse route must equal the same warp + mosaic of its level and still
    cover the footprint with finite data."""
    from stackstac_spark.operators.mosaic import mosaic_tiles
    from stackstac_spark.operators.warp import xyztile_mosaic, xyztile_of_tiles
    from stackstac_spark.functions.proj import reproject_bounds
    from stackstac_spark.operators.warp import WEB_MERCATOR_EXTENT as EXT

    def by_band(rows):
        return {r.band_idx: r.data for r in rows}

    def served(cut, level, z, tx, ty):
        spec, _ = pyr.levels[level]
        bands = xyztile_mosaic(cut.toPandas(), spec, z, tx, ty, tilesize=64, dtype=pyr.level_dtype(level))
        return {b: a.tobytes() for b, a in bands.items()}

    st = fine_stack
    pyr = build_pyramid(st.tiles, st.spec, dtype=st.dtype, n_levels=3, persist=False)
    b = reproject_bounds(st.spec.bounds, st.spec.epsg, 3857)
    cx, cy = (b[0] + b[2]) / 2, (b[1] + b[3]) / 2

    # high zoom → level 0 → identical to the non-pyramid path
    z = 15
    n = 2**z
    tx = int((cx + EXT) / (2 * EXT) * n)
    ty = int((EXT - cy) / (2 * EXT) * n)
    df_p, level = xyztile_from_pyramid(pyr, z, tx, ty, tilesize=64)
    assert level == 0
    direct = xyztile_of_tiles(st.tiles, st.spec, z, tx, ty, tilesize=64)
    assert served(df_p, level, z, tx, ty) == by_band(mosaic_tiles(direct).collect())

    # low zoom → coarse level, still produces data over the footprint
    z = 8
    n = 2**z
    tx = int((cx + EXT) / (2 * EXT) * n)
    ty = int((EXT - cy) / (2 * EXT) * n)
    df_c, level_c = xyztile_from_pyramid(pyr, z, tx, ty, tilesize=64)
    assert level_c == pyr.n_levels - 1
    got = served(df_c, level_c, z, tx, ty)
    spec_c, tiles_c = pyr.levels[level_c]
    oracle = mosaic_tiles(xyztile_of_tiles(tiles_c, spec_c, z, tx, ty, tilesize=64))
    assert got == by_band(oracle.collect())
    (data,) = got.values()
    assert np.isfinite(np.frombuffer(data, dtype="float64")).any()
