"""The XYZ tile route (``operators.warp.xyztile_cut`` collected, then
``xyztile_mosaic`` on the driver): equal, byte for byte, to warping each
item and mosaicking the warped tiles (``mosaic_tiles(xyztile_of_tiles(...))``),
and correct for every stack dtype through ``show()``."""

import urllib.request

import numpy as np
import pytest

from stackstac_spark.functions.proj import reproject_bounds
from stackstac_spark.operators import warp
from stackstac_spark.operators.mosaic import _mosaic_fold, mosaic_tiles
from stackstac_spark.operators.warp import WEB_MERCATOR_EXTENT as EXT
from stackstac_spark.operators.warp import _crop_to_window, xyztile_cut, xyztile_mosaic, xyztile_of_tiles
from stackstac_spark.stack import stack
from tests.conftest import make_item
from tests.test_warp_viz import decode_png_rgba

BANDS = ("red", "nir", "blue")
TILE = 64


def _xyz_of(bounds_3857, z):
    """The (x, y) of the zoom-z tiles holding the center and the top-left
    corner of ``bounds_3857``."""
    n = 2**z

    def tile(px, py):
        return int((px + EXT) / (2 * EXT) * n), int((EXT - py) / (2 * EXT) * n)

    minx, miny, maxx, maxy = bounds_3857
    return tile((minx + maxx) / 2, (miny + maxy) / 2), tile(minx, maxy)


# source chunks the size of a served tile, and chunks bigger than the whole
# stack (so each is much bigger than a tile's source window)
@pytest.fixture(scope="module", params=[TILE, 256], ids=["chunk64", "chunk256"])
def overlap_stack(spark, request):
    # three overlapping UTM scenes, item 2 (latest, so on top) the smallest
    items = [
        make_item(0, "2024-01-05T00:00:00Z", (500000.0, 4000000.0, 504000.0, 4004000.0), assets=BANDS, res=20.0),
        make_item(1, "2024-02-05T00:00:00Z", (501000.0, 4000500.0, 505000.0, 4004500.0), assets=BANDS, res=20.0),
        make_item(2, "2024-03-05T00:00:00Z", (500500.0, 4001000.0, 503500.0, 4003500.0), assets=BANDS, res=20.0),
    ]
    st = stack(spark, items, assets=list(BANDS), chunksize=request.param)
    st.tiles.cache()
    top = reproject_bounds((500500.0, 4001000.0, 503500.0, 4003500.0), 32613, 3857)
    inside, corner = _xyz_of(top, 15)
    return st, {"inside": inside, "corner": corner}


def _served(st, z, x, y, method, tilesize=TILE):
    """The driver route: ``{band_idx: tile bytes}``."""
    rows = xyztile_cut(st.tiles, st.spec, z, x, y, tilesize=tilesize, dtype=st.dtype).toPandas()
    bands = xyztile_mosaic(rows, st.spec, z, x, y, tilesize=tilesize, method=method, dtype=st.dtype)
    return {b: a.tobytes() for b, a in bands.items()}


def _oracle(st, z, x, y, method, tilesize=TILE):
    """Warp every item, then mosaic: ``{band_idx: tile bytes}``."""
    rows = mosaic_tiles(xyztile_of_tiles(st.tiles, st.spec, z, x, y, tilesize=tilesize, method=method)).collect()
    assert all((r.tile_h, r.tile_w) == (tilesize, tilesize) for r in rows)
    return {r.band_idx: r.data for r in rows}


@pytest.mark.parametrize("method", ["nearest", "linear", "cubic"])
@pytest.mark.parametrize("where", ["inside", "corner"])
def test_fused_tile_equals_warp_then_mosaic(overlap_stack, method, where):
    st, tiles_at = overlap_stack
    x, y = tiles_at[where]
    got = _served(st, 15, x, y, method)
    assert sorted(got) == [0, 1, 2]
    assert got == _oracle(st, 15, x, y, method)
    arr = np.frombuffer(got[1]).reshape(TILE, TILE)
    items = set(np.unique(np.floor(arr[np.isfinite(arr)] / 1000)))
    if where == "inside":
        # the top item covers the whole tile: the fold stops after it
        assert np.isfinite(arr).all() and items == {2.0}
    else:
        # the top item covers part of it: items below fill the rest
        assert 2.0 in items and len(items) > 1


# [sr0, sc0, sr1, sc1]: 70 x 80 px, which 64-px chunks fit in (kept whole);
# 40 x 200 px, which they don't, but the chunks of columns [64, 128) and
# [128, 192) lie within its columns (cut to whole rows). A 256-px chunk
# sticks out of both (cut into single-row strips).
@pytest.mark.parametrize("window", [(30, 60, 100, 140), (30, 20, 70, 220)])
def test_source_tiles_are_cut_to_the_window_before_the_exchange(overlap_stack, window):
    """What a served tile collects is each source tile that fits in the
    window, whole, and the part inside the window of each bigger one: at
    most 9x the window's pixels per item, even when the stack's chunks are
    bigger than the window."""
    st, _ = overlap_stack
    sr0, sc0, sr1, sc1 = window
    full = {
        (r.item_idx, r.band_idx, r.row_off, r.col_off): np.frombuffer(r.data).reshape(r.tile_h, r.tile_w)
        for r in st.tiles.collect()
    }
    cut = _crop_to_window(st.tiles, window, "float64").collect()
    assert cut
    per_band = {}
    for r in cut:
        assert r.row_off < sr1 and r.row_off + r.tile_h > sr0
        assert r.col_off < sc1 and r.col_off + r.tile_w > sc0
        ((key, src),) = [
            (k, a)
            for k, a in full.items()
            if k[:2] == (r.item_idx, r.band_idx)
            and k[2] <= r.row_off < k[2] + a.shape[0]
            and k[3] <= r.col_off < k[3] + a.shape[1]
        ]
        r0, c0 = r.row_off - key[2], r.col_off - key[3]
        assert r.data == src[r0 : r0 + r.tile_h, c0 : c0 + r.tile_w].tobytes()
        if src.shape[0] <= sr1 - sr0 and src.shape[1] <= sc1 - sc0:
            assert (r0, c0, r.tile_h, r.tile_w) == (0, 0, *src.shape)
        else:
            assert sr0 <= r.row_off and r.row_off + r.tile_h <= sr1
            assert sc0 <= r.col_off and r.col_off + r.tile_w <= sc1
        per_band[r.band_idx] = per_band.get(r.band_idx, 0) + len(r.data)
    n_items = len({k[0] for k in full})
    assert max(per_band.values()) <= n_items * 9 * (sr1 - sr0) * (sc1 - sc0) * 8


def test_fused_tile_is_none_off_the_stack(overlap_stack):
    st, _ = overlap_stack
    assert xyztile_cut(st.tiles, st.spec, 5, 0, 12) is None


def _register(st, **kwargs):
    from stackstac_spark.streaming.show import _LAYERS, register

    return _LAYERS[register(st, checkerboard=False, **kwargs)]


def _count_gathers(monkeypatch) -> list:
    """Record one entry per ``warp._gather`` call (one item-band warped)."""
    calls = []
    gather = warp._gather
    monkeypatch.setattr(warp, "_gather", lambda *a: calls.append(1) or gather(*a))
    return calls


def test_one_coordinate_grid_per_served_tile(overlap_stack, monkeypatch):
    """A served tile transforms its pixel centres once, for every item and
    band; the only other transforms are its source window's 9-point
    footprint samples."""
    from stackstac_spark.streaming.show import compute_tile

    st, tiles_at = overlap_stack
    layer = _register(st, range=(0.0, 3000.0), pyramid_levels=1)
    sizes = []
    transform_xy = warp.transform_xy

    def counted(src, dst, xs, ys):
        sizes.append(len(xs))
        return transform_xy(src, dst, xs, ys)

    monkeypatch.setattr(warp, "transform_xy", counted)
    gathers = _count_gathers(monkeypatch)
    compute_tile(layer, 15, *tiles_at["corner"], tilesize=TILE)
    assert sizes.count(TILE * TILE) == 1, sizes
    assert set(sizes) == {9, TILE * TILE}, sizes
    assert len(gathers) > len(st.asset_ids)  # items below the top one were warped


def test_server_stats_count_hits_misses_and_latency(overlap_stack):
    from stackstac_spark.streaming.show import compute_tile, server_stats

    st, tiles_at = overlap_stack
    layer = _register(st, range=(0.0, 2999.0), pyramid_levels=1)
    (fresh,) = [d for d in server_stats() if d["token"] == layer.token]
    assert (fresh["hits"], fresh["misses"], fresh["compute_ms_p50"]) == (0, 0, None)
    first = compute_tile(layer, 15, *tiles_at["inside"], tilesize=TILE)
    assert compute_tile(layer, 15, *tiles_at["inside"], tilesize=TILE) == first
    (stats,) = [d for d in server_stats() if d["token"] == layer.token]
    assert (stats["hits"], stats["misses"], stats["cached_tiles"]) == (1, 1, 1)
    assert 0 < stats["compute_ms_p50"] <= stats["compute_ms_p90"]


def test_mosaic_fold_never_pulls_a_layer_under_a_full_tile():
    pulled = []

    def layers():
        for k, layer in enumerate(
            [np.array([1.0, np.nan]), np.array([2.0, 3.0]), np.array([4.0, 5.0])]
        ):
            pulled.append(k)
            yield layer

    out = _mosaic_fold(layers(), np.nan)
    assert out.tolist() == [1.0, 3.0]
    assert pulled == [0, 1]


def _show_tiles(spark, dtype, tiles):
    """Serve a two-item single-band stack of ``dtype`` through ``show()``;
    returns per tile (level served, mosaic array, decoded PNG)."""
    from stackstac_spark.operators.pyramid import pick_level, xyztile_from_pyramid
    from stackstac_spark.streaming.show import _LAYERS, show

    items = [
        make_item(0, "2024-01-05T00:00:00Z", (500000.0, 4000000.0, 505120.0, 4005120.0), assets=("red",), res=10.0),
        make_item(1, "2024-02-05T00:00:00Z", (501000.0, 4001000.0, 504000.0, 4004000.0), assets=("red",), res=10.0),
    ]
    st = stack(spark, items, assets=["red"], chunksize=128, dtype=dtype)
    url, server = show(st, range=(0.0, 1100.0), checkerboard=False, pyramid_levels=2)
    try:
        layer = _LAYERS[url.split("/")[3]]
        out = []
        for z, x, y in tiles:
            with urllib.request.urlopen(url.format(z=z, x=x, y=y), timeout=120) as resp:
                assert resp.status == 200
                png = resp.read()
            df, level = xyztile_from_pyramid(layer.pyramid, z, x, y)
            assert level == pick_level(layer.pyramid, z)
            spec, _ = layer.pyramid.levels[level]
            dtype = layer.pyramid.level_dtype(level)
            (arr,) = xyztile_mosaic(df.toPandas(), spec, z, x, y, dtype=dtype).values()
            out.append((level, arr, decode_png_rgba(png)))
        return out
    finally:
        server.stop()


def test_float32_show_serves_level0_and_level1_tiles(spark):
    """A float32 stack is served through the pyramid (level 0 read in the
    stack's dtype, coarser levels as float64 warp output) and matches the
    float64 stack within float32 rounding."""
    b = reproject_bounds((500000.0, 4000000.0, 505120.0, 4005120.0), 32613, 3857)
    tiles = [(z, *_xyz_of(b, z)[0]) for z in (14, 12)]
    got = _show_tiles(spark, "float32", tiles)
    want = _show_tiles(spark, "float64", tiles)
    assert [g[0] for g in got] == [0, 1]
    for (level, arr32, png32), (_, arr64, png64) in zip(got, want):
        assert np.isfinite(arr64).mean() > 0.2, level
        np.testing.assert_allclose(arr32, arr64, rtol=4 * np.finfo(np.float32).eps)
        assert png32.shape == (256, 256, 4)
        assert np.abs(png32.astype(int) - png64.astype(int)).max() <= 1


@pytest.fixture(scope="module")
def deep_stack(spark):
    """12 overlapping items x 2 bands with NaN holes, at chunksize 1024: one
    chunk per item and band, bigger than any served tile's source window.
    Item 0 spans the whole stack; items 1-11 share a central footprint.
    Each item loses 3 of every 10 of its rows, at a phase that moves with
    the item, so no single item fills a tile."""
    big = (500000.0, 4000000.0, 506000.0, 4006000.0)
    mid = (501500.0, 4001500.0, 504500.0, 4004500.0)
    items = [
        make_item(i, f"2024-01-{i + 1:02d}T00:00:00Z", big if i == 0 else mid, res=20.0)
        for i in range(12)
    ]
    st = stack(spark, items, assets=["red", "nir"], chunksize=1024)

    def no_holes(v):
        row, item = np.floor((v % 1) * 1000), np.floor(v / 1000)
        return (row + 3 * item) % 10 >= 3

    holed = st.where(no_holes)
    holed.tiles.cache()
    to3857 = lambda b: reproject_bounds(b, 32613, 3857)  # noqa: E731
    centre, _ = _xyz_of(to3857(mid), 15)
    # a tile within item 0's corner, outside every other item
    corner, _ = _xyz_of(to3857((500100.0, 4005700.0, 500200.0, 4005800.0)), 15)
    return holed, {"central": centre, "item0_only": corner}


@pytest.mark.parametrize("method", ["nearest", "linear", "cubic"])
@pytest.mark.parametrize("where", ["central", "item0_only"])
def test_deep_holed_stack_past_the_cut(deep_stack, monkeypatch, method, where):
    """Past the window cut (chunks bigger than the window) and on both
    sides of the early stop: byte-identical to warp-then-mosaic; the
    collected cut is within 9 x window² per item and band; the fold stops
    before the bottom item in the centre and needs every item in item 0's
    corner."""
    st, tiles_at = deep_stack
    x, y = tiles_at[where]
    gathers = _count_gathers(monkeypatch)
    got = _served(st, 15, x, y, method)
    n_items, n_bands = 12, 2
    if where == "central":
        assert len(gathers) < n_items * n_bands
    else:
        assert len(gathers) == n_items * n_bands
    monkeypatch.undo()
    assert sorted(got) == [0, 1]
    assert got == _oracle(st, 15, x, y, method)
    arr = np.frombuffer(got[0]).reshape(TILE, TILE)
    assert np.isfinite(arr).any()

    _, (sr0, sc0, sr1, sc1), _ = warp._xyz_window(st.spec, 15, x, y, TILE)
    chunk = st.spec.shape
    assert min(chunk) > max(sr1 - sr0, sc1 - sc0)  # every chunk is cut
    cut = xyztile_cut(st.tiles, st.spec, 15, x, y, tilesize=TILE).toPandas()
    payload = cut.assign(n=cut["data"].map(len)).groupby(["item_idx", "band_idx"])["n"].sum()
    assert len(payload) == n_items * n_bands
    assert payload.max() <= 9 * (sr1 - sr0) * (sc1 - sc0) * 8


def test_band_selected_stack_serves(overlap_stack):
    """A stack narrowed with ``sel_bands`` keeps its original band indices;
    each served band lands at its position in the stack."""
    from stackstac_spark.functions.png import arr_to_png
    from stackstac_spark.streaming.show import compute_tile

    st, tiles_at = overlap_stack
    x, y = tiles_at["corner"]
    layer = _register(st.sel_bands(["nir"]), range=(0.0, 3000.0), pyramid_levels=1)
    rows = xyztile_cut(st.tiles, st.spec, 15, x, y, tilesize=TILE).toPandas()
    nir = xyztile_mosaic(rows, st.spec, 15, x, y, tilesize=TILE)[1]
    want = arr_to_png(nir[None], (0.0, 3000.0), "viridis", False)
    assert compute_tile(layer, 15, x, y, tilesize=TILE) == want
