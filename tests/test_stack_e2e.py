"""End-to-end stack correctness against a painted numpy oracle — the
reference's own test technique (tests/test_to_dask.py:99-117): paint a dense
ground-truth array per asset window, then assert the engine's scan reproduces
it pixel-exactly."""

import numpy as np
import pytest

from stackstac_spark.raster_spec import RasterSpec
from stackstac_spark.sources.raster import fake_pixel_values
from stackstac_spark.stack import stack
from tests.conftest import make_item


def paint_oracle(items, asset_ids, spec):
    """Dense (time, band, h, w) ground truth painted straight from the item
    metadata + the fake-reader value function. Cross-CRS items are painted
    over their 4-corner-reprojected footprint (the fake reader serves values
    on the OUTPUT grid, exactly like a WarpedVRT serving the warped raster)."""
    from stackstac_spark.functions.proj import reproject_bounds

    h, w = spec.shape
    out = np.full((len(items), len(asset_ids), h, w), np.nan)
    for t, it in enumerate(items):
        src_epsg = int(it["properties"]["proj:epsg"])
        for b, aid in enumerate(asset_ids):
            asset = it["assets"].get(aid)
            if asset is None:
                continue
            bounds = tuple(asset["proj:bbox"])
            if src_epsg != spec.epsg:
                bounds = reproject_bounds(bounds, src_epsg, spec.epsg)
            win = spec.pixel_window_from_bounds(bounds)
            r0, r1 = max(win.row_off, 0), min(win.row_off + win.height, h)
            c0, c1 = max(win.col_off, 0), min(win.col_off + win.width, w)
            if r1 <= r0 or c1 <= c0:
                continue
            rr, cc = np.meshgrid(np.arange(r0, r1), np.arange(c0, c1), indexing="ij")
            out[t, b, r0:r1, c0:c1] = fake_pixel_values(asset["href"], rr, cc)
    return out


@pytest.fixture(scope="module")
def small_stack_items():
    # overlapping, offset footprints; one item missing an asset; integer
    # coords so windows land exactly on the grid
    items = [
        make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 40.0, 30.0)),
        make_item(1, "2024-02-05T00:00:00Z", (10.0, 5.0, 50.0, 40.0)),
        make_item(2, "2024-03-05T00:00:00Z", (-20.0, -10.0, 15.0, 20.0), cloud=80.0),
    ]
    del items[2]["assets"]["nir"]  # missing asset ⇒ fill
    return items


def test_stack_matches_painted_oracle(spark, small_stack_items):
    st = stack(spark, small_stack_items, assets=["red", "nir"], chunksize=16)
    assert st.spec.epsg == 32613
    assert st.spec.bounds == (-20.0, -10.0, 50.0, 40.0)
    oracle = paint_oracle(small_stack_items, ["red", "nir"], st.spec)
    got = st.compute()
    assert got.shape == oracle.shape
    np.testing.assert_array_equal(got, oracle)


def test_band_select_and_property_filter(spark, small_stack_items):
    from pyspark.sql import functions as F

    st = stack(spark, small_stack_items, assets=["red", "nir"], chunksize=16)
    only_red = st.sel_bands(["red"])
    assert only_red.compute().shape[1] == 1

    clear = st.filter_items(F.col("properties")["eo:cloud_cover"].cast("double") < 20)
    assert clear.items_df.count() == 2


def test_mosaic_last_on_top(spark, small_stack_items):
    st = stack(spark, small_stack_items, assets=["red"], chunksize=16)
    oracle = paint_oracle(small_stack_items, ["red"], st.spec)

    # numpy oracle: reference semantics, last-on-top
    def np_mosaic(o, reverse=False):
        layers = range(o.shape[0]) if reverse else reversed(range(o.shape[0]))
        out = np.full(o.shape[1:], np.nan)
        for t in layers:
            m = np.isnan(out)
            out[m] = o[t][m]
        return out

    expected = np_mosaic(oracle)
    res = st.mosaic().collect()
    h, w = st.spec.shape
    got = np.full((1, h, w), np.nan)
    for r in res:
        got[r.band_idx, r.row, r.col] = r.value
    np.testing.assert_array_equal(got, expected)

    expected_rev = np_mosaic(oracle, reverse=True)
    res = st.mosaic(reverse=True).collect()
    got = np.full((1, h, w), np.nan)
    for r in res:
        got[r.band_idx, r.row, r.col] = r.value
    np.testing.assert_array_equal(got, expected_rev)


def test_mosaic_tiles_matches_pixels(spark, small_stack_items):
    from stackstac_spark.operators.mosaic import mosaic_tiles

    st = stack(spark, small_stack_items, assets=["red", "nir"], chunksize=16)
    res = mosaic_tiles(st.tiles).collect()
    h, w = st.spec.shape
    got = np.full((2, h, w), np.nan)
    for r in res:
        arr = np.frombuffer(r.data, dtype="float64").reshape(r.tile_h, r.tile_w)
        got[r.band_idx, r.row_off : r.row_off + r.tile_h, r.col_off : r.col_off + r.tile_w] = arr
    oracle = paint_oracle(small_stack_items, ["red", "nir"], st.spec)
    out = np.full(oracle.shape[1:], np.nan)
    for t in reversed(range(oracle.shape[0])):
        m = np.isnan(out)
        out[m] = oracle[t][m]
    np.testing.assert_array_equal(got, out)


def test_mosaic_int_nan_nodata_raises(spark):
    from stackstac_spark.operators.mosaic import mosaic_pixels

    with pytest.raises(ValueError, match="nodata"):
        mosaic_pixels(None, nodata=np.nan, dtype="int32")


def test_explicit_bounds_drop_and_clip(spark, small_stack_items):
    st = stack(
        spark, small_stack_items, assets=["red"], bounds=(20.0, 10.0, 45.0, 25.0), chunksize=16
    )
    # item 2 (-20..15 x) overlaps nothing of x>=20? its maxx=15 < 20 ⇒ dropped
    assert st.items_df.count() == 2
    oracle_items = [it for it in small_stack_items[:2]]
    oracle = paint_oracle(oracle_items, ["red"], st.spec)
    np.testing.assert_array_equal(st.compute(), oracle)


def test_slice_bounds_prunes_to_overlapping_tiles(spark):
    items = [make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 64.0, 64.0))]
    st = stack(spark, items, assets=["red"], chunksize=16)
    box = (20.0, 30.0, 36.0, 50.0)
    full = st.tiles.select("tile_y", "tile_x", "row_off", "col_off", "tile_h", "tile_w").collect()
    xres, yres = st.spec.resolutions_xy
    minx, _, _, maxy = st.spec.bounds
    overlapping = {
        (r.tile_y, r.tile_x)
        for r in full
        if minx + r.col_off * xres < box[2]
        and minx + (r.col_off + r.tile_w) * xres > box[0]
        and maxy - (r.row_off + r.tile_h) * yres < box[3]
        and maxy - r.row_off * yres > box[1]
    }
    kept = {(r.tile_y, r.tile_x) for r in st.slice_bounds(box).tiles.collect()}
    assert len(kept) < len(full) == 16
    assert kept == overlapping


def test_cross_crs_bbox_union(spark):
    """Items in UTM, output in 4326: bounds must come from 4-corner
    reprojection."""
    items = [make_item(0, "2024-01-01T00:00:00Z", (500000.0, 4400000.0, 501000.0, 4401000.0))]
    st = stack(spark, items, assets=["red"], epsg=4326, resolution=0.001)
    minx, miny, maxx, maxy = st.spec.bounds
    assert -106 < minx < -104 and 39 < miny < 41


def test_polar_stack_3031_e2e(spark):
    """r7: an Antarctic stack in EPSG:3031 works WITHOUT pyproj — the
    built-in polar stereographic transform (functions/proj.py) carries
    bounds_latlon → 3031 and the full prepare → scan → pixels pipeline
    paints the grid. The reference reaches this via pyproj
    (geom_utils.py:15-53)."""
    import numpy as np

    from stackstac_spark.functions.proj import reproject_bounds
    from stackstac_spark.raster_spec import snapped_bounds

    # an item whose asset grid IS in 3031 (McMurdo-ish quadrant)
    b3031 = (300000.0, -1300000.0, 302000.0, -1298000.0)
    item = make_item(0, "2024-01-01T00:00:00Z", b3031, epsg=3031, res=100.0)
    st = stack(spark, [item], assets=["red"], chunksize=16)
    assert st.spec.epsg == 3031
    assert st.spec.bounds == b3031  # same-CRS: inferred union = asset bbox
    assert st.spec.resolutions_xy == (100.0, 100.0)
    px = st.pixels().collect()
    assert len(px) == 20 * 20
    for r in px[:5]:
        assert r.value == (0.0 + r.row * 1e-3) + r.col * 1e-6

    # bounds_latlon routed through the polar transform
    ll = (165.0, -78.0, 166.0, -77.8)
    st2 = stack(
        spark, [item], assets=["red"], epsg=3031, resolution=100.0,
        bounds_latlon=ll, snap_bounds=True,
    )
    exp = snapped_bounds(reproject_bounds(ll, 4326, 3031), (100.0, 100.0))
    np.testing.assert_allclose(st2.spec.bounds, exp)


def test_laea_stack_3035_e2e(spark):
    """r7: a European stack in EPSG:3035 (ETRS89 / LAEA Europe) without
    pyproj — the built-in Lambert Azimuthal Equal Area kernel carries the
    whole prepare → scan → pixels pipeline, same contract as the 3031 e2e."""
    import numpy as np

    from stackstac_spark.functions.proj import reproject_bounds
    from stackstac_spark.raster_spec import snapped_bounds

    # an item whose asset grid IS in 3035 (central-Europe quadrant)
    b3035 = (4200000.0, 2900000.0, 4202000.0, 2902000.0)
    item = make_item(0, "2024-06-01T00:00:00Z", b3035, epsg=3035, res=100.0)
    st = stack(spark, [item], assets=["red"], chunksize=16)
    assert st.spec.epsg == 3035
    assert st.spec.bounds == b3035
    px = st.pixels().collect()
    assert len(px) == 20 * 20
    for r in px[:5]:
        assert r.value == (0.0 + r.row * 1e-3) + r.col * 1e-6

    # bounds_latlon routed through the LAEA transform
    ll = (8.0, 46.0, 8.4, 46.3)
    st2 = stack(
        spark, [item], assets=["red"], epsg=3035, resolution=100.0,
        bounds_latlon=ll, snap_bounds=True,
    )
    exp = snapped_bounds(reproject_bounds(ll, 4326, 3035), (100.0, 100.0))
    np.testing.assert_allclose(st2.spec.bounds, exp)


def test_cross_crs_union_lambert93_to_laea(spark):
    """Items on the French national grid (EPSG:2154), output on the European
    LAEA grid (EPSG:3035): the inferred union must come from the 4-corner
    reprojection chain 2154 → lon/lat → 3035, all built-in kernels."""
    from stackstac_spark.functions.proj import reproject_bounds

    b2154 = (650000.0, 6860000.0, 652000.0, 6862000.0)  # Paris-ish
    item = make_item(0, "2024-06-01T00:00:00Z", b2154, epsg=2154, res=100.0)
    st = stack(spark, [item], assets=["red"], epsg=3035, resolution=100.0, snap_bounds=False)
    exp = reproject_bounds(b2154, 2154, 3035)
    np.testing.assert_allclose(st.spec.bounds, exp)
    # sanity: lands in the France region of the LAEA grid
    minx, miny, maxx, maxy = st.spec.bounds
    assert 3.7e6 < minx < 3.9e6 and 2.8e6 < miny < 3.0e6
