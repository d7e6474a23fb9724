"""Warp, PNG, coords and tile-server tests (reference geom_utils.py:206-383 +
show.py semantics)."""

import urllib.request
import zlib

import numpy as np
import pytest

from stackstac_spark.functions.png import arr_to_png, empty_tile, encode_png_rgba
from stackstac_spark.operators.warp import (
    reproject_tiles,
    xyz_tile_bounds,
    xyztile_of_tiles,
)
from stackstac_spark.raster_spec import RasterSpec
from stackstac_spark.stack import stack
from tests.conftest import make_item


def decode_png_rgba(png: bytes) -> np.ndarray:
    """Minimal PNG decoder for our own encoder's output (filter 0, RGBA8)."""
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    pos, w = 8, None
    idat = b""
    while pos < len(png):
        (length,) = np.frombuffer(png[pos : pos + 4], dtype=">u4")
        tag = png[pos + 4 : pos + 8]
        data = png[pos + 8 : pos + 8 + int(length)]
        if tag == b"IHDR":
            w, h = np.frombuffer(data[:8], dtype=">u4")
        elif tag == b"IDAT":
            idat += data
        pos += 12 + int(length)
    raw = np.frombuffer(zlib.decompress(idat), dtype="uint8").reshape(int(h), -1)
    assert (raw[:, 0] == 0).all()  # filter byte None
    return raw[:, 1:].reshape(int(h), int(w), 4)


def test_png_roundtrip():
    rgba = np.random.default_rng(0).integers(0, 255, (16, 20, 4), dtype="uint8")
    out = decode_png_rgba(encode_png_rgba(rgba))
    np.testing.assert_array_equal(out, rgba)


def test_arr_to_png_nan_alpha_and_range():
    arr = np.array([[[0.0, 5.0], [np.nan, 10.0]]])  # (1 band, 2, 2)
    png = arr_to_png(arr, (0.0, 10.0), cmap="greys", checkerboard=False)
    rgba = decode_png_rgba(png)
    assert rgba[1, 0, 3] == 0  # NaN → transparent
    assert rgba[0, 0, 3] == 255
    assert tuple(rgba[0, 0, :3]) == (0, 0, 0)  # vmin → black
    assert tuple(rgba[1, 1, :3]) == (255, 255, 255)  # vmax → white
    assert len(empty_tile((8, 8))) > 0


def test_arr_to_png_checkerboard_alpha_and_two_band():
    """Reference show.py:951-960 parity: missing pixels under checker cells
    get alpha 30 (faintly visible), others alpha 0; 2-band arrays duplicate
    band 0 as blue."""
    from stackstac_spark.functions.png import make_checkerboard

    h = w = 16
    arr = np.full((1, h, w), np.nan)
    rgba = decode_png_rgba(arr_to_png(arr, (0.0, 1.0), checkerboard=True))
    checkers = make_checkerboard((h, w))
    assert (rgba[..., 3][checkers] == 30).all()
    assert (rgba[..., 3][~checkers] == 0).all()

    two = np.stack(
        [np.full((2, 2), 10.0), np.full((2, 2), 20.0)]
    )  # bands b0=10, b1=20
    rgba2 = decode_png_rgba(arr_to_png(two, (0.0, 20.0), checkerboard=False))
    r, g, b, a = rgba2[0, 0]
    assert (r, g, b, a) == (127, 255, 127, 255)  # blue duplicates band 0


@pytest.fixture(scope="module")
def small_stack(spark):
    items = [
        make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 40.0, 30.0)),
        make_item(1, "2024-02-05T00:00:00Z", (10.0, 5.0, 50.0, 40.0)),
    ]
    return stack(spark, items, assets=["red"], chunksize=16)


def test_reproject_identity(spark, small_stack):
    """Warping onto the same spec must reproduce the array exactly (the
    reference's no-op fastpath, geom_utils.py:250-256 — here it exercises the
    full halo-join + nearest kernel and must still be exact)."""
    st = small_stack
    out = reproject_tiles(st.tiles, st.spec, st.spec, chunksize=16, method="nearest")
    h, w = st.spec.shape
    got = {}
    for r in out.collect():
        got[(r.item_idx, r.band_idx)] = got.get((r.item_idx, r.band_idx), np.full((h, w), np.nan))
        got[(r.item_idx, r.band_idx)][
            r.row_off : r.row_off + r.tile_h, r.col_off : r.col_off + r.tile_w
        ] = np.frombuffer(r.data, dtype="float64").reshape(r.tile_h, r.tile_w)
    dense = st.compute()
    for (t, b), arr in got.items():
        np.testing.assert_array_equal(arr, dense[t, b])


def test_reproject_downsample_nearest(spark, small_stack):
    """2× coarser grid, nearest: each output pixel = the source pixel its
    center lands in."""
    st = small_stack
    dst = RasterSpec(st.spec.epsg, st.spec.bounds, (2.0, 2.0))
    out = reproject_tiles(st.tiles, st.spec, dst, chunksize=16, method="nearest")
    dh, dw = dst.shape
    dense = st.compute()
    for r in out.collect():
        arr = np.frombuffer(r.data, dtype="float64").reshape(r.tile_h, r.tile_w)
        for i in range(r.tile_h):
            for j in range(r.tile_w):
                gr, gc = r.row_off + i, r.col_off + j
                # center of dst pixel in world coords → src index
                src_r = int((gr * 2 + 1) // 1) // 1
                expect = dense[r.item_idx, r.band_idx, gr * 2 + 1, gc * 2 + 1]
                got = arr[i, j]
                if np.isnan(expect):
                    assert np.isnan(got)
                else:
                    assert got == expect


def test_xyz_tile_bounds_spec():
    full = xyz_tile_bounds(0, 0, 0)
    assert full[0] == pytest.approx(-20037508.342789244)
    assert full[3] == pytest.approx(20037508.342789244)
    q = xyz_tile_bounds(1, 1, 0)  # NE quadrant
    assert q[0] == pytest.approx(0.0) and q[3] == pytest.approx(20037508.342789244)


def test_xyztile_none_when_no_overlap(spark, small_stack):
    st = small_stack
    # tile on the other side of the world (z=5 far west)
    assert xyztile_of_tiles(st.tiles, st.spec, 5, 0, 12) is None


def test_tile_server_end_to_end(spark):
    """show() → HTTP GET → valid PNG with data where the stack has data.
    Stack is built directly in EPSG:3857 covering one z=8 tile."""
    from stackstac_spark.streaming.show import show

    b = xyz_tile_bounds(8, 128, 128)
    items = [
        make_item(0, "2024-01-05T00:00:00Z", b, epsg=3857, assets=("red",),
                  res=(b[2] - b[0]) / 64)
    ]
    st = stack(spark, items, assets=["red"], chunksize=64)
    url_tmpl, server = show(st, checkerboard=False)
    try:
        url = url_tmpl.format(z=8, x=128, y=128)
        with urllib.request.urlopen(url, timeout=120) as resp:
            png = resp.read()
        assert resp.status == 200
        rgba = decode_png_rgba(png)
        assert rgba.shape == (256, 256, 4)
        assert (rgba[:, :, 3] == 255).mean() > 0.9  # mostly opaque (data)
        # unknown layer → 404
        bad = url_tmpl.format(z=8, x=0, y=0).replace(url_tmpl.split("/")[3], "deadbeef")
        try:
            urllib.request.urlopen(bad.replace(url_tmpl.split("/")[3], "nope"), timeout=30)
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.stop()


def test_coords_tables(spark):
    from stackstac_spark.operators.coords import accumulate_metadata, xy_label_tables
    from stackstac_spark.prepare import prepare
    from stackstac_spark.sources.stac import items_to_dataframes

    items = [
        make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 40.0, 30.0)),
        make_item(1, "2024-02-05T00:00:00Z", (10.0, 5.0, 50.0, 40.0)),
    ]
    items_df, assets_df = items_to_dataframes(spark, items)
    prep = prepare(items_df, assets_df, assets=["red", "nir"])

    meta = {r.key: r for r in accumulate_metadata(prep.items_df).collect()}
    assert meta["constant_prop"].is_scalar and meta["constant_prop"].scalar_value == "same-everywhere"
    assert not meta["varying_prop"].is_scalar

    xs, ys = xy_label_tables(spark, prep.spec)
    h, w = prep.spec.shape
    x_vals = [r.x for r in xs.orderBy("col").collect()]
    np.testing.assert_allclose(
        x_vals, np.linspace(prep.spec.bounds[0], prep.spec.bounds[2], w, endpoint=False)
    )
    assert ys.count() == h


def test_reproject_float32_stack(spark):
    """Non-float64 stacks warp correctly: tile payload bytes are read with
    the stack's dtype (hardcoded float64 used to crash the reshape or read
    garbage); warp output stays float64."""
    items = [make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 32.0, 32.0))]
    st = stack(spark, items, assets=["red"], chunksize=16, dtype="float32")
    out = reproject_tiles(
        st.tiles, st.spec, st.spec, chunksize=16, method="nearest", dtype="float32"
    )
    h, w = st.spec.shape
    got = np.full((h, w), np.nan)
    for r in out.collect():
        got[r.row_off : r.row_off + r.tile_h, r.col_off : r.col_off + r.tile_w] = (
            np.frombuffer(r.data, dtype="float64").reshape(r.tile_h, r.tile_w)
        )
    dense = st.compute()
    np.testing.assert_array_equal(got, dense[0, 0].astype("float64"))


# --- r5: binned overlap join + curvature-aware footprints -------------------


def _collect_dense(out, shape):
    got = {}
    h, w = shape
    for r in out.collect():
        key = (r.item_idx, r.band_idx)
        got.setdefault(key, np.full((h, w), np.nan))
        got[key][
            r.row_off : r.row_off + r.tile_h, r.col_off : r.col_off + r.tile_w
        ] = np.frombuffer(r.data, dtype="float64").reshape(r.tile_h, r.tile_w)
    return got


def test_reproject_binned_join_matches_broadcast(spark, small_stack):
    """The binned 2-D equi-join (big dst grids) must produce byte-identical
    output to the broadcast overlap join — same predicate, different
    physical strategy."""
    st = small_stack
    dst = RasterSpec(st.spec.epsg, st.spec.bounds, (2.0, 2.0))
    base = _collect_dense(
        reproject_tiles(st.tiles, st.spec, dst, chunksize=16), dst.shape
    )
    binned = _collect_dense(
        reproject_tiles(
            st.tiles, st.spec, dst, chunksize=16, broadcast_dst_max=0, bin_px=32
        ),
        dst.shape,
    )
    assert set(base) == set(binned)
    for k in base:
        np.testing.assert_array_equal(base[k], binned[k])
    # and with the executor-side dst grid too (grid_on_driver_max=0)
    binned2 = _collect_dense(
        reproject_tiles(
            st.tiles, st.spec, dst, chunksize=16,
            broadcast_dst_max=0, grid_on_driver_max=0, bin_px=32,
        ),
        dst.shape,
    )
    for k in base:
        np.testing.assert_array_equal(base[k], binned2[k])


def test_reproject_binned_no_broadcast_of_dst_grid(spark, small_stack):
    """Plan guard (SCALE.md §5 deferral #1): above broadcast_dst_max the
    dst grid must NOT be broadcast — the overlap join becomes a binned
    equi-join with no BroadcastNestedLoopJoin anywhere in the plan."""
    st = small_stack
    dst = RasterSpec(st.spec.epsg, st.spec.bounds, (2.0, 2.0))
    def dst_grid_bnlj(df):
        # the dst-grid overlap join's condition references sr1/sc1; the
        # stack's own (metadata-sized) tile⋈asset bbox join is a separate,
        # legitimate BNLJ and must not trip this guard
        plan = df._jdf.queryExecution().executedPlan().toString()
        return [
            ln for ln in plan.split("\n")
            if "BroadcastNestedLoopJoin" in ln and "sr1" in ln
        ]

    out = reproject_tiles(
        st.tiles, st.spec, dst, chunksize=16, broadcast_dst_max=0, bin_px=32
    )
    assert dst_grid_bnlj(out) == []
    # the broadcast path (small grids) legitimately keeps it
    small = reproject_tiles(st.tiles, st.spec, dst, chunksize=16)
    assert dst_grid_bnlj(small) != []


def test_reproject_curvature_midedge_no_nan(spark):
    """Cross-central-meridian coarse warp (SCALE.md §5 deferral #2): a
    UTM->4326 warp of a 600 km-wide raster straddling the zone-33 central
    meridian. The max northing of the top edge occurs MID-edge (~4 km /
    ~4 src px above the corner northings here); a 4-corner footprint plus
    the fixed 2 px halo under-covers it and leaves NaN pixels along the
    top edge. The 9-point (corner+midpoint) footprint must cover every dst
    pixel whose center maps inside the source raster."""
    from stackstac_spark.functions.proj import transform_xy

    src_bounds = (200000.0, 4900000.0, 800000.0, 5000000.0)
    items = [make_item(0, "2024-01-05T00:00:00Z", src_bounds, epsg=32633,
                       assets=("red",), res=1000.0)]
    st = stack(spark, items, assets=["red"], chunksize=64)
    # dst: 4326 box containing the raster, ONE 64x56-px dst tile spanning the
    # full 10 degrees of longitude — its bottom-edge min northing sags ~12
    # src px below the corner northings (measured), far past the 2 px halo,
    # so a 4-corner footprint leaves a NaN band along the bottom edge
    dst = RasterSpec(4326, (10.0, 44.0, 20.0, 45.4), (0.15625, 0.025))
    dh, dw = dst.shape
    for kwargs in ({}, {"grid_on_driver_max": 0}):
        out = reproject_tiles(
            st.tiles, st.spec, dst, chunksize=64, method="nearest", **kwargs
        )
        dense = _collect_dense(out, dst.shape)[(0, 0)]
        # dst pixel centers → src coords; those strictly inside the raster
        # (1 src px margin) must all be observed
        xs = dst.bounds[0] + (np.arange(dw) + 0.5) * 0.15625
        ys = dst.bounds[3] - (np.arange(dh) + 0.5) * 0.025
        xx, yy = np.meshgrid(xs, ys)
        sx, sy = transform_xy(4326, 32633, xx.ravel(), yy.ravel())
        sx = sx.reshape(dh, dw)
        sy = sy.reshape(dh, dw)
        inside = (
            (sx > src_bounds[0] + 1000) & (sx < src_bounds[2] - 1000)
            & (sy > src_bounds[1] + 1000) & (sy < src_bounds[3] - 1000)
        )
        n_nan_inside = int(np.isnan(dense[inside]).sum())
        assert n_nan_inside == 0, f"{n_nan_inside} NaN pixels inside the raster"


@pytest.mark.parametrize(
    "src, dst",
    [
        # 70x45 px at chunksize 16: 5x3 tiles, the last column 6 px wide and
        # the last row 13 px high
        (
            RasterSpec(32613, (0.0, 0.0, 64.0, 64.0), (1.0, 1.0)),
            RasterSpec(32613, (-3.0, 10.0, 67.0, 55.0), (1.0, 1.0)),
        ),
        # UTM -> 4326 across the zone's central meridian: 50x56 px, 4x4 tiles
        (
            RasterSpec(32633, (200000.0, 4900000.0, 800000.0, 5000000.0), (1000.0, 1000.0)),
            RasterSpec(4326, (10.0, 44.0, 20.0, 45.4), (0.2, 0.025)),
        ),
    ],
    ids=["same_crs", "utm_to_4326"],
)
def test_src_windows_batches_equal_whole_grid(src, dst):
    """The window kernel over uneven batches of flat dst tile ids (as the
    large-grid path runs it per Arrow batch), concatenated, is the
    whole-grid table the driver path builds."""
    import pandas as pd

    from stackstac_spark.operators.warp import _src_windows

    chunk = 16
    whole = _src_windows(src, dst, chunk, halo=2)
    dh, dw = dst.shape
    n_ty, n_tx = -(-dh // chunk), -(-dw // chunk)
    assert len(whole) == n_ty * n_tx >= 12
    assert dh % chunk and dw % chunk  # partial last row and column
    assert list(whole.dty * n_tx + whole.dtx) == list(range(n_ty * n_tx))
    ids = np.arange(n_ty * n_tx)
    cuts = [0, 0, 1, 4, 5, 11, len(ids)]  # one empty batch, the rest uneven
    parts = [_src_windows(src, dst, chunk, 2, ids[a:b]) for a, b in zip(cuts, cuts[1:])]
    pd.testing.assert_frame_equal(pd.concat(parts, ignore_index=True), whole)


def test_interp_tile_cubic_keys_vs_direct():
    """Keys a=-0.5 cubic kernel vs a direct per-pixel convolution replay on
    random data (same-CRS fractional decimation), plus the exactness
    property: cubic reproduces a linear surface bit-closely and its valid
    footprint needs the full 4x4 neighborhood (one ring tighter than
    bilinear)."""
    import numpy as np

    from stackstac_spark.operators.warp import _gather, _src_grid
    from stackstac_spark.raster_spec import RasterSpec

    rng = np.random.default_rng(7)
    src = rng.normal(size=(12, 12))
    sspec = RasterSpec(32633, (0.0, -12.0, 12.0, 0.0), (1.0, 1.0))
    # dst at 1.5x coarser resolution over the same extent -> fractional taps
    dspec = RasterSpec(32633, (0.0, -12.0, 12.0, 0.0), (1.5, 1.5))
    got = _gather(src, *_src_grid(sspec, (0, 0), dspec, (0, 0, 8, 8)), "cubic")

    def keys_w(t):
        a = -0.5
        ds = [1.0 + t, t, 1.0 - t, 2.0 - t]
        return [
            a * ds[0] ** 3 - 5 * a * ds[0] ** 2 + 8 * a * ds[0] - 4 * a,
            (a + 2) * ds[1] ** 3 - (a + 3) * ds[1] ** 2 + 1.0,
            (a + 2) * ds[2] ** 3 - (a + 3) * ds[2] ** 2 + 1.0,
            a * ds[3] ** 3 - 5 * a * ds[3] ** 2 + 8 * a * ds[3] - 4 * a,
        ]

    for R in range(8):
        for C in range(8):
            fr = (R + 0.5) * 1.5 - 0.5
            fc = (C + 0.5) * 1.5 - 0.5
            r0, c0 = int(np.floor(fr)), int(np.floor(fc))
            if r0 - 1 < 0 or r0 + 2 >= 12 or c0 - 1 < 0 or c0 + 2 >= 12:
                assert np.isnan(got[R, C]), (R, C)
                continue
            wr, wc = keys_w(fr - r0), keys_w(fc - c0)
            want = sum(
                wr[i] * wc[j] * src[r0 + i - 1, c0 + j - 1]
                for i in range(4)
                for j in range(4)
            )
            assert got[R, C] == pytest.approx(want, rel=1e-12), (R, C)
    # linear surface: cubic is 3rd-order accurate -> exact on v = r + 10c
    lin = np.add.outer(np.arange(12.0), 10.0 * np.arange(12.0))
    gl = _gather(lin, *_src_grid(sspec, (0, 0), dspec, (0, 0, 8, 8)), "cubic")
    for R in range(8):
        for C in range(8):
            if not np.isnan(gl[R, C]):
                fr = (R + 0.5) * 1.5 - 0.5
                fc = (C + 0.5) * 1.5 - 0.5
                assert gl[R, C] == pytest.approx(fr + 10 * fc, abs=1e-9)


def test_reproject_tiles_cubic_end_to_end(spark):
    """Whole-pipeline cubic warp on a painted stack: 2x decimation of the
    linear painted surface must reproduce the closed form
    (2R+0.5)*1e-3 + (2C+0.5)*1e-6 wherever the 4x4 stencil fits — and the
    valid footprint is one ring tighter than the bilinear warp's."""
    items = [make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 40.0, 40.0))]
    st = stack(spark, items, assets=["red"], chunksize=16)
    dst = RasterSpec(st.spec.epsg, st.spec.bounds, (2.0, 2.0))
    out = reproject_tiles(st.tiles, st.spec, dst, chunksize=16, method="cubic")
    seen = {}
    for r in out.collect():
        arr = np.frombuffer(r.data, dtype="float64").reshape(r.tile_h, r.tile_w)
        for i in range(r.tile_h):
            for j in range(r.tile_w):
                seen[(r.row_off + i, r.col_off + j)] = arr[i, j]
    valid = {k for k, v in seen.items() if not np.isnan(v)}
    # full 4x4 stencil: floor(2R+0.5)=2R needs 2R-1>=0 and 2R+2<=39
    assert valid == {(R, C) for R in range(1, 19) for C in range(1, 19)}
    for (R, C) in valid:
        fr, fc = 2 * R + 0.5, 2 * C + 0.5
        assert seen[(R, C)] == pytest.approx(fr * 1e-3 + fc * 1e-6, abs=1e-9), (R, C)
