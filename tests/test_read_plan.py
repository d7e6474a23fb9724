"""The read plan: selections and the mask band change what the scan reads,
and ``pixels()`` of a planned stack is the scan emitting pixel rows.

The oracle for every masked pixel view is the tile path it replaces:
``explode_pixels(mask_band_tiles(scanned tiles))`` with the selections
applied to the tiles after the scan."""

import os
import sys
from functools import reduce

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stackstac_spark.operators.crop import tiles_in_window
from stackstac_spark.operators.mask import mask_band_tiles
from stackstac_spark.sources.raster import explode_pixels, fake_pixel_values
from stackstac_spark.stack import stack
from tests.conftest import make_item

BANDS = ("red", "nir", "scl")
SCL = 2  # band_idx of the mask band
# three overlapping footprints on a 28 x 48 grid of 16-px tiles, so tiles
# are partly outside some footprints (fill) and some (item, tile) pairs
# have no asset at all
BOXES = [(0.0, 0.0, 40.0, 24.0), (8.0, 4.0, 48.0, 28.0), (0.0, 0.0, 48.0, 28.0)]
SLICE = (20.0, 0.0, 48.0, 10.0)  # one row of tiles, the right two columns


def _items():
    return [
        make_item(i, f"2024-0{i + 1}-05T00:00:00Z", b, assets=BANDS, cloud=10.0 * i)
        for i, b in enumerate(BOXES)
    ]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _even_rows(m):
    # fake values carry the global row in their 1e-3 digits; NaN fill fails
    return (np.round((m - np.floor(m)) * 1000) % 2 == 0) & ~np.isnan(m)


# mask values at one pixel of each item, the last one inside SLICE
SCL_VALUES = [
    float(fake_pixel_values(f"fake://{i}/{SCL}", np.array(r), np.array(c)))
    for i, r, c in [(0, 0, 0), (1, 5, 10), (2, 20, 30)]
]
# (dtype, fill, keep as a value list, keep as a callable, other)
CASES = {
    "float64": ("float64", np.nan, SCL_VALUES, _even_rows, None),
    "float32": ("float32", np.nan, SCL_VALUES, _even_rows, None),
    # uint16 truncates the fake values to item * 1000 + band; masked pixels
    # become 7, which is not the fill, so they stay as pixel rows
    "uint16": ("uint16", 0, [2, 2002], lambda m: m < 1500, 7),
}


@pytest.fixture(scope="module")
def stacks(spark):
    return {
        name: stack(spark, _items(), assets=list(BANDS), chunksize=16, dtype=dt, fill_value=fill)
        for name, (dt, fill, *_rest) in CASES.items()
    }


@pytest.mark.parametrize("keep_kind", ["values", "callable"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_masked_pixels_equal_the_tile_path(stacks, case, keep_kind):
    dtype, fill, values, fn, other = CASES[case]
    keep = values if keep_kind == "values" else fn
    st = stacks[case]
    win = st.spec.pixel_window_from_bounds(SLICE)
    items = st.items_df.filter(F.col("item_idx") != 1)
    cloud = F.col("properties")["eo:cloud_cover"].cast("double") != 10.0

    def tile_items(t):
        return t.join(F.broadcast(items.select("item_idx")), "item_idx", "left_semi")

    # (stack method chain, the same selections on scanned tiles) — each
    # selection once before and once after mask_band
    selections = {
        "none": (lambda s: s.mask_band("scl", keep, other), lambda t: t, lambda t: t),
        "bands before": (
            lambda s: s.sel_bands(["nir", "scl"]).mask_band("scl", keep, other),
            lambda t: t.filter(F.col("band_idx").isin(1, SCL)),
            lambda t: t,
        ),
        "items before": (
            lambda s: s.filter_items(cloud).mask_band("scl", keep, other),
            tile_items,
            lambda t: t,
        ),
        "bounds before": (
            lambda s: s.slice_bounds(SLICE).mask_band("scl", keep, other),
            lambda t: tiles_in_window(t, win),
            lambda t: t,
        ),
        "bands after": (
            lambda s: s.mask_band("scl", keep, other).sel_bands("red"),
            lambda t: t,
            lambda t: t.filter(F.col("band_idx") == 0),
        ),
        "items after": (
            lambda s: s.mask_band("scl", keep, other).filter_items(cloud),
            lambda t: t,
            tile_items,
        ),
        "bounds after": (
            lambda s: s.mask_band("scl", keep, other).slice_bounds(SLICE),
            lambda t: t,
            lambda t: tiles_in_window(t, win),
        ),
    }
    got, want = [], []
    for name, (chain, before, after) in selections.items():
        masked = mask_band_tiles(
            before(st.tiles), SCL, keep, other=fill if other is None else other, dtype=dtype
        )
        oracle = explode_pixels(after(masked), dtype=dtype, fill_value=fill)
        got.append(chain(st).pixels().withColumn("sel", F.lit(name)))
        want.append(oracle.withColumn("sel", F.lit(name)))
    got_rows = _rows(reduce(DataFrame.unionAll, got))
    assert got_rows == _rows(reduce(DataFrame.unionAll, want))
    assert {r[-1] for r in got_rows} == set(selections)  # no selection is empty
    if other is not None:
        assert any(r[4] == other for r in got_rows)  # `other` stays as pixel rows


def test_masked_pixels_keep_fill_rows_without_drop_fill(stacks):
    st = stacks["uint16"]
    got = st.mask_band("scl", [2, 2002]).pixels(drop_fill=False)
    want = explode_pixels(
        mask_band_tiles(st.tiles, SCL, [2, 2002], other=0, dtype="uint16"),
        drop_fill=False,
        dtype="uint16",
        fill_value=0,
    )
    assert _rows(got) == _rows(want)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_masked_pixels_are_one_scan_over_the_filtered_plan(spark, stacks):
    """COG bytes → pixel rows in one MapInPandas: the item and band
    selections sit below it, no join carries a tile payload, and the band
    pivot on top adds exactly one Exchange."""
    from stackstac_spark.operators.composite import band_pivot

    st = stacks["float32"].filter_items(F.col("item_idx") < 2).mask_band("scl", [4, 5])
    px = st.pixels()
    plan = _plan(px)
    lines = plan.splitlines()
    scans = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    assert len(scans) == 1, plan
    above, below = "\n".join(lines[: scans[0]]), "\n".join(lines[scans[0] + 1 :])
    # nothing but the adaptive-plan root sits above the scan
    assert "Join" not in above and "Filter" not in above, plan
    assert "LeftSemi" in below, plan
    # no join anywhere carries a payload column
    joins = [ln for ln in lines if "Join" in ln]
    assert joins and not any("data" in ln for ln in joins), plan
    # the band filters are applied before the scan: Spark folds them into
    # the local read-plan relation, so read them off the analyzed plan
    analyzed = px._jdf.queryExecution().analyzed().toString().splitlines()
    scan = next(i for i, ln in enumerate(analyzed) if "MapInPandas" in ln)
    filters = "\n".join(ln for ln in analyzed[scan + 1 :] if "Filter" in ln)
    assert "(band_idx#" in filters and f"= {SCL})" in filters, filters
    assert "NOT (band_idx#" in filters, filters
    pivot = band_pivot(px, st.asset_ids, st.band_idxs)
    assert _plan(pivot).count("Exchange") == plan.count("Exchange") + 1


def test_one_read_per_failing_window_under_a_mask(spark):
    """A broken data asset under mask_band is read (and counted) once: the
    mask joins the read plan, not a second scan."""
    items = _items()
    items[0]["assets"]["red"]["href"] = "fake://broken"
    st = stack(
        spark,
        items,
        assets=list(BANDS),
        chunksize=64,
        errors_as_nodata=(("ValueError", r"Not a fake url"),),
    )
    st.mask_band("scl", lambda m: m == m).pixels().count()
    assert st.read_warnings() == 1


def test_selected_out_windows_are_never_read(spark):
    """Selections filter the read plan, so a broken asset of a dropped item
    or band is never opened."""
    items = _items()
    items[1]["assets"]["nir"]["href"] = "fake://broken"
    st = stack(
        spark,
        items,
        assets=list(BANDS),
        chunksize=64,
        errors_as_nodata=(("ValueError", r"Not a fake url"),),
    )
    st.filter_items(F.col("item_idx") != 1).pixels().count()
    st.sel_bands(["red", "scl"]).tiles.count()
    st.mask_band("nir", [1.0]).sel_bands("red").filter_items(F.col("item_idx") == 0).pixels().count()
    assert st.read_warnings() == 0
    st.pixels().count()
    assert st.read_warnings() == 1


def test_planned_tiles_are_built_once(stacks):
    """``tiles`` of a planned stack is one DataFrame, so ``cache()`` on it
    (show() does this) sticks."""
    st = stacks["float64"].sel_bands("red")
    assert st.tiles is st.tiles


def test_pixels_of_cached_tiles_read_the_cache(spark):
    """Once the caller cached a planned stack's tiles, ``pixels()`` (and so
    ``create_views``' pixels view and ``mosaic()``) explodes that cache
    instead of scanning the sources again; the rows are the scan's."""
    st = stack(spark, _items(), assets=list(BANDS), chunksize=16).filter_items(F.col("item_idx") < 2)
    st.tiles.cache()
    st.tiles.count()
    try:
        plan = _plan(st.pixels())
        per_query = plan.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in per_query, plan
        # the scan kernel reads the plan rows' urls; none are read above the cache
        assert "url" not in per_query and "MapInPandas run(" not in per_query, plan
        fresh = stack(spark, _items(), assets=list(BANDS), chunksize=16).filter_items(F.col("item_idx") < 2)
        assert _rows(st.pixels()) == _rows(fresh.pixels())
        assert _rows(st.mosaic()) == _rows(fresh.mosaic())
    finally:
        st.tiles.unpersist()
