"""Top-level drop-in surface: every name in the reference's __all__
(reference __init__.py:34-48) exists here with compatible behavior, so
user code written against `stackstac` ports by changing the import."""

import pickle

import numpy as np
import pytest

import stackstac_spark as s
from stackstac_spark.raster_spec import RasterSpec
from tests.conftest import make_item

REFERENCE_ALL = [
    "LayeredEnv",
    "DEFAULT_GDAL_ENV",
    "MULTITHREADED_DRIVER_ALLOWLIST",
    "stack",
    "show",
    "add_to_map",
    "mosaic",
    "reproject_array",
    "array_bounds",
    "array_epsg",
    "xyztile_of_array",
    "__version__",
]


def test_reference_all_covered():
    missing = [n for n in REFERENCE_ALL if not hasattr(s, n)]
    assert not missing, missing


def test_layered_env_layering_and_pickle():
    le = s.LayeredEnv(always={"A": "1"}, open={"B": "2"})
    assert le.open == {"A": "1", "B": "2"}
    assert le.read == {"A": "1"}
    assert le.open_vrt == le.open  # empty open_vrt falls back to open
    le2 = le.updated(read={"C": "3"}, open_vrt={"D": "4"})
    assert le2.read == {"A": "1", "C": "3"}
    assert le2.open_vrt == {"A": "1", "D": "4"}
    assert le.read == {"A": "1"}  # updated() does not mutate
    assert pickle.loads(pickle.dumps(le2)) == le2
    assert "always=" in repr(le2)


def test_layered_env_through_normalize():
    from stackstac_spark.sources.raster import normalize_gdal_env

    le = s.LayeredEnv(always={"GDAL_X": "y"})
    n = normalize_gdal_env(le)
    assert n["always"]["GDAL_X"] == "y"
    # defaults preserved underneath
    assert n["open"]["VSI_CACHE"] == "TRUE"
    assert n["read"]["VSI_CACHE"] == "FALSE"


@pytest.fixture(scope="module")
def st(spark):
    items = [
        make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 16.0, 16.0)),
        make_item(1, "2024-02-05T00:00:00Z", (0.0, 0.0, 16.0, 16.0)),
    ]
    return s.stack(spark, items, assets=["red"], chunksize=16)


def test_array_bounds_and_epsg(st):
    assert s.array_bounds(st) == st.spec.bounds
    assert s.array_epsg(st) == 32613
    assert s.array_bounds(st.spec) == st.spec.bounds  # RasterSpec too


def test_module_level_mosaic(st):
    rows = s.mosaic(st).collect()
    assert rows
    # both items fully overlap: default order puts item 1 on top (the
    # engine's gate-verified mosaic semantics); reverse flips to item 0
    vals = {round(r.value - (r.row * 1e-3 + r.col * 1e-6)) for r in rows}
    assert vals == {1000}
    rvals = {
        round(r.value - (r.row * 1e-3 + r.col * 1e-6))
        for r in s.mosaic(st, reverse=True).collect()
    }
    assert rvals == {0}


def test_reproject_array_returns_stack(st):
    dst = RasterSpec(st.spec.epsg, st.spec.bounds, (2.0, 2.0))
    warped = s.reproject_array(st, dst, method="nearest")
    assert isinstance(warped, s.RasterStack)
    assert warped.spec == dst
    dense = warped.compute()
    assert dense.shape[-2:] == dst.shape
    assert np.isfinite(dense).any()


def _center_tile(st, z):
    """(x, y) of the zoom-z OSM tile holding the stack's center."""
    from stackstac_spark.functions.proj import reproject_bounds
    from stackstac_spark.operators.warp import WEB_MERCATOR_EXTENT as EXT

    b = reproject_bounds(st.spec.bounds, st.spec.epsg, 3857)
    cx, cy = (b[0] + b[2]) / 2, (b[1] + b[3]) / 2
    n = 2**z
    return int((cx + EXT) / (2 * EXT) * n), int((EXT - cy) / (2 * EXT) * n)


def test_xyztile_of_array(st):
    # a z=22 tile inside the stack footprint vs one far away
    tx, ty = _center_tile(st, 22)
    tile = s.xyztile_of_array(st, 22, tx, ty, tilesize=64)
    assert tile is not None and tile.spec.epsg == 3857
    assert tile.spec.shape == (64, 64)
    assert s.xyztile_of_array(st, 5, 0, 0) is None  # far away -> no overlap


def test_warp_of_float32_stack_computes_like_float64(spark, st):
    """Warp output is float64 whatever the stack's dtype, and the returned
    stack says so: a float32 stack's ``reproject_array`` and
    ``xyztile_of_array`` compute like the float64 stack's, within float32
    rounding."""
    items = [
        make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 16.0, 16.0)),
        make_item(1, "2024-02-05T00:00:00Z", (0.0, 0.0, 16.0, 16.0)),
    ]
    st32 = s.stack(spark, items, assets=["red"], chunksize=16, dtype="float32")
    dst = RasterSpec(st.spec.epsg, st.spec.bounds, (2.0, 2.0))
    tx, ty = _center_tile(st, 22)
    for warp in (
        lambda a: s.reproject_array(a, dst, method="linear"),
        lambda a: s.xyztile_of_array(a, 22, tx, ty, tilesize=64),
    ):
        w64, w32 = warp(st), warp(st32)
        assert w32.dtype == "float64"
        a64, a32 = w64.compute(), w32.compute()
        assert a32.shape == a64.shape and np.isfinite(a64).any()
        np.testing.assert_allclose(a32, a64, rtol=4 * np.finfo(np.float32).eps, equal_nan=True)


def test_server_stats_lists_registered_layer(st):
    from stackstac_spark.streaming.show import register

    token = register(st, range=(0.0, 2000.0))
    stats = s.server_stats()
    mine = [d for d in stats if d["token"] == token]
    assert mine and mine[0]["epsg"] == 32613
    assert mine[0]["cached_tiles"] >= 0 and mine[0]["range"] == (0.0, 2000.0)
