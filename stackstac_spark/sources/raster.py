"""The leaf raster scan: the read plan's (asset × tile) rows → tile blocks
or pixel rows.

Spark re-expression of the reference's ``fetch_raster_window``
(to_dask.py:157-205) + ``AutoParallelRioReader.read`` (rio_reader.py:382-429):
each Arrow batch of (asset, tile) pairs of a :class:`ReadPlan` is mapped to
tile rows whose ``data`` is the ``tile_h × tile_w`` block in the stack's
dtype — windowed-read from the source, masked, rescaled
(``value * scale + offset``), and filled with ``fill_value`` outside the
asset's footprint. The same kernel reads a mask band's window beside each
data window and applies the keep test, and for the pixel view it emits the
pixel rows itself, so a masked pixel view is one Python pass from COG
window to pixel row.

Readers:

- ``fake://`` URLs (the reference's FakeReader / test-oracle pattern,
  reader_protocol.py:106-127, tests/test_to_dask.py:99-117) are served by a
  deterministic pure function of (url, global pixel coords) so tests can
  paint the identical oracle array without any IO.
- real COG URLs go through rasterio + WarpedVRT when rasterio is importable;
  without it, local files AND http(s) URLs are served by the built-in
  GeoTIFF reader (sources/minitiff — ranged-GET block-cached HTTP, the
  /vsicurl/ access pattern), while other remote schemes raise a clear
  error with the full plumbing (env handling, windowed read, nodata
  masking) in place. One dataset handle per (executor, url) via an LRU — Spark tasks
  are single-threaded, so the reference's entire thread-local machinery
  (rio_reader.py:124-265) disappears by construction.

Error tolerance mirrors nodata_reader.py:14-64: exceptions matching
``errors_as_nodata`` (type, message-regex) patterns produce an all-fill tile
instead of failing the job.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, replace
from functools import cached_property
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stackstac_spark.raster_spec import RasterSpec

try:  # pragma: no cover - not present in this container
    import rasterio  # type: ignore
    from rasterio.vrt import WarpedVRT  # type: ignore

    _HAVE_RASTERIO = True
except Exception:  # pragma: no cover
    _HAVE_RASTERIO = False

TILE_SCHEMA = T.StructType(
    [
        T.StructField("item_idx", T.IntegerType()),
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("tile_y", T.IntegerType()),
        T.StructField("tile_x", T.IntegerType()),
        T.StructField("row_off", T.IntegerType()),
        T.StructField("col_off", T.IntegerType()),
        T.StructField("tile_h", T.IntegerType()),
        T.StructField("tile_w", T.IntegerType()),
        T.StructField("data", T.BinaryType()),  # dtype C-order (tile_h, tile_w)
    ]
)

PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("item_idx", T.IntegerType()),
        T.StructField("band_idx", T.IntegerType()),
        T.StructField("row", T.IntegerType()),
        T.StructField("col", T.IntegerType()),
        T.StructField("value", T.DoubleType()),
    ]
)

# default error-tolerance pattern, as the reference's stack.py:48-50
DEFAULT_ERRORS_AS_NODATA = (("RasterioIOError", r"HTTP response code: 404"),)

# Layered GDAL configuration (reference rio_env.py:11-56): `always` applies
# everywhere; `open` / `open_vrt` / `read` layer on top around the matching
# GDAL call. The load-bearing default is VSI_CACHE: ON while opening (header/
# IFD requests are re-read repeatedly and tiny) but OFF while reading (pixel
# ranges are large, one-shot, and would churn the cache).
_GDAL_LAYERS = ("always", "open", "open_vrt", "read")
DEFAULT_GDAL_ENV: dict[str, dict] = {
    "always": {
        "GDAL_DISABLE_READDIR_ON_OPEN": "EMPTY_DIR",
        "GDAL_HTTP_MULTIRANGE": "YES",
        "GDAL_HTTP_MERGE_CONSECUTIVE_RANGES": "YES",
    },
    "open": {"VSI_CACHE": "TRUE"},
    "open_vrt": {"VSI_CACHE": "TRUE"},
    "read": {"VSI_CACHE": "FALSE"},
}


# Reference parity (rio_reader.py:36-44): drivers safe to read from multiple
# threads within one process. Informational here — this engine's tasks are
# single-threaded by design (one GDAL handle per task, no cross-thread
# sharing), so the allowlist never gates anything; exported so reference
# user code that imports it keeps working.
MULTITHREADED_DRIVER_ALLOWLIST = frozenset({"GTiff"})


class LayeredEnv:
    """GDAL configuration options layered by situation — the reference's
    ``stackstac.LayeredEnv`` (rio_env.py:11-114), rasterio-free: layers are
    plain dicts here (the scan task wraps the merged dict in
    ``rasterio.Env`` when rasterio is present, sources/raster.py::
    _read_real_window). Layering: ``open``/``read`` = ``always`` + that
    layer; ``open_vrt`` = ``always`` + ``open_vrt``, falling back to
    ``open`` when empty. Plain data → pickles cleanly into task closures
    (the reference needed __getstate__ for the same reason,
    rio_env.py:104-114)."""

    def __init__(
        self,
        always: dict,
        open: dict | None = None,
        open_vrt: dict | None = None,
        read: dict | None = None,
    ) -> None:
        self._always = dict(always)
        self._open = dict(open or {})
        self._open_vrt = dict(open_vrt or {})
        self._read = dict(read or {})

    @property
    def always(self) -> dict:
        return dict(self._always)

    @property
    def open(self) -> dict:
        return {**self._always, **self._open}

    @property
    def open_vrt(self) -> dict:
        if not self._open_vrt:
            return self.open
        return {**self._always, **self._open_vrt}

    @property
    def read(self) -> dict:
        return {**self._always, **self._read}

    def updated(
        self,
        always: dict | None = None,
        open: dict | None = None,
        open_vrt: dict | None = None,
        read: dict | None = None,
    ) -> "LayeredEnv":
        """Duplicate, adding options per situation (rio_env.py:88-102)."""
        return LayeredEnv(
            always={**self._always, **(always or {})},
            open={**self._open, **(open or {})},
            open_vrt={**self._open_vrt, **(open_vrt or {})},
            read={**self._read, **(read or {})},
        )

    def __repr__(self) -> str:
        return (
            f"{type(self).__name__}(\n"
            f"    always={self._always},\n"
            f"    open={self._open},\n"
            f"    open_vrt={self._open_vrt},\n"
            f"    read={self._read},\n"
            ")"
        )

    def __eq__(self, other) -> bool:
        return isinstance(other, LayeredEnv) and (
            (self._always, self._open, self._open_vrt, self._read)
            == (other._always, other._open, other._open_vrt, other._read)
        )

    def __getstate__(self):
        return (self._always, self._open, self._open_vrt, self._read)

    def __setstate__(self, state):
        self.__init__(*state)


def normalize_gdal_env(gdal_env: dict | LayeredEnv | None) -> dict[str, dict]:
    """Normalize a user ``gdal_env`` to the layered form.

    - None → the defaults above;
    - a :class:`LayeredEnv` → its four layers override the defaults
      layer-wise (the reference's native type, accepted for drop-in
      compatibility);
    - a dict whose keys are all layer names (values dicts) → each layer is
      the default layer updated with the override;
    - a flat dict (no layer-named dict values) → merged into ``always`` on
      top of the defaults, so one-off options don't silently drop the
      VSI_CACHE open/read split;
    - a MIX of the two raises: treating it as flat would pass a nested dict
      to GDAL as a bogus option value, and treating it as layered would drop
      the flat options.
    """
    layers = {k: dict(v) for k, v in DEFAULT_GDAL_ENV.items()}
    if isinstance(gdal_env, LayeredEnv):
        gdal_env = {
            "always": gdal_env._always,
            "open": gdal_env._open,
            "open_vrt": gdal_env._open_vrt,
            "read": gdal_env._read,
        }
        gdal_env = {k: v for k, v in gdal_env.items() if v}
    if not gdal_env:
        return layers
    layerish = {
        k for k, v in gdal_env.items() if k in _GDAL_LAYERS and isinstance(v, dict)
    }
    if layerish and layerish != set(gdal_env):
        raise ValueError(
            "gdal_env mixes layered and flat keys: layer dicts "
            f"{sorted(layerish)} alongside flat options "
            f"{sorted(set(gdal_env) - layerish)}. Pass EITHER a layered dict "
            f"(keys from {_GDAL_LAYERS}, dict values) OR a flat options dict; "
            "put one-off flat options under 'always'."
        )
    if layerish:
        for k, v in gdal_env.items():
            layers[k].update(v)
    else:
        layers["always"].update(gdal_env)
    return layers


def _merged_layer(layers: dict[str, dict], which: str) -> dict:
    env = dict(layers["always"])
    env.update(layers.get(which, {}))
    return env


def fake_pixel_values(
    url: str, rows: np.ndarray, cols: np.ndarray
) -> np.ndarray:
    """Deterministic fake data: value = item*1000 + band + small gradient.

    ``fake://{item}/{band}`` URLs encode their position, exactly like the
    reference's test strategy (tests/test_to_dask.py:23-66 encodes (i, j) in
    the URL). The gradient term makes windowing/clipping bugs visible."""
    m = re.match(r"fake://(\d+)/(\d+)", url)
    if not m:
        raise ValueError(f"Not a fake url: {url}")
    i, j = int(m.group(1)), int(m.group(2))
    base = float(i * 1000 + j)
    return base + rows * 1e-3 + cols * 1e-6


_DS_CACHE: "OrderedDict" = None  # type: ignore[assignment]
_DS_CACHE_MAX = 32


def _ds_cache_clear() -> None:
    """Close and drop every cached dataset handle."""
    global _DS_CACHE
    if _DS_CACHE:
        while _DS_CACHE:
            _, old = _DS_CACHE.popitem()
            try:
                old.close()
            except Exception:
                pass


def _open_dataset(url: str, gdal_env_key: tuple):  # pragma: no cover
    """Executor-local dataset cache; one handle per (executor, url).

    The reference needs ThreadLocalRioDataset (rio_reader.py:124-265) because
    many dask threads share one Reader. A Spark task owns its partition, so a
    plain per-process LRU suffices; never pickled, never shared across JVM
    threads because python workers are separate processes. Unlike
    ``functools.lru_cache``, eviction CLOSES the dataset — dropping a GDAL
    handle without close() leaks it (plus its VSI caches) until GC
    finalization, unbounded on an executor touching many URLs."""
    if not _HAVE_RASTERIO:
        raise NotImplementedError(
            "rasterio is not installed in this environment; real COG IO is "
            "stubbed. Use fake:// URLs (FakeReader mode) or install rasterio."
        )
    global _DS_CACHE
    if _DS_CACHE is None:
        from collections import OrderedDict

        _DS_CACHE = OrderedDict()
    key = (url, gdal_env_key)
    cached = _DS_CACHE.get(key)
    if cached is not None:
        _DS_CACHE.move_to_end(key)
        return cached
    env = dict(gdal_env_key)
    with rasterio.Env(**env):
        ds = rasterio.open(url, sharing=False)
    if ds.count != 1:
        ds.close()
        raise ValueError(
            f"Assets must be single-band, but {url!r} has {ds.count} bands"
        )
    _DS_CACHE[key] = ds
    if len(_DS_CACHE) > _DS_CACHE_MAX:
        _, old = _DS_CACHE.popitem(last=False)
        try:
            old.close()
        except Exception:
            pass
    return ds


_open_dataset.cache_clear = _ds_cache_clear  # drop-in for the old lru_cache API


def _read_real_window(
    url: str,
    spec: RasterSpec,
    r0: int,
    r1: int,
    c0: int,
    c1: int,
    resampling: str,
    gdal_env: dict,
) -> np.ndarray:  # pragma: no cover - needs rasterio
    """Windowed, resampled read of one COG onto the output grid, with the
    WarpedVRT only when the source grid differs from the spec
    (rio_reader.py:344-360). ``gdal_env`` may be flat or layered
    (normalize_gdal_env); open/open_vrt/read each run under their merged
    option set, mirroring the reference's LayeredEnv (rio_env.py:58-114)."""
    import rasterio
    from rasterio import windows as rio_windows
    from rasterio.enums import Resampling

    layers = normalize_gdal_env(gdal_env)
    ds = _open_dataset(url, tuple(sorted(_merged_layer(layers, "open").items())))
    xres, yres = spec.resolutions_xy
    gminx, _, _, gmaxy = spec.bounds
    bounds = (
        gminx + c0 * xres,
        gmaxy - r1 * yres,
        gminx + c1 * xres,
        gmaxy - r0 * yres,
    )
    vrt_needed = not (
        ds.crs is not None
        and ds.crs.to_epsg() == spec.epsg
        and _grid_aligned(
            ds.transform.a, ds.transform.e, ds.transform.c, ds.transform.f,
            xres, yres, gminx, gmaxy,
        )
    )
    src = ds
    if vrt_needed:
        from rasterio.transform import from_origin

        with rasterio.Env(**_merged_layer(layers, "open_vrt")):
            src = WarpedVRT(
                ds,
                crs=f"EPSG:{spec.epsg}",
                transform=from_origin(gminx, gmaxy, xres, yres),
                width=spec.shape[1],
                height=spec.shape[0],
                resampling=Resampling[resampling],
            )
    window = rio_windows.from_bounds(*bounds, transform=src.transform)
    try:
        with rasterio.Env(**_merged_layer(layers, "read")):
            if vrt_needed:
                # the VRT spans the full spec grid, so the window can never
                # overhang it
                arr = src.read(
                    1, window=window, masked=True, out_shape=(r1 - r0, c1 - c0)
                )
            else:
                # direct read: asset bbox metadata can overstate the actual
                # raster extent, making the window overhang the dataset —
                # without boundless, rasterio would CLIP the window and then
                # stretch the clipped data to out_shape, misregistering every
                # pixel in edge tiles; boundless fills the margin as masked
                arr = src.read(
                    1,
                    window=window,
                    masked=True,
                    out_shape=(r1 - r0, c1 - c0),
                    boundless=True,
                )
    finally:
        if vrt_needed:
            # per-read VRT: close it or the GDAL handle (and its warp
            # transformer) leaks on every tile read
            src.close()
    return np.ma.filled(arr.astype("float64"), np.nan)


def _grid_aligned(
    a: float,
    e: float,
    c: float,
    f: float,
    xres: float,
    yres: float,
    gminx: float,
    gmaxy: float,
    rel_tol: float = 1e-9,
) -> bool:
    """True when the dataset grid ``(a, e, c, f)`` coincides with the spec
    grid up to float rounding: same pixel size and an origin offset that is a
    whole number of pixels. Exact ``==``/``%`` tests would silently demote a
    grid that differs only in the 1e-13 digits to the nearest-neighbor
    mini-warp (or, for non-nearest resampling, a spurious error), so compare
    the residual of the rounded pixel shift instead."""
    import math

    if not (
        math.isclose(a, xres, rel_tol=rel_tol)
        and math.isclose(e, -yres, rel_tol=rel_tol)
    ):
        return False
    col_shift = (c - gminx) / xres
    row_shift = (gmaxy - f) / yres
    return (
        abs(col_shift - round(col_shift)) <= rel_tol * max(1.0, abs(col_shift))
        and abs(row_shift - round(row_shift)) <= rel_tol * max(1.0, abs(row_shift))
    )


# windows served from a reduced-resolution IFD in this process (executor-
# local; the driver-visible signal is the overview_acc accumulator)
FALLBACK_OVERVIEW_READS = 0


def _read_fallback_window(
    url: str,
    spec: RasterSpec,
    r0: int,
    r1: int,
    c0: int,
    c1: int,
    resampling: str,
    overview_mode: str = "exact",
) -> np.ndarray:
    """No-rasterio read path: the built-in GeoTIFF reader (sources/minitiff)
    standing in for ``AutoParallelRioReader.read`` (rio_reader.py:382-429)
    on LOCAL files. Same contract as ``_read_real_window``: a float64 block
    for spec pixel window [r0:r1, c0:c1], NaN where masked/outside.

    - dataset grid == spec grid → direct windowed read (boundless, so an
      overstated asset bbox cannot misregister edge tiles — same rationale
      as the boundless read at sources/raster.py:272-284);
    - grid differs (offset / resolution / CRS) → the mini-warp: dst pixel
      centers are inverse-projected onto the source grid and gathered
      nearest-neighbor, the same semantics as the WarpedVRT pinned to the
      spec grid with ``Resampling.nearest``. Other resampling methods need
      GDAL — install rasterio.
    """
    from stackstac_spark.sources import minitiff

    path = minitiff.local_path(url)
    if path is None:
        if minitiff._HTTP_RE.match(url):
            # ranged-HTTP COG reads (minitiff.HttpRangeFile — the
            # /vsicurl/ access pattern the reference gets from GDAL,
            # rio_reader.py:287-466): header+IFD from the 64 KiB block
            # cache, each tile gather one exact-range GET
            path = url
        else:
            raise NotImplementedError(
                "rasterio is not installed; the built-in GeoTIFF fallback "
                f"reads local files and http(s) URLs only, cannot open "
                f"{url!r}. Install rasterio for other remote COG schemes."
            )
    ds = minitiff.open_cached(path)
    if ds.count != 1:
        raise ValueError(
            f"Assets must be single-band, but {url!r} has {ds.count} bands"
        )
    if ds.transform is None:
        raise ValueError(f"{url!r} has no GeoTIFF georeferencing tags")
    a, b, c, d, e, f = ds.transform
    if b != 0.0 or d != 0.0:
        # parity with the engine-wide rectilinear guard (reference
        # prepare.py:283; our prepare raises the same way)
        raise NotImplementedError(
            f"Non-rectilinear geotransform on {url!r}; the built-in reader "
            "handles rectilinear grids only"
        )
    xres, yres = spec.resolutions_xy
    gminx, _, _, gmaxy = spec.bounds
    # No GeoKeyDirectory (ds.epsg None — e.g. user-defined CRS key 32767 or
    # bare georeferencing tags): trust the transform and treat the file as
    # spec-CRS for the ALIGNED fast path only; a grid mismatch without a CRS
    # is unresolvable and must error clearly rather than blame pyproj.
    same_crs = ds.epsg is None or ds.epsg == spec.epsg
    aligned = same_crs and _grid_aligned(a, e, c, f, xres, yres, gminx, gmaxy)
    if not aligned and ds.epsg is None:
        raise ValueError(
            f"{url!r} carries no EPSG GeoKey and its grid does not match the "
            "output spec; cannot warp a CRS-less raster. Re-tag the file or "
            "match the spec grid."
        )
    if aligned:
        # spec pixel (r, cc) ↔ source pixel (r - row_shift, cc - col_shift)
        col_shift = round((c - gminx) / xres)
        row_shift = round((gmaxy - f) / yres)
        return ds.read_window(
            r0 - row_shift, r1 - row_shift, c0 - col_shift, c1 - col_shift
        )
    if resampling != "nearest":
        raise NotImplementedError(
            f"The built-in GeoTIFF fallback warps with 'nearest' only; "
            f"resampling={resampling!r} needs rasterio"
        )
    from stackstac_spark.functions.proj import transform_xy

    nr, nc = r1 - r0, c1 - c0
    rows = np.arange(r0, r1, dtype="float64")
    cols = np.arange(c0, c1, dtype="float64")
    xs = gminx + (cols + 0.5) * xres  # dst pixel centers on the spec grid
    ys = gmaxy - (rows + 0.5) * yres
    X, Y = np.meshgrid(xs, ys)
    sx, sy = transform_xy(spec.epsg, ds.epsg, X.ravel(), Y.ravel())
    scol = np.floor((sx - c) / a).astype("int64")
    srow = np.floor((sy - f) / e).astype("int64")
    out = np.full(sx.shape, np.nan, dtype="float64")
    valid = (srow >= 0) & (srow < ds.height) & (scol >= 0) & (scol < ds.width)
    if valid.any():
        src, vr, vc = _select_overview(
            ds, srow[valid], scol[valid],
            _decimation_estimate(srow.reshape(nr, nc), scol.reshape(nr, nc)),
            overview_mode,
        )
        rmin, rmax = int(vr.min()), int(vr.max()) + 1
        cmin, cmax = int(vc.min()), int(vc.max()) + 1
        block = src.read_window(rmin, rmax, cmin, cmax)
        vals = block[vr - rmin, vc - cmin]
        if src is not ds and ds.nodata is not None and not np.isnan(ds.nodata):
            # overview IFDs inherit the parent's nodata semantics even if
            # the tag is absent on the reduced-resolution IFD
            vals = np.where(vals == float(ds.nodata), np.nan, vals)
        out[valid] = vals
    return out.reshape(nr, nc)


def _decimation_estimate(srow2d: np.ndarray, scol2d: np.ndarray) -> float:
    """How many source pixels one dst pixel step spans, estimated from the
    gathered index grid (works cross-CRS, where there is no single closed
    form) — the analogue of the warper's resolution-ratio estimate that GDAL
    uses to pick an overview level for a WarpedVRT at coarse target
    resolution (reference rio_reader.py:344-360 gets this for free)."""
    strides = []
    if scol2d.shape[1] > 1:
        strides.append(float(np.median(np.abs(np.diff(scol2d, axis=1)))))
    if srow2d.shape[0] > 1:
        strides.append(float(np.median(np.abs(np.diff(srow2d, axis=0)))))
    return min(strides) if strides else 1.0


def _select_overview(
    ds, srow_v: np.ndarray, scol_v: np.ndarray, decim: float, mode: str
):
    """Pick the overview IFD to serve a nearest-neighbor gather, if any.

    ``mode``:

    - ``"exact"`` (default): deepest overview whose factor divides EVERY
      sampled full-res index — the overview pixel (r//v, c//v) then holds
      exactly full-res pixel (r, c) (the writer's nearest decimation keeps
      the top-left sample, minitiff.py ``arr[::v, ::v]``), so the read is
      bit-identical to the full-res gather while decoding ~v² fewer pixels.
      A z<=8 XYZ tile over a 10980² asset reads the pyramid tip instead of
      ~1800× the needed bytes (the r6 scale-design weakness).
    - ``"snap"``: WarpedVRT parity — deepest overview with factor <= the
      estimated decimation, indices snapped with ``//`` (each dst pixel
      takes the top-left full-res sample of its block). Approximate vs the
      full-res gather by up to one block, exactly like GDAL reading
      nearest-built overviews; opt-in via ``stack(overview_mode="snap")``.
    - ``"off"``: always full-res.

    Returns ``(dataset, row_idx, col_idx)`` in the chosen dataset's grid.
    """
    if mode == "off" or ds.n_ifds <= 1:
        return ds, srow_v, scol_v
    if mode not in ("exact", "snap"):
        raise ValueError(f"overview_mode must be 'exact', 'snap' or 'off', got {mode!r}")
    best = None
    for factor, ov in ds.overviews_cached():
        if mode == "snap":
            if factor <= decim:
                best = (factor, ov)
        elif (srow_v % factor == 0).all() and (scol_v % factor == 0).all():
            best = (factor, ov)
    if best is None:
        return ds, srow_v, scol_v
    factor, ov = best
    global FALLBACK_OVERVIEW_READS
    FALLBACK_OVERVIEW_READS += 1
    return ov, srow_v // factor, scol_v // factor


def make_scan_udf(
    spec: RasterSpec,
    fill_value: float = np.nan,
    resampling: str = "nearest",
    gdal_env: dict | None = None,
    errors_as_nodata: tuple = DEFAULT_ERRORS_AS_NODATA,
    dtype: str = "float64",
    error_acc=None,
    overview_mode: str = "exact",
    overview_acc=None,
):
    """Check the scan options and build the scan's window read,
    ``read(url, bounds, scale, offset, t) -> block``: the
    ``(t.tile_h, t.tile_w)`` block of the asset at ``url`` (``bounds`` in
    the output CRS) on the output tile at ``(t.row_off, t.col_off)``, in
    ``dtype`` — windowed-read, rescaled (``value * scale + offset``) and
    ``fill_value`` outside the asset's footprint and where the source is
    masked. :class:`ReadPlan` runs it per plan row inside ``mapInPandas``.

    ``fill_value`` must be castable to ``dtype`` (the reference's check at
    to_dask.py:39-43).

    ``error_acc``: optional Spark accumulator incremented once per read that
    matched ``errors_as_nodata`` and was filled. Without it, a misconfigured
    bucket at 100 TB reads as "all fill" with zero signal — the reference
    warns per failed read (nodata_reader.py:46); here the counts flow back
    to the driver and ``RasterStack`` warns on compute.

    ``overview_mode`` ("exact"/"snap"/"off", see ``_select_overview``)
    controls whether decimated fallback reads may be served from COG
    overview IFDs; ``overview_acc`` counts windows that were (driver-side
    observability for the decimation path, mirrored by tests).
    """
    if overview_mode not in ("exact", "snap", "off"):
        raise ValueError(
            f"overview_mode must be 'exact', 'snap' or 'off', got {overview_mode!r}"
        )
    np_dtype = np.dtype(dtype)
    is_nan_fill = isinstance(fill_value, float) and np.isnan(fill_value)
    if is_nan_fill:
        if not (
            np.issubdtype(np_dtype, np.floating)
            or np.issubdtype(np_dtype, np.complexfloating)
        ):
            raise ValueError(f"fill_value NaN is not castable to dtype {dtype}")
    else:
        # general castability (reference to_dask.py:39-43): an out-of-range
        # fill for an integer dtype would otherwise WRAP silently at task
        # runtime (np.full(..., -1.0, dtype=uint8) → 255) and read as valid
        # bright data that drop_fill can never match
        cast = np_dtype.type(fill_value)
        if cast != fill_value:
            raise ValueError(
                f"fill_value {fill_value!r} is not exactly representable in "
                f"dtype {dtype} (would become {cast!r})"
            )
    genv = normalize_gdal_env(gdal_env)

    def read(url: str, bounds: tuple, scale: float, offset: float, t) -> np.ndarray:
        tile = np.full((t.tile_h, t.tile_w), fill_value, dtype=np_dtype)
        # asset window on the global grid (to_dask.py:116-124 +
        # windows.intersect at to_dask.py:183); the outward epsilon
        # rounding lives in ONE place — raster_spec — because the
        # scan and the tile grid must agree to the pixel
        ar0, ac0, ah, aw = spec.pixel_window_from_bounds(bounds)
        r0 = max(t.row_off, ar0)
        r1 = min(t.row_off + t.tile_h, ar0 + ah)
        c0 = max(t.col_off, ac0)
        c1 = min(t.col_off + t.tile_w, ac0 + aw)
        if r1 <= r0 or c1 <= c0:
            return tile
        try:
            if url.startswith("fake://"):
                rr, cc = np.meshgrid(np.arange(r0, r1), np.arange(c0, c1), indexing="ij")
                block = fake_pixel_values(url, rr, cc)
            elif _HAVE_RASTERIO:
                block = _read_real_window(url, spec, r0, r1, c0, c1, resampling, genv)
            else:
                # read the counter through the module: cloudpickle ships
                # this closure with a BY-VALUE snapshot of plain globals,
                # so a bare name here would stay frozen at 0 on workers
                # while _select_overview increments the real module global
                from stackstac_spark.sources import raster as _rmod

                before_ov = _rmod.FALLBACK_OVERVIEW_READS
                block = _read_fallback_window(
                    url, spec, r0, r1, c0, c1, resampling, overview_mode=overview_mode
                )
                if overview_acc is not None and _rmod.FALLBACK_OVERVIEW_READS > before_ov:
                    overview_acc.add(1)
            block = block * scale + offset
            sub = tile[r0 - t.row_off : r1 - t.row_off, c0 - t.col_off : c1 - t.col_off]
            valid = ~np.isnan(block)
            # masked cells keep fill; valid cells cast to the output dtype
            # on assignment (rio_reader.py:415-429)
            sub[valid] = block[valid].astype(np_dtype)
        except Exception as exc:  # errors-as-nodata path
            if not _exception_matches(exc, errors_as_nodata):
                raise
            if error_acc is not None:
                error_acc.add(1)
        return tile

    return read


def _exception_matches(exc: Exception, patterns: tuple) -> bool:
    """nodata_reader.py:46-64: match on (type-name, message-regex).

    The name is checked against the exception's whole MRO, so a subclass of
    RasterioIOError still matches a "RasterioIOError" pattern — the
    by-name analogue of the reference's isinstance check."""
    mro_names = {c.__name__ for c in type(exc).__mro__}
    for type_name, msg_re in patterns:
        if type_name in mro_names and re.search(msg_re, str(exc)):
            return True
    return False


# the read plan's columns: one (asset, output tile) pair per row
READ_COLS = [
    "item_idx",
    "band_idx",
    "url",
    "minx",
    "miny",
    "maxx",
    "maxy",
    "scale",
    "offset",
    "tile_y",
    "tile_x",
    "row_off",
    "col_off",
    "tile_h",
    "tile_w",
]
# a masked plan's data rows also carry their mask band's asset on that tile
MASK_COLS = [f"mask_{c}" for c in ("url", "minx", "miny", "maxx", "maxy", "scale", "offset")]


@dataclass(frozen=True, eq=False)
class ReadPlan:
    """What the scan reads, before any window is read: ``rows`` are
    (asset, output tile) pairs — item, band, url, asset bounds, scale,
    offset and tile offsets (READ_COLS), the output of
    ``grid.join_assets_to_tiles`` — and ``options`` are the
    :func:`make_scan_udf` options.

    Selections filter ``rows``, so Spark applies them below the scan's
    ``mapInPandas`` and unselected windows are never read. A mask band
    joins its own rows onto the data rows (:meth:`masked_by`): the kernel
    then reads each data window with its mask window and applies the keep
    test. ``tiles`` and ``pixels`` are the one scan kernel with two
    outputs: tile blocks, or pixel rows straight from the windows.
    """

    rows: DataFrame
    spec: RasterSpec
    options: dict = field(default_factory=dict)
    # (keep test on the mask window, value for masked pixels); rows then
    # carry MASK_COLS
    mask: tuple | None = None
    _read: object = field(init=False, repr=False)

    def __post_init__(self) -> None:
        # builds the window read now, so bad options fail at plan time
        object.__setattr__(self, "_read", make_scan_udf(self.spec, **self.options))

    def masked_by(self, band_idx: int, keep, other) -> "ReadPlan":
        """Mask every other band by band ``band_idx``: each data row gains
        that band's asset on the same (item, tile); rows without one are
        dropped (a missing mask is unknown classification, not "keep").
        ``keep`` maps a mask block to a boolean block; pixels failing it
        become ``other``."""
        m = self.rows.filter(F.col("band_idx") == band_idx).select(
            "item_idx", "tile_y", "tile_x", *[F.col(c[5:]).alias(c) for c in MASK_COLS]
        )
        rows = self.rows.filter(F.col("band_idx") != band_idx).join(
            m, ["item_idx", "tile_y", "tile_x"]
        )
        return replace(self, rows=rows, mask=(keep, other))

    @cached_property
    def tiles(self) -> DataFrame:
        """TILE_SCHEMA rows, one per plan row (built once per plan, so a
        ``cache()`` on it sticks)."""
        return self._scan(_tile_frame, TILE_SCHEMA)

    def pixels(self, drop_fill: bool = True) -> DataFrame:
        """PIXEL_SCHEMA rows emitted by the scan itself (see
        :func:`explode_pixels` for the semantics)."""
        dtype = self.options.get("dtype", "float64")
        fill = self.options.get("fill_value", np.nan)
        _check_relational(dtype)
        return self._scan(
            lambda pdf, blocks: _pixel_frame(pdf, blocks, drop_fill, fill), PIXEL_SCHEMA
        )

    def _scan(self, emit, schema) -> DataFrame:
        from stackstac_spark.functions.proj import _per_batch

        read, mask = self._read, self.mask
        cols = READ_COLS + (MASK_COLS if mask is not None else [])

        def scan(pdf: pd.DataFrame) -> pd.DataFrame:
            kept: dict[tuple, np.ndarray] = {}
            blocks = []
            for t in pdf.itertuples(index=False):
                block = read(t.url, (t.minx, t.miny, t.maxx, t.maxy), t.scale, t.offset, t)
                if mask is not None:
                    # one mask read per (item, tile) in the batch, however
                    # many data bands share it
                    key = (t.item_idx, t.tile_y, t.tile_x)
                    if key not in kept:
                        kept[key] = mask[0](
                            read(
                                t.mask_url,
                                (t.mask_minx, t.mask_miny, t.mask_maxx, t.mask_maxy),
                                t.mask_scale,
                                t.mask_offset,
                                t,
                            )
                        )
                    block = np.where(kept[key], block, mask[1])
                blocks.append(block)
            return emit(pdf, blocks)

        return _per_batch(self.rows.select(*cols), scan, schema)


def _tile_frame(pdf: pd.DataFrame, blocks: list[np.ndarray]) -> pd.DataFrame:
    out = {f.name: pdf[f.name].to_numpy() for f in TILE_SCHEMA.fields[:-1]}
    out["data"] = [b.tobytes() for b in blocks]
    return pd.DataFrame(out)


def _check_relational(dtype: str) -> None:
    if np.issubdtype(np.dtype(dtype), np.complexfloating):
        raise ValueError(
            "Complex tiles have no relational double view; split into "
            "(real, imag) float tables with operators.complex_ops.split_complex"
        )


def _pixel_frame(
    tiles: pd.DataFrame, blocks: list[np.ndarray], drop_fill: bool, fill_value: float
) -> pd.DataFrame:
    """PIXEL_SCHEMA rows of the tile blocks; ``tiles`` holds each block's
    item_idx, band_idx, row_off and col_off."""
    fill_is_nan = isinstance(fill_value, float) and np.isnan(fill_value)
    rows, cols, vals = [], [], []
    for arr, r0, c0 in zip(blocks, tiles["row_off"], tiles["col_off"]):
        if drop_fill:
            rr, cc = np.nonzero(~np.isnan(arr) if fill_is_nan else arr != fill_value)
            vals.append(arr[rr, cc])
        else:
            rr, cc = np.indices(arr.shape).reshape(2, -1)
            vals.append(arr.ravel())
        rows.append(rr + r0)
        cols.append(cc + c0)
    n = [len(v) for v in vals]

    def cat(parts: list, dt: str) -> np.ndarray:
        return np.concatenate(parts).astype(dt) if parts else np.empty(0, dt)

    return pd.DataFrame(
        {
            "item_idx": np.repeat(tiles["item_idx"].to_numpy("int32"), n),
            "band_idx": np.repeat(tiles["band_idx"].to_numpy("int32"), n),
            "row": cat(rows, "int32"),
            "col": cat(cols, "int32"),
            "value": cat(vals, "float64"),
        }
    )


def scan_tiles(joined: DataFrame, spec: RasterSpec, **kwargs) -> DataFrame:
    """Run the scan over the asset×tile join result → tile DataFrame."""
    return ReadPlan(joined, spec, kwargs).tiles


def explode_pixels(
    tiles: DataFrame,
    drop_fill: bool = True,
    dtype: str = "float64",
    fill_value: float = np.nan,
) -> DataFrame:
    """Tile DF → pixel DF (item_idx, band_idx, row, col, value) with global
    grid coordinates. ``drop_fill`` keeps the representation sparse (fill
    pixels are absent rows) — the 100 TB-friendly default; dense semantics are
    re-synthesized at export (see operators.export). ``value`` is exposed as
    double in the relational view regardless of the storage dtype (complex
    stacks must go through ``operators.complex_ops.split_complex`` first).
    A stack read from its plan emits the same rows from the scan itself
    (:meth:`ReadPlan.pixels`)."""
    _check_relational(dtype)

    def to_pixels(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blocks = [
                np.frombuffer(d, dtype=dtype).reshape(h, w)
                for d, h, w in zip(pdf["data"], pdf["tile_h"], pdf["tile_w"])
            ]
            yield _pixel_frame(pdf, blocks, drop_fill, fill_value)

    return tiles.mapInPandas(to_pixels, PIXEL_SCHEMA)
