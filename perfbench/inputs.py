"""Seeded input generator for the raster-engine benchmark.

Every workload receives only what this module writes into its run directory:
COG scene sets (uint16 GeoTIFFs written with ``sources.minitiff``), a STAC
item JSONL catalog, and the tile-request trace. The same seed gives the same
bytes. The seed changes content, never structure: every seed has the same
scene footprints, kept scenes, grid union and request trace, so runs with
different seeds do the same amount of work on different pixels.

Each generator also returns the closed-form or numpy oracle the workload
checks the engine's output against.
"""

from __future__ import annotations

import json
import math
import os
import warnings
from dataclasses import dataclass, field

import numpy as np

EPSG = 32633  # UTM 33N: served by the engine's built-in projection layer
WEST, NORTH = 399_960.0, 4_299_960.0  # multiples of every resolution used
NODATA = 0
SCL_CLASSES = np.array([3, 4, 5, 8, 9, 10], dtype=np.uint16)
SCL_PROBS = np.array([0.08, 0.47, 0.25, 0.10, 0.06, 0.04])
SCL_KEEP = (4, 5)
CLOUD_LIMIT = 75
MONTHS = ("2024-03", "2024-04", "2024-05", "2024-06")
COG_TILE = 256  # internal tile side of every generated GeoTIFF


@dataclass
class SceneSet:
    """A generated COG scene set and what the oracle needs to check it."""

    items: list[dict]
    res: float
    size: int
    bands: tuple[str, ...]
    arrays: dict[tuple[str, str], np.ndarray] = field(repr=False)
    origins: dict[str, tuple[int, int]]  # item id -> (row, col) on the union grid
    grid_shape: tuple[int, int]
    kept: list[str]  # ids with eo:cloud_cover < CLOUD_LIMIT
    months: dict[str, str]  # item id -> "YYYY-MM"


def _smooth_field(rng: np.random.Generator, size: int, lo: float, hi: float) -> np.ndarray:
    """Spatially smooth values in [lo, hi) plus pixel noise — compresses like
    imagery, not like white noise."""
    coarse = rng.uniform(lo, hi, (size // 32 + 2, size // 32 + 2))
    up = np.kron(coarse, np.ones((32, 32)))[:size, :size]
    noise = rng.normal(0.0, (hi - lo) * 0.02, (size, size))
    return np.clip(up + noise, lo, hi - 1)


def _scl(rng: np.random.Generator, size: int) -> np.ndarray:
    """Blocky classification band: clouds come in patches, not pixels."""
    coarse = rng.choice(SCL_CLASSES, size=(size // 16, size // 16), p=SCL_PROBS)
    return np.kron(coarse, np.ones((16, 16), dtype=np.uint16)).astype(np.uint16)


def write_scenes(
    root: str,
    seed: int,
    n_scenes: int,
    size: int,
    res: float,
    bands: tuple[str, ...],
) -> SceneSet:
    """Write ``n_scenes`` × ``bands`` tiled DEFLATE COGs under ``root``.

    Footprints sit on a fixed lattice of offsets (multiples of size/8, so
    every scene overlaps its neighbours partially), and a fixed quarter of
    the scenes is cloudy: every seed does the same work. The seed picks the
    pixel values, the SCL class patches, the dates within each month and
    the cloud-cover values. Red/NIR carry a nodata strip along the left
    edge."""
    from stackstac_spark.sources import minitiff

    rng = np.random.default_rng(seed)
    step = size // 8
    lattice = [((k // 4) % 3 * step, (k % 4) * step) for k in range(n_scenes)]
    per_month = -(-n_scenes // len(MONTHS))
    kept_mask = np.arange(n_scenes) % 4 != 1  # a fixed quarter of the scenes is cloudy
    max_r = max(r for r, _ in lattice)
    max_c = max(c for _, c in lattice)
    grid_shape = (size + max_r, size + max_c)
    strip = size // 16

    items, arrays, origins, months, kept = [], {}, {}, {}, []
    for k in range(n_scenes):
        month = MONTHS[min(k // per_month, len(MONTHS) - 1)]
        day = 1 + int(rng.integers(0, 27))
        item_id = f"S{k:03d}"
        r0, c0 = lattice[k]
        west = WEST + c0 * res
        north = NORTH - r0 * res
        cloud = int(rng.integers(0, CLOUD_LIMIT)) if kept_mask[k] else int(
            rng.integers(CLOUD_LIMIT, 101)
        )
        transform = [res, 0.0, west, 0.0, -res, north]
        bbox = [west, north - size * res, west + size * res, north]
        assets = {}
        for band in bands:
            if band == "scl":
                arr, nodata = _scl(rng, size), None
            else:
                lo, hi = (300, 1800) if band == "red" else (1500, 4500)
                arr = _smooth_field(rng, size, lo, hi).astype(np.uint16)
                arr[:, :strip] = NODATA
                nodata = NODATA
            path = os.path.join(root, f"{item_id}_{band}.tif")
            minitiff.write_geotiff(
                path,
                arr,
                EPSG,
                tuple(transform),
                nodata=nodata,
                tile=(COG_TILE, COG_TILE),
                compress="deflate",
                predictor=2,
                overviews=[2, 4, 8],
            )
            arrays[(item_id, band)] = arr
            assets[band] = {
                "href": path,
                "type": "image/tiff; application=geotiff; profile=cloud-optimized",
                "proj:bbox": bbox,
                "proj:shape": [size, size],
                "proj:transform": transform,
            }
        items.append(
            {
                "type": "Feature",
                "stac_version": "1.0.0",
                "id": item_id,
                "collection": "bench-scenes",
                "properties": {
                    "datetime": f"{month}-{day:02d}T10:00:00Z",
                    "eo:cloud_cover": cloud,
                    "proj:epsg": EPSG,
                    "proj:bbox": bbox,
                    "proj:shape": [size, size],
                    "proj:transform": transform,
                },
                "assets": assets,
            }
        )
        origins[item_id] = (r0, c0)
        months[item_id] = month
        if kept_mask[k]:
            kept.append(item_id)
    return SceneSet(items, res, size, bands, arrays, origins, grid_shape, kept, months)


QUERY_SLICE = (f"{MONTHS[1]}-01", f"{MONTHS[2]}-31T23:59:59Z")


def scene_query_oracle(scenes: SceneSet, chunk: int) -> tuple[int, int]:
    """Closed-form answer to the metadata query on a scene stack: kept
    scenes dated inside QUERY_SLICE, and their asset x tile reads on the
    union grid cut into ``chunk``-pixel tiles."""
    lo, hi = QUERY_SLICE
    n_items = n_reads = 0
    for it in scenes.items:
        props = it["properties"]
        if props["eo:cloud_cover"] >= CLOUD_LIMIT or not lo <= props["datetime"] <= hi:
            continue
        r0, c0 = scenes.origins[it["id"]]
        rows = range(r0 // chunk, (r0 + scenes.size - 1) // chunk + 1)
        cols = range(c0 // chunk, (c0 + scenes.size - 1) // chunk + 1)
        n_items += 1
        n_reads += len(rows) * len(cols) * len(scenes.bands)
    return n_items, n_reads


def ndvi_oracle(scenes: SceneSet) -> dict[str, np.ndarray]:
    """Per-month median NDVI on the union grid, computed in numpy from the
    generated arrays: kept scenes only, SCL in SCL_KEEP, nodata dropped."""
    h, w = scenes.grid_shape
    s = scenes.size
    out = {}
    for month in sorted(set(scenes.months.values())):
        ids = [i for i in scenes.kept if scenes.months[i] == month]
        cube = np.full((len(ids), h, w), np.nan)
        for n, item_id in enumerate(ids):
            red = scenes.arrays[(item_id, "red")].astype("float64")
            nir = scenes.arrays[(item_id, "nir")].astype("float64")
            scl = scenes.arrays[(item_id, "scl")]
            ok = np.isin(scl, SCL_KEEP) & (red != NODATA) & (nir != NODATA)
            ndvi = np.full(red.shape, np.nan)
            ndvi[ok] = (nir[ok] - red[ok]) / (nir[ok] + red[ok])
            r0, c0 = scenes.origins[item_id]
            cube[n, r0 : r0 + s, c0 : c0 + s] = ndvi
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN pixels stay NaN
            out[month] = np.nanmedian(cube, axis=0)
    return out


# -- catalog ---------------------------------------------------------------

CAT_SIDE = 10980  # Sentinel-2 tile side in 10 m pixels
CAT_STEP = 99_960.0  # MGRS-like ~100 km lattice on the 60 m grid
CAT_COLS, CAT_ROWS = 10, 10
DISTRACTOR_EAST = 300_000.0  # distractor lattice starts this far east of the scenes


@dataclass
class Catalog:
    path: str
    aoi: tuple[float, float, float, float]


def write_catalog(root: str, seed: int, scenes: SceneSet, n_items: int) -> Catalog:
    """A STAC item JSONL catalog of ``n_items``: the scene set's items plus
    Sentinel-2-like distractors (109.8 km footprints on a 10×10 lattice
    east of the scenes, ``fake://`` assets with the same band names, random
    dates and cloud cover). Planning ``stack(path, bounds=aoi)`` ingests and
    prepares every line; the distractors fall outside the AOI, so only the
    scene set's COGs are ever read. The AOI is the scenes' union grid."""
    rng = np.random.default_rng(seed + 3)
    h, w = scenes.grid_shape
    aoi = (WEST, NORTH - h * scenes.res, WEST + w * scenes.res, NORTH)
    side_m = CAT_SIDE * 10.0
    n_fake = n_items - len(scenes.items)
    days = rng.integers(0, 365, n_fake)
    clouds = rng.integers(0, 101, n_fake)
    day0 = np.datetime64("2024-01-01")
    path = os.path.join(root, "catalog.jsonl")
    with open(path, "w") as f:
        for it in scenes.items:
            f.write(json.dumps(it) + "\n")
        for i in range(n_fake):
            cell = i % (CAT_COLS * CAT_ROWS)
            west = aoi[2] + DISTRACTOR_EAST + (cell % CAT_COLS) * CAT_STEP
            north = NORTH - (cell // CAT_COLS) * CAT_STEP
            fp = [west, north - side_m, west + side_m, north]
            props = {
                "datetime": f"{day0 + int(days[i])}T10:{i % 60:02d}:00Z",
                "eo:cloud_cover": int(clouds[i]),
                "proj:epsg": EPSG,
                "proj:bbox": fp,
                "proj:shape": [CAT_SIDE, CAT_SIDE],
                "proj:transform": [10.0, 0.0, west, 0.0, -10.0, north],
            }
            item = {
                "type": "Feature",
                "stac_version": "1.0.0",
                "id": f"T{i:06d}",
                "collection": "bench-catalog",
                "properties": props,
                "assets": {
                    band: {"href": f"fake://{i}/{b}", "type": "image/tiff; application=geotiff"}
                    for b, band in enumerate(scenes.bands)
                },
            }
            f.write(json.dumps(item) + "\n")
    return Catalog(path, aoi)


def small_items(seed: int, n_items: int = 13, n_bands: int = 17) -> list[dict]:
    """BASELINE.md's 13-item × 17-band Sentinel-2 L2A shape (10980² px
    footprints, ``fake://`` assets), built in memory for the driver-side
    ``prepare_local`` path. Only planned, never read."""
    rng = np.random.default_rng(seed + 1)
    items = []
    for i in range(n_items):
        west = WEST + float(rng.integers(0, 5)) * CAT_STEP
        north = NORTH - float(rng.integers(0, 5)) * CAT_STEP
        transform = [10.0, 0.0, west, 0.0, -10.0, north]
        items.append(
            {
                "type": "Feature",
                "id": f"L{i:03d}",
                "properties": {
                    "datetime": f"2023-{1 + i % 12:02d}-{1 + i:02d}T10:00:00Z",
                    "eo:cloud_cover": int(rng.integers(0, 101)),
                    "proj:epsg": EPSG,
                    "proj:shape": [CAT_SIDE, CAT_SIDE],
                    "proj:transform": transform,
                },
                "assets": {
                    f"B{b:02d}": {"href": f"fake://{i}/{b}", "type": "image/tiff"}
                    for b in range(n_bands)
                },
            }
        )
    return items


# -- tile trace --------------------------------------------------------------

# The trace models browser sessions on the layer. A session opens the map
# at z9 and zooms in one step at a time to z14 about a centre point; at each
# zoom step the map shows a VIEW x VIEW block of 256-px tiles (a 512 x 512 px
# map), and the client requests only tiles that touch the layer's bounds.
# Every zoom step thus asks for the same number of tiles, except where the
# footprint is smaller than the view (at z9 and z10 here). The trace chains
# SESSIONS such sessions about fresh centres; a later session's low-zoom
# views repeat tiles an earlier one fetched, and the server's LRU serves them.
ZOOMS = range(9, 15)
VIEW = 2
SESSIONS = 8
TRACE_SEED = 20240301


def _lonlat_to_xy(lon: float, lat: float, z: int) -> tuple[float, float]:
    """Fractional XYZ tile coordinates of a point at zoom ``z``."""
    n = 1 << z
    r = math.radians(lat)
    return (lon + 180.0) / 360.0 * n, (1 - math.asinh(math.tan(r)) / math.pi) / 2 * n


def _lonlat_to_tile(lon: float, lat: float, z: int) -> tuple[int, int]:
    n = 1 << z
    x, y = _lonlat_to_xy(lon, lat, z)
    return min(max(int(x), 0), n - 1), min(max(int(y), 0), n - 1)


def _view(bounds_lonlat, lon: float, lat: float, z: int) -> list[tuple[int, int, int]]:
    """Tiles of the VIEW x VIEW block centred nearest (lon, lat) at zoom
    ``z`` that touch the layer's bounds, in row order."""
    west, south, east, north = bounds_lonlat
    x0, y0 = _lonlat_to_tile(west, north, z)
    x1, y1 = _lonlat_to_tile(east, south, z)
    fx, fy = _lonlat_to_xy(lon, lat, z)
    left, top = round(fx) - VIEW // 2, round(fy) - VIEW // 2
    return [
        (z, x, y)
        for y in range(max(top, y0), min(top + VIEW, y1 + 1))
        for x in range(max(left, x0), min(left + VIEW, x1 + 1))
    ]


def _centre(rng: np.random.Generator, bounds_lonlat) -> tuple[float, float]:
    """A session centre in the middle half of the footprint, so the z14 view
    lies on data."""
    west, south, east, north = bounds_lonlat
    dx, dy = (east - west) / 4, (north - south) / 4
    return float(rng.uniform(west + dx, east - dx)), float(rng.uniform(south + dy, north - dy))


def tile_trace(bounds_lonlat: tuple[float, float, float, float]) -> list[list[tuple[int, int, int]]]:
    """The XYZ requests of SESSIONS chained browser sessions (see above),
    one list per session, after a first list holding only the z9 tile
    covering the footprint centre, which set-up serves.

    The trace is drawn from a fixed seed: which tile a request touches sets
    how many source tiles it warps, and a run's few dozen requests are too
    few to average that out, so every workload seed replays the same
    geometry over different scene content."""
    rng = np.random.default_rng(TRACE_SEED)
    west, south, east, north = bounds_lonlat
    sessions = [[(9, *_lonlat_to_tile((west + east) / 2, (south + north) / 2, 9))]]
    for _ in range(SESSIONS):
        lon, lat = _centre(rng, bounds_lonlat)
        sessions.append([t for z in ZOOMS for t in _view(bounds_lonlat, lon, lat, z)])
    return sessions


def warm_tiles(bounds_lonlat, trace: list[tuple[int, int, int]], n: int) -> list[tuple[int, int, int]]:
    """``n`` z12-z14 tiles from the views of further sessions that the trace
    never requests: serving them before the window starts the server's
    workers without putting a window request in its cache."""
    rng = np.random.default_rng(TRACE_SEED + 1)
    seen, out = set(trace), []
    while len(out) < n:
        lon, lat = _centre(rng, bounds_lonlat)
        for z in (12, 13, 14):
            for t in _view(bounds_lonlat, lon, lat, z):
                if t not in seen and len(out) < n:
                    seen.add(t)
                    out.append(t)
    return out
