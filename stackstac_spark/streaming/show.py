"""Interactive map-tile server — the reference's ``show`` pipeline
(show.py:426-908) re-expressed for Spark:

- ``register(stack)``     → validate 1-3 bands, auto display range via
  percentiles (show.py:484-497), token the layer (plan fingerprint), cache
  the tile DataFrame so every map tile reuses the same computed stack.
- ``TileServer``          → stdlib ThreadingHTTPServer serving
  ``/{token}/{z}/{x}/{y}.png``; each request warps and mosaics the
  requested XYZ tile from the layer's overview pyramid in one stage
  (operators.pyramid.xyztile_from_pyramid → operators.warp.xyztile_mosaic:
  one groupBy-band kernel, top item first, stopping once the tile is
  full), collects one row per band and PNG-encodes. The tile's jobs run
  under a per-layer job group so out-of-view requests are cancellable
  (sc.cancelJobGroup, the analogue of the reference's speculative-tile
  cancellation, show.py:242-257).
- LRU tile cache of 512 entries (show.py:44-45).

aiohttp/ipyleaflet are not available here; the HTTP protocol and URL shape
match the reference so any slippy-map client works.
"""

from __future__ import annotations

import hashlib
import threading
from collections import OrderedDict
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np

from stackstac_spark.functions.png import arr_to_png, empty_tile
from stackstac_spark.operators.composite import display_range
from stackstac_spark.sources.raster import explode_pixels
# perfbench's tracer patches this name here; ROADMAP direction 4 removes that patching
from stackstac_spark.operators.mosaic import mosaic_tiles  # noqa: F401

_CACHE_SIZE = 512


@dataclass
class Layer:
    stack: "object"  # RasterStack
    range: tuple[float, float]
    cmap: str | None
    checkerboard: bool
    token: str
    pyramid: "object"  # operators.pyramid.Pyramid
    tile_cache: OrderedDict = field(default_factory=OrderedDict)
    lock: threading.Lock = field(default_factory=threading.Lock)


_LAYERS: dict[str, Layer] = {}


def register(
    stack,
    range: tuple[float, float] | None = None,
    cmap: str | None = None,
    checkerboard: bool = True,
    pyramid_levels: int | None = None,
) -> str:
    """Validate + register a stack as a display layer; returns its token.

    Mirrors show.py:426-520: 1-3 bands required; display range defaults to
    the 2nd-98th percentile of the data (computed once, like the reference's
    ``.persist()``ed percentiles); the token is a deterministic fingerprint
    of the logical plan (the analogue of dask tokenization at show.py:507).
    """
    nb = len(stack.asset_ids)
    if not (1 <= nb <= 3):
        raise ValueError(f"show() needs 1-3 bands, got {nb}: {stack.asset_ids}")
    if nb == 1 and cmap is None:
        cmap = "viridis"
    if nb > 1 and cmap is not None:
        raise ValueError("cmap only applies to single-band layers")
    stack.tiles.cache()
    if range is None:
        # from the cached tiles: a planned stack's pixels() is a fresh scan
        # of the sources
        range = display_range(
            explode_pixels(stack.tiles, dtype=stack.dtype, fill_value=stack.fill_value)
        )
    try:  # plan fingerprint (dask-tokenize analogue); private API, so guarded
        plan = stack.tiles._jdf.queryExecution().logical().toString()
    except Exception:
        plan = f"{stack.tiles.schema.simpleString()}-{id(stack.tiles)}"
    token = hashlib.sha256((plan + repr(range)).encode()).hexdigest()[:16]
    # overview pyramid: low-zoom tiles are served from 2^k-coarser levels so
    # a world-view request never scans the full-res table (SCALE.md §5).
    # Levels are lazy (persist() only marks them); cost lands on the first
    # low-zoom request and is then shared by every later one.
    from stackstac_spark.operators.pyramid import build_pyramid

    pyr = build_pyramid(stack.tiles, stack.spec, n_levels=pyramid_levels, dtype=stack.dtype)
    _LAYERS[token] = Layer(stack, range, cmap, checkerboard, token, pyramid=pyr)
    return token


def compute_tile(layer: Layer, z: int, x: int, y: int, tilesize: int = 256) -> bytes:
    """One XYZ tile (the reference's _compute_tile, show.py:343-397): one
    Spark stage warps and mosaics every item per band from the pyramid
    level ``pick_level`` chooses; the band rows are collected into a dense
    array and PNG-encoded."""
    with layer.lock:
        cached = layer.tile_cache.get((z, x, y))
        if cached is not None:
            layer.tile_cache.move_to_end((z, x, y))
            return cached
    from stackstac_spark.operators.pyramid import xyztile_from_pyramid

    st = layer.stack
    sc = st.tiles.sparkSession.sparkContext
    sc.setJobGroup(f"tile-{layer.token}", f"tile z={z} x={x} y={y}", interruptOnCancel=True)
    try:
        mosaic, _level = xyztile_from_pyramid(layer.pyramid, z, x, y, tilesize=tilesize)
        if mosaic is None:
            png = empty_tile((tilesize, tilesize), layer.checkerboard)
        else:
            rows = mosaic.collect()
            arr = np.full((len(st.asset_ids), tilesize, tilesize), np.nan)
            for r in rows:
                arr[r.band_idx] = np.frombuffer(r.data, dtype="float64").reshape(
                    r.tile_h, r.tile_w
                )
            png = arr_to_png(arr, layer.range, layer.cmap, layer.checkerboard)
    finally:
        sc.setJobGroup("", "")
    with layer.lock:
        layer.tile_cache[(z, x, y)] = png
        while len(layer.tile_cache) > _CACHE_SIZE:
            layer.tile_cache.popitem(last=False)
    return png


_PREFETCH_POOL: "ThreadPoolExecutor | None" = None
_PREFETCH_FUTURES: dict[tuple, "object"] = {}


def update_viewport(token: str, tiles: list[tuple[int, int, int]]) -> int:
    """Speculative prefetch (reference show.py:130-408 TileManager): compute
    viewport tiles before their HTTP requests arrive. Tiles that left the
    viewport have their *pending* futures cancelled; already-running tiles
    finish into the LRU (a run is one small Spark job — cheaper to keep than
    to cancel mid-flight). Returns the number of newly scheduled tiles."""
    from concurrent.futures import ThreadPoolExecutor

    global _PREFETCH_POOL
    layer = _LAYERS.get(token)
    if layer is None:
        raise KeyError(f"unknown layer {token!r}")
    if _PREFETCH_POOL is None:
        # browsers fetch ≤6 tiles concurrently (show.py:44-45 motivation)
        _PREFETCH_POOL = ThreadPoolExecutor(max_workers=6, thread_name_prefix="tile-prefetch")

    wanted = {(token, z, x, y) for z, x, y in tiles}
    for key, fut in list(_PREFETCH_FUTURES.items()):
        if key[0] == token and key not in wanted:
            fut.cancel()  # only pending futures actually cancel
            _PREFETCH_FUTURES.pop(key, None)

    scheduled = 0
    for z, x, y in tiles:
        key = (token, z, x, y)
        with layer.lock:
            cached = (z, x, y) in layer.tile_cache
        if cached or key in _PREFETCH_FUTURES:
            continue
        fut = _PREFETCH_POOL.submit(compute_tile, layer, z, x, y)
        fut.add_done_callback(lambda _f, _k=key: _PREFETCH_FUTURES.pop(_k, None))
        _PREFETCH_FUTURES[key] = fut
        scheduled += 1
    return scheduled


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *args):  # quiet
        pass

    def do_GET(self):  # noqa: N802
        try:
            parts = self.path.strip("/").split("/")
            token, z, x, y = parts[0], int(parts[1]), int(parts[2]), int(parts[3].split(".")[0])
            layer = _LAYERS.get(token)
            if layer is None:
                self.send_error(404, "unknown layer")
                return
            png = compute_tile(layer, z, x, y)
            self.send_response(200)
            self.send_header("Content-Type", "image/png")
            self.send_header("Content-Length", str(len(png)))
            self.end_headers()
            self.wfile.write(png)
        except Exception as exc:  # pragma: no cover
            self.send_error(500, str(exc)[:200])


class TileServer:
    """Threaded HTTP tile server: GET /{token}/{z}/{x}/{y}.png."""

    def __init__(self, port: int = 0):
        self.httpd = ThreadingHTTPServer(("127.0.0.1", port), _Handler)
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "TileServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()


def show(stack, port: int = 0, **kwargs) -> tuple[str, TileServer]:
    """register + serve; returns (url_template, server)."""
    token = register(stack, **kwargs)
    server = TileServer(port).start()
    return (f"http://127.0.0.1:{server.port}/{token}/{{z}}/{{x}}/{{y}}.png", server)


def server_stats() -> list[dict]:
    """Per-layer serving stats — the reference's ``stackstac.server_stats``
    (show.py:63-121), data-shaped instead of an ipywidgets VBox (render it
    however you like; the reference's widget is UI glue over the same
    numbers). One dict per registered layer: cached tile count, pending
    speculative prefetches, display range, and the epsg/bounds of the
    underlying stack."""
    out = []
    for token, layer in _LAYERS.items():
        with layer.lock:
            n_cached = len(layer.tile_cache)
        out.append(
            {
                "token": token,
                "cached_tiles": n_cached,
                "pending_prefetch": sum(
                    1 for k in _PREFETCH_FUTURES if k[0] == token
                ),
                "range": layer.range,
                "epsg": layer.stack.spec.epsg,
                "bounds": layer.stack.spec.bounds,
            }
        )
    return out


# ---------------------------------------------------------------------------
# viewport observer (round 6) — the widget-free MapObserver equivalent
# ---------------------------------------------------------------------------


def visible_tiles(
    bbox: tuple[float, float, float, float], zoom: int
) -> list[tuple[int, int, int]]:
    """XYZ tiles covering a lon/lat viewport at ``zoom`` (slippy-map math,
    the OSM published formula). ``bbox`` is (west, south, east, north) in
    degrees — the shape every web-map `bounds` event emits. Latitudes are
    clamped to the Web-Mercator limit; antimeridian-crossing boxes
    (west > east) wrap through x = 2^z - 1 → 0."""
    import math

    west, south, east, north = bbox
    n = 1 << zoom

    def tx(lon: float) -> int:
        return min(n - 1, max(0, int((lon + 180.0) / 360.0 * n)))

    def ty(lat: float) -> int:
        lat = max(-85.0511, min(85.0511, lat))
        r = math.radians(lat)
        return min(n - 1, max(0, int((1 - math.asinh(math.tan(r)) / math.pi) / 2 * n)))

    x0, x1 = tx(west), tx(east)
    y0, y1 = ty(north), ty(south)  # y grows southward
    xs = (
        list(range(x0, x1 + 1))
        if x0 <= x1
        else list(range(x0, n)) + list(range(0, x1 + 1))
    )
    return [(zoom, x, y) for y in range(y0, y1 + 1) for x in xs]


class MapObserver:
    """Dependency-free stand-in for the reference's ipyleaflet trait
    observer (show.py:523-634): any frontend calls ``bounds_changed`` on
    pan/zoom, and the observer translates the viewport into XYZ tiles and
    drives :func:`update_viewport` (speculative submit of newly visible
    tiles + cancel of pending tiles that scrolled away — the reference's
    viewport-diff semantics at show.py:591-610). The ipyleaflet widget, if
    installed, is a 5-line `observe` hookup onto this class; no notebook
    machinery lives in the engine.

    ``max_tiles`` guards against a whole-world viewport at high zoom
    flooding the prefetch pool: the tile list is truncated center-out (the
    tiles the user is looking at first), mirroring the browser's own ≤6
    concurrent tile fetches that motivate the pool size.
    """

    def __init__(self, token: str, max_tiles: int = 64):
        if token not in _LAYERS:
            raise KeyError(f"unknown layer {token!r}")
        self.token = token
        self.max_tiles = max_tiles
        self.current: list[tuple[int, int, int]] = []

    def bounds_changed(
        self, bbox: tuple[float, float, float, float], zoom: int
    ) -> dict:
        """Returns {"tiles": visible, "scheduled": newly submitted}."""
        tiles = visible_tiles(bbox, int(zoom))
        if len(tiles) > self.max_tiles:
            # center-out in VIEWPORT order, not raw tile coordinates: for an
            # antimeridian-wrapping viewport the x values jump (…63, 0, 1…),
            # so a coordinate-mean centroid would sit outside the viewport
            # and the truncation would keep the edges and drop the center.
            xs_seq: list[int] = []
            ys_seq: list[int] = []
            for _, x, y in tiles:
                if x not in xs_seq:
                    xs_seq.append(x)
                if y not in ys_seq:
                    ys_seq.append(y)
            xi = {x: i for i, x in enumerate(xs_seq)}
            yi = {y: i for i, y in enumerate(ys_seq)}
            cx = (len(xs_seq) - 1) / 2
            cy = (len(ys_seq) - 1) / 2
            tiles = sorted(
                tiles, key=lambda t: (xi[t[1]] - cx) ** 2 + (yi[t[2]] - cy) ** 2
            )[: self.max_tiles]
        scheduled = update_viewport(self.token, tiles)
        self.current = tiles
        return {"tiles": tiles, "scheduled": scheduled}
