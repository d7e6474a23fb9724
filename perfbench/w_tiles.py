"""``tiles``: interactive map serving.

A single-band NIR stack is registered with ``streaming.show.show`` and a
closed loop of 2 clients (a browser's parallel tile fetches, capped at the
Spark task slots) replays a seeded pan/zoom trace of ``GET /{token}/{z}/{x}/{y}.png``
over z 9-14 (``inputs.tile_trace``: chained browser sessions, each zooming
in from z9 to z14 with a 2 x 2-tile view per zoom step). Each client sends
its next request only when the previous one has returned, and the window
ends at the first session boundary after ``--seconds``, so a window always
replays whole sessions. The cost is one Spark job per uncached tile plus
warp, mosaic and PNG; the scan runs once, at set-up, so decode and
``prepare`` are nearly idle.
"""

from __future__ import annotations

import hashlib
import os
import struct
import threading
import time
import urllib.request
import zlib

import inputs
from harness import tree_cpu_s
from tracer import NULL
from w_composite import _tile_windows
from workload import Workload, timed_query

N_SCENES = 8
SIZE = 512
RES = 60.0
CHUNK = 256
TILE = 256
CLIENTS = 2
RANGE = (1500.0, 4500.0)
PLAN_REPS = 8  # plans of this stack timed in the traced run ...
QUERY_REPS = 6  # ... and metadata queries, and 13 x 17 small plans
WARM_REQUESTS = 8  # served before the window; tiles the trace never requests
DIGEST_PREFIX = 12  # responses always served in every run; their digest is printed


class Tiles(Workload):
    name = "tiles"
    traced_ops = 12

    def generate(self) -> None:
        from stackstac_spark.functions.proj import reproject_bounds

        self.scenes = inputs.write_scenes(self.run_dir, self.seed, N_SCENES, SIZE, RES, ("nir",))
        h, w = self.scenes.grid_shape
        bounds = (inputs.WEST, inputs.NORTH - h * RES, inputs.WEST + w * RES, inputs.NORTH)
        bounds_lonlat = reproject_bounds(bounds, inputs.EPSG, 4326)
        sessions = inputs.tile_trace(bounds_lonlat)
        self.session_starts = set()
        self.trace = []
        for session in sessions:
            self.session_starts.add(len(self.trace))
            self.trace.extend(session)
        self.n_trace = len(self.trace)
        # warm-up tiles follow the trace in the request list
        self.trace.extend(inputs.warm_tiles(bounds_lonlat, self.trace, WARM_REQUESTS))
        self.query_expected = inputs.scene_query_oracle(self.scenes, CHUNK)
        self.server = None
        self.st = None
        self.first_tiles: list[bytes] = []
        self.responses: dict[int, bytes] = {}

    def setup(self, spark, tr) -> None:
        """Plan the stack, query it, register it with the tile server and
        serve the first (z9) tile, which scans the sources and builds the
        overview pyramid."""
        import stackstac_spark

        self.close()
        self.spark = spark
        st = self._plan(tr)
        self._query(st, tr)
        with tr.span("op:register"):
            self.url, self.server = stackstac_spark.show(st, range=RANGE)
        self.st = st
        self.responses = {}
        self.first_tiles.append(self._get(0, tr)[1])

    def _plan(self, tr):
        import stackstac_spark

        t0 = time.perf_counter()
        with tr.span("op:plan"), tr.planning():
            st = stackstac_spark.stack(self.spark, self.scenes.items, assets=["nir"], chunksize=CHUNK)
        self.samples.add("plan_s", time.perf_counter() - t0)
        return st

    def _query(self, st, tr) -> None:
        from pyspark.sql import functions as F

        timed_query(
            self,
            st,
            F.col("properties")["eo:cloud_cover"].cast("double") < inputs.CLOUD_LIMIT,
            inputs.QUERY_SLICE,
            CHUNK,
            self.query_expected,
            tr,
        )

    def _get(self, i: int, tr) -> tuple[float, bytes]:
        z, x, y = self.trace[i]
        t0 = time.perf_counter()
        with tr.span("client:get", trace_id=i + 1) as sp:
            tr.open_request((z, x, y), sp)
            with urllib.request.urlopen(self.url.format(z=z, x=x, y=y), timeout=120) as resp:
                body = resp.read()
        return time.perf_counter() - t0, body

    def warm_up(self) -> None:
        """Serve the WARM_REQUESTS tiles after the trace with all clients, so
        every Python worker the loop needs is started and JIT-compiled before
        the window opens; then forget their responses."""
        self._serve(NULL, None, WARM_REQUESTS, first=self.n_trace)
        self.check()
        self.responses = {}

    def _serve(self, tr, deadline: float | None, n: int | None, first: int = 1) -> None:
        """Closed loop: CLIENTS threads take the next request index, starting
        at ``first``, until ``n`` requests have been sent or, once the
        deadline has passed, the next index starts a session."""
        lock = threading.Lock()
        nxt = [first]
        limit = self.n_trace if n is None else min(len(self.trace), first + n)
        errors: list[str] = []

        def client() -> None:
            while True:
                with lock:
                    i = nxt[0]
                    if i >= limit or (
                        deadline is not None
                        and i in self.session_starts
                        and time.perf_counter() >= deadline
                    ):
                        return
                    nxt[0] += 1
                try:
                    lat, body = self._get(i, tr)
                except Exception as exc:  # a failed request is a failed operation
                    with lock:
                        errors.append(f"request {i} {self.trace[i]}: {exc}")
                    continue
                with lock:
                    self.responses[i] = body
                    self.samples.add("latency_s", lat)

        threads = [threading.Thread(target=client, name=f"tile-client-{k}") for k in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=170)
        if any(t.is_alive() for t in threads):
            raise RuntimeError("tile clients did not finish")
        for e in errors:
            self.expect("tile request", False, e)

    def measure(self, seconds: float, tr) -> None:
        """Serve the window; its CPU time per request is one ``cpu_s``
        sample (concurrent requests share the processes, so no request has
        a CPU time of its own)."""
        cpu0 = tree_cpu_s()
        self._serve(tr, time.perf_counter() + seconds, None)
        self.samples.add("cpu_s", (tree_cpu_s() - cpu0) / max(len(self.responses), 1))
        self.check()
        served = [self.trace[i] for i in sorted(self.responses)]
        zooms = {z: sum(t[0] == z for t in served) for z in sorted({t[0] for t in served})}
        revisits = sum(t in served[:k] or t == self.trace[0] for k, t in enumerate(served))
        print(
            f"perfbench: tiles: window served {len(served)} requests, {revisits} revisits, "
            f"per zoom {zooms}",
            flush=True,
        )

    def run_ops(self, n: int, tr) -> None:
        self._serve(tr, None, n)
        self.check()

    def plan_samples(self, tr) -> None:
        """Plan + query rounds on this stack, and BASELINE.md's 13-item ×
        17-band in-memory plan (both take the ``prepare_local`` path)."""
        import stackstac_spark

        small = inputs.small_items(self.seed)
        for _ in range(PLAN_REPS):
            st = self._plan(tr)
        for _ in range(QUERY_REPS):
            self._query(st, tr)
            t0 = time.perf_counter()
            with tr.span("op:small_plan"), tr.planning():
                planned = stackstac_spark.stack(self.spark, small)
            self.samples.add("small_plan_s", time.perf_counter() - t0)
            self.expect("small plan bands", len(planned.asset_ids) == 17)

    def uncached_requests(self, n_ops: int) -> int:
        """Requests of the last ``run_ops(n_ops)`` that had to be computed:
        distinct tiles other than the set-up tile."""
        keys = {self.trace[i] for i in range(1, n_ops + 1) if i in self.responses}
        keys.discard(self.trace[0])
        return max(len(keys), 1)

    def check(self) -> None:
        """Every response is a 256² RGBA PNG; a revisit returns the bytes of
        the first visit (the set-up's for the set-up tile); the set-up tile
        is identical across set-ups."""
        first: dict[tuple, bytes] = {self.trace[0]: self.first_tiles[-1]}
        for i in sorted(self.responses):
            body = self.responses[i]
            self.expect(f"png {self.trace[i]}", _valid_png(body, TILE))
            key = self.trace[i]
            if key in first:
                self.expect(f"revisit {key} identical", first[key] == body)
            else:
                first[key] = body
        self.expect("set-up tile identical", len(set(self.first_tiles)) == 1)
        prefix = [self.responses.get(i) for i in range(1, DIGEST_PREFIX + 1)]
        if all(b is not None for b in prefix):
            digest = hashlib.sha256(b"".join(prefix)).hexdigest()[:16]
            print(f"perfbench: tiles: seed {self.seed} response digest {digest}", flush=True)

    def stacks(self) -> list:
        return [self.st] if self.st is not None else []

    def tile_job_group(self) -> str:
        return f"tile-{self.url.split('/')[3]}"  # streaming.show.compute_tile's group

    def decode_windows(self) -> list[tuple[str, tuple[int, int, int, int]]]:
        """(path, window) for each source read the set-up scan makes."""
        out = []
        for item in self.scenes.items:
            r0, c0 = self.scenes.origins[item["id"]]
            path = os.path.join(self.run_dir, f"{item['id']}_nir.tif")
            out.extend((path, w) for w in _tile_windows(r0, c0, SIZE, CHUNK))
        return out

    def close(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server.httpd.server_close()
            self.server = None


def _valid_png(body: bytes, side: int) -> bool:
    """A complete RGBA PNG of side × side pixels whose image data inflates
    to the expected size."""
    if not body.startswith(b"\x89PNG\r\n\x1a\n"):
        return False
    pos, idat, size = 8, b"", None
    while pos + 8 <= len(body):
        (length,) = struct.unpack(">I", body[pos : pos + 4])
        tag = body[pos + 4 : pos + 8]
        data = body[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, color = struct.unpack(">IIBB", data[:10])
            size = (w, h, depth, color)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + length
    if size != (side, side, 8, 6):
        return False
    try:
        raw = zlib.decompress(idat)
    except zlib.error:
        return False
    return len(raw) == side * (1 + side * 4)
