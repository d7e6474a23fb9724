"""Spans and counts recorded from the benchmark's side of each public call.

A ``Tracer`` keeps spans (name, start, end, parent span, trace id) and
counts in memory and writes them out once, at the end of the run. Spans are
recorded only by the traced run; the untraced run uses ``NULL`` whose
methods do nothing, so the same workload code serves both.

``instrument`` wraps the engine's layer entry points by module attribute
for the duration of a ``with`` block. Spark is lazy, so a wrapper whose
layer returns a DataFrame materialises it (persist + count) inside its span:
each span then times its own layer's work, not the work of every layer
below it that the next action would have pulled in. The extra jobs are the
tracing overhead the traced run reports.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str  # "<layer>" or "<layer>:<operation>"
    trace_id: int
    parent_id: int | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._persisted = threading.local()
        self._requests: dict[tuple, Span] = {}
        self._planning = threading.local()

    @contextlib.contextmanager
    def planning(self):
        """A plan-only call: layers run and get spans, but the scan is left
        lazy, as the untraced call leaves it."""
        self._planning.on = True
        try:
            yield
        finally:
            self._planning.on = False

    @property
    def is_planning(self) -> bool:
        return getattr(self._planning, "on", False)

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, trace_id: int | None = None, parent: Span | None = None):
        stack = self._stack()
        outer = parent or (stack[-1] if stack else None)
        if trace_id is None:
            trace_id = outer.trace_id if outer else 0
        with self._lock:
            sp = Span(next(self._ids), name, trace_id, outer.span_id if outer else None, 0.0)
            self.spans.append(sp)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def open_request(self, key: tuple, span: Span) -> None:
        """Mark ``span`` as the client request in flight for ``key``, so the
        server-side span of the same tile records it as its parent."""
        with self._lock:
            self._requests[key] = span

    def http_parent(self, z: int, x: int, y: int) -> Span | None:
        with self._lock:
            return self._requests.get((z, x, y))

    # -- materialisation -----------------------------------------------------

    def materialize(self, df):
        """Persist and count ``df`` so the enclosing span times its layer."""
        df = df.persist()
        n = df.count()
        if not hasattr(self._persisted, "dfs"):
            self._persisted.dfs = []
        self._persisted.dfs.append(df)
        return df, n

    def release(self) -> None:
        """Unpersist what this thread materialised."""
        for df in getattr(self._persisted, "dfs", []):
            df.unpersist()
        self._persisted.dfs = []

    # -- reporting -------------------------------------------------------------

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span.span_id]

    def self_time(self, span: Span, children: list[Span] | None = None) -> float:
        """Span time minus the part of it covered by its child spans."""
        kids = self.children(span) if children is None else children
        return span.duration - _union_length(
            [(max(c.start, span.start), min(c.end, span.end)) for c in kids]
        )

    def self_times(self) -> dict[str, float]:
        """Self time summed per layer."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent_id is not None:
                children.setdefault(s.parent_id, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + self.self_time(s, children.get(s.span_id, []))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {
                            "id": s.span_id,
                            "name": s.name,
                            "trace": s.trace_id,
                            "parent": s.parent_id,
                            "start": s.start,
                            "end": s.end,
                        }
                        for s in self.spans
                    ],
                    "counts": self.counts,
                },
                f,
            )


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class _NullTracer:
    """Untraced run: every hook is free and materialises nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name, trace_id=None, parent=None):
        yield None

    @contextlib.contextmanager
    def planning(self):
        yield

    def count(self, name, n=1):
        pass

    def open_request(self, key, span):
        pass

    def release(self):
        pass


NULL = _NullTracer()


# -- instrumentation of the engine's layer entry points ---------------------


def _wrap_df(tr: Tracer, name: str, fn, count_as: str | None = None):
    """Span around ``fn`` whose DataFrame result is materialised inside it."""

    def wrapped(*args, **kwargs):
        with tr.span(name):
            df = fn(*args, **kwargs)
            df, n = tr.materialize(df)
        if count_as:
            tr.count(count_as, n)
        return df

    return wrapped


def _wrap(tr: Tracer, name: str, fn):
    def wrapped(*args, **kwargs):
        with tr.span(name):
            return fn(*args, **kwargs)

    return wrapped


@contextlib.contextmanager
def instrument(tr: Tracer, spark):
    """Patch the engine's layer entry points for the duration of the block.

    Each patch replaces a module attribute that the engine looks up at call
    time, so the engine's own code calls the wrapper; every original is
    restored on exit."""
    from importlib import import_module

    # import_module, not "import a.b as m": the package re-exports the
    # function stack() under the name of its module stackstac_spark.stack
    mask_mod = import_module("stackstac_spark.operators.mask")
    pyramid_mod = import_module("stackstac_spark.operators.pyramid")
    prepare_local_mod = import_module("stackstac_spark.prepare_local")
    minitiff_mod = import_module("stackstac_spark.sources.minitiff")
    stac_mod = import_module("stackstac_spark.sources.stac")
    stack_mod = import_module("stackstac_spark.stack")
    show_mod = import_module("stackstac_spark.streaming.show")

    sc = spark.sparkContext
    group_ids = itertools.count()

    def items_from_jsonl(*args, **kwargs):
        with tr.span("sources.stac:ingest"):
            items_df, assets_df = originals[(stac_mod, "items_from_jsonl")](*args, **kwargs)
            items_df, n_items = tr.materialize(items_df)
            assets_df, n_assets = tr.materialize(assets_df)
        tr.count("sources.stac.items", n_items)
        tr.count("sources.stac.assets", n_assets)
        return items_df, assets_df

    def prepare(*args, **kwargs):
        from harness import job_counts

        group = f"pb-prepare-{next(group_ids)}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, "prepare")
        try:
            with tr.span("prepare"):
                prepared = originals[(stack_mod, "prepare")](*args, **kwargs)
                _, n = tr.materialize(prepared.asset_table)
        finally:
            sc.setJobGroup(prev or "", "")
        tr.count("prepare.assets", n)
        tr.count("prepare.spark_jobs", job_counts(spark, group).jobs)
        return prepared

    def scan_tiles(joined, spec, **kwargs):
        if tr.is_planning:
            return originals[(stack_mod, "scan_tiles")](joined, spec, **kwargs)
        with tr.span("sources.raster:scan"):
            df, n = tr.materialize(originals[(stack_mod, "scan_tiles")](joined, spec, **kwargs))
        count_windows(df, n, kwargs.get("dtype", "float64"))
        return df

    def count_windows(df, n, dtype):
        """Scan windows, and the useful ones: whose tile gets at least one
        valid pixel (read on the driver, outside any span)."""
        import numpy as np

        tr.count("sources.raster.windows", n)
        useful = sum(
            bool(np.isfinite(np.frombuffer(r.data, dtype=dtype)).any())
            for r in df.select("data").toLocalIterator()
        )
        tr.count("sources.raster.useful_windows", useful)

    def prepare_local(*args, **kwargs):
        with tr.span("prepare_local"):
            return originals[(prepare_local_mod, "prepare_local")](*args, **kwargs)

    def build_pyramid(tiles, spec, *args, **kwargs):
        with tr.span("operators.pyramid:build"):
            pyr = originals[(pyramid_mod, "build_pyramid")](tiles, spec, *args, **kwargs)
            for k, (_spec, level) in enumerate(pyr.levels):
                if k == 0:
                    with tr.span("sources.raster:scan"):
                        n = level.count()  # the base level is the cached scan
                else:
                    level.count()
        count_windows(pyr.levels[0][1], n, kwargs.get("dtype", "float64"))
        return pyr

    def pick_level(*args, **kwargs):
        k = originals[(pyramid_mod, "pick_level")](*args, **kwargs)
        tr.count(f"operators.pyramid.requests_level{k}")
        return k

    def write_geotiff(path, *args, **kwargs):
        with tr.span("sources.minitiff:write"):
            out = originals[(minitiff_mod, "write_geotiff")](path, *args, **kwargs)
        import os

        tr.count("operators.export.bytes_written", os.path.getsize(out))
        return out

    def mosaic_tiles(*args, **kwargs):
        with tr.span("operators.mosaic:tile"):
            df, _ = tr.materialize(originals[(show_mod, "mosaic_tiles")](*args, **kwargs))
        return df

    def xyztile_from_pyramid(*args, **kwargs):
        with tr.span("operators.warp:tile"):
            df, k = originals[(pyramid_mod, "xyztile_from_pyramid")](*args, **kwargs)
            if df is not None:
                df, _ = tr.materialize(df)
        return df, k

    def compute_tile(layer, z, x, y, *args, **kwargs):
        with tr.span("streaming.show:compute_tile", parent=tr.http_parent(z, x, y)):
            try:
                return originals[(show_mod, "compute_tile")](layer, z, x, y, *args, **kwargs)
            finally:
                tr.release()

    patches = {
        (stac_mod, "items_from_jsonl"): items_from_jsonl,
        (stack_mod, "prepare"): prepare,
        (prepare_local_mod, "prepare_local"): prepare_local,
        (stack_mod, "tile_grid"): _wrap_df(tr, "grid:tile_grid", stack_mod.tile_grid, "grid.tiles"),
        (stack_mod, "join_assets_to_tiles"): _wrap_df(
            tr, "grid:join", stack_mod.join_assets_to_tiles, "grid.pairs"
        ),
        (stack_mod, "scan_tiles"): scan_tiles,
        (stack_mod, "explode_pixels"): _wrap_df(
            tr, "sources.raster:explode", stack_mod.explode_pixels, "sources.raster.pixel_rows"
        ),
        (mask_mod, "mask_band_tiles"): _wrap_df(
            tr, "operators.mask:mask", mask_mod.mask_band_tiles, "operators.mask.tiles_out"
        ),
        (pyramid_mod, "build_pyramid"): build_pyramid,
        (pyramid_mod, "pick_level"): pick_level,
        (pyramid_mod, "xyztile_from_pyramid"): xyztile_from_pyramid,
        (minitiff_mod, "write_geotiff"): write_geotiff,
        (show_mod, "mosaic_tiles"): mosaic_tiles,
        (show_mod, "arr_to_png"): _wrap(tr, "functions.png:encode", show_mod.arr_to_png),
        (show_mod, "compute_tile"): compute_tile,
    }
    originals = {key: getattr(*key) for key in patches}
    for (mod, attr), fn in patches.items():
        setattr(mod, attr, fn)
    try:
        yield tr
    finally:
        for (mod, attr), fn in originals.items():
            setattr(mod, attr, fn)
