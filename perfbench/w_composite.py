"""``composite``: batch analytics over real GeoTIFFs.

The timed operation plans a stack over a set of uint16 COG scenes (red,
NIR and an SCL-style class band) from their items in memory
(``prepare_local``) and computes a monthly median-NDVI composite:
cloud-cover filter → SCL mask → band pivot + normalized difference →
monthly median → one GeoTIFF per month. The load sits on GeoTIFF decode,
the scan, the pixel explode, the aggregations and the GeoTIFF write; warp,
pyramid, PNG and the tile server are idle. The traced run also times the
stack's plan and metadata query on their own, after its untraced pass.

The traced run also writes a 20,000-line STAC item JSONL catalog and plans
the AOI over it through the distributed ``items_from_jsonl`` → ``prepare``
path, so those layers get spans; the untraced run leaves it out, because
one such plan costs 5-15 s and set-up is repeated twice per run.
"""

from __future__ import annotations

import os
import time

import numpy as np

import inputs
from harness import tree_cpu_s
from tracer import NULL
from workload import Workload, timed_query

N_ITEMS = 20_000  # catalog lines; all but N_SCENES are distractors outside the AOI
N_SCENES = 12
SIZE = 128
RES = 10.0
BANDS = ("red", "nir", "scl")
CHUNK = 512
PLAN_REPS = 8
QUERY_REPS = 6
WARM_OPS = 5  # untimed runs before the window: the JVM is still compiling until about the 6th
MIN_OPS = 4  # timed runs per window, however short: a median of 4 is not moved by one slow run


class Composite(Workload):
    name = "composite"

    def generate(self) -> None:
        self.scenes = inputs.write_scenes(self.run_dir, self.seed, N_SCENES, SIZE, RES, BANDS)
        self.oracle = inputs.ndvi_oracle(self.scenes)
        self.query_expected = inputs.scene_query_oracle(self.scenes, CHUNK)
        self.out_dir = os.path.join(self.run_dir, "out")
        os.makedirs(self.out_dir, exist_ok=True)
        self.written: dict[str, str] = {}
        self.last_stack = None

    def _plan(self, tr):
        import stackstac_spark

        t0 = time.perf_counter()
        with tr.span("op:plan"):
            st = stackstac_spark.stack(
                self.spark, self.scenes.items, assets=list(BANDS), dtype="float32", chunksize=CHUNK
            )
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

    def plan_samples(self, tr) -> None:
        """PLAN_REPS plans of the scene stack, then QUERY_REPS metadata
        queries on the last one."""
        with tr.planning():
            for _ in range(PLAN_REPS):
                st = self._plan(tr)
        for _ in range(QUERY_REPS):
            self._query(st, tr)

    def setup(self, spark, tr) -> None:
        """Plan the scene stack and query it."""
        self.spark = spark
        with tr.planning():
            self._query(self._plan(tr), tr)

    def trace_extras(self, tr) -> None:
        """Write the JSONL catalog (untimed), then plan the AOI over all of
        it (distributed path) and query the plan."""
        import stackstac_spark

        catalog = inputs.write_catalog(self.run_dir, self.seed, self.scenes, N_ITEMS)
        with tr.span("op:catalog_plan"), tr.planning():
            st = stackstac_spark.stack(
                self.spark,
                catalog.path,
                assets=list(BANDS),
                resolution=RES,
                bounds=catalog.aoi,
                dtype="float32",
                chunksize=CHUNK,
            )
        self.expect(
            "catalog-planned grid",
            tuple(st.spec.bounds) == catalog.aoi and tuple(st.spec.shape) == self.scenes.grid_shape,
            f"{st.spec}",
        )
        self._query(st, tr)

    def warm_up(self) -> None:
        """Untimed operations before the window opens. While the JVM
        compiles the pipeline, each run is faster than the one before: the
        first about 4x a steady run, the second about 1.6x, and runs settle
        near their steady time from about the 6th on."""
        self.run_ops(WARM_OPS, NULL)

    def measure(self, seconds: float, tr) -> None:
        """Repeat ``op`` until ``seconds`` have passed (at least MIN_OPS
        times)."""
        start = time.perf_counter()
        n = 0
        while n < MIN_OPS or time.perf_counter() - start < seconds:
            self.op(tr)
            n += 1

    def run_ops(self, n: int, tr) -> None:
        """Exactly ``n`` operations (the traced run compares equal work)."""
        for _ in range(n):
            self.op(tr)

    def op(self, tr) -> None:
        """One timed composite run, checked against the oracle."""
        from pyspark.sql import functions as F
        from stackstac_spark.operators.composite import (
            band_pivot,
            normalized_difference,
            resample_time,
        )
        from stackstac_spark.operators.export import plane_to_geotiff

        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        with tr.span("op:composite", trace_id=self.attempted + 1):
            planned = self._plan(tr)
            st = planned.filter_items(
                F.col("properties")["eo:cloud_cover"].cast("double") < inputs.CLOUD_LIMIT
            ).mask_band("scl", list(inputs.SCL_KEEP))
            pixels = st.pixels()
            with tr.span("operators.composite:pivot"):
                ndvi = normalized_difference(
                    band_pivot(pixels, ["red", "nir"], st.band_idxs), "nir", "red", "ndvi"
                )
                if tr.enabled:
                    ndvi, n = tr.materialize(ndvi)
                    tr.count("operators.composite.pivot_rows", n)
            times = st.items_df.selectExpr("item_idx", "CAST(datetime AS TIMESTAMP) AS time")
            with tr.span("operators.composite:resample"):
                monthly = resample_time(
                    ndvi.join(F.broadcast(times), "item_idx"),
                    "1 month",
                    "median",
                    value_col="ndvi",
                    keys=["row", "col"],
                ).persist()
                if tr.enabled:
                    monthly, n = tr.materialize(monthly)
                    tr.count("operators.composite.resample_rows", n)
            periods = sorted(r.period_start for r in monthly.select("period_start").distinct().collect())
            with tr.span("operators.export:write"):
                for p in periods:
                    month = f"{p:%Y-%m}"
                    self.written[month] = plane_to_geotiff(
                        monthly.filter(F.col("period_start") == p),
                        st.spec,
                        os.path.join(self.out_dir, f"ndvi_{month}.tif"),
                        value_col="median",
                        dtype="float32",
                    )
            monthly.unpersist()
            tr.release()
        self.samples.add("latency_s", time.perf_counter() - t0)
        self.samples.add("cpu_s", tree_cpu_s() - cpu0)
        self.last_stack = st
        self.check()

    def check(self) -> None:
        """Read the monthly GeoTIFFs back and compare with the numpy oracle."""
        from stackstac_spark.sources import minitiff

        ok = sorted(self.written) == sorted(self.oracle)
        self.expect("one GeoTIFF per month", ok, f"{sorted(self.written)}")
        for month, want in self.oracle.items():
            if month not in self.written:
                continue
            with minitiff.MiniTiffDataset(self.written[month]) as ds:
                got = ds.read_full()
            same = got.shape == want.shape and np.allclose(
                got, want.astype("float32"), rtol=0, atol=1e-6, equal_nan=True
            )
            self.expect(f"median NDVI {month}", same)
        self.written = {}

    def stacks(self) -> list:
        return [self.last_stack] if self.last_stack is not None else []

    def decode_windows(self) -> list[tuple[str, tuple[int, int, int, int]]]:
        """(path, window) for each source read the scan makes: every asset
        of every scene, clipped to its CHUNK-pixel output tiles. The cloudy
        scenes count too: filter_items joins the items after the scan's
        UDF, so the scan decodes them as well."""
        out = []
        for item in self.scenes.items:
            item_id = item["id"]
            r0, c0 = self.scenes.origins[item_id]
            for band in BANDS:
                path = os.path.join(self.run_dir, f"{item_id}_{band}.tif")
                out.extend((path, w) for w in _tile_windows(r0, c0, SIZE, CHUNK))
        return out


def _tile_windows(r0: int, c0: int, size: int, chunk: int):
    """Source-pixel windows of a size² asset at (r0, c0) cut by a chunk grid."""
    for ty in range(r0 // chunk, (r0 + size - 1) // chunk + 1):
        for tx in range(c0 // chunk, (c0 + size - 1) // chunk + 1):
            a0, a1 = max(ty * chunk, r0) - r0, min((ty + 1) * chunk, r0 + size) - r0
            b0, b1 = max(tx * chunk, c0) - c0, min((tx + 1) * chunk, c0 + size) - c0
            yield (a0, a1, b0, b1)
