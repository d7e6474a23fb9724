"""What both workloads share: their samples and checked outputs, and the
metadata query each one runs against its own stack."""

from __future__ import annotations

import time

from harness import Samples


class Workload:
    """State both workloads keep, and do-nothing defaults for the hooks only
    one of them needs. Each workload also provides ``generate``, ``setup``,
    ``warm_up``, ``measure``, ``run_ops``, ``plan_samples``, ``check``,
    ``stacks`` and ``decode_windows``; each hook that runs
    engine work takes the tracer, so the same code runs traced and untraced."""

    name = ""
    traced_ops = 1  # operations in each pass of the traced run

    def __init__(self, run_dir: str, seed: int) -> None:
        self.run_dir = run_dir
        self.seed = seed
        self.samples = Samples()
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def expect(self, what: str, ok: bool, detail: str = "") -> None:
        """Count one checked output; a wrong one counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: {self.name}: check failed: {what} {detail}", flush=True)

    def trace_extras(self, tr) -> None:
        """Work only the traced run does, to give more layers spans."""

    def tile_job_group(self) -> str | None:
        """The Spark job group the tile server runs this workload's tiles under."""
        return None

    def close(self) -> None:
        pass


def metadata_query(spark, st, predicate, time_slice, chunksize, tr) -> tuple[int, int]:
    """The metadata query every workload runs on its stack: filter items on
    a property, slice time, then count the surviving items and the asset ×
    tile reads a scan of them would plan. The read count joins the items'
    footprints to the stack's tile grid with the engine's own grid layer;
    no pixel is read."""
    import stackstac_spark.grid as grid

    q = st.filter_items(predicate).slice_time(*time_slice)
    n_items = q.items_df.count()
    with tr.span("grid:tile_grid"):
        tiles = grid.tile_grid(spark, st.spec, chunksize=chunksize)
        if tr.enabled:
            tiles, _ = tr.materialize(tiles)
    bands = ", ".join(str(i) for i in (st.band_idxs or range(len(st.asset_ids))))
    footprints = q.items_df.selectExpr(
        "item_idx",
        f"explode(array({bands})) AS band_idx",
        "'' AS url",
        "proj_bbox AS bounds",
        "1.0D AS scale",
        "0.0D AS offset",
    )
    with tr.span("grid:join"):
        n_reads = grid.join_assets_to_tiles(footprints, tiles).count()
    return n_items, n_reads


def timed_query(w: Workload, st, predicate, time_slice, chunksize, expected, tr) -> None:
    """Run ``metadata_query``, record ``query_s`` and check both counts."""
    t0 = time.perf_counter()
    with tr.span("op:query"):
        got = metadata_query(w.spark, st, predicate, time_slice, chunksize, tr)
    w.samples.add("query_s", time.perf_counter() - t0)
    w.expect("metadata query counts", got == tuple(expected), f"got {got}, expected {expected}")
