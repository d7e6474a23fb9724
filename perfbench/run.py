"""Raster-engine benchmark: one command, two workloads.

    python3 perfbench/run.py --workload {composite,tiles} --seed N --seconds S --trace {0,1}

Builds its inputs from ``--seed`` inside the checkout, runs the engine in
a ``local[2]`` Spark session, checks every output against an oracle and
prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, measured untraced over ``--seconds``;
with ``--trace 1`` they are the per-layer ones, from an untraced pass and a
traced pass over the same operations (their difference is the tracing
overhead). Spans of the traced pass are written to
``perfbench/.runs/<workload>-<seed>-trace.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from metrics import END_TO_END, LAYERS, PER_LAYER  # noqa: E402

SETUP_REPS = 2  # set-ups per untraced run; setup_s is their median

def workload_class(name: str):
    if name == "composite":
        from w_composite import Composite

        return Composite
    if name == "tiles":
        from w_tiles import Tiles

        return Tiles
    raise SystemExit(f"unknown workload {name!r}")


def set_up(w, reps: int) -> tuple[object, list[float]]:
    """Start the session once, then run the workload's one-time set-up
    ``reps`` times with Spark's caches dropped in between. Each set-up time
    is the session start plus that repetition."""
    from tracer import NULL

    t0 = time.perf_counter()
    spark = harness.start_session()
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    times = []
    for rep in range(reps):
        if rep:
            w.close()
            spark.catalog.clearCache()
        t0 = time.perf_counter()
        w.setup(spark, NULL)
        times.append(session_s + time.perf_counter() - t0)
    return spark, times


def warm(w) -> None:
    """Untimed work so worker processes, JIT compilation and lazily built
    state are in place before timing; set-up samples are dropped."""
    from harness import Samples

    w.warm_up()
    lat = ", ".join(f"{v * 1000:.0f}" for v in w.samples.values.get("latency_s", []))
    print(f"perfbench: {w.name}: warm-up latencies (ms): {lat}", flush=True)
    w.samples = Samples()


def end_to_end(w, spark, setup_times: list[float]) -> dict[str, float]:
    from tracer import NULL

    sc = spark.sparkContext
    sc.setJobGroup("pb-measure", "measurement window")
    w.measure(w.seconds, NULL)
    sc.setJobGroup("", "")
    s = w.samples
    lat = ", ".join(f"{v * 1000:.0f}" for v in s.values["latency_s"])
    print(f"perfbench: {w.name}: window latencies (ms): {lat}", flush=True)
    print(f"perfbench: {w.name}: wall latency p50 = {s.median('latency_s') * 1000.0:.6g} ms", flush=True)
    return {
        "setup_s": statistics.median(setup_times),
        "cpu_ms_per_op": s.median("cpu_s") * 1000.0,
    }


def per_layer(w, spark, out_path: str) -> dict[str, float]:
    """Untraced pass, then traced pass, over the same operations."""
    from harness import Samples, job_counts
    from tracer import NULL, Tracer, instrument

    n_ops = w.traced_ops
    sc = spark.sparkContext
    m = {name: 0.0 for name in PER_LAYER}

    # untraced pass: counters read from outside the program only
    group = w.tile_job_group()
    tiles_before = job_counts(spark, group) if group else None
    sc.setJobGroup("pb-untraced", "untraced pass")
    t0 = time.perf_counter()
    w.run_ops(n_ops, NULL)
    untraced_s = time.perf_counter() - t0
    sc.setJobGroup("", "")
    jobs = job_counts(spark, "pb-untraced")
    if group:
        after = job_counts(spark, group)
        uncached = w.uncached_requests(n_ops)
        tile_jobs = after.jobs - tiles_before.jobs
        tile_tasks = after.tasks - tiles_before.tasks
        m["spark.jobs_per_tile"] = tile_jobs / uncached
        m["spark.tasks_per_tile"] = tile_tasks / uncached
        jobs.jobs += tile_jobs
        jobs.tasks += tile_tasks
        jobs.failed_tasks += after.failed_tasks - tiles_before.failed_tasks
    m["spark.jobs"] = jobs.jobs
    m["spark.tasks"] = jobs.tasks
    m["spark.failed_tasks"] = jobs.failed_tasks
    for st in w.stacks():
        m["sources.raster.read_warnings"] += st.read_warnings()
        m["sources.raster.overview_reads"] += st.overview_reads()
    w.plan_samples(NULL)
    m["stack.plan_s"] = w.samples.median("plan_s")
    m["stack.query_s"] = w.samples.median("query_s")
    if w.samples.count("small_plan_s"):
        m["stack.small_plan_ms"] = w.samples.median("small_plan_s") * 1000.0

    # traced pass
    spark.catalog.clearCache()
    w.samples = Samples()
    tr = Tracer()
    with instrument(tr, spark):
        w.setup(spark, tr)  # plan (and register) again, so set-up layers get spans
        t0 = time.perf_counter()
        w.run_ops(n_ops, tr)
        traced_s = time.perf_counter() - t0
        decode_probe(w, tr)
        w.trace_extras(tr)
    tr.write(out_path)
    m["spark.jvm_peak_rss_mb"] = harness.vm_hwm_mb(harness.jvm_pid(spark))
    m["spark.driver_peak_rss_mb"] = harness.vm_hwm_mb("self")

    tot = tr.total
    counts = tr.counts

    def med(name: str) -> float:
        d = tr.durations(name)
        return statistics.median(d) if d else 0.0

    m.update(
        {
            "sources.stac.ingest_s": tot("sources.stac:ingest"),
            "prepare.prepare_s": tot("prepare"),
            "prepare.spark_jobs": counts.get("prepare.spark_jobs", 0),
            "prepare_local.prepare_s": med("prepare_local"),
            "grid.tile_grid_s": tot("grid:tile_grid"),
            "grid.join_s": tot("grid:join"),
            "grid.pairs": counts.get("grid.pairs", 0),
            "sources.raster.scan_s": tot("sources.raster:scan"),
            "sources.raster.windows": counts.get("sources.raster.windows", 0),
            "sources.raster.explode_s": tot("sources.raster:explode"),
            "sources.raster.pixel_rows": counts.get("sources.raster.pixel_rows", 0),
            "sources.minitiff.decode_s": tot("sources.minitiff:decode"),
            "sources.minitiff.chunks_decoded": counts.get("sources.minitiff.chunks_decoded", 0),
            "sources.minitiff.bytes_read": counts.get("sources.minitiff.bytes_read", 0),
            "sources.minitiff.write_s": tot("sources.minitiff:write"),
            "operators.export.bytes_written": counts.get("operators.export.bytes_written", 0),
            "operators.mask.mask_s": tot("operators.mask:mask"),
            "operators.mask.tiles_out": counts.get("operators.mask.tiles_out", 0),
            "operators.composite.pivot_s": tot("operators.composite:pivot"),
            "operators.composite.pivot_rows": counts.get("operators.composite.pivot_rows", 0),
            "operators.composite.resample_s": tot("operators.composite:resample"),
            "operators.composite.resample_rows": counts.get("operators.composite.resample_rows", 0),
            "operators.pyramid.build_s": tot("operators.pyramid:build"),
            "operators.pyramid.requests_level0": counts.get("operators.pyramid.requests_level0", 0),
            "operators.pyramid.requests_level1": counts.get("operators.pyramid.requests_level1", 0),
            "operators.warp.tile_s": med("operators.warp:tile"),
            "operators.mosaic.tile_s": med("operators.mosaic:tile"),
            "functions.png.encode_ms": med("functions.png:encode") * 1000.0,
            "trace.overhead_s": traced_s - untraced_s,
            "trace.overhead_share": (traced_s - untraced_s) / untraced_s,
        }
    )
    windows = counts.get("sources.raster.windows", 0)
    if windows:
        m["sources.raster.useful_window_share"] = counts.get("sources.raster.useful_windows", 0) / windows
    served = [s for s in tr.spans if s.name == "streaming.show:compute_tile"]
    if served:
        hits = [s for s in served if not tr.children(s)]
        m["streaming.show.cache_hit_share"] = len(hits) / len(served)
    gets = [s for s in tr.spans if s.name == "client:get"]
    if gets:
        m["streaming.show.http_overhead_ms"] = statistics.median(tr.self_time(s) for s in gets) * 1000.0
    self_times = tr.self_times()
    for layer in LAYERS:
        m[f"{layer}.self_s"] = self_times.get(layer, 0.0)
    return m


def decode_probe(w, tr) -> None:
    """Decode, on the driver, every source window the scan reads, with the
    engine's GeoTIFF reader: the minitiff layer timed on its own."""
    import inputs
    from stackstac_spark.sources import minitiff

    windows = w.decode_windows()
    if not windows:
        return
    before = minitiff.DECODE_BYTES
    chunks = 0
    with tr.span("sources.minitiff:decode"):
        for path, (r0, r1, c0, c1) in windows:
            with minitiff.MiniTiffDataset(path) as ds:
                ds.read_window(r0, r1, c0, c1)
            t = inputs.COG_TILE
            chunks += ((r1 - 1) // t - r0 // t + 1) * ((c1 - 1) // t - c0 // t + 1)
    tr.count("sources.minitiff.chunks_decoded", chunks)
    tr.count("sources.minitiff.bytes_read", minitiff.DECODE_BYTES - before)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["composite", "tiles"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = harness.repo_root()
    harness.require_package(root)
    run_dir = harness.make_run_dir(root, f"{args.workload}-{args.seed}")
    harness.configure_env(root, run_dir)
    w = workload_class(args.workload)(run_dir, args.seed)
    w.seconds = args.seconds
    spark = None
    cpu0 = harness.cpu_times()
    try:
        t0 = time.perf_counter()
        w.generate()
        print(f"perfbench: {w.name}: inputs generated in {time.perf_counter() - t0:.1f}s", flush=True)
        spark, setup_times = set_up(w, 1 if args.trace else SETUP_REPS)
        t1 = time.perf_counter()
        warm(w)
        print(
            f"perfbench: {w.name}: set-ups {', '.join(f'{t:.1f}' for t in setup_times)}s, "
            f"warm-up {time.perf_counter() - t1:.1f}s",
            flush=True,
        )
        if args.trace:
            out_dir = os.path.join(root, "perfbench", ".runs")
            os.makedirs(out_dir, exist_ok=True)
            out = os.path.join(out_dir, f"{w.name}-{args.seed}-trace.json")
            values, units = per_layer(w, spark, out), PER_LAYER
        else:
            values = end_to_end(w, spark, setup_times)
            units = {k: u for k, (u, _) in END_TO_END.items()}
    finally:
        w.close()
        if spark is not None:
            harness.stop_session(spark)
        harness.cleanup(run_dir)
    cpu1 = harness.cpu_times()
    steal = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)
    if args.trace:
        values["host.steal_share"] = steal
    for name in sorted(values):
        print(f"perfbench: {w.name}: {name} = {values[name]:.6g} {units[name]}", flush=True)
    print(f"perfbench: {w.name}: host CPU steal during the run = {steal:.1%}", flush=True)
    print(f"perfbench: {w.name}: failed_share = {w.failed / max(w.attempted, 1):.4g}", flush=True)
    print(f"perfbench: {w.name}: run took {time.perf_counter() - t0:.1f}s", flush=True)
    result = {
        "correct": w.failed == 0,
        "attempted": max(w.attempted, 1),
        "failed": w.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
