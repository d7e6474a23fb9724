"""Physical-plan regression guards — the scale properties SCALE.md claims,
asserted so they can't silently rot: predicate pushdown reaches the parquet
scan, dimension joins broadcast (never shuffle both sides), aggregates are
partial+final, top-k gets rank-limit pushdown, and the raster scan path
stays shuffle-free."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    return e


def test_filter_pushdown_reaches_scan(spark, entry):
    plan = _plan(entry.q_metadata_filter(spark, SF))
    assert "PushedFilters: [" in plan
    assert "LessThan(value,20.0)" in plan
    assert "EqualTo(event_type,purchase)" in plan


def test_column_pruning(spark, entry):
    plan = _plan(entry.q_tpch_q6(spark, SF))
    # q6 touches 4 lineitem columns; the scan must not read the other 7
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read and "l_discount" in read
    assert "l_returnflag" not in read and "l_orderkey" not in read


def test_dim_joins_broadcast_not_shuffle(spark, entry):
    plan = _plan(entry.q_tpch_q5(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # all dims fit under the threshold


def test_aggregate_is_partial_final(spark, entry):
    plan = _plan(entry.q_tpch_q1(spark, SF))
    # partial + final pair => two HashAggregate nodes around one Exchange
    assert plan.count("HashAggregate") >= 2


def test_topk_rank_pushdown(spark, entry):
    plan = _plan(entry.q_sim_bruteforce_topk(spark, SF))
    assert "WindowGroupLimit" in plan  # per-partition top-k before shuffle


def test_orderby_limit_is_take_ordered(spark, entry):
    plan = _plan(entry.q_tpch_q3(spark, SF))
    assert "TakeOrderedAndProject" in plan  # no global sort materialization


def test_raster_scan_path_has_no_shuffle(spark):
    """asset_table ⋈ tile_grid must broadcast the tile side: the (huge at
    scale) asset table is never exchanged before the read UDF."""
    from stackstac_spark.grid import join_assets_to_tiles, tile_grid
    from stackstac_spark.sources.stac import items_to_dataframes
    from stackstac_spark.prepare import prepare
    from tests.conftest import make_item

    items = [make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 32.0, 32.0))]
    items_df, assets_df = items_to_dataframes(spark, items)
    prep = prepare(items_df, assets_df, assets=["red"])
    joined = join_assets_to_tiles(prep.asset_table, tile_grid(spark, prep.spec, chunksize=16))
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the asset table is never hash-shuffled on the scan path: the only
    # allowed exchanges are broadcasts and the O(items) SinglePartition sort
    # that assigns item_idx (metadata-plane, inside the broadcast build side)
    hash_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln or "Exchange rangepartitioning" in ln
    ]
    assert not hash_exchanges, hash_exchanges


def _overlapping_3857_grid(spec):
    """A 1-unit EPSG:3857 grid over the Web-Mercator footprint of ``spec``."""
    from stackstac_spark.functions.proj import reproject_bounds
    from stackstac_spark.raster_spec import RasterSpec

    minx, miny, maxx, maxy = reproject_bounds(spec.bounds, spec.epsg, 3857)
    bounds = (np.floor(minx), np.floor(miny), np.ceil(maxx), np.ceil(maxy))
    return RasterSpec(3857, tuple(float(v) for v in bounds), (1.0, 1.0))


def test_warp_dst_grid_is_generated_executor_side(spark):
    """The destination tile grid of a reproject must come from executors
    (the window kernel per Arrow batch of ``spark.range`` ids), not a
    driver-side Python loop: a full-raster cross-CRS warp has millions of
    dst tiles, and a driver loop would both OOM and serialize the job
    before it starts."""
    from stackstac_spark.operators.warp import reproject_tiles
    from stackstac_spark.stack import stack as _stack
    from tests.conftest import make_item

    st = _stack(
        spark,
        [make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 32.0, 32.0))],
        assets=["red"],
        chunksize=16,
    )
    dst = _overlapping_3857_grid(st.spec)
    # grid_on_driver_max=0 forces the large-grid strategy so the guard keeps
    # checking the path a million-tile reproject would take
    warped = reproject_tiles(st.tiles, st.spec, dst, chunksize=16, grid_on_driver_max=0)
    assert warped.count() > 0  # the plan below is that of a warp that produces tiles
    plan = _plan(warped)
    # the dst tile table is a Python stage directly over a Range
    lines = plan.splitlines()
    grid = [i for i, ln in enumerate(lines) if "MapInPandas" in ln and "[dty" in ln and "dtx" in ln]
    assert len(grid) == 1, plan
    assert "Range (" in lines[grid[0] + 1], plan
    # the grid must NOT arrive as a driver-materialized LocalTableScan
    assert "LocalTableScan [dty" not in plan
    # and the grid side still reaches the overlap join as a broadcast
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_warp_small_grid_builds_on_driver(spark):
    """A small dst grid (one XYZ tile, a 1-raster resample) must NOT launch
    a Spark job + Python workers just to enumerate a few hundred tiles: the
    grid arrives as a driver-built LocalTableScan and the only Python stage
    left is the warp kernel itself."""
    from stackstac_spark.operators.warp import reproject_tiles
    from stackstac_spark.stack import stack as _stack
    from tests.conftest import make_item

    st = _stack(
        spark,
        [make_item(0, "2024-01-05T00:00:00Z", (0.0, 0.0, 32.0, 32.0))],
        assets=["red"],
        chunksize=16,
    )
    dst = _overlapping_3857_grid(st.spec)
    warped = reproject_tiles(st.tiles, st.spec, dst, chunksize=16)
    assert warped.count() > 0  # the plan below is that of a warp that produces tiles
    plan = _plan(warped)
    assert "LocalTableScan [dty" in plan
    # the source tile grid still explodes executor-side; the DST grid must not
    dst_generates = [
        ln for ln in plan.splitlines() if "Generate explode" in ln and ("dty" in ln or "dtx" in ln)
    ]
    assert not dst_generates, dst_generates
    # no Arrow-batched reprojection stage for the GRID (the scan path keeps
    # its own pandas UDFs): the dst-grid bounds column never reaches Python
    grid_arrow = [
        ln for ln in plan.splitlines() if "ArrowEvalPython" in ln and "dbounds" in ln
    ]
    assert not grid_arrow, grid_arrow


def test_xyz_tile_is_one_exchange_over_the_cached_tiles(spark):
    """A served XYZ tile is one stage over the cached level: the source
    window is a literal filter sitting directly on the InMemoryTableScan
    (no broadcast join against a dst grid), the source tiles are cut to the
    window before the exchange, and the per-band warp + mosaic kernel adds
    the only Exchange."""
    from stackstac_spark.operators.pyramid import build_pyramid, xyztile_from_pyramid
    from stackstac_spark.operators.warp import xyz_tile_bounds
    from stackstac_spark.stack import stack as _stack
    from tests.conftest import make_item

    b = xyz_tile_bounds(8, 128, 128)
    item = make_item(
        0, "2024-01-05T00:00:00Z", b, epsg=3857, assets=("red", "nir"), res=(b[2] - b[0]) / 64
    )
    st = _stack(spark, [item], assets=["red", "nir"], chunksize=32)
    st.tiles.cache()
    pyr = build_pyramid(st.tiles, st.spec, dtype=st.dtype, n_levels=1, persist=False)
    df, level = xyztile_from_pyramid(pyr, 8, 128, 128, tilesize=64)
    assert level == 0
    # the part of the plan above the cached relation is the per-tile work
    per_tile = _plan(df).split("InMemoryRelation")[0]
    assert per_tile.count("Exchange") == 1, per_tile
    assert "BroadcastNestedLoopJoin" not in per_tile, per_tile
    lines = per_tile.splitlines()
    scan = next(i for i, ln in enumerate(lines) if "InMemoryTableScan" in ln)
    assert "Filter" in lines[scan - 1] and "row_off" in lines[scan - 1], per_tile
    exchange = next(i for i, ln in enumerate(lines) if "Exchange" in ln)
    crop = next(i for i, ln in enumerate(lines) if "Generate" in ln)
    assert exchange < crop < scan, per_tile


def test_asof_join_is_window_not_range_join(spark, entry):
    """The asof gate query must use the sort-based plan: one Window over the
    per-user union, and no join node at all — the range-join form explodes
    O(|clicks_u|·|purchases_u|) on a heavy user."""
    plan = _plan(entry.q_asof_join(spark, SF))
    assert "Window" in plan
    for bad in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
        "ShuffledHashJoin",
    ):
        assert bad not in plan, f"asof plan must not contain {bad}"


def test_q21_exists_shapes_are_semi_and_anti(spark, entry):
    """EXISTS/NOT EXISTS decorrelate to one semi + one anti join, and the
    dimension joins (supplier, nation) broadcast."""
    plan = _plan(entry.q_tpch_q21(spark, SF))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_q17_correlated_avg_broadcasts_threshold(spark, entry):
    """The per-part avg-quantity threshold table is part-sized (small), so
    joining it back to lineitem must broadcast, not shuffle lineitem."""
    plan = _plan(entry.q_tpch_q17(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q2_min_joinback_broadcasts(spark, entry):
    """Q2's decorrelated min is O(parts) rows: the join-back and all
    dimension joins broadcast; the only shuffles are the distinct + agg."""
    plan = _plan(entry.q_tpch_q2(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_contamination_probe_broadcasts_corpus_never_shuffles_on_gram(spark, entry):
    """Decontamination: the probe (benchmark) n-gram set must broadcast; a
    SortMergeJoin would mean the 100 TB corpus shuffles on the gram key."""
    plan = _plan(entry.q_ngram_contamination(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_kmeans_assignment_is_scan_only(spark):
    """The Lloyd assignment is a per-row HOF expression: no Exchange, no
    join — one scan of the corpus regardless of k."""
    from stackstac_spark.operators.similarity import nearest_centroid_column

    df = spark.range(100).selectExpr(
        "id AS vec_id", "array(CAST(id AS DOUBLE), CAST(id+1 AS DOUBLE)) AS embedding"
    )
    cents = [[0.0, 0.0], [50.0, 50.0], [100.0, 100.0]]
    assigned = df.withColumn("cluster", nearest_centroid_column("embedding", cents, 6))
    plan = _plan(assigned)
    assert "Exchange" not in plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in plan


def test_tfidf_vocab_join_not_forced_broadcast(spark, entry):
    """The tf⋈df join must NOT carry a planner-forced broadcast hint: the
    vocabulary is corpus-scale at 100 TB. (AQE may still *choose* broadcast
    at toy scale — the guard is on the logical plan's hints, not the
    physical choice.)"""
    df = entry.q_tfidf_top(spark, SF)
    # optimizedPlan folds hints into join strategies; inspect the analyzed
    # plan's explicit hint nodes (the 1-row n_docs scalar is the only one
    # tolerated)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    n_hints = analyzed.count("UnresolvedHint") + analyzed.count("ResolvedHint")
    assert n_hints <= 1, f"unexpected broadcast hints in tfidf plan:\n{analyzed}"


def test_span_dedup_single_window_shuffle_no_self_join(spark, entry):
    """span_dedup: the corpus-scale window table must be built once and
    shuffled once on the md5 key — 'duplicated' is a Window min!=max over
    that one partition, NOT a groupBy + join-back (which re-scans and
    re-explodes the corpus). Expect exactly one Exchange on gh, one Window,
    and no sort-merge join anywhere."""
    import re

    plan = _plan(entry.q_span_dedup(spark, SF))
    assert len(re.findall(r"Exchange hashpartitioning\(gh", plan)) == 1, plan
    assert plan.count("Window") == 1
    assert "SortMergeJoin" not in plan
    # two corpus scans total: the n_tokens base projection + the window
    # pipeline (the rewrite this guards collapsed 3 scans to 2)
    assert plan.count("Scan parquet") == 2, plan


def test_pii_scrub_is_single_scan_no_shuffle(spark, entry):
    """PII scrub is three regexp column passes: one scan, zero hash
    Exchange (the trailing orderBy's rangepartitioning is harness
    determinism, not engine need)."""
    plan = _plan(entry.q_pii_scrub(spark, SF))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan
    assert plan.count("FileScan parquet") == 1


def test_pack_sequences_single_shard_shuffle(spark, entry):
    """Packing = one Exchange on the shard key + one Window; nothing else."""
    import re

    plan = _plan(entry.q_pack_sequences(spark, SF))
    # the trailing orderBy adds a rangepartitioning exchange (harness
    # determinism); the data path must have exactly one hash exchange
    assert len(re.findall(r"Exchange hashpartitioning\(shard", plan)) == 1, plan
    assert plan.count("Window") == 1
    assert "Join" not in plan


def test_paragraph_dedup_two_exchanges_no_join(spark, entry):
    # single-pass shape: block-hash window + doc-keyed conditional aggregate;
    # a base/join-back formulation would show 3-4 exchanges and a Join node
    plan = _plan(entry.q_paragraph_dedup(spark, SF))
    assert plan.count("Exchange") <= 3  # window + agg + final orderBy range
    assert "Join" not in plan
    assert "Python" not in plan


def test_mixture_sample_one_exchange_no_join(spark):
    from stackstac_spark.operators.sampling import mixture_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(mixture_sample(docs, {"src0": 1.0, "src1": 2.0}, 1000))
    # one window shuffle keyed by domain; budgets are a literal CASE, never a join
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "Python" not in plan


def test_semdedup_pair_join_is_cluster_keyed(spark):
    from stackstac_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(semantic_dedup(emb, k=4, iters=1, threshold=0.5))
    # the pair stage must be an equi-join on the cluster key (cost bounded by
    # sum of squared cluster sizes), never a cartesian/broadcast-nested-loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan
