"""Structured Streaming ingest of STAC items.

The reference has no streaming (SURVEY §2.7) — its closest analogue is the
temporal ``resample`` and the tile server's incremental recompute. Here the
natural Spark extension: a stream of STAC item JSON (files / Kafka) becomes
an incrementally maintained catalog with watermarked, windowed rollups.

``stream_items`` reads item JSONL with the same typed schema the batch path
uses (sources/stac.ITEM_SCHEMA's JSON shape), so every downstream metadata
operator works unchanged on the stream. ``windowed_item_counts`` shows the
watermark + tumbling-window aggregation pattern; arbitrary stateful logic
(e.g. per-collection session gaps) would go through
``applyInPandasWithState`` with the same DataFrame contracts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

STREAM_ITEM_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("collection", T.StringType()),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
    ]
)


def stream_items(spark: SparkSession, path: str, max_files_per_trigger: int = 16) -> DataFrame:
    """readStream over a directory of STAC item JSONL."""
    return (
        spark.readStream.schema(STREAM_ITEM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
        .withColumn("datetime", F.to_timestamp(F.col("properties")["datetime"]))
    )


def windowed_item_counts(
    items: DataFrame, every: str = "1 day", watermark: str = "2 days"
) -> DataFrame:
    """Tumbling window counts per collection with late-data watermark."""
    return (
        items.withWatermark("datetime", watermark)
        .groupBy(F.window("datetime", every).alias("w"), "collection")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .select(F.col("w.start").alias("window_start"), "collection", "n_items")
    )


def sliding_window_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding (hopping) window aggregation: each event lands in
    ``window/slide`` overlapping windows (Spark materializes the expansion
    with its internal ``window()`` generator — JVM-side, no UDF). The
    canonical moving-rate / rolling-SLA monitor shape; with ``watermark``
    set and a streaming input this runs incrementally with bounded state —
    state per (key, open window), windows finalized ``watermark`` past
    their end.

    Works identically on batch DataFrames (the gate query path: DuckDB
    replays the expansion as a cross join against the slide grid).

    Composition note: when an upstream stage already set a watermark (e.g.
    ``dedup_stream`` ahead of this in the same query), leave ``watermark``
    as None — Spark forbids redefining the watermark once multiple
    stateful operators share a query, and the upstream one flows through
    (see tests/test_streaming_pipeline_e2e.py).
    """
    src = events.withWatermark(ts_col, watermark) if watermark else events
    return (
        src.groupBy(F.window(ts_col, window, slide).alias("w"), key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Event-time interval join: match left and right rows sharing ``on``
    with ``right_ts ∈ [left_ts − lower, left_ts + upper]`` — the
    impression⋈click / request⋈response attribution shape.

    On streams (both sides ``readStream``), setting ``watermark`` enables
    Spark's stream-stream join: both sides are watermarked and the time
    bound lets the state store evict rows older than watermark+interval —
    state stays O(in-flight interval), the requirement for an unbounded
    run. On batch DataFrames the identical plan is a hash equi-join on
    ``on`` with the interval as a residual predicate (never a nested-loop:
    the equality key drives the shuffle), which is what the gate oracle
    replays.

    Column conflicts: right's ts is exposed as ``right_ts_val``; any other
    shared column name would make the joined frame ambiguous, so it is
    rejected up front (rename before joining).
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"interval_join supports inner/leftOuter, got {how!r}")
    clash = (set(left.columns) & set(right.columns)) - {on, right_ts}
    clash |= {c for c in ("right_ts_val", "__rk") if c in left.columns + right.columns}
    if clash:
        raise ValueError(
            f"interval_join: column names shared by both sides (or reserved) "
            f"would be ambiguous after the join: {sorted(clash)}; rename them first"
        )
    l = left.withWatermark(left_ts, watermark) if watermark else left
    r = right.withWatermark(right_ts, watermark) if watermark else right
    l = l.alias("l")
    r = r.select(
        F.col(on).alias("__rk"), F.col(right_ts).alias("right_ts_val"), *
        [c for c in right.columns if c not in (on, right_ts)]
    ).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col("r.__rk"))
        & (
            F.col("r.right_ts_val")
            >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lower}")
        )
        & (
            F.col("r.right_ts_val")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}")
        )
    )
    return l.join(r, cond, how).drop("__rk")


SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("collection", T.StringType()),
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_items", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_sessions", T.LongType()),
        T.StructField("n_items", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def sessionized_item_counts(items: DataFrame, gap: str = "7 days") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-collection
    acquisition 'sessions' — a new session starts when the gap between
    consecutive item datetimes exceeds ``gap``. State = (session count, item
    count, last event time) per collection, carried across micro-batches;
    the Spark-native form of a custom session-window operator (the batch
    analogue is the sessionize lag-window query in the driver contract).

    Scale: state is O(distinct collections) rows of 3 longs, partitioned by
    the group key — the shuffle is the same hash partitioning a batch
    groupBy would need, and each micro-batch touches only updated keys.
    """
    import pandas as pd

    gap_us = int(pd.Timedelta(gap).total_seconds() * 1_000_000)

    def update(key, pdfs, state):
        n_sessions, n_items, last_us = state.get if state.exists else (0, 0, None)
        ts = []
        for pdf in pdfs:
            ts.append(pdf["datetime"].astype("int64") // 1000)  # ns → µs
        all_us = pd.concat(ts).sort_values()
        for t in all_us:
            t = int(t)
            if last_us is None or t - last_us > gap_us:
                n_sessions += 1
            last_us = t
            n_items += 1
        state.update((n_sessions, n_items, last_us))
        yield pd.DataFrame(
            [(key[0], n_sessions, n_items, last_us)],
            columns=["collection", "n_sessions", "n_items", "last_us"],
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        items.select("collection", "datetime")
        .groupBy("collection")
        .applyInPandasWithState(
            update,
            SESSION_OUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream(
    df: DataFrame,
    keys: list[str] | str = "id",
    ts_col: str = "datetime",
    watermark: str = "2 days",
    fingerprint_text: str | None = None,
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, with state
    BOUNDED by the watermark horizon (``dropDuplicatesWithinWatermark`` —
    keys older than the watermark are evicted, unlike ``dropDuplicates``
    whose state grows without bound on an unbounded stream; an ingest
    pipeline that runs for months needs the bounded form).

    ``fingerprint_text``: optionally dedup on the md5 of a whitespace-
    normalized text column instead of identity keys — the streaming
    complement of the batch ``operators.dedup.exact_duplicates``.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    if fingerprint_text is not None:
        df = df.withColumn(
            "__fp",
            F.md5(F.regexp_replace(F.lower(F.col(fingerprint_text)), r"\s+", " ")),
        )
        keys = ["__fp"]
    out = df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return out.drop("__fp") if fingerprint_text is not None else out


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    how: str = "left",
    hint_broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: attach slowly-changing dimension
    attributes (e.g. a customer or collection table) to a live stream.

    Spark re-plans the static side every micro-batch, so a refreshed dim
    snapshot (re-read per batch) is picked up without restarting the query;
    the static side is broadcast when small — no stream-side shuffle, no
    state store (stream-static joins are stateless, unlike stream-stream
    joins which need watermarked buffers on both sides).

    Only inner/left are allowed: right/full would need to emit dim rows
    with no stream match, which is ill-defined on an unbounded stream
    (Spark rejects it at runtime; we reject it eagerly with a clear error).
    ``hint_broadcast=False`` drops the broadcast hint for a dim too large
    to replicate — the planner then shuffles each micro-batch against it.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"enrich_stream: how must be 'inner' or 'left' for a stream-static join, got {how!r}"
        )
    on = [on] if isinstance(on, str) else list(on)
    return stream.join(F.broadcast(dim) if hint_broadcast else dim, on, how)


def incremental_stack_sink(
    spark: SparkSession,
    jsonl_path: str,
    spec,
    out_path: str,
    assets: list[str],
    chunksize: int = 1024,
    checkpoint: str | None = None,
    fill_value: float = float("nan"),
    dtype: str = "float64",
    max_files_per_trigger: int = 16,
    available_now: bool = True,
):
    """Streaming raster ingest: a stream of STAC item JSONL → an incrementally
    maintained tile table (the persistent stack ``operators.export`` reads).

    The output grid must be pinned (``spec`` — incremental maintenance needs
    a stable grid; inference over an unbounded stream is ill-defined). Each
    micro-batch runs the SAME batch pipeline (normalize → asset table → tile
    join → scan) via ``foreachBatch`` and appends Parquet partitioned like
    ``write_tiles``; new scenes become new ``(item, band, tile)`` rows with
    no touch of existing data — append-only, so readers never block.

    ``available_now=True`` (default) drains the backlog and terminates —
    the batch-backfill mode. ``available_now=False`` keeps the query live
    on the default micro-batch trigger: new scene drops are picked up as
    they land, and a caller ingesting several drops pays query startup
    ONCE (``q.processAllAvailable()`` between drops, ``q.stop()`` when
    done) instead of one cold start per drop.

    Returns the StreamingQuery (caller awaits/stops it).
    """
    from stackstac_spark.grid import join_assets_to_tiles, tile_grid
    from stackstac_spark.sources.raster import scan_tiles
    from stackstac_spark.sources.stac import _json_records, _parse_catalog

    # bound each micro-batch: process_batch collects the batch's item JSON
    # to the driver, so an unbounded availableNow backfill over a huge
    # directory must be sliced into file-bounded triggers, not one batch
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(jsonl_path)
    )

    # maxFilesPerTrigger bounds files, not lines: ONE giant backfill JSONL
    # could still be a single multi-million-line batch, which the driver-side
    # normalize below must not collect. Above this line count the batch falls
    # back to the distributed parse (bounded driver memory, slower per small
    # batch — the right trade in both regimes).
    max_driver_lines = 100_000

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        import json as _json

        # ONE job sizes AND fetches the batch: take(limit+1) pushes the limit
        # into the scan, so a small scene drop costs a single collect instead
        # of the old count()-then-collect() pair (2 jobs per micro-batch)
        head = batch_df.take(max_driver_lines + 1)
        if not head:
            return
        if len(head) > max_driver_lines:
            items_df, assets_df = _parse_catalog(batch_df, _json_records)
            from stackstac_spark.prepare import prepare

            prep = prepare(
                items_df,
                assets_df,
                assets=assets,
                epsg=spec.epsg,
                resolution=spec.resolutions_xy,
                bounds=spec.bounds,
                dtype=dtype,
                persist=False,  # one prepare per batch: don't accumulate caches
            )
        else:
            # A micro-batch of SCENES is catalog metadata — KBs per item,
            # tens to thousands of items per trigger — so prepare it with
            # the ZERO-job driver fastpath batch stack() uses for small
            # catalogs (prepare_local: prepare's inference kernel run on
            # the driver). The distributed prepare here cost ~6 driver jobs
            # per micro-batch, each re-executing the streaming-lineage parse.
            rows = [r.value for r in head if r.value and r.value.strip()]
            if not rows:
                return
            from stackstac_spark.prepare_local import prepare_local

            prep = prepare_local(
                spark,
                [_json.loads(s) for s in rows],
                assets=assets,
                epsg=spec.epsg,
                resolution=spec.resolutions_xy,
                bounds=spec.bounds,
                dtype=dtype,
            )
        joined = join_assets_to_tiles(
            prep.asset_table, tile_grid(spark, spec, chunksize=chunksize)
        )
        tiles = scan_tiles(joined, spec, fill_value=fill_value, dtype=dtype)
        # item_idx is per-batch; carry a globally unique (batch, item) key so
        # time ordering across batches is (batch_id, item_idx)
        out = tiles.withColumn("batch_id", F.lit(batch_id))
        out.write.partitionBy("band_idx", "tile_y").mode("append").parquet(
            f"{out_path}/tiles"
        )
        prep.items_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            f"{out_path}/items"
        )

    writer = lines.writeStream.foreachBatch(process_batch)
    if available_now:
        writer = writer.trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete") -> None:
    """Drain the stream with availableNow into an in-memory table (tests /
    backfills); production sinks are parquet/Delta via writeStream. Stateful
    ``applyInPandasWithState`` pipelines need ``output_mode='update'``."""
    (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def upsert_sink(
    spark: SparkSession,
    json_path: str,
    schema,
    out_path: str,
    keys: list[str] | str,
    seq_col: str,
    checkpoint: str | None = None,
    max_files_per_trigger: int = 16,
    available_now: bool = True,
):
    """Streaming keyed upsert (CDC apply): a JSON change stream →
    a maintained last-write-wins snapshot table at ``out_path``/state.

    Each micro-batch is MERGEd via ``foreachBatch``: the batch is first
    reduced to one row per key (max ``seq_col``, later micro-batch wins
    ties), then current-state rows for touched keys are replaced —
    higher-``seq_col`` state survives a stale/out-of-order batch, so
    replaying the same drop twice (at-least-once delivery) is idempotent.

    The snapshot swap here is read-materialize-overwrite on Parquet (the
    current state is ``localCheckpoint``-pinned before the overwrite so
    the lazy read can't race its own rewrite). On a real lakehouse this
    exact ``foreachBatch`` body becomes ``MERGE INTO`` on a Delta/Iceberg
    table — the streaming topology (bounded triggers, per-batch merge,
    checkpointed progress) is unchanged; only the sink's atomicity
    mechanism upgrades.

    Returns the StreamingQuery (caller awaits/stops it).
    """
    from pyspark.sql import Window

    keys = [keys] if isinstance(keys, str) else list(keys)
    state_path = f"{out_path}/state"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(json_path)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        w = Window.partitionBy(*keys).orderBy(F.desc(seq_col), F.desc("__src"))
        incoming = batch_df.withColumn("__src", F.lit(1))
        try:
            current = spark.read.parquet(state_path).withColumn("__src", F.lit(0))
            merged = current.unionByName(incoming)
        except Exception:  # first batch: no state yet
            merged = incoming
        snap = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src")
            .localCheckpoint()  # pin BEFORE overwriting what it was read from
        )
        snap.write.mode("overwrite").parquet(state_path)

    writer = stream.writeStream.foreachBatch(process_batch)
    if available_now:
        writer = writer.trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()
