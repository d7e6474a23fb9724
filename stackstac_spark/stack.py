"""``stack()`` — the engine façade, mirroring the reference's top-level entry
(stack.py:26-326 in /root/reference/stackstac) and the delegated xarray query
surface (README.md:49-57) as DataFrame-native methods.

A ``RasterStack`` is NOT a dense 4-D array: it is a lazy bundle of
- ``source``    — the read plan (``sources.raster.ReadPlan``: one row per
                  (item, band, tile) window still to read), or, for a stack
                  made from tiles (a warp, a checkpoint, ``where``/``crop``),
                  the tile DataFrame itself;
- ``tiles``     — sparse tile DataFrame (one row per non-empty (item, band,
                  tile) block; the dask chunk grid analogue), derived from
                  the read plan on first use;
- ``spec``      — the broadcastable output grid,
- ``items_df``  — per-time coordinate table (the xarray time coords),
- ``band_fields`` — per-band constant metadata (the band coords).

Selections (``filter_items``, ``slice_time``, ``isel_time``, ``sel``,
``sel_bands``, ``slice_bounds``) and ``mask_band`` change the read plan, so
Spark applies them below the scan and the reference's "only the chunks a
sliced array still holds are read" holds here too. ``pixels()`` of a planned
stack is the scan itself emitting pixel rows: one Python pass from COG
window to pixel row.

All query methods are lazy DataFrame transformations; ``.compute()`` is just
an action, like the reference's dask graph semantics — Spark's laziness is a
drop-in replacement.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Any

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stackstac_spark.grid import join_assets_to_tiles, tile_grid
from stackstac_spark.prepare import Prepared, prepare
from stackstac_spark.raster_spec import Bbox, RasterSpec
# scan_tiles is no longer called here; it stays importable under this
# module because perfbench's tracer looks it up by name (ROADMAP direction 4)
from stackstac_spark.sources.raster import ReadPlan, explode_pixels, scan_tiles  # noqa: F401
from stackstac_spark.sources.stac import items_to_dataframes


@dataclass
class RasterStack:
    # the read plan, which `tiles` and `pixels()` scan; or, for a stack made
    # from tiles (a warp, a checkpoint, where/crop output), those tiles
    source: ReadPlan | DataFrame
    spec: RasterSpec
    asset_ids: list[str]
    items_df: DataFrame
    band_fields: DataFrame | None = None
    # tile band_idx value for each entry of asset_ids (None = positional
    # identity). Band selection keeps the ORIGINAL indices, so chained
    # sel_bands / mask_band / dense export stay correct after a subset.
    band_idxs: list[int] | None = None
    dtype: str = "float64"
    xy_coords: str = "topleft"
    fill_value: float = np.nan
    # accumulator counting reads that matched errors_as_nodata and were
    # silently filled — the driver-side signal the reference emits as
    # per-read warnings (nodata_reader.py:46-64)
    read_error_acc: Any = None
    # accumulator counting fallback windows served from a COG overview IFD
    # (sources/raster.py::_select_overview) — observability for the
    # decimated-read path
    overview_read_acc: Any = None

    @property
    def tiles(self) -> DataFrame:
        """The tile blocks (TILE_SCHEMA): the read plan's scan, built once
        on first use, or the tiles the stack was made from."""
        src = self.source
        return src.tiles if isinstance(src, ReadPlan) else src

    def _select(self, rows, **changes) -> "RasterStack":
        """Apply the row selection ``rows`` (DataFrame → DataFrame over item,
        band and tile columns) to the read plan, before the scan — or, for a
        stack made from tiles, to its tiles."""
        src = self.source
        src = replace(src, rows=rows(src.rows)) if isinstance(src, ReadPlan) else rows(src)
        return replace(self, source=src, **changes)

    # --- delegated query surface (SURVEY §2.6) --------------------------

    def pixels(self, drop_fill: bool = True) -> DataFrame:
        """Per-pixel relational view (item_idx, band_idx, row, col, value);
        a planned stack's scan emits these rows itself, unless the caller
        cached its ``tiles``: then they are exploded from that cache."""
        src = self.source
        if isinstance(src, ReadPlan) and not src.tiles_cached:
            return src.pixels(drop_fill)
        return explode_pixels(
            self.tiles, drop_fill=drop_fill, dtype=self.dtype, fill_value=self.fill_value
        )

    def pixels_with_time(self, drop_fill: bool = True) -> DataFrame:
        """``pixels()`` ⋈ the item datetime (broadcast — items are
        metadata-sized): adds a ``time`` timestamp column for temporal
        operators (resample, climatology)."""
        t = self.items_df.select(
            "item_idx", F.col("datetime").cast("timestamp").alias("time")
        )
        return self.pixels(drop_fill).join(F.broadcast(t), "item_idx")

    def where(self, cond: Any, other: float | None = None) -> "RasterStack":
        """Elementwise ``xr.DataArray.where`` (reference demo:
        ``comp.where(comp > threshold)``, examples/show.ipynb:36012): keep
        pixels where the vectorized numpy predicate ``cond`` holds, fill
        the rest with ``other`` (default the stack fill — NaN, so masked
        pixels drop out of the sparse pixel view). Map-only, no shuffle."""
        from stackstac_spark.operators.mask import where_tiles

        fill = self.fill_value if other is None else other
        return replace(
            self,
            source=where_tiles(self.tiles, cond, other=fill, dtype=self.dtype),
        )

    def mask_band(
        self, band: str, keep: Any, other: float | None = None
    ) -> "RasterStack":
        """Mask all data bands by a classification band (the Sentinel-2
        SCL cloud-mask idiom): pixels whose ``band`` value is not in
        ``keep`` (a value list, or a vectorized numpy predicate) become
        ``other`` (default stack fill). The mask band is consumed — it is
        removed from the resulting stack.

        On a planned stack the mask band's windows join the data rows of
        the read plan (metadata, not pixels), and the scan reads each data
        window with its mask window. A stack made from tiles, or one
        already masked, joins tile payloads instead
        (operators/mask.py::mask_band_tiles)."""
        from stackstac_spark.operators.mask import mask_band_tiles, mask_test

        if band not in self.asset_ids:
            raise ValueError(f"Band {band!r} not in stack; available: {self.asset_ids}")
        fill = self.fill_value if other is None else other
        bmap = self._band_map()
        idx = bmap[band]
        src = self.source
        if isinstance(src, ReadPlan) and src.mask is None:
            src = src.masked_by(idx, *mask_test(keep, fill, self.dtype))
        else:
            src = mask_band_tiles(self.tiles, idx, keep, other=fill, dtype=self.dtype)
        return replace(
            self,
            source=src,
            asset_ids=[a for a in self.asset_ids if a != band],
            band_idxs=[bmap[a] for a in self.asset_ids if a != band],
        )

    def groupby_period(
        self, period: str = "month", agg: str = "mean"
    ) -> DataFrame:
        """Calendar climatology — ``.groupby("time.month").mean()``:
        month-of-year / day-of-year / season composites ACROSS years
        (operators/composite.py::climatology)."""
        from stackstac_spark.operators.composite import climatology

        return climatology(self.pixels_with_time(), period=period, agg=agg)

    def xy_coord_tables(self) -> tuple[DataFrame, DataFrame]:
        """(col, x) and (row, y) label tables honouring the stack's
        ``xy_coords`` setting — the reference's topleft/center toggle
        (stack.py:216, prepare.py:445-461)."""
        from stackstac_spark.operators.coords import xy_label_tables

        return xy_label_tables(
            self.items_df.sparkSession, self.spec, pixel_center=(self.xy_coords == "center")
        )

    def create_views(self, prefix: str = "stack_") -> list[str]:
        """Register the stack as temp views for a pure-``spark.sql`` workflow
        (the reference README's xarray pipeline, README.md:49-57, re-expressed
        as SQL over relational views). Registered views:

        - ``{prefix}tiles``       — the lazy tile blocks (scan not yet run)
        - ``{prefix}pixels``      — sparse pixel view (item_idx, band_idx,
          row, col, value); fill pixels are absent rows
        - ``{prefix}item_coords`` — the time-dimension labels (item_idx,
          item_id, datetime, proj fields, raw properties map)
        - ``{prefix}band_coords`` — (band_idx, band) name mapping
        - ``{prefix}x_coords`` / ``{prefix}y_coords`` — (col, x) / (row, y)
          spatial labels honouring ``xy_coords`` topleft/center
        - ``{prefix}band_fields`` — long-form per-band metadata, when present

        Views are session-scoped metadata only — each one wraps the same lazy
        plan the DataFrame API uses, so Catalyst still prunes columns and
        pushes filters through them identically. Returns the view names.
        """
        spark = self.items_df.sparkSession
        bands = spark.createDataFrame(
            [(idx, aid) for aid, idx in self._band_map().items()],
            "band_idx int, band string",
        )
        x, y = self.xy_coord_tables()
        views = {
            f"{prefix}tiles": self.tiles,
            f"{prefix}pixels": self.pixels(),
            f"{prefix}item_coords": self.items_df,
            f"{prefix}band_coords": bands,
            f"{prefix}x_coords": x,
            f"{prefix}y_coords": y,
        }
        if self.band_fields is not None:
            views[f"{prefix}band_fields"] = self.band_fields
        for name, df in views.items():
            df.createOrReplaceTempView(name)
        return sorted(views)

    def _band_map(self) -> dict[str, int]:
        idxs = self.band_idxs or list(range(len(self.asset_ids)))
        return dict(zip(self.asset_ids, idxs))

    def sel_bands(self, bands: list[str] | str) -> "RasterStack":
        """``.sel(band=[...])`` — band select as a filter on the read plan.
        Keeps the ORIGINAL band_idx of each selected band (via
        ``band_idxs``), so selecting from an already-selected/masked stack
        composes."""
        if isinstance(bands, str):
            bands = [bands]
        unknown = [b for b in bands if b not in self.asset_ids]
        if unknown:
            raise ValueError(f"Bands {unknown} not in stack; available: {self.asset_ids}")
        bmap = self._band_map()
        idxs = [bmap[b] for b in bands]
        return self._select(
            lambda df: df.filter(F.col("band_idx").isin(idxs)),
            asset_ids=list(bands),
            band_idxs=idxs,
        )

    def filter_items(self, predicate: Any) -> "RasterStack":
        """``stack[stack["eo:cloud_cover"] < 20]`` — metadata predicate
        filter: filter the item coord table, semi-join the read plan on
        item_idx. ``predicate`` is a Column over ``items_df`` (properties
        map exposed as ``properties['key']``)."""
        return self._keep_items(self.items_df.filter(predicate))

    def _keep_items(self, items: DataFrame) -> "RasterStack":
        keep = F.broadcast(items.select("item_idx"))
        return self._select(lambda df: df.join(keep, "item_idx", "left_semi"), items_df=items)

    def slice_time(self, start: str | None = None, end: str | None = None) -> "RasterStack":
        """``.loc["2020-01":"2020-04"]`` — label slicing on time."""
        items = self.items_df
        if start is not None:
            items = items.filter(F.col("datetime") >= start)
        if end is not None:
            items = items.filter(F.col("datetime") <= end)
        return self._keep_items(items)

    def sel(
        self,
        band: list[str] | str | None = None,
        time: "slice | str | None" = None,
        item: list[str] | str | None = None,
    ) -> "RasterStack":
        """xarray-style label selection dispatcher — the reference's
        ``.sel(band=["red","green"])`` / ``.loc["2020-01":"2020-04"]``
        surface (README.md:53, stack.py:216-217) in one call:

        - ``band``: name(s) → :meth:`sel_bands`
        - ``time``: a ``slice(start, end)`` of ISO strings → label range
          (:meth:`slice_time`); a bare string → exact-prefix match on the
          item datetime (``.sel(time="2024-01")`` keeps January items)
        - ``item``: item id(s) → metadata filter
        """
        st = self
        if band is not None:
            st = st.sel_bands([band] if isinstance(band, str) else list(band))
        if time is not None:
            if isinstance(time, slice):
                if time.step is not None:
                    raise ValueError("sel(time=slice(...)) does not support a step")
                st = st.slice_time(time.start, time.stop)
            else:
                st = st.filter_items(F.col("datetime").startswith(str(time)))
        if item is not None:
            ids = [item] if isinstance(item, str) else list(item)
            st = st.filter_items(F.col("item_id").isin(ids))
        return st

    def isel_time(self, idx: int | list[int]) -> "RasterStack":
        """Positional selection on the time axis — ``arr.isel(time=i)`` /
        ``arr[i]``. Positions address THIS stack's date-sorted items (after
        any prior filtering, where raw item_idx values are non-contiguous);
        negatives count from the end. The item list is metadata-sized, so
        the position→item_idx resolution is a tiny driver pull."""
        idx_list = sorted(
            r.item_idx for r in self.items_df.select("item_idx").collect()
        )
        n = len(idx_list)
        idxs = [idx] if isinstance(idx, int) else list(idx)
        resolved = []
        for i in idxs:
            j = i + n if i < 0 else i
            if not 0 <= j < n:
                raise IndexError(f"time index {i} out of range for {n} items")
            resolved.append(idx_list[j])
        return self.filter_items(F.col("item_idx").isin(resolved))

    def crop(self, bounds: Bbox) -> "RasterStack":
        """Exact AOI crop — the pixel-true ``.loc[y-slice, x-slice]``: the
        result's spec IS the cropped grid (aligned with the parent, no
        resampling), boundary tiles sliced, offsets rebased. One range
        filter + a map-only kernel (operators/crop.py). Use
        :meth:`slice_bounds` when a plan-time tile prune suffices."""
        from stackstac_spark.operators.crop import crop_tiles

        tiles, spec = crop_tiles(self.tiles, self.spec, bounds, dtype=self.dtype)
        return replace(self, source=tiles, spec=spec)

    def slice_bounds(self, bounds: Bbox) -> "RasterStack":
        """Spatial slice: keep only the whole tiles overlapping ``bounds``
        (in the spec's CRS) — a range filter on the read plan's tile offsets.
        The spec is unchanged and kept tiles keep their pixels outside
        ``bounds``; use :meth:`crop` for the pixel-true cut."""
        from stackstac_spark.operators.crop import tiles_in_window

        win = self.spec.pixel_window_from_bounds(bounds)
        return self._select(lambda df: tiles_in_window(df, win))

    # --- compute --------------------------------------------------------

    def mosaic(self, reverse: bool = False, nodata: float | None = None) -> DataFrame:
        from stackstac_spark.operators.mosaic import mosaic_pixels

        if nodata is None:
            nodata = self.fill_value
        return mosaic_pixels(
            self.pixels(), reverse=reverse, nodata=nodata, dtype=self.dtype
        )

    def read_warnings(self) -> int:
        """Number of raster reads (so far) that matched ``errors_as_nodata``
        and were filled with ``fill_value``.

        AT-LEAST-ONCE counter: Spark accumulators updated inside a
        transformation re-increment on task retries, speculative duplicates,
        and every action that re-runs the scan (two ``compute()`` calls count
        the same failing read twice). Treat it as "nonzero ⇒ some reads were
        error-filled", not as an exact count; per-action deltas are what
        ``compute()`` warns on. Accumulators update as tasks finish, so call
        this after an action."""
        return int(self.read_error_acc.value) if self.read_error_acc is not None else 0

    def overview_reads(self) -> int:
        """Number of fallback windows (so far) served from a reduced-
        resolution overview IFD instead of full-res chunks. Same
        at-least-once caveats as :meth:`read_warnings`; useful to confirm a
        decimated pipeline (e.g. zoomed-out XYZ tiles) is actually reading
        the pyramid, not decoding full-res source blocks."""
        return (
            int(self.overview_read_acc.value)
            if self.overview_read_acc is not None
            else 0
        )

    def _warn_if_filled_errors(self, baseline: int = 0) -> None:
        n = self.read_warnings() - baseline
        if n:
            import warnings

            warnings.warn(
                f"{n} raster read(s) failed with an errors_as_nodata-matched "
                f"error and were filled with fill_value={self.fill_value!r}. "
                "At scale this can silently turn a misconfigured bucket into "
                "an all-fill result — check read_warnings() and the executor "
                "logs.",
                RuntimeWarning,
                stacklevel=3,
            )

    def compute(self) -> "np.ndarray":
        """Materialize the dense (time, band, y, x) array driver-side — only
        for small AOIs / tests, like ``.compute()`` in the reference."""
        from stackstac_spark.operators.export import to_dense_array

        # Warn on the DELTA across this action only: the accumulator is
        # at-least-once and cumulative, so a prior action's (already-warned)
        # failures must not re-warn a healthy compute().
        baseline = self.read_warnings()
        out = to_dense_array(self)
        self._warn_if_filled_errors(baseline=baseline)
        return out


def stack(
    spark,
    items: Any,
    assets: list[str] | str | None = None,
    epsg: int | None = None,
    resolution: float | tuple[float, float] | None = None,
    bounds: Bbox | None = None,
    bounds_latlon: Bbox | None = None,
    snap_bounds: bool = True,
    chunksize: int | str | tuple | dict | None = 1024,
    fill_value: float = np.nan,
    rescale: bool = True,
    sortby_date: str = "asc",
    resampling: str = "nearest",
    gdal_env: dict | None = None,
    errors_as_nodata: tuple | None = None,
    dtype: str = "float64",
    xy_coords: str = "topleft",
    properties: bool | str | list = True,
    band_coords: bool = True,
    overview_mode: str = "exact",
    catalog_format: str | None = None,
) -> RasterStack:
    """items → prepared asset table → tile grid join → the read plan
    (``tiles`` and ``pixels()`` are scans of it).

    ``properties`` picks which item-property fields are exposed as
    time-dimension metadata (reference stack.py:45,230-237): ``True`` = all,
    ``False`` = none, a name or list = only those. ``band_coords=False``
    drops the per-band metadata table (reference stack.py:46,238).

    ``items`` may be STAC-ish objects/dicts (driver-side normalization) or a
    string path/glob on storage for distributed ingest (the 100 TB-catalog
    paths): item JSONL (``sources.stac.items_from_jsonl``) or
    stac-geoparquet (``items_from_geoparquet``). Routing is by the final
    path component's extension (``.parquet`` / ``.pq`` / ``.geoparquet`` →
    geoparquet, anything else → JSONL); pass ``catalog_format="geoparquet"``
    or ``"jsonl"`` explicitly for ambiguous paths (e.g. a directory of
    parquet part-files with no extension).

    ``overview_mode`` (engine extension; no reference counterpart — the
    reference gets decimation from GDAL's WarpedVRT, rio_reader.py:344-360):
    how decimated fallback reads may use COG overview IFDs — ``"exact"``
    (default; only when bit-identical to the full-res gather), ``"snap"``
    (WarpedVRT parity, approximate by up to one block), ``"off"``.
    """
    if xy_coords not in ("topleft", "center"):
        raise ValueError(f"xy_coords must be 'topleft' or 'center', got {xy_coords!r}")
    prepared: Prepared | None = None
    if catalog_format not in (None, "geoparquet", "jsonl"):
        raise ValueError(
            f"catalog_format must be 'geoparquet', 'jsonl', or None (infer "
            f"from the path extension), got {catalog_format!r}"
        )
    if isinstance(items, str):
        # Route by the FINAL path component's extension only — a directory
        # named .../geoparquet_export/items.jsonl must go to the JSONL
        # reader. Ambiguous paths (extensionless directories) take the
        # explicit catalog_format= parameter.
        leaf = items.rstrip("/").rsplit("/", 1)[-1].lower()
        is_geoparquet = (
            catalog_format == "geoparquet"
            if catalog_format
            else leaf.endswith((".parquet", ".pq", ".geoparquet"))
        )
        if is_geoparquet:
            # stac-geoparquet bulk catalogs (split-parallel, column-pruned)
            from stackstac_spark.sources.stac import items_from_geoparquet

            items_df, assets_df = items_from_geoparquet(spark, items)
        else:
            from stackstac_spark.sources.stac import items_from_jsonl

            items_df, assets_df = items_from_jsonl(spark, items)
    else:
        from stackstac_spark.prepare_local import LOCAL_PREPARE_MAX, prepare_local
        from stackstac_spark.sources.stac import items_to_plain

        plain = items_to_plain(items)
        if len(plain) <= LOCAL_PREPARE_MAX:
            # small driver-side catalogs: the same inference kernel as
            # prepare(), run once on the driver with zero Spark jobs during
            # planning — the reference plans a 13-item stack in ~117 ms
            # (BASELINE.md) and so should we
            prepared = prepare_local(
                spark,
                plain,
                assets=assets,
                epsg=epsg,
                resolution=resolution,
                bounds=bounds,
                bounds_latlon=bounds_latlon,
                snap_bounds=snap_bounds,
                rescale=rescale,
                dtype=dtype,
                sortby_date=sortby_date,
            )
        else:
            items_df, assets_df = items_to_dataframes(spark, plain)
    if prepared is None:
        prepared = prepare(
            items_df,
            assets_df,
            assets=assets,
            epsg=epsg,
            resolution=resolution,
            bounds=bounds,
            bounds_latlon=bounds_latlon,
            snap_bounds=snap_bounds,
            rescale=rescale,
            dtype=dtype,
            sortby_date=sortby_date,
        )
    tiles_grid = tile_grid(spark, prepared.spec, chunksize=chunksize, bounds=bounds, dtype=dtype)
    joined = join_assets_to_tiles(prepared.asset_table, tiles_grid)
    error_acc = spark.sparkContext.accumulator(0)
    overview_acc = spark.sparkContext.accumulator(0)
    kwargs: dict = dict(
        fill_value=fill_value,
        resampling=resampling,
        gdal_env=gdal_env,
        dtype=dtype,
        error_acc=error_acc,
        overview_mode=overview_mode,
        overview_acc=overview_acc,
    )
    if errors_as_nodata is not None:
        kwargs["errors_as_nodata"] = errors_as_nodata
    items_df = prepared.items_df
    if properties is False:
        items_df = items_df.withColumn(
            "properties", F.expr("cast(map() as map<string,string>)")
        )
    elif properties is not True:
        keep = [properties] if isinstance(properties, str) else list(properties)
        items_df = items_df.withColumn(
            "properties",
            F.map_filter("properties", lambda k, v: k.isin(*keep) if len(keep) else F.lit(False)),
        )
    return RasterStack(
        source=ReadPlan(joined, prepared.spec, kwargs),
        spec=prepared.spec,
        asset_ids=prepared.asset_ids,
        items_df=items_df,
        band_fields=prepared.band_fields if band_coords else None,
        dtype=dtype,
        fill_value=fill_value,
        xy_coords=xy_coords,
        read_error_acc=error_acc,
        overview_read_acc=overview_acc,
    )
