"""Metadata preparation: items/assets → asset_table + RasterSpec.

Re-expresses the reference's ``prepare_items`` (stackstac prepare.py:59-395)
as ONE metadata-inference kernel in numpy, run by two entry points:

- ``prepare`` (this module): items/assets DataFrames of any size. Item sort,
  asset selection and the assets ⋈ items broadcast joins stay relational;
  the kernel runs per Arrow batch (``mapInPandas``) and only one small
  partial per batch is collected and merged on the driver, so an asset
  table for millions of items never materializes driver-side.
- ``prepare_local`` (prepare_local.py): a driver-side item list, run through
  the same kernel once with zero Spark jobs.

The kernel works on a pandas frame of EFFECTIVE asset rows (every asset
``proj:*`` field already fell back to its item-level value, reference
prepare.py:146-149):

- ``with_out_bounds``: asset bbox in the output CRS with the reference's
  priority chain (prepare.py:214-266): proj:bbox → corners of
  shape×transform → item lat/lon bbox, all through 4-corner reprojection
  (geom_utils.py:42-53);
- ``summarize``: one partial per frame — the guard witnesses, the rescale
  witness, the resolution minimum (prepare.py:268-333) and the bounds union
  (prepare.py:335-354);
- ``merge_summaries``: combines partials;
- ``finish``: raises the reference's errors and builds the ``RasterSpec``
  (GDAL -tap snapping, geom_utils.py:71-80).

Asset selection is by explicit list, by mimetype (a universal quantifier
over items, prepare.py:83-122) or, by default, the assets of the item with
the most assets. Without an explicit ``epsg=`` every asset must share one
CRS (prepare.py:187-206). With explicit bounds, assets outside them drop
(prepare.py:355-361); the all-empty row/col drop (prepare.py:384-393) is a
no-op in the sparse table.
"""

from __future__ import annotations

import pickle
import warnings
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stackstac_spark.functions.proj import _per_batch, reproject_bounds, transform_xy
from stackstac_spark.raster_spec import Bbox, RasterSpec, snapped_bounds, union_bounds


@dataclass
class Prepared:
    """The prepared IR: sparse asset table + grid spec + coordinate tables."""

    asset_table: DataFrame  # item_idx, band_idx, asset_id, url, bounds[4], scale, offset
    spec: RasterSpec
    asset_ids: list[str]
    items_df: DataFrame  # item_idx, item_id, datetime, properties, ...
    band_fields: DataFrame | None = None  # asset_id-level constant fields


# --- mimetype matching (reference prepare.py:35-56) -------------------------


class Mimetype:
    """'image/tiff; application=geotiff' → subset-matchable mimetype.

    ``Mimetype.from_str("image")`` matches any image/*; parameters given by
    the user must be a subset of the asset's (prepare.py:35-56)."""

    def __init__(self, type_: str, subtype: str | None, params: dict[str, str]):
        self.type = type_
        self.subtype = subtype
        self.params = params

    @classmethod
    def from_str(cls, s: str) -> "Mimetype":
        parts = [p.strip() for p in s.split(";")]
        full = parts[0]
        params = {}
        for p in parts[1:]:
            if "=" in p:
                k, v = p.split("=", 1)
                params[k.strip()] = v.strip()
        if "/" in full:
            type_, subtype = full.split("/", 1)
        else:
            type_, subtype = full, None
        return cls(type_, subtype or None, params)

    def matches(self, other_str: str | None) -> bool:
        if other_str is None:
            return False
        other = Mimetype.from_str(other_str)
        if self.type != other.type:
            return False
        if self.subtype is not None and self.subtype != other.subtype:
            return False
        return all(other.params.get(k) == v for k, v in self.params.items())


# --- asset selection ---------------------------------------------------------


def select_by_mimetype(pairs, assets: str) -> list[str]:
    """Asset ids whose type matches ``assets`` on EVERY item carrying them
    (reference prepare.py:86-120), from ``(asset_id, type)`` pairs; untyped
    assets drop."""
    mt = Mimetype.from_str(assets)
    ok: dict[str, bool] = {}
    for aid, typ in pairs:
        ok[aid] = ok.get(aid, True) and mt.matches(typ)
    return sorted(aid for aid, v in ok.items() if v)


def explicit_asset_ids(assets: list[str], present: set) -> list[str]:
    """An explicit asset list minus the ids no item carries. Reference
    semantics: an asset id empty on EVERY item is an all-empty column and
    is dropped (prepare.py:384-393), not an error — unless nothing
    survives."""
    kept = [a for a in assets if a in present]
    unknown = [a for a in assets if a not in present]
    if unknown:
        if not kept:
            raise ValueError(
                f"Asset ids {unknown} not found on any item; available: {sorted(present)}"
            )
        warnings.warn(f"Dropping asset ids not present on any item: {unknown}", stacklevel=4)
    return kept


def _asset_pairs(assets_df: DataFrame, items_df: DataFrame) -> list:
    """The DISTINCT (asset_id, type, effective EPSG, item exists) rows of
    the asset table — a native dedup job, metadata-plane tiny at any corpus
    scale, that serves explicit and mimetype selection and the distinct-CRS
    check (prepare.py:187-206) in one driver round-trip. The effective EPSG
    is the asset ``proj:epsg`` with item-level fallback (prepare.py:146-149).
    LEFT join: selection sees EVERY asset row, while the CRS check keeps
    only rows whose item exists — the population of the downstream
    asset⋈item INNER join."""
    return (
        assets_df.join(
            F.broadcast(
                items_df.select(
                    "item_id",
                    F.col("proj_epsg").alias("i_epsg"),
                    F.lit(True).alias("has_item"),
                )
            ),
            "item_id",
            "left",
        )
        .select(
            "asset_id",
            "type",
            F.coalesce("proj_epsg", "i_epsg").alias("epsg"),
            "has_item",
        )
        .distinct()
        .collect()
    )


# --- inference kernel --------------------------------------------------------

#: the per-asset geometry fields that fall back to the item's
PROJ_FIELDS = ("proj_epsg", "proj_bbox", "proj_shape", "proj_transform")


def common_epsg(codes) -> int:
    """The one CRS every asset shares (reference prepare.py:187-206)."""
    distinct = sorted({int(c) for c in codes if c is not None and c == c})  # c == c: not NaN
    if len(distinct) != 1:
        raise ValueError(
            f"Cannot pick a common CRS: assets have EPSG codes {distinct}; "
            "pass epsg= explicitly"
        )
    return distinct[0]


def _mat(col: pd.Series, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Array column → ((n, k) float matrix with NaN rows for nulls, non-null mask)."""
    vals = col.to_numpy()
    ok = pd.notna(vals)
    out = np.full((len(vals), k), np.nan)
    if ok.any():
        out[ok] = np.stack(vals[ok])
    return out, ok


def _epsg(col: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """EPSG column → (int64 codes, non-null mask)."""
    e = pd.to_numeric(col).to_numpy(dtype="float64")
    ok = ~np.isnan(e)
    return np.where(ok, e, -1).astype("int64"), ok


def _to_out_crs(boxes: np.ndarray, src: np.ndarray, out_epsg: int) -> np.ndarray:
    """(n, 4) boxes in per-row source CRSs → output-CRS boxes by 4-corner
    reprojection, one vectorized transform per distinct source CRS."""
    out = boxes.copy()
    for code in np.unique(src):
        if code == out_epsg:
            continue
        m = src == code
        b = boxes[m]
        tx, ty = transform_xy(
            int(code), out_epsg, b[:, [0, 2, 0, 2]].T.ravel(), b[:, [1, 1, 3, 3]].T.ravel()
        )
        tx, ty = tx.reshape(4, -1), ty.reshape(4, -1)
        out[m] = np.column_stack([tx.min(0), ty.min(0), tx.max(0), ty.max(0)])
    return out


def with_out_bounds(pdf: pd.DataFrame, out_epsg: int) -> pd.DataFrame:
    """Add ``out_bounds`` to ``pdf`` in place (and return it): each asset's
    bbox in the output CRS, by the priority chain proj:bbox →
    shape×transform corners → item lat/lon bbox; null where the row has no
    geometry."""
    bbox, has_bbox = _mat(pdf["proj_bbox"], 4)
    shape, has_shape = _mat(pdf["proj_shape"], 2)
    t, has_t = _mat(pdf["proj_transform"], 6)
    epsg, has_epsg = _epsg(pdf["proj_epsg"])
    i_bbox, has_i_bbox = _mat(pdf["i_bbox"], 4)
    # full-affine 4-corner bounds (reference geom_utils.py:18-37,
    # bounds_from_affine): the rotation terms b and d MUST participate —
    # dropping them under-estimates bounds for skewed transforms and
    # degenerates to zero width for 90°-rotated ones (for rectilinear
    # transforms this is the axis-aligned min/max exactly)
    a, b, c, d, e, f = t.T
    h, w = shape.T
    xs = np.stack([c, c + a * w, c + b * h, c + a * w + b * h])
    ys = np.stack([f, f + d * w, f + e * h, f + d * w + e * h])
    corners = np.column_stack([xs.min(0), ys.min(0), xs.max(0), ys.max(0)])
    native = np.where(has_bbox[:, None], bbox, corners)
    use_native = (has_bbox | (has_shape & has_t)) & has_epsg
    ok = use_native | has_i_bbox
    boxes = _to_out_crs(
        np.where(use_native[:, None], native, i_bbox)[ok],
        np.where(use_native, epsg, 4326)[ok],
        out_epsg,
    )
    vals: list = [None] * len(pdf)
    for i, row in zip(np.flatnonzero(ok), boxes):
        vals[i] = row.tolist()
    pdf["out_bounds"] = vals
    return pdf


def _pixel_res(t: np.ndarray, src: np.ndarray, out_epsg: int) -> np.ndarray:
    """(n, 2) extent of each row's (0,0) pixel box in output-CRS units —
    exactly the reference's cross-CRS resolution (prepare.py:287-301),
    which reprojects the corners ``affine * [(0,0),(0,1),(1,1),(1,0)]``.
    Dividing native bounds by shape instead would yield a resolution in
    NATIVE units, wrong by orders of magnitude when the units differ (UTM
    meters vs 4326 degrees)."""
    cols = np.array([0.0, 0.0, 1.0, 1.0])[:, None]
    rows = np.array([0.0, 1.0, 1.0, 0.0])[:, None]
    xs = cols * t[:, 0] + rows * t[:, 1] + t[:, 2]
    ys = cols * t[:, 3] + rows * t[:, 4] + t[:, 5]
    for code in np.unique(src):
        m = src == code
        tx, ty = transform_xy(int(code), out_epsg, xs[:, m].ravel(), ys[:, m].ravel())
        xs[:, m], ys[:, m] = tx.reshape(4, -1), ty.reshape(4, -1)
    return np.column_stack([np.ptp(xs, axis=0), np.ptp(ys, axis=0)])


def _witness(pdf: pd.DataFrame, mask: np.ndarray) -> tuple[str, str] | None:
    """The lexicographic max ``(asset_id, item_id)`` of the flagged rows: one
    deterministic offender, whatever the batching, for the error message."""
    if not mask.any():
        return None
    return max(zip(pdf["asset_id"].to_numpy()[mask], pdf["item_id"].to_numpy()[mask]))


def summarize(pdf: pd.DataFrame, out_epsg: int, infer_res: bool) -> dict:
    """One partial over effective asset rows carrying ``out_bounds``. Keys
    are present only when some row contributes to them."""
    ob, has_ob = _mat(pdf["out_bounds"], 4)
    shape, has_shape = _mat(pdf["proj_shape"], 2)
    t, has_t = _mat(pdf["proj_transform"], 6)
    epsg, has_epsg = _epsg(pdf["proj_epsg"])
    scale = pdf["scale"].to_numpy(dtype="float64")
    offset = pdf["offset"].to_numpy(dtype="float64")
    has_trans = has_t & has_epsg
    same_crs = has_trans & (epsg == out_epsg)
    cross_crs = has_trans & ~same_crs
    rescaled = ~np.isnan(scale) & ((scale != 1.0) | (offset != 0.0))
    part = {
        # multi-band raster:bands guard (prepare.py:152-159; NaN scale flag)
        "bad_scale": _witness(pdf, np.isnan(scale)),
        # no-geometry guard (prepare.py:214-266 fallthrough)
        "no_geom": _witness(pdf, ~has_ob),
        # non-rectilinear same-CRS geotransform (the reference raises
        # NotImplementedError in auto-resolution mode, prepare.py:276-284)
        "non_rect": _witness(pdf, same_crs & ((t[:, 1] != 0.0) | (t[:, 3] != 0.0))),
        # resolution-inference failure: no transform AND no shape
        "no_res": _witness(pdf, ~has_trans & ~has_shape),
        # rescale castability witness (prepare.py:166-183)
        "rescale": max(zip(scale[rescaled].tolist(), offset[rescaled].tolist()), default=None),
    }
    if infer_res:
        # resolution branches mirror the reference exactly:
        #   transform + same CRS  → |a|, |e| of the geotransform
        #   transform + cross CRS → 1-px box reprojected to the out CRS
        #   no transform          → out-CRS bbox extent / proj:shape (out_bounds
        #                           is ALREADY reprojected, prepare.py:305-325)
        by_shape = ~has_trans & has_shape & has_ob
        res = np.concatenate(
            [
                np.abs(t[same_crs][:, [0, 4]]),
                _pixel_res(t[cross_crs], epsg[cross_crs], out_epsg),
                (ob[by_shape, 2:] - ob[by_shape, :2]) / shape[by_shape, ::-1],
            ]
        )
        if len(res):
            part["res"] = tuple(res.min(axis=0).tolist())
    if has_ob.any():
        part["bounds"] = (*ob[has_ob, :2].min(axis=0).tolist(), *ob[has_ob, 2:].max(axis=0).tolist())
    return {k: v for k, v in part.items() if v is not None}


def merge_summaries(parts) -> dict:
    """Combine partials: witnesses by max, resolution by element-wise min,
    bounds by union."""
    out: dict = {}
    for part in parts:
        for k, v in part.items():
            if k not in out:
                out[k] = v
            elif k == "res":
                out[k] = tuple(map(min, out[k], v))
            elif k == "bounds":
                out[k] = union_bounds(out[k], v)
            else:
                out[k] = max(out[k], v)
    return out


def finish(
    summary: dict,
    out_epsg: int,
    resolution: float | tuple[float, float] | None,
    bounds: Bbox | None,
    snap_bounds: bool,
    rescale: bool,
    dtype: str,
) -> RasterSpec:
    """Raise the inference errors and build the output grid."""
    if "bad_scale" in summary:
        aid, iid = summary["bad_scale"]
        raise ValueError(
            f"Assets with multi-band raster:bands are unsupported (asset "
            f"{aid!r} on item {iid!r})"
        )
    if "no_geom" in summary:
        aid, iid = summary["no_geom"]
        raise ValueError(
            f"No geometry information (proj:bbox / proj:shape+transform / bbox) "
            f"for asset {aid!r} of item {iid!r}"
        )
    if rescale and not np.issubdtype(np.dtype(dtype), np.floating) and "rescale" in summary:
        sc, of = summary["rescale"]
        if not (np.can_cast(np.min_scalar_type(sc), dtype) and np.can_cast(np.min_scalar_type(of), dtype)):
            raise ValueError(
                f"scale/offset ({sc}, {of}) can't be cast to output dtype {dtype}"
            )

    if resolution is not None:
        res_xy = (
            (float(resolution), float(resolution))
            if np.isscalar(resolution)
            else (float(resolution[0]), float(resolution[1]))
        )
    else:
        if "non_rect" in summary:
            aid, iid = summary["non_rect"]
            raise NotImplementedError(
                f"Cannot automatically compute the resolution: asset "
                f"{aid!r} on item {iid!r} has a "
                "non-rectilinear geotrans (its data is not axis-aligned). "
                "Please specify the `resolution=` argument."
            )
        if "no_res" in summary:
            aid, iid = summary["no_res"]
            raise ValueError(
                f"Cannot automatically compute the resolution: asset "
                f"{aid!r} on item {iid!r} provides "
                "neither proj:transform+proj:epsg nor proj:shape. "
                "Please specify the `resolution=` argument."
            )
        if "res" not in summary:
            raise ValueError("Cannot infer resolution; pass resolution=")
        res_xy = summary["res"]

    if bounds is None:
        if "bounds" not in summary:
            raise ValueError("No asset rows to infer bounds from; pass bounds=")
        bounds = summary["bounds"]
    if snap_bounds:
        bounds = snapped_bounds(bounds, res_xy)
    return RasterSpec(out_epsg, bounds, res_xy)


# --- main entry --------------------------------------------------------------


def prepare(
    items_df: DataFrame,
    assets_df: DataFrame,
    assets: list[str] | str | None = None,
    epsg: int | None = None,
    resolution: float | tuple[float, float] | None = None,
    bounds: Bbox | None = None,
    bounds_latlon: Bbox | None = None,
    snap_bounds: bool = True,
    rescale: bool = True,
    dtype: str = "float64",
    sortby_date: str = "asc",
    persist: bool = True,
) -> Prepared:
    if bounds is not None and bounds_latlon is not None:
        raise ValueError("Cannot give both bounds and bounds_latlon")

    spark = items_df.sparkSession

    # 1. sort items by datetime, assign item_idx (stack.py:283-288: missing
    #    datetime sorts as ""). Items metadata is small next to pixel data, so
    #    a global row_number window is acceptable even at catalog scale.
    order = F.coalesce(F.col("datetime"), F.lit(""))
    if sortby_date not in (None, False):
        order = order.desc() if sortby_date == "desc" else order.asc()
        w = Window.orderBy(order, "item_id")
    else:
        w = Window.orderBy("item_id")
    items_idx = items_df.withColumn("item_idx", F.row_number().over(w) - 1)

    # 2. asset-id selection (prepare.py:83-122). One distinct-pairs job
    #    serves list/mimetype selection and the CRS check; the default
    #    selection (assets of the item with the most assets, order-
    #    preserving) needs per-item lists instead.
    pairs = _asset_pairs(assets_df, items_df) if assets is not None or epsg is None else []
    if isinstance(assets, str):
        asset_ids = select_by_mimetype(((r.asset_id, r.type) for r in pairs), assets)
    elif isinstance(assets, (list, tuple)):
        asset_ids = explicit_asset_ids(assets, {r.asset_id for r in pairs})
    else:
        row = (
            assets_df.groupBy("item_id")
            .agg(F.collect_list("asset_id").alias("ids"))
            .orderBy(F.size("ids").desc(), "item_id")
            .limit(1)
            .collect()
        )
        asset_ids = list(dict.fromkeys(row[0].ids)) if row else []
    if not asset_ids:
        raise ValueError("No assets selected")

    # 3. output CRS (prepare.py:187-206)
    if epsg is not None:
        out_epsg = int(epsg)
    else:
        keep = set(asset_ids)
        out_epsg = common_epsg(r.epsg for r in pairs if r.asset_id in keep and r.has_item)
    if bounds_latlon is not None:
        bounds = reproject_bounds(bounds_latlon, 4326, out_epsg)
    from stackstac_spark.session import local_df

    band_idx_df = local_df(
        spark, [(a, i) for i, a in enumerate(asset_ids)], "asset_id STRING, band_idx INT"
    )

    # 4. effective asset rows. The items side is ~n_bands× smaller than the
    #    asset table; broadcast it so the asset table is never shuffled during
    #    prepare (python-created DFs have no stats, so Catalyst would
    #    otherwise pick a sort-merge join and exchange BOTH sides). For
    #    catalogs beyond broadcast capacity, drop the hint and AQE's shuffle
    #    join takes over.
    at = (
        assets_df.join(F.broadcast(band_idx_df), "asset_id")
        .join(
            F.broadcast(items_idx).select(
                "item_id",
                "item_idx",
                F.col("bbox").alias("i_bbox"),
                *(F.col(c).alias(f"i_{c}") for c in PROJ_FIELDS),
            ),
            "item_id",
        )
        .select(
            "item_idx",
            "band_idx",
            "item_id",
            "asset_id",
            "href",
            "i_bbox",
            *(F.coalesce(c, f"i_{c}").alias(c) for c in PROJ_FIELDS),
            *(
                ("scale", "offset")
                if rescale
                else (F.lit(1.0).alias("scale"), F.lit(0.0).alias("offset"))
            ),
        )
    )

    # 5. the kernel per Arrow batch: out-CRS bounds, then one summary partial
    #    per batch, merged on the driver. The prepared table is read again by
    #    the scan join; cache it so the reprojection runs once (it is
    #    metadata-sized: O(items × bands)). Callers that prepare repeatedly in
    #    one session (e.g. the streaming foreachBatch sink) pass persist=False
    #    so caches don't accumulate.
    at = _per_batch(
        at,
        lambda pdf: with_out_bounds(pdf, out_epsg),
        T.StructType(at.schema.fields + [T.StructField("out_bounds", T.ArrayType(T.DoubleType()))]),
    )
    if persist:
        at = at.persist()
    partials = _per_batch(
        at,
        lambda pdf: pd.DataFrame(
            {"partial": [pickle.dumps(summarize(pdf, out_epsg, resolution is None))]}
        ),
        "partial BINARY",
    ).collect()
    spec = finish(
        merge_summaries(pickle.loads(r.partial) for r in partials),
        out_epsg,
        resolution,
        bounds,
        snap_bounds,
        rescale,
        dtype,
    )
    if bounds is not None:
        bminx, bminy, bmaxx, bmaxy = bounds
        ob = lambda i: F.col("out_bounds")[i]  # noqa: E731
        at = at.filter(
            (ob(0) < bmaxx) & (ob(2) > bminx) & (ob(1) < bmaxy) & (ob(3) > bminy)
        )

    # 6. final sparse asset table; empty rows/cols are simply absent
    #    (prepare.py:384-393's dense row/col drop is a no-op in sparse form —
    #    we additionally drop items that lost all assets from the coord table).
    asset_table = at.select(
        "item_idx",
        "band_idx",
        "asset_id",
        F.col("href").alias("url"),
        F.col("out_bounds").alias("bounds"),
        "scale",
        "offset",
    )
    surviving = asset_table.select("item_idx").distinct()
    items_out = items_idx.join(surviving, "item_idx", "left_semi")
    # a catalog read from storage (JSONL, geoparquet) would otherwise be
    # re-parsed by every action that touches the item table
    if persist:
        items_out = items_out.persist()

    # band-level constant fields (accumulate_metadata.py:101-131 semantics)
    band_fields = (
        assets_df.join(F.broadcast(band_idx_df), "asset_id")
        .select("asset_id", "band_idx", F.explode_outer("fields").alias("key", "value"))
        .groupBy("band_idx", "asset_id", "key")
        .agg(
            F.count_distinct("value").alias("nvals"),
            # ignorenulls: a key carried as {null, "x"} has one distinct
            # non-null value and must deterministically surface "x" — plain
            # first() could return the null depending on row order, diverging
            # from prepare_local's next-non-null pick
            F.first("value", ignorenulls=True).alias("value"),
        )
        .filter((F.col("nvals") == 1) & F.col("key").isNotNull())
        .select("band_idx", "asset_id", "key", "value")
    )

    return Prepared(asset_table, spec, asset_ids, items_out, band_fields)
