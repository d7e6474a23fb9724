"""STAC catalog ingest: anything-item-like → items / assets DataFrames.

Mirrors the reference's input normalization (stac_types.py:136-200 in
/root/reference/stackstac): accepts plain dicts, sequences of dicts, objects
exposing ``to_dict()`` (pystac Item / ItemCollection), objects exposing
``.items`` or being iterable (catalogs), and single items. The output is
relational from the first moment:

- ``items_df``:  one row per STAC item, typed ``proj:*`` columns plus the
  open-ended properties as ``MAP<STRING,STRING>``,
- ``assets_df``: one row per (item, asset), exploded.

On a real deployment these come from ``spark.read.json`` over item JSONL on
object storage — schema identical, so everything downstream is unchanged.
"""

from __future__ import annotations

import json
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

ITEM_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.StringType()),
        T.StructField("collection", T.StringType()),
        T.StructField("datetime", T.StringType()),  # ISO8601; parsed in prepare
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
        T.StructField("proj_epsg", T.IntegerType()),
        T.StructField("proj_bbox", T.ArrayType(T.DoubleType())),
        T.StructField("proj_shape", T.ArrayType(T.IntegerType())),
        T.StructField("proj_transform", T.ArrayType(T.DoubleType())),
        T.StructField("properties", T.MapType(T.StringType(), T.StringType())),
    ]
)

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.StringType()),
        T.StructField("asset_id", T.StringType()),
        T.StructField("href", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("proj_epsg", T.IntegerType()),
        T.StructField("proj_bbox", T.ArrayType(T.DoubleType())),
        T.StructField("proj_shape", T.ArrayType(T.IntegerType())),
        T.StructField("proj_transform", T.ArrayType(T.DoubleType())),
        T.StructField("scale", T.DoubleType()),
        T.StructField("offset", T.DoubleType()),
        T.StructField("fields", T.MapType(T.StringType(), T.StringType())),
    ]
)


def items_to_plain(items: Any) -> list[dict]:
    """Normalize pystac/satstac/dict inputs to a list of plain item dicts
    (reference stac_types.py:136-200 semantics, duck-typed so the libraries
    themselves are not required)."""
    if items is None:
        raise TypeError("items is None")
    if isinstance(items, dict):
        if "type" in items and items.get("type") == "FeatureCollection":
            return list(items.get("features", []))
        return [items]
    if hasattr(items, "to_dict"):
        plain = items.to_dict()
        return items_to_plain(plain)
    if hasattr(items, "items") and not isinstance(items, (list, tuple)):
        # catalog-ish: .items may be a method (pystac) or attribute (satstac)
        inner = items.items
        inner = inner() if callable(inner) else inner
        return items_to_plain(list(inner))
    if isinstance(items, Iterable) and not isinstance(items, (str, bytes)):
        out: list[dict] = []
        for it in items:
            out.extend(items_to_plain(it))
        return out
    raise TypeError(f"Don't know how to interpret {type(items)!r} as STAC items")


def _num_list(v, n=None, cast=float):
    if v is None:
        return None
    try:
        lst = [cast(x) for x in v]
    except (TypeError, ValueError):
        return None
    if n is not None:
        if len(lst) < n:
            return None
        lst = lst[:n]  # over-long lists would crash ragged np.stack downstream
    return lst


def _bbox2d(v):
    """2-D [minx, miny, maxx, maxy] from a STAC bbox of 4 OR 6 elements.

    A 3-D bbox is [w, s, minz, e, n, maxz] (STAC spec §bbox: 2·n axes) — a
    naive first-4 slice would read minz as maxx, silently corrupting every
    downstream 4-corner reprojection and the inferred grid bounds."""
    lst = _num_list(v)
    if lst is None or len(lst) < 4:
        return None
    if len(lst) >= 6 and len(lst) % 2 == 0:
        half = len(lst) // 2
        return [lst[0], lst[1], lst[half], lst[half + 1]]
    return lst[:4]


def _proj_fields(d: dict) -> tuple:
    epsg = d.get("proj:epsg")
    code = d.get("proj:code")  # STAC proj v2 spelling
    if epsg is None and isinstance(code, str) and code.upper().startswith("EPSG:"):
        epsg = code.split(":", 1)[1]
    shape = _num_list(d.get("proj:shape"), 2, int)
    transform = _num_list(d.get("proj:transform"))
    if transform is not None and len(transform) not in (6, 9):
        transform = None
    return (
        int(epsg) if epsg is not None else None,
        _bbox2d(d.get("proj:bbox")),
        shape,
        transform[:6] if transform else None,
    )


def _stringify(v: Any) -> str:
    if isinstance(v, str):
        return v
    return json.dumps(v, sort_keys=True, default=str)


def items_to_dataframes(
    spark: SparkSession, items: Any
) -> tuple[DataFrame, DataFrame]:
    """(items_df, assets_df) from any STAC-ish input."""
    plain = items_to_plain(items)
    item_rows = []
    asset_rows = []
    for it in plain:
        item_row, a_rows = _item_to_rows(it)
        item_rows.append(item_row)
        asset_rows.extend(a_rows)
    # LocalRelation-backed frames (session.local_df): JVM-local metadata, no
    # Python worker round-trip per action, and Spark sizes the downstream
    # stages to the data instead of defaultParallelism. The production
    # ingest path (items_from_jsonl) sizes itself by input splits.
    from stackstac_spark.session import local_df

    return (
        local_df(spark, item_rows, ITEM_SCHEMA),
        local_df(spark, asset_rows, ASSET_SCHEMA),
    )


def _item_to_rows(it: dict) -> tuple[tuple, list[tuple]]:
    """One item dict → (item row, asset rows) — the single normalization
    kernel shared by the driver-side list path and the distributed JSONL
    path, so both produce byte-identical schemas."""
    props = it.get("properties", {}) or {}
    epsg, pbbox, pshape, ptrans = _proj_fields(props)
    item_id = it.get("id")
    item_row = (
        item_id,
        it.get("collection"),
        props.get("datetime"),
        _bbox2d(it.get("bbox")),
        epsg,
        pbbox,
        pshape,
        ptrans,
        {k: _stringify(v) for k, v in props.items()},
    )
    asset_rows = []
    for aid, a in (it.get("assets", {}) or {}).items():
        a_epsg, a_bbox, a_shape, a_trans = _proj_fields(a)
        raster_bands = a.get("raster:bands")
        scale, offset = 1.0, 0.0
        if raster_bands:
            if len(raster_bands) != 1:
                scale, offset = float("nan"), float("nan")
            else:
                scale = float(raster_bands[0].get("scale", 1.0) or 1.0)
                offset = float(raster_bands[0].get("offset", 0.0) or 0.0)
        fields = {
            k: _stringify(v)
            for k, v in a.items()
            if k not in ("href", "type") and not k.startswith("proj:")
        }
        asset_rows.append(
            (
                item_id,
                aid,
                a.get("href"),
                a.get("type"),
                a_epsg,
                a_bbox,
                a_shape,
                a_trans,
                scale,
                offset,
                fields,
            )
        )
    return item_row, asset_rows


def _parse_catalog(df: DataFrame, records) -> tuple[DataFrame, DataFrame]:
    """(items_df, assets_df) from a catalog DataFrame: ``records(pdf)`` turns
    each Arrow batch into STAC item dicts, which go through
    ``_item_to_rows`` in one ``mapInPandas`` per output table. The one
    parse of every distributed ingest path (JSONL, stac-geoparquet, the
    streaming sink)."""
    import pandas as pd

    def parse(schema, rows_of):
        def run(batches):
            for pdf in batches:
                rows = [r for it in records(pdf) for r in rows_of(*_item_to_rows(it))]
                yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

        return df.mapInPandas(run, schema)

    items_df = parse(ITEM_SCHEMA, lambda item, assets: [item])
    return items_df, parse(ASSET_SCHEMA, lambda item, assets: assets)


def _json_records(pdf):
    """The item dicts of a batch of JSONL lines (a ``value`` column)."""
    return (json.loads(s) for s in pdf["value"] if s.strip())


def items_from_jsonl(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Distributed STAC ingest: a directory/glob of item JSONL on (object)
    storage → (items_df, assets_df), same schemas as ``items_to_dataframes``.

    The text source splits by file/offset, so a billion-item catalog
    parallelizes across the cluster; normalization runs in Arrow-batched
    ``mapInPandas`` with the exact same kernel as the driver-side path.
    """
    return _parse_catalog(spark.read.text(path), _json_records)


# -- STAC-GeoParquet ---------------------------------------------------------
# The columnar catalog layout (public stac-geoparquet spec,
# github.com/stac-utils/stac-geoparquet): item properties flattened to
# top-level columns, `assets` as a struct/map of asset structs, `bbox` as a
# struct (v1.x) or 4-list (v0.x), `geometry` as WKB. The format big STAC
# APIs publish bulk catalogs in — a billion-item catalog is a few hundred
# parquet files, and Spark's parquet source gives split-parallel ingest plus
# column pruning (we never read `geometry`/`links` bytes at all).

_GPQ_NON_PROPERTY_COLS = {
    "type",
    "stac_version",
    "stac_extensions",
    "id",
    "geometry",
    "bbox",
    "links",
    "assets",
    "collection",
}


def _gpq_datetime_str(v) -> str:
    """pandas/py timestamp → the ISO8601 'Z' string form the JSON paths
    carry, so items_df rows are byte-identical across ingest paths."""
    try:
        if getattr(v, "tzinfo", None) is not None:
            import datetime as _dt

            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    except Exception:
        pass
    iso = v.isoformat()
    return iso + "Z" if not iso.endswith("Z") else iso


def _gpq_record_to_item(rec: dict) -> dict:
    """One flattened stac-geoparquet record → a plain STAC item dict, fed to
    the SAME ``_item_to_rows`` kernel as every other ingest path."""
    import math

    bbox = rec.get("bbox")
    if isinstance(bbox, dict):  # v1.x struct {xmin, ymin, xmax, ymax}
        bbox = [bbox.get("xmin"), bbox.get("ymin"), bbox.get("xmax"), bbox.get("ymax")]
    assets = rec.get("assets")
    if isinstance(assets, list):  # Arrow MAP surfaces as [(key, value), ...]
        assets = dict(assets)
    plain_assets = {}
    for aid, a in (assets or {}).items():
        if a is None:
            continue
        if isinstance(a, list):
            a = dict(a)
        plain_assets[aid] = {
            k: (list(v) if isinstance(v, (tuple, set)) or hasattr(v, "tolist") else v)
            for k, v in dict(a).items()
            if v is not None and not (isinstance(v, float) and math.isnan(v))
        }
    props = {}
    for k, v in rec.items():
        if k in _GPQ_NON_PROPERTY_COLS or v is None:
            continue
        if isinstance(v, float) and math.isnan(v):
            continue  # parquet NULL for a row missing this property
        if hasattr(v, "isoformat"):
            v = _gpq_datetime_str(v)
        elif hasattr(v, "tolist"):  # numpy array/scalar from an Arrow list
            v = v.tolist()
        props[k] = v
    return {
        "id": rec.get("id"),
        "collection": rec.get("collection"),
        "bbox": bbox,
        "assets": plain_assets,
        "properties": props,
    }


def items_from_geoparquet(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """Distributed STAC ingest from stac-geoparquet → (items_df, assets_df),
    same schemas as ``items_to_dataframes`` (shared ``_item_to_rows``
    kernel). `geometry` (WKB) and `links` are dropped BEFORE the scan, so
    parquet column pruning never reads those bytes."""
    df = spark.read.parquet(path)
    drop = [c for c in ("geometry", "links") if c in df.columns]
    if drop:
        df = df.drop(*drop)
    return _parse_catalog(df, lambda pdf: map(_gpq_record_to_item, pdf.to_dict("records")))


def items_to_geoparquet(items, path: str) -> None:
    """Write plain STAC item dicts as a stac-geoparquet v1-shaped catalog —
    the inverse of :func:`items_from_geoparquet`, closing the catalog round
    trip (search → process → export a derived catalog).

    Layout per the stac-geoparquet spec: one row per item; ``bbox`` as a
    ``{xmin, ymin, xmax, ymax}`` struct; ``assets`` as one struct column
    with a field per asset key (union across items — absent assets are
    null); each item property as a top-level column ('datetime' converted
    to a real UTC timestamp); ``geometry``/``links`` omitted (the reader
    prunes them before the scan anyway). Arrow infers the unified nested
    schema from the record list, so heterogeneous catalogs (different
    asset keys / property sets per item) land as nullable unions.

    Driver-side by design: a catalog export is metadata-plane (items, not
    pixels) — the same boundary as the reference's pystac handling. For
    bigger-than-driver catalogs, write the JSONL spool
    (``search_items(..., to_jsonl=...)``) and convert shard-wise.
    """
    import datetime as _dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from stackstac_spark.sources.stac import items_to_plain  # self-import ok

    records = []
    for it in items_to_plain(items):
        rec: dict = {
            "id": it.get("id"),
            "collection": it.get("collection"),
        }
        bbox = it.get("bbox")
        if bbox is not None:
            rec["bbox"] = {
                "xmin": float(bbox[0]),
                "ymin": float(bbox[1]),
                "xmax": float(bbox[2]),
                "ymax": float(bbox[3]),
            }
        for k, v in (it.get("properties") or {}).items():
            if k == "datetime" and isinstance(v, str):
                s = v[:-1] + "+00:00" if v.endswith("Z") else v
                try:
                    v = _dt.datetime.fromisoformat(s)
                    if v.tzinfo is None:
                        v = v.replace(tzinfo=_dt.timezone.utc)
                except ValueError:
                    pass  # non-ISO datetime string: keep as-is
            rec[k] = v
        rec["assets"] = {
            aid: dict(a) for aid, a in (it.get("assets") or {}).items()
        }
        records.append(rec)
    if not records:
        raise ValueError("items_to_geoparquet: no items to write")
    # Arrow infers the schema from the first rows — normalize every record
    # to the full key union (missing → null) so a property or asset that
    # first appears mid-catalog still gets a column
    all_keys: dict = {}
    all_asset_ids: dict = {}
    asset_fields: dict = {}  # aid -> union of that asset's fields
    for rec in records:
        for k in rec:
            all_keys.setdefault(k, None)
        for aid, a in (rec.get("assets") or {}).items():
            all_asset_ids.setdefault(aid, None)
            if a:
                asset_fields.setdefault(aid, {}).update(dict.fromkeys(a))
    for rec in records:
        for k in all_keys:
            rec.setdefault(k, None)
        assets = rec.get("assets") or {}
        for aid in all_asset_ids:
            a = assets.get(aid)
            if a is not None:
                for f in asset_fields.get(aid, ()):
                    a.setdefault(f, None)
            else:
                assets[aid] = None
        rec["assets"] = assets
    table = pa.Table.from_pylist(records)
    pq.write_table(table, path)
