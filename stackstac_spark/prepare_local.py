"""Driver-side prepare for SMALL item lists: zero Spark jobs.

The distributed ``prepare`` (prepare.py) keeps item sort, asset selection
and the asset ⋈ item joins relational so a billion-item catalog never
materializes on the driver. The cost is a few small Spark jobs of fixed
overhead — seconds of latency to plan a 13-item stack the reference plans
in ~117 ms (BASELINE.md, docs/basic.ipynb cell 7). For interactive use with
a driver-side item LIST, that overhead buys nothing: the metadata is
already in driver memory.

``prepare_local`` builds the same effective asset rows in pandas (same
normalization kernel, ``sources.stac._item_to_rows``) and runs the SAME
inference kernel as prepare.py once, on the driver. It returns the same
``Prepared`` (the asset/items/band_fields tables become small local
DataFrames; everything downstream, including the scan, is unchanged and
still distributed). ``stack()`` routes here automatically for lists up to
``LOCAL_PREPARE_MAX`` items.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from stackstac_spark.functions.proj import reproject_bounds
from stackstac_spark.prepare import (
    PROJ_FIELDS,
    Prepared,
    common_epsg,
    explicit_asset_ids,
    finish,
    select_by_mimetype,
    summarize,
    with_out_bounds,
)
from stackstac_spark.raster_spec import Bbox, bounds_overlap
from stackstac_spark.sources.stac import ASSET_SCHEMA, ITEM_SCHEMA, _item_to_rows

#: stack() uses the driver path for item lists up to this size. Above it the
#: metadata plausibly matters at cluster scale — use the DataFrame path.
LOCAL_PREPARE_MAX = 1000

# column positions in _item_to_rows' item rows
_I = {f.name: i for i, f in enumerate(ITEM_SCHEMA.fields)}


def prepare_local(
    spark,
    items: list[dict],
    assets: list[str] | str | None = None,
    epsg: int | None = None,
    resolution: float | tuple[float, float] | None = None,
    bounds: Bbox | None = None,
    bounds_latlon: Bbox | None = None,
    snap_bounds: bool = True,
    rescale: bool = True,
    dtype: str = "float64",
    sortby_date: str = "asc",
) -> Prepared:
    if bounds is not None and bounds_latlon is not None:
        raise ValueError("Cannot give both bounds and bounds_latlon")

    from pyspark.sql import types as T

    from stackstac_spark.session import local_df

    rows = [_item_to_rows(it) for it in items]
    item_rows = [r[0] for r in rows]
    assets_pdf = pd.DataFrame(
        [a for r in rows for a in r[1]], columns=ASSET_SCHEMA.fieldNames()
    )

    # 1. sort items, assign item_idx (missing datetime sorts as ""): Spark
    #    sorts (datetime ASC|DESC, item_id ASC) — two stable passes
    keyed = sorted(item_rows, key=lambda r: r[_I["item_id"]] or "")
    if sortby_date not in (None, False):
        keyed.sort(key=lambda r: r[_I["datetime"]] or "", reverse=sortby_date == "desc")

    # 2. asset-id selection (the rules of prepare step 2)
    if isinstance(assets, (list, tuple)):
        asset_ids = explicit_asset_ids(assets, set(assets_pdf["asset_id"]))
    elif isinstance(assets, str):
        asset_ids = select_by_mimetype(zip(assets_pdf["asset_id"], assets_pdf["type"]), assets)
    else:
        per_item: dict[str, list[str]] = {}
        for item_id, asset_id in zip(assets_pdf["item_id"], assets_pdf["asset_id"]):
            per_item.setdefault(item_id, []).append(asset_id)
        best = sorted(per_item.items(), key=lambda kv: (-len(kv[1]), kv[0]))
        asset_ids = list(dict.fromkeys(best[0][1])) if best else []
    if not asset_ids:
        raise ValueError("No assets selected")

    # 3. effective asset rows: the assets ⋈ bands ⋈ items inner joins of the
    #    distributed path (duplicate ids fan out the same way; null item ids
    #    join nothing — pandas would match null keys to each other), each
    #    proj field falling back to the item's
    bands = pd.DataFrame({"asset_id": asset_ids, "band_idx": range(len(asset_ids))})
    item_side = pd.DataFrame(
        [(i, r[_I["item_id"]], r[_I["bbox"]], *(r[_I[c]] for c in PROJ_FIELDS)) for i, r in enumerate(keyed)],
        columns=["item_idx", "item_id", "i_bbox", *(f"i_{c}" for c in PROJ_FIELDS)],
    )
    banded = assets_pdf.merge(bands, on="asset_id")
    at = banded.merge(item_side.dropna(subset=["item_id"]), on="item_id")
    for c in PROJ_FIELDS:
        own = at[c].to_numpy()
        at[c] = np.where(pd.notna(own), own, at[f"i_{c}"].to_numpy())
    if not rescale:
        at["scale"], at["offset"] = 1.0, 0.0

    # 4. output CRS, then the inference kernel in one pass
    out_epsg = int(epsg) if epsg is not None else common_epsg(at["proj_epsg"])
    if bounds_latlon is not None:
        bounds = reproject_bounds(bounds_latlon, 4326, out_epsg)
    at = with_out_bounds(at, out_epsg)
    spec = finish(
        summarize(at, out_epsg, resolution is None),
        out_epsg,
        resolution,
        bounds,
        snap_bounds,
        rescale,
        dtype,
    )
    if bounds is not None:
        at = at[np.array([bounds_overlap(ob, bounds) for ob in at["out_bounds"]], dtype=bool)]

    # 5. final tables as local DataFrames (identical schemas to prepare.py)
    asset_table = local_df(
        spark,
        list(
            at[["item_idx", "band_idx", "asset_id", "href", "out_bounds", "scale", "offset"]]
            .itertuples(index=False, name=None)
        ),
        "item_idx INT, band_idx INT, asset_id STRING, url STRING, "
        "bounds ARRAY<DOUBLE>, scale DOUBLE, offset DOUBLE",
    )
    surviving = set(at["item_idx"])
    items_schema = T.StructType(
        [T.StructField("item_idx", T.IntegerType())] + list(ITEM_SCHEMA.fields)
    )
    items_out = local_df(
        spark,
        [(i, *r) for i, r in enumerate(keyed) if i in surviving],
        items_schema,
    )
    # band-level constant fields (same rule as prepare.py: value identical on
    # every asset row carrying the key)
    fields_acc: dict[tuple[int, str, str], set] = {}
    for bi, aid, fields in zip(banded["band_idx"], banded["asset_id"], banded["fields"]):
        for k, v in (fields or {}).items():
            fields_acc.setdefault((bi, aid, k), set()).add(v)
    band_fields = local_df(
        spark,
        [
            (bi, aid, k, next(v for v in vals if v is not None))
            for (bi, aid, k), vals in sorted(fields_acc.items())
            if len({v for v in vals if v is not None}) == 1
        ],
        "band_idx INT, asset_id STRING, key STRING, value STRING",
    )
    return Prepared(asset_table, spec, asset_ids, items_out, band_fields)
