"""The shared metadata-inference kernel (prepare.py): per-batch partials
merge to the single-pass result, the distributed entry point ships the
user-CRS registry to the executors that run it, and a catalog read from
storage is parsed once."""

import json

import numpy as np
import pandas as pd

from stackstac_spark.functions import proj as P
from stackstac_spark.prepare import merge_summaries, prepare, summarize, with_out_bounds
from stackstac_spark.prepare_local import prepare_local
from stackstac_spark.sources.stac import items_to_dataframes
from stackstac_spark.stack import stack
from tests.test_prepare_local_parity import _assert_same, _item


def _effective(rows):
    return pd.DataFrame(
        rows,
        columns=["asset_id", "item_id", "proj_epsg", "proj_bbox", "proj_shape",
                 "proj_transform", "i_bbox", "scale", "offset"],
    )


def test_batch_partials_merge_to_the_single_pass_summary():
    rows = []
    for i in range(9):
        x0 = 500000.0 + 37.0 * i
        res = 10.0 + (i % 3) * 5.0
        trans = [res, 0.0, x0, 0.0, -res, 4000640.0]
        if i % 3 == 0:  # same CRS, geotransform
            rows.append((f"b{i % 2}", f"it-{i}", 32633, None, [20, 30], trans, None, 1.0, 0.0))
        elif i % 3 == 1:  # cross CRS, geotransform
            t4326 = [0.0001 * (1 + i % 2), 0.0, 15.0 + 0.001 * i, 0.0, -0.0001, 36.1]
            rows.append((f"b{i % 2}", f"it-{i}", 4326, None, [40, 40], t4326, None, 2.0, 0.5))
        else:  # no transform: extent / shape
            bbox = [x0, 4000000.0, x0 + 300.0, 4000400.0]
            rows.append((f"b{i % 2}", f"it-{i}", 32633, bbox, [30, 40], None, None, 1.0, 0.0))
    rows.append(("b9", "it-9", None, None, None, None, None, 1.0, 0.0))  # no geometry
    whole = with_out_bounds(_effective(rows), 32633)
    single = summarize(whole, 32633, True)
    merged = merge_summaries(
        summarize(whole.iloc[s].reset_index(drop=True), 32633, True)
        for s in (slice(0, 4), slice(4, 4), slice(4, 7), slice(7, None))
    )
    assert merged == single
    assert set(single) == {"no_geom", "no_res", "rescale", "res", "bounds"}
    assert single["no_geom"] == ("b9", "it-9")
    assert single["rescale"] == (2.0, 0.5)
    np.testing.assert_allclose(
        single["bounds"][:2],
        np.nanmin(np.stack([b for b in whole["out_bounds"] if b is not None])[:, :2], axis=0),
    )


def test_registered_crs_parity_distributed_vs_local(spark):
    """Assets in a driver-registered private CRS stacked to EPSG:3035 with
    inferred resolution: the distributed kernel reprojects in executor
    processes, which only know the CRS if prepare ships the registry."""
    P.register_crs(990950, "+proj=lcc +lat_1=44 +lat_2=49 +lat_0=46.5 +lon_0=3 "
                           "+x_0=700000 +y_0=6600000 +ellps=GRS80 +units=m")
    x0, y0 = P.transform_xy(4326, 990950, np.array([4.0]), np.array([46.0]))
    items = [
        _item(i, epsg=990950, origin=(float(x0[0]) + 300.0 * i, float(y0[0])),
              item_bbox=(3.9, 45.9, 4.1, 46.1))
        for i in range(3)
    ]
    loc = prepare_local(spark, items, epsg=3035)
    items_df, assets_df = items_to_dataframes(spark, items)
    dist = prepare(items_df, assets_df, epsg=3035, persist=False)
    _assert_same(loc, dist)
    assert dist.spec.epsg == 3035 and 5.0 < dist.spec.resolutions_xy[0] < 20.0


def test_jsonl_stack_items_df_reads_the_cache(spark, tmp_path):
    """A stack planned from a JSONL path hands out a persisted item table:
    actions on items_df read the cache instead of re-parsing the catalog."""
    path = tmp_path / "catalog.jsonl"
    path.write_text("".join(json.dumps(_item(i)) + "\n" for i in range(3)))
    st = stack(spark, str(path), assets=["red", "nir"], epsg=32633, resolution=10.0, chunksize=32)
    plan = st.items_df._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "InMemoryRelation", plan.toString()
    assert st.items_df.count() == 3
