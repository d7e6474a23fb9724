"""Temporal resample + reductions + band arithmetic — the delegated xarray
surface (SURVEY §2.6) as native DataFrame aggregations.

Reference usages these mirror:
- ``.resample(time="MS").median("time")`` (docs/basic.ipynb cell 10)
- ``.mean/.median/.min/.max(dim=...)`` (README.md:55, examples/show.ipynb)
- NDVI ``(nir - red) / (nir + red)`` (README.md:53-54)
- display percentile range (show.py:484-497)

All are single hash aggregates (partial + final); the band arithmetic
deliberately pivots bands to columns instead of self-joining on
(time, y, x) — one shuffle instead of a join of two huge sides.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_AGGS = {
    "mean": F.avg,
    "median": F.median,
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "count": F.count,
    "std": F.stddev,
}


_UNIT_MONTHS = {"month": 1, "quarter": 3, "year": 12}


def resample_time(
    pixels_with_time: DataFrame,
    every: str = "1 month",
    agg: str = "median",
    value_col: str = "value",
    keys: list[str] | None = None,
) -> DataFrame:
    """Tumbling event-time window + per-pixel reduction: the Spark-native
    ``.resample(time=...).agg(...)``. ``pixels_with_time`` must carry a
    ``time`` timestamp column (pixels ⋈ items_df on item_idx).

    Calendar units (``"N month/quarter/year"`` — pandas offset-style
    resampling, the reference delegates arbitrary offsets to xarray) bucket
    by integer epoch-month arithmetic anchored at 1970-01, so "3 months"
    and "2 quarters" work like pandas "3MS"/"2QS"; fixed durations
    (minutes/hours/days/weeks) use ``window()``. Either way it is a single
    hash aggregate."""
    fn = _AGGS[agg]
    if keys is None:
        keys = [c for c in ("band_idx", "row", "col") if c in pixels_with_time.columns]
    parts = every.split()
    head, unit = (parts[0], parts[-1]) if len(parts) > 1 else ("1", parts[0])
    unit = unit.rstrip("s").lower()
    if unit in _UNIT_MONTHS:
        n = int(head) if head.isdigit() else 1
        step = _UNIT_MONTHS[unit] * n
        # months since 1970-01, floored to the period start — pure integer
        # column arithmetic, TZ-immune, still one hash agg
        m = (F.year("time") - F.lit(1970)) * 12 + F.month("time") - F.lit(1)
        b = (F.floor(m / F.lit(step)) * step).cast("int")
        period = (
            F.make_date(
                F.lit(1970) + F.floor(b / F.lit(12)).cast("int"),
                F.pmod(b, F.lit(12)) + F.lit(1),
                F.lit(1),
            )
            .cast("timestamp")
            .alias("period_start")
        )
    else:
        period = F.window("time", every).start.alias("period_start")
    return (
        pixels_with_time.groupBy(period, *keys)
        .agg(fn(value_col).alias(agg))
        .select("period_start", *keys, agg)
    )


_PERIODS = {
    "month": lambda t: F.month(t),
    "quarter": lambda t: F.quarter(t),
    "dayofyear": lambda t: F.dayofyear(t),
    "year": lambda t: F.year(t),
    "season": lambda t: F.element_at(
        F.array(*[F.lit(s) for s in
                  ("DJF", "DJF", "MAM", "MAM", "MAM", "JJA",
                   "JJA", "JJA", "SON", "SON", "SON", "DJF")]),
        F.month(t),
    ),
}


def climatology(
    pixels_with_time: DataFrame,
    period: str = "month",
    agg: str = "mean",
    value_col: str = "value",
    keys: list[str] | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Calendar climatology — xarray's ``.groupby("time.month").mean()``
    idiom: group by the CALENDAR PERIOD of the timestamp (month-of-year /
    day-of-year / quarter / season ACROSS years), not by consecutive
    windows like :func:`resample_time`. The monthly-anomaly composite every
    temporal analysis starts from.

    ``pixels_with_time`` carries a ``time`` column (pixels ⋈ items_df).
    One ``date_part`` groupBy — a single hash aggregate with map-side
    partials; at 100 TB the shuffle carries (period × pixel) partials, the
    same cardinality as any per-pixel reduction. NaN observations are
    masked to null first (missing stays missing, xarray skipna default).

    Returns (period, *keys, <agg>, n_obs).
    """
    if period not in _PERIODS:
        raise ValueError(f"period must be one of {sorted(_PERIODS)}, got {period!r}")
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {sorted(_AGGS)}, got {agg!r}")
    fn = _AGGS[agg]
    if keys is None:
        keys = [c for c in ("band_idx", "row", "col") if c in pixels_with_time.columns]
    v = F.when(~F.isnan(F.col(value_col)), F.col(value_col))
    agg_expr = fn(v)
    if round_to is not None:
        agg_expr = F.round(agg_expr, round_to)
    return (
        pixels_with_time.withColumn("__v", v)
        .groupBy(_PERIODS[period]("time").alias(period), *keys)
        .agg(agg_expr.alias(agg), F.count("__v").alias("n_obs"))
        .select(period, *keys, agg, "n_obs")
    )


def climatology_anomaly(
    pixels_with_time: DataFrame,
    period: str = "month",
    value_col: str = "value",
    keys: list[str] | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Per-observation anomaly vs the calendar climatology:
    ``value - mean(values of the same calendar period at this pixel)`` —
    xarray's ``da.groupby("time.month") - clim`` broadcast.

    Plan: the climatology (mean, unrounded) joins back on
    (period, *keys) — an equi-join co-keyed with the groupBy that produced
    it, so the shuffle is reused; the climatology side is 1/period-count
    the size of the data."""
    if keys is None:
        keys = [c for c in ("band_idx", "row", "col") if c in pixels_with_time.columns]
    clim = climatology(
        pixels_with_time, period=period, agg="mean",
        value_col=value_col, keys=keys, round_to=None,
    ).withColumnRenamed("mean", "__clim")
    px = pixels_with_time.withColumn(
        period, _PERIODS[period]("time")
    )
    anom = F.col(value_col) - F.col("__clim")
    if round_to is not None:
        anom = F.round(anom, round_to)
    return px.join(clim, [period, *keys]).select(
        *px.columns, anom.alias("anomaly")
    )


def temporal_diff(
    pixels: DataFrame,
    dim_col: str = "item_idx",
    value_col: str = "value",
    keys: list[str] | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Per-pixel difference vs the previous observation along time —
    xarray's ``.diff("time")``, the change-detection primitive (NDVI delta,
    disturbance mapping).

    Sparse semantics: the difference is between consecutive OBSERVATIONS
    of each pixel (absent rows are missing, not zero) — matching xarray's
    diff over a dense array whose NaN slots drop out of both sides. NaN
    observations are treated as missing (skipped entirely, so the diff
    spans across them like ffill's source tracking).

    ONE window (lag over the pixel key ordered by the dim) — a single
    shuffle keyed per pixel, the same partitioning ffill/interp use; at
    100 TB this is the minimal data movement any per-pixel temporal
    operator needs. Returns keys + (dim, prev_dim, <value>_diff); the
    first observation of each pixel has no predecessor and is absent.
    """
    from pyspark.sql import Window

    if keys is None:
        keys = [c for c in ("band_idx", "row", "col") if c in pixels.columns]
    obs = pixels.filter(~F.isnan(F.col(value_col)))
    w = Window.partitionBy(*keys).orderBy(dim_col)
    prev_v = F.lag(value_col).over(w)
    prev_d = F.lag(dim_col).over(w)
    d = F.col(value_col) - prev_v
    if round_to is not None:
        d = F.round(d, round_to)
    return (
        obs.select(
            *keys,
            F.col(dim_col),
            prev_d.alias(f"prev_{dim_col}"),
            d.alias(f"{value_col}_diff"),
        )
        .filter(F.col(f"prev_{dim_col}").isNotNull())
    )


def reduce_dims(
    pixels: DataFrame, dims: tuple[str, ...] = ("item_idx",), agg: str = "median"
) -> DataFrame:
    """``.median("time")`` / ``.mean(dim=("time","x","y"))`` etc.: drop the
    given dims, aggregate over them, keep the rest."""
    fn = _AGGS[agg]
    dimmap = {"time": "item_idx", "y": "row", "x": "col", "band": "band_idx"}
    drop = {dimmap.get(d, d) for d in dims}
    keys = [c for c in ("item_idx", "band_idx", "row", "col") if c in pixels.columns and c not in drop]
    return pixels.groupBy(*keys).agg(fn("value").alias(agg))


def ffill_time(
    pixels: DataFrame,
    dim_values: list,
    dim_col: str = "item_idx",
    value_col: str = "value",
    keys: list[str] | None = None,
) -> DataFrame:
    """Temporal forward-fill — xarray's ``.ffill("time")`` on the sparse
    pixel table (the cloud-gap-filling composite: each missing observation
    takes the most recent earlier one). ``dim_values`` is the full ordered
    time index (the stack's item list — driver-known and small); output is
    DENSE over keys × dim: one row per (pixel, time step), ``value`` null
    where no earlier observation exists.

    Plan: distinct pixel keys (one shuffle) × exploded time index (JVM
    generator, no join), left join back to observations (co-keyed), then
    ONE window per pixel ordered by time with ``last(ignorenulls)``. The
    join and the window share the pixel-key partitioning, so it is two
    exchanges total. The T× row inflation is the *semantic* output of
    ffill (dense gap-filled series), not overhead — at 100 TB you run it
    after spatial/temporal slicing, like the reference's users do with
    xarray. NaN observations (errors-as-nodata fills) count as missing.
    """
    keys, joined = _dense_time_obs(pixels, dim_values, dim_col, value_col, keys)
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy(dim_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        joined.withColumn(value_col, F.last("__v", ignorenulls=True).over(w))
        .drop("__v")
    )


def _dense_time_obs(
    pixels: DataFrame,
    dim_values: list,
    dim_col: str,
    value_col: str,
    keys: list[str] | None,
):
    """Shared scaffolding of the temporal gap-filling operators: densify
    (distinct pixel keys × exploded time index) and left-join the
    observations with NaN masked to null as ``__v``. Returns
    ``(keys, joined)``; the join and any downstream per-pixel window share
    the pixel-key partitioning."""
    if not dim_values:
        raise ValueError("dim_values must be non-empty")
    if keys is None:
        keys = [c for c in ("band_idx", "row", "col") if c in pixels.columns]
    obs = pixels.select(
        *keys,
        F.col(dim_col),
        F.when(~F.isnan(F.col(value_col)), F.col(value_col)).alias("__v")
        if dict(pixels.dtypes)[value_col] in ("double", "float")
        else F.col(value_col).alias("__v"),
    )
    grid = (
        pixels.select(*keys)
        .distinct()
        .select(*keys, F.explode(F.array(*[F.lit(v) for v in dim_values])).alias(dim_col))
    )
    return keys, grid.join(obs, [*keys, dim_col], "left")


def focal_mean(
    pixels: DataFrame,
    radius: int = 1,
    grid_shape: tuple[int, int] | None = None,
    value_col: str = "value",
    keys: list[str] | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """Spatial focal (neighborhood) mean — xarray's
    ``.rolling(y=2r+1, x=2r+1, center=True, min_periods=1).mean()`` on the
    sparse pixel table: each output cell averages the present pixels in its
    (2r+1)² window; missing neighbors are simply absent (min_periods=1
    semantics), so edge cells average fewer samples.

    Scatter formulation: every source pixel contributes its value to the
    (2r+1)² windows it falls in (a JVM generator explode), then ONE hash
    aggregate on the target cell — one shuffle of (2r+1)²× the pixel count,
    which is the dense-rolling data volume; no self-join, no halo exchange
    bookkeeping. ``grid_shape=(h, w)`` clips contributions that fall
    outside the raster; None keeps all targets reachable from data.

    Returns keys + (row, col, focal_mean, n_samples).
    """
    if radius < 1:
        raise ValueError(f"radius must be ≥ 1, got {radius}")
    if keys is None:
        keys = [c for c in ("item_idx", "band_idx") if c in pixels.columns]
    offs = [(dy, dx) for dy in range(-radius, radius + 1) for dx in range(-radius, radius + 1)]
    # NaN is missing under the engine's errors-as-nodata convention (scan
    # fills with NaN): mask to null so avg skips it and n_samples counts
    # only observed neighbors — xarray rolling(...).mean(min_periods=1)
    # semantics. A cell whose whole neighborhood is NaN keeps its row with
    # null focal_mean and n_samples=0.
    masked_v = F.when(~F.isnan(F.col(value_col)), F.col(value_col))
    contrib = pixels.select(
        *keys,
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("row") + dy).alias("r"), (F.col("col") + dx).alias("c")
                    )
                    for dy, dx in offs
                ]
            )
        ).alias("t"),
        masked_v.alias("__v"),
    ).select(*keys, F.col("t.r").alias("row"), F.col("t.c").alias("col"), "__v")
    if grid_shape is not None:
        h, w = grid_shape
        contrib = contrib.filter(
            (F.col("row") >= 0) & (F.col("row") < h)
            & (F.col("col") >= 0) & (F.col("col") < w)
        )
    mean = F.avg("__v") if round_to is None else F.round(F.avg("__v"), round_to)
    return contrib.groupBy(*keys, "row", "col").agg(
        mean.alias("focal_mean"),
        F.count("__v").alias("n_samples"),
    )


def focal_gradient(
    pixels: DataFrame,
    cellsize_x: float = 1.0,
    cellsize_y: float = 1.0,
    keys: list[str] | None = None,
    round_to: int | None = 9,
) -> DataFrame:
    """Horn (1981) 3x3 finite-difference gradient — the slope/aspect/
    hillshade primitive of DEM analysis (gdaldem's default kernel):

        dz/dx = ((c+2f+i) - (a+2d+g)) / (8·cellsize_x)
        dz/dy = ((g+2h+i) - (a+2b+c)) / (8·cellsize_y)

    over the 8 neighbors (a..i row-major, e = center unused). Emitted only
    where ALL 8 neighbors are observed and non-NaN (gdaldem edge
    semantics: no gradient at data edges).

    Same scatter shape as :func:`focal_mean` — each pixel contributes to
    the neighbors' stencils (and to its own, with weight 0, so the
    full-stencil test rides the same aggregate) via one JVM generator
    explode carrying the per-offset (wx, wy) weights, then ONE hash
    aggregate on the target cell; the shuffle is 9x the pixel count,
    which IS the stencil's data volume — one scan, zero joins.
    Returns keys + (row, col, dzdx, dzdy, slope).
    """
    if keys is None:
        keys = [c for c in ("item_idx", "band_idx") if c in pixels.columns]
    # weight tables, target = src - (dy, dx): src at offset (dy, dx) FROM
    # the target means the target gathers it with weight w(dy, dx)
    wx = {(-1, -1): -1.0, (0, -1): -2.0, (1, -1): -1.0,
          (-1, 1): 1.0, (0, 1): 2.0, (1, 1): 1.0}
    wy = {(-1, -1): -1.0, (-1, 0): -2.0, (-1, 1): -1.0,
          (1, -1): 1.0, (1, 0): 2.0, (1, 1): 1.0}
    # the center offset scatters with weight 0: it contributes nothing to
    # the sums but lets the "__n == 9" filter enforce BOTH full-stencil and
    # center-observed in the same aggregate — no second scan of the pixel
    # table, no join (a previous revision joined targets back on)
    offs = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    masked = F.when(~F.isnan(F.col("value")), F.col("value"))
    contrib = pixels.withColumn("__v", masked).filter(F.col("__v").isNotNull()).select(
        *keys,
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("row") - dy).alias("r"),
                        (F.col("col") - dx).alias("c"),
                        F.lit(wx.get((dy, dx), 0.0)).alias("wx"),
                        F.lit(wy.get((dy, dx), 0.0)).alias("wy"),
                    )
                    for dy, dx in offs
                ]
            )
        ).alias("t"),
        F.col("__v"),
    ).select(
        *keys,
        F.col("t.r").alias("row"),
        F.col("t.c").alias("col"),
        F.col("t.wx").alias("wx"),
        F.col("t.wy").alias("wy"),
        "__v",
    )
    gx = F.sum(F.col("wx") * F.col("__v")) / F.lit(8.0 * cellsize_x)
    gy = F.sum(F.col("wy") * F.col("__v")) / F.lit(8.0 * cellsize_y)
    slope = F.sqrt(gx * gx + gy * gy)
    if round_to is not None:
        gx, gy, slope = (F.round(e, round_to) for e in (gx, gy, slope))
    return (
        contrib.groupBy(*keys, "row", "col")
        .agg(
            gx.alias("dzdx"), gy.alias("dzdy"), slope.alias("slope"),
            F.count("__v").alias("__n"),
        )
        # 9 = the 8 neighbors AND the (weight-0) center all observed
        .filter(F.col("__n") == 9)
        .drop("__n")
    )


def terrain_ruggedness(
    pixels: DataFrame,
    keys: list[str] | None = None,
    round_to: int | None = 6,
) -> DataFrame:
    """gdaldem's remaining terrain trio over the sparse pixel table — per
    cell with a FULL 3x3 stencil (same edge semantics as
    :func:`focal_gradient`):

    - ``tri`` — Terrain Ruggedness Index, Riley et al. 1999 (gdaldem TRI
      default): sqrt(Σ (center − neighbor)²) over the 8 neighbors;
    - ``tpi`` — Topographic Position Index: center − mean(8 neighbors);
    - ``roughness`` — max − min of the 9-cell window.

    Unlike the linear stencils (:func:`focal_mean` / :func:`focal_gradient`),
    these need center−neighbor DIFFERENCES, so the scatter-aggregate trick
    would have to recover Σ(c−n)² from Σn/Σn² — a catastrophic cancellation
    for DEM-scale values (1e6² − 1e12-magnitude partial sums leave ~1e-2 of
    noise, far above any sane rounding). Instead: gather formulation — the
    pixel table exploded to its 8 neighbor coordinates (still map-side),
    ONE equi-join back on the cell key to fetch neighbor values next to the
    center value, then one aggregate of O(1)-magnitude difference terms.
    Join volume is 8x the pixel count (the stencil's data volume), keyed by
    (keys, row, col) — co-partitioned, AQE-replannable, no driver state.
    Returns keys + (row, col, tri, tpi, roughness).
    """
    if keys is None:
        keys = [c for c in ("item_idx", "band_idx") if c in pixels.columns]
    px = (
        pixels.withColumn(
            "__v", F.when(~F.isnan(F.col("value")), F.col("value"))
        )
        .filter(F.col("__v").isNotNull())
        .select(*keys, "row", "col", "__v")
        .localCheckpoint()  # probed twice: centers and neighbor fetch
    )
    offs = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if not (dy == 0 and dx == 0)]
    centers = px.select(
        *keys,
        F.col("row").alias("__cr"),
        F.col("col").alias("__cc"),
        F.col("__v").alias("__c"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("row") + dy).alias("r"), (F.col("col") + dx).alias("c")
                    )
                    for dy, dx in offs
                ]
            )
        ).alias("t"),
    ).select(
        *keys, "__cr", "__cc", "__c",
        F.col("t.r").alias("row"), F.col("t.c").alias("col"),
    )
    joined = centers.join(px, [*keys, "row", "col"])
    d = F.col("__c") - F.col("__v")
    agg = joined.groupBy(*keys, "__cr", "__cc").agg(
        F.sqrt(F.sum(d * d)).alias("__tri"),
        (F.first("__c") - F.avg("__v")).alias("__tpi"),
        (
            F.greatest(F.max("__v"), F.first("__c"))
            - F.least(F.min("__v"), F.first("__c"))
        ).alias("__rough"),
        F.count(F.lit(1)).alias("__n"),
    )
    tri_c, tpi_c, rough_c = F.col("__tri"), F.col("__tpi"), F.col("__rough")
    if round_to is not None:
        tri_c, tpi_c, rough_c = (
            F.round(e, round_to) for e in (tri_c, tpi_c, rough_c)
        )
    return (
        agg.filter(F.col("__n") == 8)
        .select(
            *keys,
            F.col("__cr").alias("row"),
            F.col("__cc").alias("col"),
            tri_c.alias("tri"),
            tpi_c.alias("tpi"),
            rough_c.alias("roughness"),
        )
    )


def hillshade(
    pixels: DataFrame,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    z_factor: float = 1.0,
    cellsize_x: float = 1.0,
    cellsize_y: float = 1.0,
    keys: list[str] | None = None,
    round_gradient_to: int | None = None,
    round_to: int | None = 4,
) -> DataFrame:
    """gdaldem-style Horn hillshade: :func:`focal_gradient` → Lambertian
    illumination, entirely native trig (the terrain-viz endgame on top of
    the slope/aspect primitive):

        slope  = atan(z · sqrt(dzdx² + dzdy²))
        aspect = atan2(dzdy, -dzdx)
        cang   = sin(alt)·cos(slope) + cos(alt)·sin(slope)·cos(az - π/2 - aspect)
        shade  = 1 + 254·cang   (clamped to 1 where the face is self-shadowed;
                                 0 is reserved for nodata, GDAL convention)

    ``azimuth_deg`` is measured clockwise from north (315 = NW default),
    ``altitude_deg`` above the horizon. The sun-angle sines/cosines are
    computed driver-side and folded in as literals. ``round_gradient_to``
    optionally rounds dzdx/dzdy BEFORE the trig — set it when replaying
    against an engine whose floating sum order differs, so a last-ulp
    gradient difference can't flip the rounded shade. Returns
    keys + (row, col, shade); edge semantics inherited from
    :func:`focal_gradient` (full 8-neighbor stencils only).
    """
    az = math.radians(azimuth_deg)
    alt = math.radians(altitude_deg)
    g = focal_gradient(
        pixels, cellsize_x, cellsize_y, keys=keys, round_to=round_gradient_to
    )
    if keys is None:
        keys = [c for c in ("item_idx", "band_idx") if c in g.columns]
    gx, gy = F.col("dzdx"), F.col("dzdy")
    slope_ang = F.atan(F.lit(float(z_factor)) * F.sqrt(gx * gx + gy * gy))
    aspect = F.atan2(gy, -gx)
    cang = F.lit(math.sin(alt)) * F.cos(slope_ang) + F.lit(
        math.cos(alt)
    ) * F.sin(slope_ang) * F.cos(F.lit(az - math.pi / 2.0) - aspect)
    shade = F.when(cang <= 0.0, F.lit(1.0)).otherwise(1.0 + 254.0 * cang)
    if round_to is not None:
        shade = F.round(shade, round_to)
    return g.select(*keys, "row", "col", shade.alias("shade"))


def slope_aspect(
    pixels: DataFrame,
    z_factor: float = 1.0,
    cellsize_x: float = 1.0,
    cellsize_y: float = 1.0,
    keys: list[str] | None = None,
    round_gradient_to: int | None = None,
    round_to: int | None = 4,
) -> DataFrame:
    """gdaldem-style slope (degrees) + aspect (compass degrees) — the two
    terrain products :func:`hillshade` folds away into one shade value,
    exposed directly (gdaldem slope/aspect modes; Horn 1981 kernel via
    :func:`focal_gradient`):

        slope_deg  = degrees(atan(z · sqrt(dzdx² + dzdy²)))
        aspect_deg = compass azimuth (0 = north, clockwise) per GDAL:
                     raw = degrees(atan2(dzdy, -dzdx)), then
                     450 − raw if raw > 90 else 90 − raw, wrapped to
                     [0, 360) — gdaldem's exact post-atan2 transform
                     (alg/gdaldem.cpp), so z = x terrain (downslope
                     facing west) emits 270, not the math-convention
                     180; FLAT cells
                     (both gradients exactly 0) emit aspect −1.0, the
                     conventional flat sentinel (GDAL uses −9999 by
                     default; −1 matches its ``-zero_for_flat``-adjacent
                     behavior and keeps the column finite)

    Same map-only scatter/aggregate shape as the gradient (one explode +
    one hash agg, no joins); ``round_gradient_to`` rounds dzdx/dzdy BEFORE
    the trig for cross-engine replay (a last-ulp float-sum difference
    must not flip the rounded output). Returns keys + (row, col,
    slope_deg, aspect_deg).
    """
    g = focal_gradient(
        pixels, cellsize_x, cellsize_y, keys=keys, round_to=round_gradient_to
    )
    if keys is None:
        keys = [c for c in ("item_idx", "band_idx") if c in g.columns]
    gx, gy = F.col("dzdx"), F.col("dzdy")
    slope_deg = F.degrees(F.atan(F.lit(float(z_factor)) * F.sqrt(gx * gx + gy * gy)))
    raw = F.degrees(F.atan2(gy, -gx))
    compass = F.when(raw > 90.0, F.lit(450.0) - raw).otherwise(F.lit(90.0) - raw)
    compass = F.when(compass >= 360.0, compass - 360.0).otherwise(compass)
    aspect_deg = F.when((gx == 0.0) & (gy == 0.0), F.lit(-1.0)).otherwise(compass)
    if round_to is not None:
        slope_deg = F.round(slope_deg, round_to)
        aspect_deg = F.round(aspect_deg, round_to)
    return g.select(
        *keys, "row", "col", slope_deg.alias("slope_deg"), aspect_deg.alias("aspect_deg")
    )


def interp_na_time(
    pixels: DataFrame,
    dim_values: list,
    dim_col: str = "item_idx",
    value_col: str = "value",
    keys: list[str] | None = None,
) -> DataFrame:
    """Linear temporal gap interpolation — xarray's
    ``.interpolate_na(dim="time", method="linear")`` on the sparse pixel
    table: a missing observation between two observed ones takes the
    linear interpolation on the dim coordinate; gaps at the series edges
    stay null (no extrapolation, xarray's default).

    Same dense keys × time expansion as :func:`ffill_time`, then TWO
    windows per pixel (backward last-observation, forward
    first-observation — both on the same pixel-key partitioning, so the
    second window reuses the first's shuffle). NaN observations count as
    missing.
    """
    keys, joined = _dense_time_obs(pixels, dim_values, dim_col, value_col, keys)
    from pyspark.sql import Window

    joined = joined.withColumn(
        "__o", F.when(F.col("__v").isNotNull(), F.struct(F.col(dim_col).alias("t"), F.col("__v").alias("v")))
    )
    back = (
        Window.partitionBy(*keys).orderBy(dim_col).rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy(*keys).orderBy(dim_col).rowsBetween(0, Window.unboundedFollowing)
    )
    w_prev = F.last("__o", ignorenulls=True).over(back)
    w_next = F.first("__o", ignorenulls=True).over(fwd)
    out = joined.withColumn("__p", w_prev).withColumn("__n", w_next)
    t = F.col(dim_col).cast("double")
    pt, pv = F.col("__p.t").cast("double"), F.col("__p.v")
    nt, nv = F.col("__n.t").cast("double"), F.col("__n.v")
    interp = F.when(F.col("__v").isNotNull(), F.col("__v")).otherwise(
        F.when(
            F.col("__p").isNotNull() & F.col("__n").isNotNull(),
            F.round(pv + (nv - pv) * (t - pt) / (nt - pt), 6),
        )
    )
    return out.select(*keys, dim_col, interp.alias(value_col))


def zonal_stats(
    pixels: DataFrame,
    zones: DataFrame,
    value_col: str = "value",
    round_to: int = 6,
) -> DataFrame:
    """Zonal statistics — aggregate pixel values over labeled rectangular
    zones (``zones``: zone_id, row_min, row_max, col_min, col_max,
    inclusive bounds): the rasterstats/zonal-mean shape users run on a
    stackstac mosaic.

    Plan: the zone table is metadata-sized → broadcast nested-loop with the
    containment predicate (each pixel tests against every zone — fine for
    the O(10³) zones of a real AOI set), then one hash aggregate per zone.
    For zone counts beyond broadcast, bin both sides to a coarse spatial
    grid and equi-join on the bin (the 2-D extension of
    operators/rangejoin.py) — documented scale path.

    Overlapping zones count pixels in each zone they touch (rasterstats
    semantics). Returns (zone_id, n_pixels, mean_value, min_value,
    max_value).
    """
    within = (
        (F.col("row") >= F.col("row_min"))
        & (F.col("row") <= F.col("row_max"))
        & (F.col("col") >= F.col("col_min"))
        & (F.col("col") <= F.col("col_max"))
    )
    # NaN pixels are nodata (rasterstats skipna semantics): mask to null so
    # mean/min/max skip them and n_pixels counts only valid pixels.
    masked_v = F.when(~F.isnan(F.col(value_col)), F.col(value_col))
    return (
        pixels.withColumn("__v", masked_v)
        .join(F.broadcast(zones), within)
        .groupBy("zone_id")
        .agg(
            F.count("__v").alias("n_pixels"),
            F.round(F.avg("__v"), round_to).alias("mean_value"),
            F.round(F.min("__v"), round_to).alias("min_value"),
            F.round(F.max("__v"), round_to).alias("max_value"),
        )
    )


def band_pivot(
    pixels: DataFrame, band_names: list[str], band_idxs: list[int] | None = None
) -> DataFrame:
    """Pivot band_idx → one column per band, per (item_idx, row, col).

    The preferred physical plan for band arithmetic (NDVI etc.): one
    hash aggregate — one ``first(value where band_idx = i)`` per band, so
    one exchange with map-side partial aggregation — instead of a self-join
    of the pixel table against itself. (``pivot().agg(first)`` plans two
    aggregates and two exchanges of the pixel rows.)

    ``band_idxs`` gives the tile band_idx VALUE for each name; default is
    positional (a full stack). Pass ``stack.band_idxs`` for a stack that
    went through ``sel_bands``/``mask_band`` — those keep the ORIGINAL
    indices, so a positional pivot would silently read the wrong band.
    """
    idxs = band_idxs if band_idxs is not None else list(range(len(band_names)))
    if len(idxs) != len(band_names):
        raise ValueError(
            f"band_idxs has {len(idxs)} entries for {len(band_names)} band names"
        )
    return pixels.groupBy("item_idx", "row", "col").agg(
        *[
            F.first(F.when(F.col("band_idx") == i, F.col("value")), ignorenulls=True).alias(n)
            for i, n in zip(idxs, band_names)
        ]
    )


def normalized_difference(df: DataFrame, a: str, b: str, out: str = "nd") -> DataFrame:
    """(a - b) / (a + b) — NDVI and friends, pure column arithmetic."""
    return df.withColumn(out, (F.col(a) - F.col(b)) / (F.col(a) + F.col(b)))


def display_range(pixels: DataFrame, p_low: float = 0.02, p_high: float = 0.98) -> tuple[float, float]:
    """show.py:484-497: 2nd/98th percentile of the whole array for display
    normalization — ``percentile_approx`` so it's one pass at any scale."""
    row = pixels.agg(
        F.percentile_approx("value", F.array(F.lit(p_low), F.lit(p_high)), 10000).alias("p")
    ).collect()[0]
    return (row.p[0], row.p[1])
