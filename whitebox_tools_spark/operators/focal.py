"""Focal (moving-window) raster operators — WBT's window functions.

Reference anchors:
- MeanFilter / MinFilter / MaxFilter / RangeFilter / TotalFilter /
  MedianFilter / MajorityFilter / DiversityFilter:
  whitebox-tools-app/src/tools/image_analysis/{mean_filter,minimum_filter,
  maximum_filter,range_filter,total_filter,median_filter,majority_filter,
  diversity_filter}.rs
- Slope / Aspect / Hillshade (Horn 3x3 weighted differences + z_factor):
  terrain_analysis/slope.rs:301-326, aspect.rs, hillshade.rs

Two physical plans:

1. **scatter-gather (groupBy) plan** — each cell scatters its value to
   the (2r+1)^2 window centers it contributes to (explode of constant
   offsets, pure codegen), then one hash aggregation on (row, col).
   Exactly one shuffle; partial aggregation is map-side. Edge cells
   aggregate over their existing neighbors (WBT edge semantics).
   Works for any stat expressible as a Spark aggregate.

2. **tile + halo plan** (`focal_filter_halo`) — cells scatter to their
   own tile plus neighboring tiles within the halo; one numpy kernel per
   tile computes the dense windowed stat via sliding_window_view. This
   is the scale plan for large kernels (k^2 scatter cost becomes one
   O(tile) kernel); emits only cells with a complete window.

Determinism note: the derived test rasters carry integer-valued doubles,
so SUM/AVG are exact in any accumulation order — the groupBy plan, the
numpy kernel and the DuckDB oracle agree bit-for-bit.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions.raster_math import GridMeta

# ---------------------------------------------------------------------------
# Plan 1: scatter-gather focal stats
# ---------------------------------------------------------------------------


def _scatter(cells: DataFrame, radius: int) -> DataFrame:
    offs = [(dr, dc) for dr in range(-radius, radius + 1) for dc in range(-radius, radius + 1)]
    pairs = ", ".join(f"STRUCT(row + ({dr}L) AS crow, col + ({dc}L) AS ccol)" for dr, dc in offs)
    return (
        cells.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))"))
        .selectExpr("__n.crow AS row", "__n.ccol AS col", "value AS nv")
    )


_FOCAL_AGGS = {
    "mean": "AVG(nv)",
    "sum": "SUM(nv)",
    "min": "MIN(nv)",
    "max": "MAX(nv)",
    "range": "MAX(nv) - MIN(nv)",
    "total": "SUM(nv)",
    # lower median over the sorted window values (deterministic; FLOOR
    # keeps the index identical across engines — bare CAST of x.5 to int
    # truncates on Spark but rounds on DuckDB)
    "median": "ELEMENT_AT(ARRAY_SORT(COLLECT_LIST(nv)), CAST(FLOOR((COUNT(nv) + 1) / 2) AS INT))",
    "diversity": "CAST(COUNT(DISTINCT nv) AS DOUBLE)",
}


def focal_stat(cells: DataFrame, stat: str, radius: int = 1,
               meta: GridMeta | None = None) -> DataFrame:
    """Focal statistic over a (2r+1)^2 square window.

    Output: (row, col, value) for every window center that exists in the
    input raster; edge centers use their available neighbors.
    """
    agg = _FOCAL_AGGS[stat]
    scattered = _scatter(cells, radius)
    if meta is not None:
        scattered = scattered.where(F.expr(meta.in_grid_pred("row", "col")))
    out = scattered.groupBy("row", "col").agg(F.expr(f"{agg}").alias("value"))
    # keep only real centers (scatter also hits cells outside the raster
    # footprint / nodata holes)
    return out.join(cells.select("row", "col"), ["row", "col"], "leftsemi")


def focal_percentile(cells: DataFrame, p: float, radius: int = 1) -> DataFrame:
    """PercentileFilter (image_analysis/percentile_filter.rs semantics):
    the window value at sorted index floor((n-1)*p) (0-based) —
    deterministic nearest-rank rule."""
    scattered = _scatter(cells, radius)
    agg = (f"ELEMENT_AT(ARRAY_SORT(COLLECT_LIST(nv)), "
           f"CAST(FLOOR((COUNT(nv) - 1) * {p!r}) AS INT) + 1)")
    out = scattered.groupBy("row", "col").agg(F.expr(agg).alias("value"))
    return out.join(cells.select("row", "col"), ["row", "col"], "leftsemi")


def majority_filter(cells: DataFrame, radius: int = 1) -> DataFrame:
    """MajorityFilter: modal value of the window; ties resolve to the
    smallest value (deterministic)."""
    scattered = _scatter(cells, radius)
    counts = scattered.groupBy("row", "col", "nv").agg(F.count(F.lit(1)).alias("c"))
    out = counts.groupBy("row", "col").agg(
        F.expr("MIN_BY(nv, STRUCT(-c, nv))").alias("value")
    )
    return out.join(cells.select("row", "col"), ["row", "col"], "leftsemi")


# ---------------------------------------------------------------------------
# Generic convolution (image_analysis kernel filters)
# ---------------------------------------------------------------------------

# kernel anchors: laplacian_filter.rs:330-346 (variant weight tables),
# emboss_filter.rs:339-347 (directional), sobel_filter.rs:330 (magnitude
# = sqrt(gx^2 + gy^2) of the two 3x3 gradient kernels)
LAPLACIAN_3X3_1 = [[0.0, -1.0, 0.0], [-1.0, 4.0, -1.0], [0.0, -1.0, 0.0]]
LAPLACIAN_3X3_2 = [[0.0, -1.0, 0.0], [-1.0, 5.0, -1.0], [0.0, -1.0, 0.0]]
LAPLACIAN_3X3_3 = [[-1.0, -1.0, -1.0], [-1.0, 8.0, -1.0], [-1.0, -1.0, -1.0]]
SOBEL_X = [[-1.0, 0.0, 1.0], [-2.0, 0.0, 2.0], [-1.0, 0.0, 1.0]]
SOBEL_Y = [[-1.0, -2.0, -1.0], [0.0, 0.0, 0.0], [1.0, 2.0, 1.0]]
PREWITT_X = [[-1.0, 0.0, 1.0], [-1.0, 0.0, 1.0], [-1.0, 0.0, 1.0]]
PREWITT_Y = [[-1.0, -1.0, -1.0], [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]]
EMBOSS = {
    "n": [[0.0, -1.0, 0.0], [0.0, 0.0, 0.0], [0.0, 1.0, 0.0]],
    "s": [[0.0, 1.0, 0.0], [0.0, 0.0, 0.0], [0.0, -1.0, 0.0]],
    "e": [[0.0, 0.0, 0.0], [1.0, 0.0, -1.0], [0.0, 0.0, 0.0]],
    "w": [[0.0, 0.0, 0.0], [-1.0, 0.0, 1.0], [0.0, 0.0, 0.0]],
}


def convolve(cells: DataFrame, kernels: dict[str, list[list[float]]],
             interior_only: bool = True) -> DataFrame:
    """Convolve one or more (same-sized) kernels in a single scatter
    pass: out_k(r, c) = sum_ij k[i][j] * in(r + i - m, c + j - m).
    Output: (row, col, <one column per kernel name>). interior_only
    keeps centers whose full window exists (the kernel-filter edge rule
    for derivative kernels)."""
    names = list(kernels)
    size = len(next(iter(kernels.values())))
    m = size // 2
    elems = []
    for i in range(size):
        for j in range(size):
            ws = ", ".join(f"{kernels[n][i][j]!r} AS w_{n}" for n in names)
            elems.append(
                f"STRUCT(row - ({i - m}L) AS crow, col - ({j - m}L) AS ccol, {ws})"
            )
    scattered = (
        cells.withColumn("__s", F.expr(f"EXPLODE(ARRAY({', '.join(elems)}))"))
        .selectExpr("__s.crow AS row", "__s.ccol AS col", "value AS nv",
                    *[f"__s.w_{n} AS w_{n}" for n in names])
    )
    aggs = [F.expr(f"SUM(w_{n} * nv)").alias(n) for n in names]
    aggs.append(F.count(F.lit(1)).alias("__cnt"))
    out = scattered.groupBy("row", "col").agg(*aggs)
    if interior_only:
        out = out.where(F.col("__cnt") == size * size)
    return out.drop("__cnt").join(cells.select("row", "col"), ["row", "col"], "leftsemi")


def laplacian_filter(cells: DataFrame, variant: str = "3x3(1)") -> DataFrame:
    k = {"3x3(1)": LAPLACIAN_3X3_1, "3x3(2)": LAPLACIAN_3X3_2,
         "3x3(3)": LAPLACIAN_3X3_3}[variant]
    return convolve(cells, {"v": k}).withColumnRenamed("v", "value")


def sobel_filter(cells: DataFrame) -> DataFrame:
    out = convolve(cells, {"gx": SOBEL_X, "gy": SOBEL_Y})
    return out.selectExpr("row", "col", "SQRT(gx * gx + gy * gy) AS value")


def prewitt_filter(cells: DataFrame) -> DataFrame:
    out = convolve(cells, {"gx": PREWITT_X, "gy": PREWITT_Y})
    return out.selectExpr("row", "col", "SQRT(gx * gx + gy * gy) AS value")


def emboss_filter(cells: DataFrame, direction: str = "n") -> DataFrame:
    return convolve(cells, {"v": EMBOSS[direction]}).withColumnRenamed("v", "value")


# ---------------------------------------------------------------------------
# Integral image (Crow 1984) — the reference's O(1)-window mean machinery
# (image_analysis/mean_filter.rs:28,301-338, IntegralImage tool)
# ---------------------------------------------------------------------------


def integral_image(cells: DataFrame) -> DataFrame:
    """ii(r, c) = sum of values with row <= r AND col <= c, via two
    cumulative-sum window passes (row-wise then column-wise). Requires a
    dense raster (no missing cells inside the footprint)."""
    from pyspark.sql import Window

    w1 = Window.partitionBy("row").orderBy("col").rowsBetween(Window.unboundedPreceding, 0)
    rowcum = cells.withColumn("__rc", F.sum("value").over(w1))
    w2 = Window.partitionBy("col").orderBy("row").rowsBetween(Window.unboundedPreceding, 0)
    return rowcum.withColumn("ii", F.sum("__rc").over(w2)).select("row", "col", "ii")


def mean_filter_ii(cells: DataFrame, meta: GridMeta, radius: int = 1) -> DataFrame:
    """MeanFilter via the integral image: window sum = 4 corner lookups
    (equi-joins), mean = sum / clamped-window cell count. On a dense
    raster this is bit-identical to focal_stat(..., 'mean') when values
    are integer-valued (exact sums), while costing O(1) work per cell
    for ANY kernel radius — the scale plan for big windows."""
    # eager localCheckpoint, not persist: the four corner joins reuse the
    # materialized blocks and the ContextCleaner reclaims them on GC (a
    # bare persist() here leaked cache for the session lifetime)
    ii = integral_image(cells).localCheckpoint(eager=True)
    b = cells.selectExpr(
        "row", "col",
        f"GREATEST(row - {radius}, 0L) AS r1",
        f"LEAST(row + {radius}, {meta.rows - 1}L) AS r2",
        f"GREATEST(col - {radius}, 0L) AS c1",
        f"LEAST(col + {radius}, {meta.columns - 1}L) AS c2",
    )

    def corner(df, rr, cc, name):
        c = ii.selectExpr(f"row AS __r_{name}", f"col AS __c_{name}", f"ii AS {name}")
        return df.join(
            c, (F.expr(rr) == F.col(f"__r_{name}")) & (F.expr(cc) == F.col(f"__c_{name}")),
            "left",
        ).drop(f"__r_{name}", f"__c_{name}")

    j = corner(b, "r2", "c2", "iA")
    j = corner(j, "r1 - 1", "c2", "iB")
    j = corner(j, "r2", "c1 - 1", "iC")
    j = corner(j, "r1 - 1", "c1 - 1", "iD")
    return j.selectExpr(
        "row", "col",
        "(iA - COALESCE(iB, 0.0) - COALESCE(iC, 0.0) + COALESCE(iD, 0.0)) "
        "/ CAST((r2 - r1 + 1) * (c2 - c1 + 1) AS DOUBLE) AS value",
    )


# ---------------------------------------------------------------------------
# 5x5 pivot + terrain derivatives (Florinsky polynomial fit)
# ---------------------------------------------------------------------------


def focal_pivot5(cells: DataFrame, z_factor: float = 1.0) -> DataFrame:
    """The 25-cell stencil of slope.rs / aspect.rs / hillshade.rs as
    columns z_0..z_24, where z_n sits at (row + (n//5 - 2),
    col + (n%5 - 2)). Missing neighbors (edges / nodata holes) take the
    center value — the references' `z[n] = z12 * z_factor` substitution.
    One shuffle (scatter + pivot aggregation)."""
    # a cell's value reaches center (row - dr, col - dc) as that center's
    # z_n, so z_n(center) = value(center + (dr, dc)) with dr = n//5 - 2,
    # dc = n%5 - 2 (the reference's offsets[n] = [dc, dr] indexing)
    pairs = ", ".join(
        f"STRUCT(row - ({n // 5 - 2}L) AS crow, col - ({n % 5 - 2}L) AS ccol, {n} AS n)"
        for n in range(25)
    )
    scattered = (
        cells.withColumn("__s", F.expr(f"EXPLODE(ARRAY({pairs}))"))
        .selectExpr("__s.crow AS row", "__s.ccol AS col", "__s.n AS n", "value AS nv")
    )
    aggs = [
        F.expr(f"MAX(CASE WHEN n = {n} THEN nv END)").alias(f"z_{n}") for n in range(25)
    ]
    piv = scattered.groupBy("row", "col").agg(*aggs)
    # keep only real centers (z_12 is the center offset), substitute the
    # center for missing neighbors, apply z_factor per-z like the loop
    piv = piv.where(F.col("z_12").isNotNull())
    zs = [f"(COALESCE(z_{n}, z_12) * {z_factor!r}) AS z{n}" for n in range(25)]
    return piv.selectExpr("row", "col", *zs)


def _florinsky_pq(res: float) -> tuple[str, str]:
    """p, q from Florinsky (2016) ch.4 pg.117 — exact transcription of
    slope.rs:294-301 (identical text in aspect.rs / hillshade.rs);
    res = (resolution_x + resolution_y) / 2.

    The 1/(420*res) scale is folded in Python (same two IEEE-754 ops as
    the reference) and embedded as a literal: an all-literal `1.0 /
    (420.0 * res)` would be evaluated in DECIMAL arithmetic by DuckDB
    (literals are decimals there), silently changing the oracle value.
    """
    scale = 1.0 / (420.0 * res)
    p = (f"({scale!r} * (44.0 * (z3 + z23 - z1 - z21) + "
         f"31.0 * (z0 + z20 - z4 - z24 + 2.0 * (z8 + z18 - z6 - z16)) + "
         f"17.0 * (z14 - z10 + 4.0 * (z13 - z11)) + 5.0 * (z9 + z19 - z5 - z15)))")
    q = (f"({scale!r} * (44.0 * (z5 + z9 - z15 - z19) + "
         f"31.0 * (z20 + z24 - z0 - z4 + 2.0 * (z6 + z8 - z16 - z18)) + "
         f"17.0 * (z2 - z22 + 4.0 * (z7 - z17)) + 5.0 * (z1 + z3 - z21 - z23)))")
    return p, q


def slope(cells: DataFrame, meta: GridMeta, z_factor: float = 1.0,
          units: str = "degrees") -> DataFrame:
    """Slope via the Florinsky 5x5 fit (slope.rs:294-330).

    units: 'degrees' | 'radians' | 'percent'. The oracle gate uses
    'percent' (sqrt is correctly rounded everywhere; atan is not
    guaranteed bit-identical across libm implementations).
    """
    res = (meta.resolution_x + meta.resolution_y) / 2.0
    p, q = _florinsky_pq(res)
    mag = f"SQRT({p} * {p} + {q} * {q})"
    value = {
        "degrees": f"DEGREES(ATAN({mag}))",
        "radians": f"ATAN({mag})",
        "percent": f"{mag} * 100.0",
    }[units]
    return focal_pivot5(cells, z_factor).selectExpr("row", "col", f"{value} AS value")


def aspect(cells: DataFrame, meta: GridMeta, z_factor: float = 1.0) -> DataFrame:
    """Aspect in degrees clockwise from north (aspect.rs:285-294):
    -90(1-sign q)(1-|sign p|) + 180(1+sign p) - (180/pi) sign(p)
    acos(-q / sqrt(p^2+q^2)); -1 (undefined) where p == 0."""
    res = (meta.resolution_x + meta.resolution_y) / 2.0
    p, q = _florinsky_pq(res)
    sp = f"SIGN({p})"
    sq = f"SIGN({q})"
    formula = (f"(-90.0 * (1.0 - {sq}) * (1.0 - ABS({sp})) + 180.0 * (1.0 + {sp}) "
               f"- 180.0 / PI() * {sp} * ACOS(-({q}) / SQRT({p} * {p} + {q} * {q})))")
    value = f"CASE WHEN {p} <> 0.0 THEN {formula} ELSE -1.0 END"
    return focal_pivot5(cells, z_factor).selectExpr("row", "col", f"{value} AS value")


def hillshade_value_expr(meta: GridMeta, azimuth: float = 315.0,
                         altitude: float = 30.0) -> str:
    """Hillshade value over z0..z24 pivot columns (hillshade.rs:293-378):
    Florinsky p/q, tan_slope clamped at 0.00017, aspect = pi - atan(q/p)
    + (pi/2)sign(p) (pi where p==0), val = round(term1*(term2-term3) *
    32767) clamped at 0. Portable SQL (also builds the DuckDB oracle)."""
    import math

    res = (meta.resolution_x + meta.resolution_y) / 2.0
    p, q = _florinsky_pq(res)
    az = math.radians(azimuth - 90.0)
    sin_theta = math.sin(math.radians(altitude))
    cos_theta = math.cos(math.radians(altitude))
    ts = f"GREATEST(SQRT({p} * {p} + {q} * {q}), 0.00017)"
    aspect_r = (f"CASE WHEN {p} <> 0.0 THEN PI() - ATAN(({q}) / ({p})) "
                f"+ PI() / 2.0 * SIGN({p}) ELSE PI() END")
    term1 = f"({ts}) / SQRT(1.0 + ({ts}) * ({ts}))"
    term2 = f"{sin_theta!r} / ({ts})"
    term3 = f"{cos_theta!r} * SIN({az!r} - ({aspect_r}))"
    return f"ROUND(GREATEST((({term1}) * (({term2}) - ({term3}))) * 32767.0, 0.0))"


def hillshade(cells: DataFrame, meta: GridMeta, azimuth: float = 315.0,
              altitude: float = 30.0, z_factor: float = 1.0) -> DataFrame:
    value = hillshade_value_expr(meta, azimuth, altitude)
    return focal_pivot5(cells, z_factor).selectExpr("row", "col", f"{value} AS value")


# ---------------------------------------------------------------------------
# Plan 2: tile + halo numpy kernel
# ---------------------------------------------------------------------------


def focal_filter_halo(cells: DataFrame, meta: GridMeta, stat: str = "median",
                      radius: int = 1, tile: int = 64) -> DataFrame:
    """Tile+halo focal filter: one dense numpy kernel per tile.

    Cells scatter to every tile whose halo contains them (<= 4 tiles for
    halo < tile), then applyInPandas assembles the dense tile grid and
    computes the windowed stat with sliding_window_view. Only complete
    windows are emitted (interior rule), so results are independent of
    the tiling. Missing cells inside a window poison it via NaN and the
    center is dropped — same "all 9 present" rule as focal_pivot3.
    """
    r = radius
    tiles = (
        cells.withColumn(
            "__t",
            F.expr(
                f"EXPLODE(ARRAY_DISTINCT(ARRAY("
                f"STRUCT(CAST(FLOOR((row - {r}) / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col - {r}) / {tile}) AS BIGINT) AS tc), "
                f"STRUCT(CAST(FLOOR((row - {r}) / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col + {r}) / {tile}) AS BIGINT) AS tc), "
                f"STRUCT(CAST(FLOOR((row + {r}) / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col - {r}) / {tile}) AS BIGINT) AS tc), "
                f"STRUCT(CAST(FLOOR((row + {r}) / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col + {r}) / {tile}) AS BIGINT) AS tc))))"
            ),
        )
        .selectExpr("__t.tr AS tr", "__t.tc AS tc", "row", "col", "value")
    )
    schema = StructType([
        StructField("row", LongType(), False),
        StructField("col", LongType(), False),
        StructField("value", DoubleType(), False),
    ])
    size = 2 * r + 1

    def kernel(pdf) -> "object":
        import pandas as pd

        tr = int(pdf["tr"].iloc[0])
        tc = int(pdf["tc"].iloc[0])
        r0, c0 = tr * tile - r, tc * tile - r
        h = w = tile + 2 * r
        grid = np.full((h, w), np.nan)
        rr = pdf["row"].to_numpy() - r0
        cc = pdf["col"].to_numpy() - c0
        ok = (rr >= 0) & (rr < h) & (cc >= 0) & (cc < w)
        grid[rr[ok], cc[ok]] = pdf["value"].to_numpy()[ok]
        win = np.lib.stride_tricks.sliding_window_view(grid, (size, size))
        flat = win.reshape(win.shape[0], win.shape[1], -1)
        # validity: every cell of the window present (NaN does NOT
        # propagate through sort-based stats, so track it explicitly)
        complete = ~np.isnan(flat).any(axis=2)
        if stat == "median":
            s = np.sort(flat, axis=2)
            out = s[:, :, (size * size + 1) // 2 - 1]
        elif stat == "mean":
            out = flat.mean(axis=2)
        elif stat == "min":
            out = flat.min(axis=2)
        elif stat == "max":
            out = flat.max(axis=2)
        else:
            raise ValueError(stat)
        # centers of complete windows, clipped to this tile's own extent
        rows, cols = np.meshgrid(
            np.arange(win.shape[0]) + r0 + r, np.arange(win.shape[1]) + c0 + r, indexing="ij"
        )
        own = ((rows >= tr * tile) & (rows < (tr + 1) * tile)
               & (cols >= tc * tile) & (cols < (tc + 1) * tile) & complete)
        return pd.DataFrame({"row": rows[own], "col": cols[own], "value": out[own]})

    return tiles.groupBy("tr", "tc").applyInPandas(kernel, schema=schema)


# ---------------------------------------------------------------------------
# Generic k x k pivot (nullable — no center substitution)
# ---------------------------------------------------------------------------


def focal_pivotk(cells: DataFrame, size: int) -> DataFrame:
    """k x k stencil as nullable columns z_0..z_{k*k-1}, z_n at
    (row + (n//k - mid), col + (n%k - mid)), mid = k//2. Unlike
    focal_pivot5 no substitution is applied — callers decide how to
    treat missing neighbors (the kernel-filter "skip nodata" rule).
    Only real centers (z_center present) are emitted. One shuffle."""
    mid = size // 2
    center = mid * size + mid
    pairs = ", ".join(
        f"STRUCT(row - ({n // size - mid}L) AS crow, col - ({n % size - mid}L) AS ccol, {n} AS n)"
        for n in range(size * size)
    )
    # the k^2 scatter + partial pivot agg is the heavy map side of the
    # one shuffle; spread a narrow (single-file fixture) scan so it does
    # not run on 1-2 tasks (r06; no-op on real multi-split inputs, and
    # only worth the extra exchange for kernels past 3x3). Plan-inspected
    # probe — never .rdd.getNumPartitions(), which executes the upstream
    # stages under AQE (plans/spread.py).
    if size >= 5:
        from ..plans.spread import spread_narrow_scan

        cells = spread_narrow_scan(cells)
    scattered = (
        cells.withColumn("__s", F.expr(f"EXPLODE(ARRAY({pairs}))"))
        .selectExpr("__s.crow AS row", "__s.ccol AS col", "__s.n AS n", "value AS nv")
    )
    aggs = [
        F.expr(f"MAX(CASE WHEN n = {n} THEN nv END)").alias(f"z_{n}")
        for n in range(size * size)
    ]
    piv = scattered.groupBy("row", "col").agg(*aggs)
    return piv.where(F.col(f"z_{center}").isNotNull())


# ---------------------------------------------------------------------------
# Curvature family (Florinsky 5x5 fit; plan_curvature.rs:334-371 and the
# sibling prof/tan/total/mean/gaussian/minimal/maximal curvature tools)
# ---------------------------------------------------------------------------


def _florinsky_rst(res: float) -> tuple[str, str, str]:
    """Second derivatives r, s, t over z0..z24 pivot columns — exact
    transcription of plan_curvature.rs:336-347 (Florinsky 2016 ch.4
    pg.117). Scales folded in Python like _florinsky_pq."""
    sr = 1.0 / (35.0 * res * res)
    ss = 1.0 / (100.0 * res * res)
    r = (f"({sr!r} * (2.0 * (z0 + z4 + z5 + z9 + z10 + z14 + z15 + z19 + z20 + z24) "
         f"- 2.0 * (z2 + z7 + z12 + z17 + z22) - z1 - z3 - z6 - z8 "
         f"- z11 - z13 - z16 - z18 - z21 - z23))")
    t = (f"({sr!r} * (2.0 * (z0 + z1 + z2 + z3 + z4 + z20 + z21 + z22 + z23 + z24) "
         f"- 2.0 * (z10 + z11 + z12 + z13 + z14) - z5 - z6 - z7 - z8 "
         f"- z9 - z15 - z16 - z17 - z18 - z19))")
    s = (f"({ss!r} * (z8 + z16 - z6 - z18 + 4.0 * (z4 + z20 - z0 - z24) "
         f"+ 2.0 * (z3 + z9 + z15 + z21 - z1 - z5 - z19 - z23)))")
    return r, s, t


def _log_multiplier(res: float) -> float:
    """Florinsky (2016) pg.246 res-band multiplier (plan_curvature.rs:287-296)."""
    for hi, e in [(1.0, 2), (10.0, 3), (100.0, 4), (1000.0, 5), (5000.0, 6),
                  (10000.0, 7), (75000.0, 8)]:
        if res < hi:
            return 10.0 ** e
    return 10.0 ** 9


def curvature_value_expr(kind: str, meta: GridMeta, log_transform: bool = False) -> str:
    """Curvature over z0..z24 pivot columns as portable SQL (also builds
    the DuckDB oracle). kind in plan|profile|tangential|total|mean|
    gaussian|minimal|maximal. Formulas: Florinsky (2016) ch.2 pg.19 as
    transcribed in the reference tools (plan_curvature.rs:364,
    prof_curvature.rs:356, tan_curvature.rs:367, total_curvature.rs:344,
    mean_curvature.rs:357, gaussian_curvature.rs:354,
    minimal_curvature.rs:357-359, maximal_curvature.rs:356-358).
    powi(n) is replicated as explicit products (not POWER) so both
    engines use the identical IEEE sequence."""
    res = (meta.resolution_x + meta.resolution_y) / 2.0
    p, q = _florinsky_pq(res)
    r, s, t = _florinsky_rst(res)
    pq2 = f"(({p}) * ({p}) + ({q}) * ({q}))"
    opq2 = f"(1.0 + ({p}) * ({p}) + ({q}) * ({q}))"
    mean = (f"(-((1.0 + ({q}) * ({q})) * {r} - 2.0 * ({p}) * ({q}) * {s} "
            f"+ (1.0 + ({p}) * ({p})) * {t}) / (2.0 * SQRT({opq2} * {opq2} * {opq2})))")
    gauss = f"(({r} * {t} - {s} * {s}) / ({opq2} * {opq2}))"
    gated = {
        "plan": (f"(-(({q}) * ({q}) * {r} - 2.0 * ({p}) * ({q}) * {s} "
                 f"+ ({p}) * ({p}) * {t}) / SQRT({pq2} * {pq2} * {pq2}))"),
        "profile": (f"(-(({p}) * ({p}) * {r} + 2.0 * ({p}) * ({q}) * {s} "
                    f"+ ({q}) * ({q}) * {t}) / ({pq2} * SQRT({opq2} * {opq2} * {opq2})))"),
        "tangential": (f"(-(({q}) * ({q}) * {r} - 2.0 * ({p}) * ({q}) * {s} "
                       f"+ ({p}) * ({p}) * {t}) / ({pq2} * SQRT({opq2})))"),
    }
    if kind in gated:
        core = f"CASE WHEN ABS(({p}) + ({q})) > 0.0 THEN {gated[kind]} ELSE 0.0 END"
    elif kind == "total":
        core = f"({r} * {r} + 2.0 * {s} * {s} + {t} * {t})"
    elif kind == "mean":
        core = mean
    elif kind == "gaussian":
        core = gauss
    elif kind == "minimal":
        core = f"({mean} - SQRT({mean} * {mean} - {gauss}))"
    elif kind == "maximal":
        core = f"({mean} + SQRT({mean} * {mean} - {gauss}))"
    else:
        raise ValueError(kind)
    if log_transform:
        m = _log_multiplier(res)
        core = f"(SIGN({core}) * LN(1.0 + {m!r} * ABS({core})))"
    return core


def curvature(cells: DataFrame, meta: GridMeta, kind: str,
              z_factor: float = 1.0, log_transform: bool = False) -> DataFrame:
    """Plan/Profile/Tangential/Total/Mean/Gaussian/Minimal/Maximal
    curvature rasters (one shuffle: the 5x5 pivot + a codegen fold)."""
    value = curvature_value_expr(kind, meta, log_transform)
    return focal_pivot5(cells, z_factor).selectExpr("row", "col", f"{value} AS value")


def plan_curvature(cells, meta, z_factor=1.0, log_transform=False):
    return curvature(cells, meta, "plan", z_factor, log_transform)


def profile_curvature(cells, meta, z_factor=1.0, log_transform=False):
    return curvature(cells, meta, "profile", z_factor, log_transform)


def tangential_curvature(cells, meta, z_factor=1.0, log_transform=False):
    return curvature(cells, meta, "tangential", z_factor, log_transform)


def total_curvature(cells, meta, z_factor=1.0, log_transform=False):
    return curvature(cells, meta, "total", z_factor, log_transform)


def mean_curvature(cells, meta, z_factor=1.0, log_transform=False):
    return curvature(cells, meta, "mean", z_factor, log_transform)


def gaussian_curvature(cells, meta, z_factor=1.0, log_transform=False):
    return curvature(cells, meta, "gaussian", z_factor, log_transform)


def minimal_curvature(cells, meta, z_factor=1.0, log_transform=False):
    return curvature(cells, meta, "minimal", z_factor, log_transform)


def maximal_curvature(cells, meta, z_factor=1.0, log_transform=False):
    return curvature(cells, meta, "maximal", z_factor, log_transform)


# ---------------------------------------------------------------------------
# Gaussian-weighted filters (gaussian_filter.rs, bilateral_filter.rs,
# dog_filter.rs) — deterministic fixed-order folds over the k x k pivot
# so Spark and the DuckDB oracle run the identical IEEE sequence.
# ---------------------------------------------------------------------------


def wbt_gaussian_kernel(sigma: float) -> tuple[int, list[float]]:
    """(filter_size, row-major normalized weights) exactly as
    gaussian_filter.rs:218-273 builds them (size from the 0.001 weight
    cutoff, midpoint = floor(size/2), normalized by the weight total)."""
    import math

    sigma = min(max(sigma, 0.5), 20.0)
    recip = 1.0 / (math.sqrt(2.0 * math.pi) * sigma)
    two_sigma_sqr = 2.0 * sigma * sigma
    filter_size = 3
    for i in range(250):
        w = recip * math.exp(-1.0 * (i * i) / two_sigma_sqr)
        if w <= 0.001:
            filter_size = i * 2 + 1
            break
    if filter_size % 2 == 0:
        filter_size += 1
    filter_size = max(filter_size, 3)
    mid = filter_size // 2
    weights, total = [], 0.0
    for row in range(filter_size):
        for col in range(filter_size):
            x, y = col - mid, row - mid
            w = recip * math.exp(-1.0 * (x * x + y * y) / two_sigma_sqr)
            weights.append(w)
            total += w
    return filter_size, [w / total for w in weights]


def gaussian_value_expr(sigma: float) -> tuple[int, str]:
    """(filter_size, portable-SQL value expression over nullable pivot
    columns z_0..z_{k*k-1}) for the Gaussian filter — also builds the
    DuckDB oracle; deterministic left-assoc accumulation in kernel
    order."""
    size, ws = wbt_gaussian_kernel(sigma)
    num = " + ".join(
        f"CASE WHEN z_{a} IS NOT NULL THEN {ws[a]!r} * z_{a} ELSE 0.0 END"
        for a in range(size * size)
    )
    den = " + ".join(
        f"CASE WHEN z_{a} IS NOT NULL THEN {ws[a]!r} ELSE 0.0 END"
        for a in range(size * size)
    )
    return size, f"(0.0 + {num}) / (0.0 + {den})"


def gaussian_filter(cells: DataFrame, sigma: float = 0.75) -> DataFrame:
    """GaussianFilter (image_analysis/gaussian_filter.rs:344-366): the
    per-window renormalized weighted mean over valid neighbors —
    value = sum(w_a * z_a) / sum(w_a over valid a), accumulated in
    kernel order (deterministic left-assoc chain, oracle-portable).
    Large sigmas (kernel > ~9x9) should prefer a tile+halo numpy plan;
    the pivot stays correct but falls out of whole-stage codegen."""
    size, value = gaussian_value_expr(sigma)
    piv = focal_pivotk(cells, size)
    return piv.selectExpr("row", "col", f"{value} AS value")


def dog_filter(cells: DataFrame, sigma1: float = 2.0, sigma2: float = 4.0,
               separable: bool = True) -> DataFrame:
    """Difference-of-Gaussians (image_analysis/dog_filter.rs semantics):
    gaussian(sigma1) - gaussian(sigma2). NOTE: the reference's kernel
    fill uses midpoint = floor(size/2) + 1 (dog_filter.rs:277), an
    off-center anchor; this implementation uses the centered anchor
    (the documented DoG definition).

    separable=True (default, the large-sigma scale path) composes two
    separable smoothing passes — fast, but the row+column re-association
    is not bit-portable. separable=False composes the two deterministic
    k x k pivot plans (gaussian_value_expr), whose fixed-order folds a
    DuckDB oracle replays bit-exactly — prefer it for small sigmas."""
    if separable:
        g1 = gaussian_filter_separable(cells, sigma1).withColumnRenamed("value", "g1")
        g2 = gaussian_filter_separable(cells, sigma2).withColumnRenamed("value", "g2")
    else:
        g1 = gaussian_filter(cells, sigma1).withColumnRenamed("value", "g1")
        g2 = gaussian_filter(cells, sigma2).withColumnRenamed("value", "g2")
    return g1.join(g2, ["row", "col"]).selectExpr("row", "col", "g1 - g2 AS value")


SCHARR_X = [[3.0, 0.0, -3.0], [10.0, 0.0, -10.0], [3.0, 0.0, -3.0]]
SCHARR_Y = [[3.0, 10.0, 3.0], [0.0, 0.0, 0.0], [-3.0, -10.0, -3.0]]


def scharr_filter(cells: DataFrame) -> DataFrame:
    """ScharrFilter (image_analysis/scharr_filter.rs:288-291 D8 masks
    re-expressed as 3x3 kernels): magnitude = sqrt(gx^2 + gy^2)."""
    out = convolve(cells, {"gx": SCHARR_X, "gy": SCHARR_Y})
    return out.selectExpr("row", "col", "SQRT(gx * gx + gy * gy) AS value")


def user_defined_filter(cells: DataFrame, kernel: list[list[float]]) -> DataFrame:
    """UserDefinedWeightsFilter: arbitrary square kernel via the shared
    scatter-convolution plan."""
    return convolve(cells, {"v": kernel}).withColumnRenamed("v", "value")


def bilateral_exprs(sigma_dist: float = 0.75,
                    sigma_int: float = 1.0) -> tuple[int, list[str], str, str]:
    """(filter_size, w_col exprs, s_tot expr, value expr) over nullable
    pivot columns z_0..z_{k*k-1} for the bilateral filter — portable SQL
    shared by the Spark plan and the DuckDB oracle (EXP is libm, so the
    oracle gates at ROUND(6))."""
    import math

    sigma_dist = min(max(sigma_dist, 0.5), 20.0)
    sigma_int = max(sigma_int, 0.001)
    recip_d = 1.0 / (math.sqrt(2.0 * math.pi) * sigma_dist)
    two_d = 2.0 * sigma_dist * sigma_dist
    recip_i = 1.0 / (math.sqrt(2.0 * math.pi) * sigma_int)
    two_i = 2.0 * sigma_int * sigma_int
    filter_size = 3
    for i in range(250):
        w = recip_d * math.exp(-1.0 * (i * i) / two_d)
        if w <= 0.001:
            filter_size = i * 2 + 1
            break
    if filter_size % 2 == 0:
        filter_size += 1
    filter_size = max(filter_size, 3)
    mid = filter_size // 2
    center = mid * filter_size + mid
    wd = []
    for row in range(filter_size):
        for col in range(filter_size):
            x, y = col - mid, row - mid
            wd.append(recip_d * math.exp(-1.0 * (x * x + y * y) / two_d))
    k2 = filter_size * filter_size
    w_cols = [
        f"CASE WHEN z_{a} IS NOT NULL THEN ({recip_i!r} * EXP(-1.0 * "
        f"((z_{a} - z_{center}) * (z_{a} - z_{center})) / {two_i!r})) * {wd[a]!r} "
        f"ELSE 0.0 END AS w_{a}"
        for a in range(k2)
    ]
    s_expr = "0.0 + " + " + ".join(f"w_{a}" for a in range(k2))
    val = "0.0 + " + " + ".join(
        f"CASE WHEN z_{a} IS NOT NULL THEN w_{a} * z_{a} / s_tot ELSE 0.0 END"
        for a in range(k2)
    )
    return filter_size, w_cols, s_expr, val


def bilateral_filter(cells: DataFrame, sigma_dist: float = 0.75,
                     sigma_int: float = 1.0) -> DataFrame:
    """BilateralFilter (image_analysis/bilateral_filter.rs:246-397):
    w_a = (recip_i * exp(-(z_a - z_c)^2 / 2*sigma_i^2)) * wd_a with
    UNNORMALIZED spatial weights wd_a; value = sum_a (w_a * z_a / S),
    S = sum of valid w_a — division inside the accumulation, exactly
    like the reference (and the oracle text)."""
    filter_size, w_cols, s_expr, val = bilateral_exprs(sigma_dist, sigma_int)
    k2 = filter_size * filter_size
    piv = focal_pivotk(cells, filter_size)
    zsel = [f"z_{a}" for a in range(k2)]
    staged = piv.selectExpr("row", "col", *zsel, *w_cols)
    staged = staged.selectExpr("row", "col", *zsel,
                               *[f"w_{a}" for a in range(k2)],
                               f"({s_expr}) AS s_tot")
    return staged.selectExpr("row", "col", f"({val}) AS value")


def olympic_filter(cells: DataFrame, radius: int = 1) -> DataFrame:
    """OlympicFilter (image_analysis/olympic_filter.rs:424): mean of the
    window excluding its single highest and lowest values —
    (sum - max - min) / (n - 2)."""
    scattered = _scatter(cells, radius)
    out = scattered.groupBy("row", "col").agg(
        F.expr("(SUM(nv) - MAX(nv) - MIN(nv)) / CAST(COUNT(nv) - 2 AS DOUBLE)").alias("value")
    )
    return out.join(cells.select("row", "col"), ["row", "col"], "leftsemi")


def conservative_smoothing_filter(cells: DataFrame, radius: int = 1) -> DataFrame:
    """ConservativeSmoothingFilter (image_analysis/
    conservative_smoothing_filter.rs): clamp each cell to the [min, max]
    of its neighbors EXCLUDING itself."""
    offs = [(dr, dc) for dr in range(-radius, radius + 1)
            for dc in range(-radius, radius + 1) if (dr, dc) != (0, 0)]
    pairs = ", ".join(f"STRUCT(row + ({dr}L) AS crow, col + ({dc}L) AS ccol)" for dr, dc in offs)
    scattered = (
        cells.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))"))
        .selectExpr("__n.crow AS row", "__n.ccol AS col", "value AS nv")
    )
    nb = scattered.groupBy("row", "col").agg(
        F.min("nv").alias("mn"), F.max("nv").alias("mx")
    )
    return cells.join(nb, ["row", "col"], "left").selectExpr(
        "row", "col",
        "CASE WHEN mn IS NULL THEN value "
        "WHEN value > mx THEN mx WHEN value < mn THEN mn ELSE value END AS value",
    )


# ---------------------------------------------------------------------------
# Morphology (image_analysis/opening.rs, closing.rs, tophat.rs):
# composition of the focal min/max (erosion/dilation) plans
# ---------------------------------------------------------------------------


def opening(cells: DataFrame, radius: int = 1,
            meta: GridMeta | None = None) -> DataFrame:
    """Opening = erosion (focal min) then dilation (focal max)."""
    eroded = focal_stat(cells, "min", radius, meta)
    return focal_stat(eroded, "max", radius, meta)


def closing(cells: DataFrame, radius: int = 1,
            meta: GridMeta | None = None) -> DataFrame:
    """Closing = dilation (focal max) then erosion (focal min)."""
    dilated = focal_stat(cells, "max", radius, meta)
    return focal_stat(dilated, "min", radius, meta)


def tophat_transform(cells: DataFrame, radius: int = 1, variant: str = "white",
                     meta: GridMeta | None = None) -> DataFrame:
    """TophatTransform (image_analysis/tophat.rs): white = value -
    opening (peaks); black = closing - value (valleys)."""
    if variant == "white":
        o = opening(cells, radius, meta).withColumnRenamed("value", "o")
        return cells.join(o, ["row", "col"]).selectExpr("row", "col", "value - o AS value")
    c = closing(cells, radius, meta).withColumnRenamed("value", "c")
    return cells.join(c, ["row", "col"]).selectExpr("row", "col", "c - value AS value")


# ---------------------------------------------------------------------------
# Window-position stats (terrain_analysis/dev_from_mean_elev.rs,
# diff_from_mean_elev.rs, elev_percentile.rs, percent_elev_range.rs)
# ---------------------------------------------------------------------------


def diff_from_mean_elev(cells: DataFrame, radius: int = 1) -> DataFrame:
    """DiffFromMeanElev: z - window mean."""
    scattered = _scatter(cells, radius)
    stats = scattered.groupBy("row", "col").agg(F.avg("nv").alias("mu"))
    return cells.join(stats, ["row", "col"]).selectExpr("row", "col", "value - mu AS value")


def dev_from_mean_elev(cells: DataFrame, radius: int = 1) -> DataFrame:
    """DevFromMeanElev: (z - mean) / sample stdev of the window (the
    reference's integral-image moments, dev_from_mean_elev.rs); windows
    with zero variance emit 0."""
    scattered = _scatter(cells, radius)
    stats = scattered.groupBy("row", "col").agg(
        F.count(F.lit(1)).alias("n"), F.sum("nv").alias("s1"),
        F.sum(F.expr("nv * nv")).alias("s2"),
    )
    return cells.join(stats, ["row", "col"]).selectExpr(
        "row", "col",
        "CASE WHEN (s2 - s1 * s1 / n) > 0.0 THEN "
        "(value - s1 / n) / SQRT((s2 - s1 * s1 / n) / (n - 1)) ELSE 0.0 END AS value",
    )


def elev_percentile(cells: DataFrame, radius: int = 1) -> DataFrame:
    """ElevPercentile (terrain_analysis/elev_percentile.rs): percentage
    of window cells strictly below the center: n_less / n * 100."""
    scattered = _scatter(cells, radius)
    j = scattered.join(cells.selectExpr("row", "col", "value AS z"), ["row", "col"])
    return j.groupBy("row", "col", "z").agg(
        F.expr("CAST(SUM(CASE WHEN nv < z THEN 1 ELSE 0 END) AS DOUBLE) "
               "/ COUNT(nv) * 100.0").alias("value")
    ).drop("z")


def percent_elev_range(cells: DataFrame, radius: int = 1) -> DataFrame:
    """PercentElevRange: (z - min) / (max - min) * 100 over the window
    (terrain_analysis/percent_elev_range.rs); flat windows emit 0."""
    scattered = _scatter(cells, radius)
    stats = scattered.groupBy("row", "col").agg(
        F.min("nv").alias("mn"), F.max("nv").alias("mx")
    )
    return cells.join(stats, ["row", "col"]).selectExpr(
        "row", "col",
        "CASE WHEN mx > mn THEN (value - mn) / (mx - mn) * 100.0 ELSE 0.0 END AS value",
    )


def gaussian_filter_separable(cells: DataFrame, sigma: float = 0.75) -> DataFrame:
    """Separable Gaussian: two 1-D scatter passes (cols then rows).

    w(x, y) = recip * g(x) * g(y) with g(d) = exp(-d^2 / 2 sigma^2), so
    on a DENSE raster (valid window regions are rectangles) the WBT
    per-window renormalized mean factorizes:
        value = (sum_y g(y) * sx) / (sum_y g(y) * cx),
        sx = sum_x g(x) z,  cx = sum_x g(x) over valid x
    (the recip and global normalization cancel in the ratio). Each pass
    is a size-k explode + hash agg — codegen-friendly for ANY kernel
    size, unlike the k^2-column pivot. Values match the 2-D plan up to
    float reassociation (pytest-gated ~1e-12); use gaussian_filter for
    the bit-exact oracle plan at small sigma.
    """
    import math

    sigma = min(max(sigma, 0.5), 20.0)
    size, _ = wbt_gaussian_kernel(sigma)
    mid = size // 2
    g = {d: math.exp(-1.0 * (d * d) / (2.0 * sigma * sigma)) for d in range(-mid, mid + 1)}

    centers = cells.select("row", "col")
    p1_pairs = ", ".join(
        f"STRUCT(col - ({d}L) AS ccol, {g[d]!r} AS w)" for d in range(-mid, mid + 1)
    )
    p1 = (
        cells.withColumn("__s", F.expr(f"EXPLODE(ARRAY({p1_pairs}))"))
        .selectExpr("row", "__s.ccol AS col", "__s.w * value AS wz", "__s.w AS w")
        .groupBy("row", "col")
        .agg(F.sum("wz").alias("sx"), F.sum("w").alias("cx"))
        .join(centers, ["row", "col"], "leftsemi")
    )
    p2_pairs = ", ".join(
        f"STRUCT(row - ({d}L) AS crow, {g[d]!r} AS w)" for d in range(-mid, mid + 1)
    )
    out = (
        p1.withColumn("__s", F.expr(f"EXPLODE(ARRAY({p2_pairs}))"))
        .selectExpr("__s.crow AS row", "col", "__s.w * sx AS wsx", "__s.w * cx AS wcx")
        .groupBy("row", "col")
        .agg(F.expr("SUM(wsx) / SUM(wcx)").alias("value"))
        .join(centers, ["row", "col"], "leftsemi")
    )
    return out


def max_elevation_deviation(cells: DataFrame, radii: list[int]) -> DataFrame:
    """MaxElevationDeviation (terrain_analysis/max_elev_deviation.rs
    semantics): across the given window radii (scales), keep the
    deviation-from-mean with the largest magnitude and the scale it
    occurred at. Output (row, col, value, scale). Composition of the
    per-radius dev_from_mean_elev plans — one scatter+agg per scale,
    one argmax combine."""
    from functools import reduce

    outs = []
    for r in radii:
        outs.append(
            dev_from_mean_elev(cells, r).selectExpr(
                "row", "col", "value AS dev", f"CAST({r} AS INT) AS scale"
            )
        )
    u = reduce(lambda a, b: a.unionByName(b), outs)
    return u.groupBy("row", "col").agg(
        F.expr("MIN_BY(dev, STRUCT(-ABS(dev), scale))").alias("value"),
        F.expr("MIN_BY(scale, STRUCT(-ABS(dev), scale))").alias("scale"),
    )


def max_diff_from_mean(cells: DataFrame, radii: list[int]) -> DataFrame:
    """MaxDifferenceFromMean (terrain_analysis/max_diff_from_mean.rs
    semantics): across the given window radii, keep the
    difference-from-window-mean with the largest magnitude and the scale
    it occurred at. Output (row, col, value, scale). Composition of the
    per-radius diff_from_mean_elev plans — one scatter+agg per scale,
    one argmax combine (same shape as max_elevation_deviation)."""
    from functools import reduce

    outs = [
        diff_from_mean_elev(cells, r).selectExpr(
            "row", "col", "value AS dv", f"CAST({r} AS INT) AS scale")
        for r in radii
    ]
    u = reduce(lambda a, b: a.unionByName(b), outs)
    return u.groupBy("row", "col").agg(
        F.expr("MIN_BY(dv, STRUCT(-ABS(dv), scale))").alias("value"),
        F.expr("MIN_BY(scale, STRUCT(-ABS(dv), scale))").alias("scale"),
    )


def relative_aspect_value_expr(meta: GridMeta, azimuth: float) -> str:
    """RelativeAspect (terrain_analysis/relative_aspect.rs:409-415) over
    z0..z24 pivot columns: |180 - atan(q/p)deg + 90*sign(p) - azimuth|
    folded to [0, 180]; -1 (undefined) where p == 0. Portable SQL (same
    text builds the DuckDB oracle); the atan division only evaluates
    inside the p <> 0 branch (ANSI-safe)."""
    res = (meta.resolution_x + meta.resolution_y) / 2.0
    p, q = _florinsky_pq(res)
    v = (f"ABS(180.0 - DEGREES(ATAN(({q}) / ({p}))) "
         f"+ 90.0 * SIGN({p}) - {float(azimuth)!r})")
    folded = f"CASE WHEN ({v}) > 180.0 THEN 360.0 - ({v}) ELSE ({v}) END"
    return f"CASE WHEN ({p}) <> 0.0 THEN ({folded}) ELSE -1.0 END"


def relative_aspect(cells: DataFrame, meta: GridMeta, azimuth: float = 0.0,
                    z_factor: float = 1.0) -> DataFrame:
    return focal_pivot5(cells, z_factor).selectExpr(
        "row", "col", f"{relative_aspect_value_expr(meta, azimuth)} AS value")


def circular_variance_of_aspect(cells: DataFrame, meta: GridMeta,
                                filter_size: int = 11) -> DataFrame:
    """CircularVarianceOfAspect (terrain_analysis/
    circular_variance_of_aspect.rs:560-640): per cell a unit
    downslope-direction vector (fx, fy)/|.| from the 3x3 Sobel gradient
    ((0,0) where fx == 0 — the reference's flat guard), then over a
    filter_size window 1 - min(1, |sum of unit vectors| / n).

    Plan: one 3x3 pivot, ONE two-column integral image, 4-corner lookup
    joins — identical shape to multiscale_roughness. Deviation: edge
    cells center-substitute missing neighbors (the reference reads the
    nodata sentinel out-of-grid without a guard, poisoning edge rows);
    interior cells are bit-identical."""
    from .hydro import focal_pivot3_raw

    piv = focal_pivot3_raw(cells)
    res = (meta.resolution_x + meta.resolution_y) / 2.0
    sub = [f"COALESCE(zn_{i}, zc)" for i in range(8)]
    fx = (f"(({sub[2]}) - ({sub[4]}) + 2.0 * (({sub[1]}) - ({sub[5]})) "
          f"+ ({sub[0]}) - ({sub[6]})) / {8.0 * res!r}")
    fy = (f"(({sub[6]}) - ({sub[4]}) + 2.0 * (({sub[7]}) - ({sub[3]})) "
          f"+ ({sub[0]}) - ({sub[2]})) / {8.0 * res!r}")
    mag = f"SQRT(({fx}) * ({fx}) + ({fy}) * ({fy}))"
    vecs = piv.selectExpr(
        "row", "col",
        f"CASE WHEN ({fx}) <> 0.0 THEN ({fx}) / ({mag}) ELSE 0.0 END AS ux",
        f"CASE WHEN ({fx}) <> 0.0 THEN ({fy}) / ({mag}) ELSE 0.0 END AS uy",
    )
    ii = integral_image_multi(vecs, ["ux", "uy"])
    centers = cells.select("row", "col")
    radius = max(filter_size, 3) // 2
    s = _window_sums_ii(ii, centers, meta, radius, ["ux", "uy"])
    return s.selectExpr(
        "row", "col",
        "1.0 - LEAST(SQRT(s_ux * s_ux + s_uy * s_uy) / wn, 1.0) AS value")


def pennock_landform_class(cells: DataFrame, meta: GridMeta,
                           slope_threshold: float = 3.0,
                           prof_threshold: float = 0.1,
                           plan_threshold: float = 0.0) -> DataFrame:
    """PennockLandformClass (terrain_analysis/pennock_landform_class.rs:
    395-460): 3x3 finite-difference slope/plan/profile curvature and the
    seven-class threshold table (1=CFS 2=DFS 3=CSH 4=DSH 5=CBS 6=DBS
    7=Level); cells with an incomplete window or zero gradient get the
    nodata sentinel, like the reference leaves them unset."""
    from .hydro import focal_pivot3_raw

    res = (meta.resolution_x + meta.resolution_y) / 2.0
    c2 = 2.0 * res
    cs2 = res * res
    fcs2 = 4.0 * res * res
    egr = 8.0 * res
    piv = focal_pivot3_raw(cells)
    # D8 order: n0=NE n1=E n2=SE n3=S n4=SW n5=W n6=NW n7=N
    zx = f"((zn_1 - zn_5) / {c2!r})"
    zy = f"((zn_7 - zn_3) / {c2!r})"
    zxx = f"((zn_1 - 2.0 * zc + zn_5) / {cs2!r})"
    zyy = f"((zn_7 - 2.0 * zc + zn_3) / {cs2!r})"
    zxy = f"((-zn_6 + zn_0 + zn_4 - zn_2) / {fcs2!r})"
    p = f"({zx} * {zx} + {zy} * {zy})"
    q = f"({p} + 1.0)"
    fy = f"((zn_6 - zn_4 + 2.0 * (zn_7 - zn_3) + zn_0 - zn_2) / {egr!r})"
    fx = f"((zn_2 - zn_4 + 2.0 * (zn_1 - zn_5) + zn_0 - zn_6) / {egr!r})"
    slope = f"DEGREES(ATAN(SQRT({fx} * {fx} + {fy} * {fy})))"
    plan = f"(-1.0 * DEGREES(({zxx} * {zy} * {zy} - 2.0 * {zxy} * {zx} * {zy} + {zyy} * {zx} * {zx}) / ({p} * POWER({q}, 1.5))))"
    prof = f"(-1.0 * DEGREES(({zxx} * {zx} * {zx} - 2.0 * {zxy} * {zx} * {zy} + {zyy} * {zy} * {zy}) / ({p} * POWER({q}, 1.5))))"
    st, pt, lt = slope_threshold, prof_threshold, plan_threshold
    cls = (
        f"CASE WHEN {prof} < -{pt!r} AND {plan} <= -{lt!r} AND {slope} > {st!r} THEN 1.0 "
        f"WHEN {prof} < -{pt!r} AND {plan} > {lt!r} AND {slope} > {st!r} THEN 2.0 "
        f"WHEN {prof} > {pt!r} AND {plan} <= {lt!r} AND {slope} > {st!r} THEN 3.0 "
        f"WHEN {prof} > {pt!r} AND {plan} > {lt!r} AND {slope} > {st!r} THEN 4.0 "
        f"WHEN {prof} >= -{pt!r} AND {prof} < {pt!r} AND {slope} > {st!r} AND {plan} <= -{lt!r} THEN 5.0 "
        f"WHEN {prof} >= -{pt!r} AND {prof} < {pt!r} AND {slope} > {st!r} AND {plan} > {lt!r} THEN 6.0 "
        f"WHEN {slope} <= {st!r} THEN 7.0 ELSE {meta.nodata!r} END"
    )
    all_nbrs = " AND ".join(f"zn_{i} IS NOT NULL" for i in range(8))
    return piv.selectExpr(
        "row", "col",
        f"CASE WHEN ({all_nbrs}) AND {p} > 0.0 THEN ({cls}) "
        f"ELSE {meta.nodata!r} END AS value",
    )


def multidirectional_hillshade(cells: DataFrame, meta: GridMeta,
                               altitude: float = 30.0,
                               full_360: bool = False,
                               z_factor: float = 1.0) -> DataFrame:
    """MultidirectionalHillshade (terrain_analysis/
    multidirectional_hillshade.rs:50-52): weighted blend of hillshades —
    default azimuths 225/270/315/360 with weights 0.1/0.4/0.4/0.1;
    full-360 mode uses 8 azimuths with the documented weight table.
    One pivot, one fold (the per-azimuth value expr is shared with
    hillshade and the oracle)."""
    if full_360:
        azs = [0.0, 45.0, 90.0, 135.0, 180.0, 225.0, 270.0, 315.0]
        ws = [0.15, 0.125, 0.1, 0.05, 0.1, 0.125, 0.15, 0.2]
    else:
        azs = [225.0, 270.0, 315.0, 360.0]
        ws = [0.1, 0.4, 0.4, 0.1]
    terms = " + ".join(
        f"{w!r} * ({hillshade_value_expr(meta, az, altitude)})"
        for az, w in zip(azs, ws)
    )
    return focal_pivot5(cells, z_factor).selectExpr(
        "row", "col", f"ROUND({terms}) AS value"
    )


# ---------------------------------------------------------------------------
# Round-2 continuation: statistics / edge-aware / multi-pass filters
# (image_analysis/{stdev_filter,highpass_filter,highpass_median_filter,
#  adaptive_filter,lee_filter,k_nearest_mean_filter,unsharp_masking,
#  roberts_filter,line_detection_filter,fast_almost_gaussian_filter}.rs)
# ---------------------------------------------------------------------------


def _scatter_with_center(cells: DataFrame, radius: int) -> DataFrame:
    """Scatter each cell to its window centers AND carry the center's own
    value: one scatter (25n rows for r=2) + one (row, col) equi-join back
    onto the cell table — both shuffle on the same key, so AQE coalesces
    them; no driver-side state."""
    sc = _scatter_rc(cells, radius)
    ctr = cells.selectExpr("row", "col", "value AS z")
    return sc.join(ctr, ["row", "col"])


def _scatter_rc(cells: DataFrame, radius: int) -> DataFrame:
    """_scatter + the (dr, dc) offset each contribution arrived through
    (needed by ring-membership and nearest-k rules)."""
    offs = [(dr, dc) for dr in range(-radius, radius + 1) for dc in range(-radius, radius + 1)]
    pairs = ", ".join(
        f"STRUCT(row + ({dr}L) AS crow, col + ({dc}L) AS ccol, "
        f"{-dr}L AS dr, {-dc}L AS dc)" for dr, dc in offs
    )
    return (
        cells.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))"))
        .selectExpr("__n.crow AS row", "__n.ccol AS col", "__n.dr AS dr",
                    "__n.dc AS dc", "value AS nv")
    )


def stdev_filter(cells: DataFrame, radius: int = 1) -> DataFrame:
    """StandardDeviationFilter (image_analysis/stdev_filter.rs, integral-
    image variance): s = sqrt((sum_sqr - sum^2/n) / n) over the window
    (population form, matching adaptive_filter.rs:460). Exact integer
    moments -> oracle bit-exact."""
    sc = _scatter(cells, radius)
    out = sc.groupBy("row", "col").agg(
        F.expr("SQRT((SUM(nv * nv) - SUM(nv) * SUM(nv) / COUNT(nv)) / COUNT(nv))")
        .alias("value"))
    return out.join(cells.select("row", "col"), ["row", "col"], "leftsemi")


def highpass_filter(cells: DataFrame, radius: int = 1) -> DataFrame:
    """HighPassFilter (image_analysis/highpass_filter.rs:415-416):
    z - window mean."""
    sc = _scatter_with_center(cells, radius)
    return sc.groupBy("row", "col").agg(
        F.expr("FIRST(z) - AVG(nv)").alias("value"))


def highpass_median_filter(cells: DataFrame, radius: int = 1) -> DataFrame:
    """HighPassMedianFilter: z - window (lower) median — the same
    deterministic median rule as focal_stat('median')."""
    sc = _scatter_with_center(cells, radius)
    med = _FOCAL_AGGS["median"]
    return sc.groupBy("row", "col").agg(
        F.expr(f"FIRST(z) - ({med})").alias("value"))


def adaptive_filter(cells: DataFrame, radius: int = 1,
                    threshold: float = 2.0) -> DataFrame:
    """AdaptiveFilter (image_analysis/adaptive_filter.rs:456-470):
    replace z with the window mean when |z - mean| / s exceeds the
    threshold (s = population stdev of the window), else keep z."""
    sc = _scatter_with_center(cells, radius)
    v = "(SUM(nv * nv) - SUM(nv) * SUM(nv) / COUNT(nv)) / COUNT(nv)"
    return sc.groupBy("row", "col").agg(
        F.expr(
            f"CASE WHEN {v} > 0.0 AND "
            f"ABS((FIRST(z) - AVG(nv)) / SQRT({v})) > {threshold!r} "
            f"THEN AVG(nv) ELSE FIRST(z) END"
        ).alias("value"))


def lee_filter(cells: DataFrame, radius: int = 1, sigma: float = 10.0,
               m: float = 5.0) -> DataFrame:
    """LeeFilter / sigma filter (image_analysis/lee_filter.rs:388-420):
    mean of window values within z +/- sigma; when fewer than m such
    neighbors exist, fall back to the mean of the 8-connected ring."""
    sc = _scatter_rc(cells, radius).join(
        cells.selectExpr("row", "col", "value AS z"), ["row", "col"])
    in_pred = f"nv >= z - {sigma!r} AND nv <= z + {sigma!r}"
    ring = "ABS(dr) <= 1 AND ABS(dc) <= 1 AND NOT (dr = 0 AND dc = 0)"
    return sc.groupBy("row", "col").agg(
        F.expr(
            f"CASE WHEN COUNT(CASE WHEN {in_pred} THEN 1 END) > {m!r} "
            f"THEN SUM(CASE WHEN {in_pred} THEN nv END) "
            f"   / COUNT(CASE WHEN {in_pred} THEN 1 END) "
            f"ELSE SUM(CASE WHEN {ring} THEN nv END) "
            f"   / COUNT(CASE WHEN {ring} THEN 1 END) END"
        ).alias("value"))


def k_nearest_mean_filter(cells: DataFrame, radius: int = 1,
                          k: int = 5) -> DataFrame:
    """KNearestMeanFilter (image_analysis/k_nearest_mean_filter.rs:
    381-405): mean of the k window values nearest to the center value.
    WBT breaks squared-difference ties by kernel scan order; this engine
    uses the deterministic (diff^2, nv, dr, dc) order so the selection
    is engine-portable. Partitioned window rank (per center) — no
    global sort."""
    from pyspark.sql import Window

    sc = _scatter_rc(cells, radius).join(
        cells.selectExpr("row", "col", "value AS z"), ["row", "col"])
    w = Window.partitionBy("row", "col").orderBy(
        F.expr("(nv - z) * (nv - z)"), F.col("nv"), F.col("dr"), F.col("dc"))
    ranked = sc.withColumn("__rk", F.row_number().over(w))
    return (
        ranked.where(F.col("__rk") <= k)
        .groupBy("row", "col").agg(F.expr("SUM(nv) / COUNT(nv)").alias("value"))
    )


def unsharp_masking(cells: DataFrame, sigma: float = 0.75,
                    amount: float = 1.0, threshold: float = 0.0) -> DataFrame:
    """UnsharpMasking (image_analysis/unsharp_masking.rs:395-415):
    diff = z - gaussian_blur(z); output z + diff * amount where
    diff > |threshold|, else z. Shares the renormalized WBT Gaussian
    kernel expression (bit-portable fixed-order fold)."""
    size, blur = gaussian_value_expr(sigma)
    piv = focal_pivotk(cells, size)
    mid = size // 2
    zc = f"z_{mid * size + mid}"
    diff = f"({zc} - ({blur}))"
    return piv.selectExpr(
        "row", "col",
        f"CASE WHEN {diff} > ABS({threshold!r}) "
        f"THEN {zc} + {diff} * {amount!r} ELSE {zc} END AS value")


def roberts_cross_filter(cells: DataFrame) -> DataFrame:
    """RobertsCrossFilter (image_analysis/roberts_filter.rs:300-315):
    |z1 - z4| + |z2 - z3| over the 2x2 block anchored at the center
    (z1=(r,c), z2=(r,c+1), z3=(r+1,c), z4=(r+1,c+1)); missing
    neighbors substitute the anchor value."""
    offs = {0: (0, 0), 1: (0, 1), 2: (1, 0), 3: (1, 1)}
    pairs = ", ".join(
        f"STRUCT(row - ({dr}L) AS crow, col - ({dc}L) AS ccol, {n} AS n)"
        for n, (dr, dc) in offs.items()
    )
    sc = (
        cells.withColumn("__s", F.expr(f"EXPLODE(ARRAY({pairs}))"))
        .selectExpr("__s.crow AS row", "__s.ccol AS col", "__s.n AS n", "value AS nv")
    )
    piv = sc.groupBy("row", "col").agg(
        *[F.expr(f"MAX(CASE WHEN n = {i} THEN nv END)").alias(f"z{i + 1}")
          for i in range(4)])
    return piv.where("z1 IS NOT NULL").selectExpr(
        "row", "col",
        "ABS(z1 - COALESCE(z4, z1)) + ABS(COALESCE(z2, z1) - COALESCE(z3, z1)) AS value")


LINE_DETECTION = {
    "v": [[-1.0, 2.0, -1.0], [-1.0, 2.0, -1.0], [-1.0, 2.0, -1.0]],
    "h": [[-1.0, -1.0, -1.0], [2.0, 2.0, 2.0], [-1.0, -1.0, -1.0]],
    "45": [[2.0, -1.0, -1.0], [-1.0, 2.0, -1.0], [-1.0, -1.0, 2.0]],
    "135": [[-1.0, -1.0, 2.0], [-1.0, 2.0, -1.0], [2.0, -1.0, -1.0]],
}


def line_detection_filter(cells: DataFrame, variant: str = "v",
                          absvals: bool = False) -> DataFrame:
    """LineDetectionFilter (image_analysis/line_detection_filter.rs:
    311-317 weight tables)."""
    out = convolve(cells, {"v": LINE_DETECTION[variant]}).withColumnRenamed("v", "value")
    if absvals:
        out = out.selectExpr("row", "col", "ABS(value) AS value")
    return out


def fag_box_widths(sigma: float, n: int = 5) -> list[int]:
    """FastAlmostGaussianFilter box sizes (fast_almost_gaussian_filter.rs
    :210-223, Wells' method / P. Getreuer 2013): n box passes of width
    wl (first m) and wu = wl + 2 (rest)."""
    import math

    w_ideal = math.sqrt(12.0 * sigma * sigma / n + 1.0)
    wl = int(math.floor(w_ideal))
    if wl % 2 == 0:
        wl -= 1
    wl = max(wl, 1)
    wu = wl + 2
    m = round((12.0 * sigma * sigma - n * wl * wl - 4.0 * n * wl - 3.0 * n)
              / (-4.0 * wl - 4.0))
    m = min(max(int(m), 0), n)
    return [wl] * m + [wu] * (n - m)


def fast_almost_gaussian_filter(cells: DataFrame, sigma: float = 1.8) -> DataFrame:
    """FastAlmostGaussianFilter: n=5 successive box means approximate a
    Gaussian to ~3% (Wells 1986). Plan: run every pass as an exact
    integer box SUM (the input fixtures carry integer-valued doubles)
    and divide ONCE by the product of window areas — bit-reproducible
    in any accumulation order, unlike chained float means. Passes with
    width 1 are identity and skipped. Edge rule: only complete windows
    survive each pass (shrinking border; WBT clamps instead — a
    documented deviation that keeps the plan exact)."""
    widths = [w for w in fag_box_widths(sigma) if w > 1]
    cur = cells
    denom = 1.0
    for w in widths:
        r = w // 2
        sc = _scatter(cur, r)
        cur = (
            sc.groupBy("row", "col")
            .agg(F.expr("SUM(nv)").alias("value"), F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") == w * w).drop("__n")
        )
        denom *= w * w
    return cur.selectExpr("row", "col", f"value / {denom!r} AS value")


def ruggedness_index(cells: DataFrame, radius: int = 1) -> DataFrame:
    """RuggednessIndex / TRI (terrain_analysis/ruggedness_index.rs:280):
    sqrt(mean squared difference between the center and its window
    neighbors — center excluded from the diff terms but in the window
    scatter)."""
    sc = _scatter_with_center(cells, radius)
    return sc.groupBy("row", "col").agg(
        F.expr(
            "SQRT(SUM((nv - z) * (nv - z)) / (COUNT(nv) - 1))"
        ).alias("value"))


def relative_topographic_position(cells: DataFrame, radius: int = 1) -> DataFrame:
    """RelativeTopographicPosition (terrain_analysis/
    relative_topographic_position.rs:23-31): piecewise position of the
    center against (min, mean, max) of its window:
    (z - mu)/(mu - zmin) below the mean, (z - mu)/(zmax - mu) above."""
    sc = _scatter_with_center(cells, radius)
    return sc.groupBy("row", "col").agg(
        F.expr(
            "CASE WHEN FIRST(z) < AVG(nv) THEN "
            "(FIRST(z) - AVG(nv)) / (AVG(nv) - MIN(nv)) "
            "ELSE CASE WHEN MAX(nv) = AVG(nv) THEN 0.0 ELSE "
            "(FIRST(z) - AVG(nv)) / (MAX(nv) - AVG(nv)) END END"
        ).alias("value"))


# ---------------------------------------------------------------------------
# Boolean-image morphology utilities
# (image_analysis/{corner_detection,remove_spurs,line_thin,thicken_line}.rs)
# ---------------------------------------------------------------------------

# D8 neighbor order shared with corner_detection.rs:206-216
_D8_DX = [1, 1, 1, 0, -1, -1, -1, 0]
_D8_DY = [-1, 0, 1, 1, 1, 0, -1, -1]
# each template: first two neighbor indices must be foreground, last
# three background (vals = [1,1,0,0,0])
CORNER_TEMPLATES = [[1, 7, 3, 4, 5], [5, 7, 1, 2, 3],
                    [3, 5, 0, 1, 7], [1, 3, 5, 6, 7]]


def _pivot_d8(cells: DataFrame) -> DataFrame:
    pairs = ", ".join(
        f"STRUCT(row - ({_D8_DY[i]}L) AS crow, col - ({_D8_DX[i]}L) AS ccol, {i} AS n)"
        for i in range(8)
    ) + ", STRUCT(row AS crow, col AS ccol, 8 AS n)"
    sc = (
        cells.withColumn("__s", F.expr(f"EXPLODE(ARRAY({pairs}))"))
        .selectExpr("__s.crow AS row", "__s.ccol AS col", "__s.n AS n", "value AS nv")
    )
    aggs = [F.expr(f"MAX(CASE WHEN n = {i} THEN nv END)").alias(f"zn_{i}")
            for i in range(8)]
    aggs.append(F.expr("MAX(CASE WHEN n = 8 THEN nv END)").alias("zc"))
    return sc.groupBy("row", "col").agg(*aggs).where("zc IS NOT NULL")


def corner_detection(cells: DataFrame) -> DataFrame:
    """CornerDetection (image_analysis/corner_detection.rs:206-252):
    boolean image; a foreground cell is a corner when any of the four
    5-element templates matches (two specific foreground neighbors +
    three specific background neighbors in D8 order)."""
    piv = _pivot_d8(cells)
    b = [f"(COALESCE(zn_{i}, 0.0) > 0.0)" for i in range(8)]
    tmpl = " OR ".join(
        "(" + " AND ".join(
            [b[t[0]], b[t[1]]] + [f"NOT {b[t[j]]}" for j in (2, 3, 4)]
        ) + ")"
        for t in CORNER_TEMPLATES
    )
    return piv.selectExpr(
        "row", "col",
        f"CAST(CASE WHEN zc > 0.0 AND ({tmpl}) THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value")


def remove_spurs(cells: DataFrame, iterations: int = 5) -> DataFrame:
    """RemoveSpurs (image_analysis/remove_spurs.rs semantics): prune
    line-end cells — foreground cells with <= 1 foreground neighbor —
    for a fixed number of rounds. Parallel-deterministic rule (the
    reference prunes in scan order; the simultaneous-round variant used
    here removes the same spurs, one round per spur cell)."""
    cur = cells
    for _ in range(iterations):
        piv = _pivot_d8(cur)
        nbrs = " + ".join(
            f"CASE WHEN COALESCE(zn_{i}, 0.0) > 0.0 THEN 1 ELSE 0 END"
            for i in range(8))
        cur = piv.selectExpr(
            "row", "col",
            f"CAST(CASE WHEN zc > 0.0 AND ({nbrs}) <= 1 THEN 0.0 "
            f"ELSE zc END AS DOUBLE) AS value")
    return cur


def thicken_line(cells: DataFrame) -> DataFrame:
    """ThickenRasterLine (image_analysis/thicken_line.rs semantics):
    break diagonal-only line crossings. The reference edits in scan
    order; this deterministic parallel variant fills the NW background
    cell of every anti-diagonal 2x2 pair and the NE background cell of
    every main-diagonal pair — every diagonal crossing gains a rook
    connection."""
    offs = {0: (0, 0), 1: (0, 1), 2: (1, 0), 3: (1, 1)}
    pairs = ", ".join(
        f"STRUCT(row - ({dr}L) AS crow, col - ({dc}L) AS ccol, {n} AS n)"
        for n, (dr, dc) in offs.items())
    sc = (
        cells.withColumn("__s", F.expr(f"EXPLODE(ARRAY({pairs}))"))
        .selectExpr("__s.crow AS row", "__s.ccol AS col", "__s.n AS n", "value AS nv")
    )
    piv = sc.groupBy("row", "col").agg(
        *[F.expr(f"MAX(CASE WHEN n = {i} THEN nv END)").alias(f"q{i}")
          for i in range(4)])
    fg = [f"(COALESCE(q{i}, 0.0) > 0.0)" for i in range(4)]
    # anti-diagonal: q1, q2 fg and q0, q3 bg -> fill q0 (the 2x2 anchor);
    # main diagonal: q0, q3 fg and q1, q2 bg -> fill q1 (one to the east)
    fill_here = (
        f"({fg[1]} AND {fg[2]} AND NOT {fg[0]} AND NOT {fg[3]})"
    )
    fill_east = (
        f"({fg[0]} AND {fg[3]} AND NOT {fg[1]} AND NOT {fg[2]})"
    )
    add = piv.selectExpr(
        "row", "col",
        f"CASE WHEN {fill_here} THEN STRUCT(row AS r, col AS c) "
        f"WHEN {fill_east} THEN STRUCT(row AS r, col + 1L AS c) "
        f"ELSE NULL END AS f",
    ).where("f IS NOT NULL").selectExpr("f.r AS row", "f.c AS col", "1.0 AS value")
    return (
        cells.unionByName(add)
        .groupBy("row", "col").agg(F.max("value").alias("value"))
    )


def line_thinning(cells: DataFrame, max_iters: int = 32) -> DataFrame:
    """LineThinning (image_analysis/line_thin.rs family): Zhang-Suen
    two-subiteration skeletonization — each sub-round removes boundary
    foreground cells with 2..6 neighbors, exactly one 0->1 transition
    around the ring, and the directional background conditions. Both
    sub-rounds are parallel-deterministic; iterate to a fixpoint.

    Sparse plan: a skeleton's foreground is a vanishing fraction of the
    raster (stream lines on a continental DEM), so each sub-round
    scatters ONLY foreground cells to their 8 neighbours and folds the
    hits into a presence bitmask — per-round shuffle is O(|foreground|),
    not O(cells). Values are identical to the dense pivot plan (same
    conditions over the same binary neighbourhoods); the line_thin
    driver query stays oracle-bit-exact."""
    fg = cells.where("value > 0.0").select("row", "col") \
        .localCheckpoint(eager=True)
    prev_count = fg.count()
    # ring order P2..P9 = N, NE, E, SE, S, SW, W, NW in D8 indices
    # (dx,dy): 0=(1,-1) NE, 1=(1,0) E, 2=(1,1) SE, 3=(0,1) S,
    # 4=(-1,1) SW, 5=(-1,0) W, 6=(-1,-1) NW, 7=(0,-1) N
    ring = [7, 0, 1, 2, 3, 4, 5, 6]
    scat = ", ".join(
        f"STRUCT(row - ({_D8_DY[i]}L) AS crow, col - ({_D8_DX[i]}L) AS ccol, "
        f"{1 << i}L AS b)"
        for i in range(8))
    p = [f"(CAST(SHIFTRIGHT(__m, {ring[j]}) AS INT) & 1)" for j in range(8)]
    trans = " + ".join(
        f"(CASE WHEN {p[j]} = 0 AND {p[(j + 1) % 8]} = 1 THEN 1 ELSE 0 END)"
        for j in range(8))
    for _ in range(max_iters):
        for phase in (0, 1):
            if phase == 0:
                c1 = f"({p[0]} * {p[2]} * {p[4]}) = 0"   # P2*P4*P6
                c2 = f"({p[2]} * {p[4]} * {p[6]}) = 0"   # P4*P6*P8
            else:
                c1 = f"({p[0]} * {p[2]} * {p[6]}) = 0"   # P2*P4*P8
                c2 = f"({p[0]} * {p[4]} * {p[6]}) = 0"   # P2*P6*P8
            nb = (fg.withColumn("__s", F.expr(f"EXPLODE(ARRAY({scat}))"))
                  .selectExpr("__s.crow AS row", "__s.ccol AS col",
                              "__s.b AS b")
                  .groupBy("row", "col").agg(F.sum("b").alias("__m")))
            fg = (fg.join(nb, ["row", "col"], "left")
                  .selectExpr("row", "col", "COALESCE(__m, 0L) AS __m")
                  .where(f"NOT (BIT_COUNT(__m) BETWEEN 2 AND 6 "
                         f"AND ({trans}) = 1 AND {c1} AND {c2})")
                  .select("row", "col"))
        fg = fg.localCheckpoint(eager=True)
        n = fg.count()
        if n == prev_count:
            break
        prev_count = n
    keep = fg.withColumn("__keep", F.lit(1))
    return (cells.join(keep, ["row", "col"], "left")
            .selectExpr("row", "col",
                        "CAST(CASE WHEN value > 0.0 AND __keep IS NULL "
                        "THEN 0.0 ELSE value END AS DOUBLE) AS value"))


# ---------------------------------------------------------------------------
# Round-3: multiscale terrain family
# (terrain_analysis/multiscale_roughness.rs, multiscale_std_dev_normals.rs,
#  multiscale_elevation_percentile.rs,
#  multiscale_topographic_position_image.rs,
#  whitebox-plugins/src/gaussian_scale_space/)
# ---------------------------------------------------------------------------


def integral_image_multi(df: DataFrame, cols: list[str]) -> DataFrame:
    """Row-then-column cumulative sums of several columns at once — ONE
    pair of window passes regardless of column count, so every scale of
    a multiscale loop reuses the same materialized prefix sums."""
    from pyspark.sql import Window

    w1 = Window.partitionBy("row").orderBy("col").rowsBetween(Window.unboundedPreceding, 0)
    out = df
    for c in cols:
        out = out.withColumn(f"__rc_{c}", F.sum(c).over(w1))
    w2 = Window.partitionBy("col").orderBy("row").rowsBetween(Window.unboundedPreceding, 0)
    for c in cols:
        out = out.withColumn(f"ii_{c}", F.sum(f"__rc_{c}").over(w2))
    return out.select("row", "col", *[f"ii_{c}" for c in cols])


def _window_sums_ii(ii: DataFrame, centers: DataFrame, meta: GridMeta,
                    radius: int, cols: list[str]) -> DataFrame:
    """Clamped-window sums of the given integral-image columns via the
    4-corner-lookup plan (mean_filter_ii), for all columns in one set of
    joins. Adds s_<col> and the window cell count `wn`."""
    b = centers.selectExpr(
        "row", "col",
        f"GREATEST(row - {radius}, 0L) AS r1",
        f"LEAST(row + {radius}, {meta.rows - 1}L) AS r2",
        f"GREATEST(col - {radius}, 0L) AS c1",
        f"LEAST(col + {radius}, {meta.columns - 1}L) AS c2",
    )

    def corner(df, rr, cc, tag):
        sel = ii.selectExpr(
            f"row AS __r_{tag}", f"col AS __c_{tag}",
            *[f"ii_{c} AS {tag}_{c}" for c in cols])
        return df.join(
            sel,
            (F.expr(rr) == F.col(f"__r_{tag}")) & (F.expr(cc) == F.col(f"__c_{tag}")),
            "left",
        ).drop(f"__r_{tag}", f"__c_{tag}")

    j = corner(b, "r2", "c2", "A")
    j = corner(j, "r1 - 1", "c2", "B")
    j = corner(j, "r2", "c1 - 1", "C")
    j = corner(j, "r1 - 1", "c1 - 1", "D")
    exprs = ["row", "col",
             "CAST((r2 - r1 + 1) * (c2 - c1 + 1) AS DOUBLE) AS wn"]
    for c in cols:
        exprs.append(
            f"(A_{c} - COALESCE(B_{c}, 0.0) - COALESCE(C_{c}, 0.0) "
            f"+ COALESCE(D_{c}, 0.0)) AS s_{c}")
    return j.selectExpr(*exprs)


def surface_normals(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """Per-cell unit surface normal (nx, ny, nz) from the 3x3 Sobel
    gradients (the normal-vector construction of
    multiscale_roughness.rs; missing neighbors center-substituted).
    NormalVectors tool equivalent for rasters."""
    from .hydro import focal_pivot3_raw

    piv = focal_pivot3_raw(cells)
    sub = [f"COALESCE(zn_{i}, zc)" for i in range(8)]
    fx = (f"(({sub[2]}) - ({sub[4]}) + 2.0 * (({sub[1]}) - ({sub[5]})) "
          f"+ ({sub[0]}) - ({sub[6]})) / {8.0 * meta.resolution_x!r}")
    fy = (f"(({sub[6]}) - ({sub[4]}) + 2.0 * (({sub[7]}) - ({sub[3]})) "
          f"+ ({sub[0]}) - ({sub[2]})) / {8.0 * meta.resolution_y!r}")
    nrm = f"SQRT(({fx}) * ({fx}) + ({fy}) * ({fy}) + 1.0)"
    return piv.selectExpr(
        "row", "col",
        f"(-({fx})) / ({nrm}) AS nx",
        f"(-({fy})) / ({nrm}) AS ny",
        f"1.0 / ({nrm}) AS nz",
    )


def multiscale_roughness(cells: DataFrame, meta: GridMeta,
                         radii: list[int],
                         round_to: int | None = None) -> DataFrame:
    """MultiscaleRoughness (terrain_analysis/multiscale_roughness.rs
    semantics): per cell and scale, the angular dispersion of surface
    normals in the window — acos(mean resultant length) in degrees;
    output the max across scales and the scale it occurred at
    (row, col, value, scale).

    Plan: one 3x3 normals pass, ONE multi-column integral image over
    (nx, ny, nz), then per radius only the 4-corner-lookup joins — the
    integral image is computed once no matter how many scales.

    round_to: round the per-scale metric BEFORE the argmax — the
    cross-engine determinism knob (near-ties, e.g. exactly-planar
    patches where every scale is ~0, otherwise resolve by float dust
    that differs between summation orders)."""
    norms = surface_normals(cells, meta)
    ii = integral_image_multi(norms, ["nx", "ny", "nz"]).localCheckpoint(eager=True)
    centers = cells.select("row", "col")
    outs = []
    for r in radii:
        s = _window_sums_ii(ii, centers, meta, r, ["nx", "ny", "nz"])
        m = ("DEGREES(ACOS(LEAST(SQRT(s_nx * s_nx + s_ny * s_ny + s_nz * s_nz) "
             "/ wn, 1.0)))")
        if round_to is not None:
            m = f"ROUND({m}, {round_to})"
        outs.append(s.selectExpr(
            "row", "col", f"{m} AS rough", f"CAST({r} AS INT) AS scale",
        ))
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), outs)
    return u.groupBy("row", "col").agg(
        F.expr("MIN_BY(rough, STRUCT(-rough, scale))").alias("value"),
        F.expr("MIN_BY(scale, STRUCT(-rough, scale))").alias("scale"),
    )


def multiscale_std_dev_normals(cells: DataFrame, meta: GridMeta,
                               radii: list[int],
                               round_to: int | None = None) -> DataFrame:
    """MultiscaleStdDevNormals (terrain_analysis/
    multiscale_std_dev_normals.rs semantics): spherical standard
    deviation of normals s = sqrt(-2 ln R) in degrees per window (R =
    mean resultant length), max across scales + argmax scale. Same
    one-integral-image plan as multiscale_roughness."""
    norms = surface_normals(cells, meta)
    ii = integral_image_multi(norms, ["nx", "ny", "nz"]).localCheckpoint(eager=True)
    centers = cells.select("row", "col")
    outs = []
    for r in radii:
        s = _window_sums_ii(ii, centers, meta, r, ["nx", "ny", "nz"])
        m = ("DEGREES(SQRT(-2.0 * LN(GREATEST(LEAST("
             "SQRT(s_nx * s_nx + s_ny * s_ny + s_nz * s_nz) / wn, 1.0), 1e-12)"
             ")))")
        if round_to is not None:
            m = f"ROUND({m}, {round_to})"
        outs.append(s.selectExpr(
            "row", "col", f"{m} AS sdev", f"CAST({r} AS INT) AS scale",
        ))
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), outs)
    return u.groupBy("row", "col").agg(
        F.expr("MIN_BY(sdev, STRUCT(-sdev, scale))").alias("value"),
        F.expr("MIN_BY(scale, STRUCT(-sdev, scale))").alias("scale"),
    )


def multiscale_elevation_percentile(cells: DataFrame,
                                    radii: list[int]) -> DataFrame:
    """MultiscaleElevationPercentile (terrain_analysis/
    multiscale_elevation_percentile.rs semantics): per scale, the
    percentage of window cells strictly below the center; keep the
    value FARTHEST from 50 (the strongest positive/negative topographic
    position) and its scale. Scatter-agg per radius (exact counting —
    the reference's binned integral histogram is an approximation; at
    very large radii swap in the binned plan)."""
    from functools import reduce

    outs = []
    for r in radii:
        outs.append(elev_percentile(cells, r).selectExpr(
            "row", "col", "value AS ep", f"CAST({r} AS INT) AS scale"))
    u = reduce(lambda a, b: a.unionByName(b), outs)
    return u.groupBy("row", "col").agg(
        F.expr("MIN_BY(ep, STRUCT(-ABS(ep - 50.0), scale))").alias("value"),
        F.expr("MIN_BY(scale, STRUCT(-ABS(ep - 50.0), scale))").alias("scale"),
    )


def multiscale_topographic_position_image(
        cells: DataFrame, local: list[int], meso: list[int],
        broad: list[int], cutoff: float = 2.58) -> DataFrame:
    """MultiscaleTopographicPositionImage (terrain_analysis/
    multiscale_topographic_position_image.rs): RGB composite of the
    DEVmax magnitude at three scale ranges — R=broad, G=meso, B=local,
    each |dev| clamped at `cutoff` and scaled to 0..255. Output
    (row, col, red, green, blue, value) with value the packed 32-bit
    RGBA the reference writes."""
    chans = {}
    for name, radii in (("blue", local), ("green", meso), ("red", broad)):
        dev = max_elevation_deviation(cells, radii).selectExpr(
            "row", "col",
            # FLOOR before the INT cast: engines disagree on double->int
            # casts (Spark truncates, DuckDB rounds); FLOOR is portable
            f"CAST(FLOOR(LEAST(ABS(value) / {cutoff!r}, 1.0) * 255.0) AS INT) AS {name}")
        chans[name] = dev
    j = (chans["red"].join(chans["green"], ["row", "col"])
         .join(chans["blue"], ["row", "col"]))
    return j.selectExpr(
        "row", "col", "red", "green", "blue",
        "CAST(CAST(255 AS BIGINT) * 16777216 + blue * 65536 + green * 256 "
        "+ red AS DOUBLE) AS value",
    )


def gaussian_scale_space(cells: DataFrame, meta: GridMeta,
                         sigmas: list[float],
                         separable: bool = True) -> DataFrame:
    """GaussianScaleSpace (whitebox-plugins/src/gaussian_scale_space/
    semantics, simplified response): smooth the DEM at each sigma with
    the separable Gaussian, take the difference-of-Gaussians between
    consecutive scales, and per cell keep the DoG with the largest
    magnitude and the sigma it peaked at (row, col, value, scale).

    separable=False swaps in the deterministic k x k pivot plans
    (fixed-order folds a DuckDB oracle replays — the dog_filter
    pattern); the default separable path is the large-sigma scale
    path."""
    from functools import reduce

    assert len(sigmas) >= 2, "need at least two sigmas for a DoG"
    smooth = gaussian_filter_separable if separable else gaussian_filter
    smoothed = [
        smooth(cells, s).selectExpr("row", "col", f"value AS g_{i}")
        for i, s in enumerate(sigmas)
    ]
    outs = []
    for i in range(len(sigmas) - 1):
        d = smoothed[i].join(smoothed[i + 1], ["row", "col"]).selectExpr(
            "row", "col", f"g_{i + 1} - g_{i} AS dog",
            f"CAST({sigmas[i]!r} AS DOUBLE) AS scale")
        outs.append(d)
    u = reduce(lambda a, b: a.unionByName(b), outs)
    return u.groupBy("row", "col").agg(
        F.expr("MIN_BY(dog, STRUCT(-ABS(dog), scale))").alias("value"),
        F.expr("MIN_BY(scale, STRUCT(-ABS(dog), scale))").alias("scale"),
    )


# ---------------------------------------------------------------------------
# Round-3: edge-preserving / terrain-cleaning filters
# (image_analysis/edge_preserving_mean_filter.rs,
#  terrain_analysis/{edge_density,feature_preserving_smoothing,
#  remove_off_terrain_objects}.rs)
# ---------------------------------------------------------------------------


def edge_preserving_mean_filter(cells: DataFrame, radius: int = 1,
                                threshold: float = 15.0) -> DataFrame:
    """EdgePreservingMeanFilter (image_analysis/
    edge_preserving_mean_filter.rs): mean of the window cells whose
    |value - center| <= threshold (the center always participates).
    One scatter + conditional aggregate — SQL-exact."""
    sc = _scatter(cells, radius)
    j = sc.join(cells.selectExpr("row", "col", "value AS z"), ["row", "col"])
    return j.groupBy("row", "col", "z").agg(
        F.expr(
            f"SUM(CASE WHEN ABS(nv - z) <= {threshold!r} THEN nv ELSE 0.0 END) "
            f"/ SUM(CASE WHEN ABS(nv - z) <= {threshold!r} THEN 1.0 ELSE 0.0 END)"
        ).alias("value")).drop("z")


def edge_density(cells: DataFrame, meta: GridMeta, radius: int = 3,
                 norm_diff_deg: float = 5.0) -> DataFrame:
    """EdgeDensity (terrain_analysis/edge_density.rs semantics): flag
    cells whose surface normal differs from any 4-neighbor's by more
    than `norm_diff_deg`, then report the windowed proportion of
    flagged cells (integral-image mean — O(1) per cell at any
    radius)."""
    import math as _m

    norms = surface_normals(cells, meta)
    cos_t = _m.cos(_m.radians(norm_diff_deg))
    offs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    pairs = ", ".join(
        f"STRUCT(row + ({dr}L) AS nrow, col + ({dc}L) AS ncol)" for dr, dc in offs)
    nb = norms.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))")).selectExpr(
        "__n.nrow AS row", "__n.ncol AS col",
        "nx AS qnx", "ny AS qny", "nz AS qnz")
    j = norms.join(nb, ["row", "col"])
    edges = j.groupBy("row", "col").agg(
        F.expr(f"CAST(MAX(CASE WHEN nx * qnx + ny * qny + nz * qnz "
               f"< {cos_t!r} THEN 1 ELSE 0 END) AS DOUBLE)").alias("value"))
    # cells with no neighbor rows (isolated) count as non-edges
    base = cells.select("row", "col").join(edges, ["row", "col"], "left") \
        .selectExpr("row", "col", "COALESCE(value, 0.0) AS value")
    return mean_filter_ii(base, meta, radius)


def feature_preserving_smoothing(cells: DataFrame, meta: GridMeta,
                                 filter_size: int = 1, norm_diff: float = 15.0,
                                 num_iter: int = 3) -> DataFrame:
    """FeaturePreservingSmoothing (terrain_analysis/
    feature_preserving_smoothing.rs semantics; Sun et al. 2007,
    simplified single-stage variant): per iteration, each cell moves
    toward the average of its neighbors' tangent-plane predictions,
    weighted by normal similarity ((n_i . n_j)^4, zero beyond
    `norm_diff` degrees) — smooths low-relief noise while breaklines
    (normal discontinuities) get near-zero weight and survive.
    Deviation (documented): the reference smooths the NORMAL field
    first and then integrates elevations; this single-stage update has
    the same fixed points (planes) and preservation behavior."""
    import math as _m

    cos_t = _m.cos(_m.radians(norm_diff))
    cur = cells
    offs = [(dr, dc) for dr in range(-filter_size, filter_size + 1)
            for dc in range(-filter_size, filter_size + 1)
            if not (dr == 0 and dc == 0)]
    for _ in range(num_iter):
        norms = surface_normals(cur, meta)
        nd = cur.join(norms, ["row", "col"])
        pairs = ", ".join(
            f"STRUCT(row + ({dr}L) AS nrow, col + ({dc}L) AS ncol, "
            f"({dc} * {meta.resolution_x!r}) AS ddx, "
            f"({-dr} * {meta.resolution_y!r}) AS ddy)"
            for dr, dc in offs)
        sc = nd.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))")).selectExpr(
            "__n.nrow AS row", "__n.ncol AS col",
            "value AS zj", "nx AS jnx", "ny AS jny", "nz AS jnz",
            "__n.ddx AS ddx", "__n.ddy AS ddy")
        j = nd.join(sc, ["row", "col"])
        # neighbor j predicts center z via its tangent plane:
        # z_pred = zj + (dx * jnx + dy * jny) / jnz, dx/dy from j TO center
        w = (f"CASE WHEN nx * jnx + ny * jny + nz * jnz >= {cos_t!r} "
             f"THEN POWER(GREATEST(nx * jnx + ny * jny + nz * jnz, 0.0), 4.0) "
             f"ELSE 0.0 END")
        pred = "zj + (-ddx * jnx - ddy * jny) / jnz"
        upd = j.groupBy("row", "col", "value").agg(
            F.expr(f"SUM(({pred}) * ({w}))").alias("sw"),
            F.expr(f"SUM({w})").alias("tw"))
        cur = upd.selectExpr(
            "row", "col",
            "CASE WHEN tw > 0.0 THEN (value + sw) / (1.0 + tw) "
            "ELSE value END AS value")
    return cur


def remove_off_terrain_objects(cells: DataFrame, meta: GridMeta,
                               radius: int = 5,
                               slope_threshold: float = 15.0) -> DataFrame:
    """RemoveOffTerrainObjects (terrain_analysis/
    remove_off_terrain_objects.rs semantics, white-tophat variant):
    grey opening (min-then-max window) estimates the bare surface;
    cells rising above the opening by more than the slope-consistent
    tolerance (tan(slope) * radius * resolution) are replaced by the
    opened value. One pair of order-statistic windows + one join."""
    import math as _m

    eroded = focal_stat(cells, "min", radius)
    opened = focal_stat(eroded, "max", radius)
    tol = _m.tan(_m.radians(slope_threshold)) * radius * (
        meta.resolution_x + meta.resolution_y) / 2.0
    return cells.selectExpr("row", "col", "value AS z").join(
        opened.selectExpr("row", "col", "value AS op"), ["row", "col"]) \
        .selectExpr(
            "row", "col",
            f"CASE WHEN z - op > {tol!r} THEN op ELSE z END AS value")


def map_off_terrain_objects(cells: DataFrame, meta: GridMeta,
                            max_slope: float = 30.0,
                            min_size: int = 1) -> DataFrame:
    """MapOffTerrainObjects (terrain_analysis/map_otos.rs:285-345):
    region-grow the DEM into surfaces connected by inter-cell slope
    < max_slope (tangent of |dz| over the 8-neighbor distance);
    components smaller than min_size collapse to id 1, the rest get
    sequential ids.

    Plan: slope-predicate edges from one 8-neighbor join, generic
    min-label connected components, DENSE_RANK over row-major
    representatives for the reference's discovery-order numbering.
    Deviation (documented): the reference numbers components in
    row-major scan order and re-labels small ones to 1 afterwards,
    which can leave gaps in its id sequence; here qualifying components
    are ranked densely (no gaps) — same partition of cells, stabler
    ids."""
    import math as _m

    from pyspark.sql import Window

    from .clump import connected_components

    tan_s = _m.tan(_m.radians(max_slope))
    resx, resy = meta.resolution_x, meta.resolution_y
    diag = _m.hypot(resx, resy)
    cols_n = meta.columns
    offs = [(-1, 0, resy), (0, -1, resx), (-1, -1, diag), (-1, 1, diag)]
    arms = ", ".join(
        f"STRUCT(row + ({dr}L) AS nr, col + ({dc}L) AS nc, {d!r} AS dist)"
        for dr, dc, d in offs)
    half = cells.selectExpr(
        "row", "col", "value",
        f"EXPLODE(ARRAY({arms})) AS __n")
    edges = (
        half.join(cells.selectExpr("row AS nr2", "col AS nc2", "value AS nv"),
                  (F.expr("__n.nr") == F.col("nr2")) & (F.expr("__n.nc") == F.col("nc2")))
        .where(f"ABS(value - nv) / __n.dist < {tan_s!r}")
        .selectExpr(f"(row * {cols_n}L + col) AS a",
                    f"(__n.nr * {cols_n}L + __n.nc) AS b")
    )
    comp = cells.selectExpr(f"(row * {cols_n}L + col) AS id").join(
        connected_components(edges, "map_off_terrain_objects components", 64),
        "id", "left").selectExpr("id", "COALESCE(comp, id) AS comp")
    sized = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("__sz"))
    big = sized.where(f"__sz >= {int(min_size)}")
    ranked = big.withColumn(
        "fid", F.dense_rank().over(Window.orderBy("comp")) + 1)
    return (
        comp.join(F.broadcast(ranked.select("comp", "fid")), "comp", "left")
        .selectExpr(f"CAST(id DIV {cols_n} AS BIGINT) AS row",
                    f"CAST(id % {cols_n} AS BIGINT) AS col",
                    "CAST(COALESCE(fid, 1) AS DOUBLE) AS value")
    )


def wbt_log_kernel(sigma: float) -> tuple[int, list[float]]:
    """(filter_size, row-major Laplacian-of-Gaussian weights) exactly as
    log_filter.rs:217-270 builds them: size from the GAUSSIAN 0.001
    weight cutoff, weights term1*term2*term3 with
    term1 = -1/(pi*sigma^4) (NOT normalized — the application
    renormalizes over valid neighbors)."""
    import math

    sigma = min(max(sigma, 0.5), 20.0)
    recip = 1.0 / (math.sqrt(2.0 * math.pi) * sigma)
    two_sigma_sqr = 2.0 * sigma * sigma
    filter_size = 3
    for i in range(250):
        w = recip * math.exp(-1.0 * (i * i) / two_sigma_sqr)
        if w <= 0.001:
            filter_size = i * 2 + 1
            break
    if filter_size % 2 == 0:
        filter_size += 1
    filter_size = max(filter_size, 3)
    mid = filter_size // 2
    term1 = -1.0 / (math.pi * sigma ** 4)
    weights = []
    for row in range(filter_size):
        for col in range(filter_size):
            x, y = col - mid, row - mid
            term2 = 1.0 - (x * x + y * y) / two_sigma_sqr
            term3 = math.exp(-(x * x + y * y) / two_sigma_sqr)
            weights.append(term1 * term2 * term3)
    return filter_size, weights


def log_value_expr(sigma: float) -> tuple[int, str]:
    """(filter_size, portable-SQL expression over pivot columns) for the
    LoG filter — renormalized weighted mean over valid neighbors
    (log_filter.rs:340-349), deterministic kernel-order accumulation;
    the same string is the DuckDB oracle."""
    size, ws = wbt_log_kernel(sigma)
    num = " + ".join(
        f"CASE WHEN z_{a} IS NOT NULL THEN {ws[a]!r} * z_{a} ELSE 0.0 END"
        for a in range(size * size)
    )
    den = " + ".join(
        f"CASE WHEN z_{a} IS NOT NULL THEN {ws[a]!r} ELSE 0.0 END"
        for a in range(size * size)
    )
    return size, f"(0.0 + {num}) / (0.0 + {den})"


def log_filter(cells: DataFrame, sigma: float = 2.0) -> DataFrame:
    """LaplacianOfGaussianFilter (image_analysis/log_filter.rs):
    LoG-kernel weighted mean, renormalized over valid neighbors like the
    Gaussian filter — shares the pivot plan."""
    size, value = log_value_expr(sigma)
    piv = focal_pivotk(cells, size)
    return piv.selectExpr("row", "col", f"{value} AS value")


def lee_sigma_filter(cells: DataFrame, radius: int = 4, sigma: float = 10.0,
                     m: float = 5.0) -> DataFrame:
    """LeeSigmaFilter (image_analysis/lee_filter.rs:380-425, Lee 1983):
    mean of window values (center included) within [z - sigma,
    z + sigma]; if fewer than m qualify, fall back to the mean of the
    8 immediate neighbors. One offset-aware scatter + conditional
    aggregation — pure SQL, oracle-portable."""
    offs = [(dr, dc) for dr in range(-radius, radius + 1)
            for dc in range(-radius, radius + 1)]
    pairs = ", ".join(
        f"STRUCT(row + ({dr}L) AS crow, col + ({dc}L) AS ccol, "
        f"{str(max(abs(dr), abs(dc)) == 1 and abs(dr) <= 1).upper()} AS ring)"
        for dr, dc in offs)
    scattered = cells.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))")) \
        .selectExpr("__n.crow AS row", "__n.ccol AS col",
                    "__n.ring AS ring", "value AS nv")
    center = cells.selectExpr("row", "col", "value AS z")
    agg = (
        scattered.join(center, ["row", "col"])
        .groupBy("row", "col", "z")
        .agg(
            F.expr(f"COUNT(CASE WHEN nv >= z - {sigma!r} "
                   f"AND nv <= z + {sigma!r} THEN 1 END)").alias("n"),
            F.expr(f"SUM(CASE WHEN nv >= z - {sigma!r} "
                   f"AND nv <= z + {sigma!r} THEN nv END)").alias("s"),
            F.expr("COUNT(CASE WHEN ring THEN 1 END)").alias("rn"),
            F.expr("SUM(CASE WHEN ring THEN nv END)").alias("rs"),
        )
    )
    return agg.selectExpr(
        "row", "col",
        f"CASE WHEN n > {m!r} THEN s / CAST(n AS DOUBLE) "
        "WHEN rn > 0 THEN rs / CAST(rn AS DOUBLE) END AS value",
    ).where("value IS NOT NULL")


def surface_area_ratio_value_expr(meta: GridMeta) -> str:
    """Portable-SQL expression over the nullable 3x3 pivot (z_0..z_8,
    row-major) for SurfaceAreaRatio
    (terrain_analysis/surface_area_ratio.rs:227-330, Jenness 2004):
    16 half-edge lengths (0 when either endpoint is nodata), 8 Heron
    triangle facets, planar area reduced by cell_area/8 per facet with
    a missing vertex; value = surface_area / adjusted_planar_area.
    Projected grids only (the is_geographic latitude rescale is not
    modeled). The identical string is the DuckDB oracle."""
    resx, resy = meta.resolution_x, meta.resolution_y
    import math as _m

    diag = _m.hypot(resx, resy)
    dist_pairs = [(0, 1), (1, 2), (3, 4), (4, 5), (6, 7), (7, 8),
                  (0, 3), (1, 4), (2, 5), (3, 6), (4, 7), (5, 8),
                  (4, 0), (4, 2), (4, 6), (4, 8)]
    dist_planar = [resx] * 6 + [resy] * 6 + [diag] * 4
    tri_sides = [(0, 7, 12), (1, 7, 13), (2, 6, 12), (3, 8, 13),
                 (2, 9, 14), (3, 11, 15), (4, 10, 14), (5, 10, 15)]
    cell_area = resx * resy
    d = []
    for c, (i, j) in enumerate(dist_pairs):
        dp = dist_planar[c]
        d.append(
            f"(CASE WHEN z_{i} IS NOT NULL AND z_{j} IS NOT NULL THEN "
            f"SQRT({dp * dp!r} + (z_{i} - z_{j}) * (z_{i} - z_{j})) / 2.0 "
            f"ELSE 0.0 END)")
    areas, deficit = [], []
    for (a, b, c3) in tri_sides:
        p, q, r = d[a], d[b], d[c3]
        s = f"(({p} + {q} + {r}) / 2.0)"
        heron = (f"SQRT({s} * ({s} - {p}) * ({s} - {q}) * ({s} - {r}))")
        cond = f"{p} * {q} * {r} <> 0.0"
        areas.append(f"(CASE WHEN {cond} THEN {heron} ELSE 0.0 END)")
        deficit.append(f"(CASE WHEN {cond} THEN 0.0 ELSE {cell_area / 8.0!r} END)")
    area = " + ".join(areas)
    adj = f"({cell_area!r} - ({' + '.join(deficit)}))"
    return (f"CASE WHEN {adj} > 0.0 THEN (0.0 + {area}) / {adj} END")


def surface_area_ratio(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """SurfaceAreaRatio: Jenness triangulated 3x3 surface area over the
    (nodata-adjusted) planar cell area; centers whose adjusted planar
    area reaches 0 are omitted (the reference leaves them nodata).

    The plan layers the computation into aliased projections (16
    half-edge columns -> 8 semiperimeter columns -> 8 facet columns ->
    value) instead of one inlined expression: the single-expression
    form re-inlines each half-edge CASE/SQRT ~15x textually, blowing
    Janino's 64 KB method limit so the whole stage fell back to
    interpreted eval. Each layer's op sequence is IEEE-identical to
    the monolithic `surface_area_ratio_value_expr` text (a reused
    column carries the same bits as re-evaluating the same
    deterministic subexpression), which stays the DuckDB oracle."""
    import math as _m

    resx, resy = meta.resolution_x, meta.resolution_y
    diag = _m.hypot(resx, resy)
    dist_pairs = [(0, 1), (1, 2), (3, 4), (4, 5), (6, 7), (7, 8),
                  (0, 3), (1, 4), (2, 5), (3, 6), (4, 7), (5, 8),
                  (4, 0), (4, 2), (4, 6), (4, 8)]
    dist_planar = [resx] * 6 + [resy] * 6 + [diag] * 4
    tri_sides = [(0, 7, 12), (1, 7, 13), (2, 6, 12), (3, 8, 13),
                 (2, 9, 14), (3, 11, 15), (4, 10, 14), (5, 10, 15)]
    cell_area = resx * resy
    piv = focal_pivotk(cells, 3)
    d_cols = [
        f"(CASE WHEN z_{i} IS NOT NULL AND z_{j} IS NOT NULL THEN "
        f"SQRT({dist_planar[c] * dist_planar[c]!r} + (z_{i} - z_{j}) * (z_{i} - z_{j})) / 2.0 "
        f"ELSE 0.0 END) AS d_{c}"
        for c, (i, j) in enumerate(dist_pairs)
    ]
    l1 = piv.selectExpr("row", "col", *d_cols)
    s_cols = [f"((d_{a} + d_{b} + d_{c3}) / 2.0) AS s_{t}"
              for t, (a, b, c3) in enumerate(tri_sides)]
    l2 = l1.selectExpr("row", "col",
                       *[f"d_{c}" for c in range(len(dist_pairs))], *s_cols)
    area_cols, deficits = [], []
    for t, (a, b, c3) in enumerate(tri_sides):
        heron = f"SQRT(s_{t} * (s_{t} - d_{a}) * (s_{t} - d_{b}) * (s_{t} - d_{c3}))"
        cond = f"d_{a} * d_{b} * d_{c3} <> 0.0"
        area_cols.append(f"(CASE WHEN {cond} THEN {heron} ELSE 0.0 END) AS a_{t}")
        deficits.append(f"(CASE WHEN {cond} THEN 0.0 ELSE {cell_area / 8.0!r} END)")
    # adj stays an expression over the d columns (not the a_t herons):
    # the `value IS NOT NULL` form filtered on the FULL value alias,
    # which PushDownPredicates substitutes back into one monolithic
    # predicate above the pivot aggregate — exactly the 64 KB blow-up
    # the layering exists to avoid. `adj > 0.0` is the exact NULL
    # condition of the original CASE (area terms are never NULL), and
    # its pushed-down form only inlines the 16 half-edge CASEs once.
    adj = f"({cell_area!r} - ({' + '.join(deficits)}))"
    l3 = l2.selectExpr("row", "col", *area_cols, f"{adj} AS adj") \
        .where("adj > 0.0")
    area = " + ".join(f"a_{t}" for t in range(8))
    return l3.selectExpr(
        "row", "col", f"((0.0 + ({area})) / adj) AS value")


def stdev_pivot_value_expr(k: int) -> str:
    """Population standard deviation over the nullable z_0..z_{k-1}
    pivot columns as a FIXED-ORDER textual fold (left-associative +),
    so the double result is bit-identical in any engine that parses
    the same expression — unlike a groupBy SUM, whose accumulation
    order is nondeterministic for non-integer inputs."""
    ssum = " + ".join(f"COALESCE(z_{i}, 0.0)" for i in range(k))
    ssq = " + ".join(f"COALESCE(z_{i} * z_{i}, 0.0)" for i in range(k))
    cnt = " + ".join(f"(CASE WHEN z_{i} IS NOT NULL THEN 1 ELSE 0 END)" for i in range(k))
    return (f"SQRT(GREATEST(0.0, (({ssq}) - ({ssum}) * ({ssum}) / ({cnt})) "
            f"/ ({cnt})))")


def standard_deviation_of_slope(cells: DataFrame, meta: GridMeta,
                                radius: int = 1,
                                z_factor: float = 1.0) -> DataFrame:
    """StandardDeviationOfSlope
    (terrain_analysis/standard_deviation_of_slope.rs:350): slope in
    degrees, then the population standard deviation over the
    (2r+1)^2 window. Composition of the slope plan with a second
    k x k pivot; the stdev is a fixed-order fold (see
    stdev_pivot_value_expr) so the result is oracle-reproducible."""
    sl = slope(cells, meta, z_factor=z_factor, units="degrees")
    size = 2 * radius + 1
    piv = focal_pivotk(sl, size)
    return piv.selectExpr(
        "row", "col", f"({stdev_pivot_value_expr(size * size)}) AS value")


def spherical_std_dev_of_normals(cells: DataFrame, meta: GridMeta,
                                 filter_size: int = 11,
                                 round_to: int | None = None) -> DataFrame:
    """SphericalStdDevOfNormals (terrain_analysis/
    spherical_std_dev_of_normals.rs): the single-scale case of
    multiscale_std_dev_normals — s = sqrt(-2 ln R) degrees over one
    filter_size window."""
    r = max(filter_size, 3) // 2
    return multiscale_std_dev_normals(cells, meta, [r], round_to) \
        .select("row", "col", "value")


def drainage_preserving_smoothing(cells: DataFrame, meta: GridMeta,
                                  filter_size: int = 1,
                                  norm_diff: float = 15.0,
                                  num_iter: int = 3) -> DataFrame:
    """DrainagePreservingSmoothing (terrain_analysis/
    drainage_preserving_smoothing.rs): deprecated in the reference in
    favour of FeaturePreservingSmoothing with identical defaults — the
    reference file states the tool was merged; this alias keeps the
    historical name callable."""
    return feature_preserving_smoothing(cells, meta, filter_size=filter_size,
                                        norm_diff=norm_diff,
                                        num_iter=num_iter)


def find_ridges(cells: DataFrame, meta: GridMeta,
                line_thin: bool = False) -> DataFrame:
    """FindRidges (terrain_analysis/find_ridges.rs:279-300): 1 where
    both the N and S neighbors are strictly below the cell, or both the
    W and E neighbors are; else 0. Optional thinning uses the engine's
    Zhang-Suen line_thinning (the reference inlines its own 8-pattern
    elimination — skeletons can differ by single cells)."""
    from .hydro import focal_pivot3_raw

    # D8 order: zn_7 = N, zn_3 = S, zn_5 = W, zn_1 = E
    piv = focal_pivot3_raw(cells)
    cond = ("(zn_7 IS NOT NULL AND zn_3 IS NOT NULL AND zn_7 < zc AND zn_3 < zc) "
            "OR (zn_5 IS NOT NULL AND zn_1 IS NOT NULL AND zn_5 < zc AND zn_1 < zc)")
    out = piv.selectExpr(
        "row", "col",
        f"CAST(CASE WHEN {cond} THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value")
    if line_thin:
        out = line_thinning(out)
    return out


def highpass_bilateral_filter(cells: DataFrame, sigma_dist: float = 0.75,
                              sigma_int: float = 1.0) -> DataFrame:
    """HighPassBilateralFilter (
    image_analysis/highpass_bilateral_filter.rs): z minus the bilateral-filtered value (the reference's
    `z - z_final`)."""
    bf = bilateral_filter(cells, sigma_dist, sigma_int) \
        .withColumnRenamed("value", "__bf")
    return cells.join(bf, ["row", "col"]).selectExpr(
        "row", "col", "value - __bf AS value")


def average_normal_vector_angular_deviation(cells: DataFrame,
                                            meta: GridMeta,
                                            filter_size: int = 5) -> DataFrame:
    """AverageNormalVectorAngularDeviation (terrain_analysis/
    average_normal_vector_angular_deviation.rs): per cell, the angle in
    degrees between the 3x3 gradient normal of the RAW DEM and that of
    a Gaussian-smoothed DEM (sigma = (midpoint + 0.5)/3 clamped to
    >= 1), then the mean of those angles over the filter window
    (integral-image window mean).

    Deviations: edge cells center-substitute missing neighbors (the
    reference reads the nodata sentinel out-of-grid unguarded), and the
    window mean reuses the engine's clamped integral-image plan."""
    import math as _m

    from .hydro import focal_pivot3_raw

    mid = max(filter_size, 3) // 2
    sigma = max((mid + 0.5) / 3.0, 1.0)
    sm = gaussian_filter(cells, sigma)
    res = (meta.resolution_x + meta.resolution_y) / 2.0
    egr = 8.0 * res

    def grads(df, a, b):
        piv = focal_pivot3_raw(df)
        sub = [f"COALESCE(zn_{i}, zc)" for i in range(8)]
        fx = (f"(-((({sub[2]}) - ({sub[4]}) + 2.0 * (({sub[1]}) - ({sub[5]})) "
              f"+ ({sub[0]}) - ({sub[6]})) / {egr!r}))")
        fy = (f"(-((({sub[6]}) - ({sub[4]}) + 2.0 * (({sub[7]}) - ({sub[3]})) "
              f"+ ({sub[0]}) - ({sub[2]})) / {egr!r}))")
        return piv.selectExpr("row", "col", f"{fx} AS {a}", f"{fy} AS {b}")

    g1 = grads(cells, "a1", "b1")
    g2 = grads(sm, "a2", "b2")
    ang = g1.join(g2, ["row", "col"]).selectExpr(
        "row", "col",
        "DEGREES(ACOS(LEAST(GREATEST((a1 * a2 + b1 * b2 + 1.0) "
        "/ SQRT((a1 * a1 + b1 * b1 + 1.0) * (a2 * a2 + b2 * b2 + 1.0)), "
        "-1.0), 1.0))) AS value")
    ii = integral_image(ang).withColumnRenamed("ii", "ii_v")
    s = _window_sums_ii(ii.selectExpr("row", "col", "ii_v"),
                        ang.select("row", "col"), meta, mid, ["v"])
    return s.selectExpr("row", "col", "s_v / wn AS value")


def _signature_at_points(cells: DataFrame, meta: GridMeta,
                         points: DataFrame, radii: list[int],
                         metric: str, round_to: int | None) -> DataFrame:
    """Shared engine for the multiscale *Signature tools: evaluate the
    per-scale metric ONLY at the sample points' cells (the signature
    plot tables of max_elev_deviation_signature.rs /
    multiscale_roughness_signature.rs /
    multiscale_std_dev_normals_signature.rs). Output
    (point_id, scale, value)."""
    locs = points.selectExpr(
        "point_id",
        f"{meta.row_from_y_expr('y')} AS row",
        f"{meta.col_from_x_expr('x')} AS col")
    outs = []
    if metric == "dev":
        for r in radii:
            d = dev_from_mean_elev(cells, r)
            outs.append(locs.join(d, ["row", "col"]).selectExpr(
                "point_id", f"CAST({r} AS INT) AS scale", "value"))
    else:
        norms = surface_normals(cells, meta)
        ii = integral_image_multi(norms, ["nx", "ny", "nz"]) \
            .localCheckpoint(eager=True)
        centers = locs.select("row", "col").distinct()
        for r in radii:
            s = _window_sums_ii(ii, centers, meta, r, ["nx", "ny", "nz"])
            if metric == "rough":
                m = ("DEGREES(ACOS(LEAST(SQRT(s_nx * s_nx + s_ny * s_ny "
                     "+ s_nz * s_nz) / wn, 1.0)))")
            else:
                m = ("DEGREES(SQRT(-2.0 * LN(GREATEST(LEAST("
                     "SQRT(s_nx * s_nx + s_ny * s_ny + s_nz * s_nz) / wn, "
                     "1.0), 1e-12))))")
            if round_to is not None:
                m = f"ROUND({m}, {round_to})"
            outs.append(locs.join(s, ["row", "col"]).selectExpr(
                "point_id", f"CAST({r} AS INT) AS scale", f"{m} AS value"))
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), outs)


def max_elev_dev_signature(cells: DataFrame, meta: GridMeta,
                           points: DataFrame, radii: list[int]) -> DataFrame:
    """MaxElevDevSignature (terrain_analysis/max_elev_dev_signature.rs):
    the deviation-from-mean-elevation value at each sample point for
    every tested scale. points: (point_id, x, y)."""
    return _signature_at_points(cells, meta, points, radii, "dev", None)


def multiscale_roughness_signature(cells: DataFrame, meta: GridMeta,
                                   points: DataFrame, radii: list[int],
                                   round_to: int | None = None) -> DataFrame:
    """MultiscaleRoughnessSignature (terrain_analysis/
    multiscale_roughness_signature.rs)."""
    return _signature_at_points(cells, meta, points, radii, "rough",
                                round_to)


def multiscale_std_dev_normals_signature(cells: DataFrame, meta: GridMeta,
                                         points: DataFrame,
                                         radii: list[int],
                                         round_to: int | None = None) -> DataFrame:
    """MultiscaleStdDevNormalsSignature (terrain_analysis/
    multiscale_std_dev_normals_signature.rs)."""
    return _signature_at_points(cells, meta, points, radii, "sdn", round_to)


def max_anisotropy_dev(cells: DataFrame, meta: GridMeta,
                       radii: list[int],
                       signature_points: DataFrame | None = None) -> DataFrame:
    """MaxAnisotropyDev (terrain_analysis/max_anisotropy_dev.rs): per
    scale (window midpoint m, middle-pane radius (2m+1)//6), DEV is
    computed over the full window plus 4 directional panes (N-S strip,
    E-W strip, NE-SW and NW-SE staircases — exact corner sets of the
    reference's integral-image lookups); anisotropy =
    sqrt(sum((pane_dev - overall_dev)^2) / panes_valid). Output the max
    across scales and its scale, interior cells only (the reference
    skips any cell whose full window touches the rim).

    Plan: ONE (z, z^2, count) integral image; per scale a 16-corner
    scatter+pivot (one shuffle) and pure expressions. Sums of integer
    elevations are exact, so the gate is bit-identical to a direct-sum
    oracle."""
    from functools import reduce

    ii_src = cells.selectExpr("row", "col", "value AS v",
                              "value * value AS v2",
                              "CAST(1.0 AS DOUBLE) AS cnt")
    ii = integral_image_multi(ii_src, ["v", "v2", "cnt"]) \
        .localCheckpoint(eager=True)
    z = cells.selectExpr("row", "col", "value AS z")
    outs = []
    for m in radii:
        mpr = (m * 2 + 1) // 6
        ys = {1: -(m + 1), 2: -(mpr + 1), 3: mpr, 4: m}
        pairs = ", ".join(
            f"STRUCT(row - ({ys[i]}L) AS crow, col - ({ys[j]}L) AS ccol, "
            f"{i * 10 + j} AS tag)"
            for i in ys for j in ys)
        sc = (ii.withColumn("__s", F.expr(f"EXPLODE(ARRAY({pairs}))"))
              .selectExpr("__s.crow AS row", "__s.ccol AS col",
                          "__s.tag AS tag", "ii_v", "ii_v2", "ii_cnt"))
        aggs = []
        for i in ys:
            for j in ys:
                t = i * 10 + j
                for col_ in ("v", "v2", "cnt"):
                    aggs.append(F.expr(
                        f"MAX(CASE WHEN tag = {t} THEN ii_{col_} END)"
                    ).alias(f"{col_}_{i}{j}"))
        piv = sc.groupBy("row", "col").agg(*aggs)
        piv = piv.join(z, ["row", "col"]).where(
            f"row - {m + 1} >= 0 AND row + {m} < {meta.rows} "
            f"AND col - {m + 1} >= 0 AND col + {m} < {meta.columns}")

        def rect(ya, yb, xa, xb, c):
            # sum over rows (ya, yb] x cols (xa, xb] in corner-index terms
            return (f"({c}_{yb}{xb} + {c}_{ya}{xa} - {c}_{ya}{xb} "
                    f"- {c}_{yb}{xa})")

        panes = {
            0: [(1, 4, 1, 4)],
            1: [(1, 4, 2, 3)],
            2: [(2, 3, 1, 4)],
            3: [(1, 2, 3, 4), (2, 3, 2, 3), (3, 4, 1, 2)],
            4: [(1, 2, 1, 2), (2, 3, 2, 3), (3, 4, 3, 4)],
        }
        # Layered aliased columns (pane sums -> per-pane DEV -> aniso)
        # instead of one inlined expression: the monolithic aniso text
        # re-inlines each pane's 4/12-corner sums ~6x, overflowing
        # Janino's 64 KB method limit in the broadcast-join consume
        # method (the stage fell back to interpreted eval). Column
        # reuse is bit-identical to re-evaluating the same
        # deterministic subexpression text.
        sum_cols = []
        for p, rects in panes.items():
            sum_cols.append(
                "(" + " + ".join(rect(*r, "cnt") for r in rects) + f") AS nn_{p}")
            sum_cols.append(
                "(" + " + ".join(rect(*r, "v") for r in rects) + f") AS sm_{p}")
            sum_cols.append(
                "(" + " + ".join(rect(*r, "v2") for r in rects) + f") AS s2_{p}")
        l1 = piv.selectExpr("row", "col", "z", *sum_cols)
        dev_cols = []
        for p in panes:
            v = f"((s2_{p} - (sm_{p} * sm_{p}) / nn_{p}) / nn_{p})"
            dev_cols.append(
                f"(CASE WHEN nn_{p} > 3 AND ({v}) > 0.0 "
                f"THEN (z - sm_{p} / nn_{p}) / SQRT({v}) ELSE NULL END) AS dev_{p}")
        # Filter on the CASE conditions themselves, not on `a IS NOT
        # NULL`: a filter over the full aniso alias gets substituted
        # back into one monolithic predicate inside the broadcast-join
        # consume method by PushDownPredicates (the 64 KB blow-up
        # again). dev_p IS NOT NULL ⟺ its CASE condition holds — the
        # rim filter above guarantees every corner sum is non-null, so
        # the THEN branch never yields NULL — and the condition form
        # pushes down without evaluating the dev divisions.
        conds = {
            p: (f"(nn_{p} > 3 AND "
                f"(((s2_{p} - (sm_{p} * sm_{p}) / nn_{p}) / nn_{p})) > 0.0)")
            for p in panes
        }
        l2 = l1.where(
            f"{conds[0]} AND ({' OR '.join(conds[p] for p in (1, 2, 3, 4))})"
        ).selectExpr("row", "col", *dev_cols)
        diffs = [f"COALESCE((dev_{p} - dev_0) * (dev_{p} - dev_0), 0.0)"
                 for p in (1, 2, 3, 4)]
        valid = [f"(CASE WHEN dev_{p} IS NOT NULL THEN 1.0 ELSE 0.0 END)"
                 for p in (1, 2, 3, 4)]
        aniso = (f"SQRT(({' + '.join(diffs)}) / ({' + '.join(valid)}))")
        outs.append(l2.selectExpr(
            "row", "col", f"{aniso} AS a", f"CAST({m} AS INT) AS scale"))
    u = reduce(lambda a, b: a.unionByName(b), outs)
    if signature_points is not None:
        # MaxAnisotropyDevSignature (max_anisotropy_dev_signature.rs):
        # the per-scale anisotropy at the sample points, no argmax
        locs = signature_points.selectExpr(
            "point_id",
            f"{meta.row_from_y_expr('y')} AS row",
            f"{meta.col_from_x_expr('x')} AS col")
        return locs.join(u, ["row", "col"]).selectExpr(
            "point_id", "scale", "a AS value")
    return u.groupBy("row", "col").agg(
        F.expr("MIN_BY(a, STRUCT(-a, scale))").alias("value"),
        F.expr("MIN_BY(scale, STRUCT(-a, scale))").alias("scale"))


_HYPSO_PALETTES = {
    # hypsometrically_tinted_hillshade.rs:648-700 (f32 stop tables)
    "atlas": [(72.0, 135.0, 55.0), (226.0, 219.0, 171.0),
              (228.0, 180.0, 123.0)],
    "high_relief": [(72.0, 135.0, 55.0), (226.0, 219.0, 171.0),
                    (228.0, 180.0, 123.0), (182.0, 156.0, 144.0),
                    (255.0, 255.0, 255.0)],
    "arid": [(119.0, 101.0, 91.0), (254.0, 213.0, 132.0),
             (254.0, 252.0, 231.0)],
    "soft": [(154.0, 206.0, 111.0), (255.0, 254.0, 211.0),
             (255.0, 160.0, 100.0)],
}


def _binned_clip_bounds(df: DataFrame, value_col: str,
                        clip_percent: float) -> tuple[float, float]:
    """The reference's 32768-bin histogram percentile clip
    (hypsometrically_tinted_hillshade.rs:586-631): walk the bins from
    each end until the running count exceeds num_cells * clip_percent;
    bound = min + (bin / 32768) * range."""
    stats = df.agg(F.min(value_col).alias("mn"), F.max(value_col).alias("mx"),
                   F.count(F.lit(1)).alias("n")).first()
    mn, mx, n = stats["mn"], stats["mx"], stats["n"]
    if mx <= mn:
        return mn, mx
    rng = mx - mn
    hist = (df.selectExpr(
        f"LEAST(CAST(({value_col} - {mn!r}) / {rng!r} * 32768.0 AS INT), "
        f"32767) AS b")
        .groupBy("b").count().orderBy("b").collect())
    target = n * clip_percent
    cum = 0
    lo = 0
    for r in hist:
        cum += r["count"]
        if cum > target:
            lo = r["b"]
            break
    cum = 0
    hi = 32767
    for r in reversed(hist):
        cum += r["count"]
        if cum > target:
            hi = r["b"]
            break
    return mn + (lo / 32768.0) * rng, mn + (hi / 32768.0) * rng


def hypsometrically_tinted_hillshade(cells: DataFrame, meta: GridMeta,
                                     altitude: float = 45.0,
                                     hs_weight: float = 0.5,
                                     atmospheric: float = 0.0,
                                     palette: str = "atlas",
                                     full_360: bool = False,
                                     z_factor: float = 1.0) -> DataFrame:
    """HypsometricallyTintedHillshade (terrain_analysis/
    hypsometrically_tinted_hillshade.rs): multidirectional hillshade
    blended with an elevation tint — elevation and hillshade both
    percentile-clipped at 0.5% via the reference's 32768-bin histogram
    rule, the tint linearly interpolated through the palette stops, and
    rgb = shadow_base * (1 - p) + relief * p with p = (1 - hs_weight) +
    hs_weight * hs_proportion, then the atmospheric haze mix.

    Deviation: the reference dithers the atmospheric alpha with
    thread_rng noise; this engine applies the deterministic alpha
    (identical when atmospheric == 0, the default). Output (row, col,
    red, green, blue, value) with value the packed ARGB double."""
    hs = multidirectional_hillshade(cells, meta, altitude, full_360,
                                    z_factor).withColumnRenamed("value", "hsv")
    e_lo, e_hi = _binned_clip_bounds(cells, "value", 0.005)
    h_lo, h_hi = _binned_clip_bounds(hs, "hsv", 0.005)
    stops = _HYPSO_PALETTES[palette]
    k = len(stops)
    step = 1.0 / (k - 1)
    # piecewise-linear palette interpolation over the clipped proportion
    ep = (f"LEAST(GREATEST((value - {e_lo!r}) / ({e_hi!r} - {e_lo!r}), "
          f"0.0), 1.0)")
    def channel(idx):
        expr = f"{stops[k - 1][idx]!r}"
        for i in range(k - 2, -1, -1):
            seg = (f"({stops[i][idx]!r} + (({ep}) - {i * step!r}) "
                   f"/ {step!r} * ({stops[i + 1][idx]!r} - {stops[i][idx]!r}))")
            expr = f"CASE WHEN ({ep}) <= {(i + 1) * step!r} THEN FLOOR({seg}) ELSE {expr} END"
        return expr

    hsp = (f"LEAST(GREATEST((hsv - {h_lo!r}) / ({h_hi!r} - {h_lo!r}), 0.0), "
           f"1.0)")
    p = f"({1.0 - hs_weight!r} + {hs_weight!r} * ({hsp}))"
    alpha = f"({atmospheric!r} * (1.0 - ({ep})))"
    atm = {0: 185.0, 1: 220.0, 2: 255.0}
    shadow = {0: 1.0, 1: 25.0, 2: 50.0}
    chans = []
    for idx, name in ((0, "red"), (1, "green"), (2, "blue")):
        mixed = (f"(({shadow[idx]!r} * (1.0 - {p}) + ({channel(idx)}) * {p}) "
                 f"* (1.0 - {alpha}) + {alpha} * {atm[idx]!r})")
        chans.append(f"LEAST(CAST({mixed} AS BIGINT), 255) AS {name}")
    j = cells.join(hs, ["row", "col"])
    out = j.selectExpr("row", "col", "value", "hsv").selectExpr(
        "row", "col", *chans)
    return out.selectExpr(
        "row", "col", "red", "green", "blue",
        "CAST(4278190080 + blue * 65536 + green * 256 + red AS DOUBLE) AS value")
