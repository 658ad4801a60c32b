"""Visibility operators: Viewshed, HorizonAngle — distributed sweeps.

Reference anchors:
- Viewshed (terrain_analysis/viewshed.rs): a cell is visible from the
  viewpoint iff no cell along the line of sight subtends a larger
  vertical angle (R3-family sampling).
- HorizonAngle (terrain_analysis/horizon_angle.rs): per cell, the max
  elevation angle toward a fixed azimuth.

Round-4 plans (replacing the round-2 sector / band applyInPandas
kernels, which held O(cells/sector + halo) numpy state per task):

- viewshed and horizon_angle are PURE SQL: targets EXPLODE their ray
  sample indices, sample coordinates are codegen BROUNDs (numpy-rint
  half-even parity), sample elevations arrive by equi-join against the
  cells table, and the per-target verdict is one aggregation
  (any-blocked / max-angle with a window MIN reproducing the
  stop-at-first-failure ray semantics). Per-task memory is bounded by
  the shuffle partition at ANY raster size; the O(N^1.5) total sample
  volume is inherent to R3 sampling and spreads across the cluster.

Both plans replicate the scalar reference loop's arithmetic EXACTLY
(same rint rounding, same distance and angle expressions, same
comparison order) — randomized numpy-transcription parity is
pytest-gated (tests/test_visibility.py).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions.raster_math import GridMeta
from ..plans.driver import local_frame

_OUT_SCHEMA = StructType([
    StructField("row", LongType(), False),
    StructField("col", LongType(), False),
    StructField("value", DoubleType(), False),
])



def _dl(v: float) -> str:
    """Float literal that parses as DOUBLE on Spark (and DuckDB):
    scientific notation. A bare long decimal literal parses as DECIMAL
    and Spark silently reduces scale in decimal arithmetic — enough to
    flip FLOOR/BROUND boundaries in ray walks."""
    s = repr(float(v))
    return s if ("e" in s or "E" in s) else s + "e0"


def viewshed(cells: DataFrame, meta: GridMeta, vp_row: int, vp_col: int,
             vp_height: float = 2.0) -> DataFrame:
    """1.0 where the cell center is visible from the (raised) viewpoint,
    0.0 otherwise. LOS sampled at unit steps along the ray (R3 family,
    terrain_analysis/viewshed.rs sampling).

    Pure SQL plan (round-4, replacing the sector applyInPandas kernel):
    each target cell EXPLODEs its ray-sample indices s = 1..n-1, the
    sample coordinate is a codegen BROUND (numpy-rint parity), and the
    sample elevation arrives by equi-join against the cells table; a
    target is blocked iff any sample's angle >= its own. No per-task
    grid state at all — memory is bounded by the shuffle partition, so
    the plan survives any DEM size (the O(N^1.5) sample volume is
    inherent to R3 and spreads across the cluster). Missing samples
    (nodata holes) are skipped by the join, like the kernel's NaN
    skip."""
    resx, resy = meta.resolution_x, meta.resolution_y
    spark = cells.sparkSession
    vz = cells.where(f"row = {vp_row} AND col = {vp_col}").collect()
    if not vz or vz[0]["value"] is None or math.isnan(vz[0]["value"]):
        # the reference emits an all-zero viewshed for a nodata viewpoint
        return cells.selectExpr("row", "col", "CAST(0.0 AS DOUBLE) AS value")
    z0 = float(vz[0]["value"]) + vp_height

    dist = (f"SQRT((CAST(row - {vp_row} AS DOUBLE) * {_dl(resy)}) "
            f"* (CAST(row - {vp_row} AS DOUBLE) * {_dl(resy)}) "
            f"+ (CAST(col - {vp_col} AS DOUBLE) * {_dl(resx)}) "
            f"* (CAST(col - {vp_col} AS DOUBLE) * {_dl(resx)}))")
    targets = cells.selectExpr(
        "row", "col",
        f"CAST(row - {vp_row} AS DOUBLE) AS __dr",
        f"CAST(col - {vp_col} AS DOUBLE) AS __dc",
        f"GREATEST(ABS(row - {vp_row}), ABS(col - {vp_col})) AS __n",
        f"{dist} AS __dist",
        f"(value - {_dl(z0)}) / NULLIF({dist}, 0.0) AS __tgt",
    )
    samples = (
        targets.where("__n >= 2")
        .selectExpr("row", "col", "__tgt", "__dr", "__dc", "__n",
                    "EXPLODE(SEQUENCE(1L, __n - 1L)) AS s")
        .selectExpr(
            "row", "col", "__tgt",
            f"CAST(BROUND({vp_row} + __dr * (CAST(s AS DOUBLE) "
            f"/ CAST(__n AS DOUBLE)), 0) AS BIGINT) AS ir",
            f"CAST(BROUND({vp_col} + __dc * (CAST(s AS DOUBLE) "
            f"/ CAST(__n AS DOUBLE)), 0) AS BIGINT) AS ic",
        )
    )
    sd = (f"SQRT((CAST(ir - {vp_row} AS DOUBLE) * {_dl(resy)}) "
          f"* (CAST(ir - {vp_row} AS DOUBLE) * {_dl(resy)}) "
          f"+ (CAST(ic - {vp_col} AS DOUBLE) * {_dl(resx)}) "
          f"* (CAST(ic - {vp_col} AS DOUBLE) * {_dl(resx)}))")
    blocked = (
        samples.join(cells.selectExpr("row AS ir", "col AS ic", "value AS sz"),
                     ["ir", "ic"])
        # NOT ISNAN(sz): the replaced kernel skipped NaN samples; Spark
        # sorts NaN above every double, so without the guard a NaN sample
        # would satisfy >= __tgt and wrongly block its target.
        .where(f"NOT ISNAN(sz) AND (sz - {_dl(z0)}) / NULLIF({sd}, 0.0) >= __tgt")
        .select("row", "col").distinct()
        .withColumn("__blocked", F.lit(1))
    )
    return (
        targets.join(blocked, ["row", "col"], "left")
        .selectExpr(
            "row", "col",
            "CASE WHEN __dist = 0.0 THEN 1.0 "
            "WHEN __blocked IS NULL THEN 1.0 ELSE 0.0 END AS value")
    )


def horizon_angle(cells: DataFrame, meta: GridMeta, azimuth: float = 0.0,
                  max_dist: float | None = None, band: int = 64) -> DataFrame:
    """Per-cell maximum elevation angle (radians, atan of rise/run)
    looking toward `azimuth` degrees clockwise from north
    (terrain_analysis/horizon_angle.rs).

    Pure SQL plan (round-4, replacing the banded applyInPandas kernel):
    every cell EXPLODEs its ray steps (capped per cell by its exact
    grid-exit step + margin), sample coordinates are codegen BROUNDs,
    elevations arrive by equi-join, and the reference's stop-at-first-
    failure semantics are reproduced with one window MIN over the
    per-cell failing steps. Memory is bounded by the shuffle partition —
    no halo strips, no per-task subgrids, any azimuth costs the same.
    `band` is kept for signature compatibility (unused)."""
    az = math.radians(azimuth)
    step_r, step_c = -math.cos(az), math.sin(az)
    resx, resy = meta.resolution_x, meta.resolution_y
    rows_n, cols_n = meta.rows, meta.columns
    if max_dist is not None:
        smax_global = int(max_dist / min(resx, resy)) + 2
    else:
        smax_global = int(math.hypot(rows_n, cols_n)) + 2

    # exact per-cell cap: the step at which the un-rounded ray position
    # crosses the rint boundary (fr < -0.5 or fr > n - 0.5) — beyond it
    # every sample is out of bounds, so capping the explode loses
    # nothing; +2 margin for float slack
    def exit_expr(pos: str, step: float, n: int) -> str:
        if step > 0.0:
            return f"(({n} - 0.5 - {pos}) / {_dl(step)})"
        if step < 0.0:
            return f"(({pos} + 0.5) / {_dl(-step)})"
        return f"CAST({smax_global} AS DOUBLE)"

    cap = (f"LEAST(CAST(CEIL(LEAST({exit_expr('row', step_r, rows_n)}, "
           f"{exit_expr('col', step_c, cols_n)})) AS BIGINT) + 2L, "
           f"{smax_global}L)")
    samples = (
        cells.selectExpr("row", "col", "value AS __z0", f"{cap} AS __cap")
        .where("__cap >= 1")
        .selectExpr("row", "col", "__z0",
                    "EXPLODE(SEQUENCE(1L, __cap)) AS s")
        .selectExpr(
            "row", "col", "__z0", "s",
            f"CAST(BROUND(row + {_dl(step_r)} * s, 0) AS BIGINT) AS ir",
            f"CAST(BROUND(col + {_dl(step_c)} * s, 0) AS BIGINT) AS ic",
        )
        .selectExpr(
            "row", "col", "__z0", "s", "ir", "ic",
            f"SQRT((CAST(ir - row AS DOUBLE) * {_dl(resy)}) "
            f"* (CAST(ir - row AS DOUBLE) * {_dl(resy)}) "
            f"+ (CAST(ic - col AS DOUBLE) * {_dl(resx)}) "
            f"* (CAST(ic - col AS DOUBLE) * {_dl(resx)})) AS d",
        )
    )
    in_grid = f"ir >= 0 AND ir < {rows_n} AND ic >= 0 AND ic < {cols_n}"
    fail = f"NOT ({in_grid})" if max_dist is None else         f"NOT ({in_grid}) OR d > {_dl(float(max_dist))}"
    from pyspark.sql import Window

    w = Window.partitionBy("row", "col")
    alive = (
        samples.withColumn(
            "__first_fail",
            F.min(F.expr(f"CASE WHEN {fail} THEN s END")).over(w))
        .where(f"NOT ({fail}) AND (__first_fail IS NULL OR s < __first_fail) "
               "AND d > 0.0")
    )
    best = (
        alive.join(cells.selectExpr("row AS ir", "col AS ic", "value AS sz"),
                   ["ir", "ic"], "left")
        .groupBy("row", "col")
        # NaN -> NULL keeps kernel parity on NaN-carrying DEMs: F.max
        # sorts NaN above every double, but the replaced kernel skipped
        # NaN samples — NULLs drop out of MAX.
        .agg(F.max(F.expr("CASE WHEN ISNAN(sz) THEN NULL "
                          "ELSE (sz - __z0) / NULLIF(d, 0.0) END"))
             .alias("__best"))
    )
    return (
        cells.join(best, ["row", "col"], "left")
        .selectExpr("row", "col",
                    "CASE WHEN __best IS NULL THEN 0.0 "
                    "ELSE ATAN(__best) END AS value")
    )


_GEO_CLASSES = np.array([
    # count_pos ->  0  1  2  3  4  5  6  7  8      count_neg v
    [1, 1, 1, 8, 8, 9, 9, 9, 10],
    [1, 1, 8, 8, 8, 9, 9, 9, 0],
    [1, 4, 6, 6, 7, 7, 9, 0, 0],
    [4, 4, 6, 6, 6, 7, 0, 0, 0],
    [4, 4, 5, 6, 6, 0, 0, 0, 0],
    [3, 3, 5, 5, 0, 0, 0, 0, 0],
    [3, 3, 3, 0, 0, 0, 0, 0, 0],
    [3, 3, 0, 0, 0, 0, 0, 0, 0],
    [2, 0, 0, 0, 0, 0, 0, 0, 0],
], dtype=np.int64)

# geomorphons.rs:581-582 direction tables (dir 0 = north, clockwise)
_GEO_DX = [0, 1, 1, 1, 0, -1, -1, -1]
_GEO_DY = [-1, -1, 0, 1, 1, 1, 0, -1]


def geomorphons(cells: DataFrame, meta: GridMeta, search_radius: int = 10,
                flat_threshold_deg: float = 1.0, skip: int = 1,
                tile: int = 64) -> DataFrame:
    """Geomorphons landform classification (terrain_analysis/
    geomorphons.rs:543-680, forms mode, flat_dist=0, no residuals):
    per cell, each of 8 compass rays (steps skip..search_radius cells)
    tracks the zenith (max) and nadir (min) elevation angles; a ray that
    leaves the GRID before reaching the search length stays 'flat', like
    the reference's continue-to-next-direction; digits compare |zenith|
    vs |nadir| against the flatness threshold, and the (count_neg,
    count_pos) pair indexes the 10-class table. Only cells with the full
    skip buffer inside the grid are emitted (the reference leaves the
    rest nodata).

    Plan: ONE tile + halo(search_radius) groupBy -> applyInPandas; the
    kernel advances all 8 directions with shifted dense-array slices —
    vectorized over every core cell per step."""
    import math

    r_search = int(search_radius)
    halo = r_search
    rows_n, cols_n = meta.rows, meta.columns
    resx, resy = meta.resolution_x, meta.resolution_y
    flat_thresh = math.radians(flat_threshold_deg)
    search_length = r_search * (meta.resolution_x + meta.resolution_y) / 2.0

    tiles = cells.selectExpr(
        "row", "col", "value",
        f"EXPLODE(SEQUENCE(GREATEST(CAST(FLOOR((row - {halo}) / {tile}) AS BIGINT), 0), "
        f"LEAST(CAST(FLOOR((row + {halo}) / {tile}) AS BIGINT), {(rows_n - 1) // tile}))) AS tr",
    ).selectExpr(
        "row", "col", "value", "tr",
        f"EXPLODE(SEQUENCE(GREATEST(CAST(FLOOR((col - {halo}) / {tile}) AS BIGINT), 0), "
        f"LEAST(CAST(FLOOR((col + {halo}) / {tile}) AS BIGINT), {(cols_n - 1) // tile}))) AS tc",
    )

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tr, tc = int(key[0]), int(key[1])
        r0, c0 = tr * tile - halo, tc * tile - halo
        h = w = tile + 2 * halo
        grid = np.full((h, w), np.nan)
        rr = pdf["row"].to_numpy() - r0
        cc = pdf["col"].to_numpy() - c0
        ok = (rr >= 0) & (rr < h) & (cc >= 0) & (cc < w)
        grid[rr[ok], cc[ok]] = pdf["value"].to_numpy()[ok]
        # core cells of this tile that carry the full skip buffer
        gr0, gc0 = tr * tile, tc * tile
        core_rows = np.arange(gr0, min(gr0 + tile, rows_n))
        core_cols = np.arange(gc0, min(gc0 + tile, cols_n))
        core_rows = core_rows[(core_rows >= skip) & (core_rows <= rows_n - 1 - skip)]
        core_cols = core_cols[(core_cols >= skip) & (core_cols <= cols_n - 1 - skip)]
        if len(core_rows) == 0 or len(core_cols) == 0:
            return pd.DataFrame({"row": pd.Series([], dtype="int64"),
                                 "col": pd.Series([], dtype="int64"),
                                 "value": pd.Series([], dtype="float64")})
        cr, cc2 = np.meshgrid(core_rows, core_cols, indexing="ij")
        z0 = grid[cr - r0, cc2 - c0]
        count_pos = np.zeros(z0.shape, dtype=np.int64)
        count_neg = np.zeros(z0.shape, dtype=np.int64)
        valid_center = ~np.isnan(z0)
        for di in range(8):
            dy, dx = _GEO_DY[di], _GEO_DX[di]
            step_len = math.hypot(dx * resx, dy * resy)
            zen = np.full(z0.shape, -math.pi / 2.0)
            nad = np.full(z0.shape, math.pi / 2.0)
            flat_dir = np.zeros(z0.shape, dtype=bool)
            d = skip
            while True:
                dist = d * step_len
                if dist >= search_length:
                    break
                pr = cr + d * dy
                pc = cc2 + d * dx
                off_grid = (pr < 0) | (pr >= rows_n) | (pc < 0) | (pc >= cols_n)
                # reference: edge within search length -> direction flat
                flat_dir = flat_dir | off_grid
                inb = ~off_grid
                z2 = np.full(z0.shape, np.nan)
                z2[inb] = grid[pr[inb] - r0, pc[inb] - c0]
                with np.errstate(invalid="ignore"):
                    ang = np.arctan2(z2 - z0, dist)
                upd = inb & ~np.isnan(z2) & ~flat_dir
                zen = np.where(upd & (ang > zen), ang, zen)
                nad = np.where(upd & (ang < nad), ang, nad)
                d += 1
            live = valid_center & ~flat_dir
            az, an = np.abs(zen), np.abs(nad)
            sig = live & ((az > flat_thresh) | (an > flat_thresh))
            count_pos += (sig & (an < az)).astype(np.int64)
            count_neg += (sig & (an > az)).astype(np.int64)
        cls = _GEO_CLASSES[count_neg, count_pos].astype(np.float64)
        cls[~valid_center] = meta.nodata
        return pd.DataFrame({"row": cr.ravel(), "col": cc2.ravel(),
                             "value": cls.ravel()})

    return tiles.groupBy("tr", "tc").applyInPandas(kernel, schema=_OUT_SCHEMA)


# ---------------------------------------------------------------------------
# Round-3: visibility long tail
# (terrain_analysis/{directional_relief,fetch_analysis,visibility_index,
#  time_in_daylight}.rs)
# ---------------------------------------------------------------------------


def _ray_sweep(cells: DataFrame, meta: GridMeta, azimuth: float,
               max_dist: float | None, band: int, mode: str,
               increment: float = 0.05) -> DataFrame:
    """Shared ray walk with bilinear surface interpolation (the
    Lapen & Martz rule fetch_analysis.rs documents). mode: 'relief'
    (mean on-ray elevation minus z0) or 'fetch' (distance to first
    obstacle z >= z0 + D*increment; edge truncation -> negative
    distance).

    Pure SQL plan (round-4, replacing the banded applyInPandas kernel):
    each cell EXPLODEs its ray steps (capped by its exact grid-exit
    step — positions are linear in s, so the ray leaves the grid
    exactly once), every step EXPLODEs its 4 bilinear corners with
    weights, one equi-join brings corner elevations, and two
    aggregations produce the per-cell answer (a sample is valid only
    when all 4 corners exist, the kernel's NaN rule; the on-ray
    distance is strictly monotone in s, so MIN(s) over hits IS the
    first obstacle). Task memory bounded by the shuffle partition.
    `band` kept for signature compatibility (unused). Note: the relief
    mean sums in shuffle order, not ray order — same values up to float
    reassociation (gates are rows-only + analytic pytest)."""
    az = math.radians(azimuth)
    step_r, step_c = -math.cos(az), math.sin(az)
    resx, resy = meta.resolution_x, meta.resolution_y
    rows_n, cols_n = meta.rows, meta.columns
    if max_dist is not None:
        smax_global = int(max_dist / min(resx, resy)) + 2
    else:
        smax_global = int(math.hypot(rows_n, cols_n)) + 2

    def _dl(v: float) -> str:
        # scientific notation parses as DOUBLE; a bare 17-digit literal
        # becomes DECIMAL and Spark silently REDUCES SCALE in decimal
        # arithmetic — the ray positions then drift by ~1e-16 per step,
        # which flips FLOOR/BROUND boundaries
        s = repr(float(v))
        return s if ("e" in s or "E" in s) else s + "e0"

    def exit_expr(pos: str, step: float, n: int) -> str:
        # last s with 0 <= pos + step*s <= n-1 (monotone crossing)
        if step > 0.0:
            return f"(({n - 1} - {pos}) / {_dl(step)})"
        if step < 0.0:
            return f"({pos} / {_dl(-step)})"
        return f"CAST({smax_global} AS DOUBLE)"

    cap = (f"LEAST(CAST(CEIL(LEAST({exit_expr('row', step_r, rows_n)}, "
           f"{exit_expr('col', step_c, cols_n)})) AS BIGINT) + 2L, "
           f"{smax_global}L)")
    d_expr = (f"SQRT(({_dl(step_r)} * s * {_dl(resy)}) * ({_dl(step_r)} * s * {_dl(resy)}) "
              f"+ ({_dl(step_c)} * s * {_dl(resx)}) * ({_dl(step_c)} * s * {_dl(resx)}))")
    steps = (
        cells.selectExpr("row", "col", "value AS __z0", f"{cap} AS __cap")
        .where("__cap >= 1")
        .selectExpr("row", "col", "__z0", "EXPLODE(SEQUENCE(1L, __cap)) AS s")
        .selectExpr("row", "col", "__z0", "s",
                    f"row + {_dl(step_r)} * s AS fr",
                    f"col + {_dl(step_c)} * s AS fc",
                    f"{d_expr} AS d")
        .where(f"fr >= 0.0 AND fr <= {rows_n - 1} "
               f"AND fc >= 0.0 AND fc <= {cols_n - 1}")
    )
    if max_dist is not None:
        steps = steps.where(f"d <= {_dl(float(max_dist))}")
    # bilinear corners, clipped exactly as the kernel clips
    r0 = f"GREATEST(LEAST(CAST(FLOOR(fr) AS BIGINT), {rows_n - 1}L), 0L)"
    c0 = f"GREATEST(LEAST(CAST(FLOOR(fc) AS BIGINT), {cols_n - 1}L), 0L)"
    staged = steps.selectExpr(
        "row", "col", "__z0", "s", "d",
        f"{r0} AS r0", f"{c0} AS c0",
        f"LEAST({r0} + 1L, {rows_n - 1}L) AS r1",
        f"LEAST({c0} + 1L, {cols_n - 1}L) AS c1",
        f"GREATEST(LEAST(fr - {r0}, 1.0), 0.0) AS tr",
        f"GREATEST(LEAST(fc - {c0}, 1.0), 0.0) AS tc",
    )
    corners = staged.selectExpr(
        "row", "col", "__z0", "s", "d",
        "EXPLODE(ARRAY("
        "STRUCT(r0 AS cr, c0 AS ccol, (1.0 - tr) * (1.0 - tc) AS w), "
        "STRUCT(r0 AS cr, c1 AS ccol, (1.0 - tr) * tc AS w), "
        "STRUCT(r1 AS cr, c0 AS ccol, tr * (1.0 - tc) AS w), "
        "STRUCT(r1 AS cr, c1 AS ccol, tr * tc AS w))) AS __k",
    ).selectExpr("row", "col", "__z0", "s", "d",
                 "__k.cr AS cr", "__k.ccol AS ccol", "__k.w AS w")
    zed = (
        corners.join(cells.selectExpr("row AS cr", "col AS ccol", "value AS cz"),
                     ["cr", "ccol"], "left")
        .groupBy("row", "col", "__z0", "s", "d")
        .agg(F.expr("SUM(w * cz)").alias("z"),
             F.expr("COUNT(cz)").alias("__nc"))
        .withColumn("__valid", F.expr("__nc = 4 AND z IS NOT NULL"))
    )
    if mode == "relief":
        agg = zed.groupBy("row", "col", "__z0").agg(
            F.expr("SUM(CASE WHEN __valid THEN z END)").alias("zs"),
            F.expr("COUNT(CASE WHEN __valid THEN 1 END)").alias("zc"))
        out = agg.selectExpr(
            "row", "col",
            "CASE WHEN zc > 0 THEN zs / CAST(zc AS DOUBLE) - __z0 "
            "ELSE 0.0 END AS value")
    else:
        hit = f"__valid AND z >= __z0 + d * {_dl(float(increment))}"
        agg = zed.groupBy("row", "col", "__z0").agg(
            F.expr(f"MIN(CASE WHEN {hit} THEN s END)").alias("hs"),
            F.expr("MAX(CASE WHEN __valid THEN s END)").alias("ls"))
        def d_of(sv: str) -> str:
            return (f"SQRT(({_dl(step_r)} * {sv} * {_dl(resy)}) "
                    f"* ({_dl(step_r)} * {sv} * {_dl(resy)}) "
                    f"+ ({_dl(step_c)} * {sv} * {_dl(resx)}) "
                    f"* ({_dl(step_c)} * {sv} * {_dl(resx)}))")
        out = agg.selectExpr(
            "row", "col",
            f"CASE WHEN hs IS NOT NULL THEN {d_of('hs')} "
            f"WHEN ls IS NOT NULL THEN -{d_of('ls')} ELSE 0.0 END AS value")
    # cells the explode skipped entirely (cap < 1) still emit a row
    return (
        cells.select("row", "col").join(out, ["row", "col"], "left")
        .selectExpr("row", "col", "COALESCE(value, 0.0) AS value")
    )


def directional_relief(cells: DataFrame, meta: GridMeta, azimuth: float = 0.0,
                       max_dist: float | None = None,
                       band: int = 64) -> DataFrame:
    """DirectionalRelief (terrain_analysis/directional_relief.rs): mean
    elevation of the cells along the azimuth ray (to the DEM edge or
    max_dist) minus the cell's own elevation — positive = sheltered.
    Banded ray sweep with bilinear surface samples."""
    return _ray_sweep(cells, meta, azimuth, max_dist, band, "relief")


def fetch_analysis(cells: DataFrame, meta: GridMeta, azimuth: float = 0.0,
                   increment: float = 0.05,
                   max_dist: float | None = None,
                   band: int = 64) -> DataFrame:
    """FetchAnalysis (terrain_analysis/fetch_analysis.rs:20-37):
    distance (m) to the first obstacle with z_test >= z_core + D * I
    along the azimuth; rays truncated by the DEM edge report the
    traveled distance NEGATED (the reference's edge flag)."""
    return _ray_sweep(cells, meta, azimuth, max_dist, band, "fetch",
                      increment=increment)


def visibility_index(cells: DataFrame, meta: GridMeta,
                     res_factor: int = 16, height: float = 2.0) -> DataFrame:
    """VisibilityIndex (terrain_analysis/visibility_index.rs): viewsheds
    are computed from every res_factor-th cell (both axes); each cell's
    index is the proportion of those stations that see it.

    ONE declarative plan for every station (round-4, replacing the
    driver-side loop of per-station viewsheds unioned V ways): the small
    station table broadcast-joins onto the cells, each (station, target)
    pair explodes its R3 ray samples exactly as `viewshed` does, one
    equi-join brings sample elevations, and a distinct on blocked pairs
    + one aggregation yields the index. A missing/nodata station cell
    contributes an all-zero viewshed, matching `viewshed`'s rule (its
    targets never join a z0, so no pair can be visible)."""
    resx, resy = meta.resolution_x, meta.resolution_y
    spark = cells.sparkSession
    st_grid = (
        spark.range(0, meta.rows, res_factor).selectExpr("id AS sr")
        .crossJoin(spark.range(0, meta.columns, res_factor).selectExpr("id AS sc"))
    )
    n_st = (len(range(0, meta.rows, res_factor))
            * len(range(0, meta.columns, res_factor)))
    stations = st_grid.join(
        cells.selectExpr("row AS sr", "col AS sc",
                         f"value + {_dl(float(height))} AS z0"),
        ["sr", "sc"], "inner")

    dist = (f"SQRT((CAST(row - sr AS DOUBLE) * {_dl(resy)}) "
            f"* (CAST(row - sr AS DOUBLE) * {_dl(resy)}) "
            f"+ (CAST(col - sc AS DOUBLE) * {_dl(resx)}) "
            f"* (CAST(col - sc AS DOUBLE) * {_dl(resx)}))")
    targets = cells.crossJoin(F.broadcast(stations)).selectExpr(
        "sr", "sc", "z0", "row", "col",
        "CAST(row - sr AS DOUBLE) AS __dr",
        "CAST(col - sc AS DOUBLE) AS __dc",
        "GREATEST(ABS(row - sr), ABS(col - sc)) AS __n",
        f"{dist} AS __dist",
        f"(value - z0) / NULLIF({dist}, 0.0) AS __tgt",
    )
    samples = (
        targets.where("__n >= 2")
        .selectExpr("sr", "sc", "z0", "row", "col", "__tgt",
                    "__dr", "__dc", "__n",
                    "EXPLODE(SEQUENCE(1L, __n - 1L)) AS s")
        .selectExpr(
            "sr", "sc", "z0", "row", "col", "__tgt",
            "CAST(BROUND(sr + __dr * (CAST(s AS DOUBLE) "
            "/ CAST(__n AS DOUBLE)), 0) AS BIGINT) AS ir",
            "CAST(BROUND(sc + __dc * (CAST(s AS DOUBLE) "
            "/ CAST(__n AS DOUBLE)), 0) AS BIGINT) AS ic",
        )
    )
    sd = (f"SQRT((CAST(ir - sr AS DOUBLE) * {_dl(resy)}) "
          f"* (CAST(ir - sr AS DOUBLE) * {_dl(resy)}) "
          f"+ (CAST(ic - sc AS DOUBLE) * {_dl(resx)}) "
          f"* (CAST(ic - sc AS DOUBLE) * {_dl(resx)}))")
    blocked = (
        samples.join(cells.selectExpr("row AS ir", "col AS ic", "value AS sz"),
                     ["ir", "ic"])
        # NOT ISNAN(sz): NaN samples must not block (kernel NaN-skip parity)
        .where(f"NOT ISNAN(sz) AND (sz - z0) / NULLIF({sd}, 0.0) >= __tgt")
        .select("sr", "sc", "row", "col").distinct()
        .withColumn("__blocked", F.lit(1))
    )
    vis = (
        targets.join(blocked, ["sr", "sc", "row", "col"], "left")
        .selectExpr(
            "row", "col",
            "CASE WHEN __dist = 0.0 THEN 1.0 "
            "WHEN __blocked IS NULL THEN 1.0 ELSE 0.0 END AS vis")
    )
    return vis.groupBy("row", "col").agg(
        F.expr(f"SUM(vis) / CAST({n_st} AS DOUBLE)").alias("value"))


def horizon_angle_multi(cells: DataFrame, meta: GridMeta,
                        azimuths: list[float],
                        max_dist: float | None = None) -> DataFrame:
    """horizon_angle for MANY azimuths in ONE declarative plan: a tiny
    broadcast azimuth table (azid, step_r, step_c) cross-joins the
    cells, the ray-step explode / BROUND coords / stop-at-first-failure
    window / max-angle aggregation all key on (azid, row, col). Output
    (azid, row, col, value); every azimuth costs one shared shuffle
    instead of its own plan."""
    resx, resy = meta.resolution_x, meta.resolution_y
    rows_n, cols_n = meta.rows, meta.columns
    spark = cells.sparkSession
    if max_dist is not None:
        smax_global = int(max_dist / min(resx, resy)) + 2
    else:
        smax_global = int(math.hypot(rows_n, cols_n)) + 2
    az_rows = [(i, -math.cos(math.radians(a)), math.sin(math.radians(a)))
               for i, a in enumerate(azimuths)]
    az = local_frame(spark, az_rows, "azid int, step_r double, step_c double")

    def exit_expr(pos: str, step: str, n: int) -> str:
        return (f"CASE WHEN {step} > 0.0 THEN ({n} - 0.5 - {pos}) / {step} "
                f"WHEN {step} < 0.0 THEN ({pos} + 0.5) / (-{step}) "
                f"ELSE CAST({smax_global} AS DOUBLE) END")

    cap = (f"LEAST(CAST(CEIL(LEAST({exit_expr('row', 'step_r', rows_n)}, "
           f"{exit_expr('col', 'step_c', cols_n)})) AS BIGINT) + 2L, "
           f"{smax_global}L)")
    base = cells.crossJoin(F.broadcast(az))
    samples = (
        base.selectExpr("azid", "step_r", "step_c", "row", "col",
                        "value AS __z0", f"{cap} AS __cap")
        .where("__cap >= 1")
        .selectExpr("azid", "step_r", "step_c", "row", "col", "__z0",
                    "EXPLODE(SEQUENCE(1L, __cap)) AS s")
        .selectExpr(
            "azid", "row", "col", "__z0", "s",
            "CAST(BROUND(row + step_r * s, 0) AS BIGINT) AS ir",
            "CAST(BROUND(col + step_c * s, 0) AS BIGINT) AS ic",
        )
        .selectExpr(
            "azid", "row", "col", "__z0", "s", "ir", "ic",
            f"SQRT((CAST(ir - row AS DOUBLE) * {_dl(resy)}) "
            f"* (CAST(ir - row AS DOUBLE) * {_dl(resy)}) "
            f"+ (CAST(ic - col AS DOUBLE) * {_dl(resx)}) "
            f"* (CAST(ic - col AS DOUBLE) * {_dl(resx)})) AS d",
        )
    )
    in_grid = f"ir >= 0 AND ir < {rows_n} AND ic >= 0 AND ic < {cols_n}"
    fail = f"NOT ({in_grid})" if max_dist is None else \
        f"NOT ({in_grid}) OR d > {_dl(float(max_dist))}"
    from pyspark.sql import Window

    w = Window.partitionBy("azid", "row", "col")
    alive = (
        samples.withColumn(
            "__first_fail",
            F.min(F.expr(f"CASE WHEN {fail} THEN s END")).over(w))
        .where(f"NOT ({fail}) AND (__first_fail IS NULL OR s < __first_fail) "
               "AND d > 0.0")
    )
    best = (
        alive.join(cells.selectExpr("row AS ir", "col AS ic", "value AS sz"),
                   ["ir", "ic"], "left")
        .groupBy("azid", "row", "col")
        # NaN -> NULL: kernel NaN-skip parity (MAX sorts NaN topmost)
        .agg(F.max(F.expr("CASE WHEN ISNAN(sz) THEN NULL "
                          "ELSE (sz - __z0) / NULLIF(d, 0.0) END"))
             .alias("__best"))
    )
    return (
        base.select("azid", "row", "col").join(best, ["azid", "row", "col"], "left")
        .selectExpr("azid", "row", "col",
                    "CASE WHEN __best IS NULL THEN 0.0 "
                    "ELSE ATAN(__best) END AS value")
    )


def time_in_daylight(cells: DataFrame, meta: GridMeta, lat: float = 45.0,
                     day_of_year: int = 172, time_step_min: int = 30,
                     n_azimuths: int = 24, band: int = 64) -> DataFrame:
    """TimeInDaylight (whitebox-tools TimeInDaylight semantics,
    simplified to one representative day): proportion of the day's
    sun-up timesteps in which the solar altitude exceeds the terrain
    horizon angle toward the solar azimuth. Horizon angles for all
    `n_azimuths` discrete azimuths come from ONE multi-azimuth plan
    (round-4, replacing a driver loop joining 24 separate plans); each
    sun position tests its nearest discrete azimuth via a broadcast
    join. Solar positions from the standard declination / hour-angle
    formulas — deterministic, no ephemeris dependency. `band` kept for
    signature compatibility (unused)."""
    # solar positions for the day
    decl = math.radians(23.45) * math.sin(2 * math.pi * (284 + day_of_year) / 365.0)
    lat_r = math.radians(lat)
    sun = []  # (azimuth_deg, altitude_rad)
    t = 0.0
    while t < 24.0 * 60.0:
        ha = math.radians((t / 60.0 - 12.0) * 15.0)
        sin_alt = (math.sin(lat_r) * math.sin(decl)
                   + math.cos(lat_r) * math.cos(decl) * math.cos(ha))
        alt = math.asin(max(-1.0, min(1.0, sin_alt)))
        if alt > 0:
            cos_az = ((math.sin(decl) - math.sin(alt) * math.sin(lat_r))
                      / max(math.cos(alt) * math.cos(lat_r), 1e-12))
            az = math.degrees(math.acos(max(-1.0, min(1.0, cos_az))))
            if ha > 0:
                az = 360.0 - az
            sun.append((az, alt))
        t += time_step_min
    if not sun:
        return cells.selectExpr("row", "col", "CAST(0.0 AS DOUBLE) AS value")
    azs = [i * 360.0 / n_azimuths for i in range(n_azimuths)]
    hors = horizon_angle_multi(cells, meta, azs)
    spark = cells.sparkSession
    sun_rows = [(int(round(az / (360.0 / n_azimuths))) % n_azimuths, alt)
                for az, alt in sun]
    sun_df = local_frame(spark, sun_rows, "azid int, alt double")
    lit = (
        hors.join(F.broadcast(sun_df), "azid")
        .groupBy("row", "col")
        .agg(F.expr("SUM(CASE WHEN alt > value THEN 1 ELSE 0 END)").alias("__lit"))
    )
    return lit.selectExpr(
        "row", "col",
        f"CAST(__lit AS DOUBLE) / {float(len(sun))!r} AS value")
