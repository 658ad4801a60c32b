"""Hydrology operators — D8 flow modeling as iterative DataFrame joins.

Reference anchors:
- D8Pointer: hydro_analysis/d8_pointer.rs:252-296 — steepest positive
  downslope among 8 neighbors, slope = (z - z_n)/grid_length (diagonal
  length = sqrt(resx^2 + resy^2)), FIRST max wins (strict >), nodata
  neighbors skipped, no positive slope -> 0; codes 2^i for i clockwise
  from NE ([1,2,4,8,16,32,64,128], non-ESRI).
- D8FlowAccumulation (out_type "cells": upstream cell count + self):
  hydro_analysis/d8_flow_accum.rs (num_inflowing_neighbours + queue).
- Basins (label every cell with its terminal outlet's basin):
  hydro_analysis/basins.rs.
- ExtractStreams (accumulation threshold): stream_network_analysis/extract_streams.rs.

Plan shapes (round loops run on plans/iterate.py):
- pointer: one scatter + pivot aggregation, then a pure fold expression
  (WholeStageCodegen; the same text builds the DuckDB oracle).
- accumulation: pointer-doubling transitive closure over the D8
  functional graph (`closure`) — O(log longest-path) rounds; the tiled
  variant contracts each tile first and closes only the exit-cell graph.
- basins, flow-path walks, fills and cost surfaces: relax / pointer
  jumping to a fixpoint (`fixpoint`), one eager action per round.
- stream links: connected components of the stream edges between
  junctions (`clump.connected_components`); the link operators compute
  the stream graph once (`_stream_edges`) and label it from there.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.raster_math import GridMeta
from ..plans.iterate import closure, ensure_converged, fixpoint, materialize

# neighbor tables from d8_pointer.rs:252-254
D8_DX = [1, 1, 1, 0, -1, -1, -1, 0]
D8_DY = [-1, 0, 1, 1, 1, 0, -1, -1]


def _grid_lengths(meta: GridMeta) -> list[float]:
    diag = math.sqrt(meta.resolution_x * meta.resolution_x
                     + meta.resolution_y * meta.resolution_y)
    return [diag, meta.resolution_x, diag, meta.resolution_y,
            diag, meta.resolution_x, diag, meta.resolution_y]


def focal_pivot3_raw(cells: DataFrame) -> DataFrame:
    """Center z + 8 neighbors as nullable columns zn_0..zn_7 in the D8
    neighbor order (missing/out-of-grid neighbors stay NULL — D8 skips
    them, unlike the Florinsky center-substitution)."""
    pairs = ", ".join(
        f"STRUCT(row - ({D8_DY[i]}L) AS crow, col - ({D8_DX[i]}L) AS ccol, {i} AS n)"
        for i in range(8)
    ) + ", STRUCT(row AS crow, col AS ccol, 8 AS n)"
    scattered = (
        cells.withColumn("__s", F.expr(f"EXPLODE(ARRAY({pairs}))"))
        .selectExpr("__s.crow AS row", "__s.ccol AS col", "__s.n AS n", "value AS nv")
    )
    aggs = [F.expr(f"MAX(CASE WHEN n = {i} THEN nv END)").alias(f"zn_{i}") for i in range(8)]
    aggs.append(F.expr("MAX(CASE WHEN n = 8 THEN nv END)").alias("zc"))
    return scattered.groupBy("row", "col").agg(*aggs).where(F.col("zc").isNotNull())


def d8_pointer_value_expr(meta: GridMeta) -> str:
    """Pointer code as a sequential argmax fold over the 8 candidate
    slopes (element order = reference scan order; strict > keeps the
    first maximum). Portable SQL over zc/zn_i pivot columns."""
    lengths = _grid_lengths(meta)
    elems = ", ".join(
        f"{{'ms': (zc - zn_{i}) / {lengths[i]!r}, 'dir': {i}}}" for i in range(8)
    )
    fold = (
        f"LIST_REDUCE(LIST_PREPEND({{'ms': CAST('-Infinity' AS DOUBLE), 'dir': -1}}, "
        f"[{elems}]), (acc, e) -> CASE WHEN e.ms IS NOT NULL AND e.ms > acc.ms "
        f"AND e.ms > 0.0 THEN e ELSE acc END)"
    )
    return (f"CAST(CASE WHEN ({fold}).dir >= 0 "
            f"THEN CAST(POWER(2.0, ({fold}).dir) AS BIGINT) ELSE 0 END AS DOUBLE)")


def _d8_pointer_value_expr_spark(meta: GridMeta) -> str:
    lengths = _grid_lengths(meta)
    elems = ", ".join(
        f"NAMED_STRUCT('ms', (zc - zn_{i}) / {lengths[i]!r}, 'dir', {i})" for i in range(8)
    )
    fold = (
        f"AGGREGATE(ARRAY({elems}), "
        f"NAMED_STRUCT('ms', CAST('-Infinity' AS DOUBLE), 'dir', -1), "
        f"(acc, e) -> IF(e.ms IS NOT NULL AND e.ms > acc.ms AND e.ms > 0.0, e, acc))"
    )
    return (f"CAST(CASE WHEN ({fold}).dir >= 0 "
            f"THEN CAST(POWER(2.0, CAST(({fold}).dir AS DOUBLE)) AS BIGINT) ELSE 0 END AS DOUBLE)")


def d8_pointer(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """(row, col, value) pointer raster; value in {0, 1, 2, ..., 128}."""
    piv = focal_pivot3_raw(cells)
    return piv.selectExpr("row", "col", f"{_d8_pointer_value_expr_spark(meta)} AS value")


def d8_edges(pointer: DataFrame) -> DataFrame:
    """(row, col, drow, dcol) downstream edge per flowing cell."""
    dir_expr = "CAST(LOG2(value) AS INT)"
    dy = ", ".join(str(v) for v in D8_DY)
    dx = ", ".join(str(v) for v in D8_DX)
    return pointer.where("value > 0").selectExpr(
        "row", "col",
        f"row + CAST(ELEMENT_AT(ARRAY({dy}), {dir_expr} + 1) AS BIGINT) AS drow",
        f"col + CAST(ELEMENT_AT(ARRAY({dx}), {dir_expr} + 1) AS BIGINT) AS dcol",
    )


def d8_flow_accumulation(cells: DataFrame, meta: GridMeta,
                         max_doublings: int = 24) -> DataFrame:
    """Upstream cell count + self per cell (D8FlowAccumulation,
    out_type 'cells').

    Plan: pointer-doubling transitive closure over the D8 functional
    graph — reach(u, v) pairs double their hop horizon per join, so the
    loop runs O(log longest-path) rounds (7-ish for realistic DEM path
    lengths) instead of O(longest-path) topological peeling (measured
    50x faster at 10k cells). accum(c) = |{u : (u, c) in reach}|.

    Closure size is n * avg_path_length pairs; for continental DEMs with
    very long flow paths, swap in banded topological peeling per z-range
    (Barnes' parallel priority-flood family) — the closure keeps the
    oracle-gated semantics exact here.
    """
    c = meta.columns
    ptr = d8_pointer(cells, meta)
    nodes = ptr.selectExpr(f"(row * {c}L + col) AS id", "row", "col").persist()
    e = d8_edges(ptr).selectExpr(f"(row * {c}L + col) AS src",
                                 f"(drow * {c}L + dcol) AS dst")
    reach = closure(nodes.selectExpr("id AS src", "id AS dst").unionByName(e),
                    "d8_flow_accumulation closure", max_doublings)
    accum = reach.groupBy("dst").agg(F.count(F.lit(1)).alias("n"))
    out = nodes.join(accum, nodes["id"] == accum["dst"]).select(
        "row", "col", F.col("n").cast("double").alias("value")
    )
    nodes.unpersist()
    return out


def basins(cells: DataFrame, meta: GridMeta, max_rounds: int = 32) -> DataFrame:
    """Label every cell with its basin (terminal-outlet component),
    numbered 1..N by the terminal cell's row-major order — pointer
    jumping, O(log longest-path) rounds."""
    ptr = d8_pointer(cells, meta)
    c = meta.columns
    nxt = ptr.selectExpr(f"(row * {c}L + col) AS id", "row", "col").join(
        d8_edges(ptr).selectExpr(f"(row * {c}L + col) AS id",
                                 f"(drow * {c}L + dcol) AS nid"),
        "id", "left",
    ).selectExpr("id", "row", "col", "COALESCE(nid, id) AS nxt")

    def jump(nxt):
        hop = nxt.selectExpr("id AS j_id", "nxt AS j_nxt")
        return nxt.join(hop, nxt["nxt"] == hop["j_id"], "left").selectExpr(
            "id", "row", "col", "nxt AS __prev", "COALESCE(j_nxt, nxt) AS nxt")

    nxt = fixpoint(nxt, jump, "nxt <> __prev", "basins pointer jumping", max_rounds)
    from ..plans.rank import dense_rank_small

    reps = dense_rank_small(nxt, "nxt", "basin_id")
    return nxt.join(reps, "nxt").select(
        "row", "col", F.col("basin_id").cast("double").alias("value")
    )


def snap_pour_points(pour: DataFrame, accum: DataFrame, snap_cells: int = 1) -> DataFrame:
    """SnapPourPoints (hydro_analysis/snap_pour_points.rs): move each
    pour point to the max-accumulation cell within a Chebyshev radius;
    ties resolve to scan order (row-major). pour: (pour_id, row, col);
    accum: (row, col, value)."""
    offs = [(dr, dc) for dr in range(-snap_cells, snap_cells + 1)
            for dc in range(-snap_cells, snap_cells + 1)]
    pairs = ", ".join(f"STRUCT(row + ({dr}L) AS nrow, col + ({dc}L) AS ncol)" for dr, dc in offs)
    cand = pour.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))")).selectExpr(
        "pour_id", "__n.nrow AS nrow", "__n.ncol AS ncol"
    )
    j = cand.join(
        accum.selectExpr("row AS nrow", "col AS ncol", "value AS acc"),
        ["nrow", "ncol"], "inner",
    )
    return j.groupBy("pour_id").agg(
        F.expr("MIN_BY(STRUCT(nrow AS row, ncol AS col), STRUCT(-acc, nrow, ncol))").alias("b")
    ).selectExpr("pour_id", "b.row AS row", "b.col AS col")


def watershed(cells: DataFrame, meta: GridMeta, outlets: DataFrame,
              max_doublings: int = 24) -> DataFrame:
    """Watershed (hydro_analysis/watershed.rs semantics): every cell is
    labeled with the FIRST outlet on its downstream flow path (an
    upstream outlet shadows any outlet further down); cells draining to
    no outlet get no row. outlets: (outlet_id, row, col).

    Plan: hop-annotated pointer-doubling closure (src, dst, h), then
    per-cell argmin(hops) over outlet dsts — O(log longest-path) joins.
    """
    nodes, reach = _watershed_closure(cells, meta, "watershed closure", max_doublings)
    res = _first_outlet(nodes, reach, outlets, meta)
    nodes.unpersist()
    return res


def _watershed_closure(cells: DataFrame, meta: GridMeta, what: str,
                       max_doublings: int) -> tuple[DataFrame, DataFrame]:
    """(nodes, reach): the D8 cells as (id, row, col), pinned, and the
    closure (src, dst, h) of their flow paths, h = hops from src to dst
    (self rows h = 0). Every (src, dst) pair of the D8 functional graph
    has exactly one path, so the closure's (src, dst) dedupe keeps the
    path's hop count."""
    c = meta.columns
    ptr = d8_pointer(cells, meta)
    nodes = ptr.selectExpr(f"(row * {c}L + col) AS id", "row", "col").persist()
    e = d8_edges(ptr).selectExpr(f"(row * {c}L + col) AS src",
                                 f"(drow * {c}L + dcol) AS dst", "CAST(1 AS INT) AS h")
    reach = closure(
        nodes.selectExpr("id AS src", "id AS dst", "CAST(0 AS INT) AS h").unionByName(e),
        what, max_doublings, sums=("h",))
    return nodes, reach


def _first_outlet(nodes: DataFrame, reach: DataFrame, outlets: DataFrame,
                  meta: GridMeta) -> DataFrame:
    """(row, col, value = outlet_id) for every cell whose flow path in
    `_watershed_closure`'s `reach` meets an outlet: the nearest one."""
    c = meta.columns
    out_tbl = outlets.selectExpr(f"(row * {c}L + col) AS dst", "outlet_id")
    hits = reach.join(out_tbl, "dst").groupBy("src").agg(
        F.expr("MIN_BY(outlet_id, STRUCT(h, outlet_id))").alias("outlet_id")
    )
    return nodes.join(hits, nodes["id"] == hits["src"]).select(
        "row", "col", F.col("outlet_id").cast("double").alias("value")
    )


def _pflood_kernel(tile: int, rows: int, cols: int, eps: float = 0.0):
    """Per-tile priority-flood given fixed boundary estimates (Barnes
    et al. 2016 tile kernel). Input rows: (tr, tc, row, col, z, w, halo);
    halo=1 rows are neighbouring tiles' border cells carrying their
    current w estimate as a fixed boundary condition. Output: own cells
    with the exact local fixpoint w given those boundaries.

    eps > 0 switches to the epsilon-gradient fill (fill_burn.rs's
    filling stage): neighbours raise to max(z, w + eps) instead of
    max(z, w). The eps fixpoint is unique whenever w + eps > w (no
    float-equal cycles), so the tiled plan stays bit-exact vs the
    sequential epsilon priority-flood — pytest-gated in
    tests/test_demedit.py."""
    import heapq

    import numpy as np
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        tr = int(pdf["tr"].iloc[0])
        tc = int(pdf["tc"].iloc[0])
        own = pdf[pdf["halo"] == 0]
        r = own["row"].to_numpy(np.int64)
        c = own["col"].to_numpy(np.int64)
        z = own["z"].to_numpy(np.float64)
        wprev = own["w"].to_numpy(np.float64)
        size = tile + 2
        lr = r - tr * tile + 1
        lc = c - tc * tile + 1
        zz = np.full((size, size), np.inf)
        present = np.zeros((size, size), dtype=bool)
        zz[lr, lc] = z
        present[lr, lc] = True
        done = np.zeros((size, size), dtype=bool)
        wgrid = np.full((size, size), np.inf)

        heap: list = []
        halo = pdf[pdf["halo"] == 1]
        if len(halo):
            hr = halo["row"].to_numpy(np.int64) - tr * tile + 1
            hc = halo["col"].to_numpy(np.int64) - tc * tile + 1
            hw = halo["w"].to_numpy(np.float64)
            for i in range(len(halo)):
                if np.isfinite(hw[i]):
                    heap.append((hw[i], int(hr[i]), int(hc[i])))
        # own cells on the GLOBAL raster border are pinned at w = z
        gb = (r == 0) | (r == rows - 1) | (c == 0) | (c == cols - 1)
        for i in np.nonzero(gb)[0]:
            heap.append((z[i], int(lr[i]), int(lc[i])))
        heapq.heapify(heap)
        while heap:
            wv, pr, pc = heapq.heappop(heap)
            if done[pr, pc]:
                continue
            done[pr, pc] = True
            wgrid[pr, pc] = wv
            wpush = wv + eps if eps else wv  # eps=0: bit-identical, no -0.0+0.0 drift
            for dr in (-1, 0, 1):
                for dc in (-1, 0, 1):
                    nr, nc = pr + dr, pc + dc
                    if (dr or dc) and 0 <= nr < size and 0 <= nc < size \
                            and present[nr, nc] and not done[nr, nc]:
                        heapq.heappush(
                            heap, (max(zz[nr, nc], wpush), nr, nc))
        # boundary estimates only decrease round-over-round and the local
        # fixpoint is monotone in them; min() with the previous estimate
        # makes that invariant explicit (guards the convergence check)
        wnew = np.minimum(wgrid[lr, lc], wprev)
        return pd.DataFrame({"row": r, "col": c, "z": z,
                             "__prev": wprev, "w": wnew})

    return kernel


def fill_depressions(cells: DataFrame, meta: GridMeta,
                     max_rounds: int = 64, tile: int = 256,
                     eps: float = 0.0) -> DataFrame:
    """FillDepressionsPlanchonAndDarboux
    (hydro_analysis/fill_depressions_planchon_and_darboux.rs semantics,
    same fixpoint as fill_depressions.rs:374's priority flood): the
    unique fixpoint W of  W(c) = max(z(c), min over 8-neighbors of
    W(n))  with W = z on the raster border — water drains iff it can
    reach the edge monotonically.

    Spark plan (Barnes et al. 2016 "Parallel priority-flood"): tile the
    grid; each round runs an EXACT per-tile priority-flood (heap kernel
    in applyInPandas) seeded by the global border plus a 1-cell halo of
    neighbouring tiles' current w estimates, then exchanges tile-border
    labels. W is monotone non-increasing, so rounds = O(tile-graph
    spill-path length), not O(depression diameter in cells): a raster
    that fits one tile converges in a single round; a continental DEM in
    ~tile-graph-diameter rounds. Per-task memory is O(tile^2); each
    round is one narrow halo scatter + one groupBy(tile) shuffle.
    All outputs are max/min selections of input z values (no float
    arithmetic), so results are bit-exact vs the Jacobi reference and
    the recursive-CTE oracle. eps > 0 adds the constant-epsilon
    gradient per step (fill_burn's filling stage) — still bit-exact vs
    the sequential epsilon priority-flood (unique fixpoint; kernel
    docstring)."""
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    rows, cols = meta.rows, meta.columns
    border = (f"(row = 0 OR col = 0 OR row = {rows - 1} "
              f"OR col = {cols - 1})")
    w = cells.selectExpr(
        "row", "col", "value AS z",
        f"CASE WHEN {border} THEN value ELSE CAST('Infinity' AS DOUBLE) END AS w",
    )
    single_tile = rows <= tile and cols <= tile
    schema = StructType([
        StructField("row", LongType(), False),
        StructField("col", LongType(), False),
        StructField("z", DoubleType(), False),
        StructField("__prev", DoubleType(), False),
        StructField("w", DoubleType(), False),
    ])
    kernel = _pflood_kernel(tile, rows, cols, eps)
    offs = [(-1, 0), (1, 0), (0, -1), (0, 1),
            (-1, -1), (-1, 1), (1, -1), (1, 1)]
    pairs = ", ".join(
        f"STRUCT(row + ({dr}L) AS nrow, col + ({dc}L) AS ncol)"
        for dr, dc in offs)

    def flood(w):
        staged = w.selectExpr(
            f"row DIV {tile} AS tr", f"col DIV {tile} AS tc",
            "row", "col", "z", "w", "CAST(0 AS INT) AS halo")
        if not single_tile:
            # halo scatter: tile-border cells carry their w estimate to
            # every adjacent tile they touch (narrow — 4/tile of cells)
            halo = (
                w.where(f"row % {tile} IN (0, {tile - 1}) "
                        f"OR col % {tile} IN (0, {tile - 1})")
                .withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))"))
                .selectExpr(f"__n.nrow DIV {tile} AS tr",
                            f"__n.ncol DIV {tile} AS tc",
                            "row", "col", "z", "w", "CAST(1 AS INT) AS halo")
                .where(f"tr <> row DIV {tile} OR tc <> col DIV {tile}")
                .where(f"tr >= 0 AND tc >= 0 AND tr <= {(rows - 1) // tile} "
                       f"AND tc <= {(cols - 1) // tile}")
                .dropDuplicates(["tr", "tc", "row", "col"])
            )
            staged = staged.unionByName(halo)
        return staged.groupBy("tr", "tc").applyInPandas(kernel, schema=schema)

    if single_tile:
        # one tile, no boundary exchange: round 1 is the exact fixpoint
        w, _ = materialize(flood(w))
    else:
        w = fixpoint(w, flood, "w <> __prev", "fill_depressions", max_rounds)
    return w.selectExpr("row", "col", "w AS value")


def _jump_with_steps(state: DataFrame, ptr: str) -> DataFrame:
    """One pointer jump of (id, row, col, <ptr>, nr, nc, nd): follow the
    pointer and add the target's integer step counts; the old pointer
    rides along as __prev."""
    hop = state.selectExpr("id AS j_id", f"{ptr} AS j_ptr", "nr AS j_nr",
                           "nc AS j_nc", "nd AS j_nd")
    return state.join(hop, state[ptr] == hop["j_id"], "left").selectExpr(
        "id", "row", "col", f"{ptr} AS __prev",
        f"COALESCE(j_ptr, {ptr}) AS {ptr}",
        "nr + COALESCE(j_nr, 0L) AS nr",
        "nc + COALESCE(j_nc, 0L) AS nc",
        "nd + COALESCE(j_nd, 0L) AS nd",
    )


def downslope_flowpath_length(cells: DataFrame, meta: GridMeta,
                              max_doublings: int = 24) -> DataFrame:
    """DownslopeFlowpathLength (terrain_analysis/downslope_flowpath_length.rs
    semantics): map-unit distance along the D8 flow path from each cell
    to its terminal cell. Pointer-doubling carrying exact INTEGER
    step-type counters (row/col/diagonal), with one length multiply at
    the end — sums of integers are order-free, so the result is
    bit-portable and the driver query is oracle-gated against a
    sequential recursive walk."""
    c = meta.columns
    ptr = d8_pointer(cells, meta)
    dy_a = ", ".join(str(v) for v in D8_DY)
    dx_a = ", ".join(str(v) for v in D8_DX)
    nd_a = ", ".join("1L" if D8_DY[i] != 0 and D8_DX[i] != 0 else "0L"
                     for i in range(8))
    nr_a = ", ".join("1L" if D8_DY[i] != 0 and D8_DX[i] == 0 else "0L"
                     for i in range(8))
    nc_a = ", ".join("1L" if D8_DY[i] == 0 else "0L" for i in range(8))
    i1 = "CAST(LOG2(value) AS INT) + 1"
    e = ptr.where("value > 0").selectExpr(
        f"(row * {c}L + col) AS id",
        f"((row + CAST(ELEMENT_AT(ARRAY({dy_a}), {i1}) AS BIGINT)) * {c}L "
        f"+ (col + CAST(ELEMENT_AT(ARRAY({dx_a}), {i1}) AS BIGINT))) AS nxt",
        f"ELEMENT_AT(ARRAY({nr_a}), {i1}) AS nr",
        f"ELEMENT_AT(ARRAY({nc_a}), {i1}) AS nc",
        f"ELEMENT_AT(ARRAY({nd_a}), {i1}) AS nd",
    )
    nodes = ptr.selectExpr(f"(row * {c}L + col) AS id", "row", "col")
    state = nodes.join(e, "id", "left").selectExpr(
        "id", "row", "col", "COALESCE(nxt, id) AS nxt",
        "COALESCE(nr, 0L) AS nr", "COALESCE(nc, 0L) AS nc",
        "COALESCE(nd, 0L) AS nd",
    )
    state = fixpoint(state, lambda s: _jump_with_steps(s, "nxt"), "nxt <> __prev",
                     "downslope_flowpath_length doubling", max_doublings)
    return state.selectExpr("row", "col", f"{_len_expr(meta)} AS value")


def wetness_index(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """WetnessIndex (terrain_analysis/wetness_index.rs): ln(SCA / tan
    beta); SCA = accumulation cells * cell area / cell size, slope from
    the Florinsky fit (clamped at 0.001 like the reference's guard)."""
    from .focal import focal_pivot5, _florinsky_pq

    res = (meta.resolution_x + meta.resolution_y) / 2.0
    p, q = _florinsky_pq(res)
    accum = d8_flow_accumulation_tiled(cells, meta)
    sca = accum.selectExpr(
        "row", "col",
        f"value * {meta.resolution_x * meta.resolution_y!r} / {res!r} AS sca",
    )
    slope_tan = focal_pivot5(cells).selectExpr(
        "row", "col", f"GREATEST(SQRT({p} * {p} + {q} * {q}), 0.001) AS tanb"
    )
    return sca.join(slope_tan, ["row", "col"]).selectExpr(
        "row", "col", "LN(sca / tanb) AS value"
    )


def _cost_lengths(meta: GridMeta) -> list[float]:
    """Step length per D8 direction for cost_distance / cost_allocation
    (their diagonal is sqrt(rx ** 2 + ry ** 2), as in their oracles)."""
    diag = math.sqrt(meta.resolution_x ** 2 + meta.resolution_y ** 2)
    return [diag if dx and dy else meta.resolution_x if dx else meta.resolution_y
            for dx, dy in zip(D8_DX, D8_DY)]


def _cost_relax(state: DataFrame, lengths: list[float], best: str,
                update: list[str], payload: tuple[str, ...] = ()) -> DataFrame:
    """One Bellman-Ford round of a cost surface (row, col, c, acc, ...)
    over the 8-neighbour graph. Each neighbour offers
    a = acc_n + (c_n + c) / 2 * lengths[i], with `back` the D8 direction
    to it and the `payload` columns of its state; `best` folds a cell's
    offers into `b`, and `update` projects the rest of the next state
    after (row, col, c)."""
    pairs = ", ".join(
        f"STRUCT(row + ({D8_DY[i]}L) AS nrow, col + ({D8_DX[i]}L) AS ncol, "
        f"{lengths[i]!r} AS dist, {(i + 4) % 8} AS back)"
        for i in range(8))
    offers = (
        state.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))"))
        .selectExpr("__n.nrow AS row", "__n.ncol AS col", "acc AS nacc", "c AS nc",
                    "__n.dist AS dist", "__n.back AS back", *payload)
        .join(state.selectExpr("row", "col", "c AS mc"), ["row", "col"], "inner")
        .selectExpr("row", "col", "nacc + (nc + mc) / 2.0 * dist AS a", "back",
                    *payload)
    )
    b = offers.groupBy("row", "col").agg(F.expr(best).alias("b"))
    return state.join(b, ["row", "col"], "left").selectExpr("row", "col", "c", *update)


def cost_distance(cost: DataFrame, meta: GridMeta, source_pred: str,
                  max_rounds: int = 96) -> DataFrame:
    """CostDistance (gis_analysis/cost_distance.rs semantics):
    accumulated least cost from any source cell over the cost surface;
    moving between cells costs (cost(a) + cost(b))/2 * distance.

    Spark plan: Bellman-Ford-style relaxation over the 8-neighbor graph
    — each round a cell adopts min(acc, min over neighbors(acc_n +
    step)); converges in O(longest least-cost path in cells) rounds.
    """
    state = cost.selectExpr(
        "row", "col", "value AS c",
        f"CASE WHEN {source_pred} THEN 0.0 ELSE CAST('Infinity' AS DOUBLE) END AS acc",
    )

    def relax(state):
        return _cost_relax(state, _cost_lengths(meta), "MIN(a)", [
            "acc AS __prev", "LEAST(acc, COALESCE(b, acc)) AS acc"])

    state = fixpoint(state, relax, "acc <> __prev", "cost_distance relaxation", max_rounds)
    return state.selectExpr("row", "col", "acc AS value")


def extract_streams(cells: DataFrame, meta: GridMeta, threshold: float) -> DataFrame:
    """ExtractStreams: 1.0 where flow accumulation >= threshold else 0.0."""
    accum = d8_flow_accumulation_tiled(cells, meta)
    return accum.selectExpr(
        "row", "col",
        f"CAST(CASE WHEN value >= {threshold!r} THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value",
    )


def _stream_edges(cells: DataFrame, meta: GridMeta, threshold: float):
    """Stream-cell set + the D8 edges restricted to stream->stream."""
    c = meta.columns
    ptr = d8_pointer(cells, meta).persist()
    accum = d8_flow_accumulation_tiled(cells, meta)
    streams = accum.where(f"value >= {threshold!r}").selectExpr(
        f"(row * {c}L + col) AS id", "row", "col"
    ).persist()
    e_all = d8_edges(ptr).selectExpr(f"(row * {c}L + col) AS src",
                                     f"(drow * {c}L + dcol) AS dst")
    e = (
        e_all.join(streams.select(F.col("id").alias("src")), "src", "leftsemi")
        .join(streams.select(F.col("id").alias("dst")), "dst", "leftsemi")
        .persist()
    )
    ptr.unpersist()
    return streams, e


def _labeled_links(streams: DataFrame, e: DataFrame) -> DataFrame:
    """_stream_edges' stream cells as (id, row, col, lbl), pinned, with
    lbl = the smallest cell id of the cell's LINK: a component of the
    stream edges left after dropping every edge INTO a junction-fed
    cell. Releases `streams` (the result carries its columns)."""
    from .clump import connected_components

    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("n"))
    chain_e = e.join(indeg.where("n >= 2").select("dst"), "dst", "left_anti")
    comp = connected_components(chain_e.selectExpr("src AS a", "dst AS b"),
                                "_labeled_links label propagation", 48)
    lbl, _ = materialize(streams.join(comp, "id", "left").selectExpr(
        "id", "row", "col", "COALESCE(comp, id) AS lbl"))
    streams.unpersist()
    return lbl


def strahler_order(cells: DataFrame, meta: GridMeta, threshold: float,
                   max_rounds: int = 64) -> DataFrame:
    """StrahlerStreamOrder (stream_network_analysis/strahler_stream_order.rs
    semantics): channel heads are order 1; at a junction the order is
    the max inflow order, +1 when two or more inflows share that max.

    Plan: orders are constant along links, so contract the network to
    its LINK graph first (stream_link machinery, O(log chain) rounds),
    then topologically peel the link DAG — rounds = junction depth
    (tens), not cell-chain length (thousands)."""
    streams, e = _stream_edges(cells, meta, threshold)
    lbl = _labeled_links(streams, e)
    resolved = _strahler_links(lbl, e, max_rounds)
    out = lbl.join(resolved.withColumnRenamed("id", "lbl"), "lbl") \
             .selectExpr("row", "col", "CAST(ord AS DOUBLE) AS value")
    e.unpersist()
    return out


def _strahler_links(lbl: DataFrame, e: DataFrame, max_rounds: int) -> DataFrame:
    """Strahler order per link as (id = link label, ord): peels the link
    DAG of `_labeled_links`' `lbl` over the stream edges `e`."""
    # link-level edges: cell edge crossing two different links
    le = (
        e.join(lbl.selectExpr("id AS src", "lbl AS src_l"), "src")
        .join(lbl.selectExpr("id AS dst", "lbl AS dst_l"), "dst")
        .where("src_l <> dst_l")
        .select(F.col("src_l").alias("src"), F.col("dst_l").alias("dst"))
        .distinct()
        .persist()
    )
    links = lbl.select(F.col("lbl").alias("id")).distinct()
    unresolved = links
    resolved = None
    for _ in range(max_rounds):
        if resolved is None:
            frontier = unresolved.join(le.select(F.col("dst").alias("id")).distinct(),
                                       "id", "left_anti").selectExpr("id", "1 AS ord")
        else:
            inflow = le.join(unresolved.selectExpr("id AS dst"), "dst", "leftsemi")
            blocked = inflow.join(resolved.selectExpr("id AS src"), "src", "left_anti") \
                            .select(F.col("dst").alias("id")).distinct()
            ready = unresolved.join(blocked, "id", "left_anti")
            ties = le.join(resolved.withColumnRenamed("id", "src"), "src") \
                     .groupBy("dst", "ord").agg(F.count(F.lit(1)).alias("n_at"))
            top = ties.groupBy("dst").agg(
                F.expr("MAX_BY(n_at, ord)").alias("n_at_max"), F.max("ord").alias("mx")
            )
            frontier = ready.join(top.withColumnRenamed("dst", "id"), "id", "left") \
                            .selectExpr(
                                "id",
                                "CASE WHEN mx IS NULL THEN 1 "
                                "WHEN n_at_max >= 2 THEN mx + 1 ELSE mx END AS ord")
        n_front = frontier.count()
        if n_front == 0:
            ensure_converged(unresolved.count(), "strahler_order link peel (stalled frontier)", max_rounds)
            break
        resolved = (frontier if resolved is None
                    else resolved.unionByName(frontier)).localCheckpoint(eager=True)
        unresolved = unresolved.join(frontier.select("id"), "id", "left_anti") \
                               .localCheckpoint(eager=True)
        if unresolved.count() == 0:
            break
    else:
        ensure_converged(unresolved.count(), "strahler_order link peel", max_rounds)
    le.unpersist()
    return resolved


def stream_link_id(cells: DataFrame, meta: GridMeta, threshold: float) -> DataFrame:
    """StreamLinkIdentifier (stream_network_analysis/stream_link_identifier.rs
    semantics): label connected stream segments between junctions.
    A link breaks wherever a stream cell receives >= 2 stream inflows:
    drop edges INTO junction-fed cells, min-label + pointer-jump the
    remaining chains, number links by row-major representative."""
    from ..plans.rank import dense_rank_small

    streams, e = _stream_edges(cells, meta, threshold)
    lbl = _labeled_links(streams, e)
    reps = dense_rank_small(lbl, "lbl", "link_id")
    out = lbl.join(reps, "lbl").selectExpr("row", "col", "CAST(link_id AS DOUBLE) AS value")
    e.unpersist()
    return out


# ---------------------------------------------------------------------------
# Tiled two-level D8 flow accumulation (Barnes 2017 parallel flow-accum
# family): local tile accumulation + coarse exit-graph solve + local
# inflow propagation. Replaces the O(n * path-length) transitive closure
# for the scale path while keeping identical output.
# ---------------------------------------------------------------------------


def _d8_local_kernel(tile: int, columns: int):
    """Per-tile numpy pass: local accumulation, exit assignment, and the
    tile's outgoing (coarse) edges. Input rows: (row, col, value=pointer
    code, tr, tc); output one row per cell."""
    def kernel(key, pdf):
        import numpy as np
        import pandas as pd

        tr, tc = int(key[0]), int(key[1])
        r0, c0 = tr * tile, tc * tile
        rr = pdf["row"].to_numpy(dtype=np.int64)
        cc = pdf["col"].to_numpy(dtype=np.int64)
        ptr = pdf["value"].to_numpy(dtype=np.float64)
        n = len(rr)
        lidx = (rr - r0) * tile + (cc - c0)
        pos = np.full(tile * tile, -1, dtype=np.int64)
        pos[lidx] = np.arange(n)
        dirs = np.where(ptr > 0, np.log2(np.maximum(ptr, 1.0)).astype(np.int64), -1)
        dyv = np.array(D8_DY, dtype=np.int64)
        dxv = np.array(D8_DX, dtype=np.int64)
        trow = np.where(dirs >= 0, rr + dyv[np.clip(dirs, 0, 7)], rr)
        tcol = np.where(dirs >= 0, cc + dxv[np.clip(dirs, 0, 7)], cc)
        in_tile = (dirs >= 0) & (trow >= r0) & (trow < r0 + tile) \
            & (tcol >= c0) & (tcol < c0 + tile)
        nxt = np.full(n, -1, dtype=np.int64)
        tl = (trow - r0) * tile + (tcol - c0)
        nxt[in_tile] = pos[tl[in_tile]]
        # a pointer into a missing cell (nodata hole) acts like an exit
        exits_grid = (dirs >= 0) & ((~in_tile) | (nxt == -1))
        nxt[exits_grid] = -1

        # Kahn topological order over the in-tile functional graph
        indeg = np.zeros(n, dtype=np.int64)
        valid = nxt >= 0
        np.add.at(indeg, nxt[valid], 1)
        order = np.empty(n, dtype=np.int64)
        head = 0
        tail = 0
        for i in range(n):
            if indeg[i] == 0:
                order[tail] = i
                tail += 1
        while head < tail:
            v = order[head]
            head += 1
            w = nxt[v]
            if w >= 0:
                indeg[w] -= 1
                if indeg[w] == 0:
                    order[tail] = w
                    tail += 1
        # local accumulation in topological order
        acc = np.ones(n, dtype=np.int64)
        for k in range(n):
            v = order[k]
            w = nxt[v]
            if w >= 0:
                acc[w] += acc[v]
        # exit cell per path (reverse topological order)
        ex = np.arange(n, dtype=np.int64)
        for k in range(n - 1, -1, -1):
            v = order[k]
            w = nxt[v]
            if w >= 0:
                ex[v] = ex[w]
        has_exit = exits_grid[ex]
        out_r = np.where(exits_grid, trow, -1)
        out_c = np.where(exits_grid, tcol, -1)
        return pd.DataFrame({
            "row": rr, "col": cc,
            "local_acc": acc,
            "ex_row": rr[ex], "ex_col": cc[ex],
            "has_exit": has_exit,
            "out_row": out_r, "out_col": out_c,
        })

    return kernel


def d8_flow_accumulation_tiled(cells: DataFrame, meta: GridMeta,
                               tile: int = 64,
                               max_doublings: int = 24) -> DataFrame:
    """D8FlowAccumulation via two-level tile contraction (identical
    output to d8_flow_accumulation, built for continental rasters):

      1. per-tile kernel: local accumulation + exit-cell assignment —
         one groupBy(tile) shuffle, O(cells) work;
      2. coarse solve: the exit cells form a functional graph ~1/tile
         the size of the raster; pointer-doubling closure + load sums
         give total(e) = upstream count at every exit (the ONLY
         closure, now over the contracted graph: pairs ~ n*D/tile^2
         instead of n*D);
      3. per-tile kernel: entry inflows propagate along local paths
         (one more groupBy(tile)); value = local + propagated.

    The closure plan (d8_flow_accumulation) stays as the small-raster
    reference; both are oracle-gated to the same recursive-CTE truth."""
    from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                                   StructField, StructType)

    c = meta.columns
    ptr = d8_pointer(cells, meta).localCheckpoint(eager=True)
    tiles = ptr.selectExpr(
        "row", "col", "value",
        f"CAST(FLOOR(row / {tile}) AS BIGINT) AS tr",
        f"CAST(FLOOR(col / {tile}) AS BIGINT) AS tc",
    )
    schema1 = StructType([
        StructField("row", LongType(), False),
        StructField("col", LongType(), False),
        StructField("local_acc", LongType(), False),
        StructField("ex_row", LongType(), False),
        StructField("ex_col", LongType(), False),
        StructField("has_exit", BooleanType(), False),
        StructField("out_row", LongType(), False),
        StructField("out_col", LongType(), False),
    ])
    local = tiles.groupBy("tr", "tc").applyInPandas(
        _d8_local_kernel(tile, c), schema=schema1
    ).localCheckpoint(eager=True)

    # coarse functional graph over exit cells
    exits = local.where("out_row >= 0").selectExpr(
        f"(row * {c}L + col) AS e", "local_acc AS load",
        f"(out_row * {c}L + out_col) AS entry",
    )
    entry_exit = local.selectExpr(
        f"(row * {c}L + col) AS entry",
        f"CASE WHEN has_exit THEN (ex_row * {c}L + ex_col) ELSE NULL END AS e_next",
    )
    coarse_e = exits.join(entry_exit, "entry").where("e_next IS NOT NULL") \
                    .selectExpr("e AS src", "e_next AS dst")
    nodes = exits.selectExpr("e AS id", "load")
    reach = closure(nodes.selectExpr("id AS src", "id AS dst").unionByName(coarse_e),
                    "d8_flow_accumulation_tiled coarse closure", max_doublings)
    totals = (
        reach.join(nodes.selectExpr("id AS src", "load"), "src")
        .groupBy("dst").agg(F.sum("load").alias("total"))
    )
    # entry inflows: sum of totals over exits pointing at each entry cell
    inflows = (
        exits.join(totals.withColumnRenamed("dst", "e"), "e")
        .groupBy("entry").agg(F.sum("total").alias("inflow"))
        .selectExpr(f"CAST(entry / {c} AS BIGINT) AS row",
                    f"entry % {c} AS col", "inflow")
    )
    staged = tiles.join(inflows, ["row", "col"], "left") \
                  .selectExpr("row", "col", "value", "tr", "tc",
                              "COALESCE(inflow, 0L) AS inflow")

    schema2 = StructType([
        StructField("row", LongType(), False),
        StructField("col", LongType(), False),
        StructField("value", DoubleType(), False),
    ])

    def kernel2(key, pdf):
        import numpy as np
        import pandas as pd

        tr, tc = int(key[0]), int(key[1])
        r0, c0 = tr * tile, tc * tile
        rr = pdf["row"].to_numpy(dtype=np.int64)
        cc = pdf["col"].to_numpy(dtype=np.int64)
        ptrv = pdf["value"].to_numpy(dtype=np.float64)
        inflow = pdf["inflow"].to_numpy(dtype=np.int64)
        n = len(rr)
        pos = np.full(tile * tile, -1, dtype=np.int64)
        pos[(rr - r0) * tile + (cc - c0)] = np.arange(n)
        dirs = np.where(ptrv > 0, np.log2(np.maximum(ptrv, 1.0)).astype(np.int64), -1)
        dyv = np.array(D8_DY, dtype=np.int64)
        dxv = np.array(D8_DX, dtype=np.int64)
        trow = np.where(dirs >= 0, rr + dyv[np.clip(dirs, 0, 7)], rr)
        tcol = np.where(dirs >= 0, cc + dxv[np.clip(dirs, 0, 7)], cc)
        in_tile = (dirs >= 0) & (trow >= r0) & (trow < r0 + tile) \
            & (tcol >= c0) & (tcol < c0 + tile)
        nxt = np.full(n, -1, dtype=np.int64)
        tl = (trow - r0) * tile + (tcol - c0)
        nxt[in_tile] = pos[tl[in_tile]]
        indeg = np.zeros(n, dtype=np.int64)
        valid = nxt >= 0
        np.add.at(indeg, nxt[valid], 1)
        order = np.empty(n, dtype=np.int64)
        head = tail = 0
        for i in range(n):
            if indeg[i] == 0:
                order[tail] = i
                tail += 1
        while head < tail:
            v = order[head]
            head += 1
            w = nxt[v]
            if w >= 0:
                indeg[w] -= 1
                if indeg[w] == 0:
                    order[tail] = w
                    tail += 1
        acc = np.ones(n, dtype=np.int64)
        add = inflow.copy()
        for k in range(n):
            v = order[k]
            w = nxt[v]
            if w >= 0:
                acc[w] += acc[v]
                add[w] += add[v]
        return pd.DataFrame({"row": rr, "col": cc,
                             "value": (acc + add).astype(np.float64)})

    return staged.groupBy("tr", "tc").applyInPandas(kernel2, schema=schema2)


# ---------------------------------------------------------------------------
# D-infinity flow model (Tarboton 1997): dinf_pointer (facet fold) +
# dinf_flow_accumulation (weighted path-sum doubling)
# Reference: hydro_analysis/dinf_pointer.rs:234-330,
# dinf_flow_accum.rs:525-615
# ---------------------------------------------------------------------------

# facet tables (dinf_pointer.rs:234-241) re-indexed to the D8 neighbor
# order used by focal_pivot3_raw (zn_i at (row+D8_DY[i], col+D8_DX[i]))
_DINF_AC = [0.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 4.0]
_DINF_AF = [1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0]
_DINF_E1_IDX = [1, 7, 7, 5, 5, 3, 3, 1]
_DINF_E2_IDX = [0, 0, 6, 6, 4, 4, 2, 2]


def _dinf_dir_expr(meta: GridMeta) -> str:
    """D-inf direction (degrees clockwise from north, -1 for pits/flats)
    over zc/zn_i pivot columns — exact transcription of the facet loop."""
    import math

    grid_res = (meta.resolution_x + meta.resolution_y) / 2.0
    diag = math.sqrt(meta.resolution_x ** 2 + meta.resolution_y ** 2)
    atan1 = math.atan(1.0)
    half_pi = math.pi / 2.0
    facets = []
    for i in range(8):
        e1 = f"zn_{_DINF_E1_IDX[i]}"
        e2 = f"zn_{_DINF_E2_IDX[i]}"
        ac, af = _DINF_AC[i], _DINF_AF[i]
        s1 = f"((zc - {e1}) / {grid_res!r})"
        s2 = f"(({e1} - {e2}) / {grid_res!r})"
        r0 = f"IF({s1} <> 0.0, ATAN({s2} / {s1}), {half_pi!r})"
        smag = f"SQRT({s1} * {s1} + {s2} * {s2})"
        ssgn = (f"(CASE WHEN ({s1} < 0.0 AND {s2} < 0.0) OR ({s1} < 0.0 AND {s2} = 0.0) "
                f"OR ({s1} = 0.0 AND {s2} < 0.0) THEN -({smag}) ELSE {smag} END)")
        r_cl = (f"CASE WHEN ({r0}) < 0.0 THEN 0.0 "
                f"WHEN ({r0}) > {atan1!r} THEN {atan1!r} ELSE ({r0}) END")
        s_cl = (f"CASE WHEN ({r0}) < 0.0 THEN {s1} "
                f"WHEN ({r0}) > {atan1!r} THEN ((zc - {e2}) / {diag!r}) ELSE ({ssgn}) END")
        full = (f"NAMED_STRUCT('s', {s_cl}, 'dir', "
                f"{af!r} * ({r_cl}) + {ac!r} * {half_pi!r})")
        partial = (f"CASE WHEN zc > {e1} THEN NAMED_STRUCT('s', (zc - {e1}) / {grid_res!r}, "
                   f"'dir', {af!r} * 0.0 + {ac!r} * {half_pi!r}) "
                   f"ELSE NAMED_STRUCT('s', (zc - {e2}) / {diag!r}, "
                   f"'dir', {af!r} * {atan1!r} + {ac!r} * {half_pi!r}) END")
        facet = (f"CASE WHEN {e1} IS NOT NULL AND {e2} IS NOT NULL THEN "
                 f"(CASE WHEN zc > {e1} AND zc > {e2} THEN {full} "
                 f"WHEN zc > {e1} OR zc > {e2} THEN {partial} ELSE NULL END) "
                 f"ELSE NULL END")
        facets.append(facet)
    fold = (
        "AGGREGATE(ARRAY(" + ", ".join(facets) + "), "
        "NAMED_STRUCT('s', CAST('-Infinity' AS DOUBLE), 'dir', CAST(360.0 AS DOUBLE)), "
        "(acc, e) -> IF(e IS NOT NULL AND e.s >= acc.s AND e.s <> 0.00001, e, acc))"
    )
    return (f"CASE WHEN ({fold}).s > 0.0 THEN "
            f"(CASE WHEN 360.0 - DEGREES(({fold}).dir) + 90.0 > 360.0 "
            f"THEN 360.0 - DEGREES(({fold}).dir) + 90.0 - 360.0 "
            f"ELSE 360.0 - DEGREES(({fold}).dir) + 90.0 END) ELSE -1.0 END")


def dinf_pointer(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """DInfPointer: flow direction in degrees clockwise from north
    (continuous), -1.0 for pits/flats. One pivot shuffle + codegen fold."""
    piv = focal_pivot3_raw(cells)
    return piv.selectExpr("row", "col", f"{_dinf_dir_expr(meta)} AS value")


def _dinf_edges(pointer: DataFrame, columns: int) -> DataFrame:
    """Weighted out-edges (src, dst, w) from the D-inf direction: flow
    splits between the two neighbors bracketing the direction
    (dinf_flow_accum.rs:544-601 45-degree sector table)."""
    # sector k = floor(dir/45) (dir in [0,360)); neighbor offsets per
    # sector for (a1,b1) and (a2,b2) exactly as the reference lists them
    n1 = [(-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1)]
    n2 = [(-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0)]
    sec = "CAST(FLOOR(LEAST(value, 359.999999) / 45.0) AS INT)"
    r1 = "ELEMENT_AT(ARRAY(" + ", ".join(str(d[0]) for d in n1) + f"), {sec} + 1)"
    c1 = "ELEMENT_AT(ARRAY(" + ", ".join(str(d[1]) for d in n1) + f"), {sec} + 1)"
    r2 = "ELEMENT_AT(ARRAY(" + ", ".join(str(d[0]) for d in n2) + f"), {sec} + 1)"
    c2 = "ELEMENT_AT(ARRAY(" + ", ".join(str(d[1]) for d in n2) + f"), {sec} + 1)"
    p1 = f"((CAST({sec} + 1 AS DOUBLE) * 45.0 - value) / 45.0)"
    p2 = f"((value - CAST({sec} AS DOUBLE) * 45.0) / 45.0)"
    flowing = pointer.where("value >= 0.0")
    edges = flowing.selectExpr(
        f"(row * {columns}L + col) AS src",
        f"EXPLODE(ARRAY(NAMED_STRUCT('dst', (row + {r1}) * {columns}L + (col + {c1}), 'w', {p1}), "
        f"NAMED_STRUCT('dst', (row + {r2}) * {columns}L + (col + {c2}), 'w', {p2}))) AS e",
    ).selectExpr("src", "e.dst AS dst", "e.w AS w").where("w > 0.0")
    return edges


def dinf_flow_accumulation(cells: DataFrame, meta: GridMeta,
                           max_doublings: int = 24) -> DataFrame:
    """DInfFlowAccumulation (out_type 'cells'-style: 1 self-load per
    cell, proportioned downstream): acc(v) = sum over cells u of the
    total path weight u -> v (products of facet proportions, summed over
    paths).

    Plan: weighted path-sum doubling — maintain S_k = sum_{j<2^k} P^j
    and Q_k = P^(2^k) as sparse (src, dst, w) tables;
    S_{k+1} = S_k + S_k x Q_k, Q_{k+1} = Q_k x Q_k (join + groupBy SUM).
    log(longest-path) rounds. D-inf fans out, so nnz(S) grows with the
    flow cone — for continental rasters swap in the tiled
    transfer-matrix contraction (the d8 tiled plan generalizes with
    entry->exit weight matrices); this plan is the oracle-shaped
    reference, pytest-gated against a numpy transcription of the
    reference's queue algorithm.

    Note: edges out of the grid (boundary flow) drop their proportion —
    same as the reference writing into the nodata rim."""
    c = meta.columns
    ptr = dinf_pointer(cells, meta)
    nodes = cells.selectExpr(f"(row * {c}L + col) AS id", "row", "col")
    in_grid = nodes.selectExpr("id")
    e = _dinf_edges(ptr, c).join(in_grid.selectExpr("id AS dst"), "dst", "leftsemi")
    return _weighted_path_accum(nodes, e, max_doublings, "dinf_flow_accumulation")


def _path_weight_closure(nodes: DataFrame, e: DataFrame,
                         max_doublings: int, what: str) -> DataFrame:
    """The full sparse path-weight matrix S = sum_j P^j as (src, dst, w)
    over a weighted DAG (products of edge proportions, summed over
    paths), via the S/Q doubling recurrence (see dinf_flow_accumulation
    docstring). Shared by the weighted accumulations and the
    depth-carrying upslope averages."""
    def ckpt(df):
        # checkpointing this union+aggregate plan under AQE trips a
        # Catalyst AttributeMap bug in Spark 4.1 ("key not found");
        # materialize with AQE off — lineage truncation keeps the
        # doubling loop's plan re-analysis cost flat across rounds
        sess = df.sparkSession
        prev = sess.conf.get("spark.sql.adaptive.enabled", "true")
        sess.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return df.localCheckpoint(eager=True)
        finally:
            sess.conf.set("spark.sql.adaptive.enabled", prev)

    # S_0 = I (sum of P^j for j < 1), Q_0 = P; the recurrence
    # S_{k+1} = S_k + S_k Q_k, Q_{k+1} = Q_k^2 keeps S = sum_{j<2^k} P^j
    s = ckpt(nodes.selectExpr("id AS src", "id AS dst", "CAST(1.0 AS DOUBLE) AS w"))
    q = ckpt(e)
    for _ in range(max_doublings):
        n_q = q.count()
        if n_q == 0:
            break
        qr = q.selectExpr("src AS b_src", "dst AS b_dst", "w AS b_w")
        grown = ckpt(
            s.selectExpr("src AS a_src", "dst AS a_dst", "w AS a_w")
            .join(qr, F.col("a_dst") == F.col("b_src"))
            .selectExpr("a_src AS src", "b_dst AS dst", "a_w * b_w AS w")
            .unionByName(s)
            .groupBy("src", "dst").agg(F.sum("w").alias("w"))
        )
        q = ckpt(
            q.selectExpr("src AS a_src", "dst AS a_dst", "w AS a_w")
            .join(qr, F.col("a_dst") == F.col("b_src"))
            .selectExpr("a_src AS src", "b_dst AS dst", "a_w * b_w AS w")
            .groupBy("src", "dst").agg(F.sum("w").alias("w"))
        )
        s = grown
    else:
        ensure_converged(q.count(), f"{what} doubling", max_doublings)
    return s


def _weighted_path_accum(nodes: DataFrame, e: DataFrame,
                         max_doublings: int, what: str) -> DataFrame:
    """acc(v) = sum over u of total path weight u -> v (1 self-load per
    cell) — the aggregation of _path_weight_closure."""
    s = _path_weight_closure(nodes, e, max_doublings, what)
    acc = s.groupBy("dst").agg(F.sum("w").alias("value"))
    return nodes.join(acc, nodes["id"] == acc["dst"]).select(
        "row", "col", F.col("value").cast("double").alias("value")
    )


# ---------------------------------------------------------------------------
# BreachDepressionsLeastCost
# (hydro_analysis/breach_depressions_least_cost.rs:379-580)
# ---------------------------------------------------------------------------


def breach_depressions_least_cost(cells: DataFrame, meta: GridMeta,
                                  max_dist: int = 20,
                                  max_cost: float = float("inf"),
                                  minimize_dist: bool = False,
                                  flat_increment: float | None = None,
                                  max_rounds: int = 5) -> DataFrame:
    """Carve least-cost breach channels from every interior pit.

    Faithful per-pit transcription of the reference: pits are first
    RAISED to min-neighbor - small_num (:428), then a Dijkstra over dig
    cost (cost2 = zn - (z_pit - length*small_num), optionally
    distance-weighted) finds the cheapest cell that can be breached to,
    and the backlink path is carved down to the declining zout profile
    (:519-560).

    Distribution deviation (documented): the reference processes pits
    sequentially from lowest to highest so later pits can reuse earlier
    channels; here every pit of a ROUND solves independently against
    that round's raised DEM inside its own max_dist window — one
    broadcast range-join + groupBy(pit) + kernel — and carves
    MIN-combine. Two basins breaching into each other can leave a
    secondary pit, so rounds repeat on the combined surface until no
    pits remain (typically 1-3 rounds; pytest-gated: filling the final
    breached DEM is a no-op, i.e. everything drains)."""
    import heapq

    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    diagres = math.sqrt(meta.resolution_x ** 2 + meta.resolution_y ** 2)
    resx, resy = meta.resolution_x, meta.resolution_y
    if flat_increment is not None:
        small_num = flat_increment
    else:
        zmax = cells.agg(F.max("value")).collect()[0][0]
        elev_digits = len(str(int(zmax)))
        elev_multiplier = 10.0 ** (9 - elev_digits)
        small_num = 1.0 / elev_multiplier * math.ceil(diagres)

    all_nbrs = " AND ".join(f"zn_{i} IS NOT NULL" for i in range(8))
    none_lower = " AND ".join(f"zn_{i} >= zc" for i in range(8))
    min_zn = "LEAST(" + ", ".join(f"zn_{i}" for i in range(8)) + ")"
    is_pit = f"({all_nbrs}) AND ({none_lower})"

    # window scatter: every pit gets the raised cells within Chebyshev
    # max_dist (broadcast pit table; pits are sparse by definition)
    carve_schema = StructType([
        StructField("row", LongType(), False),
        StructField("col", LongType(), False),
        StructField("carve", DoubleType(), False),
    ])
    dx8 = [1, 1, 1, 0, -1, -1, -1, 0]
    dy8 = [-1, 0, 1, 1, 1, 0, -1, -1]
    backlink_dir = [4, 5, 6, 7, 0, 1, 2, 3]
    cost_dist = [diagres, resx, diagres, resy, diagres, resx, diagres, resy]

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        prow, pcol = int(key[0]), int(key[1])
        z_pit = float(pdf["pit_z"].iloc[0])
        zmap = {}
        for r_, c_, v_ in zip(pdf["row"].to_numpy(), pdf["col"].to_numpy(),
                              pdf["value"].to_numpy()):
            zmap[(int(r_), int(c_))] = float(v_)
        encountered = {(prow, pcol)}
        path_length = {(prow, pcol): 0}
        backlink = {}
        heap = [(0.0, 0, prow, pcol)]
        counter = 1
        carves = []
        while heap:
            accum, _cnt, r, c = heapq.heappop(heap)
            if accum > max_cost:
                break  # no channel cheap enough: leave the raised pit
            length = path_length[(r, c)]
            zn_here = zmap.get((r, c), float("nan"))
            cost1 = zn_here - z_pit + length * small_num
            done = False
            for n in range(8):
                rn, cn = r + dy8[n], c + dx8[n]
                if (rn, cn) in encountered:
                    continue
                length_n = length + 1
                path_length[(rn, cn)] = length_n
                backlink[(rn, cn)] = backlink_dir[n]
                zn = zmap.get((rn, cn))
                zout = z_pit - length_n * small_num
                if zn is not None and zn > zout:
                    cost2 = zn - zout
                    new_cost = (accum + (cost1 + cost2) / 2.0 * cost_dist[n]
                                if minimize_dist else accum + cost2)
                    encountered.add((rn, cn))
                    if length_n <= max_dist:
                        heapq.heappush(heap, (new_cost, counter, rn, cn))
                        counter += 1
                else:
                    # breach target (lower cell or off-window/nodata rim):
                    # carve the backlink path down to the zout profile
                    while (rn, cn) in backlink:
                        b = backlink[(rn, cn)]
                        rn, cn = rn + dy8[b], cn + dx8[b]
                        zpath = zmap.get((rn, cn))
                        lpath = path_length[(rn, cn)]
                        zo = z_pit - lpath * small_num
                        if zpath is not None and zpath > zo:
                            carves.append((rn, cn, zo))
                    done = True
                    break
            if done:
                break
        if not carves:
            return pd.DataFrame({"row": pd.Series([], dtype="int64"),
                                 "col": pd.Series([], dtype="int64"),
                                 "carve": pd.Series([], dtype="float64")})
        out = pd.DataFrame(carves, columns=["row", "col", "carve"])
        return out.astype({"row": "int64", "col": "int64", "carve": "float64"})

    dem = cells.select("row", "col", "value")
    for _round in range(max_rounds):
        piv = focal_pivot3_raw(dem)
        raised = piv.selectExpr(
            "row", "col",
            f"CASE WHEN {is_pit} THEN ({min_zn}) - {small_num!r} ELSE zc END AS value",
            f"CASE WHEN {is_pit} THEN zc ELSE NULL END AS pit_z",
        ).localCheckpoint(eager=True)
        pits = raised.where("pit_z IS NOT NULL") \
                     .selectExpr("row AS prow", "col AS pcol", "pit_z")
        n_pits = pits.count()
        if n_pits == 0:
            return dem
        dem = raised.select("row", "col", "value")
        # +1: the breach TARGET may sit one step beyond the max_dist path
        # bound; a missing lookup then means off-grid (nodata), which the
        # reference treats as breachable
        w = max_dist + 1
        win = dem.join(
            F.broadcast(pits),
            (F.col("row") >= F.col("prow") - w)
            & (F.col("row") <= F.col("prow") + w)
            & (F.col("col") >= F.col("pcol") - w)
            & (F.col("col") <= F.col("pcol") + w),
            "inner",
        )
        carves = win.groupBy("prow", "pcol").applyInPandas(kernel, schema=carve_schema)
        combined = carves.groupBy("row", "col").agg(F.min("carve").alias("carve"))
        dem = dem.join(combined, ["row", "col"], "left").selectExpr(
            "row", "col", "LEAST(value, COALESCE(carve, value)) AS value"
        ).localCheckpoint(eager=True)
    return dem


def fd8_edges(cells: DataFrame, meta: GridMeta, exponent: float = 1.1) -> DataFrame:
    """FD8 proportioned out-edges (hydro_analysis/fd8_flow_accum.rs:
    426-440): every LOWER neighbor receives slope^exponent / sum of
    slope^exponent over all lower neighbors."""
    c = meta.columns
    lengths = _grid_lengths(meta)
    piv = focal_pivot3_raw(cells)
    ws = [
        f"CASE WHEN zn_{i} IS NOT NULL AND zn_{i} < zc "
        f"THEN POWER((zc - zn_{i}) / {lengths[i]!r}, {exponent!r}) ELSE 0.0 END"
        for i in range(8)
    ]
    total = "(" + " + ".join(ws) + ")"
    elems = ", ".join(
        f"NAMED_STRUCT('dst', (row + ({D8_DY[i]}L)) * {c}L + (col + ({D8_DX[i]}L)), "
        f"'w', ({ws[i]}) / {total})"
        for i in range(8)
    )
    return (
        piv.where(f"{total} > 0.0")
        .selectExpr(f"(row * {c}L + col) AS src",
                    f"EXPLODE(ARRAY({elems})) AS e")
        .selectExpr("src", "e.dst AS dst", "e.w AS w")
        .where("w > 0.0")
    )


def fd8_flow_accumulation(cells: DataFrame, meta: GridMeta,
                          exponent: float = 1.1,
                          max_doublings: int = 24) -> DataFrame:
    """FD8FlowAccumulation ('cells' out type, no non-dispersive
    threshold): multiple-flow-direction accumulation via the shared
    weighted path-sum doubling. Rows-only / pytest-gated (POWER with a
    float exponent is libm territory)."""
    c = meta.columns
    nodes = cells.selectExpr(f"(row * {c}L + col) AS id", "row", "col")
    e = fd8_edges(cells, meta, exponent).join(
        nodes.selectExpr("id AS dst"), "dst", "leftsemi")
    return _weighted_path_accum(nodes, e, max_doublings, "fd8_flow_accumulation")


# ---------------------------------------------------------------------------
# Stream-network long tail (stream_network_analysis/*.rs semantics):
# Shreve order, link length/slope, node identification — all on the
# shared _labeled_links / link-DAG machinery
# ---------------------------------------------------------------------------


def shreve_order(cells: DataFrame, meta: GridMeta, threshold: float,
                 max_rounds: int = 64) -> DataFrame:
    """ShreveStreamMagnitude: heads are 1; at a junction the magnitude is
    the SUM of inflow magnitudes (constant along links). Same link-DAG
    peel as strahler_order with a sum combiner."""
    streams, e = _stream_edges(cells, meta, threshold)
    lbl = _labeled_links(streams, e)
    le = (
        e.join(lbl.selectExpr("id AS src", "lbl AS src_l"), "src")
        .join(lbl.selectExpr("id AS dst", "lbl AS dst_l"), "dst")
        .where("src_l <> dst_l")
        .select(F.col("src_l").alias("src"), F.col("dst_l").alias("dst"))
        .distinct()
        .persist()
    )
    links = lbl.select(F.col("lbl").alias("id")).distinct()
    unresolved = links
    resolved = None
    for _ in range(max_rounds):
        if resolved is None:
            frontier = unresolved.join(le.select(F.col("dst").alias("id")).distinct(),
                                       "id", "left_anti").selectExpr("id", "CAST(1 AS BIGINT) AS mag")
        else:
            inflow = le.join(unresolved.selectExpr("id AS dst"), "dst", "leftsemi")
            blocked = inflow.join(resolved.selectExpr("id AS src"), "src", "left_anti") \
                            .select(F.col("dst").alias("id")).distinct()
            ready = unresolved.join(blocked, "id", "left_anti")
            sums = le.join(resolved.withColumnRenamed("id", "src"), "src") \
                     .groupBy("dst").agg(F.sum("mag").alias("in_mag"))
            frontier = ready.join(sums.withColumnRenamed("dst", "id"), "id", "left") \
                            .selectExpr("id", "COALESCE(in_mag, 1L) AS mag")
        n_front = frontier.count()
        if n_front == 0:
            ensure_converged(unresolved.count(), "shreve_order link peel (stalled)", max_rounds)
            break
        resolved = (frontier if resolved is None
                    else resolved.unionByName(frontier)).localCheckpoint(eager=True)
        unresolved = unresolved.join(frontier.select("id"), "id", "left_anti") \
                               .localCheckpoint(eager=True)
        if unresolved.count() == 0:
            break
    else:
        ensure_converged(unresolved.count(), "shreve_order link peel", max_rounds)
    le.unpersist()
    out = lbl.join(resolved.withColumnRenamed("id", "lbl"), "lbl") \
             .selectExpr("row", "col", "CAST(mag AS DOUBLE) AS value")
    e.unpersist()
    return out


def stream_link_metrics(cells: DataFrame, meta: GridMeta, threshold: float) -> DataFrame:
    """StreamLinkLength + StreamLinkSlope per link: length = sum of the
    D8 step lengths along the link's in-link edges; slope = (zmax - zmin)
    / length in percent (0 where length is 0). Output one row per link
    (link_id, n_cells, length, slope_pct) — link ids numbered like
    stream_link_id."""
    from ..plans.rank import dense_rank_small

    c = meta.columns
    streams, e = _stream_edges(cells, meta, threshold)
    lbl = _labeled_links(streams, e)
    z = cells.selectExpr(f"(row * {c}L + col) AS id", "value AS z")
    lz = lbl.join(z, "id")
    # in-link edges classified by step kind; the length multiplies the
    # EXACT integer counts once (bit-reproducible in any aggregation
    # order, unlike a float step sum)
    le = (
        e.join(lbl.selectExpr("id AS src", "lbl AS src_l"), "src")
        .join(lbl.selectExpr("id AS dst", "lbl AS dst_l"), "dst")
        .where("src_l = dst_l")
        .selectExpr(
            "src_l AS lbl",
            f"CAST(CASE WHEN (src DIV {c}) <> (dst DIV {c}) AND (src % {c}) <> (dst % {c}) "
            f"THEN 1 ELSE 0 END AS LONG) AS nd",
            f"CAST(CASE WHEN (src DIV {c}) <> (dst DIV {c}) AND (src % {c}) = (dst % {c}) "
            f"THEN 1 ELSE 0 END AS LONG) AS nr",
            f"CAST(CASE WHEN (src DIV {c}) = (dst DIV {c}) THEN 1 ELSE 0 END AS LONG) AS nc",
        )
    )
    lengths = le.groupBy("lbl").agg(
        F.sum("nr").alias("nr"), F.sum("nc").alias("nc"), F.sum("nd").alias("nd")
    ).selectExpr("lbl", f"{_len_expr(meta)} AS length")
    stats = lz.groupBy("lbl").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.min("z").alias("zmin"), F.max("z").alias("zmax"),
    )
    reps = dense_rank_small(lbl, "lbl", "link_id")
    out = (
        stats.join(lengths, "lbl", "left").join(reps, "lbl")
        .selectExpr(
            "CAST(link_id AS BIGINT) AS link_id", "CAST(n_cells AS BIGINT) AS n_cells",
            "COALESCE(length, 0.0) AS length",
            "CASE WHEN COALESCE(length, 0.0) > 0.0 "
            "THEN (zmax - zmin) / length * 100.0 ELSE 0.0 END AS slope_pct",
        )
    )
    e.unpersist()
    return out


def stream_nodes(cells: DataFrame, meta: GridMeta, threshold: float) -> DataFrame:
    """Channel-head / junction / outlet identification
    (stream_network_analysis/{find_main_stem,stream_junction...}.rs
    family): kind 1 = head (no stream inflow), 2 = junction (>= 2 stream
    inflows), 3 = outlet (no stream downstream). A cell can be both
    junction and outlet — kind reports the max code."""
    streams, e = _stream_edges(cells, meta, threshold)
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("n_in"))
    has_out = e.select(F.col("src").alias("id")).distinct() \
               .withColumn("__has_out", F.lit(1))
    out = (
        streams.join(indeg.withColumnRenamed("dst", "id"), "id", "left")
        .join(has_out, "id", "left")
        .selectExpr(
            "row", "col",
            "CAST(CASE WHEN __has_out IS NULL THEN 3 "
            "WHEN COALESCE(n_in, 0) >= 2 THEN 2 "
            "WHEN COALESCE(n_in, 0) = 0 THEN 1 ELSE 0 END AS INT) AS kind",
        )
        .where("kind > 0")
    )
    streams.unpersist()
    e.unpersist()
    return out


# ---------------------------------------------------------------------------
# Round-2 continuation: pointer-derived utilities + stream-relative metrics
# (hydro_analysis/{num_inflowing_neighbours,find_noflow_cells,fill_pits,
#  elevation_above_stream,downslope_distance_to_stream,sink,depth_in_sink}.rs)
# ---------------------------------------------------------------------------


def num_inflowing_neighbours(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """NumInflowingNeighbours: count of D8 neighbors whose pointer drains
    into each cell (0 where none). One pointer pass + one edge groupBy."""
    c = meta.columns
    ptr = d8_pointer(cells, meta)
    nodes = ptr.selectExpr(f"(row * {c}L + col) AS id", "row", "col")
    e = d8_edges(ptr).selectExpr(f"(drow * {c}L + dcol) AS dst")
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("n_in"))
    return nodes.join(indeg, nodes["id"] == indeg["dst"], "left").selectExpr(
        "row", "col", "CAST(COALESCE(n_in, 0) AS DOUBLE) AS value")


def find_noflow_cells(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """FindNoFlowCells: 1.0 where the D8 pointer is 0 (no downslope
    neighbor), else 0.0."""
    return d8_pointer(cells, meta).selectExpr(
        "row", "col",
        "CAST(CASE WHEN value = 0.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value")


def nbr_count_value_expr(op: str) -> str:
    """Portable count-of-neighbors expression over zn_0..zn_7/zc pivot
    columns; `op` is the elevation comparison ('<' downslope, '>'
    upslope). Same text builds the DuckDB oracle."""
    cnt = " + ".join(
        f"(CASE WHEN zn_{i} IS NOT NULL AND zn_{i} {op} zc THEN 1 ELSE 0 END)"
        for i in range(8))
    return f"CAST({cnt} AS DOUBLE)"


def num_downslope_neighbours(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """NumDownslopeNeighbours (
    terrain_analysis/num_downslope_neighbours.rs): count of the 8 neighbors strictly below the center elevation;
    out-of-grid neighbors are skipped. One pivot, pure codegen."""
    return focal_pivot3_raw(cells).selectExpr(
        "row", "col", f"{nbr_count_value_expr('<')} AS value")


def num_upslope_neighbours(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """NumUpslopeNeighbours (terrain_analysis/num_upslope_neighbours.rs):
    count of the 8 neighbors strictly above the center elevation."""
    return focal_pivot3_raw(cells).selectExpr(
        "row", "col", f"{nbr_count_value_expr('>')} AS value")


def elev_change_value_expr(meta: GridMeta, kind: str, duck: bool = False) -> str:
    """Slope-argmax neighbor scan over zn_0..zn_7 / zc pivot columns as a
    sequential fold (reference scan order, strict comparison keeps the
    FIRST optimum — matches the Rust loops). `kind`:
      max_down  — MaxDownslopeElevChange (terrain_analysis/
                  max_downslope_elev_change.rs): z-drop of the steepest
                  downslope neighbor, 0 where none.
      min_down  — MinDownslopeElevChange: z-drop of the gentlest
                  non-negative-slope neighbor (flat neighbors allowed).
      max_up    — MaxUpslopeElevChange: z-rise of the steepest upslope
                  neighbor, 0 where none.
    Portable SQL: same text runs on Spark (duck=False -> AGGREGATE /
    NAMED_STRUCT) and DuckDB (duck=True -> LIST_REDUCE / struct literal).
    The guarded CASE keeps every division total (ANSI-safe: lengths are
    nonzero literals)."""
    lengths = _grid_lengths(meta)
    elems = []
    for i in range(8):
        if kind == "max_down":
            valid = f"zn_{i} IS NOT NULL AND zn_{i} < zc"
            slope = f"(zc - zn_{i}) / {lengths[i]!r}"
            chg = f"zc - zn_{i}"
        elif kind == "min_down":
            valid = f"zn_{i} IS NOT NULL AND zn_{i} <= zc"
            slope = f"(zc - zn_{i}) / {lengths[i]!r}"
            chg = f"zc - zn_{i}"
        elif kind == "max_up":
            valid = f"zn_{i} IS NOT NULL AND zn_{i} > zc"
            slope = f"(zn_{i} - zc) / {lengths[i]!r}"
            chg = f"zn_{i} - zc"
        else:
            raise ValueError(kind)
        ms = f"CASE WHEN {valid} THEN {slope} ELSE NULL END"
        cg = f"CASE WHEN {valid} THEN {chg} ELSE 0.0 END"
        elems.append(f"{{'ms': {ms}, 'chg': {cg}}}" if duck
                     else f"NAMED_STRUCT('ms', {ms}, 'chg', {cg})")
    init_val = "'Infinity'" if kind == "min_down" else "'-Infinity'"
    cmp = "<" if kind == "min_down" else ">"
    cond = f"e.ms IS NOT NULL AND e.ms {cmp} acc.ms"
    if duck:
        init = (f"{{'ms': CAST({init_val} AS DOUBLE), "
                f"'chg': CAST(0.0 AS DOUBLE)}}")
        fold = (f"LIST_REDUCE(LIST_PREPEND({init}, [{', '.join(elems)}]), "
                f"(acc, e) -> CASE WHEN {cond} THEN e ELSE acc END)")
    else:
        init = (f"NAMED_STRUCT('ms', CAST({init_val} AS DOUBLE), "
                f"'chg', CAST(0.0 AS DOUBLE))")
        fold = (f"AGGREGATE(ARRAY({', '.join(elems)}), {init}, "
                f"(acc, e) -> IF({cond}, e, acc))")
    return f"({fold}).chg"


def max_downslope_elev_change(cells: DataFrame, meta: GridMeta) -> DataFrame:
    return focal_pivot3_raw(cells).selectExpr(
        "row", "col", f"{elev_change_value_expr(meta, 'max_down')} AS value")


def min_downslope_elev_change(cells: DataFrame, meta: GridMeta) -> DataFrame:
    return focal_pivot3_raw(cells).selectExpr(
        "row", "col", f"{elev_change_value_expr(meta, 'min_down')} AS value")


def max_upslope_elev_change(cells: DataFrame, meta: GridMeta) -> DataFrame:
    return focal_pivot3_raw(cells).selectExpr(
        "row", "col", f"{elev_change_value_expr(meta, 'max_up')} AS value")


def fill_pits(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """FillPits (hydro_analysis/fill_pits.rs:216-234): single-cell pits
    (no valid neighbor strictly below z) are raised to the minimum
    neighbor elevation + 0.0001; everything else passes through.

    Intentional deviation at edges/nodata: fill_pits.rs updates min_zn
    without a nodata guard, so a pit adjacent to nodata is raised to
    nodata + 0.0001 (a sentinel-poisoned elevation); this implementation
    uses the minimum VALID neighbor instead, which is the physically
    meaningful fill height. Interior pits on nodata-free rasters are
    bit-identical to the reference."""
    piv = focal_pivot3_raw(cells)
    no_lower = " AND ".join(f"COALESCE(zn_{i} >= zc, TRUE)" for i in range(8))
    min_n = "LEAST(" + ", ".join(
        f"COALESCE(zn_{i}, CAST('Infinity' AS DOUBLE))" for i in range(8)) + ")"
    has_n = "(" + " OR ".join(f"zn_{i} IS NOT NULL" for i in range(8)) + ")"
    return piv.selectExpr(
        "row", "col",
        f"CASE WHEN ({no_lower}) AND {has_n} THEN {min_n} + 0.0001 "
        f"ELSE zc END AS value")


def _walk_to_stream(cells: DataFrame, meta: GridMeta, threshold: float,
                    max_doublings: int = 24) -> DataFrame:
    """Pointer-jumping walk where stream cells (accum >= threshold) are
    ABSORBING: per cell returns (id, row, col, term, n_row, n_col,
    n_diag, is_stream) — term is the first stream cell on the D8 path
    (or the path's terminal when no stream is reached), step counts are
    exact integers (vertical / horizontal / diagonal hops), so distances
    derived from them are bit-reproducible in any combination order."""
    c = meta.columns
    ptr = d8_pointer(cells, meta).persist()
    accum = d8_flow_accumulation_tiled(cells, meta)
    streams = accum.where(f"value >= {threshold!r}") \
                   .selectExpr(f"(row * {c}L + col) AS sid")
    e = d8_edges(ptr).selectExpr(
        f"(row * {c}L + col) AS id",
        f"(drow * {c}L + dcol) AS nxt",
        "CAST(CASE WHEN drow <> row AND dcol <> col THEN 1 ELSE 0 END AS LONG) AS sd",
        "CAST(CASE WHEN drow <> row AND dcol = col THEN 1 ELSE 0 END AS LONG) AS sr",
        "CAST(CASE WHEN drow = row AND dcol <> col THEN 1 ELSE 0 END AS LONG) AS sc",
    )
    # stream cells are absorbing: drop their outgoing edges
    e = e.join(streams.selectExpr("sid AS id"), "id", "left_anti")
    nodes = ptr.selectExpr(f"(row * {c}L + col) AS id", "row", "col")
    state = nodes.join(e, "id", "left").selectExpr(
        "id", "row", "col", "COALESCE(nxt, id) AS cur",
        "COALESCE(sr, 0L) AS nr", "COALESCE(sc, 0L) AS nc",
        "COALESCE(sd, 0L) AS nd",
    )
    state = fixpoint(state, lambda s: _jump_with_steps(s, "cur"), "cur <> __prev",
                     "_walk_to_stream doubling", max_doublings)
    out = state.join(streams.selectExpr("sid AS cur", "1 AS __term_stream"),
                     "cur", "left") \
               .join(streams.selectExpr("sid AS id", "1 AS __self_stream"),
                     "id", "left") \
               .selectExpr(
                   "id", "row", "col", "cur AS term", "nr", "nc", "nd",
                   "COALESCE(__self_stream, 0) = 1 AS is_stream",
                   "COALESCE(__term_stream, 0) = 1 AS reaches_stream")
    ptr.unpersist()
    return out


def elevation_above_stream(cells: DataFrame, meta: GridMeta,
                           threshold: float) -> DataFrame:
    """ElevationAboveStream / HAND (
    hydro_analysis/elevation_above_stream.rs, Renno 2008): z - z(first stream cell on the D8 flow path);
    stream cells are 0; cells whose path never reaches a stream emit no
    row (the reference assigns nodata)."""
    c = meta.columns
    walk = _walk_to_stream(cells, meta, threshold)
    z = cells.selectExpr(f"(row * {c}L + col) AS zid", "value AS z")
    out = (
        walk.where("is_stream OR reaches_stream")
        .join(z, F.col("id") == F.col("zid"))
        .join(z.selectExpr("zid AS tid", "z AS tz"), F.col("term") == F.col("tid"))
        .selectExpr("row", "col",
                    "CASE WHEN is_stream THEN 0.0 ELSE z - tz END AS value")
    )
    return out


def downslope_distance_to_stream(cells: DataFrame, meta: GridMeta,
                                 threshold: float) -> DataFrame:
    """DownslopeDistanceToStream: map-unit distance along the D8 path to
    the first stream cell; stream cells are 0. Distance is computed ONCE
    from the exact integer step counts (n_vert * res_y + n_horiz * res_x
    + n_diag * diag) — bit-reproducible and oracle-portable."""
    walk = _walk_to_stream(cells, meta, threshold)
    return (
        walk.where("is_stream OR reaches_stream")
        .selectExpr(
            "row", "col",
            f"CAST(CASE WHEN is_stream THEN 0.0 ELSE "
            f"{_len_expr(meta)} END AS DOUBLE) AS value")
    )


def sink(cells: DataFrame, meta: GridMeta, max_rounds: int = 128) -> DataFrame:
    """Sink (hydro_analysis/sink.rs): FillDepressions, then Clump over
    the modified cells — each depression gets a unique positive id
    (numbered by row-major representative like clump)."""
    from .clump import clump

    filled = fill_depressions(cells, meta, max_rounds=max_rounds)
    orig = cells.selectExpr("row", "col", "value AS z0")
    modified = filled.join(orig, ["row", "col"]).where("value > z0") \
                     .selectExpr("row", "col", "1.0 AS value")
    return clump(modified, columns=meta.columns, diag=True)


def depth_in_sink(cells: DataFrame, meta: GridMeta,
                  max_rounds: int = 128) -> DataFrame:
    """DepthInSink: filled - original elevation inside depressions, 0
    elsewhere."""
    filled = fill_depressions(cells, meta, max_rounds=max_rounds)
    orig = cells.selectExpr("row", "col", "value AS z0")
    return filled.join(orig, ["row", "col"]).selectExpr(
        "row", "col", "value - z0 AS value")


# ---------------------------------------------------------------------------
# Round-2 continuation: stream-network long tail
# (stream_network_analysis/{dist_to_outlet,farthest_channel_head,
#  tributary_id,topological_stream_order,stream_link_class,
#  remove_short_streams,total_length_channels,hack_order,horton_order}.rs)
#
# Shared machinery: an exact-path closure over the stream->stream D8
# edges carrying integer step counters (vertical / horizontal / diagonal
# hops + link transitions). The D8 graph is a tree, so every (src, dst)
# path is unique and the counters are well-defined; distances multiply
# ONCE at the end (bit-reproducible in any combination order, matching
# the DuckDB oracles). Scale note: stream cells are a few percent of the
# DEM and the closure is bounded by cells x network depth; for
# continental networks contract chains to the link graph first
# (_labeled_links) and run the same closure on links.
# ---------------------------------------------------------------------------


def _stream_closure(streams: DataFrame, e: DataFrame, meta: GridMeta,
                    max_doublings: int = 24):
    """Over _stream_edges' graph (stream cells `streams` with an `id`
    column, stream->stream edges `e`), returns (closure, e2): closure =
    (src, dst, nr, nc, nd, nb) for every stream cell pair on a directed
    path (self rows included with zero counts); nb counts edges entering
    junction-fed cells (= link transitions). e2 = annotated stream
    edges, pinned."""
    c = meta.columns
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("n_in"))
    e2 = e.join(indeg, "dst").selectExpr(
        "src", "dst",
        f"CAST(CASE WHEN (src DIV {c}) <> (dst DIV {c}) AND (src % {c}) <> (dst % {c}) "
        f"THEN 1 ELSE 0 END AS LONG) AS nd",
        f"CAST(CASE WHEN (src DIV {c}) <> (dst DIV {c}) AND (src % {c}) = (dst % {c}) "
        f"THEN 1 ELSE 0 END AS LONG) AS nr",
        f"CAST(CASE WHEN (src DIV {c}) = (dst DIV {c}) THEN 1 ELSE 0 END AS LONG) AS nc",
        "CAST(CASE WHEN n_in >= 2 THEN 1 ELSE 0 END AS LONG) AS nb",
    ).persist()
    reach = closure(
        streams.selectExpr("id AS src", "id AS dst", "0L AS nr", "0L AS nc",
                           "0L AS nd", "0L AS nb").unionByName(e2),
        "_stream_closure doubling", max_doublings, sums=("nr", "nc", "nd", "nb"))
    return reach, e2


def _len_expr(meta: GridMeta, nr="nr", nc="nc", nd="nd") -> str:
    """Exact path length from integer step counts, computed in IEEE
    DOUBLE throughout (counts cast before multiplying). DECIMAL
    arithmetic is NOT portable here: Spark reduces the scale (rounding)
    on precision overflow while DuckDB promotes to double."""
    diag = math.sqrt(meta.resolution_x ** 2 + meta.resolution_y ** 2)

    def dlit(v: float) -> str:
        # scientific notation parses as DOUBLE on both engines; a bare
        # 17-digit literal becomes DECIMAL(17,15) whose integer
        # representation exceeds 2^53 and converts to double LOSSILY
        s = repr(v)
        return s if "e" in s or "E" in s else s + "e0"

    return (f"(CAST({nr} AS DOUBLE) * {dlit(meta.resolution_y)} "
            f"+ CAST({nc} AS DOUBLE) * {dlit(meta.resolution_x)} "
            f"+ CAST({nd} AS DOUBLE) * {dlit(diag)})")


def distance_to_outlet(cells: DataFrame, meta: GridMeta,
                       threshold: float) -> DataFrame:
    """DistanceToOutlet: along-stream distance from each stream cell to
    its network outlet (outlets are 0)."""
    streams, e = _stream_edges(cells, meta, threshold)
    reach, e2 = _stream_closure(streams, e, meta)
    terminals = streams.join(e2.select(F.col("src").alias("id")).distinct(),
                             "id", "left_anti").selectExpr("id AS t")
    hit = reach.join(terminals, reach["dst"] == F.col("t"))
    out = hit.join(streams.withColumnRenamed("id", "src"), "src").selectExpr(
        "row", "col", f"{_len_expr(meta)} AS value")
    e2.unpersist()
    streams.unpersist()
    return out


def length_of_upstream_channels(cells: DataFrame, meta: GridMeta,
                                threshold: float) -> DataFrame:
    """LengthOfUpstreamChannels
    (stream_network_analysis/total_length_channels.rs, the per-cell
    tool the reference exports from that module): each stream cell gets
    the summed length of every channel edge upstream of it — i.e. for
    every stream cell s with a directed stream path s -> c (self
    included), the length of s's outgoing stream->stream edge. Outlet
    cells contribute no own edge (the reference only increments when
    the pointer is non-zero).

    Plan: per-src outgoing-edge step-type counts (each D8 cell has at
    most one out-edge) joined onto the exact-step closure, summed per
    dst; the length expression is applied once to the summed integer
    counts so both engines agree bit-exactly."""
    streams, e = _stream_edges(cells, meta, threshold)
    reach, e2 = _stream_closure(streams, e, meta)
    own = e2.selectExpr("src AS oid", "nr AS o_nr", "nc AS o_nc", "nd AS o_nd")
    agg = (
        reach.join(own, reach["src"] == F.col("oid"))
        .groupBy("dst")
        .agg(F.sum("o_nr").alias("snr"), F.sum("o_nc").alias("snc"),
             F.sum("o_nd").alias("snd"))
    )
    out = agg.join(streams.withColumnRenamed("id", "dst"), "dst", "right").selectExpr(
        "row", "col",
        f"{_len_expr(meta, 'COALESCE(snr, 0L)', 'COALESCE(snc, 0L)', 'COALESCE(snd, 0L)')} AS value")
    e2.unpersist()
    streams.unpersist()
    return out


def farthest_channel_head(cells: DataFrame, meta: GridMeta,
                          threshold: float) -> DataFrame:
    """FarthestChannelHead: for each stream cell, the maximum along-
    stream distance from any upstream channel head (heads report 0).
    Ties on exact distance resolve to the smaller head id."""
    streams, e = _stream_edges(cells, meta, threshold)
    reach, e2 = _stream_closure(streams, e, meta)
    heads = streams.join(e2.select(F.col("dst").alias("id")).distinct(),
                         "id", "left_anti").selectExpr("id AS h")
    hr = reach.join(heads, reach["src"] == F.col("h"))
    agg = hr.groupBy("dst").agg(
        F.expr(f"MAX_BY(STRUCT(nr, nc, nd), "
               f"STRUCT({_len_expr(meta)} AS l, -src AS s))").alias("b"))
    out = agg.join(streams.withColumnRenamed("id", "dst"), "dst").selectExpr(
        "row", "col", f"{_len_expr(meta, 'b.nr', 'b.nc', 'b.nd')} AS value")
    e2.unpersist()
    streams.unpersist()
    return out


def tributary_id(cells: DataFrame, meta: GridMeta, threshold: float) -> DataFrame:
    """TributaryIdentifier: every stream cell takes the id of the
    farthest upstream channel head (the main-stem rule: at a junction
    the longer tributary continues; exact-length ties resolve to the
    smaller head id), dense-ranked to 1..N."""
    from ..plans.rank import dense_rank_small

    streams, e = _stream_edges(cells, meta, threshold)
    reach, e2 = _stream_closure(streams, e, meta)
    heads = streams.join(e2.select(F.col("dst").alias("id")).distinct(),
                         "id", "left_anti").selectExpr("id AS h")
    hr = reach.join(heads, reach["src"] == F.col("h"))
    agg = hr.groupBy("dst").agg(
        F.expr(f"MIN_BY(src, STRUCT(-({_len_expr(meta)}) AS l, src AS s))").alias("head"))
    reps = dense_rank_small(agg, "head", "trib_id")
    out = agg.join(reps, "head").join(streams.withColumnRenamed("id", "dst"), "dst") \
             .selectExpr("row", "col", "CAST(trib_id AS DOUBLE) AS value")
    e2.unpersist()
    streams.unpersist()
    return out


def topological_stream_order(cells: DataFrame, meta: GridMeta,
                             threshold: float) -> DataFrame:
    """TopologicalStreamOrder: the link draining to the outlet is 1 and
    the order grows toward the heads — per cell, 1 + the number of link
    transitions (edges entering junction-fed cells) on its downstream
    path."""
    streams, e = _stream_edges(cells, meta, threshold)
    reach, e2 = _stream_closure(streams, e, meta)
    terminals = streams.join(e2.select(F.col("src").alias("id")).distinct(),
                             "id", "left_anti").selectExpr("id AS t")
    hit = reach.join(terminals, reach["dst"] == F.col("t"))
    out = hit.join(streams.withColumnRenamed("id", "src"), "src").selectExpr(
        "row", "col", "CAST(1 + nb AS DOUBLE) AS value")
    e2.unpersist()
    streams.unpersist()
    return out


def total_length_channels(cells: DataFrame, meta: GridMeta,
                          threshold: float) -> DataFrame:
    """TotalLengthOfChannels: one scalar row — the summed length of all
    stream->stream edges (exact step counts x grid constants)."""
    _, streams, e2 = (None, *_stream_edges(cells, meta, threshold))
    c = meta.columns
    ann = e2.selectExpr(
        f"CAST(CASE WHEN (src DIV {c}) <> (dst DIV {c}) AND (src % {c}) <> (dst % {c}) "
        f"THEN 1 ELSE 0 END AS LONG) AS nd",
        f"CAST(CASE WHEN (src DIV {c}) <> (dst DIV {c}) AND (src % {c}) = (dst % {c}) "
        f"THEN 1 ELSE 0 END AS LONG) AS nr",
        f"CAST(CASE WHEN (src DIV {c}) = (dst DIV {c}) THEN 1 ELSE 0 END AS LONG) AS nc",
    )
    agg = ann.agg(F.sum("nr").alias("nr"), F.sum("nc").alias("nc"),
                  F.sum("nd").alias("nd"))
    out = agg.selectExpr(f"{_len_expr(meta)} AS total_length")
    streams.unpersist()
    e2.unpersist()
    return out


def stream_link_class(cells: DataFrame, meta: GridMeta,
                      threshold: float) -> DataFrame:
    """StreamLinkClass (stream_network_analysis/stream_link_class.rs
    codes): 3 = source (head) cell, 4 = junction cell, 5 = outlet cell,
    1 = other cell of an exterior (head-containing) link, 2 = other cell
    of an interior link. Node codes take precedence (5 > 4 > 3)."""
    streams, e = _stream_edges(cells, meta, threshold)
    lbl = _labeled_links(streams, e)
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("n_in"))
    has_out = e.select(F.col("src").alias("id")).distinct() \
               .withColumn("__has_out", F.lit(1))
    node = (
        lbl.join(indeg.withColumnRenamed("dst", "id"), "id", "left")
        .join(has_out, "id", "left")
        .selectExpr(
            "row", "col", "lbl",
            "CASE WHEN __has_out IS NULL THEN 5 "
            "WHEN COALESCE(n_in, 0) >= 2 THEN 4 "
            "WHEN COALESCE(n_in, 0) = 0 THEN 3 ELSE 0 END AS node_kind")
    )
    ext = node.where("node_kind = 3").select(F.col("lbl").alias("xl")).distinct()
    return (
        node.join(ext, node["lbl"] == F.col("xl"), "left")
        .selectExpr(
            "row", "col",
            "CAST(CASE WHEN node_kind > 0 THEN node_kind "
            "WHEN xl IS NOT NULL THEN 1 ELSE 2 END AS DOUBLE) AS value")
    )


def remove_short_streams(cells: DataFrame, meta: GridMeta, threshold: float,
                         min_length: float) -> DataFrame:
    """RemoveShortStreams: drop exterior (head-containing) links whose
    along-link length is below min_length; remaining stream cells emit
    1.0."""
    c = meta.columns
    streams, e = _stream_edges(cells, meta, threshold)
    lbl = _labeled_links(streams, e)
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("n_in"))
    heads = lbl.join(indeg.withColumnRenamed("dst", "id"), "id", "left") \
               .where("COALESCE(n_in, 0) = 0").select("id")
    ext = lbl.join(heads, "id", "leftsemi").select(F.col("lbl").alias("xl")).distinct()
    in_link = (
        e.join(lbl.selectExpr("id AS src", "lbl AS src_l"), "src")
        .join(lbl.selectExpr("id AS dst", "lbl AS dst_l"), "dst")
        .where("src_l = dst_l")
        .selectExpr(
            "src_l AS lbl",
            f"CAST(CASE WHEN (src DIV {c}) <> (dst DIV {c}) AND (src % {c}) <> (dst % {c}) "
            f"THEN 1 ELSE 0 END AS LONG) AS nd",
            f"CAST(CASE WHEN (src DIV {c}) <> (dst DIV {c}) AND (src % {c}) = (dst % {c}) "
            f"THEN 1 ELSE 0 END AS LONG) AS nr",
            f"CAST(CASE WHEN (src DIV {c}) = (dst DIV {c}) THEN 1 ELSE 0 END AS LONG) AS nc",
        )
    )
    lengths = in_link.groupBy("lbl").agg(
        F.sum("nr").alias("nr"), F.sum("nc").alias("nc"), F.sum("nd").alias("nd"))
    short_ext = lengths.join(ext, lengths["lbl"] == F.col("xl")) \
                       .where(f"{_len_expr(meta)} < {min_length!r}") \
                       .select("lbl")
    # exterior links with NO in-link edge (single-cell links) are shorter
    # than any positive min_length too
    lonely = ext.join(lengths, lengths["lbl"] == ext["xl"], "left_anti") \
                .selectExpr("xl AS lbl")
    drop = short_ext.unionByName(lonely)
    out = lbl.join(drop, "lbl", "left_anti").selectExpr("row", "col", "1.0 AS value")
    e.unpersist()
    return out


def hack_order(cells: DataFrame, meta: GridMeta, threshold: float,
               max_rounds: int = 64) -> DataFrame:
    """HackStreamOrder (stream_network_analysis/hack_order.rs:404-407
    main-stem rule: the inflow with the greatest upstream channel length
    continues the parent's order; exact-length ties resolve to the
    smaller link label): outlet links are 1, each side tributary
    increments. Link-DAG top-down propagation; rounds = link depth."""
    streams, e = _stream_edges(cells, meta, threshold)
    lbl = _labeled_links(streams, e)
    reach, e2 = _stream_closure(lbl, e, meta)
    # upstream channel length per cell = farthest head distance
    heads = lbl.join(e2.select(F.col("dst").alias("id")).distinct(),
                     "id", "left_anti").selectExpr("id AS h")
    hr = reach.join(heads, reach["src"] == F.col("h"))
    upl = hr.groupBy("dst").agg(
        F.expr(f"MAX({_len_expr(meta)})").alias("up_len")).withColumnRenamed("dst", "id")
    # link-level DAG + per-link upstream length (at the link's bottom cell)
    le = (
        e2.join(lbl.selectExpr("id AS src", "lbl AS src_l"), "src")
        .join(lbl.selectExpr("id AS dst", "lbl AS dst_l"), "dst")
        .where("src_l <> dst_l")
        .selectExpr("src_l AS src", "dst_l AS dst", "src AS src_cell")
        .join(upl.selectExpr("id AS src_cell", "COALESCE(up_len, 0.0) AS up_len"),
              "src_cell", "left")
        .groupBy("src", "dst").agg(F.max("up_len").alias("up_len"))
        .persist()
    )
    links = lbl.select(F.col("lbl").alias("id")).distinct()
    roots = links.join(le.select(F.col("src").alias("id")).distinct(),
                       "id", "left_anti").selectExpr("id", "1 AS ord")
    resolved = roots.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        # main-stem inflow per resolved parent inherits; others = parent + 1
        cand = le.join(resolved.selectExpr("id AS dst", "ord AS p_ord"), "dst")
        main = cand.groupBy("dst").agg(
            F.expr("MIN_BY(src, STRUCT(-COALESCE(up_len, 0.0) AS l, src AS s))")
            .alias("main_src"))
        nxt = cand.join(main, "dst").selectExpr(
            "src AS id",
            "CASE WHEN src = main_src THEN p_ord ELSE p_ord + 1 END AS ord")
        new = nxt.join(resolved.select("id"), "id", "left_anti") \
                 .groupBy("id").agg(F.min("ord").alias("ord"))
        if new.count() == 0:
            break
        resolved = resolved.unionByName(new).localCheckpoint(eager=True)
    else:
        ensure_converged(1, "hack_order link propagation", max_rounds)
    out = lbl.join(resolved.withColumnRenamed("id", "lbl"), "lbl") \
             .selectExpr("row", "col", "CAST(ord AS DOUBLE) AS value")
    le.unpersist()
    e2.unpersist()
    e.unpersist()
    return out


def horton_order(cells: DataFrame, meta: GridMeta, threshold: float,
                 max_rounds: int = 64) -> DataFrame:
    """HortonStreamOrder: each link takes the Strahler order its stream
    ends with — top-down from the outlet, the inflow whose Strahler
    order equals the parent's inherits the parent's Horton order (ties
    on order resolve by greater upstream length then smaller label);
    all other inflows start a new stream with their own Strahler
    order."""
    streams, e = _stream_edges(cells, meta, threshold)
    lbl = _labeled_links(streams, e)
    # Strahler order is constant along a link
    str_lbl = _strahler_links(lbl, e, max_rounds).selectExpr(
        "id AS lbl", "CAST(ord AS DOUBLE) AS str_ord")
    reach, e2 = _stream_closure(lbl, e, meta)
    heads = lbl.join(e2.select(F.col("dst").alias("id")).distinct(),
                     "id", "left_anti").selectExpr("id AS h")
    upl = reach.join(heads, reach["src"] == F.col("h")).groupBy("dst").agg(
        F.expr(f"MAX({_len_expr(meta)})").alias("up_len")).withColumnRenamed("dst", "id")
    le = (
        e2.join(lbl.selectExpr("id AS src", "lbl AS src_l"), "src")
        .join(lbl.selectExpr("id AS dst", "lbl AS dst_l"), "dst")
        .where("src_l <> dst_l")
        .selectExpr("src_l AS src", "dst_l AS dst", "src AS src_cell")
        .join(upl.selectExpr("id AS src_cell", "COALESCE(up_len, 0.0) AS up_len"),
              "src_cell", "left")
        .groupBy("src", "dst").agg(F.max("up_len").alias("up_len"))
        .persist()
    )
    links = lbl.select(F.col("lbl").alias("id")).distinct().join(str_lbl.withColumnRenamed("lbl", "id"), "id")
    roots = links.join(le.select(F.col("src").alias("id")).distinct(),
                       "id", "left_anti").selectExpr("id", "str_ord AS ord")
    resolved = roots.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        cand = (
            le.join(resolved.selectExpr("id AS dst", "ord AS p_ord"), "dst")
            .join(links.selectExpr("id AS src", "str_ord AS src_str"), "src")
            .join(links.selectExpr("id AS dst", "str_ord AS dst_str"), "dst")
        )
        main = cand.where("src_str = dst_str").groupBy("dst").agg(
            F.expr("MIN_BY(src, STRUCT(-COALESCE(up_len, 0.0) AS l, src AS s))")
            .alias("main_src"))
        nxt = cand.join(main, "dst", "left").selectExpr(
            "src AS id",
            "CASE WHEN main_src IS NOT NULL AND src = main_src "
            "THEN p_ord ELSE src_str END AS ord")
        new = nxt.join(resolved.select("id"), "id", "left_anti") \
                 .groupBy("id").agg(F.max("ord").alias("ord"))
        if new.count() == 0:
            break
        resolved = resolved.unionByName(new).localCheckpoint(eager=True)
    else:
        ensure_converged(1, "horton_order link propagation", max_rounds)
    out = lbl.join(resolved.withColumnRenamed("id", "lbl"), "lbl") \
             .selectExpr("row", "col", "CAST(ord AS DOUBLE) AS value")
    le.unpersist()
    e2.unpersist()
    e.unpersist()
    return out


def stream_power_index(cells: DataFrame, meta: GridMeta,
                       exponent: float = 1.0) -> DataFrame:
    """StreamPowerIndex: ln(SCA^p * tan(beta)); SCA and the Florinsky
    slope gradient share the wetness_index machinery. LN/POWER are
    libm-dependent -> rows-only + pytest."""
    from .focal import focal_pivot5, _florinsky_pq

    res = (meta.resolution_x + meta.resolution_y) / 2.0
    p, q = _florinsky_pq(res)
    accum = d8_flow_accumulation_tiled(cells, meta)
    sca = accum.selectExpr(
        "row", "col",
        f"value * {meta.resolution_x * meta.resolution_y!r} / {res!r} AS sca")
    slope_tan = focal_pivot5(cells).selectExpr(
        "row", "col", f"GREATEST(SQRT({p} * {p} + {q} * {q}), 0.001) AS tanb")
    return sca.join(slope_tan, ["row", "col"]).selectExpr(
        "row", "col", f"LN(POWER(sca, {exponent!r}) * tanb) AS value")


def sediment_transport_index(cells: DataFrame, meta: GridMeta,
                             sca_exponent: float = 0.4,
                             slope_exponent: float = 1.3) -> DataFrame:
    """SedimentTransportIndex (
    terrain_analysis/sediment_transport_index.rs:30): (n+1) * (SCA/22.13)^n * (sin(beta)/0.0896)^m with
    sin(beta) = tan/sqrt(1 + tan^2). POWER is libm-dependent ->
    rows-only + pytest."""
    from .focal import focal_pivot5, _florinsky_pq

    res = (meta.resolution_x + meta.resolution_y) / 2.0
    p, q = _florinsky_pq(res)
    accum = d8_flow_accumulation_tiled(cells, meta)
    sca = accum.selectExpr(
        "row", "col",
        f"value * {meta.resolution_x * meta.resolution_y!r} / {res!r} AS sca")
    tanb = f"SQRT({p} * {p} + {q} * {q})"
    slope_sin = focal_pivot5(cells).selectExpr(
        "row", "col", f"({tanb}) / SQRT(1.0 + ({tanb}) * ({tanb})) AS sinb")
    n, m = sca_exponent, slope_exponent
    return sca.join(slope_sin, ["row", "col"]).selectExpr(
        "row", "col",
        f"({n + 1.0!r}) * POWER(sca / 22.13, {n!r}) "
        f"* POWER(sinb / 0.0896, {m!r}) AS value")


def long_profile(cells: DataFrame, meta: GridMeta, threshold: float) -> DataFrame:
    """LongProfile (stream_network_analysis/long_profile.rs semantics):
    per stream cell, the along-stream distance to the outlet paired with
    its elevation — the (distance, z) long-profile plot table."""
    c = meta.columns
    d = distance_to_outlet(cells, meta, threshold)
    z = cells.selectExpr("row", "col", "value AS z")
    return d.join(z, ["row", "col"]).selectExpr(
        "row", "col", "value AS dist_to_outlet", "z")


def subbasins(cells: DataFrame, meta: GridMeta, threshold: float) -> DataFrame:
    """Subbasins (hydro_analysis/subbasins.rs semantics): every cell is
    labeled with the stream LINK its flow path first reaches (stream
    cells take their own link). Link ids numbered like stream_link_id;
    cells that never reach a stream emit no row."""
    from ..plans.rank import dense_rank_small

    c = meta.columns
    walk = _walk_to_stream(cells, meta, threshold)
    streams, e = _stream_edges(cells, meta, threshold)
    lbl = _labeled_links(streams, e)
    reps = dense_rank_small(lbl, "lbl", "link_id")
    link_of = lbl.join(reps, "lbl").selectExpr("id AS term", "link_id")
    out = (
        walk.where("is_stream OR reaches_stream")
        .selectExpr("row", "col", "CASE WHEN is_stream THEN id ELSE term END AS term")
        .join(link_of, "term")
        .selectExpr("row", "col", "CAST(link_id AS DOUBLE) AS value")
    )
    e.unpersist()
    return out


def hillslopes(cells: DataFrame, meta: GridMeta, threshold: float) -> DataFrame:
    """Hillslopes (hydro_analysis/hillslopes.rs semantics): subbasins
    split by bank side. Stream cells are 0; every other cell gets
    link_id * 3 + bank, where bank is derived from the D8 direction its
    flowpath ENTERS the stream relative to the stream cell's own flow
    direction: (d_in - d_out) mod 8 in {1,2,3} -> right bank (+1), in
    {5,6,7} -> left bank (+2), else head-on (+0). Cells entering a
    stream terminal (no outflow) use bank 0.

    Plan: pointer-jumping on edges with BOTH endpoints off-stream (the
    terminal is then the LAST off-stream cell), one join to read that
    terminal's pointer edge into the stream, and one link-label lookup.

    Intentional deviation: the reference additionally clumps each bank
    into CONTIGUOUS regions with globally unique ids (blocking diagonal
    clumping across streams), so two disjoint regions on the same bank
    of a link get distinct ids there but share link_id*3+bank here.
    The (link, bank) classification itself matches; only
    contiguity-uniqueness of region ids is not reproduced. Compose with
    operators.clump.clump over the bank labels if unique region ids are
    required."""
    from ..plans.rank import dense_rank_small

    c = meta.columns
    ptr = d8_pointer(cells, meta).persist()
    streams, e = _stream_edges(cells, meta, threshold)
    lbl = _labeled_links(streams, e)
    e.unpersist()
    streams = lbl.selectExpr("id AS sid")
    e_all = d8_edges(ptr).selectExpr(
        f"(row * {c}L + col) AS id", f"(drow * {c}L + dcol) AS nxt")
    # walk graph: both endpoints off-stream
    e_ns = e_all.join(streams.selectExpr("sid AS id"), "id", "left_anti") \
                .join(streams.selectExpr("sid AS nxt"), "nxt", "left_anti")
    nodes = ptr.selectExpr(f"(row * {c}L + col) AS id", "row", "col")
    state = nodes.join(streams.selectExpr("sid AS id"), "id", "left_anti") \
                 .join(e_ns, "id", "left") \
                 .selectExpr("id", "row", "col", "COALESCE(nxt, id) AS cur")

    def jump(state):
        hop = state.selectExpr("id AS j_id", "cur AS j_cur")
        return state.join(hop, state["cur"] == hop["j_id"], "left").selectExpr(
            "id", "row", "col", "cur AS __prev", "COALESCE(j_cur, cur) AS cur")

    state = fixpoint(state, jump, "cur <> __prev", "hillslopes pointer jumping", 24)
    # terminal's own pointer edge: does it enter a stream cell, and how?
    dir_expr = "CAST(LOG2(value) AS INT)"
    term_edge = ptr.where("value > 0").selectExpr(
        f"(row * {c}L + col) AS t_id", f"{dir_expr} AS d_in",
        f"((row + CAST(ELEMENT_AT(ARRAY({', '.join(str(v) for v in D8_DY)}), {dir_expr} + 1) AS BIGINT)) * {c}L "
        f"+ (col + CAST(ELEMENT_AT(ARRAY({', '.join(str(v) for v in D8_DX)}), {dir_expr} + 1) AS BIGINT))) AS s_id",
    ).join(streams.selectExpr("sid AS s_id"), "s_id", "leftsemi")
    s_dir = ptr.selectExpr(f"(row * {c}L + col) AS s_id",
                           f"CASE WHEN value > 0 THEN {dir_expr} ELSE -1 END AS d_out") \
               .join(streams.selectExpr("sid AS s_id"), "s_id", "leftsemi")
    reps = dense_rank_small(lbl, "lbl", "link_id")
    link_of = lbl.join(reps, "lbl").selectExpr("id AS s_id", "link_id")
    hs = (
        state.join(term_edge, state["cur"] == term_edge["t_id"])
        .join(s_dir, "s_id").join(link_of, "s_id")
        .selectExpr(
            "row", "col",
            "CAST(link_id * 3 + CASE WHEN d_out < 0 THEN 0 "
            "WHEN PMOD(d_in - d_out, 8) IN (1, 2, 3) THEN 1 "
            "WHEN PMOD(d_in - d_out, 8) IN (5, 6, 7) THEN 2 "
            "ELSE 0 END AS DOUBLE) AS value")
    )
    zeros = lbl.selectExpr("row", "col", "0.0 AS value")
    out = hs.unionByName(zeros)
    ptr.unpersist()
    return out


def fd8_pointer(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """FD8Pointer (hydro_analysis/fd8_pointer.rs): the SUM of the D8
    codes (2^i) of every strictly-downslope neighbor — the
    multiple-flow-direction pointer."""
    piv = focal_pivot3_raw(cells)
    terms = " + ".join(
        f"CASE WHEN zn_{i} IS NOT NULL AND zn_{i} < zc THEN {1 << i} ELSE 0 END"
        for i in range(8))
    return piv.selectExpr("row", "col", f"CAST({terms} AS DOUBLE) AS value")


def find_parallel_flow(cells: DataFrame, meta: GridMeta,
                       threshold: float) -> DataFrame:
    """FindParallelFlow (hydro_analysis/find_parallel_flow.rs
    semantics): stream cells whose flow direction equals that of an
    adjacent PARALLEL stream cell (a neighbor that is neither its
    upstream source nor its downstream target) — 1.0 flagged, 0.0
    other stream cells."""
    c = meta.columns
    ptr = d8_pointer(cells, meta).persist()
    accum = d8_flow_accumulation_tiled(cells, meta)
    streams = accum.where(f"value >= {threshold!r}") \
                   .selectExpr("row", "col", "1 AS __s")
    sp = ptr.join(streams, ["row", "col"], "leftsemi") \
            .selectExpr("row", "col", "CAST(value AS BIGINT) AS code") \
            .where("code > 0")
    # neighbors with identical code, excluding the up/downstream axis:
    # for direction i the flow axis neighbors are +/- (dy_i, dx_i)
    pairs = []
    for i in range(8):
        dy, dx = D8_DY[i], D8_DX[i]
        for ny in (-1, 0, 1):
            for nx in (-1, 0, 1):
                if (ny, nx) in ((0, 0), (dy, dx), (-dy, -dx)):
                    continue
                pairs.append(
                    f"STRUCT({1 << i}L AS c, {ny}L AS dr, {nx}L AS dc)")
    nb = sp.withColumn("__n", F.expr(f"EXPLODE(ARRAY({', '.join(pairs)}))")) \
           .where("__n.c = code") \
           .selectExpr("row + __n.dr AS nrow", "col + __n.dc AS ncol",
                       "code AS ncode", "row AS orow", "col AS ocol")
    hit = nb.join(
        sp.selectExpr("row AS nrow", "col AS ncol", "code AS ncode"),
        ["nrow", "ncol", "ncode"], "inner",
    ).selectExpr("orow AS row", "ocol AS col").distinct().withColumn("__hit", F.lit(1))
    out = sp.join(hit, ["row", "col"], "left").selectExpr(
        "row", "col",
        "CAST(CASE WHEN __hit IS NOT NULL THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value")
    ptr.unpersist()
    return out


def _full_closure_with_steps(cells: DataFrame, meta: GridMeta,
                             max_doublings: int = 24):
    """Exact-path closure (src, dst, nr, nc, nd) over ALL D8 edges.
    Gate-scale plan (closure size = cells x path length); at continental
    scale contract per-tile first (d8_flow_accumulation_tiled pattern)
    and close the coarse exit graph only."""
    c = meta.columns
    ptr = d8_pointer(cells, meta)
    nodes = ptr.selectExpr(f"(row * {c}L + col) AS id", "row", "col").persist()
    e = d8_edges(ptr).selectExpr(
        f"(row * {c}L + col) AS src", f"(drow * {c}L + dcol) AS dst",
        "CAST(CASE WHEN drow <> row AND dcol <> col THEN 1 ELSE 0 END AS LONG) AS nd",
        "CAST(CASE WHEN drow <> row AND dcol = col THEN 1 ELSE 0 END AS LONG) AS nr",
        "CAST(CASE WHEN drow = row AND dcol <> col THEN 1 ELSE 0 END AS LONG) AS nc",
    )
    reach = closure(
        nodes.selectExpr("id AS src", "id AS dst", "0L AS nr", "0L AS nc",
                         "0L AS nd").unionByName(e),
        "_full_closure_with_steps", max_doublings, sums=("nr", "nc", "nd"))
    return reach, nodes


def max_upslope_flowpath_length(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """MaxUpslopeFlowpathLength (hydro_analysis/max_upslope_flowpath.rs):
    per cell, the maximum flowpath length from any upstream cell
    (heads report 0). Exact integer step counters; ties on equal
    lengths are value-identical so any argmax works."""
    reach, nodes = _full_closure_with_steps(cells, meta)
    agg = reach.groupBy("dst").agg(
        F.expr(f"MAX({_len_expr(meta)})").alias("value"))
    out = agg.join(nodes, agg["dst"] == nodes["id"]).select("row", "col", "value")
    nodes.unpersist()
    return out


def average_upslope_flowpath_length(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """AverageUpslopeFlowpathLength: mean flowpath length over all
    upstream cells (self included with length 0). The integer step
    counters SUM exactly, so the mean = (sum-counters x constants) / n
    is bit-reproducible."""
    reach, nodes = _full_closure_with_steps(cells, meta)
    agg = reach.groupBy("dst").agg(
        F.sum("nr").alias("nr"), F.sum("nc").alias("nc"),
        F.sum("nd").alias("nd"), F.count(F.lit(1)).alias("n"))
    out = agg.selectExpr("dst", f"{_len_expr(meta)} / CAST(n AS DOUBLE) AS value") \
             .join(nodes, F.col("dst") == nodes["id"]).select("row", "col", "value")
    nodes.unpersist()
    return out


def elev_above_pit(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """ElevAbovePit (terrain_analysis/elev_above_pit.rs): elevation
    difference between each cell and the pit cell (D8-path terminal) it
    drains to; pits report 0. One exact-step closure + two joins (z is
    copied, never summed — bit-exact)."""
    c = meta.columns
    reach, nodes = _full_closure_with_steps(cells, meta)
    ptr = d8_pointer(cells, meta)
    z = cells.selectExpr(f"(row * {c}L + col) AS zid", "value AS z")
    terms = ptr.where("value = 0.0").selectExpr(f"(row * {c}L + col) AS tid")
    tz = terms.join(z, F.col("tid") == F.col("zid")).selectExpr("tid", "z AS zt")
    out = (reach.join(tz, reach["dst"] == F.col("tid"))
           .selectExpr("src", "zt")
           .join(z, F.col("src") == F.col("zid"))
           .join(nodes, F.col("src") == nodes["id"])
           .selectExpr("row", "col", "z - zt AS value"))
    nodes.unpersist()
    return out


def flow_length_diff(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """FlowLengthDiff (hydro_analysis/flow_length_diff.rs): per cell the
    maximum |dfl(c) - dfl(n)| over the four CARDINAL neighbors (E, S, W,
    N), where dfl is the downslope flowpath length to the cell's D8
    terminal. dfl comes from the exact-step closure (integer counters,
    one float multiply per value), so results are bit-reproducible."""
    c = meta.columns
    reach, nodes = _full_closure_with_steps(cells, meta)
    ptr = d8_pointer(cells, meta)
    terms = ptr.where("value = 0.0").selectExpr(f"(row * {c}L + col) AS tid")
    dfl = (reach.join(terms, reach["dst"] == F.col("tid"))
           .selectExpr("src", f"{_len_expr(meta)} AS value")
           .join(nodes, F.col("src") == nodes["id"])
           .select("row", "col", "value"))
    nodes.unpersist()
    piv = focal_pivot3_raw(dfl)
    mx = "GREATEST(" + ", ".join(
        f"COALESCE(ABS(zc - zn_{i}), CAST('-Infinity' AS DOUBLE))"
        for i in (1, 3, 5, 7)) + ")"
    return piv.selectExpr("row", "col", f"{mx} AS value")


def average_flowpath_slope(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """AverageFlowpathSlope (hydro_analysis/average_flowpath_slope.rs):
    atan((mean upslope-divide elevation - z) / (mean upslope flowpath
    length)) in degrees, where the reference accumulates, per cell,
    NF = #upslope divide cells (no-inflow cells, self included when the
    cell is one), TDE = sum of their elevations, and TFL = sum of the
    out-edge lengths of every strict-upslope cell (each upstream cell's
    single out-edge counted once — the reference's propagation rule).

    Deviation: divide cells themselves (TFL = 0) are omitted — the
    reference computes 0/0 there and stores NaN. Sums of elevations are
    integer-exact on the gate fixtures; TFL uses the exact step counters
    (one float multiply), so the only libm call is atan."""
    c = meta.columns
    reach, nodes = _full_closure_with_steps(cells, meta)
    ptr = d8_pointer(cells, meta)
    z = cells.selectExpr(f"(row * {c}L + col) AS zid", "value AS z")
    edges = d8_edges(ptr)
    e_attr = edges.selectExpr(
        f"(row * {c}L + col) AS eid",
        "CAST(CASE WHEN drow <> row AND dcol <> col THEN 1 ELSE 0 END AS LONG) AS ed",
        "CAST(CASE WHEN drow <> row AND dcol = col THEN 1 ELSE 0 END AS LONG) AS er",
        "CAST(CASE WHEN drow = row AND dcol <> col THEN 1 ELSE 0 END AS LONG) AS ec")
    indeg = edges.selectExpr(f"(drow * {c}L + dcol) AS did").distinct()
    src_attr = (nodes.select(F.col("id").alias("sid"))
                .join(e_attr, F.col("sid") == F.col("eid"), "left")
                .join(z, F.col("sid") == F.col("zid"))
                .join(indeg.withColumn("__has_in", F.lit(1)),
                      F.col("sid") == F.col("did"), "left")
                .selectExpr("sid", "COALESCE(er, 0L) AS er",
                            "COALESCE(ec, 0L) AS ec", "COALESCE(ed, 0L) AS ed",
                            "z", "CAST(__has_in IS NULL AS INT) AS is_div"))
    agg = (reach.join(src_attr, reach["src"] == F.col("sid"))
           .groupBy("dst").agg(
               F.expr("SUM(is_div)").alias("nf"),
               F.expr("SUM(CASE WHEN is_div = 1 THEN z ELSE 0.0 END)").alias("tde"),
               F.expr("SUM(CASE WHEN src <> dst THEN er ELSE 0L END)").alias("nr"),
               F.expr("SUM(CASE WHEN src <> dst THEN ec ELSE 0L END)").alias("nc"),
               F.expr("SUM(CASE WHEN src <> dst THEN ed ELSE 0L END)").alias("nd")))
    tfl = _len_expr(meta)
    out = (agg.join(z, agg["dst"] == F.col("zid"))
           .join(nodes, agg["dst"] == nodes["id"])
           .selectExpr(
               "row", "col",
               f"CASE WHEN ({tfl}) > 0.0 THEN DEGREES(ATAN("
               f"(tde / CAST(nf AS DOUBLE) - z) / (({tfl}) / CAST(nf AS DOUBLE))"
               f")) ELSE NULL END AS value")
           .where("value IS NOT NULL"))
    nodes.unpersist()
    return out


def trace_downslope_flowpaths(cells: DataFrame, meta: GridMeta,
                              seeds: DataFrame) -> DataFrame:
    """TraceDownslopeFlowpaths (
    hydro_analysis/trace_downslope_flowpaths.rs): follow the D8 path from each seed (row, col) to its terminal;
    output the number of seed traces passing through each visited cell
    (unvisited cells are absent)."""
    c = meta.columns
    reach, nodes = _full_closure_with_steps(cells, meta)
    s = seeds.selectExpr(f"(row * {c}L + col) AS sid")
    hits = (reach.join(s, reach["src"] == F.col("sid"))
            .groupBy("dst").agg(F.count(F.lit(1)).alias("n")))
    out = hits.join(nodes, hits["dst"] == nodes["id"]).selectExpr(
        "row", "col", "CAST(n AS DOUBLE) AS value")
    nodes.unpersist()
    return out


def longest_flowpath(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """LongestFlowpath (hydro_analysis/longest_flowpath.rs semantics):
    per basin (terminal-outlet component, numbered like basins()), the
    maximum-length flowpath as a cell-center polyline. Output one row
    per path cell: (basin_id, seq, row, col, x, y, length) where seq is
    the hop index from the path head and length is the basin's longest
    flowpath length. Head ties on exact length resolve to the smaller
    head id. Exact-step closure; the only float math is the final
    length multiply and the cell-center affine."""
    from ..plans.rank import dense_rank_small

    c = meta.columns
    reach, nodes = _full_closure_with_steps(cells, meta)
    ptr = d8_pointer(cells, meta)
    terms = ptr.where("value = 0.0").selectExpr(f"(row * {c}L + col) AS tid")
    toterm = (reach.join(terms, reach["dst"] == F.col("tid"))
              .selectExpr("src", "dst AS term", "nr", "nc", "nd"))
    best = toterm.groupBy("term").agg(
        F.expr(f"MIN_BY(src, STRUCT(-({_len_expr(meta)}) AS l, src AS s))")
        .alias("head"),
        F.expr(f"MAX({_len_expr(meta)})").alias("length"))
    reps = dense_rank_small(best.select(F.col("term").alias("nxt")),
                            "nxt", "basin_id")
    path = (reach.join(best, reach["src"] == best["head"])
            .join(reps, best["term"] == reps["nxt"])
            .selectExpr("basin_id", "nr + nc + nd AS seq", "dst", "length"))
    out = (path.join(nodes, path["dst"] == nodes["id"])
           .selectExpr("CAST(basin_id AS DOUBLE) AS basin_id", "seq",
                       "row", "col",
                       f"{meta.x_center_expr('col')} AS x",
                       f"{meta.y_center_expr('row')} AS y", "length"))
    nodes.unpersist()
    return out


def _feature_outline_segments(polygons: DataFrame) -> DataFrame:
    """Ring edges of every part (shells AND holes — the reference's
    outline scans walk all parts) as (record_num, value, x1, y1, x2,
    y2). Rings are closed modularly; degenerate (zero-length) closing
    edges of already-closed rings are dropped."""
    return (polygons.selectExpr("polygon_id", "EXPLODE(parts) AS part")
            .selectExpr("polygon_id AS rn", "part.ring AS ring")
            .selectExpr(
                "rn",
                "EXPLODE(TRANSFORM(SEQUENCE(0, SIZE(ring) - 1), i -> STRUCT("
                "ring[i].x AS x1, ring[i].y AS y1, "
                "ring[(i + 1) % SIZE(ring)].x AS x2, "
                "ring[(i + 1) % SIZE(ring)].y AS y2))) AS s")
            .selectExpr("rn AS record_num", "CAST(rn AS DOUBLE) AS value",
                        "s.x1", "s.y1", "s.x2", "s.y2")
            .where("NOT (x1 = x2 AND y1 = y2)"))


def raise_walls(cells: DataFrame, meta: GridMeta, walls: DataFrame,
                height: float = 100.0) -> DataFrame:
    """RaiseWalls (hydro_analysis/raise_walls.rs): add `height` to every
    DEM cell crossed by a wall polygon's boundary — the same row/col
    center-line crossing rasterization as VectorLinesToRaster; each
    cell is raised ONCE no matter how many edges cross it (the
    reference's `walled` flag). `walls` uses the polygons schema
    (polygon_id, bbox, parts)."""
    from .raster import lines_to_raster_hits

    segs = _feature_outline_segments(walls)
    wall_cells = (lines_to_raster_hits(segs, meta)
                  .select("row", "col").distinct()
                  .withColumn("__w", F.lit(1)))
    return cells.join(wall_cells, ["row", "col"], "left").selectExpr(
        "row", "col",
        f"CASE WHEN __w IS NOT NULL THEN value + {float(height)!r} "
        f"ELSE value END AS value")


def flatten_lakes(cells: DataFrame, meta: GridMeta,
                  lakes: DataFrame) -> DataFrame:
    """FlattenLakes (hydro_analysis/flatten_lakes.rs): every cell whose
    center lies inside a lake polygon (shell minus holes) is set to the
    minimum DEM elevation among the cells crossed by that lake's
    OUTLINE (the reference scans the polygon edges for the minimum, not
    the interior); all other cells pass through. Overlapping lakes
    resolve to the highest polygon_id (the rasterizer's last-record-
    wins). A lake whose outline crosses no valid cell passes through
    (the reference would write +inf there)."""
    from .raster import lines_to_raster_hits, polygons_to_raster

    segs = _feature_outline_segments(lakes)
    outline = (lines_to_raster_hits(segs, meta)
               .select("row", "col", "rn").distinct())
    zmin = (outline.join(cells, ["row", "col"])
            .groupBy("rn").agg(F.min("value").alias("__minz")))
    inside = polygons_to_raster(lakes, meta).selectExpr(
        "row", "col", "CAST(value AS LONG) AS rn")
    tag = inside.join(zmin, "rn").select("row", "col", "__minz")
    return cells.join(tag, ["row", "col"], "left").selectExpr(
        "row", "col", "COALESCE(__minz, value) AS value")


def _fill_depressions_eps(cells: DataFrame, meta: GridMeta, eps: float,
                          max_rounds: int = 256) -> DataFrame:
    """Planchon-Darboux fill WITH a constant epsilon step: the unique
    minimal surface with w >= z and w(c) >= min over neighbors of
    (w(n) + eps) for interior cells, border cells pinned at z — the same
    surface the reference's epsilon priority-flood produces
    (fill_burn.rs's filling stage). Jacobi fixpoint; rounds ~ largest
    depression diameter (gate-scale; the tiled priority-flood of
    fill_depressions is the scale path and would take eps the same
    way)."""
    rows, cols = meta.rows, meta.columns
    border = (f"(row = 0 OR col = 0 OR row = {rows - 1} "
              f"OR col = {cols - 1})")
    w = cells.selectExpr(
        "row", "col", "value AS z",
        f"CASE WHEN {border} THEN value ELSE CAST('Infinity' AS DOUBLE) END AS w",
    )
    minn = "LEAST(" + ", ".join(
        f"COALESCE(zn_{i} + {eps!r}, CAST('Infinity' AS DOUBLE))"
        for i in range(8)) + ")"

    def relax(w):
        piv = focal_pivot3_raw(w.selectExpr("row", "col", "w AS value"))
        return (piv.join(w.select("row", "col", "z", F.col("w").alias("__prev")),
                         ["row", "col"])
                .selectExpr("row", "col", "z", "__prev",
                            f"LEAST(__prev, GREATEST(z, {minn})) AS w"))

    w = fixpoint(w, relax, "w <> __prev", "_fill_depressions_eps", max_rounds)
    return w.selectExpr("row", "col", "w AS value")


def fill_burn(cells: DataFrame, meta: GridMeta,
              stream_segments: DataFrame) -> DataFrame:
    """FillBurn (hydro_analysis/fill_burn.rs, Saunders 1999): rasterize
    the stream lines, thin them, burn them 10000 units into the DEM,
    fill the burned DEM with an epsilon gradient (eps = 10^-(12 -
    digits(max elevation))), then translate the filled stream elevations
    so the deepest-cut stream cell sits 1 unit below its original
    elevation (min_diff adjustment, fill_burn.rs's final pass).

    Deviation: the thinning pass is the engine's Zhang-Suen
    line_thinning (the reference inlines its own 8-pattern elimination);
    skeletons can differ by single cells on 2-wide rasterized lines.
    Iterative epsilon fill -> rows-only + pytest gate."""
    from .focal import line_thinning
    from .raster import lines_to_raster

    streams_r = lines_to_raster(stream_segments, meta).selectExpr(
        "row", "col", "CAST(1.0 AS DOUBLE) AS value")
    mask = (cells.select("row", "col")
            .join(streams_r, ["row", "col"], "left")
            .selectExpr("row", "col", "COALESCE(value, 0.0) AS value"))
    thin = line_thinning(mask).where("value > 0.0") \
        .select("row", "col").withColumn("__s", F.lit(1))
    burned = cells.join(thin, ["row", "col"], "left").selectExpr(
        "row", "col",
        "CASE WHEN __s IS NOT NULL THEN value - 10000.0 ELSE value END AS value")
    zmax = cells.agg(F.max("value")).first()[0]
    elev_digits = len(str(int(zmax)))
    small = 10.0 ** (-(12 - elev_digits))
    # tiled Barnes priority-flood with the epsilon step: rounds =
    # O(tile-graph spill path), not O(burned-trench length in cells) —
    # the 10000-unit stream trench made the Jacobi eps fill the single
    # slowest fixture query (~13.5 s); same fixpoint, pytest-gated
    filled = fill_depressions(burned, meta, eps=small)
    j = (filled.withColumnRenamed("value", "w")
         .join(cells.withColumnRenamed("value", "z"), ["row", "col"])
         .join(thin, ["row", "col"], "left")
         .localCheckpoint(eager=True))
    min_diff = j.where("__s IS NOT NULL").agg(
        F.min(F.expr("z - w"))).first()[0]
    if min_diff is None:
        return j.selectExpr("row", "col", "w AS value")
    adj = min_diff - 1.0
    return j.selectExpr(
        "row", "col",
        f"CASE WHEN __s IS NOT NULL THEN w + {adj!r} ELSE w END AS value")


def d8_mass_flux(cells: DataFrame, meta: GridMeta, loading: DataFrame,
                 efficiency: DataFrame, absorption: DataFrame,
                 max_rounds: int = 256) -> DataFrame:
    """D8MassFlux (hydro_analysis/d8_mass_flux.rs): route mass down the
    D8 network; outflux(c) = (loading(c) + sum of inflows - absorption(c))
    * efficiency(c), floored at 0 before routing. Topological peel (per-
    round float products are order-independent per cell: one inflow sum
    per round). Iterative -> rows-only + pytest gate."""
    c = meta.columns
    ptr = d8_pointer(cells, meta)
    e = d8_edges(ptr).selectExpr(f"(row * {c}L + col) AS src",
                                 f"(drow * {c}L + dcol) AS dst").persist()
    base = (
        ptr.selectExpr(f"(row * {c}L + col) AS id", "row", "col")
        .join(loading.selectExpr(f"(row * {c}L + col) AS id", "value AS ld"), "id")
        .join(efficiency.selectExpr(f"(row * {c}L + col) AS id", "value AS eff"), "id")
        .join(absorption.selectExpr(f"(row * {c}L + col) AS id", "value AS ab"), "id")
        .persist()
    )
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("n_in"))
    unresolved = base.select("id")
    resolved = None
    for _ in range(max_rounds):
        if resolved is None:
            ready = unresolved.join(indeg.withColumnRenamed("dst", "id"),
                                    "id", "left_anti")
            inflow = None
        else:
            blocked = (
                e.join(unresolved.selectExpr("id AS dst"), "dst", "leftsemi")
                .join(resolved.selectExpr("id AS src"), "src", "left_anti")
                .select(F.col("dst").alias("id")).distinct()
            )
            ready = unresolved.join(blocked, "id", "left_anti")
            inflow = e.join(resolved.withColumnRenamed("id", "src"), "src") \
                      .groupBy("dst").agg(F.sum("flux").alias("in_flux")) \
                      .withColumnRenamed("dst", "id")
        frontier = ready.join(base, "id")
        if inflow is not None:
            frontier = frontier.join(inflow, "id", "left")
            flux = "GREATEST((ld + COALESCE(in_flux, 0.0) - ab) * eff, 0.0)"
        else:
            flux = "GREATEST((ld - ab) * eff, 0.0)"
        frontier = frontier.selectExpr("id", "row", "col", f"{flux} AS flux")
        resolved = (frontier if resolved is None
                    else resolved.unionByName(frontier)).localCheckpoint(eager=True)
        unresolved = unresolved.join(frontier.select("id"), "id", "left_anti") \
                               .localCheckpoint(eager=True)
        # batch the termination checks: one count every 4 rounds instead
        # of frontier.count() + unresolved.count() every round (the
        # iterative-loop-constant fix — the peel itself is unchanged)
        if _ % 4 == 3 and unresolved.count() == 0:
            break
    else:
        if unresolved.count() != 0:
            ensure_converged(unresolved.count(), "d8_mass_flux peel", max_rounds)
    e.unpersist()
    base.unpersist()
    return resolved.select("row", "col", F.col("flux").alias("value"))


def elevation_above_stream_euclidean(cells: DataFrame, meta: GridMeta,
                                     threshold: float) -> DataFrame:
    """ElevationAboveStreamEuclidean (hydro_analysis/
    elevation_above_stream_euclidean.rs): z - z(EUCLIDEAN-nearest
    stream cell) — the straight-line HAND variant; shares the exact
    separable EDT with euclidean_allocation."""
    from .distance import euclidean_allocation

    c = meta.columns
    accum = d8_flow_accumulation_tiled(cells, meta)
    streams = accum.where(f"value >= {threshold!r}").select("row", "col")
    marked = cells.join(streams.withColumn("__s", F.lit(1)), ["row", "col"], "left") \
                  .selectExpr("row", "col",
                              "CASE WHEN __s IS NOT NULL THEN value ELSE -32768.0 END AS value")
    alloc = euclidean_allocation(marked, meta, target_pred="value <> -32768.0")
    return cells.join(alloc.selectExpr("row", "col", "value AS sz"),
                      ["row", "col"]).selectExpr("row", "col", "value - sz AS value")


# breach_pits.rs:201-203 ring-2 offsets and the D8 neighbor each one
# breaches through
_BP_DX2 = [2, 2, 2, 2, 2, 1, 0, -1, -2, -2, -2, -2, -2, -1, 0, 1]
_BP_DY2 = [-2, -1, 0, 1, 2, 2, 2, 2, 2, 1, 0, -1, -2, -2, -2, -2]
_BP_CELL = [0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 0]


def breach_pits(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """BreachPits (hydro_analysis/breach_pits.rs:201-227): for every
    single-cell pit, any ring-2 cell lower than the pit lowers the D8
    neighbor between them to (z_pit + z_ring2)/2. The reference writes
    in scan order (later writes win); this parallel plan reproduces
    that by taking, per written cell, the write with the greatest
    (pit row-major id, ring index) — identical output."""
    c = meta.columns
    piv = focal_pivot3_raw(cells)
    no_lower = " AND ".join(f"COALESCE(zn_{i} >= zc, TRUE)" for i in range(8))
    pits = piv.where(no_lower).selectExpr("row", "col", "zc AS zp",
                                          f"(row * {c}L + col) AS pid")
    # gather ring-2 values per pit via a second scatter join
    probes = ", ".join(
        f"STRUCT({i} AS i, row + ({_BP_DY2[i]}L) AS r2, col + ({_BP_DX2[i]}L) AS c2, "
        f"row + ({D8_DY[_BP_CELL[i]]}L) AS br, col + ({D8_DX[_BP_CELL[i]]}L) AS bc)"
        for i in range(16))
    cand = pits.withColumn("__p", F.expr(f"EXPLODE(ARRAY({probes}))")) \
               .selectExpr("pid", "zp", "__p.i AS i", "__p.r2 AS r2", "__p.c2 AS c2",
                           "__p.br AS br", "__p.bc AS bc")
    j = cand.join(cells.selectExpr("row AS r2", "col AS c2", "value AS z2"),
                  ["r2", "c2"]).where("z2 < zp")
    writes = j.groupBy("br", "bc").agg(
        F.expr("MAX_BY((zp + z2) / 2.0, STRUCT(pid, i))").alias("wv"))
    return cells.join(writes, (cells["row"] == writes["br"]) &
                      (cells["col"] == writes["bc"]), "left") \
                .selectExpr("row", "col", "COALESCE(wv, value) AS value")


def extract_valleys(cells: DataFrame, meta: GridMeta,
                    percentile: float = 0.25, radius: int = 2) -> DataFrame:
    """ExtractValleys (stream_network_analysis/extract_valleys.rs,
    'lower quartile' method): flag cells sitting in the lowest
    `percentile` of their (2r+1)^2 window — pure rank counting, no
    libm."""
    from .focal import _scatter

    sc = _scatter(cells, radius)
    ctr = cells.selectExpr("row", "col", "value AS z")
    j = sc.join(ctr, ["row", "col"])
    # z is functionally determined by (row, col) — grouping on it keeps
    # the per-neighbor comparison out of a nested aggregate
    return j.groupBy("row", "col", "z").agg(
        F.expr(
            f"CAST(CASE WHEN COUNT(CASE WHEN nv < z THEN 1 END) "
            f"< {percentile!r} * COUNT(nv) THEN 1.0 ELSE 0.0 END AS DOUBLE)"
        ).alias("value")).drop("z")


def cost_allocation(cost: DataFrame, meta: GridMeta, source_pred: str,
                    source_id_expr: str | None = None,
                    max_rounds: int = 96) -> DataFrame:
    """CostAllocation (gis_analysis/cost_allocation.rs semantics): each
    cell takes the id of the source reaching it at LEAST accumulated
    cost (ties resolve to the smaller source id). Same Bellman-Ford
    relaxation as cost_distance with an (acc, src) argmin payload."""
    sid = source_id_expr or f"(row * {meta.columns}L + col)"
    state = cost.selectExpr(
        "row", "col", "value AS c",
        f"CASE WHEN {source_pred} THEN 0.0 ELSE CAST('Infinity' AS DOUBLE) END AS acc",
        f"CASE WHEN {source_pred} THEN {sid} ELSE CAST(NULL AS BIGINT) END AS src",
    )

    def relax(state):
        best = "MIN_BY(STRUCT(a, src AS s), STRUCT(a, src))"
        return _cost_relax(state, _cost_lengths(meta), best, [
            "acc AS __prev_acc", "src AS __prev_src",
            # both expressions read the INPUT `acc`/`src` columns (a
            # projection cannot reference its own sibling aliases)
            "CASE WHEN b IS NOT NULL AND b.a < acc THEN b.a ELSE acc END AS acc",
            "CASE WHEN b IS NOT NULL AND (b.a < acc OR (b.a = acc AND "
            "(src IS NULL OR b.s < src))) THEN b.s ELSE src END AS src",
        ], payload=("src",))

    # Convergence must track BOTH payload fields: on rasters with
    # pervasive exact-cost ties (e.g. uniform cost) a round can change
    # only `src` (the smaller-source-id tie-break walking one hop per
    # round) while every `acc` is already final.
    state = fixpoint(state, relax, "acc <> __prev_acc OR NOT (src <=> __prev_src)",
                     "cost_allocation relaxation", max_rounds)
    return state.where("src IS NOT NULL").selectExpr(
        "row", "col", "CAST(src AS DOUBLE) AS value")


# ---------------------------------------------------------------------------
# Round-3: remaining flow models + basin tools
# (whitebox-plugins/src/{rho8,qin,quinn}_flow_accumulation/,
#  hydro_analysis/{mdinf_flow_accum,isobasins,unnest_basins,
#  jenson_snap_pour_points}.rs)
# ---------------------------------------------------------------------------

# Quinn/Qin contour lengths per D8 direction (quinn plugin main.rs:389-397,
# translated to our D8 order 0=NE..7=N): 0.5*res cardinal, 0.354*res diagonal
def _contour_lengths(meta: GridMeta) -> list[float]:
    out = []
    for i in range(8):
        res = (meta.resolution_x + meta.resolution_y) / 2.0
        out.append((0.5 if D8_DX[i] == 0 or D8_DY[i] == 0 else 0.354) * res)
    return out


def rho8_pointer(cells: DataFrame, meta: GridMeta, seed: int = 42) -> DataFrame:
    """Rho8Pointer (whitebox-plugins/src/rho8_flow_accumulation/main.rs:
    270-292): D8 argmax where the diagonal drop is divided by
    (2 - r), r ~ U[0, 1) — the stochastic diagonal-distance correction
    of Fairfield & Leymarie (1991). The reference draws from a thread
    RNG; here r is a DETERMINISTIC per-(cell, neighbor) LCG stream so
    runs reproduce (document: distributional, not bitwise, parity) AND
    the arithmetic is portable SQL, so the driver query is oracle-gated
    bit-exactly. PMOD 2^31 before the multiply keeps the intermediate
    in int64 at any raster size (the random_field idiom). Output uses
    this engine's 2^i pointer convention (0 = no downslope)."""
    piv = focal_pivot3_raw(cells)
    cols = meta.columns
    rnd = lambda i: (
        f"(CAST(((PMOD((row * {cols}L + col) * 8L + {i}L + {int(seed)}L, "
        f"2147483648L) * 1103515245L + 12345L) % 2147483648L) AS DOUBLE) "
        f"/ 2147483648.0)")
    slopes = []
    for i in range(8):
        if D8_DX[i] == 0 or D8_DY[i] == 0:
            slopes.append(f"(zc - zn_{i})")
        else:
            slopes.append(f"((zc - zn_{i}) / (2.0 - {rnd(i)}))")
    elems = ", ".join(
        f"NAMED_STRUCT('ms', CASE WHEN zn_{i} IS NOT NULL THEN {slopes[i]} "
        f"ELSE CAST('-Infinity' AS DOUBLE) END, 'dir', {i})" for i in range(8))
    fold = (
        f"AGGREGATE(ARRAY({elems}), "
        f"NAMED_STRUCT('ms', CAST(0.0 AS DOUBLE), 'dir', -1), "
        f"(acc, e) -> IF(e.ms > acc.ms, e, acc))")
    return piv.selectExpr(
        "row", "col",
        f"CAST(CASE WHEN ({fold}).dir >= 0 "
        f"THEN POWER(2.0, CAST(({fold}).dir AS DOUBLE)) "
        f"ELSE 0.0 END AS DOUBLE) AS value")


def _mfd_edges_from_weights(piv: DataFrame, meta: GridMeta,
                            ws: list[str]) -> DataFrame:
    """(src, dst, w) with w_i / sum(w) for nonzero weight expressions.

    No `total > 0` prefilter here: with layered weight columns that
    predicate gets substituted back through every projection by
    PushDownPredicates into one monolithic expression (the 64 KB
    codegen blow-up / optimizer OOM). It is also redundant for the
    edge set — weights are >= 0 or NULL, so a zero/NULL total makes
    every element w_i/total NaN or NULL, which the `w > 0.0` post-
    explode filter drops. Callers that can state "some downslope
    neighbor exists" cheaply on the pivot columns should prefilter
    piv themselves (pure explode-volume optimization)."""
    c = meta.columns
    total = "(" + " + ".join(ws) + ")"
    elems = ", ".join(
        f"NAMED_STRUCT('dst', (row + ({D8_DY[i]}L)) * {c}L + (col + ({D8_DX[i]}L)), "
        f"'w', ({ws[i]}) / {total})"
        for i in range(8))
    return (
        piv.selectExpr(f"(row * {c}L + col) AS src",
                       f"EXPLODE(ARRAY({elems})) AS e")
        .selectExpr("src", "e.dst AS dst", "e.w AS w")
        .where("w > 0.0")
    )


def qin_flow_accumulation(cells: DataFrame, meta: GridMeta,
                          exponent: float = 10.0,
                          max_slope_deg: float = 45.0,
                          max_doublings: int = 24) -> DataFrame:
    """QinFlowAccumulation (whitebox-plugins/src/qin_flow_accumulation/
    main.rs:33-35,501): MFD with a locally adaptive exponent —
    F_i = L_i * tan(beta_i)^f(e) / sum, with
    f(e) = min(e, eU)/eU * (pU - 1.1) + 1.1, e = max downslope tan
    slope, eU = tan(max_slope), pU = `exponent`; L_i the Quinn contour
    lengths. Rows-only (POWER with data-dependent float exponents);
    pytest gates mass conservation + steep-slope convergence."""
    import math as _m

    lengths = _grid_lengths(meta)
    cl = _contour_lengths(meta)
    eu = _m.tan(_m.radians(max_slope_deg))
    piv = focal_pivot3_raw(cells)
    # Layered aliased columns (tans -> fe -> weights) instead of one
    # inlined weight expression: the monolithic form re-inlines all 8
    # tan CASEs inside fe inside every weight inside the 8-way explode,
    # blowing Janino's 64 KB method limit (whole stage fell back to
    # interpreted eval). Column reuse is bit-identical to re-evaluating
    # the same deterministic subexpression text.
    tan_cols = [
        f"(CASE WHEN zn_{i} IS NOT NULL AND zn_{i} < zc "
        f"THEN (zc - zn_{i}) / {lengths[i]!r} ELSE 0.0 END) AS t_{i}"
        for i in range(8)
    ]
    # cheap exact-superset prefilter of the old `total > 0` (some
    # downslope neighbor exists); pushes down as a ~1 KB predicate
    downslope = " OR ".join(
        f"(zn_{i} IS NOT NULL AND zn_{i} < zc)" for i in range(8))
    l1 = piv.where(downslope).selectExpr("row", "col", *tan_cols)
    emax = "GREATEST(" + ", ".join(f"t_{i}" for i in range(8)) + ")"
    fe = f"(LEAST({emax}, {eu!r}) / {eu!r} * ({exponent!r} - 1.1) + 1.1)"
    l2 = l1.selectExpr("row", "col", *[f"t_{i}" for i in range(8)],
                       f"{fe} AS fe")
    w_cols = [f"(CASE WHEN t_{i} > 0.0 "
              f"THEN {cl[i]!r} * POWER(t_{i}, fe) ELSE 0.0 END) AS w_{i}"
              for i in range(8)]
    wpiv = l2.selectExpr("row", "col", *w_cols)
    ws = [f"w_{i}" for i in range(8)]
    c = meta.columns
    nodes = cells.selectExpr(f"(row * {c}L + col) AS id", "row", "col")
    e = _mfd_edges_from_weights(wpiv, meta, ws).join(
        nodes.selectExpr("id AS dst"), "dst", "leftsemi")
    return _weighted_path_accum(nodes, e, max_doublings, "qin_flow_accumulation")


def quinn_flow_accumulation(cells: DataFrame, meta: GridMeta,
                            exponent: float = 1.0,
                            max_doublings: int = 24) -> DataFrame:
    """QuinnFlowAccumulation (whitebox-plugins/src/
    quinn_flow_accumulation/main.rs:389-429 weights; Quinn et al. 1991):
    F_i = L_i * tan(beta_i)^h / sum with fixed exponent h and contour
    lengths L (0.5/0.354 x cell size).

    Intentional deviation: the plugin's h = (acc/threshold + 1)^p is
    ACCUMULATION-adaptive, which forces a strict topological-order
    sweep; this implementation uses the fixed-exponent Quinn 1991 form
    (the plugin's h at acc=0). At cluster scale the adaptive form would
    be the tiled topological contraction (d8 tiled plan generalized)."""
    lengths = _grid_lengths(meta)
    cl = _contour_lengths(meta)
    piv = focal_pivot3_raw(cells)
    # Pre-aliased weight columns (see qin_flow_accumulation: the
    # inlined form re-inlines every weight CASE 9x through the explode
    # normalizer, overflowing Janino's 64 KB method limit).
    w_cols = [
        f"(CASE WHEN zn_{i} IS NOT NULL AND zn_{i} < zc "
        f"THEN {cl[i]!r} * POWER((zc - zn_{i}) / {lengths[i]!r}, {exponent!r}) "
        f"ELSE 0.0 END) AS w_{i}"
        for i in range(8)
    ]
    downslope = " OR ".join(
        f"(zn_{i} IS NOT NULL AND zn_{i} < zc)" for i in range(8))
    wpiv = piv.where(downslope).selectExpr("row", "col", *w_cols)
    ws = [f"w_{i}" for i in range(8)]
    c = meta.columns
    nodes = cells.selectExpr(f"(row * {c}L + col) AS id", "row", "col")
    e = _mfd_edges_from_weights(wpiv, meta, ws).join(
        nodes.selectExpr("id AS dst"), "dst", "leftsemi")
    return _weighted_path_accum(nodes, e, max_doublings, "quinn_flow_accumulation")


def mdinf_flow_accumulation(cells: DataFrame, meta: GridMeta,
                            exponent: float = 1.1,
                            max_doublings: int = 24) -> DataFrame:
    """MDInfFlowAccumulation (hydro_analysis/mdinf_flow_accum.rs
    semantics; Seibert & McGlynn 2007): flow splits across all eight
    triangular facets — each facet with a positive downslope direction
    contributes weight s^p, divided between its cardinal/diagonal
    neighbors by angular interpolation (the Tarboton facet math of
    D-inf, applied per facet instead of argmax)."""
    import math as _m

    d1 = meta.resolution_x
    d2 = _m.sqrt(meta.resolution_x ** 2 + meta.resolution_y ** 2)
    amax = _m.atan2(meta.resolution_y, meta.resolution_x)
    # facets as (cardinal D8 idx, diagonal D8 idx)
    facets = [(1, 0), (7, 0), (7, 6), (5, 6), (5, 4), (3, 4), (3, 2), (1, 2)]
    piv = focal_pivot3_raw(cells)
    c = meta.columns
    # Layered aliased columns per facet (r -> rc/smag -> w -> per-
    # neighbor weight sums) instead of one inlined expression: the
    # monolithic form re-inlines smag/r 3x per facet and every facet
    # weight 9x through the explode normalizer, overflowing Janino's
    # 64 KB method limit (the stage fell back to interpreted eval).
    # Column reuse is bit-identical — each subexpression keeps the
    # exact textual op sequence, incl. NULL propagation: an invalid
    # facet's w=0.0 times a NULL angle fraction stays NULL, exactly as
    # the inlined text behaved.
    r_cols, keep = [], []
    for fi, (card, diag) in enumerate(facets):
        s1 = f"((zc - zn_{card}) / {d1!r})"
        s2 = f"((zn_{card} - zn_{diag}) / {meta.resolution_y!r})"
        r_cols += [f"{s1} AS s1_{fi}", f"{s2} AS s2_{fi}",
                   f"ATAN2({s2}, {s1}) AS r_{fi}"]
    # cheap exact-superset prefilter of the old `total > 0`: a facet
    # weight smag > 0 requires some zn below zc (s1 <= 0 routes the
    # CASE to a non-positive branch), so "some downslope neighbor"
    # covers every contributing cell
    downslope = " OR ".join(
        f"(zn_{i} IS NOT NULL AND zn_{i} < zc)" for i in range(8))
    l1 = piv.where(downslope).selectExpr("row", "col", "zc",
                                         *[f"zn_{i}" for i in range(8)], *r_cols)
    m_cols = []
    for fi, (card, diag) in enumerate(facets):
        m_cols.append(f"GREATEST(LEAST(r_{fi}, {amax!r}), 0.0) AS rc_{fi}")
        m_cols.append(
            f"(CASE WHEN r_{fi} < 0.0 THEN s1_{fi} "
            f"WHEN r_{fi} > {amax!r} THEN (zc - zn_{diag}) / {d2!r} "
            f"ELSE SQRT(s1_{fi} * s1_{fi} + s2_{fi} * s2_{fi}) END) AS smag_{fi}")
        keep.append(f"(zn_{card} IS NOT NULL AND zn_{diag} IS NOT NULL) AS ok_{fi}")
    l2 = l1.selectExpr("row", "col", *m_cols, *keep)
    w_cols = [
        f"(CASE WHEN ok_{fi} AND smag_{fi} > 0.0 "
        f"THEN POWER(smag_{fi}, {exponent!r}) ELSE 0.0 END) AS w_{fi}"
        for fi in range(8)
    ]
    l3 = l2.selectExpr("row", "col", *[f"rc_{fi}" for fi in range(8)], *w_cols)
    parts = []
    for fi, (card, diag) in enumerate(facets):
        pc = f"(1.0 - rc_{fi} / {amax!r})"
        pd = f"(rc_{fi} / {amax!r})"
        parts.append((card, f"(w_{fi}) * {pc}"))
        parts.append((diag, f"(w_{fi}) * {pd}"))
    # collapse per-neighbor weights
    by_nbr = {}
    for i, expr in parts:
        by_nbr.setdefault(i, []).append(expr)
    nbr_cols = [
        (f"({' + '.join(by_nbr[i])}) AS nw_{i}") if i in by_nbr
        else f"0.0 AS nw_{i}"
        for i in range(8)
    ]
    wpiv = l3.selectExpr("row", "col", *nbr_cols)
    ws = [f"nw_{i}" for i in range(8)]
    nodes = cells.selectExpr(f"(row * {c}L + col) AS id", "row", "col")
    e = _mfd_edges_from_weights(wpiv, meta, ws).join(
        nodes.selectExpr("id AS dst"), "dst", "leftsemi")
    return _weighted_path_accum(nodes, e, max_doublings, "mdinf_flow_accumulation")


def jenson_snap_pour_points(pour: DataFrame, streams: DataFrame,
                            meta: GridMeta, snap_dist: float) -> DataFrame:
    """JensonSnapPourPoints (hydro_analysis/jenson_snap_pour_points.rs):
    move each pour point to the nearest stream cell within snap_dist
    (euclidean on cell centers; ties -> row-major first, the reference's
    scan order). pour: (outlet_id, row, col); streams: (row, col, value
    > 0 for stream). One bounded-window join, codegen throughout."""
    rr = int(snap_dist / min(meta.resolution_x, meta.resolution_y)) + 1
    s = streams.where("value > 0.0").selectExpr("row AS srow", "col AS scol")
    cand = pour.join(
        s,
        (F.expr(f"ABS(srow - row) <= {rr}") & F.expr(f"ABS(scol - col) <= {rr}")),
        "left",
    ).selectExpr(
        "outlet_id", "row", "col", "srow", "scol",
        f"((srow - row) * (srow - row) * {meta.resolution_y!r} * {meta.resolution_y!r} "
        f"+ (scol - col) * (scol - col) * {meta.resolution_x!r} * {meta.resolution_x!r}) "
        f"AS d2",
    ).where(f"d2 <= {snap_dist * snap_dist!r}")
    best = cand.groupBy("outlet_id").agg(
        F.expr("MIN_BY(STRUCT(srow AS r, scol AS c), STRUCT(d2, srow, scol))")
        .alias("b"))
    return pour.join(best, "outlet_id", "left").selectExpr(
        "outlet_id",
        "COALESCE(b.r, row) AS row",
        "COALESCE(b.c, col) AS col")


def isobasins(cells: DataFrame, meta: GridMeta, target_size: int,
              max_doublings: int = 24) -> DataFrame:
    """Isobasins (hydro_analysis/isobasins.rs semantics): divide the DEM
    into basins of approximately `target_size` cells. Outlet rule: a
    cell is an outlet iff its D8 accumulation first reaches the target
    (acc >= target while every inflowing neighbor's acc < target), plus
    every terminal cell of the flow graph; each cell then takes the
    FIRST outlet on its downstream path (watershed absorption), so
    basins partition the grid. Basin ids are dense-ranked by outlet
    row-major order. Approximate parity: the reference merges small
    residual basins into neighbors; that cleanup pass is not
    reproduced (documented)."""
    c = meta.columns
    acc = d8_flow_accumulation_tiled(cells, meta)
    ptr = d8_pointer(cells, meta)
    e = d8_edges(ptr).selectExpr("row", "col", "drow", "dcol")
    a = acc.selectExpr("row", "col", "value AS acc")
    # inflow max acc per cell
    inflow = e.join(a, ["row", "col"]).selectExpr(
        "drow AS row", "dcol AS col", "acc AS in_acc"
    ).groupBy("row", "col").agg(F.max("in_acc").alias("max_in"))
    crossing = a.join(inflow, ["row", "col"], "left").where(
        f"acc >= {target_size} AND COALESCE(max_in, 0.0) < {target_size}")
    # terminal cells (no outflow) are always outlets
    terms = a.join(ptr.where("value = 0.0").select("row", "col"),
                   ["row", "col"], "leftsemi")
    outlets = crossing.select("row", "col").unionByName(
        terms.select("row", "col")).distinct()
    from ..plans.rank import dense_rank_small

    keyed = outlets.selectExpr(f"(row * {c}L + col) AS ok", "row", "col")
    ranked = dense_rank_small(keyed, "ok", "outlet_id")
    olist = keyed.join(ranked, "ok").selectExpr("outlet_id", "row", "col")
    return watershed(cells, meta, olist, max_doublings=max_doublings)


def unnest_basins(cells: DataFrame, meta: GridMeta, pour: DataFrame,
                  max_doublings: int = 24) -> DataFrame:
    """UnnestBasins (hydro_analysis/unnest_basins.rs semantics): full
    (nested) basins of every pour point, organized into layers such
    that no two pour points in a layer are on the same flow path — the
    reference writes one raster per layer; this returns one table
    (row, col, outlet_id, layer). layer = 1 + number of pour points
    strictly DOWNSTREAM of the outlet; within a layer each cell takes
    the first on-path outlet of that layer, so layers reproduce the
    reference's non-overlapping rasters and their union is the full
    nested basin set."""
    c = meta.columns
    # one closure for every layer; its rows from pour-point sources are
    # also the pour points' downstream paths
    nodes, reach = _watershed_closure(cells, meta, "unnest_basins watershed closure",
                                      max_doublings)
    pk = pour.selectExpr("outlet_id", f"(row * {c}L + col) AS pid")
    # depth = pour points strictly downstream (on the path, not self)
    down = reach.join(pk.selectExpr("pid AS src"), "src", "leftsemi") \
        .join(pk.selectExpr("pid AS dst"), "dst", "leftsemi") \
        .where("src <> dst").groupBy("src").count()
    layers = pk.join(down.withColumnRenamed("src", "pid"), "pid", "left") \
        .selectExpr("outlet_id", "pid",
                    "CAST(COALESCE(count, 0) + 1 AS INT) AS layer")
    outs = []
    n_layers = [r["layer"] for r in layers.select("layer").distinct().collect()]
    for lay in sorted(n_layers):
        sub = layers.where(F.col("layer") == lay) \
            .join(pour, "outlet_id").select("outlet_id", "row", "col")
        w = _first_outlet(nodes, reach, sub, meta) \
            .selectExpr("row", "col", "CAST(value AS BIGINT) AS outlet_id",
                        f"CAST({lay} AS INT) AS layer")
        outs.append(w)
    from functools import reduce

    res = reduce(lambda x, y: x.unionByName(y), outs)
    nodes.unpersist()
    return res


# ---------------------------------------------------------------------------
# Round-3: terrain/hydro misc
# (hydro_analysis/{downslope_index,max_branch_length,flood_order,
#  stochastic_depression_analysis,cost_pathway}.rs,
#  terrain_analysis/edge_density.rs, gis_analysis/
#  {clip_raster_to_polygon,erase_polygon_from_raster}.rs,
#  stream_network_analysis/{raster_streams_to_vector,rasterize_streams}.rs)
# ---------------------------------------------------------------------------


def max_branch_length(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """MaxBranchLength (hydro_analysis/max_branch_length.rs semantics):
    the length of the longest flow path PASSING THROUGH each cell =
    max upslope flowpath length into the cell + the cell's downslope
    flowpath length — both already-shared pointer-doubling plans, one
    join to combine."""
    up = max_upslope_flowpath_length(cells, meta).selectExpr(
        "row", "col", "value AS up")
    down = downslope_flowpath_length(cells, meta).selectExpr(
        "row", "col", "value AS down")
    return up.join(down, ["row", "col"], "full").selectExpr(
        "row", "col", "COALESCE(up, 0.0) + COALESCE(down, 0.0) AS value")


def downslope_index(cells: DataFrame, meta: GridMeta, drop: float = 2.0,
                    out_type: str = "tangent",
                    max_rounds: int = 128) -> DataFrame:
    """DownslopeIndex (hydro_analysis/downslope_index.rs; Hjerdt et al.
    2004 d-index): follow the D8 path until cumulative elevation drop
    >= `drop`; report tan(d / L) (or 'distance' L, or 'angle' degrees).
    Paths ending before the drop is reached use the traversed length
    (the reference's edge rule).

    Plan: bounded step loop over the pointer edges carrying (current
    node, distance); cells whose walk ended freeze. O(path-steps)
    rounds of one join each — at continental scale swap in pointer
    doubling with (dist, z) payload."""
    c = meta.columns
    ptr = d8_pointer(cells, meta)
    zmap = cells.selectExpr(f"(row * {c}L + col) AS zid", "value AS z")
    e = d8_edges(ptr).selectExpr(
        f"(row * {c}L + col) AS src", f"(drow * {c}L + dcol) AS dst")
    lengths = _grid_lengths(meta)
    dir_expr = "CAST(LOG2(value) AS INT)"
    ln = ", ".join(repr(v) for v in lengths)
    step = ptr.where("value > 0").selectExpr(
        f"(row * {c}L + col) AS src",
        f"ELEMENT_AT(ARRAY({ln}), {dir_expr} + 1) AS sl")
    e = e.join(step, "src")
    state = cells.selectExpr(
        "row", "col", f"(row * {c}L + col) AS cur", "value AS z0",
        "CAST(0.0 AS DOUBLE) AS dist", "CAST(TRUE AS BOOLEAN) AS moving",
    )

    def walk(state):
        nxt = state.join(e.selectExpr("src AS cur", "dst", "sl"), "cur", "left") \
            .join(zmap.selectExpr("zid AS dst", "z AS zn"), "dst", "left")
        # the step that reaches the drop IS taken (Hjerdt's L includes it);
        # only after landing there does the walk freeze
        return nxt.selectExpr(
            "row", "col", "z0",
            "CASE WHEN moving AND dst IS NOT NULL THEN dst ELSE cur END AS cur",
            "CASE WHEN moving AND dst IS NOT NULL THEN dist + sl "
            "ELSE dist END AS dist",
            f"CASE WHEN moving AND dst IS NOT NULL AND (z0 - zn) < {drop!r} "
            "THEN TRUE ELSE FALSE END AS moving",
        )

    state = fixpoint(state, walk, "moving", "downslope_index walk", max_rounds)
    j = state.join(zmap.selectExpr("zid AS cur", "z AS zend"), "cur", "left")
    if out_type == "distance":
        return j.selectExpr("row", "col", "dist AS value")
    tan = f"(z0 - COALESCE(zend, z0)) / NULLIF(dist, 0.0)"
    if out_type == "angle":
        return j.selectExpr("row", "col",
                            f"DEGREES(ATAN({tan})) AS value")
    return j.selectExpr("row", "col", f"({tan}) AS value")


def flood_order(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """FloodOrder (hydro_analysis/flood_order.rs semantics): the order
    in which cells flood as water rises — cells ranked by their FILLED
    elevation (fill_depressions output), ties by raw elevation then
    row-major scan order (deterministic twin of the reference's
    priority queue pops). Output value = 1-based order."""
    from ..plans.rank import ordered_prefix_sums

    filled = fill_depressions(cells, meta).selectExpr(
        "row", "col", "value AS fz")
    j = filled.join(cells.selectExpr("row", "col", "value AS z"),
                    ["row", "col"])
    g = j.selectExpr("row", "col", "fz", "z").groupBy("fz", "z").agg(
        F.expr("COUNT(*) AS cnt"),
        F.expr("COLLECT_LIST(STRUCT(row, col))").alias("cells"))
    cum = ordered_prefix_sums(g, ["fz", "z"], ["cnt"])
    out = cum.selectExpr(
        "fz", "z", "__cum_cnt - cnt AS base",
        "ARRAY_SORT(cells) AS cells")
    return out.selectExpr(
        "base", "POSEXPLODE(cells) AS (i, cell)"
    ).selectExpr("cell.row AS row", "cell.col AS col",
                 "CAST(base + i + 1 AS DOUBLE) AS value")


def stochastic_depression_analysis(cells: DataFrame, meta: GridMeta,
                                   rmse: float = 1.0, iterations: int = 20,
                                   seed: int = 42) -> DataFrame:
    """StochasticDepressionAnalysis (hydro_analysis/
    stochastic_depression_analysis.rs semantics, simplified error
    model): Monte-Carlo probability that each cell sits in a depression
    — per iteration, perturb the DEM with deterministic pseudo-Gaussian
    noise (per-(cell, iteration) LCG-stream Box-Muller, NOT the
    reference's spatially-autocorrelated turning-bands field;
    documented), fill, and count filled > z. The LCG is portable SQL
    (PMOD 2^31 before the multiply — the rho8/random_field idiom), so
    the driver query is oracle-gated. Iterations run as independent
    branches of one union (one job), not a driver loop per iteration."""
    cols = meta.columns
    outs = []
    for it in range(iterations):
        def _lcg(phase: int) -> str:
            return (f"(CAST(((PMOD((row * {cols}L + col) * {2 * iterations}L "
                    f"+ {phase}L + {int(seed)}L, 2147483648L) * 1103515245L "
                    f"+ 12345L) % 2147483648L) AS DOUBLE) / 2147483648.0)")
        u1 = f"({_lcg(2 * it)} + 5e-7)"
        u2 = _lcg(2 * it + 1)
        noise = (f"(SQRT(-2.0 * LN({u1})) * COS(2.0 * PI() * {u2}) * {rmse!r})")
        pert = cells.selectExpr("row", "col", f"value + {noise} AS value")
        filled = fill_depressions(pert, meta)
        outs.append(
            filled.join(pert.selectExpr("row", "col", "value AS z0"),
                        ["row", "col"])
            .selectExpr("row", "col",
                        "CAST(CASE WHEN value > z0 THEN 1 ELSE 0 END AS DOUBLE) "
                        "AS dep"))
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), outs)
    return u.groupBy("row", "col").agg(
        F.expr(f"SUM(dep) / {float(iterations)!r}").alias("value"))


def cost_pathway(cost_accum: DataFrame, backlink: DataFrame,
                 meta: GridMeta, dest_pred: str,
                 max_rounds: int = 96) -> DataFrame:
    """CostPathway (cost_distance.rs companion, gis_analysis/
    cost_pathway.rs): trace least-cost paths from destination cells back
    to the sources along the backlink raster (value = D8 direction code
    of the step taken INTO the cell, 0 at sources). Output: cells on any
    path, value = 1.0. Bounded pointer-walk; backlink comes from
    cost_distance's argmin companion."""
    c = meta.columns
    # backlink code 2^i points to the PREDECESSOR direction
    dir_expr = "CAST(LOG2(value) AS INT)"
    dy = ", ".join(str(v) for v in D8_DY)
    dx = ", ".join(str(v) for v in D8_DX)
    e = backlink.where("value > 0").selectExpr(
        f"(row * {c}L + col) AS src",
        f"((row + CAST(ELEMENT_AT(ARRAY({dy}), {dir_expr} + 1) AS BIGINT)) * {c}L "
        f"+ (col + CAST(ELEMENT_AT(ARRAY({dx}), {dir_expr} + 1) AS BIGINT))) AS dst")
    frontier = cost_accum.where(dest_pred).selectExpr(
        f"(row * {c}L + col) AS id").localCheckpoint(eager=True)
    seen = frontier
    for _ in range(max_rounds):
        nxt = frontier.join(e.selectExpr("src AS id", "dst"), "id") \
            .selectExpr("dst AS id").distinct() \
            .join(seen, "id", "left_anti").localCheckpoint(eager=True)
        if nxt.count() == 0:
            break
        seen = seen.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    else:
        ensure_converged(frontier.count(), "cost_pathway walk", max_rounds)
    return seen.selectExpr(f"id DIV {c} AS row", f"id % {c} AS col",
                           "CAST(1.0 AS DOUBLE) AS value")


def raster_streams_to_vector(cells: DataFrame, meta: GridMeta,
                             threshold: float) -> DataFrame:
    """RasterStreamsToVector (stream_network_analysis/
    raster_streams_to_vector.rs semantics): one line segment per stream
    cell's pointer edge where both endpoints are stream cells, tagged
    with the stream link id — segment-level output (x1, y1, x2, y2,
    link_id); chain assembly composes with the contours chain kernel."""
    c = meta.columns
    accum = d8_flow_accumulation_tiled(cells, meta)
    streams = accum.where(f"value >= {threshold!r}").select("row", "col")
    ptr = d8_pointer(cells, meta)
    e = d8_edges(ptr).join(streams, ["row", "col"], "leftsemi") \
        .join(streams.selectExpr("row AS drow", "col AS dcol"),
              ["drow", "dcol"], "leftsemi")
    link = stream_link_id(cells, meta, threshold).selectExpr(
        "row", "col", "value AS link_id")
    xc = meta.x_center_expr("col")
    yc = meta.y_center_expr("row")
    xc2 = meta.x_center_expr("dcol")
    yc2 = meta.y_center_expr("drow")
    return e.join(link, ["row", "col"]).selectExpr(
        f"{xc} AS x1", f"{yc} AS y1", f"{xc2} AS x2", f"{yc2} AS y2",
        "link_id")


def rasterize_streams(streams: DataFrame, meta: GridMeta,
                      value_col: str = "value") -> DataFrame:
    """RasterizeStreams (stream_network_analysis/rasterize_streams.rs):
    burn vector stream segments into the grid — the shared Bresenham
    plan of lines_to_raster, named for parity."""
    from .raster import lines_to_raster

    return lines_to_raster(streams, meta, value_col=value_col)


def cost_backlink(cost: DataFrame, meta: GridMeta, source_pred: str,
                  max_rounds: int = 96) -> DataFrame:
    """CostDistance's backlink companion (cost_distance.rs writes both):
    per cell, the D8 direction code (2^i) pointing to the PREDECESSOR
    on its least-cost path (0 at sources). Same Bellman-Ford relaxation
    as cost_allocation with a direction payload; equal-cost ties take
    the smaller direction code (deterministic)."""
    state = cost.selectExpr(
        "row", "col", "value AS c",
        f"CASE WHEN {source_pred} THEN 0.0 ELSE CAST('Infinity' AS DOUBLE) END AS acc",
        f"CASE WHEN {source_pred} THEN 0 ELSE CAST(NULL AS INT) END AS dir",
    )

    def relax(state):
        best = "MIN_BY(STRUCT(a, back AS b), STRUCT(a, back))"
        return _cost_relax(state, _grid_lengths(meta), best, [
            "acc AS __pa", "dir AS __pd",
            "CASE WHEN b IS NOT NULL AND b.a < acc THEN b.a ELSE acc END AS acc",
            "CASE WHEN b IS NOT NULL AND (b.a < acc OR (b.a = acc AND "
            "(dir IS NULL OR b.b < dir))) AND NOT (dir IS NOT NULL AND dir = 0 "
            "AND acc = 0.0) THEN b.b ELSE dir END AS dir",
        ])

    # both fields, as in cost_allocation: a tie can move only `dir`
    state = fixpoint(state, relax, "acc <> __pa OR NOT (dir <=> __pd)",
                     "cost_backlink relaxation", max_rounds)
    return state.where("dir IS NOT NULL").selectExpr(
        "row", "col",
        "CAST(CASE WHEN acc = 0.0 THEN 0.0 "
        "ELSE POWER(2.0, CAST(dir AS DOUBLE)) END AS DOUBLE) AS value")


def fill_depressions_wang_and_liu(cells: DataFrame, meta: GridMeta,
                                  max_rounds: int = 128) -> DataFrame:
    """FillDepressionsWangAndLiu (hydro_analysis/
    fill_depressions_wang_and_liu.rs): Wang & Liu's least-cost search
    computes the SAME filled surface as priority-flood / the
    Planchon-Darboux fixpoint when no flat increment is applied —
    filled(c) = max(z(c), min over border paths of the running max).
    Named alias over the shared fixpoint plan (the algorithms differ
    only in traversal order, not output)."""
    return fill_depressions(cells, meta, max_rounds=max_rounds)


def rho8_flow_accumulation(cells: DataFrame, meta: GridMeta, seed: int = 42,
                           max_doublings: int = 24) -> DataFrame:
    """Rho8FlowAccumulation (whitebox-plugins/src/
    rho8_flow_accumulation/): single-direction accumulation over the
    rho8 pointer — the d8 path-doubling plan with rho8 edges."""
    c = meta.columns
    ptr = rho8_pointer(cells, meta, seed=seed)
    nodes = cells.selectExpr(f"(row * {c}L + col) AS id", "row", "col")
    e = d8_edges(ptr).selectExpr(
        f"(row * {c}L + col) AS src", f"(drow * {c}L + dcol) AS dst",
        "CAST(1.0 AS DOUBLE) AS w"
    ).join(nodes.selectExpr("id AS dst"), "dst", "leftsemi")
    return _weighted_path_accum(nodes, e, max_doublings,
                                "rho8_flow_accumulation")


def strahler_order_basins(cells: DataFrame, meta: GridMeta,
                          threshold: float,
                          max_doublings: int = 24) -> DataFrame:
    """StrahlerOrderBasins (hydro_analysis/strahler_order_basins.rs):
    every cell takes the Strahler order of the first stream cell on its
    downstream flow path (stream cells take their own order). Composes
    the absorbing stream walk with the Strahler labeling — two shared
    plans and one join."""
    c = meta.columns
    walk = _walk_to_stream(cells, meta, threshold)
    orders = strahler_order(cells, meta, threshold).selectExpr(
        f"(row * {c}L + col) AS sid", "value AS so")
    return walk.join(orders, walk["term"] == orders["sid"], "inner") \
        .selectExpr("row", "col", "so AS value")


def find_main_stem(cells: DataFrame, meta: GridMeta,
                   threshold: float) -> DataFrame:
    """FindMainStem (stream_network_analysis/find_main_stem.rs:285-430):
    the reference propagates each channel head's label downstream
    keeping the longest tributary length; heads whose label reaches an
    outlet are the main stems. That is exactly the Hack-order-1 set —
    hack_order.rs applies the same greatest-upstream-length main-stem
    rule — so the plan reuses the link-DAG Hack propagation and keeps
    order-1 cells. Deviation (documented): exact-length ties resolve to
    the smaller link label (the Hack rule) where the reference's
    stack-pop order decides; output is 1.0 on the main stem only
    (background cells omitted, the sparse-raster convention used by the
    other stream ops)."""
    return hack_order(cells, meta, threshold).where("value = 1.0")


# The reference publishes fill_pits.rs / breach_pits.rs under the tool
# names FillSingleCellPits and BreachSingleCellPits (fill_pits.rs:29,
# breach_pits.rs:26) — same algorithms, so these are pure name aliases.
fill_single_cell_pits = fill_pits
breach_single_cell_pits = breach_pits


def elev_relative_to_watershed_min_max(cells: DataFrame,
                                       meta: GridMeta) -> DataFrame:
    """ElevRelativeToWatershedMinMax (terrain_analysis/
    elev_relative_to_watershed_min_max.rs): (z - min) / (max - min) *
    100 with the extremes of the cell's watershed (basin = terminal-
    outlet component, as basins()). One basins pass + per-basin stats
    join."""
    b = basins(cells, meta).selectExpr("row", "col", "value AS __b")
    j = cells.join(b, ["row", "col"])
    stats = j.groupBy("__b").agg(F.min("value").alias("__mn"),
                                 F.max("value").alias("__mx"))
    return j.join(stats, "__b").selectExpr(
        "row", "col",
        "CASE WHEN __mx > __mn THEN (value - __mn) / (__mx - __mn) * 100.0 "
        "ELSE 0.0 END AS value")


def upslope_depression_storage(cells: DataFrame, meta: GridMeta,
                               exponent: float = 1.1,
                               max_doublings: int = 24) -> DataFrame:
    """UpslopeDepressionStorage (hydro_analysis/
    upslope_depression_storage.rs): average upslope depression-storage
    depth. depth(u) = filled(u) - z(u); FD8-weighted routing on the
    FILLED surface; output(v) = sum_u depth(u) W(u->v) / sum_u W(u->v)
    (W includes the self path, weight 1 — the reference's per-cell
    area divisor).

    Deviation: the reference fills with an f32 epsilon priority flood;
    this engine uses the exact (epsilon-free, f64) Planchon-Darboux
    fill, so flat-resolution dust differs below the f32 ulp. Weighted
    doubling closure -> rows-only + pytest gate (POWER weights)."""
    c = meta.columns
    filled = fill_depressions(cells, meta)
    nodes = cells.selectExpr(f"(row * {c}L + col) AS id", "row", "col")
    e = fd8_edges(filled, meta, exponent).join(
        nodes.selectExpr("id AS dst"), "dst", "leftsemi")
    s = _path_weight_closure(nodes, e, max_doublings,
                             "upslope_depression_storage")
    depth = (filled.withColumnRenamed("value", "__w")
             .join(cells, ["row", "col"])
             .selectExpr(f"(row * {c}L + col) AS did", "__w - value AS dep"))
    acc = (s.join(depth, s["src"] == F.col("did"))
           .groupBy("dst").agg(F.expr("SUM(w * dep)").alias("sd"),
                               F.expr("SUM(w)").alias("sa")))
    return nodes.join(acc, nodes["id"] == acc["dst"]).selectExpr(
        "row", "col", "sd / sa AS value")


def dinf_mass_flux(cells: DataFrame, meta: GridMeta, loading: DataFrame,
                   efficiency: DataFrame, absorption: DataFrame,
                   max_doublings: int = 24) -> DataFrame:
    """DInfMassFlux (hydro_analysis/dinf_mass_flux.rs): route mass down
    the D-infinity network; flux(c) = (loading(c) + sum of proportioned
    inflows - absorption(c)) * efficiency(c); outflow splits by the
    Tarboton facet proportions.

    Unlike d8_mass_flux (whose GREATEST(.., 0) flooring is nonlinear
    and forces the topological peel), this recurrence is LINEAR:
    with b(v) = (ld(v) - ab(v)) * eff(v) and edge weights scaled by the
    downstream efficiency w'(u->v) = w(u->v) * eff(v),
    flux(v) = b(v) + sum_u w'(u->v) * flux(u) — a weighted path sum,
    so it runs on the shared _path_weight_closure doubling (log(path-
    length) rounds) instead of one peel round per DAG level (the peel
    burned ~4 driver actions x DAG-depth rounds — 65 s at sf0.01 and
    unbounded at cluster-scale DEM diameters). Oracle: the 64-round
    Jacobi replay at ROUND(6), which is plan-shape independent; pytest
    gates eff=1 equivalence with dinf_flow_accumulation and the
    closed-form sloping-plane recurrence."""
    c = meta.columns
    ptr = dinf_pointer(cells, meta)
    nodes = cells.selectExpr(f"(row * {c}L + col) AS id", "row", "col")
    base = (
        nodes
        .join(loading.selectExpr(f"(row * {c}L + col) AS id", "value AS ld"), "id")
        .join(efficiency.selectExpr(f"(row * {c}L + col) AS id", "value AS eff"), "id")
        .join(absorption.selectExpr(f"(row * {c}L + col) AS id", "value AS ab"), "id")
    )
    e = (_dinf_edges(ptr, c)
         .join(base.selectExpr("id AS dst", "eff AS eff_dst"), "dst")
         .selectExpr("src", "dst", "w * eff_dst AS w"))
    s = _path_weight_closure(nodes, e, max_doublings, "dinf_mass_flux")
    b = base.selectExpr("id AS src", "(ld - ab) * eff AS b")
    acc = (s.join(b, "src")
           .selectExpr("dst", "w * b AS f")
           .groupBy("dst").agg(F.sum("f").alias("value")))
    return nodes.join(acc, nodes["id"] == acc["dst"]).select(
        "row", "col", F.col("value").cast("double").alias("value"))


def long_profile_from_points(cells: DataFrame, meta: GridMeta,
                             seeds: DataFrame) -> DataFrame:
    """LongProfileFromPoints (stream_network_analysis/
    long_profile_from_points.rs): from each seed (seed_id, row, col),
    follow the D8 path to its terminal and emit the profile table —
    one row per visited cell with the cumulative distance from the
    seed and the cell elevation. Exact-step closure (distances are one
    float multiply from integer counters)."""
    c = meta.columns
    reach, nodes = _full_closure_with_steps(cells, meta)
    z = cells.selectExpr(f"(row * {c}L + col) AS zid", "value AS z")
    s = seeds.selectExpr("seed_id", f"(row * {c}L + col) AS sid")
    out = (reach.join(s, reach["src"] == F.col("sid"))
           .selectExpr("seed_id", "dst", f"{_len_expr(meta)} AS dist")
           .join(z, F.col("dst") == F.col("zid"))
           .join(nodes, F.col("dst") == nodes["id"])
           .select("seed_id", "row", "col", "dist", "z"))
    nodes.unpersist()
    return out


def stream_slope_continuous(cells: DataFrame, meta: GridMeta,
                            threshold: float) -> DataFrame:
    """StreamSlopeContinuous (stream_network_analysis/
    stream_slope_continuous.rs): per stream cell,
    degrees(atan((mean z of inflowing STREAM neighbors - downstream z)
    / (mean inflowing grid length + downstream grid length))); cells
    with no inflowing stream neighbor use their own z upstream, ptr-0
    cells their own z downstream; dist 0 -> 0."""
    c = meta.columns
    ptr = d8_pointer(cells, meta)
    accum = d8_flow_accumulation_tiled(cells, meta)
    streams = accum.where(f"value >= {float(threshold)!r}") \
                   .selectExpr(f"(row * {c}L + col) AS sid")
    z = cells.selectExpr(f"(row * {c}L + col) AS zid", "value AS z")
    lengths = _grid_lengths(meta)
    e = d8_edges(ptr).selectExpr(
        f"(row * {c}L + col) AS src",
        f"(drow * {c}L + dcol) AS dst",
        "CASE WHEN drow <> row AND dcol <> col THEN "
        f"{lengths[0]!r} WHEN dcol <> col THEN {meta.resolution_x!r} "
        f"ELSE {meta.resolution_y!r} END AS elen")
    # inflowing STREAM neighbors per stream cell
    inflow = (e.join(streams.selectExpr("sid AS src"), "src", "leftsemi")
              .join(streams.selectExpr("sid AS dst"), "dst", "leftsemi")
              .join(z, F.col("src") == F.col("zid"))
              .groupBy("dst").agg(F.avg("z").alias("zin"),
                                  F.avg("elen").alias("din")))
    # downstream target per stream cell
    down = (e.join(streams.selectExpr("sid AS src"), "src", "leftsemi")
            .join(z, F.col("dst") == F.col("zid"))
            .selectExpr("src", "z AS zdn", "elen AS ddn"))
    base = (streams.join(z, streams["sid"] == z["zid"])
            .selectExpr("sid", "z")
            .join(inflow, streams["sid"] == inflow["dst"], "left")
            .join(down, F.col("sid") == down["src"], "left"))
    nodes = ptr.selectExpr(f"(row * {c}L + col) AS nid", "row", "col")
    return (base.join(nodes, F.col("sid") == F.col("nid"))
            .selectExpr(
                "row", "col",
                "CASE WHEN COALESCE(din, 0.0) + COALESCE(ddn, 0.0) > 0.0 "
                "THEN DEGREES(ATAN((COALESCE(zin, z) - COALESCE(zdn, z)) "
                "/ (COALESCE(din, 0.0) + COALESCE(ddn, 0.0)))) "
                "ELSE 0.0 END AS value"))


def insert_dams(cells: DataFrame, meta: GridMeta, dam_pts: DataFrame,
                dam_length: float) -> DataFrame:
    """InsertDams (hydro_analysis/insert_dams.rs): for each dam point,
    scan every cell within half the dam length and all four dam
    orientations, build the dam-crest profile (bidirectional
    running-max fill between shoulders), keep the profile through the
    target with the highest filled crest (strict >, row-major-then-
    direction first wins), and raise the DEM to the crest along the dam
    line (plus the reference's second-row writes). Sequential max-writes
    commute, so the distributed max-merge of per-dam edits is exactly
    the reference's in-place loop. dam_pts: (dam_id, x, y).

    Plan: one bbox gather join (window +/- 2h+1 per dam), one grouped
    numpy kernel per dam, one max-merge back onto the cell table."""
    import math as _m

    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    h = int(_m.floor(dam_length / 2.0))
    margin = 2 * h + 1
    pts = dam_pts.selectExpr(
        "dam_id",
        f"{meta.row_from_y_expr('y')} AS trow",
        f"{meta.col_from_x_expr('x')} AS tcol")
    window = (cells.crossJoin(F.broadcast(pts))
              .where(f"ABS(row - trow) <= {margin} "
                     f"AND ABS(col - tcol) <= {margin}"))
    schema = StructType([
        StructField("row", LongType(), False),
        StructField("col", LongType(), False),
        StructField("newz", DoubleType(), False),
    ])
    dxs = list(D8_DX)
    dys = list(D8_DY)
    perp1 = [2, 3, 4, 1]
    perp2 = [6, 7, 0, 5]

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        zmap = {(int(r), int(c)): v for r, c, v in
                zip(pdf["row"], pdf["col"], pdf["value"])}
        trow = int(pdf["trow"].iloc[0])
        tcol = int(pdf["tcol"].iloc[0])
        L = 2 * h + 1
        best = None  # (height, row, col, dir, filled)
        for row in range(trow - h, trow + h + 1):
            for col in range(tcol - h, tcol + h + 1):
                if (row, col) not in zmap:
                    continue
                for d in range(4):
                    p1, p2 = perp1[d], perp2[d]
                    prof = [0.0] * L
                    prof[h] = zmap[(row, col)]
                    hit, tc = False, 0
                    rn, cn, rn2, cn2 = row, col, row, col
                    for i in range(1, h + 1):
                        rn += dys[p1]
                        cn += dxs[p1]
                        if (rn, cn) == (trow, tcol):
                            hit, tc = True, h + i
                        prof[h + i] = zmap.get((rn, cn), float("-inf"))
                        rn2 += dys[p2]
                        cn2 += dxs[p2]
                        if (rn2, cn2) == (trow, tcol):
                            hit, tc = True, h - i
                        prof[h - i] = zmap.get((rn2, cn2), float("-inf"))
                    if (row, col) == (trow, tcol):
                        hit, tc = True, h
                    if not hit:
                        continue
                    filled = list(prof)
                    for i in range(1, L - 1):
                        if filled[i - 1] > prof[i]:
                            filled[i] = filled[i - 1]
                        else:
                            filled[i] = prof[i]
                    filled[L - 1] = prof[L - 1]
                    for i in range(L - 2, 0, -1):
                        if filled[i + 1] > prof[i]:
                            if filled[i + 1] < filled[i]:
                                filled[i] = filled[i + 1]
                        else:
                            filled[i] = prof[i]
                    if best is None or filled[tc] > best[0]:
                        best = (filled[tc], row, col, d, filled)
        edits = {}

        def put(r, c, v):
            if (r, c) in zmap and v > edits.get((r, c), float("-inf")):
                edits[(r, c)] = v

        if best is not None:
            _, drow, dcol, d, filled = best
            p1, p2 = perp1[d], perp2[d]
            put(drow, dcol, filled[h])
            put(drow - 1, dcol, filled[h])
            rn, cn, rn2, cn2 = drow, dcol, drow, dcol
            for i in range(1, h + 1):
                rn += dys[p1]
                cn += dxs[p1]
                if (rn, cn) in zmap:
                    put(rn, cn, filled[h + i])
                    if d in (0, 2):
                        put(rn - 1, cn, filled[h + i])
                rn2 += dys[p2]
                cn2 += dxs[p2]
                if (rn2, cn2) in zmap:
                    put(rn2, cn2, filled[h - i])
                    if d in (0, 2):
                        put(rn2 - 1, cn2, filled[h - i])
        return pd.DataFrame(
            {"row": [k[0] for k in edits], "col": [k[1] for k in edits],
             "newz": list(edits.values())})

    edits = window.groupBy("dam_id").applyInPandas(kernel, schema=schema)
    merged = edits.groupBy("row", "col").agg(F.max("newz").alias("__dz"))
    return cells.join(merged, ["row", "col"], "left").selectExpr(
        "row", "col", "GREATEST(value, COALESCE(__dz, value)) AS value")


def dam_height_raster(cells: DataFrame, meta: GridMeta, dam_length: float,
                      tile: int = 64) -> DataFrame:
    """The ImpoundmentSizeIndex crest surface (hydro_analysis/
    impoundment_index.rs:180-260): each cell takes the altitude of the
    highest filled dam profile (N-S, NE-SW, E-W, SE-NW through every
    cell, bidirectional running-max fill) that passes through it.
    Tile+halo numpy kernel: dams centred within 2h of a tile can write
    into it, and their profiles read z within another h — halo 2h."""
    import math as _m

    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    h = int(_m.floor(dam_length / 2.0))
    halo = 2 * h
    tiles = (
        cells.withColumn(
            "__t",
            F.expr(
                f"EXPLODE(ARRAY_DISTINCT(ARRAY("
                f"STRUCT(CAST(FLOOR((row - {halo}) / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col - {halo}) / {tile}) AS BIGINT) AS tc), "
                f"STRUCT(CAST(FLOOR((row - {halo}) / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col + {halo}) / {tile}) AS BIGINT) AS tc), "
                f"STRUCT(CAST(FLOOR((row + {halo}) / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col - {halo}) / {tile}) AS BIGINT) AS tc), "
                f"STRUCT(CAST(FLOOR((row + {halo}) / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col + {halo}) / {tile}) AS BIGINT) AS tc))))"
            ),
        )
        .selectExpr("__t.tr AS tr", "__t.tc AS tc", "row", "col", "value")
    )
    schema = StructType([
        StructField("row", LongType(), False),
        StructField("col", LongType(), False),
        StructField("value", DoubleType(), False),
    ])
    dxs = list(D8_DX)
    dys = list(D8_DY)
    perp1 = [2, 3, 4, 1]
    perp2 = [6, 7, 0, 5]
    L = 2 * h + 1

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        tr = int(pdf["tr"].iloc[0])
        tc = int(pdf["tc"].iloc[0])
        r0, c0 = tr * tile - halo, tc * tile - halo
        hh = ww = tile + 2 * halo
        grid = np.full((hh, ww), np.nan)
        rr = pdf["row"].to_numpy() - r0
        cc = pdf["col"].to_numpy() - c0
        ok = (rr >= 0) & (rr < hh) & (cc >= 0) & (cc < ww)
        grid[rr[ok], cc[ok]] = pdf["value"].to_numpy()[ok]
        crest = np.full((hh, ww), -np.inf)
        for r in range(hh):
            for c in range(ww):
                if np.isnan(grid[r, c]):
                    continue
                for d in range(4):
                    p1, p2 = perp1[d], perp2[d]
                    prof = np.full(L, -np.inf)
                    pos = [(r, c)] * L
                    prof[h] = grid[r, c]
                    pos[h] = (r, c)
                    rn, cn, rn2, cn2 = r, c, r, c
                    for i in range(1, h + 1):
                        rn += dys[p1]
                        cn += dxs[p1]
                        if 0 <= rn < hh and 0 <= cn < ww and not np.isnan(grid[rn, cn]):
                            prof[h + i] = grid[rn, cn]
                        pos[h + i] = (rn, cn)
                        rn2 += dys[p2]
                        cn2 += dxs[p2]
                        if 0 <= rn2 < hh and 0 <= cn2 < ww and not np.isnan(grid[rn2, cn2]):
                            prof[h - i] = grid[rn2, cn2]
                        pos[h - i] = (rn2, cn2)
                    filled = prof.copy()
                    for i in range(1, L - 1):
                        if filled[i - 1] > prof[i]:
                            filled[i] = filled[i - 1]
                        else:
                            filled[i] = prof[i]
                    filled[L - 1] = prof[L - 1]
                    for i in range(L - 2, 0, -1):
                        if filled[i + 1] > prof[i]:
                            if filled[i + 1] < filled[i]:
                                filled[i] = filled[i + 1]
                        else:
                            filled[i] = prof[i]
                    for i in range(L):
                        pr, pc = pos[i]
                        if 0 <= pr < hh and 0 <= pc < ww and np.isfinite(filled[i]):
                            if filled[i] > crest[pr, pc]:
                                crest[pr, pc] = filled[i]
        rows_, cols_ = np.meshgrid(np.arange(hh) + r0, np.arange(ww) + c0,
                                   indexing="ij")
        own = ((rows_ >= tr * tile) & (rows_ < (tr + 1) * tile)
               & (cols_ >= tc * tile) & (cols_ < (tc + 1) * tile)
               & ~np.isnan(grid) & np.isfinite(crest))
        return pd.DataFrame({"row": rows_[own], "col": cols_[own],
                             "value": crest[own]})

    return tiles.groupBy("tr", "tc").applyInPandas(kernel, schema=schema)


def impoundment_size_index(cells: DataFrame, meta: GridMeta,
                           dam_length: float) -> DataFrame:
    """ImpoundmentSizeIndex (hydro_analysis/impoundment_index.rs): per
    cell, the reservoir formed by its crest (dam_height_raster):
    flooded upslope cells are those u with reach(u, c) and z(u) <
    crest(c) — the reference's cutoff_z propagation is a pruning of
    exactly this set (any intermediate max-downstream-crest is >= the
    final crest). Output (row, col, dam_height, flooded_cells, volume,
    mean_depth); volume = sum(crest - z_u) * cell area."""
    c = meta.columns
    area = meta.resolution_x * meta.resolution_y
    crest = dam_height_raster(cells, meta, dam_length)
    reach, nodes = _full_closure_with_steps(cells, meta)
    z = cells.selectExpr(f"(row * {c}L + col) AS zid", "value AS z")
    cr = crest.selectExpr(f"(row * {c}L + col) AS cid", "value AS crest")
    flooded = (reach.join(cr, reach["dst"] == F.col("cid"))
               .join(z, reach["src"] == F.col("zid"))
               .where("z < crest")
               .groupBy("dst").agg(
                   F.count(F.lit(1)).alias("n"),
                   F.expr("SUM(crest - z)").alias("sumd")))
    out = (cr.join(flooded, cr["cid"] == flooded["dst"], "left")
           .join(nodes, cr["cid"] == nodes["id"])
           .selectExpr(
               "row", "col", "crest AS dam_height",
               "CAST(COALESCE(n, 0) AS DOUBLE) AS flooded_cells",
               f"COALESCE(sumd, 0.0) * {area!r} AS volume",
               "CASE WHEN COALESCE(n, 0) > 0 THEN sumd / n "
               "ELSE 0.0 END AS mean_depth"))
    nodes.unpersist()
    return out


def burn_streams_at_roads(cells: DataFrame, meta: GridMeta,
                          stream_segments: DataFrame,
                          road_segments: DataFrame,
                          road_width: float) -> DataFrame:
    """BurnStreamsAtRoads (hydro_analysis/burn_streams_at_roads.rs):
    at every stream-road crossing cell, take the minimum DEM elevation
    among stream cells within ceil(road_width / res) / 2 hops along the
    stream, and clamp the crossing plus that neighborhood down to it —
    carving the culvert through the road embankment.

    Deviations: crossings are the exact stream-cell/road-cell
    intersections (the reference adds order-dependent near-miss
    heuristics while rasterizing roads sequentially), and the clamp is
    one simultaneous min pass (the reference's sequential passes only
    differ where crossing neighborhoods overlap; min-clamps commute).
    k-round BFS along the stream mask — k is a handful of cells."""
    from .raster import lines_to_raster

    res = (meta.resolution_x + meta.resolution_y) / 2.0
    k = max(int(math.ceil(road_width / res)) // 2, 1)
    streams_r = lines_to_raster(stream_segments, meta).select("row", "col")
    roads_r = lines_to_raster(road_segments, meta).select("row", "col")
    inter = streams_r.join(roads_r, ["row", "col"], "leftsemi") \
        .selectExpr("row AS irow", "col AS icol")
    # BFS along stream cells, up to k hops from each crossing
    offs = ", ".join(
        f"STRUCT({D8_DY[i]}L AS dr, {D8_DX[i]}L AS dc)" for i in range(8))
    frontier = inter.selectExpr("irow", "icol", "irow AS row", "icol AS col")
    seen = frontier
    for _ in range(k):
        nxt = (frontier.withColumn("__o", F.expr(f"EXPLODE(ARRAY({offs}))"))
               .selectExpr("irow", "icol", "row + __o.dr AS row",
                           "col + __o.dc AS col")
               .join(streams_r, ["row", "col"], "leftsemi")
               .dropDuplicates(["irow", "icol", "row", "col"]))
        frontier = nxt.join(seen, ["irow", "icol", "row", "col"],
                            "left_anti").localCheckpoint(eager=True)
        seen = seen.unionByName(frontier).localCheckpoint(eager=True)
        if frontier.count() == 0:
            break
    withz = seen.join(cells, ["row", "col"])
    minz = withz.groupBy("irow", "icol").agg(F.min("value").alias("mz"))
    clamp = (seen.join(minz, ["irow", "icol"])
             .groupBy("row", "col").agg(F.min("mz").alias("__mz")))
    return cells.join(clamp, ["row", "col"], "left").selectExpr(
        "row", "col", "LEAST(value, COALESCE(__mz, value)) AS value")


def flow_accumulation_full_workflow(cells: DataFrame,
                                    meta: GridMeta) -> DataFrame:
    """FlowAccumulationFullWorkflow (hydro_analysis/
    flow_accum_full_workflow.rs): fill the DEM, derive the D8 pointer
    on the filled surface, accumulate. One row per cell with all three
    products: (row, col, filled_dem, pointer, accum)."""
    filled = fill_depressions(cells, meta)
    ptr = d8_pointer(filled, meta).withColumnRenamed("value", "pointer")
    acc = d8_flow_accumulation_tiled(filled, meta) \
        .withColumnRenamed("value", "accum")
    return (filled.withColumnRenamed("value", "filled_dem")
            .join(ptr, ["row", "col"]).join(acc, ["row", "col"]))


def embankment_mapping(cells: DataFrame, meta: GridMeta,
                       road_segments: DataFrame,
                       search_dist: float = 2.5,
                       min_road_width: float = 6.0,
                       typical_width: float = 30.0,
                       max_height: float = 2.0,
                       max_width: float = 60.0,
                       max_increment: float = 0.05,
                       spillout_slope: float = 4.0,
                       tile: int = 64) -> DataFrame:
    """EmbankmentMapping (terrain_analysis/embankment_mapping.rs:637-848):
    road cells seed at the off-road elevation maximum within the
    search window; a bounded Dijkstra (max_width) spreads distance /
    seed elevation / running |slope|-to-seed (degrees); a second
    priority grow labels embankment cells by the reference's
    road-width / height / increment / spillout-slope criteria. The
    whole computation is local to a max_width-radius ball around road
    cells, so it runs as a tile+halo numpy kernel (halo = max_width +
    the seed window; labels are independent of the tiling).

    Deviation: the reference's output!=1 seed dedup reads an
    order-dependent in-progress raster; this transcription seeds the
    window argmax unconditionally (duplicate seeds are harmless — both
    queues dedup on first visit). Output (row, col, value=1.0) for
    embankment cells; the three width parameters are halved like the
    reference (:428-430). Gate: rows-only + pytest."""
    import heapq
    import math as _m

    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    from .raster import lines_to_raster

    # the reference halves all three width parameters up front (:428-430)
    min_rw = min_road_width / 2.0
    typ_w = typical_width / 2.0
    max_width = max_width / 2.0
    res = meta.resolution_x
    seed_search = int(search_dist / res)
    if seed_search % 2 == 0:
        seed_search += 1
    mid = seed_search // 2
    halo = int(_m.ceil(max_width / min(meta.resolution_x,
                                       meta.resolution_y))) + mid + 2
    roads_r = lines_to_raster(road_segments, meta).selectExpr(
        "row", "col", "CAST(1.0 AS DOUBLE) AS __road")
    joined = cells.join(roads_r, ["row", "col"], "left") \
                  .selectExpr("row", "col", "value",
                              "COALESCE(__road, 0.0) AS road")
    tiles = (
        joined.withColumn(
            "__t",
            F.expr(
                f"EXPLODE(ARRAY_DISTINCT(ARRAY("
                f"STRUCT(CAST(FLOOR((row - {halo}) / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col - {halo}) / {tile}) AS BIGINT) AS tc), "
                f"STRUCT(CAST(FLOOR((row - {halo}) / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col + {halo}) / {tile}) AS BIGINT) AS tc), "
                f"STRUCT(CAST(FLOOR((row + {halo}) / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col - {halo}) / {tile}) AS BIGINT) AS tc), "
                f"STRUCT(CAST(FLOOR((row + {halo}) / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col + {halo}) / {tile}) AS BIGINT) AS tc))))"
            ),
        ).selectExpr("__t.tr AS tr", "__t.tc AS tc", "row", "col",
                     "value", "road")
    )
    schema = StructType([
        StructField("row", LongType(), False),
        StructField("col", LongType(), False),
        StructField("value", DoubleType(), False),
    ])
    dxs, dys = list(D8_DX), list(D8_DY)
    diag = _m.sqrt(meta.resolution_x ** 2 + meta.resolution_y ** 2)
    dist_arr = [diag, meta.resolution_x, diag, meta.resolution_y,
                diag, meta.resolution_x, diag, meta.resolution_y]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        tr = int(pdf["tr"].iloc[0])
        tc = int(pdf["tc"].iloc[0])
        r0, c0 = tr * tile - halo, tc * tile - halo
        hh = ww = tile + 2 * halo
        z = np.full((hh, ww), np.nan)
        road = np.zeros((hh, ww), dtype=bool)
        rr = pdf["row"].to_numpy() - r0
        cc = pdf["col"].to_numpy() - c0
        ok = (rr >= 0) & (rr < hh) & (cc >= 0) & (cc < ww)
        z[rr[ok], cc[ok]] = pdf["value"].to_numpy()[ok]
        road[rr[ok], cc[ok]] = pdf["road"].to_numpy()[ok] > 0.0
        out = np.zeros((hh, ww), dtype=bool)
        distg = np.full((hh, ww), -1.0)
        seedel = np.full((hh, ww), np.nan)
        maxslope = np.zeros((hh, ww))
        pq_d, pq_g = [], []
        for r in range(hh):
            for c in range(ww):
                if not road[r, c] or np.isnan(z[r, c]):
                    continue
                maxval, mp = z[r, c], (r, c)
                for dr in range(-mid, mid + 1):
                    for dc in range(-mid, mid + 1):
                        rn, cn = r + dr, c + dc
                        if (0 <= rn < hh and 0 <= cn < ww
                                and not road[rn, cn]
                                and not np.isnan(z[rn, cn])
                                and z[rn, cn] > maxval):
                            maxval, mp = z[rn, cn], (rn, cn)
                out[mp] = True
                distg[mp] = 0.0
                seedel[mp] = maxval
                maxslope[mp] = 0.0
                heapq.heappush(pq_d, (0.0, mp[0], mp[1]))
                heapq.heappush(pq_g, (0.0, mp[0], mp[1]))
        while pq_d:
            d0, r, c = heapq.heappop(pq_d)
            sz = seedel[r, c]
            for n in range(8):
                rn, cn = r + dys[n], c + dxs[n]
                if not (0 <= rn < hh and 0 <= cn < ww):
                    continue
                if np.isnan(z[rn, cn]) or distg[rn, cn] >= 0.0:
                    continue
                d = d0 + dist_arr[n]
                if d < max_width:
                    distg[rn, cn] = d
                    seedel[rn, cn] = sz
                    es = _m.atan((sz - z[rn, cn]) / d)
                    maxslope[rn, cn] = max(_m.degrees(abs(es)),
                                           maxslope[r, c])
                    heapq.heappush(pq_d, (d, rn, cn))
        while pq_g:
            _d0, r, c = heapq.heappop(pq_g)
            zc = z[r, c]
            for n in range(8):
                rn, cn = r + dys[n], c + dxs[n]
                if not (0 <= rn < hh and 0 <= cn < ww):
                    continue
                if np.isnan(z[rn, cn]) or out[rn, cn]:
                    continue
                d = distg[rn, cn]
                if d < 0.0:
                    continue
                zn = z[rn, cn]
                grow = False
                if d <= min_rw:
                    grow = True
                elif d <= max_width:
                    sz = seedel[rn, cn]
                    eh = sz - zn
                    es = _m.degrees(_m.atan(eh / d))
                    if (d <= typ_w and zc - zn > -max_increment
                            and eh <= max_height):
                        if zn <= zc:
                            grow = True
                        elif maxslope[rn, cn] < spillout_slope:
                            grow = True
                    elif maxslope[rn, cn] - abs(es) <= 1.0 and es >= 0.0:
                        grow = True
                if grow:
                    out[rn, cn] = True
                    heapq.heappush(pq_g, (d, rn, cn))
        rows_, cols_ = np.meshgrid(np.arange(hh) + r0, np.arange(ww) + c0,
                                   indexing="ij")
        own = ((rows_ >= tr * tile) & (rows_ < (tr + 1) * tile)
               & (cols_ >= tc * tile) & (cols_ < (tc + 1) * tile) & out)
        return pd.DataFrame({"row": rows_[own], "col": cols_[own],
                             "value": np.ones(own.sum())})

    return tiles.groupBy("tr", "tc").applyInPandas(kernel, schema=schema)
