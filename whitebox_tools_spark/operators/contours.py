"""ContoursFromRaster and RasterToVectorLines — the raster->line half of
raster<->vector conversion.

Reference anchors (semantics):
- ContoursFromRaster (terrain_analysis/contours_from_raster.rs): iso-
  lines at regular intervals, linear edge interpolation.
- RasterToVectorLines (data_tools/raster_to_vector_lines.rs): trace
  1-cell-wide rasterized line features back to polylines.

Plans:
- contours: marching squares per TILE with a 1-cell halo (each 2x2 quad
  is owned by its top-left cell's tile). An edge crossing is computed
  from the same two cell values in both adjacent quads, so the floats
  are identical and the per-level chain assembly can stitch on exact
  equality — groupBy(level) + applyInPandas (levels are independent;
  within a level, marching-squares vertices have degree <= 2 so chains
  are simple walks).
- raster->lines: adjacent same-valued cells become unit segments (one
  self-join on neighbor offsets), chained per value the same way.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StructField,
                               StructType)

from ..functions.raster_math import GridMeta
from ..plans.driver import local_frame

_SEG_SCHEMA = StructType([
    StructField("level", DoubleType(), False),
    StructField("x1", DoubleType(), False),
    StructField("y1", DoubleType(), False),
    StructField("x2", DoubleType(), False),
    StructField("y2", DoubleType(), False),
])

_LINE_SCHEMA = StructType([
    StructField("level", DoubleType(), False),
    StructField("line_id", LongType(), False),
    StructField("vertex_idx", IntegerType(), False),
    StructField("x", DoubleType(), False),
    StructField("y", DoubleType(), False),
])

# marching-squares case table: corner bits (tl, tr, br, bl) with
# "inside" = value >= level; entries are lists of (edge_a, edge_b)
# segments with edges 0=top 1=right 2=bottom 3=left. Saddles (5, 10)
# use the fixed standard resolution.
_MS_CASES = {
    0: [], 15: [],
    1: [(3, 2)], 14: [(3, 2)],
    2: [(2, 1)], 13: [(2, 1)],
    3: [(3, 1)], 12: [(3, 1)],
    4: [(0, 1)], 11: [(0, 1)],
    6: [(0, 2)], 9: [(0, 2)],
    7: [(3, 0)], 8: [(3, 0)],
    5: [(3, 0), (2, 1)],
    10: [(0, 1), (3, 2)],
}


def contour_segments(cells: DataFrame, meta: GridMeta, base: float,
                     interval: float, tile: int = 64) -> DataFrame:
    """Marching-squares segments per level (level = base + k*interval
    covering the raster's range). Returns (level, x1, y1, x2, y2)."""
    stats = cells.agg(F.min("value"), F.max("value")).collect()[0]
    zmin, zmax = float(stats[0]), float(stats[1])
    import math

    k0 = int(math.ceil((zmin - base) / interval))
    k1 = int(math.floor((zmax - base) / interval))
    levels = [base + k * interval for k in range(k0, k1 + 1)]
    if not levels:
        return local_frame(cells.sparkSession, [], _SEG_SCHEMA)
    west, north = meta.west, meta.north
    rx, ry = meta.resolution_x, meta.resolution_y

    # quad (r, c) needs cells (r..r+1, c..c+1); owner tile of the quad is
    # floor(r/tile), floor(c/tile) -> scatter each cell to its own tile
    # and the tiles owning quads that reference it (left/up by one)
    tiles = cells.selectExpr(
        "row", "col", "value",
        f"EXPLODE(ARRAY_DISTINCT(ARRAY("
        f"STRUCT(CAST(FLOOR(row / {tile}) AS BIGINT) AS tr, CAST(FLOOR(col / {tile}) AS BIGINT) AS tc), "
        f"STRUCT(CAST(FLOOR((row - 1) / {tile}) AS BIGINT) AS tr, CAST(FLOOR(col / {tile}) AS BIGINT) AS tc), "
        f"STRUCT(CAST(FLOOR(row / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col - 1) / {tile}) AS BIGINT) AS tc), "
        f"STRUCT(CAST(FLOOR((row - 1) / {tile}) AS BIGINT) AS tr, CAST(FLOOR((col - 1) / {tile}) AS BIGINT) AS tc)"
        f"))) AS __t",
    ).selectExpr("__t.tr AS tr", "__t.tc AS tc", "row", "col", "value")

    lv = levels
    tl = tile

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # vectorized marching squares (r06): the former per-quad Python
        # loop ran levels x tile^2 iterations with numpy slicing inside;
        # this gathers quads by case value and runs each case's edge
        # interpolation as ONE elementwise pass. Every float op — the
        # >= level corner tests, t = (level - a) / (b - a), the center
        # coordinates, the lerp — is the identical scalar IEEE sequence,
        # so segments are bit-equal to the loop (and the SQL oracle);
        # only the row order within a tile changes, and every consumer
        # (the oracle diff, the canonical chain walk) sorts first.
        tr, tc = int(key[0]), int(key[1])
        r0, c0 = tr * tl, tc * tl
        h = w = tl + 1
        grid = np.full((h, w), np.nan)
        rr = pdf["row"].to_numpy() - r0
        cc = pdf["col"].to_numpy() - c0
        ok = (rr >= 0) & (rr < h) & (cc >= 0) & (cc < w)
        grid[rr[ok], cc[ok]] = pdf["value"].to_numpy()[ok]

        A = grid[:-1, :-1]   # tl corner of each quad
        B = grid[:-1, 1:]    # tr
        C = grid[1:, 1:]     # br
        D = grid[1:, :-1]    # bl
        valid = ~(np.isnan(A) | np.isnan(B) | np.isnan(C) | np.isnan(D))
        qr_i, qc_i = np.nonzero(valid)
        cols = ("level", "x1", "y1", "x2", "y2")
        if len(qr_i) == 0:
            return pd.DataFrame({k: pd.Series([], dtype="float64")
                                 for k in cols})
        gr = (r0 + qr_i).astype(np.float64)
        gc = (c0 + qc_i).astype(np.float64)
        tl_v, tr_v = A[qr_i, qc_i], B[qr_i, qc_i]
        br_v, bl_v = C[qr_i, qc_i], D[qr_i, qc_i]

        def xy(r, c):
            return (west + (c + 0.5) * rx, north - (r + 0.5) * ry)

        chunks = []
        for level in lv:
            case = (((tl_v >= level).astype(np.int8) << 3)
                    | ((tr_v >= level).astype(np.int8) << 2)
                    | ((br_v >= level).astype(np.int8) << 1)
                    | (bl_v >= level).astype(np.int8))
            for cs, segs in _MS_CASES.items():
                if not segs:
                    continue
                m = case == cs
                if not m.any():
                    continue
                mgr, mgc = gr[m], gc[m]
                va = {"tl": tl_v[m], "tr": tr_v[m],
                      "br": br_v[m], "bl": bl_v[m]}

                def edge_pt(e):
                    # interpolate along the edge between cell centers;
                    # t from the SAME ordered value pair on both sides
                    # of a shared edge (row-major corner order) so
                    # floats match across quads
                    if e == 0:    # top
                        a, b = va["tl"], va["tr"]
                        (xa, ya), (xb, yb) = xy(mgr, mgc), xy(mgr, mgc + 1)
                    elif e == 2:  # bottom
                        a, b = va["bl"], va["br"]
                        (xa, ya), (xb, yb) = (xy(mgr + 1, mgc),
                                              xy(mgr + 1, mgc + 1))
                    elif e == 3:  # left
                        a, b = va["tl"], va["bl"]
                        (xa, ya), (xb, yb) = xy(mgr, mgc), xy(mgr + 1, mgc)
                    else:         # right
                        a, b = va["tr"], va["br"]
                        (xa, ya), (xb, yb) = (xy(mgr, mgc + 1),
                                              xy(mgr + 1, mgc + 1))
                    t = (level - a) / (b - a)
                    return (xa + t * (xb - xa), ya + t * (yb - ya))

                for ea, eb in segs:
                    (px, py), (qx, qy) = edge_pt(ea), edge_pt(eb)
                    keep = ~((px == qx) & (py == qy))
                    if not keep.any():
                        continue
                    n = int(keep.sum())
                    chunks.append(np.column_stack([
                        np.full(n, float(level)), px[keep], py[keep],
                        qx[keep], qy[keep]]))
        if not chunks:
            return pd.DataFrame({k: pd.Series([], dtype="float64")
                                 for k in cols})
        allseg = np.concatenate(chunks)
        return pd.DataFrame({k: allseg[:, i] for i, k in enumerate(cols)})

    return tiles.groupBy("tr", "tc").applyInPandas(kernel, schema=_SEG_SCHEMA)


def _chain(segs: list) -> list:
    """Chain undirected segments into polylines; open paths first (from
    degree-1 endpoints), then cycles.

    FULLY canonical: segments are sorted before indexing and every
    adjacency list is sorted, so the walk consumes edges in vertex
    order regardless of the caller's row order. Without this, any
    vertex of degree >= 3 (junctions in raster_to_vector_lines) made
    the decomposition depend on the Spark partition/shuffle layout —
    observed as a 696-vs-693-row flicker across
    spark.sql.shuffle.partitions settings."""
    segs = sorted(segs)
    adj = defaultdict(list)
    for i, (p, q) in enumerate(segs):
        adj[p].append((q, i))
        adj[q].append((p, i))
    for lst in adj.values():
        lst.sort()
    used = [False] * len(segs)
    lines = []

    def walk(start):
        path = [start]
        cur = start
        while True:
            nxt = None
            for (q, i) in adj[cur]:
                if not used[i]:
                    used[i] = True
                    nxt = q
                    break
            if nxt is None:
                break
            path.append(nxt)
            cur = nxt
        return path

    ends = sorted(p for p, lst in adj.items() if len(lst) == 1)
    for p in ends:
        if any(not used[i] for _q, i in adj[p]):
            lines.append(walk(p))
    for p in sorted(adj):
        if any(not used[i] for _q, i in adj[p]):
            lines.append(walk(p))
    return lines


def contours_from_raster(cells: DataFrame, meta: GridMeta, base: float,
                         interval: float, tile: int = 64) -> DataFrame:
    """Contour polylines: (level, line_id, vertex_idx, x, y); line_id
    numbered by each line's lexicographically smallest vertex."""
    segs = contour_segments(cells, meta, base, interval, tile)

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        level = float(key[0])
        seglist = [((r.x1, r.y1), (r.x2, r.y2)) for r in pdf.itertuples()]
        lines = _chain(seglist)
        lines.sort(key=lambda ln: min(ln))
        rows = []
        for li, ln in enumerate(lines):
            for vi, (x, y) in enumerate(ln):
                rows.append((level, li, vi, x, y))
        return pd.DataFrame(rows, columns=["level", "line_id", "vertex_idx", "x", "y"])

    return segs.groupBy("level").applyInPandas(assemble, schema=_LINE_SCHEMA)


def raster_to_vector_lines(cells: DataFrame, meta: GridMeta,
                           background: float = 0.0) -> DataFrame:
    """RasterToVectorLines: cells sharing a non-background value chain
    into polylines through 8-neighbor adjacency (diagonal links are
    dropped where an orthogonal 2-step path exists, the usual thinning
    rule). Output (value, line_id, vertex_idx, x, y) at cell centers."""
    fg = cells.where(f"value <> {background!r}")
    offs = [(0, 1), (1, 0), (1, 1), (1, -1)]  # forward half of D8
    pairs = ", ".join(f"STRUCT(row + ({dr}L) AS nrow, col + ({dc}L) AS ncol)"
                      for dr, dc in offs)
    cand = fg.selectExpr("row", "col", "value",
                         f"EXPLODE(ARRAY({pairs})) AS __n")
    nb = fg.selectExpr("row AS nrow", "col AS ncol", "value AS nvalue")
    edges = (
        cand.join(nb, (F.col("__n.nrow") == F.col("nrow"))
                  & (F.col("__n.ncol") == F.col("ncol"))
                  & (F.col("value") == F.col("nvalue")))
        .selectExpr("value", "row AS r1", "col AS c1", "nrow AS r2", "ncol AS c2")
    )
    # drop diagonal links that shortcut an orthogonal elbow: (r1,c2) or
    # (r2,c1) present with the same value
    corner = fg.selectExpr("row AS kr", "col AS kc", "value AS kv")
    diag = edges.where("ABS(r1 - r2) = 1 AND ABS(c1 - c2) = 1")
    ortho = edges.where("NOT (ABS(r1 - r2) = 1 AND ABS(c1 - c2) = 1)")
    diag_keep = (
        diag.join(corner, (F.col("kr") == F.col("r1")) & (F.col("kc") == F.col("c2"))
                  & (F.col("kv") == F.col("value")), "left_anti")
        .join(corner, (F.col("kr") == F.col("r2")) & (F.col("kc") == F.col("c1"))
              & (F.col("kv") == F.col("value")), "left_anti")
    )
    all_edges = ortho.unionByName(diag_keep)
    west, north = meta.west, meta.north
    rx, ry = meta.resolution_x, meta.resolution_y

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        value = float(key[0])
        segs = [((r.r1, r.c1), (r.r2, r.c2)) for r in pdf.itertuples()]
        lines = _chain(segs)
        lines.sort(key=lambda ln: min(ln))
        rows = []
        for li, ln in enumerate(lines):
            for vi, (r, c) in enumerate(ln):
                rows.append((value, li, vi,
                             west + (c + 0.5) * rx, north - (r + 0.5) * ry))
        return pd.DataFrame(rows, columns=["value", "line_id", "vertex_idx", "x", "y"])

    schema = StructType([
        StructField("value", DoubleType(), False),
        StructField("line_id", LongType(), False),
        StructField("vertex_idx", IntegerType(), False),
        StructField("x", DoubleType(), False),
        StructField("y", DoubleType(), False),
    ])
    return all_edges.groupBy("value").applyInPandas(assemble, schema=schema)


def contours_from_points(points: DataFrame, meta: GridMeta, base: float,
                         interval: float, tile: int = 32,
                         halo: float | None = None) -> DataFrame:
    """ContoursFromPoints (terrain_analysis/contours_from_points.rs
    semantics): TIN the point layer, then cut each triangle with every
    contour level between its vertex-z extremes — each crossing yields
    one segment with endpoints linearly interpolated on the two crossed
    edges.

    Plan: construct_vector_tin (tile+halo Delaunay, centroid-dedup) ->
    per-triangle level cut as PURE SQL (explode(sequence) over levels +
    the three edge interpolations) — the cutting stage is codegen, no
    Python. Output: (level, x1, y1, x2, y2) segments."""
    from .tin import construct_vector_tin

    tris = construct_vector_tin(points, meta, tile=tile, halo=halo)
    zmin = "LEAST(az, bz, cz)"
    zmax = "GREATEST(az, bz, cz)"
    k0 = f"CAST(CEIL(({zmin} - {base!r}) / {interval!r}) AS BIGINT)"
    k1 = f"CAST(FLOOR(({zmax} - {base!r}) / {interval!r}) AS BIGINT)"
    lev = tris.selectExpr(
        "ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz",
        f"EXPLODE(SEQUENCE({k0}, {k1})) AS k",
    ).selectExpr(
        "ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz",
        f"({base!r} + CAST(k AS DOUBLE) * {interval!r}) AS level",
    )
    # an edge (p, q) crosses the level iff exactly one endpoint is below;
    # interpolation t = (level - pz) / (qz - pz)
    edges = []
    for p, q in (("a", "b"), ("b", "c"), ("a", "c")):
        t = f"((level - {p}z) / ({q}z - {p}z))"
        edges.append(
            f"IF(({p}z < level) <> ({q}z < level), "
            f"STRUCT({p}x + ({q}x - {p}x) * {t} AS x, "
            f"{p}y + ({q}y - {p}y) * {t} AS y), NULL)")
    arr = f"FILTER(ARRAY({', '.join(edges)}), e -> e IS NOT NULL)"
    return lev.selectExpr("level", f"{arr} AS pts") \
        .where("SIZE(pts) = 2") \
        .selectExpr("level", "pts[0].x AS x1", "pts[0].y AS y1",
                    "pts[1].x AS x2", "pts[1].y AS y2")


def topographic_hachures(cells: DataFrame, meta: GridMeta,
                         spacing: int = 3, min_slope_deg: float = 1.0,
                         length_frac: float = 0.8) -> DataFrame:
    """TopographicHachures (whitebox-plugins/src/topographic_hachures/
    semantics, simplified stroke model): short downslope strokes on a
    subsampled lattice, drawn where slope exceeds a minimum — stroke
    direction is the D8-free gradient aspect, length scales with the
    cell size. Output (x1, y1, x2, y2, slope_deg) segments.

    Pure codegen: 3x3 pivot -> Sobel gradient -> lattice filter ->
    stroke endpoints via the unit gradient vector."""
    from .focal import surface_normals

    n = surface_normals(cells, meta)
    length = length_frac * spacing * (meta.resolution_x + meta.resolution_y) / 2.0
    gx = "(-nx / nz)"  # dz/dx
    gy = "(-ny / nz)"  # dz/dy (surface_normals: nx = -fx/|n| etc.)
    mag = f"SQRT(({gx}) * ({gx}) + ({gy}) * ({gy}))"
    xc = meta.x_center_expr("col")
    yc = meta.y_center_expr("row")
    return n.where(f"row % {spacing} = 0 AND col % {spacing} = 0") \
        .selectExpr(
            "row", "col", f"{xc} AS x0", f"{yc} AS y0",
            f"({gx}) / NULLIF({mag}, 0.0) AS ux",
            f"({gy}) / NULLIF({mag}, 0.0) AS uy",
            f"DEGREES(ATAN({mag})) AS slope_deg",
        ).where(f"slope_deg >= {min_slope_deg!r}") \
        .selectExpr(
            "x0 AS x1", "y0 AS y1",
            # downslope: -gradient direction; grid y decreases with row,
            # so the world-space y step negates the row-space dz/dy
            f"x0 - ux * {length!r} AS x2",
            f"y0 + uy * {length!r} AS y2",
            "slope_deg",
        )
