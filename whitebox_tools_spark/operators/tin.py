"""TIN gridding — Delaunay-based interpolation (M5 family).

Reference anchors:
- TINGridding / LidarTINGridding: gis_analysis/tin_gridding.rs,
  lidar_analysis/lidar_tin_gridding.rs
- Delaunay kernel: whitebox-common/src/algorithms/delaunay_triangulation.rs:510
- ConstructVectorTIN: gis_analysis/construct_vector_tin.rs

Spark plan (SURVEY §2.3 "per-tile Delaunay with halo points"): points
scatter to their tile plus every tile whose halo reaches them; one
applyInPandas kernel per tile triangulates its local point set
(Bowyer-Watson, pure numpy — no scipy in this container) and
barycentric-interpolates the tile's own cell centers. With a halo of a
few mean point spacings, local triangles near the tile interior match
the global triangulation almost everywhere; the exact-parity contract
for TIN is property-based (a TIN reproduces any LINEAR surface exactly,
regardless of triangulation choice), not bit-based.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions.raster_math import GridMeta
from ..plans.driver import local_frame


def _circumcircle(P: np.ndarray, a: int, b: int, c: int) -> tuple[float, float, float]:
    ax, ay = P[a]
    bx, by = P[b]
    cx, cy = P[c]
    d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
    if d == 0.0:
        return (0.0, 0.0, np.inf)  # degenerate: always invalidated
    a2, b2, c2 = ax * ax + ay * ay, bx * bx + by * by, cx * cx + cy * cy
    ux = (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d
    uy = (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d
    return (ux, uy, (ax - ux) ** 2 + (ay - uy) ** 2)


def delaunay(pts: np.ndarray) -> np.ndarray:
    """Bowyer-Watson incremental Delaunay with vectorized circumcircle
    tests (cached centers/radii). pts: (n, 2) float64. Returns (m, 3)
    int32 triangle vertex indices — sized for per-tile point counts."""
    n = len(pts)
    if n < 3:
        return np.empty((0, 3), dtype=np.int32)
    cx, cy = pts[:, 0].mean(), pts[:, 1].mean()
    r = max(np.abs(pts - [cx, cy]).max(), 1.0) * 16.0
    sup = np.array([[cx - 2 * r, cy - r], [cx + 2 * r, cy - r], [cx, cy + 2 * r]])
    P = np.vstack([pts, sup])

    cap = 8 * n + 16
    tri = np.empty((cap, 3), dtype=np.int32)
    cc = np.empty((cap, 3), dtype=np.float64)  # (ux, uy, r2)
    alive = np.zeros(cap, dtype=bool)
    tri[0] = (n, n + 1, n + 2)
    cc[0] = _circumcircle(P, n, n + 1, n + 2)
    alive[0] = True
    m = 1  # high-water mark

    for i in range(n):
        px, py = P[i]
        dx = cc[:m, 0] - px
        dy = cc[:m, 1] - py
        bad = alive[:m] & (dx * dx + dy * dy < cc[:m, 2])
        bad_idx = np.nonzero(bad)[0]
        if len(bad_idx) == 0:
            continue  # duplicate/degenerate point: skip
        edge_count: dict[tuple[int, int], int] = {}
        for ti in bad_idx:
            t0, t1, t2 = tri[ti]
            for u, v in ((t0, t1), (t1, t2), (t2, t0)):
                k = (u, v) if u < v else (v, u)
                edge_count[k] = edge_count.get(k, 0) + 1
        alive[bad_idx] = False
        free = list(bad_idx)  # reuse dead slots first
        for (u, v), cnt in edge_count.items():
            if cnt != 1:
                continue
            slot = free.pop() if free else m
            if slot == m:
                if m >= cap:
                    cap *= 2
                    tri = np.resize(tri, (cap, 3))
                    cc = np.resize(cc, (cap, 3))
                    alive = np.resize(alive, cap)
                    alive[m:] = False
                m += 1
            tri[slot] = (u, v, i)
            cc[slot] = _circumcircle(P, u, v, i)
            alive[slot] = True

    keep = alive[:m] & (tri[:m].max(axis=1) < n)
    return tri[:m][keep].copy()


def interpolate_tin(pts: np.ndarray, z: np.ndarray, tris: np.ndarray,
                    qx: np.ndarray, qy: np.ndarray) -> np.ndarray:
    """Barycentric interpolation; NaN outside the triangulation."""
    out = np.full(len(qx), np.nan)
    if len(tris) == 0:
        return out
    todo = np.ones(len(qx), dtype=bool)
    for t in tris:
        if not todo.any():
            break
        a, b, c = pts[t[0]], pts[t[1]], pts[t[2]]
        det = (b[1] - c[1]) * (a[0] - c[0]) + (c[0] - b[0]) * (a[1] - c[1])
        if det == 0:
            continue
        idx = np.nonzero(todo)[0]
        l1 = ((b[1] - c[1]) * (qx[idx] - c[0]) + (c[0] - b[0]) * (qy[idx] - c[1])) / det
        l2 = ((c[1] - a[1]) * (qx[idx] - c[0]) + (a[0] - c[0]) * (qy[idx] - c[1])) / det
        l3 = 1.0 - l1 - l2
        eps = -1e-12
        inside = (l1 >= eps) & (l2 >= eps) & (l3 >= eps)
        hit = idx[inside]
        out[hit] = (l1[inside] * z[t[0]] + l2[inside] * z[t[1]] + l3[inside] * z[t[2]])
        todo[hit] = False
    return out


def tin_gridding(points: DataFrame, meta: GridMeta, tile: int = 32,
                 halo: float | None = None,
                 value_col: str = "value") -> DataFrame:
    """Grid cell values by TIN interpolation over the point layer.
    Output: (row, col, value) for cells inside the triangulation.

    Round 5: interpolates from the CERTIFIED exact global Delaunay
    (delaunay_certified) with a pure-SQL barycentric stage — the output
    is independent of the tile/halo parameters and the shuffle layout,
    and the interpolation runs as whole-stage codegen (no Python).
    Triangles explode to the grid cells their bbox covers (Delaunay
    triangles of a quasi-uniform layer are local, so the fan-out is
    O(triangle area / cell area + perimeter)); the containing triangle
    per cell is the canonically smallest vertex key — on shared edges
    the linear interpolant is continuous, so the choice settles only
    fp ulps. The barycentric formulas are the exact text of the former
    numpy kernel (interpolate_tin), eps = -1e-12 included."""
    from pyspark.sql import Window

    tris = delaunay_certified(points, meta, tile=tile, halo=halo,
                              value_col=value_col)
    rexp, cexp = meta.row_from_y_expr, meta.col_from_x_expr
    spread = tris.selectExpr(
        "*",
        f"GREATEST(0L, {rexp('GREATEST(ay, by, cy)')} - 1L) AS __r0",
        f"LEAST({meta.rows - 1}L, {rexp('LEAST(ay, by, cy)')} + 1L) AS __r1",
        f"GREATEST(0L, {cexp('LEAST(ax, bx, cx)')} - 1L) AS __c0",
        f"LEAST({meta.columns - 1}L, {cexp('GREATEST(ax, bx, cx)')} + 1L) "
        "AS __c1",
    ).where("__r0 <= __r1 AND __c0 <= __c1")
    cand = spread.selectExpr(
        "ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz", "__c0", "__c1",
        "EXPLODE(SEQUENCE(__r0, __r1)) AS row",
    ).selectExpr(
        "ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz", "row",
        "EXPLODE(SEQUENCE(__c0, __c1)) AS col",
    )
    qx, qy = meta.x_center_expr("col"), meta.y_center_expr("row")
    det = "((by - cy) * (ax - cx) + (cx - bx) * (ay - cy))"
    l1 = f"(((by - cy) * ({qx} - cx) + (cx - bx) * ({qy} - cy)) / {det})"
    l2 = f"(((cy - ay) * ({qx} - cx) + (ax - cx) * ({qy} - cy)) / {det})"
    scored = (
        cand.where(f"{det} != 0.0")
        .selectExpr("row", "col", "az", "bz", "cz",
                    "ax", "ay", "bx", "by", "cx", "cy",
                    f"{l1} AS __l1", f"{l2} AS __l2")
        .selectExpr("*", "(1.0 - __l1 - __l2) AS __l3")
        .where("__l1 >= -1e-12 AND __l2 >= -1e-12 AND __l3 >= -1e-12")
    )
    w = Window.partitionBy("row", "col").orderBy(
        "ax", "ay", "bx", "by", "cx", "cy")
    return (
        scored.withColumn("__rk", F.row_number().over(w)).where("__rk = 1")
        .selectExpr("row", "col", "__l1 * az + __l2 * bz + __l3 * cz AS value")
    )


# ---------------------------------------------------------------------------
# Round-3: shared tile scatter + NaturalNeighbour / RBF / ConstructVectorTIN
# ---------------------------------------------------------------------------


def _scatter_to_tiles(points: DataFrame, meta: GridMeta, tile: int,
                      halo: float, value_col: str = "value") -> DataFrame:
    """(tx, ty, x, y, z): every point replicated to each tile whose
    halo-expanded box contains it (same plan as tin_gridding)."""
    tw_x = tile * meta.resolution_x
    tw_y = tile * meta.resolution_y
    n_tx = -(-meta.columns // tile)
    n_ty = -(-meta.rows // tile)
    pts = points.selectExpr("x", "y", f"{value_col} AS z").selectExpr(
        "x", "y", "z",
        f"CAST(FLOOR((x - {meta.west!r} - {halo!r}) / {tw_x!r}) AS INT) AS tx0",
        f"CAST(FLOOR((x - {meta.west!r} + {halo!r}) / {tw_x!r}) AS INT) AS tx1",
        f"CAST(FLOOR(({meta.north!r} - y - {halo!r}) / {tw_y!r}) AS INT) AS ty0",
        f"CAST(FLOOR(({meta.north!r} - y + {halo!r}) / {tw_y!r}) AS INT) AS ty1",
    )
    return pts.selectExpr(
        "x", "y", "z",
        f"EXPLODE(FILTER(FLATTEN(TRANSFORM(SEQUENCE(tx0, tx1), tx -> "
        f"TRANSFORM(SEQUENCE(ty0, ty1), ty -> STRUCT(tx, ty)))), "
        f"t -> t.tx >= 0 AND t.tx < {n_tx} AND t.ty >= 0 AND t.ty < {n_ty})) AS t",
    ).selectExpr("t.tx AS tx", "t.ty AS ty", "x", "y", "z")


def _default_halo(points: DataFrame, meta: GridMeta, mult: float = 4.0) -> float:
    n = max(points.count(), 1)
    area = (meta.east - meta.west) * (meta.north - meta.south)
    return mult * (area / n) ** 0.5


def circumcenters(P: np.ndarray, tris: np.ndarray) -> np.ndarray:
    """(m, 3) array of (ux, uy, r2) for each triangle — vectorized."""
    if len(tris) == 0:
        return np.empty((0, 3))
    a, b, c = P[tris[:, 0]], P[tris[:, 1]], P[tris[:, 2]]
    d = 2.0 * (a[:, 0] * (b[:, 1] - c[:, 1]) + b[:, 0] * (c[:, 1] - a[:, 1])
               + c[:, 0] * (a[:, 1] - b[:, 1]))
    d = np.where(d == 0.0, np.nan, d)
    a2 = (a ** 2).sum(1)
    b2 = (b ** 2).sum(1)
    c2 = (c ** 2).sum(1)
    ux = (a2 * (b[:, 1] - c[:, 1]) + b2 * (c[:, 1] - a[:, 1])
          + c2 * (a[:, 1] - b[:, 1])) / d
    uy = (a2 * (c[:, 0] - b[:, 0]) + b2 * (a[:, 0] - c[:, 0])
          + c2 * (b[:, 0] - a[:, 0])) / d
    r2 = (a[:, 0] - ux) ** 2 + (a[:, 1] - uy) ** 2
    out = np.column_stack([ux, uy, r2])
    out[np.isnan(d)] = (0.0, 0.0, -1.0)  # degenerate: never contains a query
    return out


def _shoelace(px: np.ndarray, py: np.ndarray) -> float:
    return 0.5 * abs(np.dot(px, np.roll(py, -1)) - np.dot(py, np.roll(px, -1)))


def natural_neighbour_values(P: np.ndarray, Z: np.ndarray, tris: np.ndarray,
                             qx: np.ndarray, qy: np.ndarray) -> np.ndarray:
    """Sibson natural-neighbour interpolation at query points
    (gis_analysis/natural_neighbour_interpolation.rs semantics).

    For each query q: the Bowyer-Watson cavity (triangles whose
    circumcircle contains q) defines q's natural neighbours; the Sibson
    weight of neighbour v is the area v's Voronoi cell loses to q's,
    which is the CONVEX polygon spanned by (a) circumcenters of cavity
    triangles incident to v and (b) circumcenters of the two new
    triangles (q, u, v) / (q, v, w) on the cavity boundary. NaN outside
    the hull (open cavity). Linear precision (exactly reproduces planar
    surfaces) is the pytest contract, mirroring TIN's."""
    out = np.full(len(qx), np.nan)
    if len(tris) == 0:
        return out
    nq, npts = len(qx), len(P)
    cc = circumcenters(P, tris)
    # one batched circumcircle test for ALL queries; everything after is
    # segmented numpy over the sparse (query, cavity-triangle) pairs —
    # the round-4 kernel still walked a Python loop per query (dict
    # cavity assembly), which dominated the natural_neighbour bench.
    dxm = cc[None, :, 0] - qx[:, None]
    dym = cc[None, :, 1] - qy[:, None]
    qi_idx, ti_idx = np.nonzero(dxm * dxm + dym * dym < cc[None, :, 2])
    del dxm, dym
    if len(qi_idx) == 0:
        return out

    # --- containing test over pairs: q must lie INSIDE some cavity
    # triangle (a query outside the hull can still be inside hull-sliver
    # circumcircles; its cavity then closes combinatorially while the
    # Sibson construction is undefined -> NaN like TIN's rule).
    A = P[tris[ti_idx, 0]]
    B = P[tris[ti_idx, 1]]
    C = P[tris[ti_idx, 2]]
    px, py = qx[qi_idx], qy[qi_idx]
    det = (B[:, 1] - C[:, 1]) * (A[:, 0] - C[:, 0]) \
        + (C[:, 0] - B[:, 0]) * (A[:, 1] - C[:, 1])
    with np.errstate(divide="ignore", invalid="ignore"):
        l1 = ((B[:, 1] - C[:, 1]) * (px - C[:, 0])
              + (C[:, 0] - B[:, 0]) * (py - C[:, 1])) / det
        l2 = ((C[:, 1] - A[:, 1]) * (px - C[:, 0])
              + (A[:, 0] - C[:, 0]) * (py - C[:, 1])) / det
    cont = (det != 0.0) & (l1 >= -1e-12) & (l2 >= -1e-12) \
        & ((1.0 - l1 - l2) >= -1e-12)
    containing = np.zeros(nq, dtype=bool)
    containing[qi_idx[cont]] = True
    keep = containing[qi_idx]
    qi2, ti2 = qi_idx[keep], ti_idx[keep]
    if len(qi2) == 0:
        return out

    # --- cavity boundary edges: the 3 edges of every cavity triangle,
    # keyed (query, lo, hi); edges whose key appears exactly once are
    # the boundary (run-length over the sorted composite key).
    t3 = tris[ti2]
    eu = np.concatenate([t3[:, 0], t3[:, 1], t3[:, 2]]).astype(np.int64)
    ev = np.concatenate([t3[:, 1], t3[:, 2], t3[:, 0]]).astype(np.int64)
    eq = np.tile(qi2, 3).astype(np.int64)
    lo, hi = np.minimum(eu, ev), np.maximum(eu, ev)
    ekey = (eq * npts + lo) * npts + hi
    eorder = np.argsort(ekey, kind="stable")
    ek = ekey[eorder]
    efirst = np.r_[True, ek[1:] != ek[:-1]]
    erun = np.cumsum(efirst) - 1
    single = np.bincount(erun)[erun] == 1
    b_rows = eorder[single]
    bu, bv, bq = lo[b_rows], hi[b_rows], eq[b_rows]

    # --- closed-cavity check: every boundary vertex of a query must
    # have degree exactly 2; otherwise the cavity is open (q outside or
    # on the hull) and the query stays NaN.
    vkey = np.concatenate([bq, bq]) * npts + np.concatenate([bu, bv])
    vk = np.sort(vkey)
    vfirst = np.r_[True, vk[1:] != vk[:-1]]
    vrun = np.cumsum(vfirst) - 1
    vdeg = np.bincount(vrun)
    starts_v = np.nonzero(vfirst)[0]
    bad_deg_q = np.unique(vk[starts_v[vdeg != 2]] // npts)
    closed = containing.copy()
    closed[bad_deg_q] = False
    has_boundary = np.zeros(nq, dtype=bool)
    has_boundary[bq] = True
    live = closed & has_boundary

    # --- circumcenters of the new triangles (u, v, q) per boundary edge
    Au, Bv = P[bu], P[bv]
    pxb, pyb = qx[bq], qy[bq]
    d = 2.0 * (Au[:, 0] * (Bv[:, 1] - pyb) + Bv[:, 0] * (pyb - Au[:, 1])
               + pxb * (Au[:, 1] - Bv[:, 1]))
    degen_q = np.unique(bq[d == 0.0])
    live[degen_q] = False
    with np.errstate(divide="ignore", invalid="ignore"):
        a2 = Au[:, 0] ** 2 + Au[:, 1] ** 2
        b2 = Bv[:, 0] ** 2 + Bv[:, 1] ** 2
        q2 = pxb ** 2 + pyb ** 2
        nux = (a2 * (Bv[:, 1] - pyb) + b2 * (pyb - Au[:, 1])
               + q2 * (Au[:, 1] - Bv[:, 1])) / d
        nuy = (a2 * (pxb - Bv[:, 0]) + b2 * (Au[:, 0] - pxb)
               + q2 * (Bv[:, 0] - Au[:, 0])) / d

    # --- per-(query, boundary-vertex) polygon assembly: old cavity
    # circumcenters (each cavity triangle feeds its 3 vertices) + the
    # two new circumcenters per boundary vertex, then a segmented
    # angle-sort shoelace. Non-boundary rows are filtered by membership
    # against the boundary vertex key set (searchsorted on the sorted
    # unique keys).
    bvkeys = vk[starts_v]  # sorted unique (query, vertex) boundary keys
    if len(bvkeys) == 0:
        return out
    oq = np.tile(qi2, 3).astype(np.int64)
    ov = np.concatenate([t3[:, 0], t3[:, 1], t3[:, 2]]).astype(np.int64)
    okey = oq * npts + ov
    occ = np.tile(cc[ti2, 0:2], (3, 1))
    pos = np.searchsorted(bvkeys, okey)
    is_b = (pos < len(bvkeys)) & (bvkeys[np.minimum(pos, len(bvkeys) - 1)] == okey)
    okey, occ = okey[is_b], occ[is_b]
    nkey = np.concatenate([bq * npts + bu, bq * npts + bv])
    nxy = np.concatenate([np.column_stack([nux, nuy])] * 2)
    allkey = np.concatenate([okey, nkey])
    allxy = np.vstack([occ, nxy])
    live_row = live[(allkey // npts).astype(np.intp)]
    allkey, allxy = allkey[live_row], allxy[live_row]
    if len(allkey):
        o2 = np.argsort(allkey, kind="stable")
        k2, X, Y = allkey[o2], allxy[o2, 0], allxy[o2, 1]
        first = np.r_[True, k2[1:] != k2[:-1]]
        gid = np.cumsum(first) - 1
        starts = np.nonzero(first)[0]
        cnt = np.diff(np.r_[starts, len(k2)])
        ctr_x = np.add.reduceat(X, starts) / cnt
        ctr_y = np.add.reduceat(Y, starts) / cnt
        ang = np.arctan2(Y - ctr_y[gid], X - ctr_x[gid])
        o3 = np.lexsort((ang, gid))
        X3, Y3 = X[o3], Y[o3]
        nxt = np.arange(1, len(X3) + 1)
        nxt[starts + cnt - 1] = starts
        area2 = np.add.reduceat(X3 * Y3[nxt] - X3[nxt] * Y3, starts)
        w = 0.5 * np.abs(area2)
        gq = (k2[starts] // npts).astype(np.intp)
        gv = (k2[starts] % npts).astype(np.intp)
        wsum = np.bincount(gq, weights=w, minlength=nq)
        zsum = np.bincount(gq, weights=w * Z[gv], minlength=nq)
        ok = live & (wsum > 0.0)
        with np.errstate(divide="ignore", invalid="ignore"):
            out[ok] = zsum[ok] / wsum[ok]

    # --- degenerate queries (q coincides with a data point within the
    # circumcenter arithmetic): take the nearest data value exactly.
    # Requires the same containing + closed-cavity gate as the weighted
    # path — an open-cavity (outside-hull) query stays NaN.
    for qi in degen_q:
        if closed[qi] and has_boundary[qi]:
            d2 = (P[:, 0] - qx[qi]) ** 2 + (P[:, 1] - qy[qi]) ** 2
            out[qi] = Z[np.argmin(d2)]
    return out


def _tile_kernel_gridding(points: DataFrame, meta: GridMeta, tile: int,
                          halo: float | None, value_col: str,
                          interp) -> DataFrame:
    """Shared tile+halo applyInPandas gridding driver: `interp(P, Z, qx,
    qy) -> values` runs once per tile over its local points and the
    tile's own cell centers."""
    if halo is None:
        halo = _default_halo(points, meta)
    scattered = _scatter_to_tiles(points, meta, tile, halo, value_col)
    schema = StructType([
        StructField("row", LongType(), False),
        StructField("col", LongType(), False),
        StructField("value", DoubleType(), False),
    ])
    west, north = meta.west, meta.north
    resx, resy = meta.resolution_x, meta.resolution_y
    rows_total, cols_total = meta.rows, meta.columns

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(key[0]), int(key[1])
        P = pdf[["x", "y"]].to_numpy(dtype=np.float64)
        Z = pdf["z"].to_numpy(dtype=np.float64)
        # canonical (x, y, z) order: applyInPandas delivers group rows in
        # shuffle-arrival order, and Bowyer-Watson insertion order decides
        # near-cocircular ties — sorting makes the kernel layout-proof
        _o = np.lexsort((Z, P[:, 1], P[:, 0]))
        P, Z = P[_o], Z[_o]
        r0, r1 = ty * tile, min((ty + 1) * tile, rows_total)
        c0, c1 = tx * tile, min((tx + 1) * tile, cols_total)
        rr, cc2 = np.meshgrid(np.arange(r0, r1), np.arange(c0, c1), indexing="ij")
        qx = west + (cc2.ravel() + 0.5) * resx
        qy = north - (rr.ravel() + 0.5) * resy
        vals = interp(P, Z, qx, qy)
        ok = ~np.isnan(vals)
        return pd.DataFrame({
            "row": rr.ravel()[ok], "col": cc2.ravel()[ok], "value": vals[ok],
        })

    # Explicit tile-key repartition: the kernels are CPU-bound Python over
    # tiny rows, so AQE's byte-based coalescing would otherwise squeeze the
    # shuffle to a handful of tasks and serialize ~ntiles Delaunay solves.
    # A user-specified partition count is exempt from AQE coalescing, and
    # hash(tx, ty) clustering satisfies applyInPandas' distribution, so no
    # second exchange is added.
    n_tiles = (-(-meta.columns // tile)) * (-(-meta.rows // tile))
    n_parts = min(n_tiles, points.sparkSession._sc.defaultParallelism * 2)
    scattered = scattered.repartition(n_parts, "tx", "ty")
    return scattered.groupBy("tx", "ty").applyInPandas(kernel, schema=schema)


def natural_neighbour_gridding(points: DataFrame, meta: GridMeta,
                               tile: int = 32, halo: float | None = None,
                               value_col: str = "value") -> DataFrame:
    """NaturalNeighbourInterpolation
    (gis_analysis/natural_neighbour_interpolation.rs): Sibson
    area-stealing interpolation of grid cells from the point layer.
    Distributed as per-tile Delaunay with halo points — identical
    scatter to tin_gridding; the per-tile kernel computes exact Sibson
    weights from the local triangulation."""

    def interp(P, Z, qx, qy):
        # dedupe exact duplicates (Bowyer-Watson skips them; duplicate z
        # rows would otherwise never contribute)
        _, idx = np.unique(P, axis=0, return_index=True)
        P2, Z2 = P[np.sort(idx)], Z[np.sort(idx)]
        tris = delaunay(P2)
        return natural_neighbour_values(P2, Z2, tris, qx, qy)

    return _tile_kernel_gridding(points, meta, tile, halo, value_col, interp)


def rbf_interpolation(points: DataFrame, meta: GridMeta, k: int = 20,
                      tile: int = 32, halo: float | None = None,
                      value_col: str = "value",
                      kernel: str = "thin_plate") -> DataFrame:
    """RadialBasisFunctionInterpolation
    (gis_analysis/radial_basis_function_interpolation.rs semantics):
    per grid cell, solve an RBF system over the k nearest points and
    evaluate at the cell center. kernel: 'thin_plate' (r^2 ln r) or
    'multiquadric' (sqrt(r^2 + eps^2)). The affine polynomial term gives
    thin-plate LINEAR PRECISION — the pytest contract.

    Round 5: the k neighbors come from the exact ring-guaranteed kNN
    join (knn.knn_join_exact) instead of tile+halo-local point sets, so
    the interpolant is independent of the tile/halo parameters and the
    shuffle layout (`tile`/`halo` are kept for API compatibility;
    unused). Duplicate (x, y) sites keep their lowest z (the former
    kernel's lexsort+unique rule); neighbor rows arrive in canonical
    (dist2, pid) order, and the per-cell solve is the same batched
    numpy assembly as before, grouped by neighbor count."""
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    from ..plans.rank import global_row_number
    from .knn import grid_cells_df, knn_join_exact, wbt_default_radius

    spark = points.sparkSession
    sites = points.groupBy("x", "y").agg(
        F.min(value_col).alias("z"))
    sites, n_sites = global_row_number(sites, ["x", "y"], out="pid")
    if n_sites == 0:
        return local_frame(spark, [], "row long, col long, value double")
    ext = points.agg(F.min("x"), F.max("x"), F.min("y"), F.max("y")).collect()[0]
    area = max((ext[1] - ext[0]) * (ext[3] - ext[2]), 1.0)
    radius = wbt_default_radius(area, n_sites)
    cells = grid_cells_df(spark, meta)
    # site coordinates/values ride the kNN join as carry payload, and
    # row/col/qx/qy re-derive from cell_id with grid_cells_df's own
    # expressions — both former re-attach shuffle joins removed
    nn = knn_join_exact(
        cells,
        sites.selectExpr("pid", "x", "y", "x AS px", "y AS py", "z AS pz"),
        k=k, radius=radius, qid="cell_id", tid="pid",
        carry=("px", "py", "pz"),
    )
    grouped = (
        nn.groupBy("cell_id")
        .agg(F.expr("SORT_ARRAY(COLLECT_LIST(STRUCT(dist2, pid, px, py, "
                    "pz)))").alias("arr"))
        .selectExpr(f"CAST(cell_id / {meta.columns} AS LONG) AS row",
                    f"cell_id % {meta.columns} AS col", "arr")
        .selectExpr("row", "col",
                    f"{meta.x_center_expr('col')} AS qx",
                    f"{meta.y_center_expr('row')} AS qy", "arr")
    )
    schema = StructType([
        StructField("row", LongType(), False),
        StructField("col", LongType(), False),
        StructField("value", DoubleType(), False),
    ])

    def solve(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            lens = pdf["arr"].map(len).to_numpy()
            for kk in np.unique(lens):
                if kk == 0:
                    continue
                sub = pdf[lens == kk]
                nq = len(sub)
                arrs = list(sub["arr"])
                d2 = np.array([[e["dist2"] for e in a] for a in arrs])
                px = np.array([[e["px"] for e in a] for a in arrs])
                py = np.array([[e["py"] for e in a] for a in arrs])
                pz = np.array([[e["pz"] for e in a] for a in arrs])
                qx = sub["qx"].to_numpy(dtype=np.float64)
                qy = sub["qy"].to_numpy(dtype=np.float64)
                rr2 = ((px[:, :, None] - px[:, None, :]) ** 2
                       + (py[:, :, None] - py[:, None, :]) ** 2)
                eps2 = (np.sqrt(np.maximum(d2, 0.0))
                        .mean(axis=1, keepdims=True) ** 2 + 1e-12)

                def phi(r2m, e2):
                    if kernel == "thin_plate":
                        with np.errstate(divide="ignore", invalid="ignore"):
                            v = 0.5 * r2m * np.log(np.maximum(r2m, 1e-300))
                        return np.where(r2m <= 0.0, 0.0, v)
                    return np.sqrt(r2m + e2[..., None])

                m = int(kk) + 3
                A = np.zeros((nq, m, m))
                A[:, :kk, :kk] = phi(rr2, eps2) + np.eye(int(kk)) * 1e-10
                A[:, :kk, kk] = 1.0
                A[:, :kk, kk + 1] = px
                A[:, :kk, kk + 2] = py
                A[:, kk, :kk] = 1.0
                A[:, kk + 1, :kk] = px
                A[:, kk + 2, :kk] = py
                b = np.zeros((nq, m))
                b[:, :kk] = pz
                try:
                    sol = np.linalg.solve(A, b[..., None])[..., 0]
                except np.linalg.LinAlgError:
                    # solve raises for the WHOLE batch if one system is
                    # singular — per-system pinv keeps each cell's own
                    # solution (never broadcast system 0's)
                    sol = np.stack([np.linalg.pinv(A[q]) @ b[q]
                                    for q in range(nq)])
                vals = (sol[:, :kk] * phi(d2, eps2)).sum(axis=1)
                vals += sol[:, kk] + sol[:, kk + 1] * qx + sol[:, kk + 2] * qy
                yield pd.DataFrame({
                    "row": sub["row"].to_numpy(dtype=np.int64),
                    "col": sub["col"].to_numpy(dtype=np.int64),
                    "value": vals,
                })

    return grouped.mapInPandas(solve, schema=schema)


def delaunay_certified(points: DataFrame, meta: GridMeta, tile: int = 32,
                       halo: float | None = None,
                       value_col: str = "value",
                       max_rounds: int = 2) -> DataFrame:
    """EXACT global Delaunay triangle layer — tile-size independent.

    Per-tile Bowyer-Watson over a tile+halo neighborhood with centroid
    ownership (as construct_vector_tin always did), plus a per-TILE exit
    certificate built from two sound local proofs:

    - triangle certificate: a local triangle whose circumcircle, clipped
      to the data extent, fits inside the tile's halo rectangle saw every
      point that could invalidate it, so locally-Delaunay => GLOBALLY
      Delaunay. A tile may exit only when every local triangle whose
      circumdisk touches the tile's owned rect is certified (soundness of
      the owned set AND of the cover around it — a wrong local cover over
      an owned centroid is always flagged by this test).
    - hull-edge certificate: for each local convex-hull edge whose outer
      half-plane touches the owned rect, the outer half-plane clipped to
      the data extent must fit inside the halo rectangle — proving no
      point exists beyond the edge, so no global triangle can reach an
      owned centroid from outside the local hull.

    Tiles failing either proof rerun at doubled halo (only those tiles
    rescatter; tiles that received no points rerun too); stragglers
    after max_rounds — typically the handful adjoining DEGENERATE hull
    chains, where the float Bowyer-Watson's sliver-drop decisions depend
    on the full point set and no local certificate can settle them —
    fall back to ONE full-set Bowyer-Watson task that emits their owned
    rects, bitwise the run a single-tile execution performs. The union
    over exited tiles is therefore exactly the global Delaunay set: the
    output does not depend on `tile`, `halo`, or the shuffle layout
    (kernel inputs are canonically sorted). Rounds are data-dependent but
    generically 1-2 on quasi-uniform densities; the extent clip keeps
    hull slivers (whose circumcircles bulge far OUTSIDE the data extent,
    where no point can exist) certifiable at small halos.

    Output: one row per triangle, vertices in canonical (x, y) order:
    (ax, ay, az, bx, by, bz, cx, cy, cz)."""
    from pyspark.sql.types import BooleanType

    spark = points.sparkSession
    if halo is None:
        halo = _default_halo(points, meta)
    ext = points.selectExpr("MIN(x) AS x0", "MAX(x) AS x1",
                            "MIN(y) AS y0", "MAX(y) AS y1").collect()[0]
    if ext.x0 is None:  # empty point layer: no triangles
        return local_frame(
            spark, [], "ax double, ay double, az double, bx double, by double, "
                       "bz double, cx double, cy double, cz double")
    ex0, ex1, ey0, ey1 = float(ext.x0), float(ext.x1), float(ext.y0), float(ext.y1)
    schema = StructType([
        StructField("tx", LongType(), False), StructField("ty", LongType(), False),
        StructField("cert", BooleanType(), False),
        StructField("ax", DoubleType(), False), StructField("ay", DoubleType(), False),
        StructField("az", DoubleType(), False),
        StructField("bx", DoubleType(), False), StructField("by", DoubleType(), False),
        StructField("bz", DoubleType(), False),
        StructField("cx", DoubleType(), False), StructField("cy", DoubleType(), False),
        StructField("cz", DoubleType(), False),
    ])
    cols = ["tx", "ty", "cert", "ax", "ay", "az",
            "bx", "by", "bz", "cx", "cy", "cz"]
    west, north = meta.west, meta.north
    resx, resy = meta.resolution_x, meta.resolution_y
    rows_total, cols_total = meta.rows, meta.columns

    def _hull_edge_ok(pu, pv, pw, own_rect, hrect, Plocal) -> bool:
        """True if the boundary edge (pu, pv) (inner witness pw) either
        does not face the owned rect, or provably has no points beyond
        it: no LOCAL point strictly outside (a float Bowyer-Watson can
        leave a degenerate sliver untriangulated, making an interior
        edge masquerade as a hull edge — local points beyond expose
        that, forcing a rerun) AND the outer half-plane clipped to the
        extent fits in the halo rect (so no REMOTE point can be beyond
        either)."""
        ux, uy = pu
        dx, dy = pv[0] - ux, pv[1] - uy

        def side(px, py):
            return dx * (py - uy) - dy * (px - ux)

        sw = side(*pw)
        if sw == 0.0:
            return False  # degenerate witness: cannot certify
        x0, x1, y0, y1 = own_rect
        if not any(side(px, py) * sw <= 0.0
                   for px in (x0, x1) for py in (y0, y1)):
            return True  # outer half-plane does not face the owned rect
        s_all = (dx * (Plocal[:, 1] - uy) - dy * (Plocal[:, 0] - ux)) * sw
        if bool(np.any(s_all < 0.0)):
            return False  # a local point lies beyond: not a true hull edge
        # Sutherland-Hodgman: clip the extent rect, KEEP the outer side
        poly = [(ex0, ey0), (ex1, ey0), (ex1, ey1), (ex0, ey1)]
        out = []
        for i in range(len(poly)):
            a, b = poly[i], poly[(i + 1) % len(poly)]
            sa, sb = side(*a) * sw, side(*b) * sw
            if sa <= 0.0:
                out.append(a)
            if (sa < 0.0 < sb) or (sb < 0.0 < sa):
                t = sa / (sa - sb)
                out.append((a[0] + t * (b[0] - a[0]),
                            a[1] + t * (b[1] - a[1])))
        hx0, hx1, hy0, hy1 = hrect
        return all(hx0 <= px <= hx1 and hy0 <= py <= hy1 for px, py in out)

    def make_kernel(halo_r: float):
        def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
            tx, ty = int(key[0]), int(key[1])
            x0 = west + (tx * tile) * resx
            x1 = west + min((tx + 1) * tile, cols_total) * resx
            y1 = north - (ty * tile) * resy
            y0 = north - min((ty + 1) * tile, rows_total) * resy
            hx0, hx1 = x0 - halo_r, x1 + halo_r
            hy0, hy1 = y0 - halo_r, y1 + halo_r
            # +inf sentinel (NOT NaN: pandas->Arrow maps NaN to null,
            # which violates the non-nullable schema)
            nan9 = (float("inf"),) * 9
            P = pdf[["x", "y"]].to_numpy(dtype=np.float64)
            Z = pdf["z"].to_numpy(dtype=np.float64)
            _o = np.lexsort((Z, P[:, 1], P[:, 0]))
            P, Z = P[_o], Z[_o]
            _, idx = np.unique(P, axis=0, return_index=True)
            P, Z = P[np.sort(idx)], Z[np.sort(idx)]
            tris = delaunay(P)
            if len(tris) == 0:
                # nothing local: only a halo covering the whole extent
                # proves no global triangle owns a centroid here
                full = (hx0 <= ex0 and hx1 >= ex1
                        and hy0 <= ey0 and hy1 >= ey1)
                return pd.DataFrame([(tx, ty, full, *nan9)], columns=cols)
            cc = circumcenters(P, tris)
            r = np.sqrt(np.maximum(cc[:, 2], 0.0))
            bx0 = np.maximum(cc[:, 0] - r, ex0)
            bx1 = np.minimum(cc[:, 0] + r, ex1)
            by0 = np.maximum(cc[:, 1] - r, ey0)
            by1 = np.minimum(cc[:, 1] + r, ey1)
            cert = ((bx0 >= hx0) & (bx1 <= hx1) & (by0 >= hy0)
                    & (by1 <= hy1) & (cc[:, 2] >= 0.0))
            # (a) every triangle whose clipped circumdisk touches the
            # owned rect must be certified (bbox test: conservative)
            rel = ((bx1 >= x0) & (bx0 <= x1) & (by1 >= y0) & (by0 <= y1)) \
                | (cc[:, 2] < 0.0)
            tile_ok = bool(np.all(cert[rel]))
            # (b) hull edges facing the owned rect must prove emptiness
            if tile_ok:
                edge_info: dict[tuple[int, int], list] = {}
                for t0, t1, t2 in tris:
                    for u, v, w in ((t0, t1, t2), (t1, t2, t0), (t2, t0, t1)):
                        k = (u, v) if u < v else (v, u)
                        e = edge_info.setdefault(k, [0, w])
                        e[0] += 1
                own_rect = (x0, x1, y0, y1)
                hrect = (hx0, hx1, hy0, hy1)
                for (u, v), (cnt, w) in edge_info.items():
                    if cnt != 1:
                        continue
                    if not _hull_edge_ok(P[u], P[v], P[w], own_rect,
                                         hrect, P):
                        tile_ok = False
                        break
            gx = P[tris, 0].mean(axis=1)
            gy = P[tris, 1].mean(axis=1)
            own = (gx >= x0) & (gx < x1) & (gy > y0) & (gy <= y1)
            rows = [(tx, ty, tile_ok, *nan9)]  # per-tile status row
            for t in tris[own]:
                vs = sorted(((P[v, 0], P[v, 1], Z[v]) for v in t))
                rows.append((tx, ty, tile_ok,
                             vs[0][0], vs[0][1], vs[0][2],
                             vs[1][0], vs[1][1], vs[1][2],
                             vs[2][0], vs[2][1], vs[2][2]))
            return pd.DataFrame(rows, columns=cols)
        return kernel

    n_tx = -(-meta.columns // tile)
    n_ty = -(-meta.rows // tile)
    n_parts = min(n_tx * n_ty, spark._sc.defaultParallelism * 2)
    done: list[DataFrame] = []
    expected = {(tx, ty) for tx in range(n_tx) for ty in range(n_ty)}
    active: DataFrame | None = None  # None = all tiles
    active_rects: list[tuple[float, float, float, float]] = []
    for rnd in range(max_rounds):
        h = float(halo) * (2.0 ** rnd)
        src = points
        if active_rects:
            # bbox prefilter: rerun rounds only rescan points near the
            # active tiles (pushed to the source scan — at corpus scale
            # the rerun rounds touch a sliver of the data, not all of
            # it). Many active tiles would explode the OR-chain: fall
            # back to their single bounding box past 64 rects.
            rects = active_rects
            if len(rects) > 64:
                rects = [(min(r[0] for r in rects), max(r[1] for r in rects),
                          min(r[2] for r in rects), max(r[3] for r in rects))]
            pred = " OR ".join(
                f"(x >= {rx0 - h!r} AND x <= {rx1 + h!r} AND "
                f"y >= {ry0 - h!r} AND y <= {ry1 + h!r})"
                for rx0, rx1, ry0, ry1 in rects)
            src = points.where(pred)
        scattered = _scatter_to_tiles(src, meta, tile, h, value_col)
        if active is not None:
            scattered = scattered.join(F.broadcast(active), ["tx", "ty"],
                                       "leftsemi")
        out = (scattered.repartition(n_parts, "tx", "ty")
               .groupBy("tx", "ty")
               .applyInPandas(make_kernel(h), schema=schema)
               .localCheckpoint(eager=True))
        seen = {(r.tx, r.ty) for r in out.select("tx", "ty").distinct().collect()}
        badset = {(r.tx, r.ty) for r in
                  out.where("NOT cert").select("tx", "ty").distinct().collect()}
        # a tile with no scattered points produced no group at all —
        # its region is not yet proven empty of owned triangles
        badset |= expected - seen
        goodset = expected - badset
        if goodset:
            good = out.where("cert AND ax != CAST('inf' AS DOUBLE)")
            done.append(good.select("ax", "ay", "az", "bx", "by", "bz",
                                    "cx", "cy", "cz"))
        if not badset:
            break
        expected = badset
        active = local_frame(spark, sorted(badset), "tx long, ty long")
        active_rects = [
            (west + (btx * tile) * resx,
             west + min((btx + 1) * tile, cols_total) * resx,
             north - min((bty + 1) * tile, rows_total) * resy,
             north - (bty * tile) * resy)
            for btx, bty in sorted(badset)]
    else:
        # Terminal fallback for tiles that never certified (typically the
        # few adjoining degenerate hull chains, where the float B-W's
        # sliver drops are decided by the FULL point set): one task runs
        # the full-set Bowyer-Watson — bitwise the same run a single-tile
        # execution performs — and emits the stragglers' owned rects.
        rects = []
        for btx, bty in sorted(expected):
            rects.append((west + (btx * tile) * resx,
                          west + min((btx + 1) * tile, cols_total) * resx,
                          north - min((bty + 1) * tile, rows_total) * resy,
                          north - (bty * tile) * resy))

        def kernel_final(key, pdf: pd.DataFrame) -> pd.DataFrame:
            P = pdf[["x", "y"]].to_numpy(dtype=np.float64)
            Z = pdf["z"].to_numpy(dtype=np.float64)
            _o = np.lexsort((Z, P[:, 1], P[:, 0]))
            P, Z = P[_o], Z[_o]
            _, idx = np.unique(P, axis=0, return_index=True)
            P, Z = P[np.sort(idx)], Z[np.sort(idx)]
            tris = delaunay(P)
            rows = []
            if len(tris):
                gx = P[tris, 0].mean(axis=1)
                gy = P[tris, 1].mean(axis=1)
                own = np.zeros(len(tris), dtype=bool)
                for rx0, rx1, ry0, ry1 in rects:
                    own |= ((gx >= rx0) & (gx < rx1)
                            & (gy > ry0) & (gy <= ry1))
                for t in tris[own]:
                    vs = sorted(((P[v, 0], P[v, 1], Z[v]) for v in t))
                    rows.append((0, 0, True,
                                 vs[0][0], vs[0][1], vs[0][2],
                                 vs[1][0], vs[1][1], vs[1][2],
                                 vs[2][0], vs[2][1], vs[2][2]))
            return pd.DataFrame(rows, columns=cols)

        full = points.selectExpr("x", "y", f"{value_col} AS z") \
            .withColumn("g", F.lit(0))
        done.append(
            full.groupBy("g").applyInPandas(kernel_final, schema=schema)
            .select("ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz"))
    result = done[0]
    for part in done[1:]:
        result = result.unionByName(part)
    return result



def construct_vector_tin(points: DataFrame, meta: GridMeta,
                         tile: int = 32, halo: float | None = None,
                         value_col: str = "value") -> DataFrame:
    """ConstructVectorTIN (gis_analysis/construct_vector_tin.rs):
    triangulate the point layer into a vector TIN — one row per
    triangle with its three (x, y, z) vertices in canonical order
    (sorted by (x, y)).

    Round 5: the tiled kernel is the CERTIFIED exact global Delaunay
    (delaunay_certified above), so the output is the unique global
    triangle set — independent of the tile/halo parameters (they only
    steer performance) and of the shuffle layout, and replayable by the
    DuckDB oracle's directed-edge empty-circumcircle construction."""
    return delaunay_certified(points, meta, tile=tile, halo=halo,
                              value_col=value_col)


