"""Per-feature vector operators over the features table
(polygon_id/shape_id, parts: array<struct<part_idx, is_hole,
ring: array<struct<x, y>>>>).

Reference anchors:
- polygon_area kernel (shoelace, |area|/2, shells minus holes):
  whitebox-common/src/algorithms/poly_area.rs:12-25;
  gis_analysis/polygon_area.rs:199-214
- polygon_perimeter kernel: whitebox-common/src/algorithms/poly_perimeter.rs:12-24
- CompactnessRatio (A/P): gis_analysis/compactness_ratio.rs
- PerimeterAreaRatio: gis_analysis/perimeter_area_ratio.rs
- CentroidVector (vertex average): gis_analysis/centroid_vector.rs:255-270
- ExtractNodes: gis_analysis/extract_nodes.rs
- MultiPartToSinglePart / SinglePartToMultiPart: data_tools/*.rs

Everything here is a higher-order-function column expression over the
nested geometry arrays — whole-stage codegen, zero Python, and the fold
order matches the reference's sequential vertex loops so doubles are
bit-reproducible (the same folds build the DuckDB oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BooleanType, DoubleType, IntegerType,
                               LongType, StructField, StructType)

_PARTS_SCHEMA = ArrayType(StructType([
    StructField("part_idx", IntegerType(), False),
    StructField("is_hole", BooleanType(), False),
    StructField("ring", ArrayType(StructType([
        StructField("x", DoubleType(), False),
        StructField("y", DoubleType(), False),
    ])), False),
]))

# ---------------------------------------------------------------------------
# Expression builders (Spark dialect)
# ---------------------------------------------------------------------------


def shoelace_abs_expr(ring: str) -> str:
    """|shoelace|/2 over a closed ring (poly_area.rs order: sequential
    consecutive-pair terms; the closed ring's last pair IS the wrap term)."""
    fold = (
        f"AGGREGATE(SEQUENCE(1, SIZE({ring}) - 1), CAST(0.0 AS DOUBLE), "
        f"(acc, i) -> acc + (ELEMENT_AT({ring}, i).x * ELEMENT_AT({ring}, i + 1).y "
        f"- ELEMENT_AT({ring}, i + 1).x * ELEMENT_AT({ring}, i).y))"
    )
    return f"(ABS({fold}) / 2.0)"


def ring_perimeter_expr(ring: str) -> str:
    """Sum of consecutive vertex distances (poly_perimeter.rs order)."""
    return (
        f"AGGREGATE(SEQUENCE(1, SIZE({ring}) - 1), CAST(0.0 AS DOUBLE), "
        f"(acc, i) -> acc + SQRT("
        f"(ELEMENT_AT({ring}, i).x - ELEMENT_AT({ring}, i + 1).x) * "
        f"(ELEMENT_AT({ring}, i).x - ELEMENT_AT({ring}, i + 1).x) + "
        f"(ELEMENT_AT({ring}, i).y - ELEMENT_AT({ring}, i + 1).y) * "
        f"(ELEMENT_AT({ring}, i).y - ELEMENT_AT({ring}, i + 1).y)))"
    )


def feature_area_expr(parts: str = "parts") -> str:
    """Per-feature area: shells add, holes subtract, in part order
    (polygon_area.rs:201-213)."""
    ring_area = shoelace_abs_expr("p.ring")
    return (
        f"AGGREGATE({parts}, CAST(0.0 AS DOUBLE), "
        f"(acc, p) -> acc + (CASE WHEN p.is_hole THEN -{ring_area} ELSE {ring_area} END))"
    )


def feature_perimeter_expr(parts: str = "parts") -> str:
    """Per-feature perimeter: all rings (shells and holes) add."""
    per = ring_perimeter_expr("p.ring")
    return f"AGGREGATE({parts}, CAST(0.0 AS DOUBLE), (acc, p) -> acc + {per})"


# ---------------------------------------------------------------------------
# Operators
# ---------------------------------------------------------------------------


def polygon_area(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    return features.selectExpr(id_col, f"{feature_area_expr()} AS area")


def polygon_perimeter(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    return features.selectExpr(id_col, f"{feature_perimeter_expr()} AS perimeter")


def compactness_ratio(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    """A/P (compactness_ratio.rs)."""
    return features.selectExpr(
        id_col, f"({feature_area_expr()}) / ({feature_perimeter_expr()}) AS compactness"
    )


def perimeter_area_ratio(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    return features.selectExpr(
        id_col, f"({feature_perimeter_expr()}) / ({feature_area_expr()}) AS pa_ratio"
    )


def centroid_vector(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    """Vertex-average centroid per feature (centroid_vector.rs:255-270
    per-feature mode; all stored vertices count, including the ring's
    duplicated closing vertex — matching the reference's point loop)."""
    pts = "FLATTEN(TRANSFORM(parts, p -> p.ring))"
    n = f"CAST(SIZE({pts}) AS DOUBLE)"
    sx = f"AGGREGATE({pts}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v.x)"
    sy = f"AGGREGATE({pts}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v.y)"
    return features.selectExpr(
        id_col, f"({sx}) / ({n}) AS cx", f"({sy}) / ({n}) AS cy"
    )


def extract_nodes(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    """One row per vertex (ExtractNodes): feature, part, vertex index,
    x, y. Pure explode — the UDTF analog."""
    return (
        features.select(id_col, F.explode("parts").alias("p"))
        .select(id_col, F.col("p.part_idx").alias("part_idx"),
                F.posexplode("p.ring").alias("node_idx", "v"))
        .selectExpr(id_col, "part_idx", "node_idx", "v.x AS x", "v.y AS y")
    )


def multi_part_to_single_part(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    """One feature per part (MultiPartToSinglePart)."""
    return (
        features.select(id_col, F.explode("parts").alias("p"))
        .selectExpr(id_col, "p.part_idx AS part_idx",
                    "ARRAY(STRUCT(p.part_idx AS part_idx, p.is_hole AS is_hole, p.ring AS ring)) AS parts")
    )


def medoid_points(points: DataFrame, group_col: str,
                  x: str = "x", y: str = "y",
                  order_col: str = "record_num") -> DataFrame:
    """Medoid (gis_analysis/medoid.rs): the input point nearest the
    group centroid. Centroid sums fold in record order (deterministic
    float accumulation); distance ties resolve to the lowest record."""
    pts_sorted = f"ARRAY_SORT(COLLECT_LIST(STRUCT({order_col} AS rn, {x} AS px, {y} AS py)))"
    g = points.groupBy(group_col).agg(F.expr(pts_sorted).alias("pts"))
    g = g.selectExpr(
        group_col, "pts",
        "AGGREGATE(pts, CAST(0.0 AS DOUBLE), (a, p) -> a + p.px) / CAST(SIZE(pts) AS DOUBLE) AS cx",
        "AGGREGATE(pts, CAST(0.0 AS DOUBLE), (a, p) -> a + p.py) / CAST(SIZE(pts) AS DOUBLE) AS cy",
    )
    best = (
        "AGGREGATE(pts, NAMED_STRUCT('d', CAST('Infinity' AS DOUBLE), "
        "'rn', CAST(-1 AS BIGINT), 'px', CAST(0.0 AS DOUBLE), 'py', CAST(0.0 AS DOUBLE)), "
        "(acc, p) -> IF((p.px - cx) * (p.px - cx) + (p.py - cy) * (p.py - cy) < acc.d, "
        "NAMED_STRUCT('d', (p.px - cx) * (p.px - cx) + (p.py - cy) * (p.py - cy), "
        "'rn', p.rn, 'px', p.px, 'py', p.py), acc))"
    )
    return g.selectExpr(
        group_col, f"({best}).rn AS medoid_record",
        f"({best}).px AS x", f"({best}).py AS y",
    )


def features_to_segments(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    """One row per ring edge (PolygonsToLines analog + the input shape
    for VectorLinesToRaster): (id, part_idx, seg_idx, x1, y1, x2, y2)."""
    return (
        features.select(id_col, F.explode("parts").alias("p"))
        .selectExpr(
            id_col,
            "p.part_idx AS part_idx",
            "EXPLODE(TRANSFORM(SEQUENCE(1, SIZE(p.ring) - 1), i -> STRUCT("
            "i - 1 AS seg_idx, ELEMENT_AT(p.ring, i).x AS x1, ELEMENT_AT(p.ring, i).y AS y1, "
            "ELEMENT_AT(p.ring, i + 1).x AS x2, ELEMENT_AT(p.ring, i + 1).y AS y2))) AS s",
        )
        .selectExpr(id_col, "part_idx", "s.seg_idx", "s.x1", "s.y1", "s.x2", "s.y2")
    )


def smooth_vectors(features: DataFrame, filter_size: int = 3,
                   id_col: str = "shape_id") -> DataFrame:
    """SmoothVectors (gis_analysis/smooth_vectors.rs): moving average of
    ring vertices; closed rings wrap around the seam. Pure HOF SQL —
    the (2m+1)-term sum folds left in neighbor order (j = -m..m), so
    doubles reproduce bit-for-bit on any engine."""
    m = filter_size // 2
    k = 2 * m + 1
    # slice the ring open (drop the duplicated closing vertex), smooth
    # with wraparound indexing, then re-close with the first smoothed
    # vertex (the SEQUENCE(1,1) tail re-emits i=1)
    expr = (
        "TRANSFORM(parts, p -> STRUCT(p.part_idx AS part_idx, p.is_hole AS is_hole, "
        "CONCAT("
        "  TRANSFORM(SEQUENCE(1, SIZE(SLICE(p.ring, 1, SIZE(p.ring) - 1))), i -> "
        "    STRUCT((__TX__) / __K__ AS x, (__TY__) / __K__ AS y)), "
        "  TRANSFORM(SEQUENCE(1, 1), i -> "
        "    STRUCT((__TX__) / __K__ AS x, (__TY__) / __K__ AS y))"
        ") AS ring))"
    )
    tx = " + ".join(
        f"ELEMENT_AT(SLICE(p.ring, 1, SIZE(p.ring) - 1), "
        f"((i + {j} - 1 + SIZE(p.ring) - 1) % (SIZE(p.ring) - 1)) + 1).x"
        for j in range(-m, m + 1)
    )
    ty = " + ".join(
        f"ELEMENT_AT(SLICE(p.ring, 1, SIZE(p.ring) - 1), "
        f"((i + {j} - 1 + SIZE(p.ring) - 1) % (SIZE(p.ring) - 1)) + 1).y"
        for j in range(-m, m + 1)
    )
    expr = expr.replace("__TX__", tx).replace("__TY__", ty).replace("__K__", repr(float(k)))
    return features.selectExpr(id_col, f"{expr} AS parts")


def line_intersections(segs_a: DataFrame, segs_b: DataFrame,
                       cell: float | None = None) -> DataFrame:
    """LineIntersections (gis_analysis/line_intersections.rs;
    kernel find_line_intersections, algorithms/line_ops.rs): proper
    segment-pair intersection points. Inputs: (id, seg_idx, x1, y1,
    x2, y2) per layer; output one row per intersecting pair with the
    intersection coordinates.

    Plan: grid-blocked candidate generation — each segment explodes to
    the grid cells its bbox covers and candidates are an EQUI-join on
    cell (shuffle-partitionable; the former bbox-theta join planned as
    an O(|A| x |B|) CartesianProduct). With `cell` >= the largest bbox
    extent (the auto default, one min/max agg per side) every segment
    covers at most 2x2 cells, so the fan-out is bounded by 4; two
    overlapping bboxes always share a covered cell, so the candidate
    set is a superset of the bbox prefilter's. Each pair is emitted
    from exactly ONE canonical cell — the lower-left cell of the two
    bboxes' intersection, which both sides always cover — so no
    dedup shuffle is needed and the output multiset is identical to
    the theta join's even when (id, seg_idx) keys repeat across rows
    (e.g. the four rectangle edges select_tiles feeds in under one
    key). Exact bbox + closed-form t/u tests run per surviving pair.
    Pass an explicit `cell` (~median segment extent) when one outlier
    segment would otherwise inflate the grid."""
    a = segs_a.selectExpr("shape_id AS a_id", "seg_idx AS a_seg",
                          "x1 AS ax1", "y1 AS ay1", "x2 AS ax2", "y2 AS ay2")
    b = segs_b.selectExpr("shape_id AS b_id", "seg_idx AS b_seg",
                          "x1 AS bx1", "y1 AS by1", "x2 AS bx2", "y2 AS by2")
    if cell is None:
        ext = "GREATEST(ABS(x2 - x1), ABS(y2 - y1))"
        ea = segs_a.agg(F.expr(f"MAX({ext})")).collect()[0][0]
        eb = segs_b.agg(F.expr(f"MAX({ext})")).collect()[0][0]
        cell = max(float(ea or 0.0), float(eb or 0.0), 1e-9)

    def cover(df: DataFrame, x1: str, y1: str, x2: str, y2: str) -> DataFrame:
        return df.selectExpr(
            "*",
            f"EXPLODE(SEQUENCE(CAST(FLOOR(LEAST({x1}, {x2}) / {cell!r}) AS BIGINT), "
            f"CAST(FLOOR(GREATEST({x1}, {x2}) / {cell!r}) AS BIGINT))) AS __gx",
        ).selectExpr(
            "*",
            f"EXPLODE(SEQUENCE(CAST(FLOOR(LEAST({y1}, {y2}) / {cell!r}) AS BIGINT), "
            f"CAST(FLOOR(GREATEST({y1}, {y2}) / {cell!r}) AS BIGINT))) AS __gy",
        )

    cond = (
        "LEAST(ax1, ax2) <= GREATEST(bx1, bx2) AND GREATEST(ax1, ax2) >= LEAST(bx1, bx2) "
        "AND LEAST(ay1, ay2) <= GREATEST(by1, by2) AND GREATEST(ay1, ay2) >= LEAST(by1, by2)"
    )
    canon = (
        f"__gx = GREATEST(CAST(FLOOR(LEAST(ax1, ax2) / {cell!r}) AS BIGINT), "
        f"CAST(FLOOR(LEAST(bx1, bx2) / {cell!r}) AS BIGINT)) "
        f"AND __gy = GREATEST(CAST(FLOOR(LEAST(ay1, ay2) / {cell!r}) AS BIGINT), "
        f"CAST(FLOOR(LEAST(by1, by2) / {cell!r}) AS BIGINT))"
    )
    cand = (
        cover(a, "ax1", "ay1", "ax2", "ay2")
        .join(cover(b, "bx1", "by1", "bx2", "by2"), ["__gx", "__gy"])
        .where(F.expr(f"{canon} AND {cond}"))
        .drop("__gx", "__gy")
    )
    # TRY_DIVIDE keeps the expression total: Catalyst may collapse this
    # projection with the range filter below and evaluate the division for
    # parallel-segment candidates (den = 0) before any separate guard, which
    # raises DIVIDE_BY_ZERO under spark.sql.ansi.enabled. NULL t/u rows fall
    # out of the range filter, matching the den <> 0 semantics exactly.
    den = "((ax2 - ax1) * (by2 - by1) - (ay2 - ay1) * (bx2 - bx1))"
    t = f"TRY_DIVIDE((bx1 - ax1) * (by2 - by1) - (by1 - ay1) * (bx2 - bx1), {den})"
    u = f"TRY_DIVIDE((bx1 - ax1) * (ay2 - ay1) - (by1 - ay1) * (ax2 - ax1), {den})"
    return cand.where(F.expr(f"{den} <> 0.0")).selectExpr(
        "a_id", "a_seg", "b_id", "b_seg",
        f"{t} AS t", f"{u} AS u",
        f"ax1 + ({t}) * (ax2 - ax1) AS ix",
        f"ay1 + ({t}) * (ay2 - ay1) AS iy",
    ).where("t >= 0.0 AND t <= 1.0 AND u >= 0.0 AND u <= 1.0")


def _rdp(ring: list, tol: float) -> list:
    """Ramer-Douglas-Peucker over an open vertex chain (iterative
    stack form of algorithms/line_ops.rs simplify_rdp)."""
    n = len(ring)
    keep = [False] * n
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        (x0, y0), (x1, y1) = ring[i0], ring[i1]
        dx, dy = x1 - x0, y1 - y0
        seg2 = dx * dx + dy * dy
        best, bd = -1, -1.0
        for i in range(i0 + 1, i1):
            px, py = ring[i]
            if seg2 == 0.0:
                d2 = (px - x0) ** 2 + (py - y0) ** 2
            else:
                cross = dx * (py - y0) - dy * (px - x0)
                d2 = cross * cross / seg2
            if d2 > bd:
                best, bd = i, d2
        if bd > tol * tol:
            keep[best] = True
            stack.append((i0, best))
            stack.append((best, i1))
    return [p for p, k in zip(ring, keep) if k]


def simplify_features(features: DataFrame, tolerance: float,
                      id_col: str = "shape_id") -> DataFrame:
    """SimplifyLineOrPolygon (gis_analysis/simplify_line_or_polygon.rs;
    kernel simplify_rdp, algorithms/line_ops.rs). Closed rings anchor at
    the first vertex; output vertices are a SUBSET of the input ring
    (pure selection — the oracle-gated property)."""
    import pandas as pd
    from pyspark.sql.types import StructType, StructField, LongType

    schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("parts", _PARTS_SCHEMA, False),
    ])

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, parts_out = [], []
        for _, row in pdf.iterrows():
            new_parts = []
            for i, p in enumerate(row["parts"]):
                ring = [(v["x"], v["y"]) for v in p["ring"]]
                simp = _rdp(ring, tolerance)
                if len(simp) >= 4:
                    new_parts.append({
                        "part_idx": i, "is_hole": bool(p["is_hole"]),
                        "ring": [{"x": float(x), "y": float(y)} for x, y in simp],
                    })
            if new_parts:
                ids.append(row[id_col])
                parts_out.append(new_parts)
        return pd.DataFrame({
            id_col: pd.Series(ids, dtype="int64"),
            "parts": pd.Series(parts_out, dtype="object"),
        })

    return features.select(id_col, "parts").mapInPandas(
        lambda it: (run(pdf) for pdf in it), schema=schema
    )


def convex_hull(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    """Per-feature convex hull (Andrew monotone chain over all vertices),
    as a batched pandas transform (algorithms/convex_hull.rs analog).
    Output: (id, hull: array<struct<x, y>>) with hull in counter-
    clockwise order starting from the lexicographically smallest vertex.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (ArrayType, DoubleType, LongType,
                                   StructField, StructType)

    nodes = extract_nodes(features, id_col).select(id_col, "x", "y")
    schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("hull", ArrayType(StructType([
            StructField("x", DoubleType(), False),
            StructField("y", DoubleType(), False),
        ])), False),
    ])

    def hull_of(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pts = np.unique(pdf[["x", "y"]].to_numpy(dtype=np.float64), axis=0)
        pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

        def cross(o, a, b):
            return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

        if len(pts) <= 2:
            hull = pts
        else:
            lower, upper = [], []
            for p in pts:
                while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
                    lower.pop()
                lower.append(tuple(p))
            for p in pts[::-1]:
                while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
                    upper.pop()
                upper.append(tuple(p))
            hull = np.array(lower[:-1] + upper[:-1])
        return pd.DataFrame({
            id_col: [key[0]],
            "hull": [[{"x": float(x), "y": float(y)} for x, y in hull]],
        })

    return nodes.groupBy(id_col).applyInPandas(hull_of, schema=schema)


# ---------------------------------------------------------------------------
# Shape metrics round 2: LinearityIndex (SQL folds), ElongationRatio /
# PatchOrientation (min-area bounding box over the hull),
# RelatedCircumscribingCircle (Welzl minimum enclosing circle)
# ---------------------------------------------------------------------------


def linearity_index(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    """LinearityIndex (gis_analysis/linearity_index.rs:222-255): r^2 of
    the regression through the FIRST part's ring vertices (closing
    vertex included), centered at the reference's (max-min)/2 'midpoint'
    quirk — transcribed verbatim (it cancels in the covariances).
    Sequential array folds -> oracle-portable SQL."""
    ring = "parts[0].ring"
    xmin = f"AGGREGATE({ring}, CAST(1.0e308 AS DOUBLE), (a, v) -> LEAST(a, v.x))"
    xmax = f"AGGREGATE({ring}, CAST(-1.0e308 AS DOUBLE), (a, v) -> GREATEST(a, v.x))"
    ymin = f"AGGREGATE({ring}, CAST(1.0e308 AS DOUBLE), (a, v) -> LEAST(a, v.y))"
    ymax = f"AGGREGATE({ring}, CAST(-1.0e308 AS DOUBLE), (a, v) -> GREATEST(a, v.y))"
    staged = features.selectExpr(
        id_col, f"{ring} AS ring",
        f"(({xmax}) - ({xmin})) / 2.0 AS mx",
        f"(({ymax}) - ({ymin})) / 2.0 AS my",
    )

    def fold(term):
        return (f"AGGREGATE(ring, CAST(0.0 AS DOUBLE), "
                f"(a, v) -> a + ({term}))")

    staged = staged.selectExpr(
        id_col,
        "CAST(SIZE(ring) AS DOUBLE) AS n",
        f"{fold('(v.x - mx)')} AS sx",
        f"{fold('(v.y - my)')} AS sy",
        f"{fold('(v.x - mx) * (v.y - my)')} AS sxy",
        f"{fold('(v.x - mx) * (v.x - mx)')} AS sxsqr",
        f"{fold('(v.y - my) * (v.y - my)')} AS sysqr",
    )
    return staged.selectExpr(
        id_col,
        "CASE WHEN SQRT((sxsqr / n - (sx / n) * (sx / n)) * "
        "(sysqr / n - (sy / n) * (sy / n))) <> 0.0 THEN "
        "((sxy / n - (sx * sy) / (n * n)) / SQRT((sxsqr / n - (sx / n) * (sx / n)) * "
        "(sysqr / n - (sy / n) * (sy / n)))) * "
        "((sxy / n - (sx * sy) / (n * n)) / SQRT((sxsqr / n - (sx / n) * (sx / n)) * "
        "(sysqr / n - (sy / n) * (sy / n)))) ELSE 0.0 END AS linearity",
    )


def _min_area_box(pts):
    """(short, long, azimuth_deg) of the minimum-area bounding box via
    rotating calipers over the convex hull."""
    import math

    import numpy as np

    pts = np.unique(np.asarray(pts, dtype=np.float64), axis=0)
    if len(pts) == 1:
        return 0.0, 0.0, 0.0
    # monotone-chain hull
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    p = pts[order]

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower, upper = [], []
    for q in p:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], q) <= 0:
            lower.pop()
        lower.append(tuple(q))
    for q in p[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], q) <= 0:
            upper.pop()
        upper.append(tuple(q))
    hull = np.array(lower[:-1] + upper[:-1])
    if len(hull) < 2:
        return 0.0, 0.0, 0.0
    best = None
    m = len(hull)
    for i in range(m):
        e = hull[(i + 1) % m] - hull[i]
        norm = math.hypot(e[0], e[1])
        if norm == 0:
            continue
        ux, uy = e[0] / norm, e[1] / norm
        proj_u = hull @ (ux, uy)
        proj_v = hull @ (-uy, ux)
        du = proj_u.max() - proj_u.min()
        dv = proj_v.max() - proj_v.min()
        area = du * dv
        if best is None or area < best[0]:
            long_, short_ = (du, dv) if du >= dv else (dv, du)
            ang = math.degrees(math.atan2(uy, ux) if du >= dv
                               else math.atan2(ux, -uy))
            azim = (90.0 - ang) % 180.0  # clockwise from north, long axis
            best = (area, short_, long_, azim)
    return best[1], best[2], best[3]


def _welzl_mec_circle(pts):
    """Minimum enclosing circle (cx, cy, r) — deterministic Welzl
    without shuffling (the reference's smallest_enclosing_circle.rs
    shuffles for expected-linear time; the circle itself is unique, so
    the output is identical). Fine for hull-sized inputs."""
    import math

    def circle2(a, b):
        cx, cy = (a[0] + b[0]) / 2.0, (a[1] + b[1]) / 2.0
        return cx, cy, math.hypot(a[0] - cx, a[1] - cy)

    def circle3(a, b, c):
        ax, ay = a
        bx, by = b
        cx, cy = c
        d = 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
        if d == 0:
            return None
        ux = ((ax * ax + ay * ay) * (by - cy) + (bx * bx + by * by) * (cy - ay)
              + (cx * cx + cy * cy) * (ay - by)) / d
        uy = ((ax * ax + ay * ay) * (cx - bx) + (bx * bx + by * by) * (ax - cx)
              + (cx * cx + cy * cy) * (bx - ax)) / d
        return ux, uy, math.hypot(ax - ux, ay - uy)

    def inside(c, p, eps=1e-9):
        return c is not None and math.hypot(p[0] - c[0], p[1] - c[1]) <= c[2] + eps

    pts = [tuple(p) for p in pts]
    c = None
    for i, p in enumerate(pts):
        if inside(c, p):
            continue
        c = (p[0], p[1], 0.0)
        for j in range(i):
            q = pts[j]
            if inside(c, q):
                continue
            c = circle2(p, q)
            for k in range(j):
                r = pts[k]
                if inside(c, r):
                    continue
                c = circle3(p, q, r) or c
    return c if c else (0.0, 0.0, 0.0)


def _welzl_mec(pts):
    """Minimum enclosing circle radius (deterministic Welzl without
    shuffling — fine for hull-sized inputs)."""
    return _welzl_mec_circle(pts)[2]


def box_metrics(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    """ElongationRatio (1 - S/L of the minimum bounding box,
    elongation_ratio.rs:22-28), PatchOrientation (long-axis azimuth,
    degrees clockwise from north), RelatedCircumscribingCircle
    (1 - A / (pi * r_mec^2), related_circumscribing_circle.rs:229) —
    one batched pandas kernel per feature over the first-part ring."""
    import math

    import pandas as pd

    schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("elongation", DoubleType(), False),
        StructField("orientation", DoubleType(), False),
        StructField("rc_circle", DoubleType(), False),
    ])
    staged = features.selectExpr(id_col, "parts",
                                 f"{feature_area_expr()} AS __area")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, elo, ori, rcc = [], [], [], []
        for _, row in pdf.iterrows():
            ring = [(v["x"], v["y"]) for v in row["parts"][0]["ring"]]
            s, l, az = _min_area_box(ring)
            r = _welzl_mec(ring)
            ids.append(row[id_col])
            elo.append(1.0 - (s / l if l > 0 else 1.0))
            ori.append(az)
            rcc.append(1.0 - (row["__area"] / (math.pi * r * r) if r > 0 else 1.0))
        return pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                             "elongation": elo, "orientation": ori,
                             "rc_circle": rcc})

    return staged.mapInPandas(lambda it: (run(pdf) for pdf in it), schema=schema)


def _wbt_min_box(pts, criterion="area"):
    """Transcription of algorithms/minimum_bounding_box.rs:21-160: try
    every hull-edge orientation, rotate the hull about the bbox midpoint,
    keep the orientation minimizing the criterion (area / perimeter /
    length / width; strict <, first edge wins ties). Returns (corners
    [(x, y)] x4, long_axis, short_axis, slope_radians, centre)."""
    import math

    import numpy as np

    min_fn = {
        "area": lambda a, b: a * b,
        "perimeter": lambda a, b: 2.0 * a + 2.0 * b,
        "length": lambda a, b: max(a, b),
        "width": lambda a, b: min(a, b),
    }[criterion]
    pts = np.unique(np.asarray(pts, dtype=np.float64), axis=0)
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    p = pts[order]

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower, upper = [], []
    for q in p:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], q) <= 0:
            lower.pop()
        lower.append(tuple(q))
    for q in p[::-1]:
        while len(upper) >= 2 and cross(upper[-2], upper[-1], q) <= 0:
            upper.pop()
        upper.append(tuple(q))
    hull = np.array(lower[:-1] + upper[:-1])
    if len(hull) < 2:
        x, y = pts[0]
        return [(x, y)] * 4, 0.0, 0.0, 0.0, (x, y)
    midx = hull[:, 0].min() + (hull[:, 0].max() - hull[:, 0].min()) / 2.0
    midy = hull[:, 1].min() + (hull[:, 1].max() - hull[:, 1].min()) / 2.0
    right_angle = math.pi / 2.0
    best = None
    m = len(hull)
    for i in range(m):
        a, b = hull[i], hull[(i + 1) % m]
        psi = -math.atan2(b[1] - a[1], b[0] - a[0])
        xr = ((hull[:, 0] - midx) * math.cos(psi)
              - (hull[:, 1] - midy) * math.sin(psi))
        yr = ((hull[:, 0] - midx) * math.sin(psi)
              + (hull[:, 1] - midy) * math.cos(psi))
        ax1 = abs(xr.max() - xr.min())
        ax2 = abs(yr.max() - yr.min())
        metric = min_fn(ax1, ax2)
        if best is None or metric < best[0]:
            slope = -psi if ax1 > ax2 else -(right_angle + psi)
            cx_r = xr.min() + ax1 / 2.0
            cy_r = yr.max() - ax2 / 2.0
            bx = midx + cx_r * math.cos(-psi) - cy_r * math.sin(-psi)
            by = midy + cx_r * math.sin(-psi) + cy_r * math.cos(-psi)
            best = (metric, ax1, ax2, slope, bx, by)
    _, ax1, ax2, slope, bx, by = best
    long_a, short_a = max(ax1, ax2), min(ax1, ax2)
    ra = right_angle
    corners = [
        (bx + long_a / 2.0 * math.cos(slope) + short_a / 2.0 * math.cos(ra + slope),
         by + long_a / 2.0 * math.sin(slope) + short_a / 2.0 * math.sin(ra + slope)),
        (bx + long_a / 2.0 * math.cos(slope) - short_a / 2.0 * math.cos(ra + slope),
         by + long_a / 2.0 * math.sin(slope) - short_a / 2.0 * math.sin(ra + slope)),
        (bx - long_a / 2.0 * math.cos(slope) - short_a / 2.0 * math.cos(ra + slope),
         by - long_a / 2.0 * math.sin(slope) - short_a / 2.0 * math.sin(ra + slope)),
        (bx - long_a / 2.0 * math.cos(slope) + short_a / 2.0 * math.cos(ra + slope),
         by - long_a / 2.0 * math.sin(slope) + short_a / 2.0 * math.sin(ra + slope)),
    ]
    return corners, long_a, short_a, slope, (bx, by)


def minimum_bounding_envelope(features: DataFrame,
                              id_col: str = "shape_id") -> DataFrame:
    """MinimumBoundingEnvelope (
    gis_analysis/minimum_bounding_envelope.rs): per-feature axis-aligned extent. Pure groupBy min/max."""
    return extract_nodes(features, id_col).groupBy(id_col).agg(
        F.min("x").alias("xmin"), F.min("y").alias("ymin"),
        F.max("x").alias("xmax"), F.max("y").alias("ymax"))


def minimum_bounding_box(features: DataFrame, criterion: str = "area",
                         id_col: str = "shape_id") -> DataFrame:
    """MinimumBoundingBox (gis_analysis/minimum_bounding_box.rs +
    algorithms/minimum_bounding_box.rs): the minimum bounding rectangle
    under the given criterion as 4 corner points plus long/short axis
    lengths. One batched pandas kernel per feature."""
    import pandas as pd

    schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("corner_idx", IntegerType(), False),
        StructField("x", DoubleType(), False),
        StructField("y", DoubleType(), False),
        StructField("long_axis", DoubleType(), False),
        StructField("short_axis", DoubleType(), False),
    ])
    nodes = extract_nodes(features, id_col).select(id_col, "x", "y")

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        corners, la, sa, _slope, _c = _wbt_min_box(
            pdf[["x", "y"]].to_numpy(), criterion)
        return pd.DataFrame({
            id_col: [key[0]] * 4,
            "corner_idx": range(4),
            "x": [c[0] for c in corners],
            "y": [c[1] for c in corners],
            "long_axis": [la] * 4,
            "short_axis": [sa] * 4,
        })

    return nodes.groupBy(id_col).applyInPandas(run, schema=schema)


def _polygon_axis(features: DataFrame, which: str,
                  id_col: str = "shape_id") -> DataFrame:
    """PolygonLongAxis / PolygonShortAxis (gis_analysis/
    polygon_long_axis.rs, polygon_short_axis.rs): the line through the
    minimum-area bounding box centre spanning the box along its
    long/short axis. Output (id, x1, y1, x2, y2)."""
    import math

    import pandas as pd

    schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("x1", DoubleType(), False),
        StructField("y1", DoubleType(), False),
        StructField("x2", DoubleType(), False),
        StructField("y2", DoubleType(), False),
    ])
    nodes = extract_nodes(features, id_col).select(id_col, "x", "y")

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        _corners, la, sa, slope, (bx, by) = _wbt_min_box(
            pdf[["x", "y"]].to_numpy(), "area")
        if which == "long":
            h, ang = la / 2.0, slope
        else:
            h, ang = sa / 2.0, slope + math.pi / 2.0
        return pd.DataFrame({
            id_col: [key[0]],
            "x1": [bx - h * math.cos(ang)], "y1": [by - h * math.sin(ang)],
            "x2": [bx + h * math.cos(ang)], "y2": [by + h * math.sin(ang)],
        })

    return nodes.groupBy(id_col).applyInPandas(run, schema=schema)


def polygon_long_axis(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    return _polygon_axis(features, "long", id_col)


def polygon_short_axis(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    return _polygon_axis(features, "short", id_col)


def minimum_bounding_circle(features: DataFrame,
                            id_col: str = "shape_id") -> DataFrame:
    """MinimumBoundingCircle (gis_analysis/minimum_bounding_circle.rs,
    algorithms/smallest_enclosing_circle.rs): the unique minimum
    enclosing circle per feature as (id, cx, cy, radius)."""
    import pandas as pd

    schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("cx", DoubleType(), False),
        StructField("cy", DoubleType(), False),
        StructField("radius", DoubleType(), False),
    ])
    nodes = extract_nodes(features, id_col).select(id_col, "x", "y")

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cx, cy, r = _welzl_mec_circle(pdf[["x", "y"]].to_numpy().tolist())
        return pd.DataFrame({id_col: [key[0]], "cx": [cx], "cy": [cy],
                             "radius": [r]})

    return nodes.groupBy(id_col).applyInPandas(run, schema=schema)


def patch_orientation(features: DataFrame,
                      id_col: str = "shape_id") -> DataFrame:
    """PatchOrientation (gis_analysis/patch_orientation.rs:300-340): the
    reduced-major-axis regression slope of the feature's vertices,
    folded to an azimuth in [0, 180] degrees (90 - atan_deg for positive
    RMA slope, 90 + |atan_deg| for negative; sign from the OLS slope).
    Pure SQL sums — oracle-portable. Degenerate (sxx = 0) features emit
    0 (a vertical long axis reads 90 - 90)."""
    nodes = extract_nodes(features, id_col)
    agg = nodes.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxsq"),
        F.sum(F.expr("y * y")).alias("sysq"))
    sxx = "(sxsq / n - (sx / n) * (sx / n))"
    syy = "(sysq / n - (sy / n) * (sy / n))"
    ols_sign = "(sxy - (sx / n) * sy)"
    rma = f"SQRT(({syy}) / ({sxx}))"
    deg = (f"CASE WHEN {ols_sign} < 0.0 THEN DEGREES(ATAN(-({rma}))) "
           f"ELSE DEGREES(ATAN({rma})) END")
    return agg.selectExpr(
        id_col,
        f"CASE WHEN ({sxx}) <= 0.0 THEN 0.0 "
        f"WHEN ({deg}) < 0.0 THEN 90.0 + -1.0 * ({deg}) "
        f"ELSE 90.0 - ({deg}) END AS orientation")


def remove_polygon_holes(features: DataFrame,
                         id_col: str = "shape_id") -> DataFrame:
    """RemovePolygonHoles (data_tools/remove_polygon_holes.rs): drop
    every hole part; shell parts are renumbered 0..k in their original
    order. Pure array filter/transform."""
    return features.selectExpr(
        id_col,
        "TRANSFORM(ARRAY_SORT(FILTER(parts, p -> NOT p.is_hole), "
        "(a, b) -> CASE WHEN a.part_idx < b.part_idx THEN -1 "
        "WHEN a.part_idx > b.part_idx THEN 1 ELSE 0 END), "
        "(p, i) -> STRUCT(CAST(i AS INT) AS part_idx, p.is_hole AS is_hole, "
        "p.ring AS ring)) AS parts")


# ---------------------------------------------------------------------------
# Round-2 continuation: line editing, vector-grid generators, footprints
# (gis_analysis/{extend_vector_lines,create_rectangular_vector_grid,
#  create_hexagonal_vector_grid,radius_of_gyration}.rs,
#  lidar_analysis/lidar_tile_footprint.rs)
# ---------------------------------------------------------------------------


def extend_vector_lines(features: DataFrame, dist: float,
                        mode: str = "both ends",
                        id_col: str = "shape_id") -> DataFrame:
    """ExtendVectorLines (gis_analysis/extend_vector_lines.rs): push the
    first and/or last vertex of every part outward by `dist` along its
    end-segment direction. Parts are treated as open polylines. The
    extension is x +/- dist * dx/len — division and SQRT only, so the
    result is oracle-portable."""
    ext_start = mode in ("both ends", "line start")
    ext_end = mode in ("both ends", "line end")
    d = repr(dist)

    def _shift(pt, a, b):
        # point pt moved by dist along the (a -> b) direction
        ln = (f"SQRT(({b}.x - {a}.x) * ({b}.x - {a}.x) + "
              f"({b}.y - {a}.y) * ({b}.y - {a}.y))")
        return (f"STRUCT({pt}.x + {d} * ({b}.x - {a}.x) / {ln} AS x, "
                f"{pt}.y + {d} * ({b}.y - {a}.y) / {ln} AS y)")

    first = "ELEMENT_AT(p.ring, 1)"
    second = "ELEMENT_AT(p.ring, 2)"
    last = "ELEMENT_AT(p.ring, SIZE(p.ring))"
    pen = "ELEMENT_AT(p.ring, SIZE(p.ring) - 1)"
    head = (_shift(first, second, first) if ext_start else first)
    tail = (_shift(last, pen, last) if ext_end else last)
    expr = (
        "TRANSFORM(parts, p -> STRUCT(p.part_idx AS part_idx, p.is_hole AS is_hole, "
        f"CONCAT(ARRAY({head}), "
        "SLICE(p.ring, 2, GREATEST(SIZE(p.ring) - 2, 0)), "
        f"ARRAY({tail})) AS ring))"
    )
    return features.selectExpr(id_col, f"{expr} AS parts")


def create_rectangular_vector_grid(spark, min_x: float, min_y: float,
                                   max_x: float, max_y: float,
                                   width: float, height: float) -> DataFrame:
    """CreateRectangularVectorGrid: one closed CCW rect ring per grid
    cell covering the extent, anchored at (min_x, min_y); fid is
    row-major (gis_analysis/create_rectangular_vector_grid.rs
    semantics). Generated distributively from spark.range."""
    import math as _m

    ncols = int(_m.ceil((max_x - min_x) / width))
    nrows = int(_m.ceil((max_y - min_y) / height))
    return spark.range(nrows * ncols).selectExpr(
        "id AS fid",
        f"CAST(id DIV {ncols} AS BIGINT) AS grid_row",
        f"CAST(id % {ncols} AS BIGINT) AS grid_col",
        f"CAST({min_x!r} + (id % {ncols}) * {width!r} AS DOUBLE) AS xmin",
        f"CAST({min_y!r} + (id DIV {ncols}) * {height!r} AS DOUBLE) AS ymin",
        f"CAST({min_x!r} + (id % {ncols} + 1) * {width!r} AS DOUBLE) AS xmax",
        f"CAST({min_y!r} + (id DIV {ncols} + 1) * {height!r} AS DOUBLE) AS ymax",
    )


def create_hexagonal_vector_grid(spark, min_x: float, min_y: float,
                                 max_x: float, max_y: float,
                                 width: float) -> DataFrame:
    """CreateHexagonalVectorGrid: pointy-top hex centers on the offset
    lattice the hex-binning operator uses (tiling.HexGrid math —
    create_hexagonal_vector_grid.rs shares it); emits center + the six
    vertex coordinates. half_width = width/2, vert_y = height/4
    spacing."""
    import math as _m

    half = width / 2.0
    size = half / (_m.sqrt(3.0) / 2.0)  # circumradius
    vstep = 1.5 * size
    ncols = int(_m.ceil((max_x - min_x) / width)) + 1
    nrows = int(_m.ceil((max_y - min_y) / vstep)) + 1
    cx = (f"CAST({min_x!r} + (id % {ncols}) * {width!r} + "
          f"CASE WHEN (id DIV {ncols}) % 2 = 1 THEN {half!r} ELSE 0.0 END AS DOUBLE)")
    cy = f"CAST({min_y!r} + (id DIV {ncols}) * {vstep!r} AS DOUBLE)"
    sel = ["id AS fid", f"{cx} AS cx", f"{cy} AS cy"]
    for i in range(6):
        ang = _m.pi / 180.0 * (60.0 * i - 30.0)
        sel.append(f"CAST(({cx}) + {size * _m.cos(ang)!r} AS DOUBLE) AS vx_{i}")
        sel.append(f"CAST(({cy}) + {size * _m.sin(ang)!r} AS DOUBLE) AS vy_{i}")
    return spark.range(nrows * ncols).selectExpr(*sel)


def lidar_tile_footprint(points: DataFrame,
                         group_col: str = "source_file") -> DataFrame:
    """LidarTileFootprint (lidar_analysis/lidar_tile_footprint.rs,
    rectangular hull variant): per tile/file bounding box + point
    count."""
    return points.groupBy(group_col).agg(
        F.min("x").alias("min_x"), F.max("x").alias("max_x"),
        F.min("y").alias("min_y"), F.max("y").alias("max_y"),
        F.count(F.lit(1)).alias("num_points"),
    )


def radius_of_gyration(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    """RadiusOfGyration (gis_analysis/radius_of_gyration.rs semantics,
    vertex form): sqrt(mean squared distance of the part vertices from
    their mean center). Computed as SEQUENTIAL in-expression folds over
    the ring arrays (closing vertices dropped) so every double is
    order-deterministic and oracle-portable — a groupBy SUM of
    non-integer coordinates would not be."""
    verts = "FLATTEN(TRANSFORM(parts, p -> SLICE(p.ring, 1, SIZE(p.ring) - 1)))"
    n = f"CAST(SIZE({verts}) AS DOUBLE)"

    def fold(term):
        return (f"AGGREGATE({verts}, CAST(0.0 AS DOUBLE), "
                f"(acc, v) -> acc + {term})")

    sx, sy = fold("v.x"), fold("v.y")
    sxx, syy = fold("v.x * v.x"), fold("v.y * v.y")
    return features.selectExpr(
        id_col,
        f"SQRT((({sxx}) - ({sx}) * ({sx}) / {n} + ({syy}) - ({sy}) * ({sy}) / {n}) "
        f"/ {n}) AS rog")


def hole_proportion(features: DataFrame, id_col: str = "shape_id") -> DataFrame:
    """HoleProportion (gis_analysis/hole_proportion.rs): per feature,
    total hole area / shell ("hull") area — pure expression over the
    parts array (codegen, no shuffle)."""
    ring_area = shoelace_abs_expr("p.ring")
    holes = (f"AGGREGATE(parts, CAST(0.0 AS DOUBLE), "
             f"(acc, p) -> acc + (CASE WHEN p.is_hole THEN {ring_area} "
             f"ELSE 0.0 END))")
    shells = (f"AGGREGATE(parts, CAST(0.0 AS DOUBLE), "
              f"(acc, p) -> acc + (CASE WHEN p.is_hole THEN 0.0 "
              f"ELSE {ring_area} END))")
    return features.selectExpr(
        id_col, f"({holes}) / NULLIF({shells}, 0.0) AS hole_prop")


# ---------------------------------------------------------------------------
# Round-3: vector line editing
# (data_tools/clean_vector.rs, gis_analysis/{snap_endnodes,
#  merge_line_segments,split_with_lines}.rs)
# ---------------------------------------------------------------------------


def clean_vector(features: DataFrame, geometry: str = "polyline",
                 id_col: str = "shape_id") -> DataFrame:
    """CleanVector (data_tools/clean_vector.rs): drop null-geometry
    features, line parts with < 2 vertices, polygon parts with < 3
    vertices; features losing every part are dropped. Pure codegen
    FILTER over the parts array."""
    minv = 2 if geometry == "polyline" else 3
    return features.selectExpr(
        id_col,
        f"FILTER(parts, p -> SIZE(p.ring) >= {minv}) AS parts",
    ).where("SIZE(parts) > 0")


def _endnodes(lines: DataFrame, id_col: str = "shape_id") -> DataFrame:
    """(id, part_idx, end {0 first, 1 last}, x, y) per line part."""
    return lines.select(id_col, F.explode("parts").alias("p")).selectExpr(
        id_col, "p.part_idx AS part_idx",
        "EXPLODE(ARRAY("
        "NAMED_STRUCT('end', 0, 'x', ELEMENT_AT(p.ring, 1).x, "
        "'y', ELEMENT_AT(p.ring, 1).y), "
        "NAMED_STRUCT('end', 1, 'x', ELEMENT_AT(p.ring, -1).x, "
        "'y', ELEMENT_AT(p.ring, -1).y))) AS e",
    ).selectExpr(id_col, "part_idx", "e.end AS end", "e.x AS x", "e.y AS y")


def snap_endnodes(lines: DataFrame, snap: float,
                  id_col: str = "shape_id") -> DataFrame:
    """SnapEndnodes (gis_analysis/snap_endnodes.rs semantics): endnodes
    within `snap` of each other coincide; every member of a cluster
    takes the coordinates of the cluster's canonical endnode (smallest
    (shape_id, part_idx, end) — deterministic, replacing the
    reference's first-encountered scan order). FRS-bucketed candidate
    join, then one parts rebuild; interior vertices untouched."""
    from ..functions.cells import explode_neighbor_cells, with_frs_cells

    en = _endnodes(lines, id_col)
    base = with_frs_cells(
        en.selectExpr(f"{id_col} AS pid", "part_idx AS ppart", "end AS pend",
                      "x AS px", "y AS py"), snap, x="px", y="py")
    probe = explode_neighbor_cells(base, reach=2)
    build = base.selectExpr("pid AS qid", "ppart AS qpart", "pend AS qend",
                            "px AS qx", "py AS qy", "cx AS ncx", "cy AS ncy")
    cand = probe.join(build, ["ncx", "ncy"]).where(
        f"(px - qx) * (px - qx) + (py - qy) * (py - qy) <= {snap * snap!r}")
    canon = cand.groupBy("pid", "ppart", "pend").agg(
        F.expr("MIN_BY(STRUCT(qx AS x, qy AS y), STRUCT(qid, qpart, qend))")
        .alias("c"))
    snapped = canon.selectExpr(
        f"pid AS {id_col}", "ppart AS part_idx", "pend AS end",
        "c.x AS sx", "c.y AS sy")
    # rebuild parts with snapped first/last vertices
    parts = lines.select(id_col, F.explode("parts").alias("p")).selectExpr(
        id_col, "p.part_idx AS part_idx", "p.is_hole AS is_hole",
        "p.ring AS ring")
    j = parts.join(
        snapped.where("end = 0").selectExpr(
            id_col, "part_idx", "sx AS fx", "sy AS fy"),
        [id_col, "part_idx"], "left"
    ).join(
        snapped.where("end = 1").selectExpr(
            id_col, "part_idx", "sx AS lx", "sy AS ly"),
        [id_col, "part_idx"], "left")
    rebuilt = j.selectExpr(
        id_col, "part_idx", "is_hole",
        "TRANSFORM(ring, (v, i) -> CASE "
        "WHEN i = 0 AND fx IS NOT NULL THEN NAMED_STRUCT('x', fx, 'y', fy) "
        "WHEN i = SIZE(ring) - 1 AND lx IS NOT NULL "
        "THEN NAMED_STRUCT('x', lx, 'y', ly) ELSE v END) AS ring")
    return rebuilt.groupBy(id_col).agg(
        F.expr("SORT_ARRAY(COLLECT_LIST(STRUCT(part_idx, is_hole, ring)))")
        .alias("parts"))


def merge_line_segments(lines: DataFrame, snap: float,
                        id_col: str = "shape_id",
                        max_rounds: int = 48) -> DataFrame:
    """MergeLineSegments (gis_analysis/merge_line_segments.rs): line
    features whose ends are coincident (within `snap`) merge into one
    polyline — but only at degree-2 endnode clusters (a bifurcation
    junction blocks merging). Output (shape_id, vertex_idx, x, y) with
    shape_id = min input id in the merged chain.

    Plan: snap endnode clusters (FRS join) -> cluster degrees -> line
    graph restricted to degree-2 clusters -> clump.connected_components
    (lines without a link are their own chain) -> per-chain vertex
    assembly in applyInPandas (chains are short; the
    grouping is the only shuffle)."""
    import pandas as pd
    from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                   StructField, StructType)

    from ..functions.cells import frs_cell_expr
    from .clump import connected_components

    # single-part polylines assumed (the reference merges FEATURES)
    en = _endnodes(lines, id_col)
    # cluster key: canonical member (via quantized cell of snapped coords)
    kx = frs_cell_expr("x", snap)
    ky = frs_cell_expr("y", snap)
    en_k = en.selectExpr(id_col, "end", "x", "y", f"{kx} AS kx", f"{ky} AS ky")
    deg = en_k.groupBy("kx", "ky").agg(F.count(F.lit(1)).alias("deg"))
    ek = en_k.join(deg, ["kx", "ky"])
    # edges between lines sharing a degree-2 cluster
    pairs = ek.where("deg = 2").selectExpr(
        f"{id_col} AS a", "kx", "ky"
    )
    link = pairs.alias("l").join(pairs.alias("r"), ["kx", "ky"]).selectExpr(
        "l.a AS a", "r.a AS b").where("a < b")
    comp = connected_components(link, "merge_line_segments label propagation",
                                max_rounds)
    verts = lines.select(id_col, F.explode("parts").alias("p")).selectExpr(
        f"{id_col} AS id",
        "POSEXPLODE(p.ring) AS (vidx, v)",
    ).selectExpr("id", "vidx", "v.x AS x", "v.y AS y")
    g = verts.join(comp, "id", "left").selectExpr(
        "id", "vidx", "x", "y", "COALESCE(comp, id) AS lbl")
    schema = StructType([
        StructField("shape_id", LongType(), False),
        StructField("vertex_idx", IntegerType(), False),
        StructField("x", DoubleType(), False),
        StructField("y", DoubleType(), False),
    ])

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        sid = int(key[0])
        chains = {}
        for lid, grp in pdf.groupby("id"):
            grp = grp.sort_values("vidx")
            chains[int(lid)] = list(zip(grp["x"], grp["y"]))

        def q(p):
            return (round(p[0] / (snap * 0.5)), round(p[1] / (snap * 0.5)))

        # walk: start at an endpoint whose cluster appears once
        from collections import defaultdict
        enduse = defaultdict(list)
        for lid, ch in chains.items():
            enduse[q(ch[0])].append((lid, 0))
            enduse[q(ch[-1])].append((lid, 1))
        starts = [(lid, e) for k, v in enduse.items() if len(v) == 1
                  for lid, e in v]
        if starts:
            cur, e = min(starts)
        else:  # closed loop: deterministic start
            cur = min(chains)
            e = 0
        out = []
        used = set()
        while True:
            ch = chains[cur]
            if e == 1:
                ch = ch[::-1]
            if out:
                ch = ch[1:]  # shared node emitted once
            out.extend(ch)
            used.add(cur)
            tail = q(out[-1] if out else ch[-1])
            nxt = [(lid, ee) for lid, ee in enduse[tail]
                   if lid not in used]
            if not nxt:
                break
            cur, ee = nxt[0]
            e = ee  # enter at this end, exit the other
        return pd.DataFrame({
            "shape_id": sid,
            "vertex_idx": np.arange(len(out), dtype=np.int32),
            "x": [p[0] for p in out],
            "y": [p[1] for p in out],
        })

    return g.groupBy("lbl").applyInPandas(assemble, schema=schema)


def split_with_lines(features: DataFrame, split_lines: DataFrame,
                     id_col: str = "shape_id") -> DataFrame:
    """SplitWithLines (gis_analysis/split_with_lines.rs): break the
    input polylines at every intersection with the split layer. Output
    (shape_id, piece_idx, vertex_idx, x, y) — each piece a maximal run
    between cuts. Pure SQL: the codegen intersection join, per-segment
    ordered cut explode, and a running piece counter window."""
    from pyspark.sql import Window

    segs = features_to_segments(features, id_col=id_col).selectExpr(
        f"{id_col} AS shape_id", "part_idx",
        "CAST(part_idx * 1000000 + seg_idx AS BIGINT) AS seg_idx",
        "x1", "y1", "x2", "y2")
    ssegs = features_to_segments(split_lines, id_col=id_col).selectExpr(
        "shape_id", "CAST(part_idx * 1000000 + seg_idx AS BIGINT) AS seg_idx",
        "x1", "y1", "x2", "y2")
    inter = line_intersections(segs.drop("part_idx"), ssegs)
    cuts = inter.selectExpr("a_id AS shape_id", "a_seg AS seg_idx",
                            "t", "ix", "iy").where("t > 0.0 AND t < 1.0")
    agg = cuts.groupBy("shape_id", "seg_idx").agg(
        F.expr("ARRAY_SORT(COLLECT_LIST(STRUCT(t, ix, iy)))").alias("cs"))
    j = segs.join(agg, ["shape_id", "seg_idx"], "left")
    chain = ("CONCAT(ARRAY(STRUCT(CAST(0.0 AS DOUBLE) AS t, x1 AS ix, y1 AS iy)), "
             "COALESCE(cs, ARRAY()), "
             "ARRAY(STRUCT(CAST(1.0 AS DOUBLE) AS t, x2 AS ix, y2 AS iy)))")
    sub = j.selectExpr(
        "shape_id", "part_idx", "seg_idx",
        f"EXPLODE(TRANSFORM(SEQUENCE(0, SIZE({chain}) - 2), "
        f"i -> STRUCT(i AS i, ELEMENT_AT({chain}, i + 1) AS p, "
        f"ELEMENT_AT({chain}, i + 2) AS q))) AS s",
    ).selectExpr(
        "shape_id", "part_idx", "seg_idx", "s.i AS cut_i",
        "s.p.ix AS x1", "s.p.iy AS y1", "s.q.ix AS x2", "s.q.iy AS y2",
    ).where("NOT (x1 = x2 AND y1 = y2)")
    # piece counter: a new piece starts at every cut boundary (cut_i > 0)
    w = Window.partitionBy("shape_id", "part_idx") \
        .orderBy("seg_idx", "cut_i") \
        .rowsBetween(Window.unboundedPreceding, 0)
    pieces = sub.withColumn(
        "piece_idx",
        F.sum(F.expr("CASE WHEN cut_i > 0 THEN 1 ELSE 0 END")).over(w))
    w2 = Window.partitionBy("shape_id", "part_idx", "piece_idx") \
        .orderBy("seg_idx", "cut_i")
    first = F.row_number().over(w2)
    out = pieces.withColumn("rn", first)
    head = out.where("rn = 1").selectExpr(
        "shape_id", "part_idx", "piece_idx",
        "CAST(0 AS INT) AS sub_idx", "x1 AS x", "y1 AS y", "seg_idx",
        "cut_i")
    tails = out.selectExpr(
        "shape_id", "part_idx", "piece_idx", "rn AS sub_idx",
        "x2 AS x", "y2 AS y", "seg_idx", "cut_i")
    w3 = Window.partitionBy("shape_id", "part_idx", "piece_idx") \
        .orderBy("sub_idx", "seg_idx", "cut_i")
    return head.unionByName(tails) \
        .withColumn("vertex_idx", F.row_number().over(w3) - 1) \
        .select("shape_id", "part_idx", "piece_idx", "vertex_idx", "x", "y")


def single_part_to_multi_part(features: DataFrame,
                              group_col: str,
                              id_col: str = "shape_id") -> DataFrame:
    """SinglePartToMultiPart (data_tools/single_part_to_multipart.rs):
    merge features sharing `group_col` into one multi-part feature;
    parts renumber 0..k-1 in (feature id, part_idx) order. Output
    (group, shape_id = smallest member id, parts)."""
    exploded = (
        features.select(group_col, id_col, F.explode("parts").alias("p"))
        .selectExpr(group_col, id_col, "p.part_idx AS part_idx",
                    "p.is_hole AS is_hole", "p.ring AS ring")
    )
    return (
        exploded.groupBy(group_col)
        .agg(F.min(id_col).alias(id_col),
             F.expr(
                 f"TRANSFORM(ARRAY_SORT(COLLECT_LIST(STRUCT({id_col} AS fid, "
                 f"part_idx AS pi, is_hole, ring)), "
                 "(l, r) -> CASE WHEN l.fid < r.fid OR (l.fid = r.fid AND l.pi < r.pi) "
                 "THEN -1 WHEN l.fid = r.fid AND l.pi = r.pi THEN 0 ELSE 1 END), "
                 "(p, i) -> STRUCT(CAST(i AS INT) AS part_idx, p.is_hole AS is_hole, "
                 "p.ring AS ring))").alias("parts"))
    )


def polygons_to_lines(features: DataFrame) -> DataFrame:
    """PolygonsToLines (data_tools/polygons_to_lines.rs): relabel
    polygon features as polylines — rings become line parts verbatim
    (hole flags drop, shape_type 5 -> 3)."""
    return features.withColumn("shape_type", F.lit(3)).withColumn(
        "parts",
        F.expr("TRANSFORM(parts, p -> STRUCT(p.part_idx AS part_idx, "
               "FALSE AS is_hole, p.ring AS ring))"))


def lines_to_polygons(features: DataFrame) -> DataFrame:
    """LinesToPolygons (data_tools/lines_to_polygons.rs): relabel
    polylines as polygons, closing each part's ring when its endpoints
    differ (append the first vertex, the reference's closure rule);
    all parts become shells (shape_type 3 -> 5)."""
    close = ("CASE WHEN SIZE(p.ring) >= 1 AND "
             "(ELEMENT_AT(p.ring, 1).x <> ELEMENT_AT(p.ring, -1).x OR "
             "ELEMENT_AT(p.ring, 1).y <> ELEMENT_AT(p.ring, -1).y) "
             "THEN CONCAT(p.ring, ARRAY(ELEMENT_AT(p.ring, 1))) ELSE p.ring END")
    return features.withColumn("shape_type", F.lit(5)).withColumn(
        "parts",
        F.expr(f"TRANSFORM(parts, p -> STRUCT(p.part_idx AS part_idx, "
               f"FALSE AS is_hole, {close} AS ring))"))


def shape_complexity_index(features: DataFrame,
                           id_col: str = "shape_id") -> DataFrame:
    """ShapeComplexityIndex (gis_analysis/shape_complexity_index.rs:
    218-245): SCI = 1 - A / Ah, where A is the feature's area (shells
    add, holes subtract — the same signed fold as polygon_area) and Ah
    is the sum over shell parts of the part's convex-hull area. Hulls
    are per-part (holes contribute no hull), computed with the monotone
    chain inside applyInPandas keyed on (feature, part) — fully
    distributed, no driver geometry."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    areas = features.selectExpr(id_col, f"{feature_area_expr()} AS area")
    part_pts = (
        features.selectExpr(id_col, "EXPLODE(parts) AS p")
        .where("NOT p.is_hole")
        .selectExpr(id_col, "p.part_idx AS part_idx", "EXPLODE(p.ring) AS v")
        .selectExpr(id_col, "part_idx", "v.x AS x", "v.y AS y")
    )
    schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("hull_area", DoubleType(), False),
    ])

    def hull_area_of(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pts = np.unique(pdf[["x", "y"]].to_numpy(dtype=np.float64), axis=0)
        pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

        def cross(o, a, b):
            return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

        if len(pts) <= 2:
            hull = pts
        else:
            lower, upper = [], []
            for p in pts:
                while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
                    lower.pop()
                lower.append(tuple(p))
            for p in pts[::-1]:
                while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
                    upper.pop()
                upper.append(tuple(p))
            hull = np.array(lower[:-1] + upper[:-1])
        if len(hull) < 3:
            ha = 0.0
        else:
            xs, ys = hull[:, 0], hull[:, 1]
            ha = abs(float(np.dot(xs, np.roll(ys, -1))
                           - np.dot(ys, np.roll(xs, -1)))) / 2.0
        return pd.DataFrame({id_col: [key[0]], "hull_area": [ha]})

    hulls = (
        part_pts.groupBy(id_col, "part_idx")
        .applyInPandas(hull_area_of, schema=schema)
        .groupBy(id_col).agg(F.sum("hull_area").alias("hull_area"))
    )
    return areas.join(hulls, id_col).selectExpr(
        id_col,
        "CASE WHEN hull_area > 0.0 THEN 1.0 - area / hull_area "
        "ELSE 0.0 END AS complexity")


def deviation_from_regional_direction(features: DataFrame,
                                      elong_threshold: float = 0.75,
                                      id_col: str = "shape_id") -> DataFrame:
    """DeviationFromRegionalDirection (gis_analysis/
    deviation_from_regional_direction.rs): each polygon's RMA-regression
    axial direction vs the long-axis-times-elongation-weighted regional
    mean direction (doubled-angle circular mean over polygons whose
    elongation >= threshold), folded to [0, 90] degrees. First-part
    ring only, like the reference. Output (id, deviation)."""
    import math

    import pandas as pd

    ring = "parts[0].ring"
    nodes = (features.selectExpr(id_col, f"EXPLODE({ring}) AS v")
             .selectExpr(id_col, "v.x AS x", "v.y AS y"))
    agg = nodes.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxsq"),
        F.sum(F.expr("y * y")).alias("sysq"))
    sxx = "(sxsq / n - (sx / n) * (sx / n))"
    syy = "(sysq / n - (sy / n) * (sy / n))"
    ols_sign = "(sxy - (sx / n) * sy)"
    rma_rad = (f"CASE WHEN {ols_sign} < 0.0 THEN ATAN(-SQRT(({syy}) / ({sxx}))) "
               f"ELSE ATAN(SQRT(({syy}) / ({sxx}))) END")
    rma = agg.selectExpr(
        id_col,
        f"CASE WHEN ({sxx}) > 0.0 THEN ({rma_rad}) ELSE 0.0 END AS rma_rad")

    schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("long_axis", DoubleType(), False),
        StructField("elong", DoubleType(), False),
    ])

    def mbb(key, pdf: pd.DataFrame) -> pd.DataFrame:
        _c, la, sa, _s, _ctr = _wbt_min_box(pdf[["x", "y"]].to_numpy(),
                                            "area")
        elong = 1.0 - (sa / la if la > 0 else 1.0)
        return pd.DataFrame({id_col: [key[0]], "long_axis": [la],
                             "elong": [elong]})

    boxes = nodes.groupBy(id_col).applyInPandas(mbb, schema=schema)
    per = rma.join(boxes, id_col).selectExpr(
        id_col, "rma_rad",
        f"CASE WHEN elong >= {float(elong_threshold)!r} "
        f"THEN long_axis * elong ELSE 0.0 END AS w")
    sums = per.agg(
        F.sum(F.expr("SIN(2.0 * rma_rad) * w")).alias("ss"),
        F.sum(F.expr("COS(2.0 * rma_rad) * w")).alias("sc"))
    reg = ("(CASE WHEN -DEGREES(ATAN2(ss, sc) / 2.0) + 90.0 < 0.0 "
           "THEN 180.0 + (-DEGREES(ATAN2(ss, sc) / 2.0) + 90.0) "
           "ELSE -DEGREES(ATAN2(ss, sc) / 2.0) + 90.0 END)")
    slope_deg = ("CASE WHEN DEGREES(rma_rad) < 0.0 "
                 "THEN 90.0 + -1.0 * DEGREES(rma_rad) "
                 "ELSE 90.0 - DEGREES(rma_rad) END")
    dev = (f"CASE WHEN ({slope_deg}) - ({reg}) < 0.0 "
           f"THEN ({slope_deg}) - ({reg}) + 180.0 "
           f"ELSE ({slope_deg}) - ({reg}) END")
    return per.crossJoin(F.broadcast(sums)).selectExpr(
        id_col,
        f"CASE WHEN ({dev}) > 90.0 THEN 180.0 - ({dev}) "
        f"ELSE ({dev}) END AS deviation")


def voronoi_diagram(points: DataFrame, extent: tuple[float, float, float, float],
                    id_col: str = "record_num",
                    x: str = "x", y: str = "y") -> DataFrame:
    """VoronoiDiagram (gis_analysis/voronoi_diagram.rs): the Voronoi
    cell polygon of every point, clipped to `extent` (xmin, ymin, xmax,
    ymax). Per-point half-plane clipping of the extent rectangle
    against the perpendicular bisectors.

    Plan: points broadcast, one Arrow batch kernel per partition. At
    scale, restrict the bisector candidates to Delaunay neighbors (the
    tin.py tile kernels); the half-plane clip itself is unchanged.
    Output (id, vertex_idx, x, y) with vertices in counter-clockwise
    order."""
    import numpy as np
    import pandas as pd

    xmin, ymin, xmax, ymax = (float(v) for v in extent)
    # sort by id: collect order is partition-dependent, and the clip
    # ORDER shapes the interpolated vertices' last ulps — sorting makes
    # the kernel deterministic (and replayable by the DuckDB oracle)
    pts = sorted(((int(r[0]), float(r[1]), float(r[2]))
                  for r in points.select(id_col, x, y).collect()),
                 key=lambda t: t[0])
    sc = points.sparkSession.sparkContext
    bc = sc.broadcast(pts)
    schema = StructType([
        StructField(id_col, LongType(), False),
        StructField("vertex_idx", IntegerType(), False),
        StructField("x", DoubleType(), False),
        StructField("y", DoubleType(), False),
    ])

    def clip_halfplane(poly, a, b, c):
        # keep points with a*x + b*y <= c
        out = []
        n = len(poly)
        for i in range(n):
            px, py = poly[i]
            qx, qy = poly[(i + 1) % n]
            pin = a * px + b * py <= c + 1e-12
            qin = a * qx + b * qy <= c + 1e-12
            if pin:
                out.append((px, py))
            if pin != qin:
                t = (c - a * px - b * py) / (a * (qx - px) + b * (qy - py))
                out.append((px + t * (qx - px), py + t * (qy - py)))
        return out

    def run(batches):
        allp = bc.value
        for pdf in batches:
            rows = []
            for pid, px, py in zip(pdf[id_col], pdf[x], pdf[y]):
                poly = [(xmin, ymin), (xmax, ymin), (xmax, ymax),
                        (xmin, ymax)]
                for qid, qx, qy in allp:
                    if qid == pid:
                        continue
                    # bisector half-plane containing p
                    a, b = qx - px, qy - py
                    c = (qx * qx - px * px + qy * qy - py * py) / 2.0
                    poly = clip_halfplane(poly, a, b, c)
                    if not poly:
                        break
                for i, (vx, vy) in enumerate(poly):
                    rows.append((int(pid), i, float(vx), float(vy)))
            yield pd.DataFrame(rows, columns=[id_col, "vertex_idx", "x", "y"])

    return points.select(id_col, x, y).mapInPandas(run, schema=schema)
