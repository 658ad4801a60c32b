"""Polygonize — build polygons from a polyline arrangement.

Reference semantics (gis_analysis/polygonize.rs): split the input lines
at every proper intersection, then extract every bounded face of the
resulting planar arrangement as a polygon. Hole nesting is NOT
reproduced: each bounded face is emitted as its own simple polygon
(the reference assembles nested holes into multipart shapes; callers
needing that can compose with overlay_vector.difference).

Spark plan:
1. segment extraction + pairwise intersections — the bbox-prefiltered
   codegen join of vector_ops.line_intersections;
2. segment splitting at its ordered intersection params — pure SQL
   (collect_list + array_sort + transform + explode), no Python;
3. node quantization + connected components over the edge graph —
   clump.connected_components on STRUCT(kx, ky) node ids (frontier
   scatter + pointer jumping, O(log diameter) rounds on rings);
4. face tracing per component — cogrouped applyInPandas: directed
   half-edges sorted by angle at each node, next(u->v) = clockwise-most
   edge at v after (v->u); bounded (CCW, positive-area) faces survive.
   Components are independent, so the only sequential work is within a
   single connected figure.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StructField,
                               StructType)

from .clump import connected_components
from .vector_ops import line_intersections

# face key = (min quantized node, its ring successor): distinct faces
# around the same min node leave it via distinct half-edges, so the pair
# is globally unique (min nodes are component-local).
_POLY_SCHEMA = StructType([
    StructField("face_kx", LongType(), False),
    StructField("face_ky", LongType(), False),
    StructField("face_sx", LongType(), False),
    StructField("face_sy", LongType(), False),
    StructField("area", DoubleType(), False),
    StructField("vertex_idx", IntegerType(), False),
    StructField("x", DoubleType(), False),
    StructField("y", DoubleType(), False),
])


def _split_segments(segs: DataFrame) -> DataFrame:
    """Split every segment at its intersection points with any other
    segment. Input/output: (shape_id, seg_idx, x1, y1, x2, y2)."""
    inter = line_intersections(segs, segs).where(
        "NOT (a_id = b_id AND a_seg = b_seg)")
    cuts = inter.selectExpr(
        "a_id AS shape_id", "a_seg AS seg_idx", "t", "ix", "iy",
    ).unionByName(inter.selectExpr(
        "b_id AS shape_id", "b_seg AS seg_idx", "u AS t", "ix", "iy"))
    cuts = cuts.where("t > 0.0 AND t < 1.0")
    agg = cuts.groupBy("shape_id", "seg_idx").agg(
        F.expr("ARRAY_SORT(COLLECT_LIST(STRUCT(t, ix, iy)))").alias("cs"))
    j = segs.join(agg, ["shape_id", "seg_idx"], "left")
    # chain: (0, x1, y1) ++ cuts ++ (1, x2, y2); consecutive pairs are the
    # sub-segments. Duplicate cut params collapse to zero-length pieces
    # that the WHERE drops.
    chain = ("CONCAT(ARRAY(STRUCT(CAST(0.0 AS DOUBLE) AS t, x1 AS ix, y1 AS iy)), "
             "COALESCE(cs, ARRAY()), "
             "ARRAY(STRUCT(CAST(1.0 AS DOUBLE) AS t, x2 AS ix, y2 AS iy)))")
    sub = j.selectExpr(
        "shape_id", "seg_idx",
        f"EXPLODE(TRANSFORM(SEQUENCE(0, SIZE({chain}) - 2), "
        f"i -> STRUCT(i, ELEMENT_AT({chain}, i + 1) AS p, "
        f"ELEMENT_AT({chain}, i + 2) AS q))) AS s",
    ).selectExpr(
        "shape_id", "seg_idx", "s.i AS piece_idx",
        "s.p.ix AS x1", "s.p.iy AS y1", "s.q.ix AS x2", "s.q.iy AS y2",
    )
    return sub.where("NOT (x1 = x2 AND y1 = y2)")


def _quant(expr: str, q: float) -> str:
    return f"CAST(ROUND(({expr}) / {q!r}) AS BIGINT)"


def polygonize(segs: DataFrame, quant: float = 1e-9) -> DataFrame:
    """Polygonize (gis_analysis/polygonize.rs semantics, see module doc).

    segs: (shape_id, seg_idx, x1, y1, x2, y2) polyline segments.
    Returns (poly_id, vertex_idx, x, y, area): one CCW ring per bounded
    face of the noded arrangement, poly_id dense-ranked by the face's
    min quantized node (deterministic)."""
    # pin the input once: the segment layer is read by BOTH sides of the
    # intersection cartesian, the split join, and (via lineage) every CC
    # round and the face trace — without this the upstream segment
    # extraction replays per cartesian task and per downstream action
    segs = segs.localCheckpoint(eager=True)
    sub = _split_segments(segs)
    e = sub.selectExpr(
        f"{_quant('x1', quant)} AS akx", f"{_quant('y1', quant)} AS aky",
        f"{_quant('x2', quant)} AS bkx", f"{_quant('y2', quant)} AS bky",
        "x1", "y1", "x2", "y2",
    ).where("NOT (akx = bkx AND aky = bky)")
    # one representative per quantized undirected edge
    e = e.withColumn(
        "__ek",
        F.expr("IF(STRUCT(akx, aky) < STRUCT(bkx, bky), "
               "STRUCT(akx AS k1, aky AS k2, bkx AS k3, bky AS k4), "
               "STRUCT(bkx AS k1, bky AS k2, akx AS k3, aky AS k4))"),
    ).dropDuplicates(["__ek"]).drop("__ek")
    # the noded arrangement anchors the CC loop and the trace — pin it
    # so neither replays the O(n^2)-candidate intersection join
    e = e.localCheckpoint(eager=True)
    comp = connected_components(
        e.selectExpr("STRUCT(akx AS kx, aky AS ky) AS a",
                     "STRUCT(bkx AS kx, bky AS ky) AS b"),
        "polygonize components", 64)
    ec = e.join(comp.selectExpr("id.kx AS akx", "id.ky AS aky",
                                "comp.kx AS cx", "comp.ky AS cy"),
                ["akx", "aky"])

    def trace(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # half-edge face traversal within one component
        nodes: dict[tuple, list] = {}
        hes = []  # (from_key, to_key, x1, y1, x2, y2)
        for r in pdf.itertuples(index=False):
            a = (r.akx, r.aky)
            b = (r.bkx, r.bky)
            hes.append((a, b, r.x1, r.y1, r.x2, r.y2))
            hes.append((b, a, r.x2, r.y2, r.x1, r.y1))
        out_edges: dict[tuple, list] = {}
        for i, (u, v, x1, y1, x2, y2) in enumerate(hes):
            ang = math.atan2(y2 - y1, x2 - x1)
            out_edges.setdefault(u, []).append((ang, v, i))
        for u in out_edges:
            out_edges[u].sort()
        # next(u->v): at v, the edge clockwise-next from the reverse (v->u)
        nxt = {}
        for i, (u, v, x1, y1, x2, y2) in enumerate(hes):
            rev_ang = math.atan2(y1 - y2, x1 - x2)
            cand = out_edges[v]
            # strictly smaller angle than rev_ang, wrapping (clockwise)
            lo = [c for c in cand if c[0] < rev_ang - 1e-15]
            pick = lo[-1] if lo else cand[-1]
            nxt[i] = pick[2]
        seen = [False] * len(hes)
        rows = []
        for start in range(len(hes)):
            if seen[start]:
                continue
            cycle = []
            i = start
            while not seen[i]:
                seen[i] = True
                cycle.append(i)
                i = nxt[i]
            if i != start or len(cycle) < 3:
                continue
            xs = [hes[j][2] for j in cycle]
            ys = [hes[j][3] for j in cycle]
            area = 0.5 * sum(
                xs[j] * ys[(j + 1) % len(xs)] - xs[(j + 1) % len(xs)] * ys[j]
                for j in range(len(xs)))
            if area <= quant:
                continue  # outer face (negative) or degenerate
            ks = [hes[j][0] for j in cycle]
            kmin = min(ks)
            shift = ks.index(kmin)  # deterministic ring start
            n = len(cycle)
            succ = ks[(shift + 1) % n]
            for vi in range(n):
                j = cycle[(shift + vi) % n]
                rows.append((kmin[0], kmin[1], succ[0], succ[1], area, vi,
                             hes[j][2], hes[j][3]))
        if not rows:
            return pd.DataFrame(
                {f.name: pd.Series(dtype="float64" if isinstance(f.dataType, DoubleType)
                                   else "int64")
                 for f in _POLY_SCHEMA.fields})
        return pd.DataFrame(rows, columns=[f.name for f in _POLY_SCHEMA.fields])

    faces = ec.groupBy("cx", "cy").applyInPandas(trace, schema=_POLY_SCHEMA)
    from pyspark.sql import Window

    w = Window.orderBy("face_kx", "face_ky", "face_sx", "face_sy")
    ids = faces.select("face_kx", "face_ky", "face_sx", "face_sy").distinct() \
        .withColumn("poly_id", F.dense_rank().over(w))
    return faces.join(ids, ["face_kx", "face_ky", "face_sx", "face_sy"]) \
        .select("poly_id", "vertex_idx", "x", "y", "area")
