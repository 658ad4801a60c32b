"""Point-in-polygon spatial joins (Clip / Erase / tag-join).

Reference semantics (transcribed, not copied):
- even-odd winding PIP with boundary-outside:
  whitebox-common/src/algorithms/poly_ops.rs:30-72
- ClipLidarToPolygon / ErasePolygonFromLidar sequential record scan with
  bbox prefilter, shell-sets-true then hole-sets-false:
  whitebox-tools-app/src/tools/lidar_analysis/clip_lidar_to_polygon.rs:274-317,
  erase_polygon_from_lidar.rs (same loop, inverted keep-mask)

Two physical plans:

1. **Broadcast plan** (small polygon layer — the common case, e.g. admin
   boundaries vs 10^12 points): polygons are collected once, broadcast to
   executors, and evaluated in a single mapInPandas pass over the point
   stream. Zero shuffle: the job is scan -> batched numpy PIP -> write.

2. **Cell-cover plan** (large polygon layer): each polygon emits the FRS
   cells covered by its bbox (explode(sequence(...)) x2 — codegen),
   carrying its bbox and its ring edges as arrays; the points carry
   their own cell key, and an equi-join on cell id produces candidate
   pairs. The even-odd refine is a SQL filter over the carried edge
   arrays in the join's own stage — no Python worker, no second
   exchange. The join is a plain equi-join on int64 cells, so AQE's
   skew-join split handles hot cells.

Both plans preserve the input row payload untouched (span-sequence
invariant): they only append `polygon_id` / keep-or-drop rows.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..functions import geometry as G
from ..functions import geometry_sql as GS
from ..functions.cells import frs_cell_expr, with_frs_cells

# Polygon layers with at most this many total edges compile to a pure
# SQL predicate (WholeStageCodegen — no Python exchange, linear thread
# scaling). Bigger layers fall back to the Arrow kernel / cell-cover.
CODEGEN_MAX_EDGES = 4096

# Broadcast-plan guard: collect_polygons pulls the polygon layer to the
# driver, which is only safe for genuinely small layers (admin
# boundaries, clip masks). Layers beyond this many features make
# plan='auto' fall through to the fully-distributed cell-cover plan
# instead of risking a driver OOM (the similarity module's
# _MAX_DRIVER_VECTORS guard, applied to geometry).
MAX_DRIVER_POLYGONS = 100_000

# ---------------------------------------------------------------------------
# Polygon layer representation
# ---------------------------------------------------------------------------


class PolygonRecord:
    """One feature: bbox + shell rings + hole rings as numpy arrays."""

    __slots__ = ("polygon_id", "bbox", "shells", "holes")

    def __init__(self, polygon_id: int, bbox, shells, holes):
        self.polygon_id = polygon_id
        self.bbox = bbox  # (xmin, ymin, xmax, ymax)
        self.shells = shells
        self.holes = holes


def collect_polygons(polygons: DataFrame,
                     max_rows: int | None = -1) -> list[PolygonRecord]:
    """Collect a (small) polygon layer to plain numpy, ordered by
    polygon_id — the record order of the WBT sequential scan.

    The sort happens driver-side AFTER the collect: an .orderBy() on a
    tiny layer plans a range-partition exchange (sampling job + wide
    shuffle) that costs ~0.7 s of fixed latency per call on local[32] —
    pure overhead when the rows are leaving the cluster anyway.

    max_rows guards the broadcast plan: a layer larger than the cap
    raises so plan='auto' callers dispatch to the distributed cell-cover
    plan instead. The row check runs AFTER a plain collect — a LIMIT
    would be the obvious guard but CollectLimitExec's incremental
    partition ramp-up costs ~0.5 s of fixed latency per call; the hard
    memory backstop during the collect itself is Spark's own
    spark.driver.maxResultSize. max_rows=-1 (the default) reads the
    module-level MAX_DRIVER_POLYGONS at call time; None disables the
    guard (explicit caller responsibility)."""
    if max_rows == -1:
        max_rows = MAX_DRIVER_POLYGONS
    rows = polygons.select("polygon_id", "bbox", "parts").collect()
    if max_rows is not None and len(rows) > max_rows:
        raise ValueError(
            f"polygon layer exceeds MAX_DRIVER_POLYGONS={max_rows}; "
            f"use points_in_polygons_cellcover (plan='auto' does this "
            f"automatically)")
    rows.sort(key=lambda r: r["polygon_id"])
    out = []
    for r in rows:
        shells, holes = [], []
        for part in r["parts"]:
            ring = np.asarray([(p["x"], p["y"]) for p in part["ring"]], dtype=np.float64)
            (holes if part["is_hole"] else shells).append(ring)
        bbox = (r["bbox"]["xmin"], r["bbox"]["ymin"], r["bbox"]["xmax"], r["bbox"]["ymax"])
        out.append(PolygonRecord(int(r["polygon_id"]), bbox, shells, holes))
    return out


# ---------------------------------------------------------------------------
# Broadcast plan
# ---------------------------------------------------------------------------


def _rings(rec: PolygonRecord) -> tuple[list, list]:
    return ([r.tolist() for r in rec.shells], [r.tolist() for r in rec.holes])


def clip_points(
    points: DataFrame,
    polygons: DataFrame,
    x: str = "x",
    y: str = "y",
    erase: bool = False,
    plan: str = "auto",
) -> DataFrame:
    """ClipLidarToPolygon (erase=False) / ErasePolygonFromLidar (erase=True).

    Semi/anti spatial join, broadcast plan; all payload columns untouched.
    plan='codegen' compiles the winding test to a SQL predicate
    (WholeStageCodegen, zero Python); plan='arrow' runs the numpy kernel
    via mapInArrow; 'auto' picks codegen while the layer has
    <= CODEGEN_MAX_EDGES edges. Layers beyond MAX_DRIVER_POLYGONS
    raise — use clip_points_cellcover(key=...) for those (clip/erase
    needs a unique row key to fold overlapping-polygon matches).
    """
    recs = collect_polygons(polygons)
    n_edges = sum(GS.edge_count(*_rings(r)) for r in recs)
    if plan == "codegen" or (plan == "auto" and n_edges <= CODEGEN_MAX_EDGES):
        verdict = GS.clip_verdict_spark_sql(
            [(*_rings(r), r.bbox) for r in recs], x, y
        )
        return points.where(F.expr(f"NOT ({verdict})" if erase else verdict))
    return _clip_points_arrow(points, recs, x, y, erase)


def _clip_points_arrow(points: DataFrame, recs: list, x: str, y: str, erase: bool) -> DataFrame:
    """Arrow-kernel plan: verdict reads only (x, y) as zero-copy numpy
    views; the payload (incl. strings) is filtered as Arrow buffers and
    never materializes Python objects."""
    import pyarrow as pa

    sc = points.sparkSession.sparkContext
    bc = sc.broadcast(
        [(r.polygon_id, r.bbox, r.shells, r.holes) for r in recs]
    )
    schema = points.schema

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        records = bc.value
        xi = yi = None
        for batch in batches:
            if xi is None:
                xi = batch.schema.get_field_index(x)
                yi = batch.schema.get_field_index(y)
            px = batch.column(xi).to_numpy(zero_copy_only=False)
            py = batch.column(yi).to_numpy(zero_copy_only=False)
            verdict = np.zeros(batch.num_rows, dtype=bool)
            for _pid, bbox, shells, holes in records:
                verdict = G.points_in_feature(px, py, shells, holes, bbox, state=verdict)
            yield batch.filter(pa.array(~verdict if erase else verdict))

    return points.mapInArrow(run, schema=schema)


def erase_points(points: DataFrame, polygons: DataFrame, x: str = "x", y: str = "y") -> DataFrame:
    return clip_points(points, polygons, x=x, y=y, erase=True)


def _auto_cover_radius(polygons: DataFrame) -> float:
    """Cell size for the auto cell-cover fallback: the mean bbox long
    dimension — each polygon covers O(1) cells, points land in exactly
    one, and the (cx, cy) equi-join fan-out stays bounded. One scalar
    agg job, only on the over-cap path."""
    r = polygons.selectExpr(
        "AVG(GREATEST(bbox.xmax - bbox.xmin, bbox.ymax - bbox.ymin)) AS w"
    ).collect()[0]["w"]
    return max(float(r or 1.0), 1e-9)


def clip_points_cellcover(
    points: DataFrame,
    polygons: DataFrame,
    radius: float,
    key: list[str],
    x: str = "x",
    y: str = "y",
    erase: bool = False,
) -> DataFrame:
    """Clip/erase against an arbitrarily-large polygon layer: cell-cover
    tag join -> semi (clip) / anti (erase) join back on `key` (a unique
    row identifier — required because a point inside overlapping
    polygons yields several tagged rows and the fold back to one verdict
    per row needs a join key; the broadcast plan folds per-row state
    instead and needs none)."""
    tagged = points_in_polygons_cellcover(
        points.select(*dict.fromkeys(list(key) + [x, y])), polygons,
        radius=radius, x=x, y=y)
    matched = tagged.select(*key).dropDuplicates(list(key))
    return points.join(matched, list(key), "anti" if erase else "semi")


def points_in_polygons(
    points: DataFrame,
    polygons: DataFrame,
    x: str = "x",
    y: str = "y",
    plan: str = "auto",
) -> DataFrame:
    """Tag-join: one output row per (point, containing polygon) pair.

    Containment per record = in any non-hole ring AND not in any hole
    ring of that record (even-odd, boundary outside). Output = all point
    columns + `polygon_id`. Points in no polygon produce no row (inner
    semantics); the caller can left-join back for outer semantics.

    plan='codegen': the per-record verdicts compile to one SQL
    FILTER(ARRAY(...)) + explode — WholeStageCodegen end to end.
    plan='arrow': batched numpy kernel via mapInArrow. 'auto' picks
    codegen while the layer has <= CODEGEN_MAX_EDGES edges, and falls
    through to the fully-distributed cell-cover plan when the layer
    exceeds MAX_DRIVER_POLYGONS (never collects an unbounded layer).
    """
    if plan == "auto":
        try:
            recs = collect_polygons(polygons)
        except ValueError:
            return points_in_polygons_cellcover(
                points, polygons, radius=_auto_cover_radius(polygons),
                x=x, y=y)
    else:
        recs = collect_polygons(polygons, max_rows=None)
    n_edges = sum(GS.edge_count(*_rings(r)) for r in recs)
    if plan == "codegen" or (plan == "auto" and n_edges <= CODEGEN_MAX_EDGES):
        arms = ", ".join(
            f"IF({GS.inside_feature_sql(*_rings(r), xs=x, ys=y, bbox=r.bbox)}, "
            f"CAST({r.polygon_id} AS BIGINT), NULL)"
            for r in recs
        )
        return points.withColumn(
            "polygon_id",
            F.explode(F.expr(f"FILTER(ARRAY({arms}), v -> v IS NOT NULL)")),
        )
    return _points_in_polygons_arrow(points, recs, x, y)


def _points_in_polygons_arrow(points: DataFrame, recs: list, x: str, y: str) -> DataFrame:
    import pyarrow as pa

    sc = points.sparkSession.sparkContext
    bc = sc.broadcast([(r.polygon_id, r.bbox, r.shells, r.holes) for r in recs])
    schema = StructType(points.schema.fields + [StructField("polygon_id", LongType(), False)])

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        records = bc.value
        xi = yi = None
        for batch in batches:
            if xi is None:
                xi = batch.schema.get_field_index(x)
                yi = batch.schema.get_field_index(y)
            px = batch.column(xi).to_numpy(zero_copy_only=False)
            py = batch.column(yi).to_numpy(zero_copy_only=False)
            for pid, bbox, shells, holes in records:
                mask = G.points_in_feature(px, py, shells, holes, bbox)
                if mask.any():
                    sub = batch.filter(pa.array(mask))
                    pid_col = pa.array(np.full(sub.num_rows, pid, dtype=np.int64))
                    yield pa.RecordBatch.from_arrays(
                        list(sub.columns) + [pid_col],
                        names=[f.name for f in sub.schema] + ["polygon_id"],
                    )

    return points.mapInArrow(run, schema=schema)


# ---------------------------------------------------------------------------
# Cell-cover plan (large polygon layer)
# ---------------------------------------------------------------------------


def polygon_cover_cells(polygons: DataFrame, radius: float) -> DataFrame:
    """Each row (which must carry `bbox`) once per FRS cell (cx, cy)
    intersecting its bbox, all its columns kept. Pure codegen: sequence
    + explode, no UDF."""
    cxmin = frs_cell_expr("bbox.xmin", radius)
    cxmax = frs_cell_expr("bbox.xmax", radius)
    cymin = frs_cell_expr("bbox.ymin", radius)
    cymax = frs_cell_expr("bbox.ymax", radius)
    return (
        polygons
        .withColumn("cx", F.explode(F.expr(f"SEQUENCE({cxmin}, {cxmax})")))
        .withColumn("cy", F.explode(F.expr(f"SEQUENCE({cymin}, {cymax})")))
    )


def polygon_vertices(polygons: DataFrame) -> DataFrame:
    """Flatten a polygon layer to one row per ring vertex:
    (polygon_id, part_idx, is_hole, vtx_idx, vx, vy). Pure codegen
    (two POSEXPLODEs) — the nested geometry never touches the driver,
    and the flat numeric columns cross the Arrow boundary zero-copy."""
    return polygons.selectExpr(
        "polygon_id", "POSEXPLODE(parts) AS (part_idx, part)"
    ).selectExpr(
        "polygon_id", "part_idx", "part.is_hole AS is_hole",
        "POSEXPLODE(part.ring) AS (vtx_idx, v)",
    ).selectExpr("polygon_id", "part_idx", "is_hole", "vtx_idx",
                 "v.x AS vx", "v.y AS vy")


def points_in_polygons_cellcover(
    points: DataFrame,
    polygons: DataFrame,
    radius: float,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Tag-join via cell-cover equi-join + in-stage SQL PIP refine.

    Plan (fully distributed — NOTHING is collected to the driver, so the
    polygon layer can be arbitrarily large):

    1. points gain (cx, cy) [codegen];
    2. each polygon row builds its shell and hole edge arrays once
       (`GS.ring_edges_sql`) and explodes its bbox into cover cells that
       carry bbox + edges;
    3. equi-join on (cx, cy) [one shuffle or broadcast; AQE skew-split],
       then, in the join's stage, the strict-interior bbox prefilter
       (bounding_box.rs:217) and the even-odd refine: inside any shell
       AND NOT inside any hole (poly_ops.rs:30-72 semantics, the
       winding_sql terms evaluated over the edge arrays).

    No Python worker runs: the refine is the broadcast codegen plan's
    arithmetic with the edge constants read from columns.
    """
    cover = polygon_cover_cells(polygons.selectExpr(
        "CAST(polygon_id AS BIGINT) AS polygon_id", "bbox",
        f"{GS.ring_edges_sql('parts', holes=False)} AS __shells",
        f"{GS.ring_edges_sql('parts', holes=True)} AS __holes"), radius)
    cand = with_frs_cells(points, radius, x=x, y=y).join(cover, ["cx", "cy"], "inner")
    # bbox prefilter: strict interior (bounding_box.rs:217)
    cand = cand.where(
        (F.col(x) > F.col("bbox.xmin"))
        & (F.col(x) < F.col("bbox.xmax"))
        & (F.col(y) > F.col("bbox.ymin"))
        & (F.col(y) < F.col("bbox.ymax"))
    )
    inside = (f"{GS.inside_any_ring_sql('__shells', x, y)} AND NOT "
              f"{GS.inside_any_ring_sql('__holes', x, y)}")
    return cand.where(F.expr(inside)).select(*points.columns, "polygon_id")
