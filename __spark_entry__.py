"""Driver contract for the spark-graft builder (PySpark target).

Every query below exercises a whitebox_tools_spark operator (SURVEY.md
§2) over the driver's parquet tables; the matching ``oracle_sql()``
entry is an independent DuckDB transcription of the same semantics.

Parity design: spatial layers are DERIVED from the raw tables with
portable SQL (identical text on both engines → identical IEEE-754
doubles); geometry kernels, kNN tie-breaks and fold orders replicate
the reference's arithmetic (see module docstrings in
whitebox_tools_spark/ for file:line cites into /root/reference).
"""

from __future__ import annotations

import re

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from whitebox_tools_spark.functions import text as T
from whitebox_tools_spark.functions.cells import frs_cell_expr, morton_expr
from whitebox_tools_spark.functions.raster_math import GridMeta
from whitebox_tools_spark.operators import clump as CL
from whitebox_tools_spark.operators import curation as CU
from whitebox_tools_spark.operators import hydro as HY
from whitebox_tools_spark.operators import lidar as LI
from whitebox_tools_spark.operators import vector_ops as VO
from whitebox_tools_spark.operators import visibility as VIS
from whitebox_tools_spark.operators import dedup as D
from whitebox_tools_spark.operators import distance as DX
from whitebox_tools_spark.operators import enhancement as EN
from whitebox_tools_spark.operators import focal as FO
from whitebox_tools_spark.operators import knn as K
from whitebox_tools_spark.operators import overlay as OV
from whitebox_tools_spark.operators import pip_join as P
from whitebox_tools_spark.operators import raster as R
from whitebox_tools_spark.operators import retrieval as RV
from whitebox_tools_spark.operators import similarity as S
from whitebox_tools_spark.operators import tiling as TL
from whitebox_tools_spark.plans.driver import local_frame
from whitebox_tools_spark.sources.fixtures import polygon_rows

# ---------------------------------------------------------------------------
# Derived layers (portable SQL — identical text runs on Spark and DuckDB)
# ---------------------------------------------------------------------------

# Point layer from `events`: deterministic coords in (0, 1000.01); the
# +0.005 offset keeps points off every grid/cell center (no zero kNN
# distances → no inf/NaN in IDW).
_PX = "(CAST((event_id * 48271) % 100000 AS DOUBLE) / 100.0 + 0.005)"
_PY = "(CAST((event_id * 69621) % 100000 AS DOUBLE) / 100.0 + 0.005)"
_PTS_SQL = (
    f"SELECT event_id AS record_num, {_PX} AS x, {_PY} AS y, "
    "CAST(event_id % 1000 AS DOUBLE) AS value FROM events"
)

# Cells (raster) layers from `events`: 100x100 grid addressed by event id;
# values are integer-valued doubles so SUM/AVG are order-independent
# exact (a deliberate property: distributed partial aggregation reorders
# float sums, integer-valued doubles < 2^53 make every order bit-equal).
_RAS_A_SQL = (
    "SELECT (event_id % 100) AS row, (CAST(FLOOR(event_id / 100) AS BIGINT) % 100) AS col, "
    "CAST(MAX(event_id) % 1000 AS DOUBLE) AS value FROM events GROUP BY 1, 2"
)
_RAS_B_SQL = (
    "SELECT (event_id % 100) AS row, (CAST(FLOOR(event_id / 100) AS BIGINT) % 100) AS col, "
    "CAST(MAX(event_id) % 7 AS DOUBLE) AS value FROM events GROUP BY 1, 2"
)

# small 40x40 raster for the iterative fixpoint operators (gate-time bound)
_RAS_C_SQL = (
    "SELECT (event_id % 40) AS row, (CAST(FLOOR(event_id / 40) AS BIGINT) % 40) AS col, "
    "CAST(MAX(event_id) % 100 AS DOUBLE) AS value FROM events GROUP BY 1, 2"
)

# third 100x100 band (multi-band image ops: DDS, change-vector analysis)
_RAS_D_SQL = (
    "SELECT (event_id % 100) AS row, (CAST(FLOOR(event_id / 100) AS BIGINT) % 100) AS col, "
    "CAST(MAX(event_id) % 13 AS DOUBLE) AS value FROM events GROUP BY 1, 2"
)

_TABLES_NEEDED = {"events", "documents", "embeddings"}


def _reg(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        spark.read.parquet(f"{sf_dir}/{n}.parquet").createOrReplaceTempView(n)


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reg(spark, sf_dir, "events")
    return spark.sql(_PTS_SQL)


def _ras(spark: SparkSession, sf_dir: str, which: str) -> DataFrame:
    # NOT _spread here (r06: measured): a blanket repartition taxes the
    # ~25 cheap one-exchange queries ~0.15 s each for nothing; the ops
    # with heavy pre-exchange map work spread internally instead
    # (focal_pivotk, lidar._neighbor_pairs).
    _reg(spark, sf_dir, "events")
    return spark.sql(_RAS_A_SQL if which == "a" else _RAS_B_SQL)


def _spread(df: DataFrame) -> DataFrame:
    """Single-file parquet arrives as 1 partition; hash-heavy per-doc
    expressions (minhash/simhash) are CPU-bound, so spread small inputs
    across the cluster. A real deployment reads many files/Iceberg splits
    and skips this."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reg(spark, sf_dir, "documents")
    return _spread(spark.table("documents"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    _reg(spark, sf_dir, "embeddings")
    return _spread(spark.table("embeddings"))


def _emb_doubled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doubled embedding corpus (originals + exact 0.5x-scaled
    copies at vec_id + 100000) emitted from ONE scan via a 2-way
    explode — the same rows the former unionByName(dups) build
    produced, without the second scan and without doubling the
    partition count (which doubled per-task Arrow latency in every
    downstream Python stage — r06 optimization)."""
    return _emb(spark, sf_dir).selectExpr(
        "EXPLODE(ARRAY("
        "  STRUCT(vec_id, embedding),"
        "  STRUCT(vec_id + 100000 AS vec_id,"
        "         TRANSFORM(embedding, x -> CAST(x * CAST(0.5 AS FLOAT)"
        "                   AS FLOAT)) AS embedding)"
        ")) AS s"
    ).select("s.vec_id", "s.embedding")


# ---------------------------------------------------------------------------
# Fixed geometry / grids (constants shared by Spark plans and oracles)
# ---------------------------------------------------------------------------

_EXTENT = (0.0, 1000.01, 0.0, 1000.01)  # (min_x, max_x, min_y, max_y)
_TG = TL.resolve_tile_grid(0.0, 1000.01, 0.0, 1000.01, 0.0, 0.0, 64.0, 64.0)
_TEX = TL.tile_exprs(_TG)
_HEXG = TL.HexGrid(80.0, _EXTENT[0], _EXTENT[1], _EXTENT[2], _EXTENT[3])
_META40 = GridMeta(rows=40, columns=40, north=1000.0, south=0.0, east=1000.0,
                   west=0.0, resolution_x=25.0, resolution_y=25.0)
_META100 = GridMeta(rows=100, columns=100, north=1000.0, south=0.0, east=1000.0,
                    west=0.0, resolution_x=10.0, resolution_y=10.0)
_META40F = GridMeta(rows=40, columns=40, north=1000.0, south=600.0, east=400.0,
                    west=0.0, resolution_x=10.0, resolution_y=10.0)
_KNN_RADIUS = 60.0
_EXTENT_AREA = (_EXTENT[1] - _EXTENT[0]) * (_EXTENT[3] - _EXTENT[2])

# (polygon_id, shells, holes) — pairwise-disjoint layer: pentagon,
# square-with-hole, sliver triangle.
_POLYS: list[tuple[int, list[list[tuple[float, float]]], list[list[tuple[float, float]]]]] = [
    (0, [[(100.0, 100.0), (400.0, 120.0), (420.0, 380.0), (240.0, 460.0),
          (90.0, 300.0), (100.0, 100.0)]], []),
    (1, [[(500.0, 500.0), (800.0, 500.0), (800.0, 800.0), (500.0, 800.0),
          (500.0, 500.0)]],
        [[(600.0, 600.0), (600.0, 700.0), (700.0, 700.0), (700.0, 600.0),
          (600.0, 600.0)]]),
    (2, [[(50.0, 700.0), (250.0, 950.0), (60.0, 980.0), (50.0, 700.0)]], []),
]

_POLY_SCHEMA = StructType([
    StructField("polygon_id", LongType(), False),
    StructField("bbox", StructType([
        StructField("xmin", DoubleType(), False),
        StructField("ymin", DoubleType(), False),
        StructField("xmax", DoubleType(), False),
        StructField("ymax", DoubleType(), False),
    ]), False),
    StructField("parts", ArrayType(StructType([
        StructField("part_idx", IntegerType(), False),
        StructField("is_hole", BooleanType(), False),
        StructField("ring", ArrayType(StructType([
            StructField("x", DoubleType(), False),
            StructField("y", DoubleType(), False),
        ])), False),
    ])), False),
])


def _polygons_df(spark: SparkSession) -> DataFrame:
    polys = [{"polygon_id": pid,
              "parts": [{"is_hole": False, "ring": r} for r in shells]
              + [{"is_hole": True, "ring": r} for r in holes]}
             for pid, shells, holes in _POLYS]
    return local_frame(spark, polygon_rows(polys), _POLY_SCHEMA)


# -- PIP oracle SQL comes from the SAME generator the codegen operator
#    uses (whitebox_tools_spark.functions.geometry_sql) — operator and
#    oracle share one source of truth for the winding arithmetic
#    (reference poly_ops.rs:30-72).

from whitebox_tools_spark.functions import geometry_sql as GS  # noqa: E402


def _pip_tag_oracle() -> str:
    selects = [
        f"SELECT record_num, CAST({pid} AS BIGINT) AS polygon_id FROM pts "
        f"WHERE {GS.inside_feature_sql(sh, ho)}"
        for pid, sh, ho in _POLYS
    ]
    return f"WITH pts AS ({_PTS_SQL}) " + " UNION ALL ".join(selects)


def _clip_pred() -> str:
    return GS.clip_verdict_sql([(sh, ho) for _pid, sh, ho in _POLYS])


def _region_cover_oracle() -> str:
    """DuckDB replay of region_cover: the same leaf-intersect predicate
    text per fixture polygon (UNION ALL), unbiased Morton interleave in
    the << dialect, then the grouped unrolled compaction chain."""
    n = 64
    arms = " UNION ALL ".join(
        f"SELECT CAST({pid} AS BIGINT) AS polygon_id, "
        f"({_spread_duck('ix')} | ({_spread_duck('iy')} << 1)) AS cell "
        f"FROM cells WHERE "
        f"{TL.region_leaf_pred_sql(sh, ho, (0.0, 0.0, 1000.0), 6)}"
        for pid, sh, ho in _POLYS)
    leaf_cte = (
        f"cells AS (SELECT CAST(t.range % {n} AS BIGINT) AS ix, "
        f"CAST(t.range // {n} AS BIGINT) AS iy FROM range(0, {n * n}) t), "
        f"leaves AS ({arms})")
    return TL.cell_compact_oracle_sql(leaf_cte, leaf_col="cell", levels=6,
                                      group_cols=["polygon_id"])


# -- Morton id in DuckDB dialect (Spark side uses SHIFTLEFT; DuckDB uses
#    << — same bit math, verified equal by q_frs_cells).


def _spread_duck(v: str) -> str:
    e = f"(CAST({v} AS BIGINT) & 2147483647)"
    for sh, m in ((16, 281470681808895), (8, 71777214294589695),
                  (4, 1085102592571150095), (2, 3689348814741910323),
                  (1, 6148914691236517205)):
        e = f"(({e} | ({e} << {sh})) & {m})"
    return e


def _morton_duck(cx_sql: str, cy_sql: str) -> str:
    bx = _spread_duck(f"(({cx_sql}) + 1073741824)")
    by = _spread_duck(f"(({cy_sql}) + 1073741824)")
    return f"({bx} | ({by} << 1))"


# -- Hex argmin in DuckDB dialect (struct-list min ≡ Spark ARRAY_MIN).


def _hex_duck_expr(grid: TL.HexGrid, xs: str = "x", ys: str = "y") -> str:
    cands = []
    for dr in (0, 1, 2):
        row = (f"(CAST(FLOOR(({grid.center_y0!r} - ({ys})) / "
               f"{grid.three_quarter_height!r}) AS BIGINT) + {dr - 1})")
        for dc in (0, 1):
            col = (f"(CAST(FLOOR((({xs}) - ({grid.center_x0!r} - {grid.half_width!r} * "
                   f"CAST({row} % 2 AS DOUBLE))) / {grid.width!r}) AS BIGINT) + {dc})")
            cx, cy = grid.center_exprs(row, col)
            d2 = (f"((({xs}) - {cx}) * (({xs}) - {cx}) + "
                  f"(({ys}) - {cy}) * (({ys}) - {cy}))")
            cands.append(f"{{'d2': {d2}, 'hex_row': {row}, 'hex_col': {col}}}")
    return f"list_aggregate([{', '.join(cands)}], 'min')"


# ---------------------------------------------------------------------------
# entry — flagship pipeline (smoke check)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """docs→points → PIP tag-join (broadcast) → LidarTile assignment."""
    sf = "/root/testdata/sf0.001"
    pts = _points(spark, sf)
    tagged = P.points_in_polygons(pts, _polygons_df(spark))
    tiled, _grid = TL.assign_tiles(tagged, 0.0, 0.0, 64.0, 64.0, extent=_EXTENT)
    return tiled.select("record_num", "x", "y", "value", "polygon_id",
                        "tile_row", "tile_col", "tile_id")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_tile_assign(spark, sf):
    tiled, _g = TL.assign_tiles(_points(spark, sf), 0.0, 0.0, 64.0, 64.0, extent=_EXTENT)
    return tiled.select("record_num", "tile_row", "tile_col", "tile_id")


def _q_tile_counts(spark, sf):
    tiled, _g = TL.assign_tiles(_points(spark, sf), 0.0, 0.0, 64.0, 64.0, extent=_EXTENT)
    kept = TL.filter_min_points(tiled, 30)
    return kept.groupBy("tile_id").agg(F.count(F.lit(1)).alias("tile_n"))


def _q_hex_bin(spark, sf):
    out, _g = TL.hex_bin(_points(spark, sf), 80.0, extent=_EXTENT)
    return out


def _q_hex_pyramid(spark, sf):
    """H3-style hierarchical hex index: aperture-4 pyramid (widths 80/
    160/320 over the shared extent), parent by the h3ToParent
    convention (coarser hex containing the cell center). One codegen
    projection assigns all levels, one uniform groupBy rolls up,
    parents are closed-form per distinct cell — no joins anywhere."""
    out, _g = TL.hex_pyramid(_points(spark, sf), 80.0, levels=3,
                             extent=_EXTENT)
    return out


def _q_hex_polyfill(spark, sf):
    """H3-polyfill equivalent: hex cells (width 80) whose CENTER lies
    in each fixture polygon — lattice enumerated from a range (no input
    scan), per-polygon winding predicates compiled into the projection
    (pip_join codegen pattern): zero shuffle, zero joins."""
    return TL.hex_polyfill(spark, _polygons_df(spark), 80.0, _EXTENT)


def _q_hex_kring(spark, sf):
    """H3 kRing / grid-disk (k=2) over the occupied hex cells of the
    point fixture: offset -> axial integer conversion, cube-distance
    disk, convert back — one codegen explode, zero shuffle, exact
    integer oracle."""
    out, _g = TL.hex_bin(_points(spark, sf), 80.0, extent=_EXTENT)
    return TL.hex_kring(out.select("hex_row", "hex_col"), k=2)


def _q_frs_cells(spark, sf):
    cx = frs_cell_expr("x", 50.0)
    cy = frs_cell_expr("y", 50.0)
    return _points(spark, sf).selectExpr(
        "record_num", f"{cx} AS cx", f"{cy} AS cy", f"{morton_expr(cx, cy)} AS cell_id"
    )


def _q_cell_compact(spark, sf):
    """S2 CellUnion::Normalize equivalent: the Morton-quadtree cover of
    the event points (radius-50 FRS bins) compacts into the minimal
    mixed-resolution cover — complete 4-sibling groups collapse to the
    parent (id DIV 4), recursively. Exact integer arithmetic; the
    DuckDB oracle unrolls the identical per-level collapse."""
    cx = frs_cell_expr("x", 50.0)
    cy = frs_cell_expr("y", 50.0)
    leaves = _points(spark, sf).selectExpr(f"{morton_expr(cx, cy)} AS cell_id")
    return TL.cell_compact(leaves, levels=6)


def _q_cell_uncompact(spark, sf):
    """cell_uncompact(cell_compact(S)) == S: the compaction round trip
    gated against the identity oracle (the independent DISTINCT leaf
    set). Uncompact is one codegen SEQUENCE explode, zero shuffle."""
    cx = frs_cell_expr("x", 50.0)
    cy = frs_cell_expr("y", 50.0)
    leaves = _points(spark, sf).selectExpr(f"{morton_expr(cx, cy)} AS cell_id")
    return TL.cell_uncompact(TL.cell_compact(leaves, levels=6), levels=6)


def _q_region_cover(spark, sf):
    """S2 RegionCoverer equivalent: per-polygon adaptive mixed-
    resolution Morton-quadtree cover (leaf-intersect predicate — exact
    edge/AABB + vertex-cell + winding-corner decomposition, shared
    text — then grouped cell_compact). Superset cover: every polygon
    point lies in some cover cell; interiors coarsen to level 3."""
    return TL.region_cover(spark, _polygons_df(spark),
                           extent=(0.0, 0.0, 1000.0), max_level=6)


def _q_pip_tag(spark, sf):
    return P.points_in_polygons(_points(spark, sf), _polygons_df(spark)).select(
        "record_num", "polygon_id"
    )


def _q_pip_tag_cellcover(spark, sf):
    return P.points_in_polygons_cellcover(
        _points(spark, sf), _polygons_df(spark), radius=64.0
    ).select("record_num", "polygon_id")


def _q_pip_clip(spark, sf):
    return P.clip_points(_points(spark, sf), _polygons_df(spark))


def _q_pip_erase(spark, sf):
    return P.erase_points(_points(spark, sf), _polygons_df(spark)).select("record_num")


def _q_knn_join(spark, sf):
    # radius is the search-bin parameter only (ring-guaranteed exact at
    # any value); derive it from target density (WBT's own heuristic)
    # instead of a fixture-tuned constant — 810 candidates/bin at sf0.1
    # density under the old radius=25 vs ~36 at the derived ~12.6, and
    # the derivation tracks any driver scale factor (r06 optimization).
    pts = _points(spark, sf)
    q = pts.where("record_num % 37 = 0").selectExpr("record_num AS query_id", "x", "y")
    t = pts.selectExpr("record_num AS target_id", "x", "y")
    radius = K.wbt_default_radius(_EXTENT_AREA, pts.count())
    return K.knn_join_exact(q, t, k=4, radius=radius, qid="query_id", tid="target_id")


def _q_nn_gridding(spark, sf):
    return K.nearest_neighbour_gridding(
        _points(spark, sf), _META40, exact=True, extent_area=_EXTENT_AREA
    )


def _q_idw(spark, sf):
    return K.idw_interpolation(
        _points(spark, sf), _META40, k=4, weight=2.0, extent_area=_EXTENT_AREA
    )


def _q_points_to_raster_first(spark, sf):
    return R.points_to_raster(_points(spark, sf), _META100, "first")


def _q_points_to_raster_last(spark, sf):
    return R.points_to_raster(_points(spark, sf), _META100, "last")


def _q_polygons_to_raster(spark, sf):
    return R.polygons_to_raster(_polygons_df(spark), _META40)


def _q_raster_to_points(spark, sf):
    return R.raster_to_points(_ras(spark, sf, "a"), _META100)


def _q_extract_values(spark, sf):
    pts = _points(spark, sf)
    ras = R.points_to_raster(pts, _META100, "last")
    out = R.extract_values_at_points(pts, ras, _META100)
    return out.select("record_num", "raster_value")


def _q_aggregate_raster(spark, sf):
    return R.aggregate_raster(_ras(spark, sf, "a"), 4, "mean")


def _q_zonal_stats(spark, sf):
    out = R.zonal_statistics(_ras(spark, sf, "a"), _ras(spark, sf, "b"))
    return out.select("zone", "zone_count", "zone_total", "zone_mean",
                      "zone_min", "zone_max", "zone_range")


def _q_summary_stats(spark, sf):
    return R.summary_stats(_ras(spark, sf, "a")).select(
        "n_cells", "total", "mean", "min_value", "max_value"
    )


def _q_cross_tab(spark, sf):
    return R.cross_tabulation(_ras(spark, sf, "b"), _ras(spark, sf, "a"))


def _q_histogram(spark, sf):
    return R.histogram(_ras(spark, sf, "a"), 50.0)


def _q_map_algebra_add(spark, sf):
    return R.map_algebra(_ras(spark, sf, "a"), _ras(spark, sf, "b"), "add")


_RECLASS_RANGES = [(1.0, 0.0, 250.0), (2.0, 250.0, 500.0), (3.0, 500.0, 750.0), (4.0, 750.0, 1000.0)]


def _q_reclass(spark, sf):
    return R.reclass(_ras(spark, sf, "a"), _RECLASS_RANGES)


def _q_quantiles(spark, sf):
    out = R.quantiles(_ras(spark, sf, "a"), 4)
    return out.withColumn("quantile", F.col("quantile").cast("long"))


def _q_cumulative_dist(spark, sf):
    return R.cumulative_distribution(_ras(spark, sf, "a"))


def _segments(spark, sf):
    segs = VO.features_to_segments(_shapes(spark, sf))
    return segs.selectExpr(
        "shape_id AS record_num", "CAST(shape_id AS DOUBLE) AS value",
        "x1", "y1", "x2", "y2",
    )


_CLIP_WIN = (200.0, 200.0, 700.0, 700.0)


def _q_clip_window(spark, sf):
    """Geometric Clip to an axis-aligned window, gated on the clipped
    bounding boxes (axis-aligned SH inserts window coordinates verbatim,
    so extremes are exact selections). Rect features only — diamond
    crossings interpolate (covered by pytest area checks)."""
    from whitebox_tools_spark.operators.overlay_vector import clip_features_window

    out = clip_features_window(_shapes(spark, sf, kind=0), _CLIP_WIN)
    pts = "FLATTEN(TRANSFORM(parts, p -> p.ring))"
    return out.selectExpr(
        "shape_id",
        f"AGGREGATE({pts}, CAST(1.0e308 AS DOUBLE), (acc, v) -> LEAST(acc, v.x)) AS xmin",
        f"AGGREGATE({pts}, CAST(1.0e308 AS DOUBLE), (acc, v) -> LEAST(acc, v.y)) AS ymin",
        f"AGGREGATE({pts}, CAST(-1.0e308 AS DOUBLE), (acc, v) -> GREATEST(acc, v.x)) AS xmax",
        f"AGGREGATE({pts}, CAST(-1.0e308 AS DOUBLE), (acc, v) -> GREATEST(acc, v.y)) AS ymax",
    )


def _q_intersect_features(spark, sf):
    """Convex geometric Intersect (rows-only: crossing vertices
    interpolate; geometry validated in pytest)."""
    from whitebox_tools_spark.operators.overlay_vector import intersect_features

    clip = _polygons_df(spark).selectExpr("polygon_id AS clip_id", "parts")
    return intersect_features(_shapes(spark, sf), clip).selectExpr(
        "shape_id", "clip_id", "SIZE(parts) AS n_parts"
    )


def _shapes_redundant(spark, sf):
    """The rect/diamond layer with exactly-collinear edge midpoints
    inserted (9-vertex rings) — RDP must strip them back to the 5-vertex
    originals (pure vertex selection, so the gate is exact)."""
    _reg(spark, sf, "events")
    base = spark.sql(_SHAPES_BASE)
    def mid(ax, ay, bx, by):
        return f"STRUCT(({ax} + {bx}) / 2.0 AS x, ({ay} + {by}) / 2.0 AS y)"
    rect9 = ("ARRAY(STRUCT(cx - hw AS x, cy - hh AS y), "
             + mid("cx - hw", "cy - hh", "cx + hw", "cy - hh") + ", "
             "STRUCT(cx + hw AS x, cy - hh AS y), "
             + mid("cx + hw", "cy - hh", "cx + hw", "cy + hh") + ", "
             "STRUCT(cx + hw AS x, cy + hh AS y), "
             + mid("cx + hw", "cy + hh", "cx - hw", "cy + hh") + ", "
             "STRUCT(cx - hw AS x, cy + hh AS y), "
             + mid("cx - hw", "cy + hh", "cx - hw", "cy - hh") + ", "
             "STRUCT(cx - hw AS x, cy - hh AS y))")
    diam9 = ("ARRAY(STRUCT(cx AS x, cy - hh AS y), "
             + mid("cx", "cy - hh", "cx + hw", "cy") + ", "
             "STRUCT(cx + hw AS x, cy AS y), "
             + mid("cx + hw", "cy", "cx", "cy + hh") + ", "
             "STRUCT(cx AS x, cy + hh AS y), "
             + mid("cx", "cy + hh", "cx - hw", "cy") + ", "
             "STRUCT(cx - hw AS x, cy AS y), "
             + mid("cx - hw", "cy", "cx", "cy - hh") + ", "
             "STRUCT(cx AS x, cy - hh AS y))")
    return base.selectExpr(
        "shape_id",
        f"ARRAY(STRUCT(0 AS part_idx, FALSE AS is_hole, "
        f"CASE WHEN kind = 0 THEN {rect9} ELSE {diam9} END AS ring)) AS parts",
    )


def _q_simplify_rdp(spark, sf):
    """RDP simplification — rows-only (see oracle note: collinear ring
    vertices may legally survive as split anchors)."""
    simp = VO.simplify_features(_shapes_redundant(spark, sf), tolerance=0.001)
    return VO.extract_nodes(simp)


def _q_remove_duplicates(spark, sf):
    pts = _points(spark, sf)
    doubled = pts.unionByName(pts.selectExpr("record_num + 1000000 AS record_num",
                                             "x", "y", "value"))
    return LI.remove_duplicates(doubled)


def _q_lidar_outliers(spark, sf):
    return LI.lidar_outliers(_points(spark, sf), 80.0, 300.0).select("record_num")


def _q_difference_features(spark, sf):
    """Convex difference (half-plane decomposition). Oracle-gated
    (round-5 upgrade): DuckDB replays the full Sutherland-Hodgman
    cascade as list lambdas over the 4-vertex subject rings and the
    clip shells' literal edges — same val/intersection doubles as the
    Python kernel; n_parts counts the surviving outside pieces. Also
    geometry pytest-gated by area identities."""
    from whitebox_tools_spark.operators.overlay_vector import difference_features

    clip = _polygons_df(spark).selectExpr("polygon_id AS clip_id", "parts")
    out = difference_features(_shapes(spark, sf), clip)
    return out.selectExpr("shape_id", "clip_id", "SIZE(parts) AS n_parts")


def _q_lines_to_raster(spark, sf):
    return R.lines_to_raster(_segments(spark, sf), _META100)


def _q_focal_mean_ii(spark, sf):
    return FO.mean_filter_ii(_ras(spark, sf, "a"), _META100, radius=1)


def _q_join_tables(spark, sf):
    from whitebox_tools_spark.operators import data_tools as DT

    _reg(spark, sf, "orders", "customer")
    out = DT.join_tables(spark.table("orders"), spark.table("customer"),
                         "o_custkey", "c_custkey", ["c_name", "c_mktsegment"])
    return out.select("o_orderkey", "o_custkey", "o_totalprice", "c_name", "c_mktsegment")


def _q_extract_by_attribute(spark, sf):
    from whitebox_tools_spark.operators import data_tools as DT

    _reg(spark, sf, "events")
    return DT.extract_by_attribute(
        spark.table("events"), "event_type = 'click' AND value > 50.0"
    ).select("event_id", "user_id", "value")


def _q_merge_vectors(spark, sf):
    from whitebox_tools_spark.operators import data_tools as DT

    pts = _points(spark, sf)
    return DT.merge_vectors([pts, pts.selectExpr("record_num", "x", "y", "value + 1.0 AS value")])


def _rgb(spark, sf):
    from whitebox_tools_spark.operators import data_tools as DT

    a = _ras(spark, sf, "a")
    r = a.selectExpr("row", "col", "value % 256.0 AS value")
    g = a.selectExpr("row", "col", "(value * 3.0) % 256.0 AS value")
    b = a.selectExpr("row", "col", "(value * 7.0) % 256.0 AS value")
    return DT.create_colour_composite(r, g, b)


def _q_colour_composite(spark, sf):
    return _rgb(spark, sf)


def _q_split_colour(spark, sf):
    from whitebox_tools_spark.operators import data_tools as DT

    return DT.split_colour_composite(_rgb(spark, sf))


def _q_top_terms(spark, sf):
    from whitebox_tools_spark.operators import data_tools as DT

    return DT.top_k_terms(_docs(spark, sf), k=20)


def _q_r2v_polygons(spark, sf):
    """RasterToVectorPolygons, gated through an exact invariant: the
    shoelace area of each clump's assembled rings (shells minus holes)
    must equal its cell count x cell area bit-for-bit (integer corner
    coordinates -> exact sums). Proves clump labeling, boundary-edge
    extraction and ring assembly end to end."""
    from whitebox_tools_spark.operators.vectorize import raster_to_polygons

    feats = raster_to_polygons(_ras(spark, sf, "a"), _META100)
    return feats.selectExpr("clump_id", "value", f"{VO.feature_area_expr()} AS area")


def _q_list_unique(spark, sf):
    return R.list_unique_values(_ras(spark, sf, "a"))


def _q_zscores(spark, sf):
    return R.z_scores_exact(_ras(spark, sf, "a"))


def _q_image_corr(spark, sf):
    return R.image_correlation(_ras(spark, sf, "a"), _ras(spark, sf, "b"))


def _q_rmse(spark, sf):
    return R.root_mean_square_error(_ras(spark, sf, "a"), _ras(spark, sf, "b"))


def _q_kappa(spark, sf):
    a7 = _ras(spark, sf, "a").selectExpr("row", "col", "value % 7.0 AS value")
    return R.kappa_index(_ras(spark, sf, "b"), a7)


def _q_exact_dedup(spark, sf):
    return D.exact_dedup(_docs(spark, sf), "text", "doc_id")


def _q_minhash_pairs(spark, sf):
    return D.minhash_lsh_pairs(_docs(spark, sf), "text", "doc_id",
                               bands=8, rows_per_band=2, shingle_n=3,
                               jaccard_threshold=0.1)


def _q_dedup_clusters(spark, sf):
    # same LSH shape as minhash_pairs, so the oracle reuses its pair CTE
    return D.dedup_clusters(_docs(spark, sf), "text", "doc_id",
                            bands=8, rows_per_band=2, shingle_n=3,
                            jaccard_threshold=0.1)


def _q_simhash_pairs(spark, sf):
    # bucketed candidates reach Hamming<=1 (self + 1-bit-flip keys), so
    # the gated query pins max_hamming=1 — the full-pair oracle then
    # matches the LSH recall exactly.
    out = D.simhash_pairs(_docs(spark, sf), "text", "doc_id", max_hamming=1)
    return out.withColumn("hamming", F.col("hamming").cast("long"))


def _q_ngram_jaccard(spark, sf):
    return D.ngram_jaccard_pairs(_docs(spark, sf), "text", "doc_id",
                                 block_col="source", shingle_n=3, threshold=0.1)


def _q_lang_id(spark, sf):
    return _docs(spark, sf).selectExpr("doc_id", f"{T.lang_id_expr('text')[0]} AS lang_pred")


def _q_quality(spark, sf):
    qx = T.quality_score_exprs("text")
    return _docs(spark, sf).selectExpr(
        "doc_id",
        f"CAST({qx['q_chars'][0]} AS BIGINT) AS q_chars",
        f"CAST({qx['q_tokens'][0]} AS BIGINT) AS q_tokens",
        f"CAST({qx['q_stopwords'][0]} AS BIGINT) AS q_stopwords",
        f"{qx['q_mean_token_len'][0]} AS q_mean_token_len",
        f"{qx['q_stopword_ratio'][0]} AS q_stopword_ratio",
    )


def _q_fingerprint(spark, sf):
    return _docs(spark, sf).selectExpr(
        "doc_id", f"{T.doc_fingerprint_expr('text')[0]} AS fp"
    )


def _q_simhash(spark, sf):
    return _docs(spark, sf).selectExpr(
        "doc_id", f"CAST({T.simhash16_exprs('text')[0]} AS BIGINT) AS simhash"
    )


def _q_ann_topk(spark, sf):
    emb = _emb(spark, sf)
    q = emb.where("vec_id % 10 = 0")
    out = S.ann_topk_exact_sql(q, emb, k=10)
    return out.withColumn("sim_rank", F.col("sim_rank").cast("long"))


def _q_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023): deterministic coarse k-means
    (16 centroids, seed 42) over the doubled corpus (originals + exact
    0.5x-scaled copies — power-of-2 scaling is float-exact, so each
    copy shares its original's normalized vector, cluster, and cosine
    exactly 1.0), in-cluster fold-cosine pairs >= 0.98, CC, keeper =
    LOWEST centroid-cosine per component (the paper's
    least-prototypical rule). Fully replayed in DuckDB."""
    return S.semdedup(_emb_doubled(spark, sf), threshold=0.98,
                      num_centroids=16)


def _q_embedding_dups(spark, sf):
    """Near-dup pairs at the real 0.98 threshold over the fixture PLUS
    injected deterministic duplicates (exact 0.5x scaled copies at
    vec_id + 100000). Power-of-2 scaling is float-exact, so the scaled
    copy lands in the identical sign-LSH bucket by construction and the
    banded plan has guaranteed recall on every true pair — the oracle
    join stays bit-exact with NO crossJoin in the Spark plan."""
    # ONE scan emits both rows per vector (r06: the former
    # emb.unionByName(scaled copy) doubled the scan AND the partition
    # count, doubling per-task Python latency in the two Arrow stages;
    # rows are identical by construction)
    u = _emb_doubled(spark, sf)
    # num_planes ~ log2(n): keeps bucket occupancy O(1) so the verify
    # set stays near-linear (recall on the injected pairs is structural:
    # a positive-scalar copy matches every hyperplane sign, hamming 0)
    return D.embedding_dup_pairs(u, threshold=0.98, num_planes=12)


def _q_embedding_dup_clusters(spark, sf):
    """Canonical-keeper verdict per vector over the embedding_dups pair
    graph (same doubled input, same pairs — the LSH recall on this
    fixture is structural, so the closure is oracle-exact)."""
    u = _emb_doubled(spark, sf)  # one-scan doubled corpus (r06)
    pairs = D.embedding_dup_pairs(u, threshold=0.98, num_planes=12)
    return D.cluster_pairs(u.select("vec_id"), pairs, id_col="vec_id")


def _q_focal_mean(spark, sf):
    return FO.focal_stat(_ras(spark, sf, "a"), "mean", 1)


def _q_focal_median(spark, sf):
    return FO.focal_stat(_ras(spark, sf, "a"), "median", 1)


def _q_focal_majority(spark, sf):
    return FO.majority_filter(_ras(spark, sf, "a"), 1)


def _q_focal_median_halo(spark, sf):
    return FO.focal_filter_halo(_ras(spark, sf, "a"), _META100, "median", 1, tile=32)


def _q_slope_pct(spark, sf):
    return FO.slope(_ras(spark, sf, "a"), _META100, units="percent")


def _q_hillshade(spark, sf):
    return FO.hillshade(_ras(spark, sf, "a"), _META100)


def _q_aspect(spark, sf):
    """Aspect — oracle-gated with ROUND(6) (round-4c upgrade): the
    Florinsky p/q arithmetic is exact on both engines; only the ACOS
    libm call needs the rounding guard."""
    return FO.aspect(_ras(spark, sf, "a"), _META100).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_euclid_dist(spark, sf):
    return DX.euclidean_distance(_ras(spark, sf, "a"), _META100, "value < 10.0")


def _q_euclid_alloc(spark, sf):
    return DX.euclidean_allocation(_ras(spark, sf, "a"), _META100, "value < 10.0")


def _q_buffer_raster(spark, sf):
    return DX.buffer_raster(_ras(spark, sf, "a"), _META100, 150.0, "value < 10.0")


def _q_clump(spark, sf):
    return CL.clump(_ras(spark, sf, "a"), 100, diag=True)


def _q_avg_overlay(spark, sf):
    return OV.overlay([_ras(spark, sf, "a"), _ras(spark, sf, "b")], "average")


def _q_weighted_sum(spark, sf):
    return OV.weighted_sum([_ras(spark, sf, "a"), _ras(spark, sf, "b")], [0.5, 0.25])


def _q_highest_position(spark, sf):
    return OV.highest_position([_ras(spark, sf, "a"), _ras(spark, sf, "b")])


_CALC_EXPR = "(a + b) * 2.0 - b / (a + 1.0)"


def _q_raster_calc(spark, sf):
    return OV.raster_calculator(
        {"a": _ras(spark, sf, "a"), "b": _ras(spark, sf, "b")}, _CALC_EXPR
    )


def _q_cond_eval(spark, sf):
    return OV.conditional_evaluation(
        _ras(spark, sf, "a"), "value > 500.0", "value - 500.0", "value"
    )


def _q_pick_from_list(spark, sf):
    sel = _ras(spark, sf, "a").selectExpr("row", "col", "value % 2.0 AS value")
    return OV.pick_from_list([_ras(spark, sf, "a"), _ras(spark, sf, "b")], sel)


# Derived polygon feature layer from `events`: rectangles and diamonds
# (no transcendentals, so the derivation is bit-identical across engines).
_SHAPES_BASE = (
    "SELECT event_id AS shape_id, "
    f"{_PX} AS cx, {_PY} AS cy, "
    "(1.0 + CAST((event_id * 7919) % 400 AS DOUBLE) / 20.0) AS hw, "
    "(1.0 + CAST((event_id * 104729) % 400 AS DOUBLE) / 20.0) AS hh, "
    "CAST(event_id % 2 AS INT) AS kind FROM events WHERE event_id % 97 = 0"
)

_RECT_SPARK = ("ARRAY(STRUCT(cx - hw AS x, cy - hh AS y), STRUCT(cx + hw AS x, cy - hh AS y), "
               "STRUCT(cx + hw AS x, cy + hh AS y), STRUCT(cx - hw AS x, cy + hh AS y), "
               "STRUCT(cx - hw AS x, cy - hh AS y))")
_DIAM_SPARK = ("ARRAY(STRUCT(cx AS x, cy - hh AS y), STRUCT(cx + hw AS x, cy AS y), "
               "STRUCT(cx AS x, cy + hh AS y), STRUCT(cx - hw AS x, cy AS y), "
               "STRUCT(cx AS x, cy - hh AS y))")
_RECT_DUCK = ("[{'x': cx - hw, 'y': cy - hh}, {'x': cx + hw, 'y': cy - hh}, "
              "{'x': cx + hw, 'y': cy + hh}, {'x': cx - hw, 'y': cy + hh}, "
              "{'x': cx - hw, 'y': cy - hh}]")
_DIAM_DUCK = ("[{'x': cx, 'y': cy - hh}, {'x': cx + hw, 'y': cy}, "
              "{'x': cx, 'y': cy + hh}, {'x': cx - hw, 'y': cy}, "
              "{'x': cx, 'y': cy - hh}]")


def _shapes(spark, sf, kind: int | None = None):
    _reg(spark, sf, "events")
    base = spark.sql(_SHAPES_BASE)
    if kind is not None:
        base = base.where(f"kind = {kind}")
    return base.selectExpr(
        "shape_id",
        f"ARRAY(STRUCT(0 AS part_idx, FALSE AS is_hole, "
        f"CASE WHEN kind = 0 THEN {_RECT_SPARK} ELSE {_DIAM_SPARK} END AS ring)) AS parts",
    )


def _q_poly_area_vec(spark, sf):
    return VO.polygon_area(_shapes(spark, sf))


def _q_poly_perimeter_vec(spark, sf):
    return VO.polygon_perimeter(_shapes(spark, sf))


def _q_compactness(spark, sf):
    return VO.compactness_ratio(_shapes(spark, sf))


def _q_centroid_vec(spark, sf):
    return VO.centroid_vector(_shapes(spark, sf))


def _q_extract_nodes(spark, sf):
    return VO.extract_nodes(_shapes(spark, sf))


def _q_convex_hull(spark, sf):
    """Per-feature hull, EXPLODED to scalar rows (shape_id, vertex_idx,
    x, y) so the driver's canonicalizer can hash it — rows-only check
    (kernel correctness is pytest-gated vs brute force)."""
    h = VO.convex_hull(_shapes(spark, sf))
    return h.selectExpr(
        "shape_id", "POSEXPLODE(hull) AS (vertex_idx, v)"
    ).selectExpr("shape_id", "CAST(vertex_idx AS BIGINT) AS vertex_idx",
                 "v.x AS x", "v.y AS y")


def _q_focal_range(spark, sf):
    return FO.focal_stat(_ras(spark, sf, "a"), "range", 1)


def _q_focal_diversity(spark, sf):
    return FO.focal_stat(_ras(spark, sf, "a"), "diversity", 1)


def _q_mosaic(spark, sf):
    return R.mosaic([_ras(spark, sf, "a"), _ras(spark, sf, "b").where("col < 50")])


def _q_resample(spark, sf):
    return R.resample_nearest(_ras(spark, sf, "a"), _META100, _META40)


def _q_hist_eq(spark, sf):
    return R.histogram_equalization(_ras(spark, sf, "a"))


def _q_t_test(spark, sf):
    return R.paired_t_test(_ras(spark, sf, "a"), _ras(spark, sf, "b"))


def _q_ks_test(spark, sf):
    return R.ks_test(_ras(spark, sf, "a"), _ras(spark, sf, "b"))


def _q_smooth_vectors(spark, sf):
    sm = VO.smooth_vectors(_shapes(spark, sf), 3)
    return VO.extract_nodes(sm)


def _q_line_intersections(spark, sf):
    segs_a = VO.features_to_segments(_shapes(spark, sf))
    segs_b = VO.features_to_segments(
        _polygons_df(spark).selectExpr("polygon_id AS shape_id", "parts")
    )
    return VO.line_intersections(segs_a, segs_b)


def _q_polygonize(spark, sf):
    """Polygonize: bounded faces of the polygon-layer boundary
    arrangement. Rows-only (face tracing is procedural); structural
    gates (face counts/areas on analytic figures) in
    tests/test_polygonize.py."""
    from whitebox_tools_spark.operators.polygonize import polygonize

    segs = VO.features_to_segments(
        _polygons_df(spark).selectExpr("polygon_id AS shape_id", "parts"))
    return polygonize(segs)


# Degree-2 polygonize fixture: three disjoint axis-aligned rectangles
# (integer coordinates — shoelace terms exact, so the face area is the
# same double in any summation order). Every arrangement node has
# degree 2, so the half-edge clockwise-next rule is forced (the only
# other edge at the node) and the trace degenerates to the two ring
# orientations per rectangle; the positive-area (CCW) one survives,
# starting at its min quantized node (the lower-left corner). That
# canonical form is what the DuckDB oracle restates in closed form.
_PGX_RECTS = ((1, 5.0, 5.0, 105.0, 55.0),
              (2, 200.0, 300.0, 260.0, 420.0),
              (3, 700.0, 100.0, 940.0, 180.0))


def _q_polygonize_exact(spark, sf):
    """Polygonize over the degree-2 rectangle fixture — oracle-gated
    bit-exact: with max vertex degree 2 the face walk is canonical (see
    _PGX_RECTS), exercising the full plan (segment split, node
    quantization, min-label components, cogrouped trace, dense-rank
    ids) end to end."""
    from whitebox_tools_spark.operators.polygonize import polygonize

    vals = []
    for sid, x0, y0, x1, y1 in _PGX_RECTS:
        ring = ((x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0))
        for i in range(4):
            (ax, ay), (bx, by) = ring[i], ring[i + 1]
            vals.append(f"({sid}, {i}, {ax!r}D, {ay!r}D, {bx!r}D, {by!r}D)")
    segs = spark.sql(
        "SELECT * FROM VALUES " + ", ".join(vals) +
        " AS t(shape_id, seg_idx, x1, y1, x2, y2)")
    return polygonize(segs)


def _q_contours_from_points(spark, sf):
    """ContoursFromPoints: TIN + per-triangle level cut (codegen cut
    stage). Rows-only (triangulation-dependent); linear-surface
    exactness pytest-gated."""
    from whitebox_tools_spark.operators.contours import contours_from_points

    return contours_from_points(_points(spark, sf), _META40, base=0.0,
                                interval=200.0, tile=20)


def _q_hachures(spark, sf):
    """TopographicHachures (simplified stroke model): downslope strokes
    on a lattice. Oracle-gated (round-5 upgrade, _round3_oracles):
    endpoints are pure div/sqrt over the bit-exact surface normals;
    slope_deg ROUND(6)s the one libm call (DEGREES(ATAN)). Direction
    gates stay in pytest."""
    from whitebox_tools_spark.operators.contours import topographic_hachures

    out = topographic_hachures(_ras(spark, sf, "a"), _META100,
                               spacing=5, min_slope_deg=0.5)
    return out.selectExpr("x1", "y1", "x2", "y2",
                          "ROUND(slope_deg, 6) AS slope_deg")


_LPTS_EXTRA = (
    "CAST(record_num % 8 AS INT) AS classification, "
    "CAST(record_num % 30 - 15 AS INT) AS scan_angle, "
    "CAST(record_num % 3 AS BIGINT) AS flightline, "
    "CAST(CASE WHEN record_num % 17 = 0 THEN 1 ELSE 0 END AS INT) AS edge_flag")


def _lidar_points(spark, sf):
    """Points fixture with synthetic LiDAR attribute columns."""
    return _points(spark, sf).selectExpr(
        "record_num", "x", "y", "value", *_LPTS_EXTRA.split(", "))


def _tiles_df(spark):
    """8x8 rectangular tile footprints over the extent."""
    return spark.range(64).selectExpr(
        "id AS tile_id",
        "CAST(id % 8 AS DOUBLE) * 125.0 AS xmin",
        "CAST(id DIV 8 AS DOUBLE) * 125.0 AS ymin",
        "CAST(id % 8 + 1 AS DOUBLE) * 125.0 AS xmax",
        "CAST(id DIV 8 + 1 AS DOUBLE) * 125.0 AS ymax")


def _q_classify_buildings(spark, sf):
    """ClassifyBuildings: PIP membership -> class 6 (codegen verdict)."""
    return LI.classify_buildings(_lidar_points(spark, sf), _polygons_df(spark))


def _q_flightline_overlap(spark, sf):
    """FlightlineOverlap: distinct flightlines per grid cell."""
    return LI.flightline_overlap(_lidar_points(spark, sf), _META40)


def _q_classify_overlap(spark, sf):
    """ClassifyOverlapPoints: min mean-|scan-angle| flightline wins per
    50-unit cell; other flightlines -> class 12."""
    return LI.classify_overlap_points(_lidar_points(spark, sf), 50.0)


def _q_flightline_edge(spark, sf):
    """FindFlightlineEdgePoints: LAS edge-flag filter (pushdown)."""
    return LI.find_flightline_edge_points(_lidar_points(spark, sf))


def _q_select_tiles(spark, sf):
    """SelectTilesByPolygon: footprint-rect x polygon intersection."""
    return LI.select_tiles_by_polygon(_tiles_df(spark), _polygons_df(spark))


def _q_lidar_dsm(spark, sf):
    """LidarDSM: per-cell max + TIN fill. Rows-only (TIN-dependent)."""
    return LI.lidar_dsm(_lidar_points(spark, sf), _META40,
                       first_returns_only=False)


def _q_normalize_lidar(spark, sf):
    """NormalizeLidar: z minus ground-class TIN. Round 5: certified
    global ground Delaunay + SQL barycentric at point locations —
    tile/halo/layout-independent. Rows-only (float B-W sliver drops);
    pytest gates planar-ground exactness."""
    return LI.normalize_lidar(_lidar_points(spark, sf), _META40)


def _q_lidar_normals(spark, sf):
    """NormalVectors: per-point PCA plane normal via the closed-form
    3x3 eigen solve (fold-order moments, whole-stage codegen). Oracle
    replays the exact stage expressions; ROUND(6) absorbs the one
    ACOS/COS libm pair. Pytest gates numpy eigh parity."""
    return LI.lidar_point_normals(_points(spark, sf), radius=30.0) \
        .selectExpr("record_num", "ROUND(nx, 6) AS nx", "ROUND(ny, 6) AS ny",
                    "ROUND(nz, 6) AS nz")


def _q_lidar_hillshade(spark, sf):
    """LidarHillshade: reference illumination formula over the PCA
    normals. Oracle replays the closed-form normals chain + the same
    shade projection (the 255-step quantizer absorbs ATAN/SIN ulps);
    numpy parity stays pytest-gated
    (tests/test_lidar3.py::test_lidar_hillshade_numpy_parity)."""
    return LI.lidar_hillshade(_points(spark, sf), radius=30.0)


def _q_lidar_histogram(spark, sf):
    """LidarHistogram: 1000-bin clip pass + ceil(log2 n)+1 rebin, exact
    reference arithmetic. Oracle re-derives both passes in SQL."""
    return LI.lidar_histogram(_points(spark, sf), clip_percent=1.0) \
        .selectExpr("bin", "ROUND(lo, 4) AS lo", "ROUND(hi, 4) AS hi", "n")


def _q_lidar_seg_filter(spark, sf):
    """LidarSegmentationBasedFilter: top-hat residual + segmentation
    closure from residual==0 seeds. Oracle replays the exact MIN/MAX
    top-hat, the closed-form normals chain over the residual surface,
    and the component closure; scene-level pytest gate stays
    (tests/test_lidar3.py::test_segmentation_based_filter_scene)."""
    return LI.lidar_segmentation_based_filter(
        _points(spark, sf).where("record_num < 2000"), radius=40.0,
        norm_diff=10.0, maxzdiff=5.0).select("record_num", "classification")


def _q_rho8_pointer(spark, sf):
    """Rho8Pointer: stochastic-diagonal D8 with deterministic per-cell
    hash randomness. Rows-only (the reference uses a thread RNG —
    distributional, not bitwise, parity); downslope-validity pytest."""
    return HY.rho8_pointer(_ras_c(spark, sf), _META40C)


def _q_qin_accum(spark, sf):
    """QinFlowAccumulation (adaptive-exponent MFD), ROUND(6) —
    oracle-gated (round-5 upgrade: 64-round Jacobi replay of the
    path-weight fixpoint); also numpy topological parity pytest."""
    return HY.qin_flow_accumulation(_ras_c(spark, sf), _META40C).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_quinn_accum(spark, sf):
    """QuinnFlowAccumulation (contour-length MFD, fixed exponent),
    ROUND(6) — oracle-gated (round-5 Jacobi replay); also numpy
    topological parity pytest."""
    return HY.quinn_flow_accumulation(_ras_c(spark, sf), _META40C).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_mdinf_accum(spark, sf):
    """MDInfFlowAccumulation (per-facet D-inf splitting), ROUND(6) —
    oracle-gated (round-5 Jacobi replay of the facet-weighted
    fixpoint); also positivity/concentration pytest gates."""
    return HY.mdinf_flow_accumulation(_ras_c(spark, sf), _META40C).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_jenson_snap(spark, sf):
    """JensonSnapPourPoints: nearest stream cell within snap distance
    (ties row-major)."""
    _reg(spark, sf, "events")
    streams = spark.sql(_RAS_C_SQL).selectExpr(
        "row", "col",
        "CAST(CASE WHEN value > 80 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value")
    pour = spark.createDataFrame(
        [(1, 5, 5), (2, 20, 33), (3, 35, 2), (4, 11, 27)],
        "outlet_id long, row long, col long")
    return HY.jenson_snap_pour_points(pour, streams, _META40C, 60.0)


def _q_isobasins(spark, sf):
    """Isobasins: equal-target basin partition (outlet-crossing rule +
    watershed absorption) — oracle-gated bit-exact (round-5 upgrade:
    crossing rule + min-hop absorption walk, all integer arithmetic);
    also partition pytest gates."""
    return HY.isobasins(_ras_c(spark, sf), _META40C, target_size=100)


def _q_unnest_basins(spark, sf):
    """UnnestBasins: nested pour-point basins in non-overlapping layers
    — oracle-gated bit-exact (round-5 upgrade: downstream pour-point
    counting + per-layer min-hop absorption, all integer arithmetic);
    also layering pytest gates."""
    pour = spark.createDataFrame(
        [(1, 5, 5), (2, 20, 20), (3, 35, 35)],
        "outlet_id long, row long, col long")
    return HY.unnest_basins(_ras_c(spark, sf), _META40C, pour)


def _q_ks_normality(spark, sf):
    """KS normality test: D vs fitted normal (A-S erf polynomial, shared
    expression text; ROUND(4) — EXP is libm territory)."""
    return R.ks_normality_test(_ras(spark, sf, "a"))


def _q_image_regression(spark, sf):
    """OLS of raster b on raster a — exact moment sums."""
    return R.image_regression(_ras(spark, sf, "a"), _ras(spark, sf, "b"))


def _q_image_autocorr(spark, sf):
    """Global Moran's I, rook contiguity — raw-moment expansion, exact."""
    return R.image_autocorrelation(_ras(spark, sf, "a"))


def _q_attr_correlation(spark, sf):
    """Pearson correlation matrix over point attribute fields."""
    return R.attribute_correlation(_points(spark, sf), ["x", "y", "value"])


def _q_edge_proportion(spark, sf):
    """EdgeProportion over the rasterized polygon layer."""
    patches = R.polygons_to_raster(_polygons_df(spark), _META40)
    return R.edge_proportion(patches, _META40)


def _q_narrowness(spark, sf):
    """NarrownessIndex (A / pi MD^2, exact EDT), oracle-gated bit-exact
    (round-5 upgrade): on the square-resolution 40x40 grid the cell
    centers are exact multiples of 12.5, so every dist2 is an exact
    double and the brute-force min in DuckDB reproduces the separable
    EDT's SQRT(min dist2) bitwise."""
    patches = R.polygons_to_raster(_polygons_df(spark), _META40) \
        .selectExpr("row", "col", "value + 1.0 AS value")
    return R.narrowness_index(patches, _META40)


def _q_bsc(spark, sf):
    """BoundaryShapeComplexity (skeleton exterior-link percentage).
    Oracle-gated (round-5 upgrade): DuckDB replays the per-patch
    Zhang-Suen thinning (12 unrolled iterations past the fixpoint) and
    restates the chain walk structurally — each degree-2 component is
    one link of length sz+2, node-node adjacencies are length-2 links —
    so the exterior-cell percentage is exact integer arithmetic. Pytest
    additionally gates simple-vs-complex ordering."""
    patches = R.polygons_to_raster(_polygons_df(spark), _META40) \
        .selectExpr("row", "col", "value + 1.0 AS value")
    return R.boundary_shape_complexity(patches, _META40)


def _q_hole_proportion(spark, sf):
    """HoleProportion: hole area / shell area per polygon feature."""
    return VO.hole_proportion(
        _polygons_df(spark).selectExpr("polygon_id AS shape_id", "parts"))


def _q_clean_vector(spark, sf):
    """CleanVector: drop degenerate parts/features (codegen FILTER);
    output flattened nodes. Rows-only; pytest gates the drop rules."""
    cleaned = VO.clean_vector(
        _polygons_df(spark).selectExpr("polygon_id AS shape_id", "parts"),
        geometry="polygon")
    return VO.extract_nodes(cleaned)


def _q_snap_endnodes(spark, sf):
    """SnapEndnodes over the boundary-segment layer. Rows-only; pytest
    gates cluster canonicalization."""
    lines = _shapes(spark, sf)
    return VO.extract_nodes(VO.snap_endnodes(lines, 5.0))


def _q_merge_line_segments(spark, sf):
    """MergeLineSegments: degree-2 chain merging. Rows-only; pytest
    gates chain/junction behavior."""
    lines = _shapes(spark, sf)
    return VO.merge_line_segments(lines, 1.0)


def _q_split_with_lines(spark, sf):
    """SplitWithLines: break features at intersections with the polygon
    boundary layer. Rows-only; pytest gates analytic cuts."""
    feats = _shapes(spark, sf)
    splitter = _polygons_df(spark).selectExpr("polygon_id AS shape_id", "parts")
    return VO.split_with_lines(feats, splitter)


def _q_directional_relief(spark, sf):
    """DirectionalRelief (banded ray sweep, bilinear samples). Rows-only;
    slope-plane analytic pytest."""
    return VIS.directional_relief(_ras_c(spark, sf), _META40C,
                                  azimuth=135.0).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_fetch_analysis(spark, sf):
    """FetchAnalysis (obstacle rule z >= z0 + D*I; edge-truncated rays
    negative). Rows-only; wall-distance analytic pytest."""
    return VIS.fetch_analysis(_ras_c(spark, sf), _META40C, azimuth=315.0)


def _q_visibility_index(spark, sf):
    """VisibilityIndex: station-sampled viewshed fraction. Rows-only;
    peak-dominance pytest."""
    return VIS.visibility_index(_ras_c(spark, sf), _META40C, res_factor=13)


def _q_time_in_daylight(spark, sf):
    """TimeInDaylight: solar altitude vs banded horizon angles.
    Rows-only; valley/ridge ordering pytest."""
    return VIS.time_in_daylight(_ras_c(spark, sf), _META40C, lat=45.0,
                                n_azimuths=8, time_step_min=120)


def _q_downslope_index(spark, sf):
    """DownslopeIndex (Hjerdt d-index, tangent), ROUND(6) — oracle-gated
    (round-5 upgrade: the bounded D8 walk as a recursive CTE; the
    engines' hop-order dist folds agree to the last ulp); also
    monotone-slope analytic pytest."""
    return HY.downslope_index(_ras_c(spark, sf), _META40C,
                              drop=5.0).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_max_branch_length(spark, sf):
    """MaxBranchLength = max upslope + downslope flowpath length.
    Rows-only; composition parity pytest."""
    return HY.max_branch_length(_ras_c(spark, sf), _META40C)


def _q_flood_order(spark, sf):
    """FloodOrder: rank by (filled z, raw z, row-major) — oracle via the
    recursive path-max fill + ROW_NUMBER."""
    return HY.flood_order(_ras_c(spark, sf), _META40C)


def _q_stochastic_depressions(spark, sf):
    """StochasticDepressionAnalysis (portable-LCG Box-Muller noise,
    simplified iid error model — documented) — oracle-gated (round-5
    upgrade: LCG perturbation + path-max fill replay per iteration; the
    0/1 depression flags are engine-consistent); also determinism +
    range pytest."""
    sub = _ras_c(spark, sf).where("row < 20 AND col < 20")
    meta20 = GridMeta(rows=20, columns=20, north=400.0, south=200.0,
                      east=200.0, west=0.0, resolution_x=10.0,
                      resolution_y=10.0)
    return HY.stochastic_depression_analysis(sub, meta20, rmse=2.0,
                                             iterations=2)


def _q_cost_pathway(spark, sf):
    """CostPathway over cost_backlink — oracle-gated bit-exact (round-5
    upgrade: 48-round (acc, back) lexicographic Jacobi + backlink-walk
    closure in DuckDB); also diagonal-corridor pytest."""
    # 20x20 sub-window + dense sources: keeps the Bellman-Ford round
    # count (O(longest path)) inside the gate's per-query budget
    cost = _ras_c(spark, sf).where("row < 20 AND col < 20") \
        .selectExpr("row", "col", "value + 1.0 AS value")
    meta20 = GridMeta(rows=20, columns=20, north=400.0, south=200.0,
                      east=200.0, west=0.0, resolution_x=10.0,
                      resolution_y=10.0)
    srcp = "(row * 20 + col) % 67 = 0"
    back = HY.cost_backlink(cost, meta20, srcp, max_rounds=48)
    acc = HY.cost_distance(cost, meta20, srcp, max_rounds=48)
    return HY.cost_pathway(acc, back, meta20, "(row * 20 + col) % 71 = 0")


def _q_raster_streams_to_vector(spark, sf):
    """RasterStreamsToVector: stream pointer edges as segments + link
    id — oracle-gated (round-5 upgrade: threshold-8 link labeling +
    center-to-center segment arithmetic replayed in DuckDB)."""
    return HY.raster_streams_to_vector(_ras_c(spark, sf), _META40C, 8.0)


def _q_edge_preserving_mean(spark, sf):
    """EdgePreservingMeanFilter: conditional window mean — exact."""
    return FO.edge_preserving_mean_filter(_ras(spark, sf, "a"), radius=1,
                                          threshold=100.0)


def _q_edge_density(spark, sf):
    """EdgeDensity: normal-break flags + integral-image mean —
    oracle-gated (round-5 upgrade: the 0/1 flag sums are exact integers,
    so the direct window mean replays the II plan bitwise; ROUND(6)
    guards the normal-product threshold only)."""
    return FO.edge_density(_ras(spark, sf, "a"), _META100, radius=2) \
        .selectExpr("row", "col", "ROUND(value, 6) AS value")


def _q_fps(spark, sf):
    """FeaturePreservingSmoothing (simplified Sun et al. single-stage),
    ROUND(6) — oracle-gated (round-5 upgrade: 2 unrolled normal+update
    iterations in DuckDB; rounding absorbs the per-cell neighbor-SUM
    reassociation); also step-preservation pytest."""
    return FO.feature_preserving_smoothing(_ras_c(spark, sf), _META40C,
                                           num_iter=2).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_roto(spark, sf):
    """RemoveOffTerrainObjects (white-tophat variant) — oracle-gated
    bit-exact (round-5 upgrade: min/max windows are exact selections);
    also box-removal pytest."""
    return FO.remove_off_terrain_objects(_ras_c(spark, sf), _META40C,
                                         radius=3)


def _q_clip_raster(spark, sf):
    """ClipRasterToPolygon: PIP-mask leftsemi join."""
    return R.clip_raster_to_polygon(_ras(spark, sf, "a"),
                                    _polygons_df(spark), _META100)


def _q_erase_raster(spark, sf):
    """ErasePolygonFromRaster: PIP-mask anti join."""
    return R.erase_polygon_from_raster(_ras(spark, sf, "a"),
                                       _polygons_df(spark), _META100)


def _q_fill_missing(spark, sf):
    """FillMissingData: IDW hole fill (ROUND(4): weight sums
    reassociate)."""
    holes = _ras(spark, sf, "a").where("value % 7 <> 0")
    return R.fill_missing_data(holes, _META100, radius=3) \
        .selectExpr("row", "col", "ROUND(value, 4) AS value")


def _q_zlidar_roundtrip(spark, sf):
    """zLidar codec: write the points fixture to .zlidar, read it back
    (executor-side decode). Coordinates pre-floored to the 0.01 LAS
    grid (the raw fixture coords sit exactly on round-half ties of the
    0.01 quantizer, where banker's rounding is float-representation
    dependent); output doubles ROUND(2/3)-canonicalized so the decoded
    int*scale values hash equal to the DuckDB identity oracle.
    Bit-exact write->read is pytest-gated (tests/test_formats3.py)."""
    import os
    import tempfile

    from whitebox_tools_spark.sources.formats import read_zlidar
    from whitebox_tools_spark.sources.zlidar import write_zlidar

    src = _points(spark, sf).selectExpr(
        "record_num",
        "CAST(FLOOR(x * 100) AS DOUBLE) / 100.0 AS x",
        "CAST(FLOOR(y * 100) AS DOUBLE) / 100.0 AS y",
        "value").orderBy("record_num").limit(2000)
    pts = [
        {"x": r["x"], "y": r["y"], "value": r["value"],
         "classification": int(r["record_num"] % 8),
         "return_number": int(r["record_num"] % 3) + 1,
         "num_returns": 3,
         "scan_angle": int(r["record_num"] % 30) - 15,
         "gps_time": 1000.0 + r["record_num"] * 1e-3}
        for r in src.collect()
    ]
    d = tempfile.mkdtemp(prefix="zlidar_gate_")
    p = os.path.join(d, "gate.zlidar")
    write_zlidar(pts, p)
    return read_zlidar(spark, p).selectExpr(
        "point_id", "ROUND(x, 2) AS x", "ROUND(y, 2) AS y",
        "ROUND(z, 2) AS z", "classification", "return_number",
        "scan_angle", "ROUND(gps_time, 3) AS gps_time")


def _q_lidar_tiles_roundtrip(spark, sf):
    """Distributed per-tile LAS egress (write_lidar_tiles: executor-side
    encode, one file per tile) then directory read-back; per-class x
    per-return counts gate every integer field through the full cycle
    bit-exactly. Coordinate exactness is pytest-gated
    (tests/test_formats3.py::test_write_lidar_tiles_roundtrip)."""
    import shutil
    import tempfile

    from whitebox_tools_spark.sources.formats import read_las, write_lidar_tiles

    pts = _points(spark, sf).selectExpr(
        "record_num AS point_id", "x", "y", "value AS z",
        "CAST(record_num % 8 AS INT) AS classification",
        "CAST(record_num % 3 + 1 AS INT) AS return_number",
        "CAST(3 AS INT) AS num_returns",
        "CAST(record_num % 30 - 15 AS INT) AS scan_angle",
        "record_num % 4 AS tile_id",
    )
    d = tempfile.mkdtemp(prefix="las_tiles_")
    try:
        write_lidar_tiles(pts, d, codec="las").collect()  # manifest forces the write
        back = read_las(spark, d)
        rows = back.groupBy("classification", "return_number").count() \
            .selectExpr("classification", "return_number", "count AS n").collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, "classification int, return_number int, n long")


def _q_tree_detection(spark, sf):
    """IndividualTreeDetection: local-maxima with height-scaled radius.
    Oracle: the dominance rule is one SQL anti-join."""
    return LI.individual_tree_detection(
        _points(spark, sf), min_search_radius=15.0, min_height=100.0) \
        .select("record_num", "x", "y", "value")


def _q_classify_subset(spark, sf):
    """LidarClassifySubset: subset membership equi-join -> class."""
    base = _lidar_points(spark, sf)
    subset = base.where("record_num % 5 = 0").select("x", "y", "value")
    return LI.lidar_classify_subset(base, subset, subset_class=7)


def _q_rooftop(spark, sf):
    """LidarRooftopAnalysis: PIP building classify + plane-facet
    segmentation. Oracle: per-polygon PIP verdicts + the segmentation
    closure replay; pytest gates facets."""
    pts = _points(spark, sf).where("record_num % 7 = 0")
    return LI.lidar_rooftop_analysis(pts, _polygons_df(spark), radius=40.0)


def _q_crispness(spark, sf):
    """CrispnessIndex over the raster normalized to [0, 1]."""
    mp = _ras(spark, sf, "a").selectExpr("row", "col", "value / 1000.0 AS value")
    # ROUND(6): /1000 makes values non-integer, so sums reassociate
    return R.crispness_index(mp).selectExpr(
        "n", "ROUND(crispness, 6) AS crispness")


def _q_attr_scattergram(spark, sf):
    """AttributeScattergram: the (x, y) pair table."""
    return R.attribute_scattergram(_points(spark, sf), "x", "value")


def _q_wang_liu(spark, sf):
    """FillDepressionsWangAndLiu: named alias of the shared fill
    fixpoint (same output surface as priority flood) — same recursive
    path-max oracle."""
    return HY.fill_depressions_wang_and_liu(_ras_c(spark, sf), _META40C)


def _q_rho8_accum(spark, sf):
    """Rho8FlowAccumulation over the rho8 pointer. Rows-only
    (hash-seeded stochastic diagonals)."""
    return HY.rho8_flow_accumulation(_ras_c(spark, sf), _META40C)


def _q_strahler_basins(spark, sf):
    """StrahlerOrderBasins: absorbing stream walk + Strahler labels.
    Rows-only (the peel is procedural)."""
    return HY.strahler_order_basins(_ras_c(spark, sf), _META40C, 8.0)


def _q_lidar_kappa(spark, sf):
    """LidarKappa: classification agreement between the fixture cloud
    and a perturbed twin."""
    a = _lidar_points(spark, sf)
    b = a.selectExpr("record_num", "x", "y", "value",
                     "CAST((classification + CAST(record_num % 3 = 0 AS INT)) "
                     "% 8 AS INT) AS classification",
                     "scan_angle", "flightline", "edge_flag")
    return LI.lidar_kappa(a, b)


def _q_laplacian(spark, sf):
    return FO.laplacian_filter(_ras(spark, sf, "a"))


def _q_sobel(spark, sf):
    return FO.sobel_filter(_ras(spark, sf, "a"))


def _q_emboss(spark, sf):
    return FO.emboss_filter(_ras(spark, sf, "a"), "n")


def _q_scharr(spark, sf):
    return FO.scharr_filter(_ras(spark, sf, "a"))


def _mk_curv(kind):
    def q(spark, sf):
        return FO.curvature(_ras(spark, sf, "a"), _META100, kind)
    q.__name__ = f"_q_{kind}_curvature"
    return q


_q_plan_curvature = _mk_curv("plan")
_q_profile_curvature = _mk_curv("profile")
_q_tan_curvature = _mk_curv("tangential")
_q_total_curvature = _mk_curv("total")
_q_mean_curvature = _mk_curv("mean")
_q_gaussian_curvature = _mk_curv("gaussian")
_q_min_curvature = _mk_curv("minimal")
_q_max_curvature = _mk_curv("maximal")


def _q_gaussian_filter(spark, sf):
    return FO.gaussian_filter(_ras(spark, sf, "a"), sigma=0.75)


def _q_log_filter(spark, sf):
    """LaplacianOfGaussian: LoG-kernel renormalized weighted mean (the
    gaussian_filter pivot plan with the LoG weights). Oracle shares the
    expression string."""
    return FO.log_filter(_ras(spark, sf, "a"), sigma=0.8)


def _q_surface_area_ratio(spark, sf):
    """SurfaceAreaRatio (Jenness 2004 triangulated facets) — one
    codegen expression over the nullable 3x3 pivot; oracle shares the
    expression string."""
    return FO.surface_area_ratio(_ras(spark, sf, "a"), _META100)


def _q_stdev_of_slope(spark, sf):
    """StandardDeviationOfSlope: Florinsky slope (degrees) -> 3x3
    fixed-order population stdev fold; oracle shares both expression
    strings."""
    return FO.standard_deviation_of_slope(_ras(spark, sf, "a"), _META100)


def _q_lee_sigma(spark, sf):
    """LeeSigmaFilter: conditional in-range mean with 8-ring fallback —
    one offset-aware scatter + aggregation, fully SQL. Oracle restates
    the same conditional aggregation."""
    return FO.lee_sigma_filter(_ras(spark, sf, "a"), radius=2, sigma=50.0,
                               m=5.0)


def _q_dog_filter(spark, sf):
    """Difference-of-Gaussians over the deterministic 7x7/11x11 pivot
    plans, ROUND(6) (round-5 oracle upgrade: the oracle replays both
    renormalized weighted-mean folds; rounding absorbs the ~1-ulp
    Spark-vs-DuckDB fold reassociation on the g1-g2 difference; the
    separable large-sigma path stays pytest-gated at 1e-12)."""
    return FO.dog_filter(_ras(spark, sf, "a"), 0.8, 1.2,
                         separable=False).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_bilateral(spark, sf):
    """Bilateral filter, ROUND(6) (round-5 oracle upgrade): the oracle
    replays the shared bilateral_exprs weight/value fold over the same
    7x7 pivot; rounding absorbs the cross-libm EXP ulps."""
    return FO.bilateral_filter(_ras(spark, sf, "a"), 0.75, 10.0).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_olympic(spark, sf):
    return FO.olympic_filter(_ras(spark, sf, "a"))


def _q_conservative_smooth(spark, sf):
    return FO.conservative_smoothing_filter(_ras(spark, sf, "a"))


def _q_opening(spark, sf):
    return FO.opening(_ras(spark, sf, "a"))


def _q_tophat(spark, sf):
    return FO.tophat_transform(_ras(spark, sf, "a"))


def _q_dev_from_mean(spark, sf):
    return FO.dev_from_mean_elev(_ras(spark, sf, "a"))


def _q_diff_from_mean(spark, sf):
    return FO.diff_from_mean_elev(_ras(spark, sf, "a"))


def _q_elev_percentile(spark, sf):
    return FO.elev_percentile(_ras(spark, sf, "a"))


def _q_percent_elev_range(spark, sf):
    return FO.percent_elev_range(_ras(spark, sf, "a"))


def _q_long_profile(spark, sf):
    return HY.long_profile(_ras_c(spark, sf), _META40C, 4.0)


def _q_subbasins(spark, sf):
    return HY.subbasins(_ras_c(spark, sf), _META40C, 4.0)


def _q_fd8_pointer(spark, sf):
    return HY.fd8_pointer(_ras(spark, sf, "a"), _META100)


def _q_parallel_flow(spark, sf):
    return HY.find_parallel_flow(_ras_c(spark, sf), _META40C, 4.0)


def _q_max_upslope(spark, sf):
    return HY.max_upslope_flowpath_length(_ras_c(spark, sf), _META40C)


def _q_avg_upslope(spark, sf):
    return HY.average_upslope_flowpath_length(_ras_c(spark, sf), _META40C)


def _q_elev_above_pit(spark, sf):
    return HY.elev_above_pit(_ras_c(spark, sf), _META40C)


def _q_flow_length_diff(spark, sf):
    return HY.flow_length_diff(_ras_c(spark, sf), _META40C)


def _q_avg_flowpath_slope(spark, sf):
    """AverageFlowpathSlope; ROUND(6) — TFL and TDE are exact (integer
    counters / integer elevations) but the upstream SUM() order differs
    between engines only for the atan argument's division chain, and
    atan itself is libm. ROUND absorbs the ulp."""
    return HY.average_flowpath_slope(_ras_c(spark, sf), _META40C) \
             .selectExpr("row", "col", "ROUND(value, 6) AS value")


def _q_trace_downslope(spark, sf):
    seeds = _ras_c(spark, sf).where("(row * 40 + col) % 97 = 0") \
                             .select("row", "col")
    return HY.trace_downslope_flowpaths(_ras_c(spark, sf), _META40C, seeds)


def _q_longest_flowpath(spark, sf):
    return HY.longest_flowpath(_ras_c(spark, sf), _META40C)


def _q_raise_walls(spark, sf):
    return HY.raise_walls(_ras_c(spark, sf), _META40, _polygons_df(spark),
                          height=25.0)


def _q_flatten_lakes(spark, sf):
    return HY.flatten_lakes(_ras_c(spark, sf), _META40, _polygons_df(spark))


def _q_fill_burn(spark, sf):
    """FillBurn. Oracle-gated (round-5 upgrade, _r5c_oracles): the eps
    fixpoint is unique, so the DuckDB Jacobi unroll replays the tiled
    priority-flood bitwise; thinning/rasterize/min_diff replay exactly."""
    return HY.fill_burn(_ras_c(spark, sf), _META40, _segments(spark, sf))


def _q_min_bounding_envelope(spark, sf):
    return VO.minimum_bounding_envelope(_shapes(spark, sf))


def _q_min_bounding_box(spark, sf):
    """Rotating-calipers rectangle, ROUND(6) (round-5 oracle upgrade):
    the oracle replays all 4 hull-edge candidates with the kernel's
    rotate/extent arithmetic and the strict-< first-wins scan, then the
    same corner trig; rounding absorbs ATAN2/COS/SIN libm ulps."""
    return VO.minimum_bounding_box(_shapes(spark, sf)).selectExpr(
        "shape_id", "corner_idx", "ROUND(x, 6) AS x", "ROUND(y, 6) AS y",
        "ROUND(long_axis, 6) AS long_axis",
        "ROUND(short_axis, 6) AS short_axis")


def _q_polygon_long_axis(spark, sf):
    """MBB long-axis segment, ROUND(6) (same calipers replay oracle)."""
    return VO.polygon_long_axis(_shapes(spark, sf)).selectExpr(
        "shape_id", "ROUND(x1, 6) AS x1", "ROUND(y1, 6) AS y1",
        "ROUND(x2, 6) AS x2", "ROUND(y2, 6) AS y2")


def _q_polygon_short_axis(spark, sf):
    """MBB short-axis segment, ROUND(6) (same calipers replay oracle)."""
    return VO.polygon_short_axis(_shapes(spark, sf)).selectExpr(
        "shape_id", "ROUND(x1, 6) AS x1", "ROUND(y1, 6) AS y1",
        "ROUND(x2, 6) AS x2", "ROUND(y2, 6) AS y2")


def _q_min_bounding_circle(spark, sf):
    """Welzl minimum enclosing circle, ROUND(6) (round-5 oracle
    upgrade): on the rect/diamond layer the kernel's terminal circle is
    a closed-form 2-point support circle — rect: the bl-tr diagonal;
    diamond: the vertical (hw <= hh) or horizontal (hw > hh) axis pair —
    so the oracle restates the same midpoint + distance arithmetic;
    rounding absorbs math.hypot vs SQRT ulps. Containment/minimality
    stay pytest-gated for general inputs."""
    return VO.minimum_bounding_circle(_shapes(spark, sf)).selectExpr(
        "shape_id", "ROUND(cx, 6) AS cx", "ROUND(cy, 6) AS cy",
        "ROUND(radius, 6) AS radius")


def _q_patch_orientation(spark, sf):
    """ROUND(6): the vertex-product sums (sxy, sxsq, ...) reassociate
    between Spark partial aggregates and DuckDB's scan order — ~1e-14
    relative ulp on the atan argument."""
    return VO.patch_orientation(_shapes(spark, sf)).selectExpr(
        "shape_id", "ROUND(orientation, 6) AS orientation")


def _q_remove_polygon_holes(spark, sf):
    out = VO.remove_polygon_holes(_polygons_df(spark), id_col="polygon_id")
    return out.selectExpr(
        "polygon_id", "SIZE(parts) AS n_parts",
        "AGGREGATE(parts, 0, (a, p) -> a + SIZE(p.ring)) AS n_vertices")


def _q_correct_vignetting(spark, sf):
    """ROUND(6): POWER/COS/ATAN are libm — ~1e-15 relative ulps."""
    return EN.correct_vignetting(_ras(spark, sf, "a"), _META100,
                                 pp_col=49.5, pp_row=49.5).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_gaussian_stretch(spark, sf):
    """ROUND(6): the CDF interpolation divisions land within one ulp
    across engines."""
    return EN.gaussian_contrast_stretch(_ras(spark, sf, "a")).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_user_defined_weights(spark, sf):
    """UserDefinedWeightsFilter with an integer kernel: SUM(w * nv) is
    exact in any accumulation order -> full oracle gate."""
    return FO.user_defined_filter(
        _ras(spark, sf, "a"), [[1.0, 2.0, 1.0], [2.0, 4.0, 2.0],
                               [1.0, 2.0, 1.0]])


def _q_image_stack_profile(spark, sf):
    return EN.image_stack_profile(
        [_ras(spark, sf, "a"), _ras(spark, sf, "b")],
        _points(spark, sf), _META100)


def _q_random_field(spark, sf):
    """Deterministic LCG + Box-Muller field; ROUND(6) absorbs LN/COS
    libm ulps between engines."""
    return R.random_field(spark, _META40C, seed=1).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_random_sample(spark, sf):
    return R.random_sample(_ras_c(spark, sf), _META40C, num_samples=100,
                           seed=7)


def _q_elev_rel_watershed_minmax(spark, sf):
    return HY.elev_relative_to_watershed_min_max(_ras_c(spark, sf), _META40C)


def _q_find_ridges(spark, sf):
    return FO.find_ridges(_ras(spark, sf, "a"), _META100)


def _q_spherical_sdn(spark, sf):
    """Single-scale spherical stdev of normals; ROUND(4) like the
    multiscale family (II sums reassociate vs the oracle)."""
    return FO.spherical_std_dev_of_normals(
        _ras(spark, sf, "a"), _META100, filter_size=5, round_to=4)


def _q_drainage_preserving_smoothing(spark, sf):
    """Alias of FeaturePreservingSmoothing (deprecated-tool parity),
    ROUND(6) — oracle-gated like fps (round-5 upgrade: one unrolled
    normal+update iteration in DuckDB)."""
    return FO.drainage_preserving_smoothing(_ras(spark, sf, "a"), _META100,
                                            num_iter=1).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_lidar_thin_high_density(spark, sf):
    return LI.lidar_thin_high_density(_points(spark, sf), 40.0,
                                      density=0.00125)


def _q_lidar_info(spark, sf):
    return LI.lidar_info(_points(spark, sf))


def _q_upslope_depression_storage(spark, sf):
    """Weighted FD8 closure over the filled surface, ROUND(6) —
    oracle-gated (round-5 upgrade: path-max fill + dual Jacobi
    area/depth closures); also pytest vs a numpy queue transcription."""
    return HY.upslope_depression_storage(_ras_c(spark, sf), _META40C).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_dinf_mass_flux(spark, sf):
    """D-infinity mass routing peel, ROUND(6) — oracle-gated (round-5
    Jacobi replay of the peel fixpoint); also pytest-gated."""
    base = _ras_c(spark, sf)
    loading = base.selectExpr("row", "col", "CAST(1.0 AS DOUBLE) AS value")
    eff = base.selectExpr("row", "col", "CAST(0.9 AS DOUBLE) AS value")
    ab = base.selectExpr("row", "col", "CAST(0.05 AS DOUBLE) AS value")
    return HY.dinf_mass_flux(base, _META40C, loading, eff, ab).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_modified_kmeans(spark, sf):
    """Adaptive-count Lloyd with centroid merging — oracle-gated
    (round-5 upgrade: the kmeans replay + a per-round pivoted merge
    cascade and dense renumbering); also pytest (same class as
    k_means)."""
    from whitebox_tools_spark.operators.classify import modified_k_means

    bands = (
        _ras(spark, sf, "a").selectExpr("row", "col", "value AS b1")
        .join(_ras(spark, sf, "b").selectExpr("row", "col", "value AS b2"),
              ["row", "col"])
    )
    return modified_k_means(bands, ["b1", "b2"], start_clusters=8,
                            merge_dist=50.0, max_iters=10)


def _q_lidar_tophat(spark, sf):
    return LI.lidar_tophat_transform(_points(spark, sf), radius=30.0)


def _q_highpass_bilateral(spark, sf):
    """z - bilateral, ROUND(6) (round-5 oracle upgrade — the bilateral
    replay composed with the center subtraction)."""
    return FO.highpass_bilateral_filter(_ras(spark, sf, "a")).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_anvad(spark, sf):
    """AverageNormalVectorAngularDeviation, ROUND(6) — oracle-gated
    (round-5 upgrade: pivot Gaussian + gradient + ACOS replay with a
    direct clamped-window mean; rounding absorbs the II-vs-direct sum
    reassociation and ACOS libm ulps); also pytest invariants."""
    return FO.average_normal_vector_angular_deviation(
        _ras(spark, sf, "a"), _META100, filter_size=5).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_long_profile_from_points(spark, sf):
    seeds = (_ras_c(spark, sf).where("(row * 40 + col) % 173 = 0")
             .selectExpr("(row * 40 + col) AS seed_id", "row", "col"))
    return HY.long_profile_from_points(_ras_c(spark, sf), _META40C, seeds)


def _q_deviation_from_regional_direction(spark, sf):
    """MBB + circular means, ROUND(6) — oracle-gated (round-5 upgrade:
    RMA node sums + mbb-replay axes + the doubled-angle circular mean
    replayed in DuckDB); also pytest."""
    return VO.deviation_from_regional_direction(_shapes(spark, sf),
                                                elong_threshold=0.25).selectExpr(
        "shape_id", "ROUND(deviation, 6) AS deviation")


def _sig_points(spark, sf):
    return _points(spark, sf).where("record_num % 97 = 0").selectExpr(
        "record_num AS point_id", "x", "y")


def _q_hypso_tinted_hillshade(spark, sf):
    """Multidirectional hillshade + palette tint — oracle-gated
    (round-5 upgrade: the histogram clip is exact on the integer-valued
    elevations/hillshade; the palette chain + channel packing replay
    as integer outputs); also pytest shape/range gates."""
    return FO.hypsometrically_tinted_hillshade(_ras(spark, sf, "a"),
                                               _META100)


def _q_voronoi(spark, sf):
    """Half-plane-clipped Voronoi cells. Oracle-gated (round-5 upgrade):
    DuckDB replays the per-site bisector clip cascade as list lambdas in
    the same ascending-id site order the kernel now uses — bit-exact
    vertices. Pytest additionally gates nearest-site containment."""
    pts = _points(spark, sf).where("record_num % 211 = 0") \
                            .select("record_num", "x", "y")
    return VO.voronoi_diagram(pts, (0.0, 0.0, 1000.0, 1000.0))


def _q_layer_footprint(spark, sf):
    from whitebox_tools_spark.operators import data_tools as DT

    return DT.layer_footprint(_points(spark, sf))


def _q_reinit_attribute_table(spark, sf):
    from whitebox_tools_spark.operators import data_tools as DT

    out = DT.reinitialize_attribute_table(_shapes(spark, sf))
    return out.selectExpr("shape_id", "SIZE(parts) AS n_parts",
                          "SIZE(parts[0].ring) AS n_vertices")


def _q_find_patch_edge_cells(spark, sf):
    return R.find_patch_edge_cells(_ras(spark, sf, "b"), _META100)


def _q_raster_perimeter(spark, sf):
    """Prewitt-Mendelsohn perimeter per class; ROUND(6) (per-class sums
    of irrational LUT terms reassociate)."""
    return R.raster_perimeter(_ras(spark, sf, "b"), _META100).selectExpr(
        "value", "ROUND(perimeter, 6) AS perimeter")


def _q_filter_raster_features(spark, sf):
    return R.filter_raster_features_by_area(_ras(spark, sf, "b"), _META100,
                                            threshold_cells=5,
                                            background=-1.0)


def _q_rescale_value_range(spark, sf):
    return R.rescale_value_range(_ras(spark, sf, "a"), 0.0, 255.0)


def _q_flow_accum_full_workflow(spark, sf):
    return HY.flow_accumulation_full_workflow(_ras_c(spark, sf), _META40C)


def _q_embankment_mapping(spark, sf):
    """Tile+halo Dijkstra/grow kernel — rows-only + pytest; the same
    code path IS oracle-gated at the one-ring parameterization
    (embankment_mapping_exact)."""
    return HY.embankment_mapping(_ras_c(spark, sf), _META40,
                                 _segments(spark, sf),
                                 search_dist=60.0, min_road_width=50.0,
                                 typical_width=80.0, max_height=40.0,
                                 max_width=160.0)


def _q_embankment_exact(spark, sf):
    """EmbankmentMapping at the one-ring parameterization: max_width=90
    halves to 45.0, strictly between one diagonal step (35.36) and two
    cardinal steps (50.0), so the bounded Dijkstra provably assigns
    exactly one ring around the seeds — a popped ring cell can reach
    nothing under 45 — and the assignment tie (a ring cell adjacent to
    several seeds) resolves to the min-(row, col) seed because heapq
    pops the equal-priority (0.0, row, col) seed entries in tuple
    order. The second priority grow is ORDER-FREE outright: every out
    cell pops exactly once and tests all 8 neighbors, so the grown set
    is the least fixpoint of grow(X -> Y), which the oracle replays as
    a recursive closure. Every comparison on this fixture is either
    exact (integer elevations vs integer/short-decimal thresholds,
    exact d literals) or margin-audited vs libm ulps by
    tests/test_embankment_exact_oracle.py."""
    return HY.embankment_mapping(_ras_c(spark, sf), _META40,
                                 _segments(spark, sf),
                                 search_dist=60.0, min_road_width=50.0,
                                 typical_width=80.0, max_height=40.0,
                                 max_width=90.0)


def _q_burn_streams_at_roads(spark, sf):
    """Crossing-cell min-clamp along the stream mask — oracle-gated
    bit-exact (round-5 upgrade: Bresenham rasterization + 1-hop BFS +
    commuting min-clamp replayed in DuckDB); also pytest (BFS rounds)."""
    streams = _segments(spark, sf)
    roads = streams.selectExpr("record_num", "value",
                               "y1 AS x1", "x1 AS y1", "y2 AS x2", "x2 AS y2")
    return HY.burn_streams_at_roads(_ras_c(spark, sf), _META40, streams,
                                    roads, road_width=75.0)


def _q_impoundment_index(spark, sf):
    """Tile+halo crest kernel + exact closure flood stats —
    oracle-gated bit-exact (round-5 upgrade): the crest kernel is pure
    selections (water-fill running maxes of DEM values, no float
    arithmetic), so the DuckDB replay — every cell x 4 directions x 7
    positions, window-function fill, MAX per target, then the
    recursive-CTE D8 reach closure and exact integer flood sums —
    reproduces every output bit; halo = 2h makes the tile layout
    immaterial. Also pytest (numpy transcription)."""
    return HY.impoundment_size_index(_ras_c(spark, sf), _META40C, 7.0)


def _q_insert_dams(spark, sf):
    """Per-dam numpy kernel (profile search) — oracle-gated bit-exact
    (round-5 upgrade): the kernel is pure comparisons and selections
    (profiles copy DEM values; the bidirectional shoulder fill is a
    running max; the crest argmax is strict-> with row-major-then-
    direction scan order), so the DuckDB replay — on-line candidates ×
    4 directions, window-function water-fill max(prof, min(maxleft,
    maxright)) (loop equivalence fuzz-verified 200k profiles), ORDER BY
    crest DESC, row, col, d tie-break, and the second-row writes —
    reproduces every output bit with no float arithmetic at all."""
    dams = spark.createDataFrame(
        [(1, 105.0, 105.0), (2, 255.0, 305.0)],
        "dam_id long, x double, y double")
    return HY.insert_dams(_ras_c(spark, sf), _META40C, dams, 7.0)


def _q_turning_bands(spark, sf):
    return R.turning_bands(spark, _META40C, range_dist=100.0,
                           iterations=8, seed=42)


def _q_max_anisotropy_dev(spark, sf):
    return FO.max_anisotropy_dev(_ras(spark, sf, "a"), _META100, [2, 3])


def _q_max_anisotropy_dev_signature(spark, sf):
    return FO.max_anisotropy_dev(_ras(spark, sf, "a"), _META100, [2, 3],
                                 signature_points=_sig_points(spark, sf))


def _q_attr_corr_neighbourhood(spark, sf):
    """Per-point local Pearson between two attributes; ROUND(6)."""
    pts = _points(spark, sf).selectExpr(
        "record_num", "x", "y", "value",
        "value * 0.5 + (x % 50.0) AS attr2")
    return R.attribute_correlation_neighbourhood_analysis(
        pts, "value", "attr2", radius=60.0).selectExpr(
        "record_num", "ROUND(rvalue, 6) AS rvalue",
        "ROUND(tvalue, 6) AS tvalue")


def _q_image_corr_neighbourhood(spark, sf):
    """Local Pearson r + t; ROUND(6) (windowed product sums
    reassociate)."""
    return R.image_correlation_neighbourhood_analysis(
        _ras(spark, sf, "a"), _ras(spark, sf, "b"), radius=2).selectExpr(
        "row", "col", "ROUND(rvalue, 6) AS rvalue",
        "ROUND(tvalue, 6) AS tvalue")


def _q_slope_vs_elev_plot(spark, sf):
    """ROUND(6) on the per-bin mean slope (AVG of irrational slopes
    reassociates)."""
    return R.slope_vs_elev_plot(_ras(spark, sf, "a"), _META100).selectExpr(
        "elevation", "ROUND(slope, 6) AS slope", "n")


def _q_stream_slope_continuous(spark, sf):
    """ROUND(6): AVG of grid lengths (diag is irrational) reassociates
    between engines; ATAN is libm."""
    return HY.stream_slope_continuous(_ras_c(spark, sf), _META40C, 4.0) \
             .selectExpr("row", "col", "ROUND(value, 6) AS value")


def _q_max_elev_dev_signature(spark, sf):
    return FO.max_elev_dev_signature(_ras(spark, sf, "a"), _META100,
                                     _sig_points(spark, sf), [1, 2])


def _q_roughness_signature(spark, sf):
    """Per-scale roughness at sample points, ROUND(4) — oracle-gated
    (round-5 upgrade: the direct-sum metric text at the sample cells);
    also pytest cross-check vs the O-gated multiscale argmax."""
    return FO.multiscale_roughness_signature(
        _ras(spark, sf, "a"), _META100, _sig_points(spark, sf), [1, 2],
        round_to=4)


def _q_sdn_signature(spark, sf):
    return FO.multiscale_std_dev_normals_signature(
        _ras(spark, sf, "a"), _META100, _sig_points(spark, sf), [1, 2],
        round_to=4)


def _q_mass_flux(spark, sf):
    """Topological peel with per-cell loss arithmetic, ROUND(6) —
    oracle-gated (round-5 upgrade: the peel's fixpoint replayed as 64
    Jacobi rounds in DuckDB; rounding absorbs the engines' differing
    per-cell inflow SUM order); also pytest parity on a crafted
    network."""
    _reg(spark, sf, "events")
    dem = spark.sql(
        "SELECT (event_id % 20) AS row, "
        "(CAST(FLOOR(event_id / 20) AS BIGINT) % 20) AS col, "
        "CAST(MAX(event_id) % 100 AS DOUBLE) AS value FROM events GROUP BY 1, 2")
    meta20 = GridMeta(rows=20, columns=20, north=200.0, south=0.0, east=200.0,
                      west=0.0, resolution_x=10.0, resolution_y=10.0)
    # CAST to DOUBLE: a bare 1.0 literal is DECIMAL under Spark ANSI,
    # which silently quantizes the whole peel's arithmetic (~1e-6)
    loading = dem.selectExpr("row", "col", "CAST(1.0 AS DOUBLE) AS value")
    eff = dem.selectExpr("row", "col", "CAST(0.9 AS DOUBLE) AS value")
    ab = dem.selectExpr("row", "col", "CAST(0.05 AS DOUBLE) AS value")
    return HY.d8_mass_flux(dem, meta20, loading, eff, ab).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_eas_euclidean(spark, sf):
    return HY.elevation_above_stream_euclidean(_ras_c(spark, sf), _META40C, 4.0)


def _q_cost_allocation(spark, sf):
    """Bellman-Ford relaxation with (cost, source) argmin — oracle-gated
    bit-exact (round-5 upgrade: 96 unrolled lexicographic-MIN Jacobi
    rounds in DuckDB); also pytest parity."""
    _reg(spark, sf, "events")
    dem = spark.sql(
        "SELECT (event_id % 20) AS row, "
        "(CAST(FLOOR(event_id / 20) AS BIGINT) %% 20) AS col, "
        "CAST(MAX(event_id) % 100 AS DOUBLE) + 1.0 AS value "
        "FROM events GROUP BY 1, 2".replace("%%", "%"))
    meta20 = GridMeta(rows=20, columns=20, north=200.0, south=0.0, east=200.0,
                      west=0.0, resolution_x=10.0, resolution_y=10.0)
    return HY.cost_allocation(dem, meta20, "(row * 20 + col) % 131 = 0")


def _q_breach_pits(spark, sf):
    return HY.breach_pits(_ras(spark, sf, "a"), _META100)


def _q_extract_valleys(spark, sf):
    return HY.extract_valleys(_ras(spark, sf, "a"), _META100)


def _q_hillslopes(spark, sf):
    return HY.hillslopes(_ras_c(spark, sf), _META40C, 4.0)


def _q_lidar_colourize(spark, sf):
    _reg(spark, sf, "events")
    return LI.lidar_colourize(
        _points(spark, sf), _ras(spark, sf, "a"), _ras(spark, sf, "b"),
        spark.sql(_RAS_D_SQL), _META100)


# --- rounded-grain oracle companions for libm-gated queries -----------------
# (the aspect_rounded pattern: at 1e-6 grain the cross-libm ulp
# differences vanish; the raw queries stay rows-only as honest checks)

# --- round-2 continuation morphology / classification / mosaics ------------

_BOOL_IMG = "CASE WHEN value % 2.0 = 1.0 THEN 1.0 ELSE 0.0 END"


def _q_corner_detect(spark, sf):
    img = _ras(spark, sf, "a").selectExpr("row", "col", f"{_BOOL_IMG} AS value")
    return FO.corner_detection(img)


def _q_thicken(spark, sf):
    img = _ras(spark, sf, "a").selectExpr("row", "col", f"{_BOOL_IMG} AS value")
    return FO.thicken_line(img)


def _q_remove_spurs(spark, sf):
    img = _ras_c(spark, sf).selectExpr("row", "col", f"{_BOOL_IMG} AS value")
    return FO.remove_spurs(img, iterations=2)


def _q_line_thin(spark, sf):
    """Zhang-Suen thinning (8 iterations) — oracle-gated bit-exact
    (round-5 upgrade: pure integer/boolean subiterations replayed as 16
    unrolled MATERIALIZED pivot rounds in DuckDB)."""
    img = _ras_c(spark, sf).selectExpr("row", "col", f"{_BOOL_IMG} AS value")
    return FO.line_thinning(img, max_iters=8)


def _q_kmeans(spark, sf):
    """Lloyd iterations with closed-form init — oracle-gated (round-5
    upgrade: 12 unrolled argmin+AVG stages in DuckDB; over-unrolling
    past the early break is identity, and the AVG-order ulps only
    matter within ~1e-12 of a bisector); also pytest determinism/quality
    gates."""
    from whitebox_tools_spark.operators.classify import k_means

    bands = (
        _ras(spark, sf, "a").selectExpr("row", "col", "value AS b1")
        .join(_ras(spark, sf, "b").selectExpr("row", "col", "value AS b2"),
              ["row", "col"])
    )
    return k_means(bands, ["b1", "b2"], k=4, max_iters=12)


def _q_mosaic_feather(spark, sf):
    a = _ras(spark, sf, "a").where("col < 60")
    b = _ras(spark, sf, "b").where("col >= 40")
    return R.mosaic_with_feathering(a, b, _META100, power=4.0)


def _q_pan_sharpen(spark, sf):
    _reg(spark, sf, "events")
    return EN.pan_sharpen_brovey(
        _ras(spark, sf, "a"), _ras(spark, sf, "b"), spark.sql(_RAS_D_SQL),
        _ras(spark, sf, "a"))


# --- round-2 continuation terrain indices -----------------------------------

def _q_tri(spark, sf):
    return FO.ruggedness_index(_ras(spark, sf, "a"))


def _q_rtp(spark, sf):
    return FO.relative_topographic_position(_ras(spark, sf, "a"))


def _q_elev_rel_minmax(spark, sf):
    return R.elev_relative_to_min_max(_ras(spark, sf, "a"))


def _q_hypsometry(spark, sf):
    return R.hypsometric_analysis(_ras(spark, sf, "a"), num_bins=10)


def _q_spi(spark, sf):
    """StreamPowerIndex, ROUND(6) — absorbs POWER/LN libm ulps."""
    return HY.stream_power_index(_ras_c(spark, sf), _META40C).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_sti(spark, sf):
    """SedimentTransportIndex, ROUND(6) — absorbs POWER libm ulps."""
    return HY.sediment_transport_index(_ras_c(spark, sf), _META40C).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


# --- round-2 continuation vector ops ---------------------------------------

def _q_extend_lines(spark, sf):
    ext = VO.extend_vector_lines(_shapes(spark, sf), dist=3.0, mode="both ends")
    return VO.extract_nodes(ext)


def _q_rect_grid(spark, sf):
    return VO.create_rectangular_vector_grid(spark, 0.0, 0.0, 1000.01, 1000.01,
                                             64.0, 64.0)


def _q_hex_grid_gen(spark, sf):
    return VO.create_hexagonal_vector_grid(spark, 0.0, 0.0, 500.0, 500.0, 80.0)


def _q_tile_footprint(spark, sf):
    pts = _points(spark, sf).selectExpr("record_num % 16 AS tile", "x", "y")
    return VO.lidar_tile_footprint(pts, group_col="tile")


def _q_rog(spark, sf):
    return VO.radius_of_gyration(_shapes(spark, sf))


# --- round-2 continuation stream-network tail ------------------------------

def _q_dist_to_outlet(spark, sf):
    return HY.distance_to_outlet(_ras_c(spark, sf), _META40C, 4.0)


def _q_farthest_head(spark, sf):
    return HY.farthest_channel_head(_ras_c(spark, sf), _META40C, 4.0)


def _q_tributary_id(spark, sf):
    return HY.tributary_id(_ras_c(spark, sf), _META40C, 4.0)


def _q_topo_stream_order(spark, sf):
    return HY.topological_stream_order(_ras_c(spark, sf), _META40C, 4.0)


def _q_total_length_channels(spark, sf):
    return HY.total_length_channels(_ras_c(spark, sf), _META40C, 4.0)


def _q_length_upstream_channels(spark, sf):
    """LengthOfUpstreamChannels: per stream cell, summed length of all
    upstream channel edges (own outgoing edge included; outlets add no
    own edge)."""
    return HY.length_of_upstream_channels(_ras_c(spark, sf), _META40C, 4.0)


def _q_stream_link_class(spark, sf):
    return HY.stream_link_class(_ras_c(spark, sf), _META40C, 4.0)


def _q_remove_short_streams(spark, sf):
    return HY.remove_short_streams(_ras_c(spark, sf), _META40C, 4.0, 45.0)


def _q_reclass_equal_interval(spark, sf):
    """ReclassEqualInterval: floor-bucket remap, default start at the
    raster minimum. Exact floor math — oracle-gated."""
    return R.reclass_equal_interval(_ras(spark, sf, "a"), interval=50.0)


def _q_reclass_from_file(spark, sf):
    """ReclassFromFile: (new, lo, hi) triples parsed from a text file
    (with a 'max' token) feeding the reclass plan. Oracle re-states the
    ranges as a CASE."""
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="reclass_")
    p = os.path.join(d, "r.txt")
    with open(p, "w") as f:
        f.write("111;0;300\n222;300;600\n333;600;max\n")
    return R.reclass_from_file(_ras(spark, sf, "a"), p)


def _q_lidar_shift(spark, sf):
    """LidarShift: pure translation projection. Oracle-gated."""
    return LI.lidar_shift(_points(spark, sf), 100.0, -50.0, 7.0) \
        .select("record_num", "x", "y", "value")


def _q_map_off_terrain(spark, sf):
    """MapOffTerrainObjects: slope-edge connected components —
    oracle-gated bit-exact (round-5 upgrade: slope edges + min-label
    reach closure + dense ranking replayed in DuckDB); also scene
    pytest (tests/test_small_ops_r4.py)."""
    from whitebox_tools_spark.operators.focal import map_off_terrain_objects

    return map_off_terrain_objects(_ras_c(spark, sf), _META40C,
                                   max_slope=40.0, min_size=2)


def _q_find_main_stem(spark, sf):
    """FindMainStem = Hack-order-1 cells (same greatest-upstream-length
    rule). Rows-only; equivalence pytest vs hack_order."""
    return HY.find_main_stem(_ras_c(spark, sf), _META40C, 4.0)


def _q_single_to_multi_part(spark, sf):
    """SinglePartToMultiPart grouped by shape kind, flattened to
    (group, shape_id, part_idx, node_idx, x, y) — the part renumbering
    and vertex order are SQL-restatable, so oracle-gated."""
    from whitebox_tools_spark.operators.vector_ops import single_part_to_multi_part

    feats = _shapes(spark, sf).selectExpr("shape_id", "parts",
                                          "CAST(shape_id % 2 AS INT) AS kind")
    merged = single_part_to_multi_part(feats, "kind")
    return merged.selectExpr("kind", "shape_id", "POSEXPLODE(parts) AS (pi, p)") \
        .selectExpr("kind", "shape_id", "p.part_idx AS part_idx",
                    "POSEXPLODE(p.ring) AS (node_idx, v)") \
        .selectExpr("kind", "shape_id", "part_idx", "node_idx",
                    "v.x AS x", "v.y AS y")


def _q_lines_to_polygons(spark, sf):
    """LinesToPolygons over OPEN lines (rect rings minus their closing
    vertex): the closure rule appends vertex 0 — oracle re-derives the
    closed ring directly. polygons_to_lines is the inverse relabel and
    shares this gate's plumbing."""
    from whitebox_tools_spark.operators.vector_ops import (lines_to_polygons,
                                                           polygons_to_lines)

    feats = _shapes(spark, sf, kind=0).selectExpr(
        "shape_id",
        "TRANSFORM(parts, p -> STRUCT(p.part_idx AS part_idx, p.is_hole AS is_hole, "
        "SLICE(p.ring, 1, SIZE(p.ring) - 1) AS ring)) AS parts")
    closed = lines_to_polygons(polygons_to_lines(feats))
    return closed.selectExpr("shape_id", "EXPLODE(parts) AS p") \
        .selectExpr("shape_id", "POSEXPLODE(p.ring) AS (node_idx, v)") \
        .selectExpr("shape_id", "node_idx", "v.x AS x", "v.y AS y")


def _q_hack_order(spark, sf):
    """Main-stem selection is a procedural top-down DAG propagation —
    rows-only + pytest network parity."""
    return HY.hack_order(_ras_c(spark, sf), _META40C, 4.0)


def _q_horton_order(spark, sf):
    """Same propagation machinery as hack — rows-only + pytest."""
    return HY.horton_order(_ras_c(spark, sf), _META40C, 4.0)


# --- round-2 continuation hydro utilities ---------------------------------

def _q_num_inflowing(spark, sf):
    return HY.num_inflowing_neighbours(_ras(spark, sf, "a"), _META100)


def _q_noflow_cells(spark, sf):
    return HY.find_noflow_cells(_ras(spark, sf, "a"), _META100)


def _q_fill_pits(spark, sf):
    return HY.fill_pits(_ras(spark, sf, "a"), _META100)


def _q_elev_above_stream(spark, sf):
    return HY.elevation_above_stream(_ras_c(spark, sf), _META40C, 4.0)


def _q_dist_to_stream(spark, sf):
    return HY.downslope_distance_to_stream(_ras_c(spark, sf), _META40C, 4.0)


def _q_sink_id(spark, sf):
    """Sink = fill + clump of raised cells; fill is the iterative
    Planchon-Darboux fixpoint (rows-only like fill_depressions, clump
    itself is oracle-gated separately; numpy parity in pytest)."""
    _reg(spark, sf, "events")
    return HY.sink(spark.sql(_RAS_C_SQL), _META40)


def _q_depth_in_sink(spark, sf):
    _reg(spark, sf, "events")
    return HY.depth_in_sink(spark.sql(_RAS_C_SQL), _META40)


# --- round-2 continuation focal filters -----------------------------------

def _q_stdev_filter(spark, sf):
    return FO.stdev_filter(_ras(spark, sf, "a"))


def _q_highpass(spark, sf):
    return FO.highpass_filter(_ras(spark, sf, "a"))


def _q_highpass_median(spark, sf):
    return FO.highpass_median_filter(_ras(spark, sf, "a"))


def _q_adaptive_filter(spark, sf):
    return FO.adaptive_filter(_ras(spark, sf, "a"), threshold=1.0)


def _q_lee_filter(spark, sf):
    return FO.lee_filter(_ras(spark, sf, "a"), sigma=150.0, m=5.0)


def _q_knearest_mean(spark, sf):
    return FO.k_nearest_mean_filter(_ras(spark, sf, "a"), k=5)


def _q_unsharp(spark, sf):
    return FO.unsharp_masking(_ras(spark, sf, "a"), sigma=0.75,
                              amount=0.5, threshold=2.0)


def _q_roberts(spark, sf):
    return FO.roberts_cross_filter(_ras(spark, sf, "a"))


def _q_line_detection(spark, sf):
    return FO.line_detection_filter(_ras(spark, sf, "a"), variant="45",
                                    absvals=True)


def _q_fast_gaussian(spark, sf):
    return FO.fast_almost_gaussian_filter(_ras(spark, sf, "a"), sigma=1.8)


# --- global image enhancement (operators/enhancement.py) ------------------

def _q_minmax_stretch(spark, sf):
    return EN.min_max_contrast_stretch(_ras(spark, sf, "a"), num_tones=256)


def _q_pct_stretch(spark, sf):
    return EN.percentage_contrast_stretch(_ras(spark, sf, "a"), clip=2.0,
                                          num_tones=256)


def _q_stdev_stretch(spark, sf):
    return EN.stdev_contrast_stretch(_ras(spark, sf, "a"), clip_stdev=2.0,
                                     num_tones=256)


def _q_sigmoidal_stretch(spark, sf):
    """SigmoidalContrastStretch, ROUND(6) — absorbs the EXP libm ulps
    (numpy kernel parity stays pytest-gated)."""
    return EN.sigmoidal_contrast_stretch(
        _ras(spark, sf, "a"), cutoff=0.4, gain=2.0, num_tones=256
    ).selectExpr("row", "col", "ROUND(value, 6) AS value")


def _q_gamma_corr(spark, sf):
    """GammaCorrection, ROUND(6) — absorbs the POWER libm ulps."""
    return EN.gamma_correction(_ras(spark, sf, "a"), gamma=0.5).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_ndi(spark, sf):
    return EN.normalized_difference_index(_ras(spark, sf, "a"),
                                          _ras(spark, sf, "b"), correction=1.0)


def _q_dds(spark, sf):
    _reg(spark, sf, "events")
    b3 = spark.sql(_RAS_D_SQL)
    return EN.direct_decorrelation_stretch(
        _ras(spark, sf, "a"), _ras(spark, sf, "b"), b3, k=0.5)


def _q_bcet(spark, sf):
    return EN.balance_contrast_enhancement(_ras(spark, sf, "a"),
                                           band_mean=110.0)


def _q_hist_match(spark, sf):
    return EN.histogram_matching(_ras(spark, sf, "a"), _ras(spark, sf, "b"))


def _q_hist_match_two_images(spark, sf):
    """HistogramMatchingTwoImages: band b's CDF altered to band d's
    (a distinct raster pair from hist_match's a->b)."""
    _reg(spark, sf, "events")
    return EN.histogram_matching_two_images(_ras(spark, sf, "b"),
                                            spark.sql(_RAS_D_SQL))


def _q_wfm_insertion(spark, sf):
    """WriteFunctionMemoryInsertion: 3-date RGB change composite
    (a -> R, b -> G, d -> B), min-max stretched and RGBA-packed."""
    _reg(spark, sf, "events")
    return EN.write_function_memory_insertion(
        _ras(spark, sf, "a"), _ras(spark, sf, "b"), spark.sql(_RAS_D_SQL))


def _q_flip_image(spark, sf):
    return EN.flip_image(_ras(spark, sf, "a"), 100, 100, direction="both")


def _q_cva(spark, sf):
    _reg(spark, sf, "events")
    b3 = spark.sql(_RAS_D_SQL)
    return EN.change_vector_analysis(_ras(spark, sf, "a"), _ras(spark, sf, "b"),
                                     b3, _ras(spark, sf, "a"))


# --- general polygon overlay (rect x rect oracle-gated layer pair) -------

_RING_SIGNED_AREA = (
    "AGGREGATE(TRANSFORM(SEQUENCE(1, SIZE({r}) - 1), "
    "i -> {r}[i-1].x * {r}[i].y - {r}[i].x * {r}[i-1].y), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / 2.0"
)
_PARTS_REGION_AREA = (
    "AGGREGATE(TRANSFORM(parts, p -> "
    + _RING_SIGNED_AREA.format(r="p.ring")
    + "), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def _rect_layers(spark, sf):
    """Two overlapping rect layers: the kind-0 shapes and copies shifted
    by (+17, +23) — every area in play is a multiple of 0.000025, so
    area * 40000 is integer-exact on both engines."""
    _reg(spark, sf, "events")
    base = spark.sql(_SHAPES_BASE).where("kind = 0")
    mk = (f"ARRAY(STRUCT(0 AS part_idx, FALSE AS is_hole, {_RECT_SPARK} AS ring)) AS parts")
    a = base.selectExpr("shape_id", mk)
    b = base.selectExpr("shape_id + 1000000 AS clip_id", "cx + 17.0 AS cx",
                        "cy + 23.0 AS cy", "hw", "hh").selectExpr("clip_id", mk)
    return a, b


def _overlay_area_query(spark, sf, mode):
    from whitebox_tools_spark.operators.overlay_vector import overlay_features

    a, b = _rect_layers(spark, sf)
    out = overlay_features(a, b, mode)
    return out.selectExpr(
        "shape_id", "clip_id",
        f"CAST(ROUND(({_PARTS_REGION_AREA}) * 40000.0) AS BIGINT) AS area_scaled",
    )


def _q_union_features(spark, sf):
    """Pairwise Union over two rect layers — area oracled closed-form
    (aA + aB - overlap); concave x concave correctness is pytest-gated
    (tests/test_overlay_general.py)."""
    return _overlay_area_query(spark, sf, "union")


def _q_symdiff_features(spark, sf):
    return _overlay_area_query(spark, sf, "symmetric_difference")


def _q_intersect_general(spark, sf):
    return _overlay_area_query(spark, sf, "intersect")


def _q_erase_features(spark, sf):
    return _overlay_area_query(spark, sf, "difference")


def _q_shreve(spark, sf):
    """Shreve magnitude — rows-only (link-DAG peel); Y-network pytest."""
    return HY.shreve_order(_ras_c(spark, sf), _META40C, threshold=4.0)


def _q_stream_link_metrics(spark, sf):
    out = HY.stream_link_metrics(_ras_c(spark, sf), _META40C, threshold=4.0)
    return out.selectExpr("link_id", "n_cells", "ROUND(length, 6) AS length",
                          "ROUND(slope_pct, 6) AS slope_pct")


def _q_stream_nodes(spark, sf):
    return HY.stream_nodes(_ras_c(spark, sf), _META40C, threshold=4.0)


def _q_geomorphons(spark, sf):
    """Geomorphons landform classes — rows-only (libm atan2 angle
    comparisons); reference-loop parity pytest-gated."""
    from whitebox_tools_spark.operators.visibility import geomorphons

    return geomorphons(_ras(spark, sf, "a"), _META100, search_radius=8)


def _q_pennock(spark, sf):
    return FO.pennock_landform_class(_ras(spark, sf, "a"), _META100)


def _q_multidir_hillshade(spark, sf):
    return FO.multidirectional_hillshade(_ras(spark, sf, "a"), _META100)


def _q_max_elev_dev(spark, sf):
    return FO.max_elevation_deviation(_ras(spark, sf, "a"), [1, 2])


def _q_num_downslope_nbrs(spark, sf):
    return HY.num_downslope_neighbours(_ras(spark, sf, "a"), _META100)


def _q_num_upslope_nbrs(spark, sf):
    return HY.num_upslope_neighbours(_ras(spark, sf, "a"), _META100)


def _q_max_downslope_chg(spark, sf):
    return HY.max_downslope_elev_change(_ras(spark, sf, "a"), _META100)


def _q_min_downslope_chg(spark, sf):
    return HY.min_downslope_elev_change(_ras(spark, sf, "a"), _META100)


def _q_max_upslope_chg(spark, sf):
    return HY.max_upslope_elev_change(_ras(spark, sf, "a"), _META100)


def _q_relative_aspect(spark, sf):
    return FO.relative_aspect(_ras(spark, sf, "a"), _META100, azimuth=45.0)


def _q_circular_variance_aspect(spark, sf):
    """CircularVarianceOfAspect; ROUND(4) — the integral-image window
    sums reassociate float adds vs the oracle's direct sums (unit
    vectors are irrational), same knob as multiscale_roughness."""
    return FO.circular_variance_of_aspect(
        _ras(spark, sf, "a"), _META100, filter_size=11
    ).selectExpr("row", "col", "ROUND(value, 4) AS value")


def _q_max_diff_from_mean(spark, sf):
    return FO.max_diff_from_mean(_ras(spark, sf, "a"), [1, 2])


def _q_multiscale_rough(spark, sf):
    """MultiscaleRoughness at radii [1, 2]; value ROUND(4)-ed because the
    integral-image window sums reassociate float adds vs the oracle's
    direct sums (normals are irrational)."""
    return FO.multiscale_roughness(_ras(spark, sf, "a"), _META100, [1, 2],
                                   round_to=4)


def _q_msd_normals(spark, sf):
    """MultiscaleStdDevNormals at radii [1, 2]; ROUND(4) as above."""
    return FO.multiscale_std_dev_normals(_ras(spark, sf, "a"), _META100,
                                         [1, 2], round_to=4)


def _q_multiscale_ep(spark, sf):
    """MultiscaleElevationPercentile at radii [1, 2] — exact integer
    counting, no rounding needed."""
    return FO.multiscale_elevation_percentile(_ras(spark, sf, "a"), [1, 2])


def _q_mstpi(spark, sf):
    """MultiscaleTopographicPositionImage: RGB from DEVmax at scale
    ranges local=[1] meso=[2] broad=[3] — integer-exact moments."""
    return FO.multiscale_topographic_position_image(
        _ras(spark, sf, "a"), [1], [2], [3])


def _q_surface_normals(spark, sf):
    """Per-cell unit surface normals (Sobel 3x3, center-substituted
    edges) — identical expression text in both engines, bit-exact."""
    return FO.surface_normals(_ras(spark, sf, "a"), _META100)


def _q_gauss_scale_space(spark, sf):
    """Gaussian scale space DoG argmax over sigmas [0.8, 1.2, 1.6] on
    the deterministic pivot plans, ROUND(6) on the winning DoG (round-5
    oracle upgrade; the separable path stays pytest-gated at 1e-12)."""
    out = FO.gaussian_scale_space(_ras(spark, sf, "a"), _META100,
                                  [0.8, 1.2, 1.6], separable=False)
    return out.selectExpr("row", "col", "ROUND(value, 6) AS value", "scale")


def _q_resample_bilinear(spark, sf):
    return R.resample_bilinear(_ras(spark, sf, "a"), _META100, _META40)


def _q_fd8_accum(spark, sf):
    """FD8 proportioned accumulation, ROUND(6) — oracle-gated (round-5
    upgrade: 64-round Jacobi replay; rounding absorbs POWER libm and
    SUM-association ulps); also pytest vs the reference proportioning +
    queue algorithm."""
    sub = _ras(spark, sf, "a").where("row < 24 AND col < 24")
    meta = GridMeta(rows=24, columns=24, north=1000.0, south=760.0, east=240.0,
                    west=0.0, resolution_x=10.0, resolution_y=10.0)
    return HY.fd8_flow_accumulation(sub, meta).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_linearity(spark, sf):
    return VO.linearity_index(_shapes(spark, sf))


# box_metrics twin: a jittered convex-PENTAGON fixture where the
# min-area box is decided with real margins. The rect/diamond layer's
# caliper candidates tie EXACTLY (the reason box_metrics stays
# rows-only), and quadrilaterals carry a geometric identity that makes
# adjacent edge-flush boxes exactly equal-area on ~25% of random
# shapes (verified in exact rational arithmetic during fixture
# selection); pentagons break the identity. Audited shape-by-shape by
# tests/test_box_metrics_oracle.py: convexity, a >=1e-6 separated min
# box (or bitwise-benign ties), du/dv separation, azimuth away from
# the 0/180 wrap, all three outputs >=1e-4 from their rounding
# half-grid, and MEC candidate margins.
_BMX_PRED = "event_id % 173 = 1"   # 58 pentagons at sf0.01: audited
_BMX_DIRS = (("1.0", "0.0"), ("0.31", "0.95"), ("-0.81", "0.59"),
             ("-0.81", "-0.59"), ("0.31", "-0.95"))
_BMX_PR = (7919, 104729, 12553, 30011, 65537)
_BMX_PJ = (131, 257, 389, 521, 641)


def _bmx_verts_sql() -> str:
    """Shared (Spark == DuckDB) pentagon vertex layer: per vertex k,
    radius 8..12 along a fixed direction + +-0.3 jitter, every term a
    correctly-rounded float expression identical in both engines."""
    cols = []
    for k in range(5):
        rad = (f"(8.0 + CAST((shape_id * {_BMX_PR[k]}) % 400 AS DOUBLE) "
               "/ 100.0)")
        jx = (f"(CAST((shape_id * {_BMX_PJ[k]}) % 100 AS DOUBLE) "
              "/ 100.0 * 0.6 - 0.3)")
        jy = (f"(CAST((shape_id * {_BMX_PJ[k] + 6}) % 100 AS DOUBLE) "
              "/ 100.0 * 0.6 - 0.3)")
        cols.append(f"cx + {rad} * {_BMX_DIRS[k][0]} + {jx} AS x{k}")
        cols.append(f"cy + {rad} * {_BMX_DIRS[k][1]} + {jy} AS y{k}")
    base = (f"SELECT event_id AS shape_id, {_PX} AS cx, {_PY} AS cy "
            f"FROM events WHERE {_BMX_PRED}")
    return f"SELECT shape_id, {', '.join(cols)} FROM ({base})"


def _q_box_metrics_exact(spark, sf):
    """ElongationRatio / PatchOrientation / RelatedCircumscribingCircle
    over the audited convex-pentagon fixture — oracle-gated: the DuckDB
    twin restates the calipers order-free (min over the 5 edge-flush
    boxes) and the MEC as min-radius over the 20 candidate circles
    containing all vertices; margins audited per shape."""
    _reg(spark, sf, "events")
    ring = ", ".join(f"STRUCT(x{k} AS x, y{k} AS y)" for k in range(5))
    feats = spark.sql(_bmx_verts_sql()).selectExpr(
        "shape_id",
        "ARRAY(STRUCT(0 AS part_idx, FALSE AS is_hole, "
        f"ARRAY({ring}, STRUCT(x0 AS x, y0 AS y)) AS ring)) AS parts")
    out = VO.box_metrics(feats)
    return out.selectExpr("shape_id", "ROUND(elongation, 6) AS elongation",
                          "ROUND(orientation, 4) AS orientation",
                          "ROUND(rc_circle, 6) AS rc_circle")


def _q_box_metrics(spark, sf):
    """Min-bounding-box elongation/orientation + minimum-enclosing-circle
    metric — rows-only: the diamond fixture's four caliper edges tie
    EXACTLY in real arithmetic, and numpy-vs-DuckDB trig ulps break the
    tie differently (a round-5 replay oracle flipped orientation by the
    180-complement on 3 of 104 shapes), so the winner is not
    cross-engine reproducible; geometry pytest-gated on known shapes."""
    out = VO.box_metrics(_shapes(spark, sf))
    return out.selectExpr("shape_id", "ROUND(elongation, 9) AS elongation",
                          "ROUND(orientation, 6) AS orientation",
                          "ROUND(rc_circle, 9) AS rc_circle")


def _q_ihs_roundtrip(spark, sf):
    """RgbToIhs -> IhsToRgb over the composite raster — oracle is the
    composite itself (identity round-trip, exact channel recovery)."""
    from whitebox_tools_spark.operators import data_tools as DT

    rgb = _rgb(spark, sf).where("value > 0.0")
    return DT.ihs_to_rgb(DT.rgb_to_ihs(rgb))


def _q_ground_filter(spark, sf):
    """Slope-based ground classification over a 1k-point subset —
    oracle is the all-pairs EXISTS predicate in SQL."""
    pts = _points(spark, sf).where("record_num % 10 = 0")
    return LI.lidar_ground_point_filter(pts, radius=30.0, height_threshold=50.0,
                                        slope_threshold=30.0)


def _q_lidar_segmentation(spark, sf):
    """Plane-normal region growing. Oracle: closed-form normals replay +
    the exact edge predicate; labels are min-reachable-id components
    (order-free), replayed as a recursive closure. Structure also
    pytest-gated on synthetic planes."""
    pts = _points(spark, sf).where("record_num % 20 = 0")
    return LI.lidar_segmentation(pts, radius=40.0, norm_diff=20.0, maxzdiff=80.0)


def _q_ransac_planes(spark, sf):
    """Seeded RANSAC planes per FRS cell. Oracle: full replay — the
    MD5(seed:iter:pid) sample permutation, closed-form plane fits,
    exact inlier counts, earliest-best-iteration rule. Also
    pytest-gated on a planar scene."""
    pts = _points(spark, sf).where("record_num % 10 = 0")
    return LI.lidar_ransac_planes(pts, radius=100.0, num_iter=20, num_samples=5,
                                  threshold=30.0, model_size=8)


def _q_contour_segments(spark, sf):
    """Marching-squares contour segments, canonicalized endpoint order —
    oracled against an independent SQL marching squares (4-way self-join
    quads + case table + edge interpolation)."""
    from whitebox_tools_spark.operators import contours as CN

    segs = CN.contour_segments(_ras(spark, sf, "a"), _META100,
                               base=0.0, interval=100.0, tile=32)
    return segs.selectExpr(
        "level",
        "LEAST(STRUCT(x1 AS x, y1 AS y), STRUCT(x2 AS x, y2 AS y)) AS p",
        "GREATEST(STRUCT(x1 AS x, y1 AS y), STRUCT(x2 AS x, y2 AS y)) AS q",
    ).selectExpr("level", "p.x AS ax", "p.y AS ay", "q.x AS bx", "q.y AS by")


def _q_contours(spark, sf):
    """Chained contour polylines, gated STRUCTURALLY (round-5 upgrade,
    the bsc restatement discipline): with every vertex degree <= 2 the
    chain decomposition IS the connected-component decomposition of the
    (bit-exact, independently oracled) segment set, so per-chain
    aggregates — vertex count, closed flag, lexicographic-min vertex
    (which also defines the line_id numbering), bbox — are order-free
    and replayed in DuckDB via a reach recursion over the marching-
    squares segments. The walk order itself stays pytest-gated."""
    from whitebox_tools_spark.operators import contours as CN

    out = CN.contours_from_raster(_ras(spark, sf, "a"), _META100,
                                  base=0.0, interval=100.0, tile=32)
    return out.groupBy("level", "line_id").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_vertices"),
        F.expr("CAST(CASE WHEN MIN_BY(STRUCT(x, y), vertex_idx) = "
               "MAX_BY(STRUCT(x, y), vertex_idx) THEN 1 ELSE 0 END AS INT)")
        .alias("closed"),
        F.expr("MIN(STRUCT(x, y)).x").alias("x0"),
        F.expr("MIN(STRUCT(x, y)).y").alias("y0"),
        F.min("x").alias("xmin"), F.min("y").alias("ymin"),
        F.max("x").alias("xmax"), F.max("y").alias("ymax"),
    ).selectExpr("level", "CAST(line_id AS BIGINT) AS line_id",
                 "n_vertices", "closed", "x0", "y0",
                 "xmin", "ymin", "xmax", "ymax")


def _q_r2v_lines(spark, sf):
    """RasterToVectorLines over a rasterized line layer — rows-only;
    tracing is pytest-gated."""
    from whitebox_tools_spark.operators import contours as CN

    lines = R.lines_to_raster(_segments(spark, sf), _META100)
    dense = _ras(spark, sf, "a").selectExpr("row", "col", "0.0 AS z")         .join(lines.selectExpr("row", "col", "value AS lv"), ["row", "col"], "left")         .selectExpr("row", "col", "COALESCE(lv, 0.0) AS value")
    return CN.raster_to_vector_lines(dense, _META100)


def _q_is_nodata(spark, sf):
    nd = _ras(spark, sf, "a").selectExpr(
        "row", "col", "CASE WHEN value < 10.0 THEN -32768.0 ELSE value END AS value")
    return R.is_nodata(nd, _META100)


def _q_update_nodata(spark, sf):
    nd = _ras(spark, sf, "a").selectExpr(
        "row", "col", "CASE WHEN value < 10.0 THEN -32768.0 ELSE value END AS value")
    return R.update_nodata_cells(nd, _ras(spark, sf, "b"), _META100)


def _q_convert_nodata(spark, sf):
    nd = _ras(spark, sf, "a").selectExpr(
        "row", "col", "CASE WHEN value < 10.0 THEN -32768.0 ELSE value END AS value")
    return R.convert_nodata_to_zero(nd, _META100)


def _q_cell_assign_x(spark, sf):
    return R.raster_cell_assignment(_ras(spark, sf, "a"), _META100, "x")


def _q_create_plane(spark, sf):
    return R.create_plane(spark, _META40, gradient=12.0, aspect=70.0, constant=5.0)


def _q_find_low_high(spark, sf):
    return R.find_lowest_or_highest_points(_ras(spark, sf, "a"), _META100, "both")


def _q_lowest_position(spark, sf):
    a = _ras(spark, sf, "a")
    return OV.lowest_position([a, a.selectExpr("row", "col", "value * 2.0 - 50.0 AS value")])


def _q_percent_gt(spark, sf):
    a = _ras(spark, sf, "a")
    return OV.percent_greater_than(
        [a, a.selectExpr("row", "col", "value * 2.0 AS value")], _ras(spark, sf, "b"))


def _q_lidar_sort_time(spark, sf):
    out = LI.lidar_sort_by_time(_points(spark, sf), time_col="value")
    return out.select("record_num", "sort_index")


def _q_anova(spark, sf):
    zones = _ras(spark, sf, "b").selectExpr("row", "col", "FLOOR(value / 100.0) AS value")
    return R.anova(_ras(spark, sf, "a"), zones)


def _q_wilcoxon(spark, sf):
    return R.wilcoxon_signed_rank(_ras(spark, sf, "a"), _ras(spark, sf, "b"))


def _q_trend_surface(spark, sf):
    return R.trend_surface(_ras(spark, sf, "a"), _META100)


# Integer-coordinate point layer for TrendSurfaceVectorPoints: x, y, z
# are integer-valued doubles, so every normal-equation moment (sum of
# x^i y^j z products) is an exact integer < 2^53 in ANY accumulation
# order — the coefficient arithmetic then bit-agrees with DuckDB.
_TSP_SQL = (
    "SELECT CAST((event_id * 48271) % 1000 AS DOUBLE) AS x, "
    "CAST((event_id * 69621) % 1000 AS DOUBLE) AS y, "
    "CAST(event_id % 97 AS DOUBLE) AS value FROM events"
)


def _q_trend_surface_points(spark, sf):
    """TrendSurfaceVectorPoints, order 1: Cramer's-rule plane fit over
    the vector point layer, evaluated on the 40x40 grid."""
    _reg(spark, sf, "events")
    return R.trend_surface_vector_points(spark.sql(_TSP_SQL), _META40, order=1)


def _q_pca(spark, sf):
    return R.pca_two_band(_ras(spark, sf, "a"), _ras(spark, sf, "b"))


def _q_pca3(spark, sf):
    """N-band PCA over 3 fixture bands; ROUND(,4) on both sides (LAPACK
    eigh here vs the closed-form trig eigensolver in _pca3_oracle agree
    to ~1e-12 on this well-separated spectrum)."""
    cells, _report = R.principal_component_analysis(
        [_ras(spark, sf, "a"), _ras(spark, sf, "b"), spark.sql(_RAS_D_SQL)])
    return cells.selectExpr(
        "row", "col", "ROUND(pc1, 4) AS pc1", "ROUND(pc2, 4) AS pc2",
        "ROUND(pc3, 4) AS pc3")


def _q_geotiff_roundtrip(spark, sf):
    """Write ras_a to a GeoTIFF (DEFLATE), read it back through the
    binaryFile + numpy decoder — oracle is the original raster SQL, so a
    hash match proves the full write->read cycle is value-preserving."""
    import shutil
    import tempfile

    from whitebox_tools_spark.sources import formats as FF

    d = tempfile.mkdtemp(prefix="wbt_gtiff_")
    try:
        pth = f"{d}/ras_a.tif"
        FF.write_geotiff(_ras(spark, sf, "a"), _META100, pth, compress=True)
        cells, _meta = FF.read_geotiff(spark, pth)
        rows = cells.collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, "row long, col long, value double")


def _q_grid_format_roundtrip(spark, sf):
    """Chain the lossless grid connectors: ras_a -> Surfer ASCII ->
    Whitebox .dep/.tas (double) -> Surfer 7 binary -> SAGA (double) ->
    ESRI BIL (FLOAT 64); ESRI .flt is f32 (lossy) and stays out of the
    chain. Oracle = the original raster SQL — a hash match proves every
    write->read cycle is value-preserving."""
    import shutil
    import tempfile

    from whitebox_tools_spark.sources import formats as FF

    d = tempfile.mkdtemp(prefix="wbt_grid_")
    try:
        FF.write_surfer_ascii(_ras(spark, sf, "a"), _META100, f"{d}/a.grd")
        mid, meta = FF.read_surfer_ascii(spark, f"{d}/a.grd")
        FF.write_whitebox(mid, meta, f"{d}/b", data_type="double")
        mid2, meta2 = FF.read_whitebox(spark, f"{d}/b")
        FF.write_surfer7(mid2, meta2, f"{d}/c.grd")
        mid3, meta3 = FF.read_surfer7(spark, f"{d}/c.grd")
        FF.write_saga(mid3, meta3, f"{d}/e")
        mid4, meta4 = FF.read_saga(spark, f"{d}/e")
        FF.write_esri_bil(mid4, meta4, f"{d}/f", pixel_type="FLOAT", nbits=64)
        final, _m = FF.read_esri_bil(spark, f"{d}/f")
        rows = final.collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, "row long, col long, value double")


def _q_shapefile_roundtrip(spark, sf):
    """Write the kind-0 rect shapes to a .shp/.dbf, read back, explode to
    vertices. The writer re-orients shells to ESRI clockwise, so the
    oracle generates the REVERSED rect ring — a hash match proves both
    the byte layout and the orientation convention."""
    import shutil
    import tempfile

    from whitebox_tools_spark.sources import formats as FF

    _reg(spark, sf, "events")
    base = spark.sql(_SHAPES_BASE).where("kind = 0")
    feats = [
        {"record_num": int(r["shape_id"]),
         "parts": [(False, [(r["cx"] - r["hw"], r["cy"] - r["hh"]),
                            (r["cx"] + r["hw"], r["cy"] - r["hh"]),
                            (r["cx"] + r["hw"], r["cy"] + r["hh"]),
                            (r["cx"] - r["hw"], r["cy"] + r["hh"])])],
         "attrs": {"sid": int(r["shape_id"])}}
        for r in sorted(base.collect(), key=lambda r: r["shape_id"])
    ]  # .shp record numbers are sequential 1-based in write order
    d = tempfile.mkdtemp(prefix="wbt_shp_")
    try:
        FF.write_shapefile(feats, f"{d}/shapes.shp", shape_type=5)
        geo = FF.read_shapefile(spark, f"{d}/shapes.shp")
        out = geo.selectExpr(
            "record_num", "POSEXPLODE(parts[0].ring) AS (vertex_idx, v)"
        ).selectExpr("record_num", "CAST(vertex_idx AS BIGINT) AS vertex_idx",
                     "v.x AS x", "v.y AS y")
        rows = out.collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, "record_num long, vertex_idx long, x double, y double")


def _q_shapefile_tiles_roundtrip(spark, sf):
    """Distributed per-tile shapefile egress (write_shapefile_tiles:
    executor-side encode, one .shp/.shx/.dbf per tile) then a directory
    glob read-back, flattened to ring vertices. Per-file record numbers
    restart, so the gate keys on the vertex multiset (the driver compare
    sorts all columns) — a hash match proves byte layout, ESRI
    orientation, and the tile fan-out end to end."""
    import shutil
    import tempfile

    from whitebox_tools_spark.sources import formats as FF

    _reg(spark, sf, "events")
    feats = spark.sql(_SHAPES_BASE).where("kind = 0").selectExpr(
        "shape_id",
        "ARRAY(STRUCT(0 AS part_idx, FALSE AS is_hole, "
        "ARRAY(STRUCT(cx - hw AS x, cy - hh AS y), "
        "STRUCT(cx + hw AS x, cy - hh AS y), "
        "STRUCT(cx + hw AS x, cy + hh AS y), "
        "STRUCT(cx - hw AS x, cy + hh AS y)) AS ring)) AS parts",
        "shape_id % 3 AS tile_id",
    )
    d = tempfile.mkdtemp(prefix="wbt_shp_tiles_")
    try:
        FF.write_shapefile_tiles(feats, d).collect()  # manifest forces the write
        geo = FF.read_shapefile(spark, f"{d}/*.shp")
        rows = geo.selectExpr(
            "POSEXPLODE(parts[0].ring) AS (vertex_idx, v)"
        ).selectExpr("CAST(vertex_idx AS BIGINT) AS vertex_idx",
                     "v.x AS x", "v.y AS y").collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, "vertex_idx long, x double, y double")


def _q_dissolve(spark, sf):
    """Dissolve an 8x8 grid of adjacent unit cells into per-group merged
    polygons (group = 2x2 block id): 16 groups, each one 2x2 square ring;
    oracled on (group, ring count, scaled area, perimeter)."""
    from whitebox_tools_spark.operators.overlay_vector import dissolve

    cells = spark.range(64).selectExpr(
        "id AS shape_id",
        "CAST(id % 8 AS DOUBLE) AS x0",
        "CAST(FLOOR(id / 8) AS DOUBLE) AS y0",
        "CAST(FLOOR((id % 8) / 2) * 4 + FLOOR(id / 16) AS BIGINT) AS grp",
    ).selectExpr(
        "shape_id", "grp",
        "ARRAY(STRUCT(0 AS part_idx, FALSE AS is_hole, "
        "ARRAY(STRUCT(x0 AS x, y0 AS y), STRUCT(x0 + 1.0 AS x, y0 AS y), "
        "STRUCT(x0 + 1.0 AS x, y0 + 1.0 AS y), STRUCT(x0 AS x, y0 + 1.0 AS y), "
        "STRUCT(x0 AS x, y0 AS y)) AS ring)) AS parts",
    )
    out = dissolve(cells, "grp")
    per = ("AGGREGATE(TRANSFORM(SEQUENCE(1, SIZE(parts[0].ring) - 1), "
           "i -> SQRT((parts[0].ring[i].x - parts[0].ring[i-1].x) * (parts[0].ring[i].x - parts[0].ring[i-1].x) "
           "+ (parts[0].ring[i].y - parts[0].ring[i-1].y) * (parts[0].ring[i].y - parts[0].ring[i-1].y))), "
           "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    return out.selectExpr(
        "grp",
        "CAST(SIZE(parts) AS BIGINT) AS n_rings",
        f"CAST(ROUND(({_PARTS_REGION_AREA}) * 4.0) AS BIGINT) AS area_scaled",
        f"CAST(ROUND({per}) AS BIGINT) AS perimeter",
    )


def _q_watershed(spark, sf):
    ras = _ras(spark, sf, "a")
    outlets = ras.where("value < 5.0").selectExpr("(row * 100 + col) AS outlet_id", "row", "col")
    return HY.watershed(ras, _META100, outlets)


def _q_snap_pour(spark, sf):
    ras = _ras(spark, sf, "a")
    pour = ras.where("(row * 100 + col) % 997 = 0").selectExpr(
        "(row * 100 + col) AS pour_id", "row", "col"
    )
    return HY.snap_pour_points(pour, ras, snap_cells=2)


_META40C = GridMeta(rows=40, columns=40, north=400.0, south=0.0, east=400.0,
                    west=0.0, resolution_x=10.0, resolution_y=10.0)


def _ras_c(spark, sf):
    _reg(spark, sf, "events")
    return spark.sql(_RAS_C_SQL)


def _q_fill_depressions(spark, sf):
    """Depression filling. Oracle-gated via the path-max characterization:
    filled(c) = min over all border-to-c paths of the running max
    elevation — a plain recursive CTE (every intermediate w is an exact
    copy of an input z, so GREATEST/LEAST chains agree bit-for-bit with
    the Spark Planchon-Darboux fixpoint, which converges to the same
    unique solution as fill_depressions.rs:374's priority flood with
    fix_flats off)."""
    return HY.fill_depressions(_ras_c(spark, sf), _META40C)


def _q_flowpath_length(spark, sf):
    """Pointer-doubling path distances sum in tree order (differs from
    a sequential walk in the last ulp) — rows-only."""
    return HY.downslope_flowpath_length(_ras_c(spark, sf), _META40C)


def _q_wetness(spark, sf):
    """WetnessIndex, ROUND(6) — the p/q/accumulation arithmetic is
    exact on both engines; rounding absorbs the LN libm ulps (the
    aspect-upgrade pattern)."""
    return HY.wetness_index(_ras_c(spark, sf), _META40C).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_cost_distance(spark, sf):
    """Bellman-Ford relaxation, ROUND(6) — oracle-gated (round-5
    upgrade: 96 unrolled Jacobi rounds in DuckDB; the engines' LEAST/MIN
    relaxation chains agree to the last ulp on long paths, which
    ROUND(6) absorbs); also pytest-gated vs Dijkstra."""
    cost = _ras_c(spark, sf).selectExpr("row", "col", "value + 1.0 AS value")
    return HY.cost_distance(cost, _META40C, "value < 6.0").selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_viewshed(spark, sf):
    """Viewshed — the pure-SQL ray-sample plan is oracle-gated
    bit-exact (round-4c upgrade): DuckDB replays the identical sample
    arithmetic with round_even standing in for BROUND; every LOS angle
    is one exact division per row."""
    from whitebox_tools_spark.operators.visibility import viewshed

    return viewshed(_ras_c(spark, sf), _META40C, 20, 20)


def _q_horizon_angle(spark, sf):
    """HorizonAngle — oracle-gated (round-4c upgrade): the pure-SQL ray
    plan replays in DuckDB (round_even for BROUND); the max rise/run is
    a selection of exact per-row divisions, ROUND(6) only for the final
    ATAN libm call."""
    from whitebox_tools_spark.operators.visibility import horizon_angle

    return horizon_angle(_ras_c(spark, sf), _META40C, azimuth=90.0) \
        .selectExpr("row", "col", "ROUND(value, 6) AS value")


def _q_strahler(spark, sf):
    """Strahler order: topological peel over the stream tree —
    rows-only (per-step max+tie aggregation is not CTE-expressible);
    junction semantics pytest-gated on crafted networks."""
    return HY.strahler_order(_ras_c(spark, sf), _META40C, threshold=4.0)


def _q_stream_link(spark, sf):
    """Stream link identification — rows-only (label propagation);
    junction-break semantics pytest-gated."""
    return HY.stream_link_id(_ras_c(spark, sf), _META40C, threshold=4.0)


def _q_d8_pointer(spark, sf):
    return HY.d8_pointer(_ras(spark, sf, "a"), _META100)


def _q_dinf_pointer(spark, sf):
    """D-inf direction (continuous degrees), ROUND(6) (round-5 oracle
    upgrade: the oracle restates the facet fold as a last-wins max
    cascade over the same per-facet expression texts; rounding absorbs
    ATAN/DEGREES libm ulps — also pytest-gated vs a numpy transcription
    of the reference facet loop)."""
    return HY.dinf_pointer(_ras(spark, sf, "a"), _META100).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_dinf_accum(spark, sf):
    """D-inf proportioned accumulation, ROUND(6) — oracle-gated
    (round-5 upgrade: the doubling fixpoint equals the 64-round Jacobi
    recurrence, replayed over the facet-cascade direction + sector
    split); also pytest vs the reference queue algorithm in numpy."""
    sub = _ras(spark, sf, "a").where("row < 24 AND col < 24")
    meta = GridMeta(rows=24, columns=24, north=1000.0, south=760.0, east=240.0,
                    west=0.0, resolution_x=10.0, resolution_y=10.0)
    return HY.dinf_flow_accumulation(sub, meta).selectExpr(
        "row", "col", "ROUND(value, 6) AS value")


def _q_breach(spark, sf):
    """BreachDepressionsLeastCost — rows-only; kernel transcription and
    the drainage property are pytest-gated (tests/test_breach.py). The
    full per-pit Dijkstra IS oracle-gated on the audited single-pit
    fixture (breach_depressions_exact)."""
    return HY.breach_depressions_least_cost(
        _ras(spark, sf, "a").where("row < 40 AND col < 40"), _META40F, max_dist=10)


# breach twin fixture: a 12x12 west-tilted plane (z = 50 + 2*col + row)
# with one dent at (6,1) = 40. The least-cost Dijkstra from the single
# pit terminates on its SECOND pop (winner = the min-z ring neighbor at
# col 0; its first off-grid scan direction n=4 is the breach target),
# so the whole search unrolls into two deterministic SQL stages —
# tests/test_breach_exact_oracle.py re-runs the kernel loop and pins
# pops == 2, the single pit, and round-2 pit-freeness.
_BRX_META = GridMeta(rows=12, columns=12, north=120.0, south=0.0,
                     east=120.0, west=0.0, resolution_x=10.0,
                     resolution_y=10.0)


def _q_breach_exact(spark, sf):
    """BreachDepressionsLeastCost over the audited single-pit fixture —
    oracle-gated bit-exact: raise (min-neighbor - flat_increment),
    ring-cost argmin with the kernel's (accum, counter) = (cost, n)
    tie order, first off-grid target in scan order, and the backlink
    carve to the declining zout profile; every float is the same
    expression text (z_pit - length * 0.01) in both engines."""
    dem = spark.range(144).selectExpr(
        "id DIV 12 AS row", "id % 12 AS col",
        "CASE WHEN id DIV 12 = 6 AND id % 12 = 1 THEN 40.0 "
        "ELSE CAST(50 + 2 * (id % 12) + id DIV 12 AS DOUBLE) END AS value")
    return HY.breach_depressions_least_cost(dem, _BRX_META,
                                            flat_increment=0.01)


def _q_d8_accum(spark, sf):
    return HY.d8_flow_accumulation_tiled(_ras(spark, sf, "a"), _META100)


def _q_d8_basins(spark, sf):
    return HY.basins(_ras(spark, sf, "a"), _META100)


def _q_extract_streams(spark, sf):
    return HY.extract_streams(_ras(spark, sf, "a"), _META100, 5.0)


def _q_block_max(spark, sf):
    return LI.block_maximum(_points(spark, sf), _META100)


def _q_point_density(spark, sf):
    return LI.point_density(_points(spark, sf), _META100)


def _q_hag(spark, sf):
    out = LI.normalize_by_cell_min(_points(spark, sf), 40.0)
    return out.select("record_num", "hag")


def _q_medoid(spark, sf):
    pts = _points(spark, sf).selectExpr("*", "record_num % 7 AS grp")
    return VO.medoid_points(pts, "grp")


def _q_focal_pct25(spark, sf):
    return FO.focal_percentile(_ras(spark, sf, "a"), 0.25, 1)


def _q_raster_area(spark, sf):
    return R.raster_area(_ras(spark, sf, "a"), _META100)


def _q_lidar_thin(spark, sf):
    return LI.lidar_thin(_points(spark, sf), 40.0)


def _q_elevation_slice(spark, sf):
    return LI.elevation_slice(_points(spark, sf), 200.0, 600.0, z_col="value")


def _media(spark, sf):
    """Media blobs derived from documents (same construction as
    multimodal.synth_media, driven by the flat driver table)."""
    return _docs(spark, sf).selectExpr(
        "doc_id",
        "CAST(CONCAT('IMG:', MD5(text), ':', REPEAT(SUBSTR(MD5(text), 1, 8), 16)) AS BINARY) AS media_bytes",
    )


def _q_token_budget(spark, sf):
    """Whitespace + BPE-ish token counting — the token-budget estimator
    pair (both expressions shared verbatim with the DuckDB oracle)."""
    s_ws = T.token_count_expr("text")[0]
    s_bpe = T.bpe_token_count_expr("text")[0]
    return _docs(spark, sf).selectExpr(
        "doc_id",
        f"CAST({s_ws} AS BIGINT) AS n_ws_tokens",
        f"CAST({s_bpe} AS BIGINT) AS n_bpe_tokens",
    )


def _q_corpus_curation(spark, sf):
    """The full data-curation funnel as ONE declarative plan: near-dup
    canonicalization (keep the cluster keeper) -> language/quality
    filters -> per-(source, lang) corpus stats with a BPE token budget.
    Every stage is the already-gated machinery; the value here is the
    composition — Catalyst fuses the filters into the scans and the only
    wide stages are the dedup band join, the (tiny) CC rounds and the
    final rollup."""
    docs = _docs(spark, sf)
    verdict = D.dedup_clusters(docs, "text", "doc_id",
                               bands=8, rows_per_band=2, shingle_n=3,
                               jaccard_threshold=0.1)
    qx = T.quality_score_exprs("text")
    enriched = docs.selectExpr(
        "doc_id", "source",
        f"{T.lang_id_expr('text')[0]} AS lang_pred",
        f"CAST({qx['q_tokens'][0]} AS BIGINT) AS q_tokens",
        f"{qx['q_stopword_ratio'][0]} AS q_sw",
        f"CAST({T.bpe_token_count_expr('text')[0]} AS BIGINT) AS n_bpe",
    )
    kept = (
        enriched.join(verdict.where("is_canonical = 1"), "doc_id", "leftsemi")
        .where("q_tokens >= 20 AND q_sw >= 0.02")
    )
    return kept.groupBy("source", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").alias("bpe_tokens"),
    )


def _q_contamination(spark, sf):
    """Benchmark-contamination gate: fraction of each training doc's
    distinct 3-grams that appear in the eval subset (doc_id % 23 = 0).
    Real releases run n=13; the fixture vocabulary (31 words) pins n=3
    so hits actually occur. Eval grams broadcast; no corpus shuffle."""
    return CU.contamination_check(_docs(spark, sf), "doc_id % 23 = 0")


def _q_repetition_quality(spark, sf):
    """Gopher-style repetition filters (Rae et al. 2021): duplicate
    bigram/trigram fractions, unique-token fraction, top-bigram
    coverage — integer-count ratios, bit-exact vs DuckDB."""
    return CU.repetition_stats(_docs(spark, sf))


def _q_doc_chunking(spark, sf):
    """Token-window chunking, 32-token windows / stride 24 (8-token
    overlap) — pure per-row codegen, zero shuffle."""
    return CU.chunk_documents(_docs(spark, sf), window=32, stride=24)


def _q_source_caps(spark, sf):
    """Per-source quota sampling: keep <= 18 docs per source by md5
    hash priority (deterministic, ingest-order-free). The fixture has
    20 sources x 25 docs, so every source exercises the windowed
    over-cap path; the under-cap wholesale path is pytest-gated."""
    return CU.source_quota(_docs(spark, sf), cap=18)


def _q_pii_scrub(spark, sf):
    """PII redaction over deterministically injected emails/phones
    (the fixture corpus carries none): counts + scrubbed text, regex
    restricted to the Java/RE2-identical subset."""
    inj = T.pii_inject_expr("text", "doc_id")[0]
    px = T.pii_scrub_exprs("__t")
    return _docs(spark, sf).selectExpr("doc_id", f"{inj} AS __t").selectExpr(
        "doc_id",
        f"CAST({px['n_emails'][0]} AS BIGINT) AS n_emails",
        f"CAST({px['n_phones'][0]} AS BIGINT) AS n_phones",
        f"{px['clean'][0]} AS clean",
    )


def _media_dup(spark, sf):
    """Media payloads with REAL duplicates: the stub payload derives
    from doc_id % 350, so 150 of 500 payloads are exact copies
    (the interleaved-media analogue of the injected text dups)."""
    return _docs(spark, sf).selectExpr(
        "doc_id",
        "CAST(CONCAT('IMG:', MD5(CAST(doc_id % 350 AS STRING)), ':', "
        "REPEAT(SUBSTR(MD5(CAST(doc_id % 350 AS STRING)), 1, 8), 16)) AS BINARY)"
        " AS media_bytes",
    )


def _q_media_dedup(spark, sf):
    """Exact dedup of interleaved media payloads by md5 digest — the
    digest is computed beside the scan so binaries never shuffle."""
    return CU.media_exact_dedup(_media_dup(spark, sf))


_SPAN_KIND = "CASE (doc_id + j) % 3 WHEN 0 THEN 'text' WHEN 1 THEN 'media' ELSE 'point' END"


def _q_span_scrub(spark, sf):
    """Span-preserving PII scrub over interleaved documents: rebuild a
    DuckDB-replayable spans array (kind rotates text/media/point; text
    spans draw words from the doc + injected emails at (doc_id + j) % 7
    = 0), run the REAL scrub_text_spans transform, and emit one row per
    span. Order, kinds, media_refs and non-text payloads must survive
    bit-exact — the span-sequence-equality contract as an oracle gate
    (pytest additionally fingerprints synth_docs before/after)."""
    word = "ELEMENT_AT(__t, CAST((doc_id + j) % SIZE(__t) AS INT) + 1)"
    txt = (
        f"CASE WHEN {_SPAN_KIND} = 'text' THEN CONCAT({word}, "
        "CASE WHEN (doc_id + j) % 7 = 0 THEN CONCAT(' u', CAST(doc_id AS STRING), '@ex.com') ELSE '' END) "
        f"WHEN {_SPAN_KIND} = 'point' THEN CONCAT(CAST(doc_id AS STRING), ';', CAST(j AS STRING)) "
        "ELSE '' END"
    )
    mref = (
        f"CASE WHEN {_SPAN_KIND} = 'media' THEN CONCAT('s3://fix/', CAST(doc_id AS STRING), "
        "'/', CAST(j AS STRING), '.bin') ELSE '' END"
    )
    span = f"STRUCT({_SPAN_KIND} AS kind, {txt} AS text, {mref} AS media_ref, CAST(j AS INT) AS offset)"
    built = _docs(spark, sf).selectExpr(
        "doc_id", f"{T.tokens_expr('text')[0]} AS __t"
    ).selectExpr(
        "doc_id",
        f"TRANSFORM(SEQUENCE(CAST(0 AS BIGINT), 1 + doc_id % 4), j -> {span}) AS spans",
    )
    out = CU.scrub_text_spans(built).select(
        "doc_id", F.explode("spans").alias("s")
    )
    return out.selectExpr(
        "doc_id",
        "CAST(s.offset AS BIGINT) AS offset",
        "s.kind AS kind",
        "s.text AS clean_text",
        "s.media_ref AS media_ref",
    )


def _q_corpus_sample(spark, sf):
    """Deterministic md5-keyed corpus sampling at 437,500 ppm (43.75%),
    seed 7 — the lineage-stable alternative to df.sample: the kept set
    is a pure function of (doc_id, seed), identical across partition
    layouts, resumes, and engines. One codegen filter, zero shuffle."""
    return CU.corpus_sample(_docs(spark, sf), rate_ppm=437_500, seed=7)


def _q_substring_dup(spark, sf):
    """Exact substring-duplication spans (Lee et al. 2021 ExactSubstr,
    relational form): maximal token ranges covered by word 4-grams that
    occur >= 2 times corpus-wide. Real releases run k ~ 50 tokens; the
    fixture vocabulary (31 words) pins k=4 so duplicated ranges actually
    occur. Count agg on md5 gram keys + key-only membership join +
    per-doc island window — output-bounded, never quadratic."""
    return CU.substring_dup_spans(_docs(spark, sf), k=4, min_count=2)


def _q_corpus_shard(spark, sf):
    """Deterministic global shuffle + sharding (17 shards, seed 3):
    (shard_id, position) is a pure function of (doc_id, seed) — shard
    writes are byte-identical across layouts, resumes, and cluster
    sizes. One uniform shuffle + per-shard rank, no global sort."""
    return CU.corpus_shard(_docs(spark, sf), n_shards=17, seed=3)


def _q_scrub_dup(spark, sf):
    """ExactSubstr CUT stage: every corpus-duplicated 4-gram keeps its
    corpus-first occurrence; other occurrences' token ranges are removed
    and the text rebuilt — one md5-window shuffle + per-doc interval
    list + codegen rebuild. Integer decisions -> exact string oracle."""
    return CU.scrub_dup_spans(_docs(spark, sf), k=4, min_count=2)


def _q_pack_sequences(spark, sf):
    """Cross-document sequence packing (seq_len=32): concatenate the
    corpus in md5-deterministic order, slice into fixed 32-token
    training sequences; one row per (sequence, doc) overlap. Two-phase
    distributed prefix sum — one uniform hash-range shard shuffle +
    n_shards-row base offsets broadcast back; n_shards is pure
    parallelism (hash-range blocks), output independent of it."""
    return CU.pack_sequences(_docs(spark, sf), seq_len=32, n_shards=8,
                             seed=1)


def _q_pack_text(spark, sf):
    """Materialized packed sequences (seq_len=32): the pack_sequences
    plan joined back to document tokens, assembled per sequence with
    one uniform groupBy on seq_id (per-key state <= seq_len tokens).
    Exact string oracle — text rebuilt from integer decisions."""
    return CU.pack_sequences_text(_docs(spark, sf), seq_len=32,
                                  n_shards=8, seed=1)


def _q_lm_score(spark, sf):
    """CCNet-style LM quality filter: add-one-smoothed bigram model
    trained on the corpus itself, per-doc cross-entropy in bits
    (ROUND 4). Two map-side-partial training aggs + one model equi-join
    keyed on the bigram (1-row build side per key -> AQE skew-safe)."""
    return CU.lm_bigram_scores(_docs(spark, sf))


def _q_dsir_weights(spark, sf):
    """DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    bucket models (md5 16-bit parity hash), target = doc_id % 31 = 0,
    raw = whole corpus; log p_target - log q_raw per doc under add-one
    smoothing. Models reduce to <= 65,536 rows -> broadcast; one
    action, no driver collect."""
    return CU.dsir_weights(_docs(spark, sf), "doc_id % 31 = 0")


def _q_tfidf_terms(spark, sf):
    """Per-doc top-5 keywords by smoothed TF-IDF (the sklearn form):
    one explode + two partial-agg reductions, N as a broadcast 1-row
    frame, top-k window partitioned by doc_id (never a global sort).
    Score text shared verbatim with the DuckDB oracle; ROUND(6)."""
    return RV.tfidf_top_terms(_docs(spark, sf), k=5)


def _q_bm25_rank(spark, sf):
    """Okapi BM25 top-10 docs for each of the 20 highest-df corpus
    terms: query terms + corpus scalars broadcast, posting-list join,
    SALTED two-phase exact top-k per term (hot posting lists never
    sort in one task). avgdl is the exact integer ratio sum(dl)/N so
    both engines compute the identical double."""
    return RV.bm25_topk(_docs(spark, sf), n_query_terms=20, k=10)


def _q_bm25_query(spark, sf):
    """Multi-term BM25 search ('hash join filter'): query terms enter
    as literals (IN filter pushed to the tf frame — only the query
    posting lists move), per-doc sum of contributions, salted global
    top-k. ROUND once on the summed score (lm discipline)."""
    return RV.bm25_query(_docs(spark, sf), "hash join filter", k=10)


def _q_ppx_buckets(spark, sf):
    """CCNet head/middle/tail perplexity terciles over the bigram-LM
    cross-entropy: distributed global row_number (plans/rank.py) +
    closed-form NTILE(3) — no single-reducer window."""
    return RV.perplexity_buckets(_docs(spark, sf))


def _q_bpe_merges(spark, sf):
    """Distributed BPE tokenizer training (8 merges): corpus compresses
    to a word-frequency vocab (the only corpus-sized op), each round =
    weighted pair count + deterministic argmax + wrapped-symbol REPLACE
    merge on the vocab. Oracle replays the identical rounds as a
    materialized DuckDB CTE chain — bit-exact merge table."""
    return CU.bpe_train(_docs(spark, sf), n_merges=8)[0]


def _q_bpe_encode(spark, sf):
    """Apply the learned BPE merges to the corpus: merges ship as
    literals into ONE codegen projection (zero shuffle) — per-doc
    whitespace-token and post-merge symbol counts."""
    docs = _docs(spark, sf)
    _, merges = CU.bpe_train(docs, n_merges=8)
    return CU.bpe_encode(docs, merges)


def _q_domain_mix_temp(spark, sf):
    """Temperature-based domain sampling (XLM-R / mT5, alpha=0.3):
    q_s = p_s^a / sum p_t^a over per-source BPE token shares; one
    corpus scan + domain-count windows, ROUND(4) per the
    transcendental-float discipline."""
    return CU.temperature_mix_weights(_docs(spark, sf), alpha=0.3)


def _q_domain_mix(spark, sf):
    """Per-source domain-mixing weights toward a uniform token budget
    (static Pile/DoReMi stage), 3-epoch upsampling cap: one
    map-combinable groupBy(source) + a broadcast 1-row totals frame."""
    return CU.domain_mix_weights(_docs(spark, sf), max_weight=3.0)


# span_stats fixture: the offset twist (doc_id % 5 = 0 docs get a
# 90+ offset at j=1) makes the monotonic flag VARY — without it the
# invariant check would be vacuously true on every row.
_SPAN_OFF = (
    "CASE WHEN doc_id % 5 = 0 AND j = 1 "
    "THEN CAST(90 + doc_id % 7 AS INT) ELSE CAST(j AS INT) END"
)


def _q_span_stats(spark, sf):
    """Per-doc composition stats over the rebuilt interleaved span
    array: counts by kind, text chars, a per-span BPE token budget, and
    the offsets-monotonic sequence invariant (non-vacuous: doc_id % 5
    docs carry one out-of-order offset). One codegen projection, no
    explode, no shuffle."""
    word = "ELEMENT_AT(__t, CAST((doc_id + j) % SIZE(__t) AS INT) + 1)"
    txt = (
        f"CASE WHEN {_SPAN_KIND} = 'text' THEN CONCAT({word}, "
        "CASE WHEN (doc_id + j) % 7 = 0 THEN CONCAT(' u', CAST(doc_id AS STRING), '@ex.com') ELSE '' END) "
        f"WHEN {_SPAN_KIND} = 'point' THEN CONCAT(CAST(doc_id AS STRING), ';', CAST(j AS STRING)) "
        "ELSE '' END"
    )
    mref = (
        f"CASE WHEN {_SPAN_KIND} = 'media' THEN CONCAT('s3://fix/', CAST(doc_id AS STRING), "
        "'/', CAST(j AS STRING), '.bin') ELSE '' END"
    )
    span = (
        f"STRUCT({_SPAN_KIND} AS kind, {txt} AS text, {mref} AS media_ref, "
        f"{_SPAN_OFF} AS offset)"
    )
    built = _docs(spark, sf).selectExpr(
        "doc_id", f"{T.tokens_expr('text')[0]} AS __t"
    ).selectExpr(
        "doc_id",
        f"TRANSFORM(SEQUENCE(CAST(0 AS BIGINT), 1 + doc_id % 4), j -> {span}) AS spans",
    )
    return CU.span_stats(built)


def _q_chunk_spans(spark, sf):
    """Interleaved-aware chunking (4-token windows, stride 3) over
    rebuilt spans whose text payloads run 1-9 words — text spans chunk
    independently (pieces never cross a media/point span), non-text
    spans pass through as single sequence pieces."""
    word = "ELEMENT_AT(__t, CAST((doc_id + j + w) % SIZE(__t) AS INT) + 1)"
    longtxt = (
        f"ARRAY_JOIN(TRANSFORM(SEQUENCE(CAST(0 AS BIGINT), (doc_id + j) % 9), "
        f"w -> {word}), ' ')"
    )
    txt = (
        f"CASE WHEN {_SPAN_KIND} = 'text' THEN {longtxt} "
        f"WHEN {_SPAN_KIND} = 'point' THEN CONCAT(CAST(doc_id AS STRING), ';', CAST(j AS STRING)) "
        "ELSE '' END"
    )
    mref = (
        f"CASE WHEN {_SPAN_KIND} = 'media' THEN CONCAT('s3://fix/', CAST(doc_id AS STRING), "
        "'/', CAST(j AS STRING), '.bin') ELSE '' END"
    )
    span = f"STRUCT({_SPAN_KIND} AS kind, {txt} AS text, {mref} AS media_ref, CAST(j AS INT) AS offset)"
    built = _docs(spark, sf).selectExpr(
        "doc_id", f"{T.tokens_expr('text')[0]} AS __t"
    ).selectExpr(
        "doc_id",
        f"TRANSFORM(SEQUENCE(CAST(0 AS BIGINT), 1 + doc_id % 4), j -> {span}) AS spans",
    )
    return CU.chunk_spans(built, window=4, stride=3)


def _q_media_resize(spark, sf):
    """Arrow-batched decode + 2x2 block-mean resize to 4x4 (stub codec,
    deterministic bytes -> the kernel is oracle-gated; block sums of 4
    ints / 4.0 are float-exact in any summation order)."""
    from whitebox_tools_spark.operators.multimodal import resize_media

    return resize_media(_media(spark, sf), 4, 4).select("doc_id", "ry", "rx", "v")


def _q_media_frames(spark, sf):
    """Frame sampling over the stub video (32-byte chunks = frames,
    every 2nd frame kept; 32-int sums / 32.0 are float-exact)."""
    from whitebox_tools_spark.operators.multimodal import sample_frames

    return sample_frames(_media(spark, sf), every_k=2) \
        .select("doc_id", "frame_idx", "frame_mean")


def _q_media_features(spark, sf):
    """Multimodal decode+feature pipeline (stub codec — deterministic
    bytes, so even the Arrow-batched kernel is oracle-gated)."""
    from whitebox_tools_spark.operators.multimodal import extract_media_features

    out = extract_media_features(_media(spark, sf))
    return out.selectExpr(
        "doc_id", "width", "height", "mean_intensity",
        *[f"ELEMENT_AT(feature, {i + 1}) AS f{i}" for i in range(8)],
    )


def _q_lineage_resume(spark, sf):
    """Checkpoint/resume driver (north-rule item): run the tile job
    partition-by-partition with per-partition lineage, then re-run to
    prove completed partitions are skipped. Rows-only check (wall-clock
    metrics aren't reproducible)."""
    import shutil
    import tempfile

    from whitebox_tools_spark.plans.lineage import CheckpointedRun

    base = tempfile.mkdtemp(prefix="wbx_lineage_")
    try:
        run = CheckpointedRun(spark, base, run_id="gate")
        keys = ["0", "1", "2", "3"]

        def job(s, key):
            tiled, _g = TL.assign_tiles(_points(s, sf), 0.0, 0.0, 64.0, 64.0, extent=_EXTENT)
            return tiled.where(F.expr(f"PMOD(tile_id, 4) = {key}"))

        first = run.run(keys, job)
        second = run.run(keys, job)  # must skip everything
        assert second["skipped"] == len(keys), second
        out = run.lineage_df().select("partition_key", "status", "rows").orderBy("partition_key")
        rows = out.collect()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, "partition_key string, status string, rows bigint")


def _q_tin_gridding(spark, sf):
    """TIN interpolation. Round 5: certified exact global Delaunay +
    pure-SQL barycentric — output independent of tile/halo/layout
    (verified tile=4 == tile=9 bitwise at sf0.01). Rows-only: the
    float Bowyer-Watson's degenerate-sliver drops have no order-free
    DuckDB restatement; linear-surface exactness is pytest-gated."""
    from whitebox_tools_spark.operators.tin import tin_gridding

    # tile steers performance only (the output is tile-independent)
    return tin_gridding(_points(spark, sf), _META40, tile=8)


def _q_natural_neighbour(spark, sf):
    """Sibson natural-neighbour gridding (per-tile Delaunay + halo).
    Rows-only at full fixture scale (near-cocircular slivers make the
    cavity order-dependent); the full Sibson pipeline IS oracle-gated
    on the audited sub-fixture (natural_neighbour_exact), and linear
    precision (exact plane reproduction to 1e-12) is pytest-gated in
    tests/test_tin2.py."""
    from whitebox_tools_spark.operators.tin import natural_neighbour_gridding

    # tile=4: 100 parallel Delaunay kernels — the hand-rolled
    # Bowyer-Watson is O(n^2) per tile, so quartering the tile size cuts
    # kernel time ~40% at sf0.1 (measured: 4.8-7.8 s at tile=8 ->
    # 3.4-3.9 s at tile=4; tile=2 regresses on halo overhead)
    return natural_neighbour_gridding(_points(spark, sf), _META40, tile=4)


def _q_contour_lidar(spark, sf):
    """ContourLidar: contour segments cut from a TIN of the LiDAR
    cloud. Rows-only (triangulation-dependent) like
    contours_from_points it delegates to."""
    return LI.contour_lidar(_lidar_points(spark, sf), _META40,
                            base=0.0, interval=200.0, tile=20)


def _q_contour_lidar_exact(spark, sf):
    """ContourLidar over the audited 21-point ground sub-fixture (the
    SAME certified point set as normalize_lidar_exact — its three-way
    Delaunay audit in tests/test_tin_exact_oracle.py covers this twin
    too): TIN of the cloud + codegen level cut, fully replayed in
    DuckDB (empty-circumcircle triangles + the operator's three edge
    interpolations in expression order)."""
    pts = _lidar_points(spark, sf).where(f"{_NLX_PRED} AND record_num % 8 = 2")
    return LI.contour_lidar(pts, _META40, base=0.0, interval=200.0, tile=4)


def _q_lidar_rbf(spark, sf):
    """LidarRbfInterpolation: thin-plate RBF gridding of the LiDAR
    cloud (shared batched-numpy kernel). Rows-only at full fixture
    scale (LAPACK solves); the shared solver is oracle-gated on the
    planar twin (rbf_interp_exact); linear precision pytest-gated in
    tests/test_tin2.py."""
    return LI.lidar_rbf_interpolation(_lidar_points(spark, sf), _META40,
                                      k=16, tile=4)


def _q_rbf_interp(spark, sf):
    """Thin-plate-spline RBF gridding over k=16 nearest points per
    cell (batched numpy solves per tile). Rows-only at full fixture
    scale (LAPACK solves); the solver is oracle-gated on the planar
    twin (rbf_interp_exact); thin-plate linear precision is
    pytest-gated in tests/test_tin2.py."""
    from whitebox_tools_spark.operators.tin import rbf_interpolation

    return rbf_interpolation(_points(spark, sf), _META40, k=16, tile=4)


# RBF twin: thin-plate RBF has LINEAR PRECISION (the affine polynomial
# term reproduces planar surfaces exactly in real arithmetic; the
# LAPACK solve leaves ~1e-13 residual, measured 2.3e-13 max over all
# 1600 cells). On a planar fixture the oracle is therefore the plane's
# own expression text; the plane coefficients are chosen so every
# output sits EXACTLY on the 6-decimal rounding grid (cell centers are
# multiples of 12.5 -> plane values carry <= 4 fractional decimal
# digits), giving the maximum possible half-grid margin of 0.5.
# tests/test_rbf_exact_oracle.py pins coverage and the residual bound.
_RBF_EXACT_SITES = (
    f"SELECT {_PX} AS x, {_PY} AS y FROM events WHERE event_id % 33 = 0"
)


def _q_rbf_interp_exact(spark, sf):
    """Thin-plate RBF gridding over the planar twin fixture —
    oracle-gated: linear precision makes the DuckDB oracle the plane
    2 + 0.25x + 0.5y at cell centers; ROUND(6) absorbs the ~2e-13
    solver residual with a 2e6x audited margin. Gates the shared
    solver used by rbf_interp AND lidar_rbf (a thin delegate)."""
    from whitebox_tools_spark.operators.tin import rbf_interpolation

    _reg(spark, sf, "events")
    pts = spark.sql(_RBF_EXACT_SITES).selectExpr(
        "x", "y", "2.0 + 0.25 * x + 0.5 * y AS value")
    out = rbf_interpolation(pts, _META40, k=16, tile=4)
    return out.selectExpr("row", "col", "ROUND(value, 6) AS value")


def _q_construct_tin(spark, sf):
    """ConstructVectorTIN: vector triangle layer with canonical vertex
    order. Round 5: the kernel is the CERTIFIED exact global Delaunay
    (operators/tin.delaunay_certified) — the output is the unique
    global triangle set, independent of the tile/halo parameters and
    the shuffle layout (pytest-gated tile=5 == tile=11 == single-tile).
    Rows-only vs DuckDB: the float Bowyer-Watson's degenerate-sliver
    drops cannot be restated as an order-free emptiness rule."""
    from whitebox_tools_spark.operators.tin import construct_vector_tin

    return construct_vector_tin(_points(spark, sf), _META40, tile=4)


# --- round-5 close: exact-Delaunay oracle twins for the TIN family --------
#
# The full-fixture TIN queries above stay rows-only (the float
# Bowyer-Watson's sliver decisions at 10^4 near-lattice points have no
# order-free restatement). These twins run the SAME operators over
# AUDITED sub-fixtures where three independently computed triangle sets
# coincide — the operator kernel (tin.delaunay), the float
# empty-circumcircle rule (the DuckDB oracle's formulation, the exact
# text of tin._circumcircle), and the EXACT-integer-arithmetic Delaunay
# (tests/test_tin_exact_oracle.py re-verifies all three) — so the
# DuckDB replay is bit-exact end to end and gates the whole plan:
# certified-Delaunay scatter, barycentric/level-cut SQL stages, and the
# canonical tie-breaks.
_TIN_EXACT_PRED = "record_num % 211 = 1"   # 48 pts: bw == float == exact
_NLX_PRED = "record_num % 59 = 0"          # ground (cls 2) 21 pts: audited


def _q_construct_tin_exact(spark, sf):
    """ConstructVectorTIN over the audited 48-point sub-fixture —
    oracle-gated bit-exact (empty-circumcircle replay; the fixture is
    verified sliver-free by exact integer arithmetic in
    tests/test_tin_exact_oracle.py)."""
    from whitebox_tools_spark.operators.tin import construct_vector_tin

    pts = _points(spark, sf).where(_TIN_EXACT_PRED)
    return construct_vector_tin(pts, _META40, tile=4)


def _q_tin_gridding_exact(spark, sf):
    """TINGridding over the audited sub-fixture: certified Delaunay +
    pure-SQL barycentric at cell centers, replayed bitwise by the
    DuckDB oracle (triangles from the emptiness rule, the operator's
    own l1/l2/l3 expression text, canonical smallest-vertex tie-break)."""
    from whitebox_tools_spark.operators.tin import tin_gridding

    pts = _points(spark, sf).where(_TIN_EXACT_PRED)
    return tin_gridding(pts, _META40, tile=4)


def _q_tin_contours_exact(spark, sf):
    """ContoursFromPoints over the audited sub-fixture: TIN + codegen
    level cut, fully replayed (levels explode + the three edge
    interpolations in the operator's expression order)."""
    from whitebox_tools_spark.operators.contours import contours_from_points

    pts = _points(spark, sf).where(_TIN_EXACT_PRED)
    return contours_from_points(pts, _META40, base=0.0, interval=200.0,
                                tile=4)


def _q_normalize_lidar_exact(spark, sf):
    """NormalizeLidar over an audited sub-fixture (21 ground points):
    ground TIN + SQL barycentric at point locations + the z - gmin
    hull fallback, replayed bitwise end to end."""
    return LI.normalize_lidar(_lidar_points(spark, sf).where(_NLX_PRED),
                              _META40)


# LidarDSM twin: here the TIN runs over DERIVED points — the per-cell
# block maxima at _META40 cell centers (lattice multiples of 12.5, exact
# doubles). Lattice point sets normally breed co-circular quads (any
# cell rectangle), which is why the full-fixture lidar_dsm stays
# rows-only; this modulus was found by scanning (K, r) sub-fixtures for
# one whose 58 occupied-cell centers pass the three-way exact-Delaunay
# audit (tests/test_tin_exact_oracle.py::test_lidar_dsm_fixture_sf001).
_DSM_EXACT_PRED = "record_num % 175 = 0"   # 58 pts -> 58 cells: audited


def _q_lidar_dsm_exact(spark, sf):
    """LidarDSM over the audited sub-fixture — oracle-gated bit-exact
    end to end: block max (exact SQL agg) -> certified Delaunay of the
    cell-center maxima (== the empty-circumcircle replay on this
    fixture) -> codegen barycentric fill -> COALESCE(direct, TIN)."""
    return LI.lidar_dsm(_lidar_points(spark, sf).where(_DSM_EXACT_PRED),
                        _META40, first_returns_only=False)


def _q_natural_neighbour_exact(spark, sf):
    """Sibson natural-neighbour gridding over the audited 48-point
    sub-fixture — oracle-gated (round-5: the 'not SQL-expressible'
    docstring is now disproved on certified fixtures). tile=64 -> one
    kernel over the full grid, so the per-tile scatter is immaterial.
    The DuckDB replay reconstructs the whole Sibson pipeline: cavity
    triangles by the shared circumcircle text, barycentric containment,
    boundary edges (count=1) + degree-2 closure gate, the new (u,v,q)
    circumcenters by the kernel's exact expression text, and per-vertex
    stolen-area polygons (angle sort + shoelace). Outputs ROUND(7):
    the only engine divergence is float summation order in the polygon
    centroid/shoelace/weight sums (~4e-13), audited >= 1200x below the
    rounding half-grid (tests/test_nn_exact_oracle.py)."""
    from whitebox_tools_spark.operators.tin import natural_neighbour_gridding

    pts = _points(spark, sf).where(_TIN_EXACT_PRED)
    out = natural_neighbour_gridding(pts, _META40, tile=64)
    return out.selectExpr("row", "col", "ROUND(value, 7) AS value")


# Junction-free raster-lines fixture (spec shared with the DuckDB
# oracle): two disjoint horizontal strokes (value 1 — exercises the
# per-value line_id ordering), one diagonal stroke (value 2), one
# square ring (value 3 — the cycle walk, closing vertex included).
# Max vertex degree is 2 after the elbow rule, so the kernel's greedy
# junction walk degenerates to canonical chain decomposition — which
# IS order-free and hence DuckDB-replayable (unlike the full-fixture
# r2v_lines, whose degree->=3 junctions keep it rows-only).
_R2V_FIX_SPARK = (
    "SELECT CAST(10 AS BIGINT) AS row, CAST(c AS BIGINT) AS col, 1.0 AS value "
    "FROM (SELECT EXPLODE(SEQUENCE(5, 25)) AS c) "
    "UNION ALL SELECT 14, c, 1.0 FROM (SELECT EXPLODE(SEQUENCE(40, 55)) AS c) "
    "UNION ALL SELECT r, r, 2.0 FROM (SELECT EXPLODE(SEQUENCE(30, 50)) AS r) "
    "UNION ALL SELECT 60, c, 3.0 FROM (SELECT EXPLODE(SEQUENCE(60, 70)) AS c) "
    "UNION ALL SELECT 70, c, 3.0 FROM (SELECT EXPLODE(SEQUENCE(60, 70)) AS c) "
    "UNION ALL SELECT r, 60, 3.0 FROM (SELECT EXPLODE(SEQUENCE(61, 69)) AS r) "
    "UNION ALL SELECT r, 70, 3.0 FROM (SELECT EXPLODE(SEQUENCE(61, 69)) AS r)"
)


def _q_r2v_lines_exact(spark, sf):
    """RasterToVectorLines over the junction-free fixture — oracle-gated
    bit-exact: with max degree 2 the chain walk is canonical chain
    decomposition, replayed in DuckDB as min-label components + a
    guarded recursive walk (paths start at the min degree-1 vertex,
    cycles at the min vertex toward its smaller neighbor — exactly the
    kernel's sorted-adjacency order)."""
    from whitebox_tools_spark.operators import contours as CN

    return CN.raster_to_vector_lines(spark.sql(_R2V_FIX_SPARK), _META100)


def _q_knn_wbt(spark, sf):
    """WBT-parity approximate kNN (early-stop shell expansion) —
    oracle-gated bit-exact (round-5 upgrade: the per-query stopping ring
    is closed-form — first Chebyshev bin ring whose cumulative count
    reaches k — so DuckDB replays the candidate set and the (dist2, tid)
    top-k without the loop)."""
    pts = _points(spark, sf)
    q = pts.where("record_num % 37 = 0").selectExpr("record_num AS query_id", "x", "y")
    t = pts.selectExpr("record_num AS target_id", "x", "y")
    return K.knn_join_wbt(q, t, k=4, radius=25.0, qid="query_id", tid="target_id")


def _q_ann_lsh(spark, sf):
    """Sign-LSH bucketed ANN — approximate RECALL by design, but the
    plan itself is deterministic (literal seeded planes, fold-order
    codes and cosines), so it gates as a full oracle (round-5 upgrade,
    _r5c_oracles: the DuckDB replay reproduces codes, probes, cosines,
    and rank ties bitwise)."""
    emb = _emb(spark, sf)
    q = emb.where("vec_id % 10 = 0")
    return S.ann_topk_lsh(q, emb, k=10, num_planes=8, dim=64)


def _q_simhash64_pairs(spark, sf):
    """SimHash-64 near-dup pairs via 4x16-bit bands — banding is EXACT
    for hamming <= 3 (pigeonhole), so the oracle is the brute-force
    all-pairs hamming join."""
    return D.simhash64_pairs(_docs(spark, sf))


def _q_ann_ivf(spark, sf):
    """IVF bucketed ANN — only RECALL is approximate (pytest-gated
    >= 0.9 vs exact); the plan itself is deterministic: MD5-permuted
    Lloyd training + fold-order kernels, fully replayed by the DuckDB
    oracle (five unrolled Lloyd rounds)."""
    emb = _emb(spark, sf)
    q = emb.where("vec_id % 10 = 0")
    return S.ann_topk_ivf(q, emb, k=10, num_centroids=16, n_probe=12)


def _q_pq_codes(spark, sf):
    """Product-quantization encode (Jegou et al. 2011): m=4 subspaces x
    8 codes over the 64-dim embeddings — 4 B/vector, the compression
    stage of the IVF-PQ scale path. The trainer is the deterministic
    MD5-permuted fold-order Lloyd (2 rounds here so the DuckDB replay
    unrolls 4x2 subspace rounds); codes are a pure function of
    (corpus, seed) and bit-exact vs the oracle."""
    emb = _emb(spark, sf)
    books = S.pq_codebooks(emb, m=4, n_codes=8, dim=64, seed=42, iters=2)
    bc = spark.sparkContext.broadcast(books)
    return S.pq_encode(emb, bc, 4)


def _q_ann_ivfpq_exact(spark, sf):
    """IVF-PQ exact twin: the SAME ann_topk_ivfpq code path at a
    replay-sized config (16 centroids / probe 4, m=4 x 8 codes x 2
    Lloyd rounds, shortlist 20, k 5) — the DuckDB oracle composes the
    proven coarse + PQ trainer replays with an exact-order ADC fold,
    so shortlist ranks, re-rank cosines, and ties are bit-identical.
    Together with pq_codes this fully gates the big rows-only
    ann_ivfpq configuration's machinery."""
    emb = _emb(spark, sf)
    q = emb.where("vec_id % 10 = 0")
    return S.ann_topk_ivfpq(q, emb, k=5, num_centroids=16, n_probe=4,
                            m=4, n_codes=8, shortlist=20, pq_iters=2)


def _q_ann_ivfpq(spark, sf):
    """IVF-PQ ANN (rows-only + recall/layout pytest gates): inverted
    lists carry 16 one-byte PQ codes instead of 512 B float vectors
    (the 10^12-vector memory story), candidates score by ADC lookup,
    the top-160 shortlist re-ranks with the exact fold cosine. Every
    stage is deterministic; the encode stage is oracle-gated as
    pq_codes, and a full ADC replay would unroll 16 subspace trainers
    into the already-largest oracle — recall >= 0.9 is the pytest
    contract (measured 0.948 on this fixture)."""
    emb = _emb(spark, sf)
    q = emb.where("vec_id % 10 = 0")
    return S.ann_topk_ivfpq(q, emb, k=10, num_centroids=16, n_probe=12,
                            m=16, n_codes=16, shortlist=160)


# --- round-4 continuation: remaining SURVEY §2 named ops -------------------

# LiDAR attribute extension for the point-stats family: deterministic
# intensity / return structure (return_number in 1..num_returns).
_LPS_EXTRA = (
    "CAST(record_num % 256 AS INT) AS intensity, "
    "CAST(record_num % (record_num % 3 + 1) + 1 AS INT) AS return_number, "
    "CAST(record_num % 3 + 1 AS INT) AS num_returns")


def _lps_points(spark, sf):
    return _lidar_points(spark, sf).selectExpr("*", *_LPS_EXTRA.split(", "))


def _q_count_if(spark, sf):
    return OV.count_if([_ras(spark, sf, "a"), _ras(spark, sf, "b")], 5.0)


def _q_multiply_overlay(spark, sf):
    return OV.multiply_overlay([_ras(spark, sf, "a"), _ras(spark, sf, "b")])


def _q_integer_division(spark, sf):
    """IntegerDivision — ras_b carries real zeros (id % 7), exercising
    the divisor-0 -> nodata path under ANSI mode."""
    return R.integer_division(_ras(spark, sf, "a"), _ras(spark, sf, "b"))


def _q_modify_nodata(spark, sf):
    return R.modify_nodata_value(_ras(spark, sf, "a"), 0.0, -32768.0)


def _q_sci_raster(spark, sf):
    """ShapeComplexityIndexRaster over the rasterized polygon layer
    (ids shifted +1: the reference requires positive non-zero ids)."""
    patches = R.polygons_to_raster(_polygons_df(spark), _META40) \
        .selectExpr("row", "col", "value + 1.0 AS value")
    return R.shape_complexity_index_raster(patches)


def _q_sci_vector(spark, sf):
    """ShapeComplexityIndex (1 - A/Ah, per-part hulls) — hulls are not
    SQL-expressible; rows-only here, analytic pytest gates the kernel
    (convex shapes -> SCI 0)."""
    from whitebox_tools_spark.operators import vector_ops as VOps

    feats = _polygons_df(spark).selectExpr("polygon_id AS shape_id", "parts")
    return VOps.shape_complexity_index(feats)


def _q_attribute_histogram(spark, sf):
    from whitebox_tools_spark.operators import data_tools as DT

    _reg(spark, sf, "events")
    return DT.attribute_histogram(spark.table("events"), "value")


def _q_lidar_point_stats(spark, sf):
    return LI.lidar_point_stats(_lps_points(spark, sf), _META100)


def _q_predominant_class(spark, sf):
    return LI.predominant_class(_lps_points(spark, sf), _META100)


def _q_lidar_idw(spark, sf):
    """LidarIdwInterpolation on the intensity parameter, first returns
    only — the shared IDW kernel with the LiDAR selector applied."""
    return LI.lidar_idw_interpolation(
        _lps_points(spark, sf), _META40, parameter="intensity", k=4,
        returns="first", radius=_KNN_RADIUS)


def _q_lidar_nn_class(spark, sf):
    """LidarNearestNeighbourGridding on the classification parameter."""
    return LI.lidar_nearest_neighbour_gridding(
        _lps_points(spark, sf), _META40, parameter="class",
        radius=_KNN_RADIUS)


def _q_las_ascii_roundtrip(spark, sf):
    """LasToAscii -> AsciiToLas -> LAS decode: the full transcode chain.
    Coordinates pre-floored to the 0.01 LAS grid (raw fixture coords
    are exact round-half ties of the quantizer), decoded doubles
    ROUND(2)-canonicalized; the oracle re-derives the same values from
    `events` (the CSV hop is lossless: CAST(double AS STRING) is the
    shortest round-trip repr)."""
    import shutil
    import tempfile

    from whitebox_tools_spark.sources import formats as FFm
    from whitebox_tools_spark.sources import transcode as TC

    pts = (_lps_points(spark, sf)
           .where("record_num % 37 = 0")
           .selectExpr("record_num AS point_id",
                       "CAST(FLOOR(x * 100) AS DOUBLE) / 100.0 AS x",
                       "CAST(FLOOR(y * 100) AS DOUBLE) / 100.0 AS y",
                       "value AS z", "intensity", "return_number",
                       "num_returns", "classification", "scan_angle")
           .orderBy("point_id"))
    d = tempfile.mkdtemp(prefix="wbt_lasascii_")
    try:
        FFm.write_las([r.asDict() for r in pts.collect()], f"{d}/a.las")
        TC.las_to_ascii(spark, f"{d}/a.las", f"{d}/a.csv")
        TC.ascii_to_las(spark, f"{d}/a.csv", f"{d}/b.las")
        final = FFm.read_las(spark, f"{d}/b.las") \
            .selectExpr("point_id", "ROUND(x, 2) AS x", "ROUND(y, 2) AS y",
                        "ROUND(z, 2) AS z", "intensity",
                        "classification", "return_number", "num_returns",
                        "scan_angle")
        rows = final.collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(
        rows, "point_id long, x double, y double, z double, intensity int, "
        "classification int, return_number int, num_returns int, "
        "scan_angle int")


def _q_convert_raster_format(spark, sf):
    """ConvertRasterFormat chain: GeoTIFF -> Surfer ASCII -> Surfer 7
    binary -> GeoTIFF, each hop through the named extension-dispatch
    converter. Oracle = the source raster SQL (hash match proves every
    conversion is value-preserving)."""
    import shutil
    import tempfile

    from whitebox_tools_spark.sources import formats as FFm
    from whitebox_tools_spark.sources import transcode as TC

    d = tempfile.mkdtemp(prefix="wbt_convert_")
    try:
        FFm.write_geotiff(_ras(spark, sf, "a"), _META100, f"{d}/a.tif")
        TC.convert_raster_format(spark, f"{d}/a.tif", f"{d}/b.grd")
        TC.convert_raster_format(spark, f"{d}/b.grd", f"{d}/c.grd7")
        TC.convert_raster_format(spark, f"{d}/c.grd7", f"{d}/d.tif")
        final, _m = FFm.read_geotiff(spark, f"{d}/d.tif")
        rows = final.collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return spark.createDataFrame(rows, "row long, col long, value double")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- driver sampling window: one flagship per operator family ---
        "tile_assign": _q_tile_assign,
        "frs_cells": _q_frs_cells,
        "cell_compact": _q_cell_compact,
        "cell_uncompact": _q_cell_uncompact,
        "region_cover": _q_region_cover,
        "pip_tag": _q_pip_tag,
        "knn_join": _q_knn_join,
        "idw": _q_idw,
        "polygons_to_raster": _q_polygons_to_raster,
        "r2v_polygons": _q_r2v_polygons,
        "zonal_stats": _q_zonal_stats,
        "quantiles": _q_quantiles,
        "raster_calc": _q_raster_calc,
        "focal_median_halo": _q_focal_median_halo,
        "slope_pct": _q_slope_pct,
        "plan_curvature": _q_plan_curvature,
        "gaussian_filter": _q_gaussian_filter,
        "log_filter": _q_log_filter,
        "lee_sigma": _q_lee_sigma,
        "surface_area_ratio": _q_surface_area_ratio,
        "stdev_of_slope": _q_stdev_of_slope,
        "count_if": _q_count_if,
        "multiply_overlay": _q_multiply_overlay,
        "integer_division": _q_integer_division,
        "modify_nodata": _q_modify_nodata,
        "sci_raster": _q_sci_raster,
        "sci_vector": _q_sci_vector,
        "attribute_histogram": _q_attribute_histogram,
        "lidar_point_stats": _q_lidar_point_stats,
        "predominant_class": _q_predominant_class,
        "lidar_idw": _q_lidar_idw,
        "lidar_nn_class": _q_lidar_nn_class,
        "las_ascii_roundtrip": _q_las_ascii_roundtrip,
        "convert_raster_format": _q_convert_raster_format,
        "euclid_dist": _q_euclid_dist,
        "clump": _q_clump,
        "weighted_sum": _q_weighted_sum,
        "poly_area_vec": _q_poly_area_vec,
        "convex_hull": _q_convex_hull,
        "line_intersections": _q_line_intersections,
        "zlidar_roundtrip": _q_zlidar_roundtrip,
        "lidar_tiles_roundtrip": _q_lidar_tiles_roundtrip,
        "clean_vector": _q_clean_vector,
        "snap_endnodes": _q_snap_endnodes,
        "merge_line_segments": _q_merge_line_segments,
        "split_with_lines": _q_split_with_lines,
        "intersect_features": _q_intersect_features,
        "union_features": _q_union_features,
        "dissolve": _q_dissolve,
        "d8_accum": _q_d8_accum,
        "watershed": _q_watershed,
        "extract_streams": _q_extract_streams,
        "contour_segments": _q_contour_segments,
        "block_max": _q_block_max,
        "ground_filter": _q_ground_filter,
        "hag": _q_hag,
        "lidar_thin": _q_lidar_thin,
        "kappa": _q_kappa,
        "anova": _q_anova,
        "edge_proportion": _q_edge_proportion,
        "narrowness": _q_narrowness,
        "bsc": _q_bsc,
        "hole_proportion": _q_hole_proportion,
        "ks_normality": _q_ks_normality,
        "image_regression": _q_image_regression,
        "image_autocorr": _q_image_autocorr,
        "attr_correlation": _q_attr_correlation,
        "trend_surface": _q_trend_surface,
        "trend_surface_points": _q_trend_surface_points,
        "geotiff_roundtrip": _q_geotiff_roundtrip,
        "shapefile_roundtrip": _q_shapefile_roundtrip,
        "shapefile_tiles_roundtrip": _q_shapefile_tiles_roundtrip,
        "colour_composite": _q_colour_composite,
        "join_tables": _q_join_tables,
        "exact_dedup": _q_exact_dedup,
        "minhash_pairs": _q_minhash_pairs,
        "dedup_clusters": _q_dedup_clusters,
        "simhash64_pairs": _q_simhash64_pairs,
        "ngram_jaccard": _q_ngram_jaccard,
        "embedding_dups": _q_embedding_dups,
        "embedding_dup_clusters": _q_embedding_dup_clusters,
        "lang_id": _q_lang_id,
        "quality": _q_quality,
        "fingerprint": _q_fingerprint,
        "ann_topk": _q_ann_topk,
        "ann_ivf": _q_ann_ivf,
        "semdedup": _q_semdedup,
        "ann_ivfpq_exact": _q_ann_ivfpq_exact,
        "pq_codes": _q_pq_codes,
        "ann_ivfpq": _q_ann_ivfpq,
        "media_features": _q_media_features,
        "media_resize": _q_media_resize,
        "media_frames": _q_media_frames,
        "token_budget": _q_token_budget,
        "corpus_curation": _q_corpus_curation,
        "contamination_check": _q_contamination,
        "repetition_quality": _q_repetition_quality,
        "doc_chunking": _q_doc_chunking,
        "source_caps": _q_source_caps,
        "pii_scrub": _q_pii_scrub,
        "media_dedup": _q_media_dedup,
        "span_scrub": _q_span_scrub,
        "span_stats": _q_span_stats,
        "chunk_spans": _q_chunk_spans,
        "corpus_sample": _q_corpus_sample,
        "substring_dup": _q_substring_dup,
        "scrub_dup": _q_scrub_dup,
        "pack_sequences": _q_pack_sequences,
        "pack_text": _q_pack_text,
        "lm_score": _q_lm_score,
        "dsir_weights": _q_dsir_weights,
        "tfidf_terms": _q_tfidf_terms,
        "bm25_rank": _q_bm25_rank,
        "bm25_query": _q_bm25_query,
        "ppx_buckets": _q_ppx_buckets,
        "bpe_merges": _q_bpe_merges,
        "bpe_encode": _q_bpe_encode,
        "domain_mix": _q_domain_mix,
        "domain_mix_temp": _q_domain_mix_temp,
        "corpus_shard": _q_corpus_shard,
        "lineage_resume": _q_lineage_resume,
        "cumulative_dist": _q_cumulative_dist,
        "hist_eq": _q_hist_eq,
        "ks_test": _q_ks_test,
        "laplacian": _q_laplacian,
        "d8_pointer": _q_d8_pointer,
        "strahler": _q_strahler,
        # --- full registry continues (graded by scripts/check_parity.py) ---
        "focal_mean": _q_focal_mean,
        "hillshade": _q_hillshade,
        "t_test": _q_t_test,
        "simhash_pairs": _q_simhash_pairs,
        "fill_depressions": _q_fill_depressions,
        "crispness": _q_crispness,
        "attr_scattergram": _q_attr_scattergram,
        "wang_liu": _q_wang_liu,
        "rho8_accum": _q_rho8_accum,
        "strahler_basins": _q_strahler_basins,
        "downslope_index": _q_downslope_index,
        "max_branch_length": _q_max_branch_length,
        "flood_order": _q_flood_order,
        "stochastic_depressions": _q_stochastic_depressions,
        "cost_pathway": _q_cost_pathway,
        "raster_streams_to_vector": _q_raster_streams_to_vector,
        "edge_preserving_mean": _q_edge_preserving_mean,
        "edge_density": _q_edge_density,
        "fps": _q_fps,
        "roto": _q_roto,
        "clip_raster": _q_clip_raster,
        "erase_raster": _q_erase_raster,
        "fill_missing": _q_fill_missing,
        "directional_relief": _q_directional_relief,
        "fetch_analysis": _q_fetch_analysis,
        "visibility_index": _q_visibility_index,
        "time_in_daylight": _q_time_in_daylight,
        "rho8_pointer": _q_rho8_pointer,
        "qin_accum": _q_qin_accum,
        "quinn_accum": _q_quinn_accum,
        "mdinf_accum": _q_mdinf_accum,
        "jenson_snap": _q_jenson_snap,
        "isobasins": _q_isobasins,
        "unnest_basins": _q_unnest_basins,
        "difference_features": _q_difference_features,
        "symdiff_features": _q_symdiff_features,
        "is_nodata": _q_is_nodata,
        "update_nodata": _q_update_nodata,
        "convert_nodata": _q_convert_nodata,
        "cell_assign_x": _q_cell_assign_x,
        "create_plane": _q_create_plane,
        "find_low_high": _q_find_low_high,
        "lowest_position": _q_lowest_position,
        "percent_gt": _q_percent_gt,
        "lidar_sort_time": _q_lidar_sort_time,
        "lidar_segmentation": _q_lidar_segmentation,
        "ransac_planes": _q_ransac_planes,
        "wilcoxon": _q_wilcoxon,
        "pca": _q_pca,
        "pca3": _q_pca3,
        "linearity": _q_linearity,
        "box_metrics": _q_box_metrics,
        "box_metrics_exact": _q_box_metrics_exact,
        "ihs_roundtrip": _q_ihs_roundtrip,
        "max_elev_dev": _q_max_elev_dev,
        "multiscale_rough": _q_multiscale_rough,
        "msd_normals": _q_msd_normals,
        "multiscale_ep": _q_multiscale_ep,
        "mstpi": _q_mstpi,
        "surface_normals": _q_surface_normals,
        "gauss_scale_space": _q_gauss_scale_space,
        "pennock": _q_pennock,
        "geomorphons": _q_geomorphons,
        "shreve": _q_shreve,
        "stream_link_metrics": _q_stream_link_metrics,
        "stream_nodes": _q_stream_nodes,
        "multidir_hillshade": _q_multidir_hillshade,
        "resample_bilinear": _q_resample_bilinear,
        "intersect_general": _q_intersect_general,
        "erase_features": _q_erase_features,
        "profile_curvature": _q_profile_curvature,
        "tan_curvature": _q_tan_curvature,
        "total_curvature": _q_total_curvature,
        "mean_curvature": _q_mean_curvature,
        "gaussian_curvature": _q_gaussian_curvature,
        "min_curvature": _q_min_curvature,
        "max_curvature": _q_max_curvature,
        "scharr": _q_scharr,
        "dog_filter": _q_dog_filter,
        "bilateral": _q_bilateral,
        "olympic": _q_olympic,
        "conservative_smooth": _q_conservative_smooth,
        "opening": _q_opening,
        "tophat": _q_tophat,
        "dev_from_mean": _q_dev_from_mean,
        "diff_from_mean": _q_diff_from_mean,
        "elev_percentile": _q_elev_percentile,
        "percent_elev_range": _q_percent_elev_range,
        "tile_counts": _q_tile_counts,
        "hex_bin": _q_hex_bin,
        "hex_pyramid": _q_hex_pyramid,
        "hex_polyfill": _q_hex_polyfill,
        "hex_kring": _q_hex_kring,
        "pip_tag_cellcover": _q_pip_tag_cellcover,
        "pip_clip": _q_pip_clip,
        "pip_erase": _q_pip_erase,
        "nn_gridding": _q_nn_gridding,
        "points_to_raster_first": _q_points_to_raster_first,
        "points_to_raster_last": _q_points_to_raster_last,
        "raster_to_points": _q_raster_to_points,
        "extract_values": _q_extract_values,
        "aggregate_raster": _q_aggregate_raster,
        "summary_stats": _q_summary_stats,
        "cross_tab": _q_cross_tab,
        "histogram": _q_histogram,
        "map_algebra_add": _q_map_algebra_add,
        "reclass": _q_reclass,
        "reclass_equal_interval": _q_reclass_equal_interval,
        "reclass_from_file": _q_reclass_from_file,
        "lidar_shift": _q_lidar_shift,
        "map_off_terrain": _q_map_off_terrain,
        "find_main_stem": _q_find_main_stem,
        "single_to_multi_part": _q_single_to_multi_part,
        "lines_to_polygons": _q_lines_to_polygons,
        "focal_median": _q_focal_median,
        "focal_majority": _q_focal_majority,
        "aspect": _q_aspect,
        "euclid_alloc": _q_euclid_alloc,
        "buffer_raster": _q_buffer_raster,
        "avg_overlay": _q_avg_overlay,
        "highest_position": _q_highest_position,
        "cond_eval": _q_cond_eval,
        "pick_from_list": _q_pick_from_list,
        "poly_perimeter_vec": _q_poly_perimeter_vec,
        "compactness": _q_compactness,
        "centroid_vec": _q_centroid_vec,
        "extract_nodes_vec": _q_extract_nodes,
        "focal_range": _q_focal_range,
        "focal_diversity": _q_focal_diversity,
        "mosaic": _q_mosaic,
        "resample": _q_resample,
        "smooth_vectors": _q_smooth_vectors,
        "sobel": _q_sobel,
        "emboss": _q_emboss,
        "snap_pour": _q_snap_pour,
        "viewshed": _q_viewshed,
        "horizon_angle": _q_horizon_angle,
        "stream_link": _q_stream_link,
        "flowpath_length": _q_flowpath_length,
        "dinf_pointer": _q_dinf_pointer,
        "fd8_accum": _q_fd8_accum,
        "dinf_accum": _q_dinf_accum,
        "breach_depressions": _q_breach,
        "breach_depressions_exact": _q_breach_exact,
        "contours": _q_contours,
        "r2v_lines": _q_r2v_lines,
        "wetness": _q_wetness,
        "cost_distance": _q_cost_distance,
        "d8_basins": _q_d8_basins,
        "point_density": _q_point_density,
        "medoid": _q_medoid,
        "focal_pct25": _q_focal_pct25,
        "raster_area": _q_raster_area,
        "elevation_slice": _q_elevation_slice,
        "clip_window": _q_clip_window,
        "simplify_rdp": _q_simplify_rdp,
        "remove_duplicates": _q_remove_duplicates,
        "lidar_outliers": _q_lidar_outliers,
        "lines_to_raster": _q_lines_to_raster,
        "focal_mean_ii": _q_focal_mean_ii,
        "extract_by_attribute": _q_extract_by_attribute,
        "merge_vectors": _q_merge_vectors,
        "split_colour": _q_split_colour,
        "top_terms": _q_top_terms,
        "list_unique": _q_list_unique,
        "zscores": _q_zscores,
        "image_corr": _q_image_corr,
        "rmse": _q_rmse,
        "simhash": _q_simhash,
        "tin_gridding": _q_tin_gridding,
        "classify_buildings": _q_classify_buildings,
        "lidar_kappa": _q_lidar_kappa,
        "tree_detection": _q_tree_detection,
        "classify_subset": _q_classify_subset,
        "rooftop": _q_rooftop,
        "flightline_overlap": _q_flightline_overlap,
        "classify_overlap": _q_classify_overlap,
        "flightline_edge": _q_flightline_edge,
        "select_tiles": _q_select_tiles,
        "lidar_dsm": _q_lidar_dsm,
        "normalize_lidar": _q_normalize_lidar,
        "lidar_normals": _q_lidar_normals,
        "lidar_hillshade": _q_lidar_hillshade,
        "lidar_histogram": _q_lidar_histogram,
        "lidar_seg_filter": _q_lidar_seg_filter,
        "polygonize": _q_polygonize,
        "contours_from_points": _q_contours_from_points,
        "hachures": _q_hachures,
        "natural_neighbour": _q_natural_neighbour,
        "rbf_interp": _q_rbf_interp,
        "rbf_interp_exact": _q_rbf_interp_exact,
        "contour_lidar": _q_contour_lidar,
        "contour_lidar_exact": _q_contour_lidar_exact,
        "polygonize_exact": _q_polygonize_exact,
        "lidar_rbf": _q_lidar_rbf,
        "construct_tin": _q_construct_tin,
        "construct_tin_exact": _q_construct_tin_exact,
        "tin_gridding_exact": _q_tin_gridding_exact,
        "tin_contours_exact": _q_tin_contours_exact,
        "normalize_lidar_exact": _q_normalize_lidar_exact,
        "lidar_dsm_exact": _q_lidar_dsm_exact,
        "natural_neighbour_exact": _q_natural_neighbour_exact,
        "r2v_lines_exact": _q_r2v_lines_exact,
        "knn_wbt": _q_knn_wbt,
        "ann_lsh": _q_ann_lsh,
        # --- round-2 continuation: global image enhancement ---
        "minmax_stretch": _q_minmax_stretch,
        "pct_stretch": _q_pct_stretch,
        "stdev_stretch": _q_stdev_stretch,
        "bcet": _q_bcet,
        "hist_match": _q_hist_match,
        "hist_match_two_images": _q_hist_match_two_images,
        "wfm_insertion": _q_wfm_insertion,
        "ndi": _q_ndi,
        "dds": _q_dds,
        "cva": _q_cva,
        "flip_image": _q_flip_image,
        "sigmoidal_stretch": _q_sigmoidal_stretch,
        "gamma_corr": _q_gamma_corr,
        # --- round-2 continuation: focal filter families ---
        "stdev_filter": _q_stdev_filter,
        "highpass": _q_highpass,
        "highpass_median": _q_highpass_median,
        "adaptive_filter": _q_adaptive_filter,
        "lee_filter": _q_lee_filter,
        "knearest_mean": _q_knearest_mean,
        "unsharp": _q_unsharp,
        "roberts": _q_roberts,
        "line_detection": _q_line_detection,
        "fast_gaussian": _q_fast_gaussian,
        # --- round-2 continuation: hydro utilities ---
        "num_inflowing": _q_num_inflowing,
        "noflow_cells": _q_noflow_cells,
        "fill_pits": _q_fill_pits,
        "elev_above_stream": _q_elev_above_stream,
        "dist_to_stream": _q_dist_to_stream,
        "sink_id": _q_sink_id,
        "depth_in_sink": _q_depth_in_sink,
        # --- round-2 continuation: stream-network tail ---
        "dist_to_outlet": _q_dist_to_outlet,
        "farthest_head": _q_farthest_head,
        "tributary_id": _q_tributary_id,
        "topo_stream_order": _q_topo_stream_order,
        "total_length_channels": _q_total_length_channels,
        "length_upstream_channels": _q_length_upstream_channels,
        "stream_link_class": _q_stream_link_class,
        "remove_short_streams": _q_remove_short_streams,
        "hack_order": _q_hack_order,
        "horton_order": _q_horton_order,
        "grid_format_roundtrip": _q_grid_format_roundtrip,
        # --- round-2 continuation: vector ops ---
        "long_profile": _q_long_profile,
        "subbasins": _q_subbasins,
        "hillslopes": _q_hillslopes,
        "fd8_pointer": _q_fd8_pointer,
        "parallel_flow": _q_parallel_flow,
        "max_upslope": _q_max_upslope,
        "avg_upslope": _q_avg_upslope,
        "mass_flux": _q_mass_flux,
        "eas_euclidean": _q_eas_euclidean,
        "breach_pits": _q_breach_pits,
        "extract_valleys": _q_extract_valleys,
        "cost_allocation": _q_cost_allocation,
        "lidar_colourize": _q_lidar_colourize,
        "corner_detect": _q_corner_detect,
        "thicken": _q_thicken,
        "remove_spurs": _q_remove_spurs,
        "line_thin": _q_line_thin,
        "kmeans": _q_kmeans,
        "mosaic_feather": _q_mosaic_feather,
        "pan_sharpen": _q_pan_sharpen,
        "tri": _q_tri,
        "rtp": _q_rtp,
        "elev_rel_minmax": _q_elev_rel_minmax,
        "hypsometry": _q_hypsometry,
        "spi": _q_spi,
        "sti": _q_sti,
        "extend_lines": _q_extend_lines,
        "rog": _q_rog,
        "rect_grid": _q_rect_grid,
        "hex_grid_gen": _q_hex_grid_gen,
        "tile_footprint": _q_tile_footprint,
        "num_downslope_nbrs": _q_num_downslope_nbrs,
        "num_upslope_nbrs": _q_num_upslope_nbrs,
        "max_downslope_chg": _q_max_downslope_chg,
        "min_downslope_chg": _q_min_downslope_chg,
        "max_upslope_chg": _q_max_upslope_chg,
        "relative_aspect": _q_relative_aspect,
        "circular_variance_aspect": _q_circular_variance_aspect,
        "max_diff_from_mean": _q_max_diff_from_mean,
        "elev_above_pit": _q_elev_above_pit,
        "flow_length_diff": _q_flow_length_diff,
        "avg_flowpath_slope": _q_avg_flowpath_slope,
        "trace_downslope": _q_trace_downslope,
        "longest_flowpath": _q_longest_flowpath,
        "raise_walls": _q_raise_walls,
        "flatten_lakes": _q_flatten_lakes,
        "fill_burn": _q_fill_burn,
        "min_bounding_envelope": _q_min_bounding_envelope,
        "min_bounding_box": _q_min_bounding_box,
        "polygon_long_axis": _q_polygon_long_axis,
        "polygon_short_axis": _q_polygon_short_axis,
        "min_bounding_circle": _q_min_bounding_circle,
        "patch_orientation": _q_patch_orientation,
        "remove_polygon_holes": _q_remove_polygon_holes,
        "correct_vignetting": _q_correct_vignetting,
        "gaussian_stretch": _q_gaussian_stretch,
        "user_defined_weights": _q_user_defined_weights,
        "image_stack_profile": _q_image_stack_profile,
        "random_field": _q_random_field,
        "random_sample": _q_random_sample,
        "elev_rel_watershed_minmax": _q_elev_rel_watershed_minmax,
        "find_ridges": _q_find_ridges,
        "spherical_sdn": _q_spherical_sdn,
        "drainage_preserving_smoothing": _q_drainage_preserving_smoothing,
        "lidar_thin_high_density": _q_lidar_thin_high_density,
        "lidar_info": _q_lidar_info,
        "upslope_depression_storage": _q_upslope_depression_storage,
        "dinf_mass_flux": _q_dinf_mass_flux,
        "modified_kmeans": _q_modified_kmeans,
        "lidar_tophat": _q_lidar_tophat,
        "highpass_bilateral": _q_highpass_bilateral,
        "anvad": _q_anvad,
        "long_profile_from_points": _q_long_profile_from_points,
        "deviation_from_regional_direction": _q_deviation_from_regional_direction,
        "max_elev_dev_signature": _q_max_elev_dev_signature,
        "roughness_signature": _q_roughness_signature,
        "sdn_signature": _q_sdn_signature,
        "stream_slope_continuous": _q_stream_slope_continuous,
        "slope_vs_elev_plot": _q_slope_vs_elev_plot,
        "image_corr_neighbourhood": _q_image_corr_neighbourhood,
        "attr_corr_neighbourhood": _q_attr_corr_neighbourhood,
        "max_anisotropy_dev": _q_max_anisotropy_dev,
        "max_anisotropy_dev_signature": _q_max_anisotropy_dev_signature,
        "turning_bands": _q_turning_bands,
        "insert_dams": _q_insert_dams,
        "impoundment_index": _q_impoundment_index,
        "burn_streams_at_roads": _q_burn_streams_at_roads,
        "find_patch_edge_cells": _q_find_patch_edge_cells,
        "raster_perimeter": _q_raster_perimeter,
        "filter_raster_features": _q_filter_raster_features,
        "rescale_value_range": _q_rescale_value_range,
        "flow_accum_full_workflow": _q_flow_accum_full_workflow,
        "voronoi": _q_voronoi,
        "layer_footprint": _q_layer_footprint,
        "reinit_attribute_table": _q_reinit_attribute_table,
        "hypso_tinted_hillshade": _q_hypso_tinted_hillshade,
        "embankment_mapping": _q_embankment_mapping,
        "embankment_mapping_exact": _q_embankment_exact,
    }


# ---------------------------------------------------------------------------
# oracle_sql — DuckDB transcriptions
# ---------------------------------------------------------------------------


def _raster_op_oracles() -> dict[str, str]:
    """Oracles for the focal / terrain / distance / clump / overlay ops."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    ras_b = f"ras_b AS ({_RAS_B_SQL})"
    offs9 = ("offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),"
             "(1,-1),(1,0),(1,1)) o(dr, dc))")
    sc9 = ("sc AS (SELECT a.row + o.dr AS row, a.col + o.dc AS col, a.value AS nv "
           "FROM ras_a a, offs o)")
    med = "(list_sort(list(nv)))[CAST(FLOOR((COUNT(nv) + 1) / 2) AS INT)]"

    # 5x5 pivot (same scatter direction as focal_pivot5: a cell reaches
    # center (row - dr, col - dc) as its z_n)
    offs25 = "offs25 AS (SELECT * FROM (VALUES " + ", ".join(
        f"({n}, {n // 5 - 2}, {n % 5 - 2})" for n in range(25)
    ) + ") o(n, dr, dc))"
    sc25 = ("sc25 AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, o.n AS n, "
            "a.value AS nv FROM ras_a a, offs25 o)")
    piv_cols = ", ".join(f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}" for n in range(25))
    zz_cols = ", ".join(f"(COALESCE(z_{n}, z_12) * 1.0) AS z{n}" for n in range(25))
    pivot5 = (f"{offs25}, {sc25}, "
              f"piv AS (SELECT row, col, {piv_cols} FROM sc25 GROUP BY 1, 2), "
              f"zz AS (SELECT row, col, {zz_cols} FROM piv WHERE z_12 IS NOT NULL)")
    res100 = (_META100.resolution_x + _META100.resolution_y) / 2.0
    p, q = FO._florinsky_pq(res100)
    slope_val = f"SQRT({p} * {p} + {q} * {q}) * 100.0"
    hs_val = FO.hillshade_value_expr(_META100)

    # distance transform (brute-force 1-NN over target cells)
    cx = _META100.x_center_expr("col")
    cy = _META100.y_center_expr("row")
    dx_base = (
        f"t AS (SELECT (row * 100 + col) AS tid, {cx} AS tx, {cy} AS ty, value AS tv "
        f"FROM ras_a WHERE value < 10.0), "
        f"qq AS (SELECT row, col, {cx} AS qx, {cy} AS qy FROM ras_a), "
        f"cand AS (SELECT qq.row, qq.col, t.tid, t.tv, "
        f"(qq.qx - t.tx) * (qq.qx - t.tx) + (qq.qy - t.ty) * (qq.qy - t.ty) AS dist2 "
        f"FROM qq, t), "
        f"r AS (SELECT row, col, tid, tv, dist2, ROW_NUMBER() OVER "
        f"(PARTITION BY row, col ORDER BY dist2, tid) AS rk FROM cand)"
    )

    clump_oracle = (
        f"WITH RECURSIVE ras_a AS ({_RAS_A_SQL}), "
        f"c AS (SELECT row, col, value, (row * 100 + col) AS id FROM ras_a), "
        f"noffs AS (SELECT * FROM (VALUES (-1,0),(1,0),(0,-1),(0,1),(-1,-1),(-1,1),"
        f"(1,-1),(1,1)) o(dr, dc)), "
        f"e AS (SELECT a.id AS src, b.id AS dst FROM c a JOIN noffs o ON TRUE "
        f"JOIN c b ON b.row = a.row + o.dr AND b.col = a.col + o.dc AND b.value = a.value), "
        f"reach(id, r) AS (SELECT id, id FROM c UNION "
        f"SELECT e.dst, reach.r FROM reach JOIN e ON reach.id = e.src), "
        f"lab AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id) "
        f"SELECT c.row, c.col, c.value, "
        f"CAST(DENSE_RANK() OVER (ORDER BY lab.rep) AS BIGINT) AS clump_id "
        f"FROM c JOIN lab ON c.id = lab.id"
    )

    r2v_oracle = (
        f"WITH RECURSIVE ras_a AS ({_RAS_A_SQL}), "
        f"c AS (SELECT row, col, value, (row * 100 + col) AS id FROM ras_a), "
        f"noffs AS (SELECT * FROM (VALUES (-1,0),(1,0),(0,-1),(0,1)) o(dr, dc)), "
        f"e AS (SELECT a.id AS src, b.id AS dst FROM c a JOIN noffs o ON TRUE "
        f"JOIN c b ON b.row = a.row + o.dr AND b.col = a.col + o.dc AND b.value = a.value), "
        f"reach(id, r) AS (SELECT id, id FROM c UNION "
        f"SELECT e.dst, reach.r FROM reach JOIN e ON reach.id = e.src), "
        f"lab AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id), "
        f"lc AS (SELECT c.value, lab.rep FROM c JOIN lab ON c.id = lab.id) "
        f"SELECT CAST(DENSE_RANK() OVER (ORDER BY rep) AS BIGINT) AS clump_id, "
        f"value, CAST(COUNT(*) AS DOUBLE) * 100.0 AS area "
        f"FROM lc GROUP BY rep, value"
    )

    # lines_to_raster: same crossing math in DuckDB dialect
    r_hi = f"GREATEST(LEAST({_META100.row_from_y_expr('LEAST(y1, y2)')}, 99), 0)"
    r_lo = f"GREATEST(LEAST({_META100.row_from_y_expr('GREATEST(y1, y2)')}, 99), 0)"
    c_lo = f"GREATEST(LEAST({_META100.col_from_x_expr('LEAST(x1, x2)')}, 99), 0)"
    c_hi = f"GREATEST(LEAST({_META100.col_from_x_expr('GREATEST(x1, x2)')}, 99), 0)"
    y_r = _META100.y_from_row_expr("tr.range")
    x_c = _META100.x_from_col_expr("tc.range")
    x_prime = f"(x1 + (({y_r}) - y1) / (y2 - y1) * (x2 - x1))"
    y_prime = f"(y1 + (({x_c}) - x1) / (x2 - x1) * (y2 - y1))"
    l2r_oracle = (
        f"WITH base AS ({_SHAPES_BASE}), "
        f"rs AS (SELECT shape_id, CASE WHEN kind = 0 THEN {_RECT_DUCK} ELSE {_DIAM_DUCK} END AS ring FROM base), "
        f"segs AS (SELECT shape_id AS rn, CAST(shape_id AS DOUBLE) AS v, s.x1 AS x1, s.y1 AS y1, "
        f"s.x2 AS x2, s.y2 AS y2 FROM (SELECT shape_id, unnest(list_transform(range(1, len(ring)), "
        f"i -> {{'x1': ring[i].x, 'y1': ring[i].y, 'x2': ring[i+1].x, 'y2': ring[i+1].y}})) AS s FROM rs)), "
        f"b AS (SELECT rn, v, x1, y1, x2, y2, {r_lo} AS r0, {r_hi} AS r1, {c_lo} AS c0, {c_hi} AS c1 FROM segs), "
        f"rh AS (SELECT rn, v, tr.range AS row, {_META100.col_from_x_expr(x_prime)} AS col "
        f"FROM b JOIN range(0, 100) tr ON tr.range >= r0 AND tr.range <= r1 "
        f"WHERE ({y_r}) >= LEAST(y1, y2) AND ({y_r}) <= GREATEST(y1, y2) AND y2 <> y1), "
        f"ch AS (SELECT rn, v, {_META100.row_from_y_expr(y_prime)} AS row, tc.range AS col "
        f"FROM b JOIN range(0, 100) tc ON tc.range >= c0 AND tc.range <= c1 "
        f"WHERE ({x_c}) >= LEAST(x1, x2) AND ({x_c}) <= GREATEST(x1, x2) AND x2 <> x1), "
        f"hits AS (SELECT * FROM rh UNION ALL SELECT * FROM ch) "
        f"SELECT row, col, arg_max(v, rn) AS value FROM hits "
        f"WHERE row >= 0 AND row < 100 AND col >= 0 AND col < 100 GROUP BY 1, 2"
    )

    ret2 = {
        "clip_window": (
            f"WITH base AS ({_SHAPES_BASE}) "
            f"SELECT shape_id, GREATEST(cx - hw, 200.0) AS xmin, "
            f"GREATEST(cy - hh, 200.0) AS ymin, LEAST(cx + hw, 700.0) AS xmax, "
            f"LEAST(cy + hh, 700.0) AS ymax FROM base WHERE kind = 0 "
            f"AND GREATEST(cx - hw, 200.0) < LEAST(cx + hw, 700.0) "
            f"AND GREATEST(cy - hh, 200.0) < LEAST(cy + hh, 700.0)"
        ),
        "lines_to_raster": l2r_oracle,
        "join_tables": (
            "SELECT o.o_orderkey, o.o_custkey, o.o_totalprice, c.c_name, c.c_mktsegment "
            "FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey"
        ),
        "extract_by_attribute": (
            "SELECT event_id, user_id, value FROM events "
            "WHERE event_type = 'click' AND value > 50.0"
        ),
        "merge_vectors": (
            f"WITH pts AS ({_PTS_SQL}) SELECT record_num, x, y, value FROM pts "
            f"UNION ALL SELECT record_num, x, y, value + 1.0 AS value FROM pts"
        ),
        "colour_composite": (
            f"WITH ras_a AS ({_RAS_A_SQL}), rgb AS (SELECT row, col, "
            f"CAST(value % 256.0 AS BIGINT) AS rv, CAST((value * 3.0) % 256.0 AS BIGINT) AS gv, "
            f"CAST((value * 7.0) % 256.0 AS BIGINT) AS bv FROM ras_a) "
            f"SELECT row, col, CAST(GREATEST(LEAST(rv, 255), 0) * 65536 "
            f"+ GREATEST(LEAST(gv, 255), 0) * 256 + GREATEST(LEAST(bv, 255), 0) AS DOUBLE) AS value FROM rgb"
        ),
        "split_colour": (
            f"WITH ras_a AS ({_RAS_A_SQL}), rgb AS (SELECT row, col, "
            f"CAST(GREATEST(LEAST(CAST(value % 256.0 AS BIGINT), 255), 0) * 65536 "
            f"+ GREATEST(LEAST(CAST((value * 3.0) % 256.0 AS BIGINT), 255), 0) * 256 "
            f"+ GREATEST(LEAST(CAST((value * 7.0) % 256.0 AS BIGINT), 255), 0) AS BIGINT) AS v FROM ras_a), "
            f"bands AS (SELECT row, col, unnest([{{'band': CAST(0 AS INT), 'value': CAST((v // 65536) % 256 AS DOUBLE)}}, "
            f"{{'band': CAST(1 AS INT), 'value': CAST((v // 256) % 256 AS DOUBLE)}}, "
            f"{{'band': CAST(2 AS INT), 'value': CAST(v % 256 AS DOUBLE)}}]) AS e FROM rgb) "
            f"SELECT row, col, e.band AS band, e.value AS value FROM bands"
        ),
        "ihs_roundtrip": (
            f"WITH ras_a AS ({_RAS_A_SQL}), rgb AS (SELECT row, col, "
            f"CAST(value % 256.0 AS BIGINT) AS rv, CAST((value * 3.0) % 256.0 AS BIGINT) AS gv, "
            f"CAST((value * 7.0) % 256.0 AS BIGINT) AS bv FROM ras_a) "
            f"SELECT row, col, CAST(GREATEST(LEAST(rv, 255), 0) * 65536 "
            f"+ GREATEST(LEAST(gv, 255), 0) * 256 + GREATEST(LEAST(bv, 255), 0) AS DOUBLE) AS value "
            f"FROM rgb WHERE GREATEST(LEAST(rv, 255), 0) * 65536 "
            f"+ GREATEST(LEAST(gv, 255), 0) * 256 + GREATEST(LEAST(bv, 255), 0) > 0"
        ),
        "top_terms": (
            "WITH toks AS (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token "
            "FROM documents), "
            "counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY 1), "
            "r AS (SELECT token, n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rank FROM counts) "
            "SELECT token, n, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 20"
        ),
    }

    med40_x = _META40.x_center_expr("col")
    med40_y = _META40.y_center_expr("row")
    ret3 = {
        "focal_range": (
            f"WITH {ras_a}, {offs9}, {sc9}, "
            f"g AS (SELECT row, col, MAX(nv) - MIN(nv) AS value FROM sc GROUP BY 1, 2) "
            f"SELECT g.row, g.col, g.value FROM g JOIN (SELECT row, col FROM ras_a) c USING (row, col)"
        ),
        "focal_diversity": (
            f"WITH {ras_a}, {offs9}, {sc9}, "
            f"g AS (SELECT row, col, CAST(COUNT(DISTINCT nv) AS DOUBLE) AS value FROM sc GROUP BY 1, 2) "
            f"SELECT g.row, g.col, g.value FROM g JOIN (SELECT row, col FROM ras_a) c USING (row, col)"
        ),
        "mosaic": (
            f"WITH {ras_a}, {ras_b}, u AS (SELECT row, col, value AS v, 0 AS li FROM ras_a "
            f"UNION ALL SELECT row, col, value, 1 FROM ras_b WHERE col < 50) "
            f"SELECT row, col, arg_max(v, li) AS value FROM u GROUP BY 1, 2"
        ),
        "resample": (
            f"WITH {ras_a}, d AS (SELECT a.range AS drow, b.range AS dcol, "
            f"{_META100.row_from_y_expr(med40_y.replace('row', 'a.range'))} AS row, "
            f"{_META100.col_from_x_expr(med40_x.replace('col', 'b.range'))} AS col "
            f"FROM range(0, 40) a, range(0, 40) b) "
            f"SELECT d.drow AS row, d.dcol AS col, COALESCE(r.value, -32768.0) AS value "
            f"FROM d LEFT JOIN ras_a r USING (row, col)"
        ),
        "hist_eq": (
            f"WITH ras_a AS ({_RAS_A_SQL}) SELECT row, col, "
            f"CAST(FLOOR(CUME_DIST() OVER (ORDER BY value) * 255) AS DOUBLE) AS value FROM ras_a"
        ),
        "t_test": (
            f"WITH {ras_a}, {ras_b}, j AS (SELECT a.value - b.value AS d "
            f"FROM ras_a a JOIN ras_b b USING (row, col)), "
            f"st AS (SELECT COUNT(*) AS n, SUM(d) AS s1, SUM(d * d) AS s2 FROM j) "
            f"SELECT n, s1 / n AS mean_diff, "
            f"(s1 / n) / SQRT((s2 - s1 * s1 / n) / (n - 1) / n) AS t_stat FROM st"
        ),
        "ks_test": (
            f"WITH {ras_a}, {ras_b}, "
            f"u AS (SELECT value AS v, 1 AS ia, 0 AS ib FROM ras_a "
            f"UNION ALL SELECT value, 0, 1 FROM ras_b), "
            f"e AS (SELECT v, SUM(ia) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) / 10000 AS fa, "
            f"SUM(ib) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) / 10000 AS fb FROM u), "
            f"g AS (SELECT v, MAX(fa) AS fa, MAX(fb) AS fb FROM e GROUP BY v) "
            f"SELECT MAX(ABS(fa - fb)) AS ks_d FROM g"
        ),
    }

    out = ret2 | ret3 | {
        "r2v_polygons": r2v_oracle,
        "focal_mean": (
            f"WITH {ras_a}, {offs9}, {sc9}, "
            f"g AS (SELECT row, col, AVG(nv) AS value FROM sc GROUP BY 1, 2) "
            f"SELECT g.row, g.col, g.value FROM g JOIN (SELECT row, col FROM ras_a) c USING (row, col)"
        ),
        "focal_median": (
            f"WITH {ras_a}, {offs9}, {sc9}, "
            f"g AS (SELECT row, col, {med} AS value FROM sc GROUP BY 1, 2) "
            f"SELECT g.row, g.col, g.value FROM g JOIN (SELECT row, col FROM ras_a) c USING (row, col)"
        ),
        "focal_pct25": (
            f"WITH {ras_a}, {offs9}, {sc9}, "
            f"g AS (SELECT row, col, (list_sort(list(nv)))"
            f"[CAST(FLOOR((COUNT(nv) - 1) * 0.25) AS INT) + 1] AS value FROM sc GROUP BY 1, 2) "
            f"SELECT g.row, g.col, g.value FROM g JOIN (SELECT row, col FROM ras_a) c USING (row, col)"
        ),
        "focal_majority": (
            f"WITH {ras_a}, {offs9}, {sc9}, "
            f"cnt AS (SELECT row, col, nv, COUNT(*) AS c FROM sc GROUP BY 1, 2, 3), "
            f"rk AS (SELECT row, col, nv, ROW_NUMBER() OVER "
            f"(PARTITION BY row, col ORDER BY c DESC, nv ASC) AS r FROM cnt), "
            f"g AS (SELECT row, col, nv AS value FROM rk WHERE r = 1) "
            f"SELECT g.row, g.col, g.value FROM g JOIN (SELECT row, col FROM ras_a) c USING (row, col)"
        ),
        "focal_median_halo": (
            f"WITH {ras_a}, {offs9}, {sc9} "
            f"SELECT row, col, {med} AS value FROM sc GROUP BY 1, 2 HAVING COUNT(nv) = 9"
        ),
        "slope_pct": f"WITH {ras_a}, {pivot5} SELECT row, col, {slope_val} AS value FROM zz",
        "hillshade": f"WITH {ras_a}, {pivot5} SELECT row, col, {hs_val} AS value FROM zz",
        "euclid_dist": (
            f"WITH {ras_a}, {dx_base} SELECT row, col, SQRT(dist2) AS value FROM r WHERE rk = 1"
        ),
        "euclid_alloc": (
            f"WITH {ras_a}, {dx_base} SELECT row, col, tv AS value FROM r WHERE rk = 1"
        ),
        "buffer_raster": (
            f"WITH {ras_a}, {dx_base} SELECT row, col, "
            f"CAST(CASE WHEN SQRT(dist2) <= 150.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value "
            f"FROM r WHERE rk = 1"
        ),
        "clump": clump_oracle,
        "list_unique": (
            f"{'WITH ras_a AS (' + _RAS_A_SQL + ')'} "
            f"SELECT value, COUNT(*) AS n FROM ras_a GROUP BY 1"
        ),
        "zscores": (
            f"WITH ras_a AS ({_RAS_A_SQL}), "
            f"st AS (SELECT COUNT(*) AS n, SUM(value) AS s1, SUM(value * value) AS s2 FROM ras_a) "
            f"SELECT row, col, "
            f"(value - s1 / n) / SQRT(s2 / n - (s1 / n) * (s1 / n)) AS value "
            f"FROM ras_a, st"
        ),
        "image_corr": (
            f"WITH ras_a AS ({_RAS_A_SQL}), ras_b AS ({_RAS_B_SQL}), "
            f"j AS (SELECT a.value AS x, b.value AS y FROM ras_a a JOIN ras_b b USING (row, col)), "
            f"st AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx, "
            f"SUM(y * y) AS syy, SUM(x * y) AS sxy FROM j) "
            f"SELECT n, (n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) "
            f"AS pearson_r FROM st"
        ),
        "rmse": (
            f"WITH ras_a AS ({_RAS_A_SQL}), ras_b AS ({_RAS_B_SQL}), "
            f"j AS (SELECT a.value AS x, b.value AS y FROM ras_a a JOIN ras_b b USING (row, col)) "
            f"SELECT COUNT(*) AS n, SQRT(SUM((x - y) * (x - y)) / COUNT(*)) AS rmse FROM j"
        ),
        "kappa": (
            f"WITH ras_b AS ({_RAS_B_SQL}), ras_a AS ({_RAS_A_SQL}), "
            f"a7 AS (SELECT row, col, value % 7.0 AS value FROM ras_a), "
            f"j AS (SELECT b.value AS ca, a7.value AS cb FROM ras_b b JOIN a7 USING (row, col)), "
            f"nn AS (SELECT COUNT(*) AS n, COUNT(*) FILTER (ca = cb) AS agree FROM j), "
            f"mg AS (SELECT SUM(na * nb) AS crs FROM "
            f"(SELECT ca, COUNT(*) AS na FROM j GROUP BY 1) x JOIN "
            f"(SELECT cb, COUNT(*) AS nb FROM j GROUP BY 1) y ON x.ca = y.cb), "
            f"pp AS (SELECT n, agree / n AS po, crs / (n * n) AS pe FROM nn, mg) "
            f"SELECT n, po AS p_observed, pe AS p_expected, "
            f"(po - pe) / (1.0 - pe) AS kappa FROM pp"
        ),
        "avg_overlay": (
            f"WITH {ras_a}, {ras_b} SELECT row, col, (a.value + b.value) / 2 AS value "
            f"FROM ras_a a JOIN ras_b b USING (row, col)"
        ),
        "weighted_sum": (
            f"WITH {ras_a}, {ras_b} SELECT row, col, "
            f"a.value * 0.5 + b.value * 0.25 AS value "
            f"FROM ras_a a JOIN ras_b b USING (row, col)"
        ),
        "highest_position": (
            f"WITH {ras_a}, {ras_b} SELECT row, col, "
            f"CAST(CASE WHEN b.value > a.value THEN 2.0 ELSE 1.0 END AS DOUBLE) AS value "
            f"FROM ras_a a JOIN ras_b b USING (row, col)"
        ),
        "raster_calc": (
            f"WITH {ras_a}, {ras_b}, j AS (SELECT row, col, a.value AS a, b.value AS b "
            f"FROM ras_a a JOIN ras_b b USING (row, col)) "
            f"SELECT row, col, ({_CALC_EXPR}) AS value FROM j"
        ),
        "cond_eval": (
            f"WITH {ras_a} SELECT row, col, "
            f"CASE WHEN value > 500.0 THEN (value - 500.0) ELSE (value) END AS value FROM ras_a"
        ),
        "pick_from_list": (
            f"WITH {ras_a}, {ras_b}, j AS (SELECT row, col, a.value AS l0, b.value AS l1, "
            f"(a.value % 2.0) AS sel FROM ras_a a JOIN ras_b b USING (row, col)) "
            f"SELECT row, col, ([l0, l1])[CAST(sel AS INT) + 1] AS value FROM j"
        ),
        # aspect: ACOS/libm not guaranteed bit-identical across engines —
        # rows-only (kernel parity covered in pytest vs numpy).
    }
    # the integral-image mean plan must equal the scatter-gather plan
    # bit-for-bit (exact integer sums) — same oracle
    out["focal_mean_ii"] = out["focal_mean"]
    return out


def _hydro_oracles() -> dict[str, str]:
    """D8 oracles: pointer as the shared fold expression; accumulation /
    basins via recursive-CTE path closure over the pointer edges."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    offs = ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8)
    ) + ", (8, 0, 0)"
    piv_cols = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8)
    ) + ", MAX(CASE WHEN n = 8 THEN nv END) AS zc"
    pivot = (
        f"offs8 AS (SELECT * FROM (VALUES {offs}) o(n, dy, dx)), "
        f"sc8 AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, o.n AS n, a.value AS nv "
        f"FROM ras_a a, offs8 o), "
        f"piv AS (SELECT row, col, {piv_cols} FROM sc8 GROUP BY 1, 2), "
        f"ptr AS MATERIALIZED (SELECT row, col, {HY.d8_pointer_value_expr(_META100)} AS value "
        f"FROM piv WHERE zc IS NOT NULL)"
    )
    dirs = ", ".join(f"({1 << i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
    edge_ctes = (
        f"dirs AS (SELECT * FROM (VALUES {dirs}) d(code, dy, dx)), "
        f"e AS MATERIALIZED (SELECT (p.row * 100 + p.col) AS src, "
        f"((p.row + d.dy) * 100 + (p.col + d.dx)) AS dst "
        f"FROM ptr p JOIN dirs d ON d.code = CAST(p.value AS INT) WHERE p.value > 0), "
        f"nodes AS MATERIALIZED (SELECT row, col, (row * 100 + col) AS id FROM ptr)"
    )
    closure = (
        f"{edge_ctes}, "
        f"reach(src, dst) AS (SELECT id, id FROM nodes UNION "
        f"SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)"
    )
    accum_sql = (
        f"WITH RECURSIVE {ras_a}, {pivot}, {closure} "
        f"SELECT n.row, n.col, CAST(COUNT(*) AS DOUBLE) AS value "
        f"FROM reach r JOIN nodes n ON r.dst = n.id GROUP BY 1, 2"
    )
    # convolution oracles (scatter with weights — exact integer sums)
    def conv_oracle(kx, ky, value_expr: str) -> str:
        vals = ", ".join(
            f"({i - 1}, {j - 1}, {kx[i][j]!r}, {ky[i][j]!r})"
            for i in range(3) for j in range(3)
        )
        return (
            f"WITH {ras_a}, offsk AS (SELECT * FROM (VALUES {vals}) o(dr, dc, wx, wy)), "
            f"sck AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, "
            f"o.wx * a.value AS px, o.wy * a.value AS py FROM ras_a a, offsk o), "
            f"g AS (SELECT row, col, SUM(px) AS gx, SUM(py) AS gy FROM sck "
            f"GROUP BY 1, 2 HAVING COUNT(*) = 9) "
            f"SELECT g.row, g.col, {value_expr} AS value "
            f"FROM g JOIN (SELECT row, col FROM ras_a) c USING (row, col)"
        )

    zeros = [[0.0] * 3 for _ in range(3)]
    watershed_oracle = (
        f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, "
        f"walk(src, dst, h) AS (SELECT id, id, 0 FROM nodes UNION "
        f"SELECT w.src, e.dst, w.h + 1 FROM walk w JOIN e ON w.dst = e.src), "
        f"o AS (SELECT (row * 100 + col) AS dst, (row * 100 + col) AS outlet_id "
        f"FROM ras_a WHERE value < 5.0), "
        f"hits AS (SELECT src, outlet_id, h, ROW_NUMBER() OVER "
        f"(PARTITION BY src ORDER BY h, outlet_id) AS rk FROM walk JOIN o USING (dst)) "
        f"SELECT n.row, n.col, CAST(outlet_id AS DOUBLE) AS value "
        f"FROM hits JOIN nodes n ON hits.src = n.id WHERE rk = 1"
    )
    snap_oracle = (
        f"WITH {ras_a}, pour AS (SELECT (row * 100 + col) AS pour_id, row, col "
        f"FROM ras_a WHERE (row * 100 + col) % 997 = 0), "
        f"offs2 AS (SELECT * FROM (VALUES "
        + ", ".join(f"({dr}, {dc})" for dr in range(-2, 3) for dc in range(-2, 3))
        + ") o(dr, dc)), "
        f"cand AS (SELECT p.pour_id, p.row + o.dr AS nrow, p.col + o.dc AS ncol "
        f"FROM pour p, offs2 o), "
        f"j AS (SELECT cand.pour_id, cand.nrow, cand.ncol, a.value AS acc "
        f"FROM cand JOIN ras_a a ON a.row = cand.nrow AND a.col = cand.ncol), "
        f"r AS (SELECT pour_id, nrow, ncol, ROW_NUMBER() OVER "
        f"(PARTITION BY pour_id ORDER BY acc DESC, nrow, ncol) AS rk FROM j) "
        f"SELECT pour_id, nrow AS row, ncol AS col FROM r WHERE rk = 1"
    )

    return {
        "laplacian": conv_oracle(FO.LAPLACIAN_3X3_1, zeros, "gx"),
        "sobel": conv_oracle(FO.SOBEL_X, FO.SOBEL_Y, "SQRT(gx * gx + gy * gy)"),
        "scharr": conv_oracle(FO.SCHARR_X, FO.SCHARR_Y, "SQRT(gx * gx + gy * gy)"),
        "emboss": conv_oracle(FO.EMBOSS["n"], zeros, "gx"),
        "watershed": watershed_oracle,
        "snap_pour": snap_oracle,
        "d8_pointer": f"WITH {ras_a}, {pivot} SELECT row, col, value FROM ptr",
        "d8_accum": accum_sql,
        "d8_basins": (
            f"WITH RECURSIVE {ras_a}, {pivot}, {closure}, "
            f"term AS (SELECT r.src, r.dst AS t FROM reach r "
            f"LEFT JOIN (SELECT DISTINCT src FROM e) x ON r.dst = x.src WHERE x.src IS NULL), "
            f"lab AS (SELECT t, DENSE_RANK() OVER (ORDER BY t) AS basin_id "
            f"FROM (SELECT DISTINCT t FROM term)) "
            f"SELECT n.row, n.col, CAST(lab.basin_id AS DOUBLE) AS value "
            f"FROM term JOIN nodes n ON term.src = n.id JOIN lab ON term.t = lab.t"
        ),
        "extract_streams": (
            f"WITH RECURSIVE {ras_a}, {pivot}, {closure}, "
            f"acc AS (SELECT n.row, n.col, COUNT(*) AS a FROM reach r "
            f"JOIN nodes n ON r.dst = n.id GROUP BY 1, 2) "
            f"SELECT row, col, CAST(CASE WHEN a >= 5.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value "
            f"FROM acc"
        ),
    }


def _focal2_oracles() -> dict[str, str]:
    """Oracles for the round-2 focal families (curvature, Gaussian,
    morphology, window-position stats). All value expressions are the
    SAME portable-SQL text the Spark operators execute (deterministic
    fixed-order folds / integer-exact aggregates), so results are
    bit-identical across engines."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    offs25 = "offs25 AS (SELECT * FROM (VALUES " + ", ".join(
        f"({n}, {n // 5 - 2}, {n % 5 - 2})" for n in range(25)
    ) + ") o(n, dr, dc))"
    sc25 = ("sc25 AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, o.n AS n, "
            "a.value AS nv FROM ras_a a, offs25 o)")
    piv_cols = ", ".join(f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}" for n in range(25))
    zz_cols = ", ".join(f"(COALESCE(z_{n}, z_12) * 1.0) AS z{n}" for n in range(25))
    pivot5 = (f"{offs25}, {sc25}, "
              f"piv AS (SELECT row, col, {piv_cols} FROM sc25 GROUP BY 1, 2), "
              f"zz AS (SELECT row, col, {zz_cols} FROM piv WHERE z_12 IS NOT NULL)")

    ret = {}
    for name, kind in [("plan_curvature", "plan"), ("profile_curvature", "profile"),
                       ("tan_curvature", "tangential"), ("total_curvature", "total"),
                       ("mean_curvature", "mean"), ("gaussian_curvature", "gaussian"),
                       ("min_curvature", "minimal"), ("max_curvature", "maximal")]:
        val = FO.curvature_value_expr(kind, _META100)
        ret[name] = f"WITH {ras_a}, {pivot5} SELECT row, col, {val} AS value FROM zz"

    # nullable k x k pivot (no substitution) for the Gaussian filter
    size, gval = FO.gaussian_value_expr(0.75)
    mid = size // 2
    center = mid * size + mid
    offsk = f"offsk AS (SELECT * FROM (VALUES " + ", ".join(
        f"({n}, {n // size - mid}, {n % size - mid})" for n in range(size * size)
    ) + ") o(n, dr, dc))"
    sck = ("sck AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, o.n AS n, "
           "a.value AS nv FROM ras_a a, offsk o)")
    pivk_cols = ", ".join(
        f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}" for n in range(size * size)
    )
    pivotk = (f"{offsk}, {sck}, "
              f"pivk AS (SELECT row, col, {pivk_cols} FROM sck GROUP BY 1, 2), "
              f"zk AS (SELECT * FROM pivk WHERE z_{center} IS NOT NULL)")
    ret["gaussian_filter"] = f"WITH {ras_a}, {pivotk} SELECT row, col, {gval} AS value FROM zk"

    # LoG filter: identical pivot machinery with the LoG weights
    lsize, lval = FO.log_value_expr(0.8)
    lmid = lsize // 2
    lcenter = lmid * lsize + lmid
    loffsk = "loffsk AS (SELECT * FROM (VALUES " + ", ".join(
        f"({n}, {n // lsize - lmid}, {n % lsize - lmid})"
        for n in range(lsize * lsize)
    ) + ") o(n, dr, dc))"
    lsck = ("lsck AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, "
            "o.n AS n, a.value AS nv FROM ras_a a, loffsk o)")
    lpiv_cols = ", ".join(
        f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}"
        for n in range(lsize * lsize)
    )
    lpivotk = (f"{loffsk}, {lsck}, "
               f"lpivk AS (SELECT row, col, {lpiv_cols} FROM lsck GROUP BY 1, 2), "
               f"lzk AS (SELECT * FROM lpivk WHERE z_{lcenter} IS NOT NULL)")
    ret["log_filter"] = f"WITH {ras_a}, {lpivotk} SELECT row, col, {lval} AS value FROM lzk"

    # DoG: difference of the two pivot-plan Gaussian means (7x7 at 0.8,
    # 11x11 at 1.2) — each side is the same fixed-order fold text
    def _gpivot(tag: str, sigma: float):
        gsz, gv = FO.gaussian_value_expr(sigma)
        gmid = gsz // 2
        gctr = gmid * gsz + gmid
        offs = (f"{tag}offs AS (SELECT * FROM (VALUES " + ", ".join(
            f"({n}, {n // gsz - gmid}, {n % gsz - gmid})"
            for n in range(gsz * gsz)) + f") o(n, dr, dc))")
        sc = (f"{tag}sc AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, "
              f"o.n AS n, a.value AS nv FROM ras_a a, {tag}offs o)")
        pcols = ", ".join(f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}"
                          for n in range(gsz * gsz))
        return (f"{offs}, {sc}, "
                f"{tag}piv AS (SELECT row, col, {pcols} FROM {tag}sc GROUP BY 1, 2), "
                f"{tag}zk AS (SELECT * FROM {tag}piv WHERE z_{gctr} IS NOT NULL)"), gv

    _dga, _dga_v = _gpivot("dga", 0.8)
    _dgb, _dgb_v = _gpivot("dgb", 1.2)
    ret["dog_filter"] = (
        f"WITH {ras_a}, {_dga}, {_dgb}, "
        f"g1 AS (SELECT row, col, {_dga_v} AS v1 FROM dgazk), "
        f"g2 AS (SELECT row, col, {_dgb_v} AS v2 FROM dgbzk) "
        f"SELECT g1.row, g1.col, ROUND(v1 - v2, 6) AS value "
        f"FROM g1 JOIN g2 ON g1.row = g2.row AND g1.col = g2.col")

    # SurfaceAreaRatio: nullable 3x3 pivot + the shared Jenness expression
    sar_val = FO.surface_area_ratio_value_expr(_META100)
    soffs = "soffs AS (SELECT * FROM (VALUES " + ", ".join(
        f"({n}, {n // 3 - 1}, {n % 3 - 1})" for n in range(9)
    ) + ") o(n, dr, dc))"
    ssck = ("ssck AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, o.n AS n, "
            "a.value AS nv FROM ras_a a, soffs o)")
    spiv_cols = ", ".join(f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}" for n in range(9))
    spivot3 = (f"{soffs}, {ssck}, "
               f"spiv AS (SELECT row, col, {spiv_cols} FROM ssck GROUP BY 1, 2), "
               f"szk AS (SELECT * FROM spiv WHERE z_4 IS NOT NULL)")
    ret["surface_area_ratio"] = (
        f"WITH {ras_a}, {spivot3} SELECT * FROM "
        f"(SELECT row, col, {sar_val} AS value FROM szk) WHERE value IS NOT NULL"
    )

    # StandardDeviationOfSlope: slope degrees (pivot5) -> second 3x3
    # nullable pivot -> fixed-order stdev fold (shared expression text)
    res100 = (_META100.resolution_x + _META100.resolution_y) / 2.0
    p_, q_ = FO._florinsky_pq(res100)
    sds_slope = f"DEGREES(ATAN(SQRT({p_} * {p_} + {q_} * {q_})))"
    sds_sck = ("dsck AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, o.n AS n, "
               "a.value AS nv FROM sl a, soffs o)")
    sds_pivot = (f"{soffs}, {sds_sck}, "
                 f"dpiv AS (SELECT row, col, {spiv_cols} FROM dsck GROUP BY 1, 2), "
                 f"dzk AS (SELECT * FROM dpiv WHERE z_4 IS NOT NULL)")
    ret["stdev_of_slope"] = (
        f"WITH {ras_a}, {pivot5}, "
        f"sl AS (SELECT row, col, {sds_slope} AS value FROM zz), "
        f"{sds_pivot} "
        f"SELECT row, col, ({FO.stdev_pivot_value_expr(9)}) AS value FROM dzk"
    )

    # Lee sigma filter: conditional in-range mean + 8-ring fallback
    lee_offs = ("lee_offs AS (SELECT * FROM (VALUES " + ", ".join(
        f"({dr}, {dc})" for dr in range(-2, 3) for dc in range(-2, 3)
    ) + ") o(dr, dc))")
    ret["lee_sigma"] = (
        f"WITH {ras_a}, {lee_offs}, "
        "lee_sc AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, "
        "a.value AS nv, (GREATEST(ABS(o.dr), ABS(o.dc)) = 1) AS ring "
        "FROM ras_a a, lee_offs o), "
        "lee_j AS (SELECT sc.row, sc.col, c.value AS z, sc.nv, sc.ring "
        "FROM lee_sc sc JOIN ras_a c ON c.row = sc.row AND c.col = sc.col), "
        "lee_g AS (SELECT row, col, z, "
        "COUNT(CASE WHEN nv >= z - 50.0 AND nv <= z + 50.0 THEN 1 END) AS n, "
        "SUM(CASE WHEN nv >= z - 50.0 AND nv <= z + 50.0 THEN nv END) AS s, "
        "COUNT(CASE WHEN ring THEN 1 END) AS rn, "
        "SUM(CASE WHEN ring THEN nv END) AS rs "
        "FROM lee_j GROUP BY 1, 2, 3) "
        "SELECT row, col, CASE WHEN n > 5.0 THEN s / CAST(n AS DOUBLE) "
        "WHEN rn > 0 THEN rs / CAST(rn AS DOUBLE) END AS value "
        "FROM lee_g WHERE (CASE WHEN n > 5.0 THEN s / CAST(n AS DOUBLE) "
        "WHEN rn > 0 THEN rs / CAST(rn AS DOUBLE) END) IS NOT NULL"
    )

    offs9 = ("offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),"
             "(1,-1),(1,0),(1,1)) o(dr, dc))")
    sc9 = ("sc AS (SELECT a.row + o.dr AS row, a.col + o.dc AS col, a.value AS nv "
           "FROM ras_a a, offs o)")
    centers = "(SELECT row, col FROM ras_a)"
    ret["olympic"] = (
        f"WITH {ras_a}, {offs9}, {sc9}, "
        f"g AS (SELECT row, col, (SUM(nv) - MAX(nv) - MIN(nv)) / CAST(COUNT(nv) - 2 AS DOUBLE) "
        f"AS value FROM sc GROUP BY 1, 2) "
        f"SELECT g.row, g.col, g.value FROM g JOIN {centers} c USING (row, col)"
    )
    offs8 = ("offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),"
             "(1,-1),(1,0),(1,1)) o(dr, dc))")
    ret["conservative_smooth"] = (
        f"WITH {ras_a}, {offs8}, {sc9}, "
        f"nb AS (SELECT row, col, MIN(nv) AS mn, MAX(nv) AS mx FROM sc GROUP BY 1, 2) "
        f"SELECT a.row, a.col, CASE WHEN nb.mn IS NULL THEN a.value "
        f"WHEN a.value > nb.mx THEN nb.mx WHEN a.value < nb.mn THEN nb.mn "
        f"ELSE a.value END AS value FROM ras_a a LEFT JOIN nb USING (row, col)"
    )
    erode = (f"e1 AS (SELECT row, col, MIN(nv) AS value FROM sc GROUP BY 1, 2), "
             f"er AS (SELECT e1.row, e1.col, e1.value FROM e1 JOIN {centers} c USING (row, col)), "
             f"sc2 AS (SELECT a.row + o.dr AS row, a.col + o.dc AS col, a.value AS nv "
             f"FROM er a, offs o), "
             f"d1 AS (SELECT row, col, MAX(nv) AS value FROM sc2 GROUP BY 1, 2), "
             f"op AS (SELECT d1.row, d1.col, d1.value FROM d1 JOIN "
             f"(SELECT row, col FROM er) c2 USING (row, col))")
    ret["opening"] = f"WITH {ras_a}, {offs9}, {sc9}, {erode} SELECT row, col, value FROM op"
    ret["tophat"] = (
        f"WITH {ras_a}, {offs9}, {sc9}, {erode} "
        f"SELECT a.row, a.col, a.value - op.value AS value FROM ras_a a JOIN op USING (row, col)"
    )
    ret["dev_from_mean"] = (
        f"WITH {ras_a}, {offs9}, {sc9}, "
        f"g AS (SELECT row, col, COUNT(nv) AS n, SUM(nv) AS s1, SUM(nv * nv) AS s2 "
        f"FROM sc GROUP BY 1, 2) "
        f"SELECT a.row, a.col, CASE WHEN (s2 - s1 * s1 / n) > 0.0 THEN "
        f"(a.value - s1 / n) / SQRT((s2 - s1 * s1 / n) / (n - 1)) ELSE 0.0 END AS value "
        f"FROM ras_a a JOIN g USING (row, col)"
    )
    ret["diff_from_mean"] = (
        f"WITH {ras_a}, {offs9}, {sc9}, "
        f"g AS (SELECT row, col, AVG(nv) AS mu FROM sc GROUP BY 1, 2) "
        f"SELECT a.row, a.col, a.value - g.mu AS value FROM ras_a a JOIN g USING (row, col)"
    )
    ret["elev_percentile"] = (
        f"WITH {ras_a}, {offs9}, {sc9} "
        f"SELECT sc.row, sc.col, CAST(SUM(CASE WHEN sc.nv < a.value THEN 1 ELSE 0 END) "
        f"AS DOUBLE) / COUNT(sc.nv) * 100.0 AS value "
        f"FROM sc JOIN ras_a a USING (row, col) GROUP BY sc.row, sc.col, a.value"
    )
    ret["percent_elev_range"] = (
        f"WITH {ras_a}, {offs9}, {sc9}, "
        f"g AS (SELECT row, col, MIN(nv) AS mn, MAX(nv) AS mx FROM sc GROUP BY 1, 2) "
        f"SELECT a.row, a.col, CASE WHEN mx > mn THEN (a.value - mn) / (mx - mn) * 100.0 "
        f"ELSE 0.0 END AS value FROM ras_a a JOIN g USING (row, col)"
    )
    return ret


def _overlay2_oracles() -> dict[str, str]:
    """Closed-form rect-algebra oracles for the general overlay queries
    (areas are multiples of 0.000025, so area*40000 is integer-exact)."""
    pre = (
        f"WITH rect_base AS (SELECT shape_id, cx, cy, hw, hh FROM ({_SHAPES_BASE}) "
        f"WHERE kind = 0), "
        f"a AS (SELECT shape_id, cx - hw AS x1, cy - hh AS y1, cx + hw AS x2, "
        f"cy + hh AS y2, 4.0 * hw * hh AS area FROM rect_base), "
        f"b AS (SELECT shape_id + 1000000 AS clip_id, (cx + 17.0) - hw AS x1, "
        f"(cy + 23.0) - hh AS y1, (cx + 17.0) + hw AS x2, (cy + 23.0) + hh AS y2, "
        f"4.0 * hw * hh AS area FROM rect_base), "
        f"p AS (SELECT a.shape_id, b.clip_id, a.area AS aa, b.area AS ab, "
        f"GREATEST(0.0, LEAST(a.x2, b.x2) - GREATEST(a.x1, b.x1)) AS ow, "
        f"GREATEST(0.0, LEAST(a.y2, b.y2) - GREATEST(a.y1, b.y1)) AS oh "
        f"FROM a JOIN b ON a.x1 <= b.x2 AND a.x2 >= b.x1 "
        f"AND a.y1 <= b.y2 AND a.y2 >= b.y1)"
    )
    sc = "CAST(ROUND(({expr}) * 40000.0) AS BIGINT)"
    un_a = (
        "SELECT shape_id, CAST(-1 AS BIGINT) AS clip_id, "
        + sc.format(expr="area")
        + " AS area_scaled FROM a WHERE shape_id NOT IN (SELECT shape_id FROM p)"
    )
    un_b = (
        "SELECT CAST(-1 AS BIGINT) AS shape_id, clip_id, "
        + sc.format(expr="area")
        + " AS area_scaled FROM b WHERE clip_id NOT IN (SELECT clip_id FROM p)"
    )
    return {
        "union_features": (
            f"{pre} SELECT shape_id, clip_id, "
            + sc.format(expr="aa + ab - ow * oh")
            + f" AS area_scaled FROM p UNION ALL {un_a} UNION ALL {un_b}"
        ),
        "symdiff_features": (
            f"{pre} SELECT shape_id, clip_id, "
            + sc.format(expr="aa + ab - 2.0 * ow * oh")
            + " AS area_scaled FROM p WHERE aa + ab - 2.0 * ow * oh > 0.0000125 "
            f"UNION ALL {un_a} UNION ALL {un_b}"
        ),
        "intersect_general": (
            f"{pre} SELECT shape_id, clip_id, "
            + sc.format(expr="ow * oh")
            + " AS area_scaled FROM p WHERE ow > 0.0 AND oh > 0.0"
        ),
        "erase_features": (
            f"{pre} SELECT shape_id, clip_id, "
            + sc.format(expr="aa - ow * oh")
            + f" AS area_scaled FROM p WHERE aa - ow * oh > 0.0000125 UNION ALL {un_a}"
        ),
        "dissolve": (
            "SELECT CAST(range AS BIGINT) AS grp, CAST(1 AS BIGINT) AS n_rings, "
            "CAST(16 AS BIGINT) AS area_scaled, CAST(8 AS BIGINT) AS perimeter "
            "FROM range(0, 16)"
        ),
        "geotiff_roundtrip": _RAS_A_SQL,
        "grid_format_roundtrip": _RAS_A_SQL,
        # ESRI shell orientation: the reader returns the CW-reversed rect
        # ring p0, p3, p2, p1, p0
        "shapefile_roundtrip": (
            f"WITH base AS ({_SHAPES_BASE}), r AS (SELECT "
            f"ROW_NUMBER() OVER (ORDER BY shape_id) AS record_num, "
            f"[{{'x': cx - hw, 'y': cy - hh}}, {{'x': cx - hw, 'y': cy + hh}}, "
            f"{{'x': cx + hw, 'y': cy + hh}}, {{'x': cx + hw, 'y': cy - hh}}, "
            f"{{'x': cx - hw, 'y': cy - hh}}] AS ring FROM base WHERE kind = 0) "
            f"SELECT record_num, CAST(gs.i - 1 AS BIGINT) AS vertex_idx, "
            f"ring[gs.i].x AS x, ring[gs.i].y AS y "
            f"FROM r, generate_series(1, 5) gs(i)"
        ),
        "shapefile_tiles_roundtrip": (
            f"WITH base AS ({_SHAPES_BASE}), r AS (SELECT "
            f"[{{'x': cx - hw, 'y': cy - hh}}, {{'x': cx - hw, 'y': cy + hh}}, "
            f"{{'x': cx + hw, 'y': cy + hh}}, {{'x': cx + hw, 'y': cy - hh}}, "
            f"{{'x': cx - hw, 'y': cy - hh}}] AS ring FROM base WHERE kind = 0) "
            f"SELECT CAST(gs.i - 1 AS BIGINT) AS vertex_idx, "
            f"ring[gs.i].x AS x, ring[gs.i].y AS y "
            f"FROM r, generate_series(1, 5) gs(i)"
        ),
    }


def _pca3_oracle() -> str:
    """Independent DuckDB 3-band PCA: exact integer moments, then the
    CLOSED-FORM trigonometric eigensolver for the symmetric 3x3
    correlation matrix (unit trace: p = sqrt(p1/3), r = det((A-I)/p)/2 =
    a01*a02*a12/p^3, eigenvalues 1 + 2p*cos(phi + 2k*pi/3), already in
    descending order), eigenvectors as the largest cross product of two
    rows of (A - lambda*I), with the engine's sign convention
    (largest-|loading| entry positive, ties lowest band index). Both
    sides ROUND(,4): the two eigen pipelines (LAPACK eigh vs trig) agree
    to ~1e-12 on a well-separated spectrum."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    ras_b = f"ras_b AS ({_RAS_B_SQL})"
    ras_d = f"ras_d AS ({_RAS_D_SQL})"

    def evec(i: int) -> str:
        # cross products of rows of (A - l{i} I); dl = 1 - l{i}
        dl = f"(1.0 - l{i})"
        ux = f"(a01 * a12 - a02 * {dl})"
        uy = f"(a02 * a01 - {dl} * a12)"
        uz = f"({dl} * {dl} - a01 * a01)"
        vx = f"(a01 * {dl} - a02 * a12)"
        vy = f"(a02 * a02 - {dl} * {dl})"
        vz = f"({dl} * a12 - a01 * a02)"
        wx = f"({dl} * {dl} - a12 * a12)"
        wy = f"(a12 * a02 - a01 * {dl})"
        wz = f"(a01 * a12 - {dl} * a02)"
        un = f"({ux} * {ux} + {uy} * {uy} + {uz} * {uz})"
        vn = f"({vx} * {vx} + {vy} * {vy} + {vz} * {vz})"
        wn = f"({wx} * {wx} + {wy} * {wy} + {wz} * {wz})"
        pick = (f"CASE WHEN {un} >= {vn} AND {un} >= {wn} THEN ARRAY[{ux}, {uy}, {uz}] "
                f"WHEN {vn} >= {wn} THEN ARRAY[{vx}, {vy}, {vz}] "
                f"ELSE ARRAY[{wx}, {wy}, {wz}] END")
        src = "lb" if i == 1 else f"e{i - 1}"
        return f"e{i} AS (SELECT *, {pick} AS y{i} FROM {src})"

    # normalization + sign per component
    def loads(i: int) -> str:
        nrm = f"SQRT(y{i}[1] * y{i}[1] + y{i}[2] * y{i}[2] + y{i}[3] * y{i}[3])"
        sgn = (f"(CASE WHEN ABS(y{i}[1]) >= ABS(y{i}[2]) AND ABS(y{i}[1]) >= ABS(y{i}[3]) "
               f"THEN CASE WHEN y{i}[1] < 0 THEN -1.0 ELSE 1.0 END "
               f"WHEN ABS(y{i}[2]) >= ABS(y{i}[3]) "
               f"THEN CASE WHEN y{i}[2] < 0 THEN -1.0 ELSE 1.0 END "
               f"ELSE CASE WHEN y{i}[3] < 0 THEN -1.0 ELSE 1.0 END END)")
        src = "e3" if i == 1 else f"g{i - 1}"
        return (f"g{i} AS (SELECT *, {sgn} * y{i}[1] / ({nrm}) AS g{i}0, "
                f"{sgn} * y{i}[2] / ({nrm}) AS g{i}1, "
                f"{sgn} * y{i}[3] / ({nrm}) AS g{i}2 FROM {src})")

    pcs = ", ".join(
        f"ROUND(g{i}0 * ((x0 - m0) / d0) + g{i}1 * ((x1 - m1) / d1) "
        f"+ g{i}2 * ((x2 - m2) / d2), 4) AS pc{i}"
        for i in (1, 2, 3))
    return (
        f"WITH {ras_a}, {ras_b}, {ras_d}, "
        f"j AS (SELECT a.row, a.col, a.value AS x0, b.value AS x1, d.value AS x2 "
        f"FROM ras_a a JOIN ras_b b USING (row, col) JOIN ras_d d USING (row, col)), "
        f"mo AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
        f"SUM(x0) AS s0, SUM(x1) AS s1, SUM(x2) AS s2, "
        f"SUM(x0 * x0) AS s00, SUM(x0 * x1) AS s01, SUM(x0 * x2) AS s02, "
        f"SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12, SUM(x2 * x2) AS s22 FROM j), "
        f"cv AS (SELECT n, s0 / n AS m0, s1 / n AS m1, s2 / n AS m2, "
        f"s00 / n - (s0 / n) * (s0 / n) AS c00, "
        f"s01 / n - (s0 / n) * (s1 / n) AS c01, "
        f"s02 / n - (s0 / n) * (s2 / n) AS c02, "
        f"s11 / n - (s1 / n) * (s1 / n) AS c11, "
        f"s12 / n - (s1 / n) * (s2 / n) AS c12, "
        f"s22 / n - (s2 / n) * (s2 / n) AS c22 FROM mo), "
        f"co AS (SELECT m0, m1, m2, SQRT(c00) AS d0, SQRT(c11) AS d1, SQRT(c22) AS d2, "
        f"c01 / (SQRT(c00) * SQRT(c11)) AS a01, "
        f"c02 / (SQRT(c00) * SQRT(c22)) AS a02, "
        f"c12 / (SQRT(c11) * SQRT(c22)) AS a12 FROM cv), "
        f"ei AS (SELECT *, SQRT((a01 * a01 + a02 * a02 + a12 * a12) / 3.0) AS p FROM co), "
        f"ph AS (SELECT *, ACOS(LEAST(GREATEST((a01 * a02 * a12) / (p * p * p), -1.0), 1.0)) / 3.0 AS phi FROM ei), "
        f"lb AS (SELECT *, 1.0 + 2.0 * p * COS(phi) AS l1, "
        f"3.0 - (1.0 + 2.0 * p * COS(phi)) - (1.0 + 2.0 * p * COS(phi + 2.0 * PI() / 3.0)) AS l2, "
        f"1.0 + 2.0 * p * COS(phi + 2.0 * PI() / 3.0) AS l3 FROM ph), "
        f"{evec(1)}, {evec(2)}, {evec(3)}, "
        f"{loads(1)}, {loads(2)}, {loads(3)} "
        f"SELECT j.row, j.col, {pcs} FROM j, g3"
    )


def _stats2_oracles() -> dict[str, str]:
    """Oracles for the round-2 nodata/position/stats tools (identical
    expression text; every aggregate is an exact integer-unit sum)."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    ras_b = f"ras_b AS ({_RAS_B_SQL})"
    nd = ("nd AS (SELECT row, col, CASE WHEN value < 10.0 THEN -32768.0 "
          "ELSE value END AS value FROM ras_a)")
    xc = _META100.x_center_expr("col")
    yc = _META100.y_center_expr("row")
    import math as _m

    tan_g = _m.tan(_m.radians(12.0))
    sin_a = _m.sin(_m.radians(70.0))
    cos_a = _m.cos(_m.radians(70.0))
    x40 = _META40.x_center_expr("col")
    y40 = _META40.y_center_expr("row")
    det = ("(n * (sxx * syy - sxy * sxy) - sx * (sx * syy - sxy * sy) "
           "+ sy * (sx * sxy - sxx * sy))")
    b0 = (f"(sz * (sxx * syy - sxy * sxy) - sx * (sxz * syy - sxy * syz) "
          f"+ sy * (sxz * sxy - sxx * syz)) / {det}")
    b1 = (f"(n * (sxz * syy - sxy * syz) - sz * (sx * syy - sxy * sy) "
          f"+ sy * (sx * syz - sxz * sy)) / {det}")
    b2 = (f"(n * (sxx * syz - sxz * sxy) - sx * (sx * syz - sxz * sy) "
          f"+ sz * (sx * sxy - sxx * sy)) / {det}")
    return {
        "is_nodata": (
            f"WITH {ras_a}, {nd} SELECT row, col, CAST(CASE WHEN value = -32768.0 "
            f"THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value FROM nd"
        ),
        "update_nodata": (
            f"WITH {ras_a}, {ras_b}, {nd} SELECT nd.row, nd.col, "
            f"CASE WHEN nd.value = -32768.0 THEN COALESCE(b.value, -32768.0) "
            f"ELSE nd.value END AS value FROM nd LEFT JOIN ras_b b USING (row, col)"
        ),
        "convert_nodata": (
            f"WITH {ras_a}, {nd} SELECT row, col, CASE WHEN value = -32768.0 "
            f"THEN 0.0 ELSE value END AS value FROM nd"
        ),
        "cell_assign_x": (
            f"WITH {ras_a} SELECT row, col, {xc} AS value FROM ras_a"
        ),
        "create_plane": (
            # e0 suffix: DuckDB parses bare decimal literals as DECIMAL,
            # which rounds these 17-digit constants; the exponent form
            # parses as DOUBLE like Spark
            f"SELECT a.range AS row, b.range AS col, "
            f"({tan_g!r}e0 * ({sin_a!r}e0 * ({x40.replace('col', 'b.range')}) "
            f"+ {cos_a!r}e0 * ({y40.replace('row', 'a.range')})) + 5.0) AS value "
            f"FROM range(0, 40) a, range(0, 40) b"
        ),
        "find_low_high": (
            f"WITH {ras_a}, "
            f"lo AS (SELECT 'lowest' AS kind, {xc} AS x, {yc} AS y, value "
            f"FROM ras_a ORDER BY value, row, col LIMIT 1), "
            f"hi AS (SELECT 'highest' AS kind, {xc} AS x, {yc} AS y, value "
            f"FROM ras_a ORDER BY value DESC, row, col LIMIT 1) "
            f"SELECT * FROM lo UNION ALL SELECT * FROM hi"
        ),
        "lowest_position": (
            f"WITH {ras_a}, st AS (SELECT row, col, value AS v, 1 AS li FROM ras_a "
            f"UNION ALL SELECT row, col, value * 2.0 - 50.0 AS v, 2 AS li FROM ras_a) "
            f"SELECT row, col, CAST(li AS DOUBLE) AS value FROM st "
            f"QUALIFY ROW_NUMBER() OVER (PARTITION BY row, col ORDER BY v, li) = 1"
        ),
        "percent_gt": (
            f"WITH {ras_a}, {ras_b}, st AS (SELECT row, col, value AS v FROM ras_a "
            f"UNION ALL SELECT row, col, value * 2.0 AS v FROM ras_a) "
            f"SELECT st.row, st.col, CAST(SUM(CASE WHEN st.v > b.value THEN 1 ELSE 0 END) "
            f"AS DOUBLE) / COUNT(st.v) * 100.0 AS value "
            f"FROM st JOIN ras_b b USING (row, col) GROUP BY 1, 2"
        ),
        "ground_filter": (
            f"WITH pts AS ({_PTS_SQL}), sub AS (SELECT * FROM pts WHERE record_num % 10 = 0), "
            f"off AS (SELECT DISTINCT a.record_num FROM sub a JOIN sub b "
            f"ON a.record_num <> b.record_num "
            f"AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 900.0 "
            f"AND (a.value - b.value) >= 50.0 "
            f"AND (a.value - b.value) / SQRT((a.x - b.x) * (a.x - b.x) "
            f"+ (a.y - b.y) * (a.y - b.y)) > 0.5773502691896257e0) "
            f"SELECT p.record_num, CAST(CASE WHEN o.record_num IS NOT NULL THEN 1 ELSE 2 END "
            f"AS INT) AS classification FROM sub p LEFT JOIN off o USING (record_num)"
        ),
        "lidar_sort_time": (
            f"WITH pts AS ({_PTS_SQL}) SELECT record_num, "
            f"CAST(ROW_NUMBER() OVER (ORDER BY value, record_num) AS BIGINT) AS sort_index "
            f"FROM pts"
        ),
        "anova": (
            f"WITH {ras_a}, {ras_b}, "
            f"j AS (SELECT a.value AS x, FLOOR(b.value / 100.0) AS zone "
            f"FROM ras_a a JOIN ras_b b USING (row, col)), "
            f"g AS (SELECT zone, COUNT(*) AS n, SUM(x) AS s1, SUM(x * x) AS s2 "
            f"FROM j GROUP BY 1), "
            f"t AS (SELECT COUNT(*) AS k, SUM(n) AS n, SUM(s1) AS ts1, SUM(s2) AS ts2, "
            f"SUM(s1 * s1 / n) AS sgroup FROM g) "
            f"SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n, "
            f"(sgroup - ts1 * ts1 / n) AS ss_between, (ts2 - sgroup) AS ss_within, "
            f"((sgroup - ts1 * ts1 / n) / NULLIF(k - 1, 0)) / NULLIF((ts2 - sgroup) / NULLIF(n - k, 0), 0.0) AS f_stat "
            f"FROM t"
        ),
        "wilcoxon": (
            f"WITH {ras_a}, {ras_b}, "
            f"d AS (SELECT a.value - b.value AS d FROM ras_a a JOIN ras_b b USING (row, col) "
            f"WHERE a.value - b.value <> 0.0), "
            f"g AS (SELECT ABS(d) AS ad, COUNT(*) AS cnt, "
            f"SUM(CASE WHEN d > 0.0 THEN 1 ELSE 0 END) AS npos FROM d GROUP BY 1), "
            f"c AS (SELECT ad, cnt, npos, SUM(cnt) OVER (ORDER BY ad) AS cum FROM g), "
            f"r AS (SELECT cnt, npos, (CAST(cum - cnt + 1 AS DOUBLE) + CAST(cum AS DOUBLE)) "
            f"/ 2.0 AS midrank FROM c), "
            f"t AS (SELECT SUM(cnt) AS n, SUM(midrank * npos) AS w_plus, "
            f"SUM(midrank * (cnt - npos)) AS w_minus FROM r) "
            f"SELECT CAST(n AS BIGINT) AS n, w_plus, w_minus, "
            f"LEAST(w_plus, w_minus) AS w, "
            f"(LEAST(w_plus, w_minus) - CAST(n * (n + 1) AS DOUBLE) / 4.0) "
            f"/ SQRT(CAST(n * (n + 1) AS DOUBLE) * CAST(2 * n + 1 AS DOUBLE) / 24.0) AS z_stat "
            f"FROM t"
        ),
        "trend_surface": (
            f"WITH {ras_a}, "
            f"p AS (SELECT row, col, {xc} AS x, {yc} AS y, value AS z FROM ras_a), "
            f"m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx, "
            f"SUM(x * y) AS sxy, SUM(y * y) AS syy, SUM(z) AS sz, SUM(x * z) AS sxz, "
            f"SUM(y * z) AS syz FROM p), "
            f"cf AS (SELECT {b0} AS b0, {b1} AS b1, {b2} AS b2 FROM m) "
            f"SELECT p.row, p.col, (cf.b0 + cf.b1 * p.x + cf.b2 * p.y) AS value "
            f"FROM p, cf"
        ),
        "trend_surface_points": (
            f"WITH pts AS ({_TSP_SQL}), "
            f"p AS (SELECT x, y, value AS z FROM pts), "
            f"m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx, "
            f"SUM(x * y) AS sxy, SUM(y * y) AS syy, SUM(z) AS sz, SUM(x * z) AS sxz, "
            f"SUM(y * z) AS syz FROM p), "
            f"cf AS (SELECT {b0} AS b0, {b1} AS b1, {b2} AS b2 FROM m), "
            f"g AS (SELECT a.range AS row, b.range AS col "
            f"FROM range(0, 40) a, range(0, 40) b) "
            f"SELECT g.row, g.col, (cf.b0 + cf.b1 * {x40} + cf.b2 * {y40}) AS value "
            f"FROM g, cf"
        ),
        "max_elev_dev": (
            f"WITH {ras_a}, "
            f"o1 AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),"
            f"(1,-1),(1,0),(1,1)) o(dr, dc)), "
            f"o2 AS (SELECT a.range - 2 AS dr, b.range - 2 AS dc "
            f"FROM range(0, 5) a, range(0, 5) b), "
            f"d1 AS (SELECT s.row, s.col, a.value, g.n, g.s1, g.s2 FROM ras_a a "
            f"JOIN (SELECT a.row + o.dr AS row, a.col + o.dc AS col, "
            f"COUNT(*) AS n, SUM(a.value) AS s1, SUM(a.value * a.value) AS s2 "
            f"FROM ras_a a, o1 o GROUP BY 1, 2) g ON g.row = a.row AND g.col = a.col "
            f"JOIN (SELECT row, col FROM ras_a) s ON s.row = a.row AND s.col = a.col), "
            f"d2 AS (SELECT s.row, s.col, a.value, g.n, g.s1, g.s2 FROM ras_a a "
            f"JOIN (SELECT a.row + o.dr AS row, a.col + o.dc AS col, "
            f"COUNT(*) AS n, SUM(a.value) AS s1, SUM(a.value * a.value) AS s2 "
            f"FROM ras_a a, o2 o GROUP BY 1, 2) g ON g.row = a.row AND g.col = a.col "
            f"JOIN (SELECT row, col FROM ras_a) s ON s.row = a.row AND s.col = a.col), "
            f"devs AS (SELECT row, col, CASE WHEN (s2 - s1 * s1 / n) > 0.0 THEN "
            f"(value - s1 / n) / SQRT((s2 - s1 * s1 / n) / (n - 1)) ELSE 0.0 END AS dev, "
            f"CAST(1 AS INT) AS scale FROM d1 "
            f"UNION ALL SELECT row, col, CASE WHEN (s2 - s1 * s1 / n) > 0.0 THEN "
            f"(value - s1 / n) / SQRT((s2 - s1 * s1 / n) / (n - 1)) ELSE 0.0 END AS dev, "
            f"CAST(2 AS INT) AS scale FROM d2) "
            f"SELECT row, col, dev AS value, scale FROM devs "
            f"QUALIFY ROW_NUMBER() OVER (PARTITION BY row, col "
            f"ORDER BY -ABS(dev), scale) = 1"
        ),
        "resample_bilinear": (
            f"WITH {ras_a}, "
            f"d AS (SELECT a.range AS drow, b.range AS dcol, "
            f"GREATEST(LEAST(CAST(FLOOR((((0.0 + (CAST(b.range AS DOUBLE) + 0.5) * 25.0) - 0.0) / 10.0 - 0.5)) AS BIGINT), 98), 0) AS c0, "
            f"GREATEST(LEAST(CAST(FLOOR(((1000.0 - (1000.0 - (CAST(a.range AS DOUBLE) + 0.5) * 25.0)) / 10.0 - 0.5)) AS BIGINT), 98), 0) AS r0, "
            f"GREATEST(LEAST((((0.0 + (CAST(b.range AS DOUBLE) + 0.5) * 25.0) - 0.0) / 10.0 - 0.5), CAST(99 AS DOUBLE)), 0.0) AS fx, "
            f"GREATEST(LEAST(((1000.0 - (1000.0 - (CAST(a.range AS DOUBLE) + 0.5) * 25.0)) / 10.0 - 0.5), CAST(99 AS DOUBLE)), 0.0) AS fy "
            f"FROM range(0, 40) a, range(0, 40) b), "
            f"st AS (SELECT drow, dcol, c0, r0, fx - c0 AS tx, fy - r0 AS ty FROM d) "
            f"SELECT st.drow AS row, st.dcol AS col, "
            f"(v00.value * (1.0 - tx) * (1.0 - ty) + v01.value * tx * (1.0 - ty) "
            f"+ v10.value * (1.0 - tx) * ty + v11.value * tx * ty) AS value "
            f"FROM st "
            f"LEFT JOIN ras_a v00 ON v00.row = st.r0 + 0 AND v00.col = st.c0 + 0 "
            f"LEFT JOIN ras_a v01 ON v01.row = st.r0 + 0 AND v01.col = st.c0 + 1 "
            f"LEFT JOIN ras_a v10 ON v10.row = st.r0 + 1 AND v10.col = st.c0 + 0 "
            f"LEFT JOIN ras_a v11 ON v11.row = st.r0 + 1 AND v11.col = st.c0 + 1"
        ),
        "pca": (
            f"WITH {ras_a}, {ras_b}, "
            f"j AS (SELECT a.row, a.col, a.value AS x, b.value AS y "
            f"FROM ras_a a JOIN ras_b b USING (row, col)), "
            f"m AS (SELECT SUM(x) / COUNT(*) AS mx, SUM(y) / COUNT(*) AS my, "
            f"SQRT((SUM(x * x) - SUM(x) * SUM(x) / COUNT(*)) / COUNT(*)) AS sdx, "
            f"SQRT((SUM(y * y) - SUM(y) * SUM(y) / COUNT(*)) / COUNT(*)) AS sdy FROM j) "
            f"SELECT j.row, j.col, "
            f"((j.x - m.mx) / m.sdx + (j.y - m.my) / m.sdy) / SQRT(2.0) AS pc1, "
            f"((j.x - m.mx) / m.sdx - (j.y - m.my) / m.sdy) / SQRT(2.0) AS pc2 "
            f"FROM j, m"
        ),
    }


def _contour_oracle() -> str:
    """Independent DuckDB marching squares: 4-way self-join quads, the
    same case table and edge-interpolation expression text as the
    kernel (identical IEEE sequences -> bit-exact segments)."""
    xc = lambda c: f"(0.0 + (CAST({c} AS DOUBLE) + 0.5) * 10.0)"
    yr = lambda r: f"(1000.0 - (CAST({r} AS DOUBLE) + 0.5) * 10.0)"

    def edge(e):
        if e == 0:
            return ("q.tl", "q.tr", xc("q.c"), yr("q.r"), xc("q.c + 1"), yr("q.r"))
        if e == 2:
            return ("q.bl", "q.br", xc("q.c"), yr("q.r + 1"), xc("q.c + 1"), yr("q.r + 1"))
        if e == 3:
            return ("q.tl", "q.bl", xc("q.c"), yr("q.r"), xc("q.c"), yr("q.r + 1"))
        return ("q.tr", "q.br", xc("q.c + 1"), yr("q.r"), xc("q.c + 1"), yr("q.r + 1"))

    def pt(e):
        a, b, xa, ya, xb, yb = edge(e)
        t = f"((q.level - {a}) / ({b} - {a}))"
        return (f"({xa} + {t} * ({xb} - {xa}))", f"({ya} + {t} * ({yb} - {ya}))")

    from whitebox_tools_spark.operators.contours import _MS_CASES

    def seg_struct(ea, eb):
        (px, py), (qx, qy) = pt(ea), pt(eb)
        return (f"{{'x1': {px}, 'y1': {py}, 'x2': {qx}, 'y2': {qy}}}")

    branches = []
    for case, segs in sorted(_MS_CASES.items()):
        if not segs:
            continue
        lst = "[" + ", ".join(seg_struct(ea, eb) for ea, eb in segs) + "]"
        branches.append(f"WHEN q.cs = {case} THEN {lst}")
    case_expr = "CASE " + " ".join(branches) + " ELSE [] END"
    return (
        f"WITH ras_a AS ({_RAS_A_SQL}), "
        f"lv AS (SELECT CAST(k.range AS DOUBLE) * 100.0e0 AS level FROM range(1, 10) k), "
        f"qd AS (SELECT a.row AS r, a.col AS c, a.value AS tl, b.value AS tr, "
        f"c2.value AS bl, d.value AS br FROM ras_a a "
        f"JOIN ras_a b ON b.row = a.row AND b.col = a.col + 1 "
        f"JOIN ras_a c2 ON c2.row = a.row + 1 AND c2.col = a.col "
        f"JOIN ras_a d ON d.row = a.row + 1 AND d.col = a.col + 1), "
        f"q0 AS (SELECT lv.level, qd.*, "
        f"(CASE WHEN qd.tl >= lv.level THEN 8 ELSE 0 END "
        f"+ CASE WHEN qd.tr >= lv.level THEN 4 ELSE 0 END "
        f"+ CASE WHEN qd.br >= lv.level THEN 2 ELSE 0 END "
        f"+ CASE WHEN qd.bl >= lv.level THEN 1 ELSE 0 END) AS cs "
        f"FROM lv, qd), "
        f"segs AS (SELECT q.level, unnest({case_expr}) AS s "
        f"FROM (SELECT level, cs, r, c, tl, tr, bl, br FROM q0) q), "
        f"pts AS (SELECT level, s.x1, s.y1, s.x2, s.y2 FROM segs "
        f"WHERE NOT (s.x1 = s.x2 AND s.y1 = s.y2)) "
        f"SELECT level, "
        f"CASE WHEN (x1, y1) <= (x2, y2) THEN x1 ELSE x2 END AS ax, "
        f"CASE WHEN (x1, y1) <= (x2, y2) THEN y1 ELSE y2 END AS ay, "
        f"CASE WHEN (x1, y1) <= (x2, y2) THEN x2 ELSE x1 END AS bx, "
        f"CASE WHEN (x1, y1) <= (x2, y2) THEN y2 ELSE y1 END AS by "
        f"FROM pts"
    )


def _aspect_value_expr() -> str:
    """Aspect formula text over z0..z24 (the same expression FO.aspect
    builds; regenerated here for the DuckDB dialect oracle)."""
    res = (_META100.resolution_x + _META100.resolution_y) / 2.0
    p, q = FO._florinsky_pq(res)
    sp = f"SIGN({p})"
    sq = f"SIGN({q})"
    formula = (f"(-90.0 * (1.0 - {sq}) * (1.0 - ABS({sp})) + 180.0 * (1.0 + {sp}) "
               f"- 180.0 / PI() * {sp} * ACOS(-({q}) / SQRT({p} * {p} + {q} * {q})))")
    return f"CASE WHEN {p} <> 0.0 THEN {formula} ELSE -1.0 END"


def _terrain2_oracles() -> dict[str, str]:
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    offs25 = "offs25 AS (SELECT * FROM (VALUES " + ", ".join(
        f"({n}, {n // 5 - 2}, {n % 5 - 2})" for n in range(25)
    ) + ") o(n, dr, dc))"
    sc25 = ("sc25 AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, o.n AS n, "
            "a.value AS nv FROM ras_a a, offs25 o)")
    piv_cols = ", ".join(f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}" for n in range(25))
    zz_cols = ", ".join(f"(COALESCE(z_{n}, z_12) * 1.0) AS z{n}" for n in range(25))
    pivot5 = (f"{offs25}, {sc25}, "
              f"piv AS (SELECT row, col, {piv_cols} FROM sc25 GROUP BY 1, 2), "
              f"zz AS (SELECT row, col, {zz_cols} FROM piv WHERE z_12 IS NOT NULL)")
    azs = [225.0, 270.0, 315.0, 360.0]
    ws = [0.1, 0.4, 0.4, 0.1]
    terms = " + ".join(
        f"{w!r} * ({FO.hillshade_value_expr(_META100, az, 30.0)})"
        for az, w in zip(azs, ws)
    )
    # pennock: 3x3 D8 pivot + the exact class CASE (shared text)
    d8_dx = [1, 1, 1, 0, -1, -1, -1, 0]
    d8_dy = [-1, 0, 1, 1, 1, 0, -1, -1]
    offs9 = "offs9 AS (SELECT * FROM (VALUES " + ", ".join(
        f"({i}, {d8_dy[i]}, {d8_dx[i]})" for i in range(8)
    ) + ", (8, 0, 0)) o(n, dr, dc))"
    sc9 = ("sc9 AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, o.n AS n, "
           "a.value AS nv FROM ras_a a, offs9 o)")
    p9cols = ", ".join(f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8))
    pivot9 = (f"{offs9}, {sc9}, "
              f"p9 AS (SELECT row, col, {p9cols}, "
              f"MAX(CASE WHEN n = 8 THEN nv END) AS zc FROM sc9 GROUP BY 1, 2), "
              f"z9 AS (SELECT * FROM p9 WHERE zc IS NOT NULL)")
    res = (_META100.resolution_x + _META100.resolution_y) / 2.0
    c2, cs2, fcs2, egr = 2.0 * res, res * res, 4.0 * res * res, 8.0 * res
    zx = f"((zn_1 - zn_5) / {c2!r})"
    zy = f"((zn_7 - zn_3) / {c2!r})"
    zxx = f"((zn_1 - 2.0 * zc + zn_5) / {cs2!r})"
    zyy = f"((zn_7 - 2.0 * zc + zn_3) / {cs2!r})"
    zxy = f"((-zn_6 + zn_0 + zn_4 - zn_2) / {fcs2!r})"
    pp = f"({zx} * {zx} + {zy} * {zy})"
    qq = f"({pp} + 1.0)"
    fy = f"((zn_6 - zn_4 + 2.0 * (zn_7 - zn_3) + zn_0 - zn_2) / {egr!r})"
    fx = f"((zn_2 - zn_4 + 2.0 * (zn_1 - zn_5) + zn_0 - zn_6) / {egr!r})"
    slope = f"DEGREES(ATAN(SQRT({fx} * {fx} + {fy} * {fy})))"
    plan = (f"(-1.0 * DEGREES(({zxx} * {zy} * {zy} - 2.0 * {zxy} * {zx} * {zy} "
            f"+ {zyy} * {zx} * {zx}) / ({pp} * POWER({qq}, 1.5))))")
    prof = (f"(-1.0 * DEGREES(({zxx} * {zx} * {zx} - 2.0 * {zxy} * {zx} * {zy} "
            f"+ {zyy} * {zy} * {zy}) / ({pp} * POWER({qq}, 1.5))))")
    st, pt, lt = 3.0, 0.1, 0.0
    cls = (
        f"CASE WHEN {prof} < -{pt!r} AND {plan} <= -{lt!r} AND {slope} > {st!r} THEN 1.0 "
        f"WHEN {prof} < -{pt!r} AND {plan} > {lt!r} AND {slope} > {st!r} THEN 2.0 "
        f"WHEN {prof} > {pt!r} AND {plan} <= {lt!r} AND {slope} > {st!r} THEN 3.0 "
        f"WHEN {prof} > {pt!r} AND {plan} > {lt!r} AND {slope} > {st!r} THEN 4.0 "
        f"WHEN {prof} >= -{pt!r} AND {prof} < {pt!r} AND {slope} > {st!r} AND {plan} <= -{lt!r} THEN 5.0 "
        f"WHEN {prof} >= -{pt!r} AND {prof} < {pt!r} AND {slope} > {st!r} AND {plan} > {lt!r} THEN 6.0 "
        f"WHEN {slope} <= {st!r} THEN 7.0 ELSE -32768.0 END"
    )
    all_nbrs = " AND ".join(f"zn_{i} IS NOT NULL" for i in range(8))
    return {
        "multidir_hillshade": (
            f"WITH {ras_a}, {pivot5} SELECT row, col, ROUND({terms}) AS value FROM zz"
        ),
        "pennock": (
            f"WITH {ras_a}, {pivot9} SELECT row, col, "
            f"CASE WHEN ({all_nbrs}) AND {pp} > 0.0 THEN ({cls}) "
            f"ELSE -32768.0 END AS value FROM z9"
        ),
    }


def _morph_oracles() -> dict[str, str]:
    """Oracles for the boolean-morphology / mosaic / pan-sharpen batch."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    ras_b = f"ras_b AS ({_RAS_B_SQL})"
    ras_d = f"ras_d AS ({_RAS_D_SQL})"
    img100 = f"img AS (SELECT row, col, {_BOOL_IMG} AS value FROM ras_a)"

    offs = ", ".join(
        f"({i}, {FO._D8_DY[i]}, {FO._D8_DX[i]})" for i in range(8)
    ) + ", (8, 0, 0)"
    piv_cols = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8)
    ) + ", MAX(CASE WHEN n = 8 THEN nv END) AS zc"

    def pivot_of(src: str) -> str:
        return (
            f"offs8 AS (SELECT * FROM (VALUES {offs}) o(n, dy, dx)), "
            f"sc8 AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, o.n AS n, "
            f"a.value AS nv FROM {src} a, offs8 o), "
            f"piv AS (SELECT row, col, {piv_cols} FROM sc8 GROUP BY 1, 2)"
        )

    b = [f"(COALESCE(zn_{i}, 0.0) > 0.0)" for i in range(8)]
    tmpl = " OR ".join(
        "(" + " AND ".join(
            [b[t[0]], b[t[1]]] + [f"NOT {b[t[j]]}" for j in (2, 3, 4)]
        ) + ")"
        for t in FO.CORNER_TEMPLATES
    )
    corner = (
        f"WITH {ras_a}, {img100}, {pivot_of('img')} "
        f"SELECT row, col, CAST(CASE WHEN zc > 0.0 AND ({tmpl}) "
        f"THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value FROM piv WHERE zc IS NOT NULL"
    )

    # remove_spurs: 2 simultaneous pruning rounds over the 40x40 image
    nbrs = " + ".join(
        f"CASE WHEN COALESCE(zn_{i}, 0.0) > 0.0 THEN 1 ELSE 0 END"
        for i in range(8))
    spur_ctes = [f"ras_c AS ({_RAS_C_SQL})",
                 f"r0 AS (SELECT row, col, {_BOOL_IMG} AS value FROM ras_c)",
                 f"offs8 AS (SELECT * FROM (VALUES {offs}) o(n, dy, dx))"]
    for i in range(2):
        spur_ctes.append(
            f"sc{i} AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, o.n AS n, "
            f"a.value AS nv FROM r{i} a, offs8 o)")
        spur_ctes.append(
            f"p{i} AS (SELECT row, col, {piv_cols} FROM sc{i} GROUP BY 1, 2)")
        spur_ctes.append(
            f"r{i + 1} AS (SELECT row, col, CAST(CASE WHEN zc > 0.0 AND ({nbrs}) <= 1 "
            f"THEN 0.0 ELSE zc END AS DOUBLE) AS value FROM p{i} WHERE zc IS NOT NULL)")
    spurs = f"WITH {', '.join(spur_ctes)} SELECT row, col, value FROM r2"

    # thicken: 2x2 pivot, deterministic diagonal fills
    offs4 = ("offs4 AS (SELECT * FROM (VALUES (0, 0, 0), (1, 0, 1), "
             "(2, 1, 0), (3, 1, 1)) o(n, dr, dc))")
    q_cols = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS q{i}" for i in range(4))
    fgq = [f"(COALESCE(q{i}, 0.0) > 0.0)" for i in range(4)]
    fill_here = f"({fgq[1]} AND {fgq[2]} AND NOT {fgq[0]} AND NOT {fgq[3]})"
    fill_east = f"({fgq[0]} AND {fgq[3]} AND NOT {fgq[1]} AND NOT {fgq[2]})"
    thicken = (
        f"WITH {ras_a}, {img100}, {offs4}, "
        f"sc4 AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, o.n AS n, "
        f"a.value AS nv FROM img a, offs4 o), "
        f"piv AS (SELECT row, col, {q_cols} FROM sc4 GROUP BY 1, 2), "
        f"add AS (SELECT CASE WHEN {fill_here} THEN row ELSE row END AS row, "
        f"CASE WHEN {fill_here} THEN col ELSE col + 1 END AS col, 1.0 AS value "
        f"FROM piv WHERE {fill_here} OR {fill_east}) "
        f"SELECT row, col, MAX(value) AS value FROM "
        f"(SELECT row, col, value FROM img UNION ALL SELECT * FROM add) u "
        f"GROUP BY 1, 2"
    )

    # mosaic with feathering: brute-force edge distances
    cx = _META100.x_center_expr("col")
    cy = _META100.y_center_expr("row")
    wp = "d1 * d1 * d1 * d1"
    wq = "d2 * d2 * d2 * d2"
    feather = (
        f"WITH {ras_a}, {ras_b}, "
        f"ia AS (SELECT row, col, value FROM ras_a WHERE col < 60), "
        f"ib AS (SELECT row, col, value FROM ras_b WHERE col >= 40), "
        f"grid AS (SELECT a.range AS row, b.range AS col "
        f"FROM range(0, 100) a, range(0, 100) b), "
        f"oa AS MATERIALIZED (SELECT {cx} AS tx, {cy} AS ty FROM grid WHERE col >= 60), "
        f"ob AS MATERIALIZED (SELECT {cx} AS tx, {cy} AS ty FROM grid WHERE col < 40), "
        f"da AS MATERIALIZED (SELECT i.row, i.col, SQRT(MIN((({cx}) - tx) * (({cx}) - tx) "
        f"+ (({cy}) - ty) * (({cy}) - ty))) AS d1 FROM ia i, oa GROUP BY 1, 2), "
        f"db AS MATERIALIZED (SELECT i.row, i.col, SQRT(MIN((({cx}) - tx) * (({cx}) - tx) "
        f"+ (({cy}) - ty) * (({cy}) - ty))) AS d2 FROM ib i, ob GROUP BY 1, 2), "
        f"j AS (SELECT COALESCE(ia.row, ib.row) AS row, "
        f"COALESCE(ia.col, ib.col) AS col, ia.value AS v1, ib.value AS v2 "
        f"FROM ia FULL JOIN ib ON ia.row = ib.row AND ia.col = ib.col) "
        f"SELECT j.row, j.col, CASE WHEN v1 IS NULL THEN v2 "
        f"WHEN v2 IS NULL THEN v1 "
        f"ELSE v1 * (({wp}) / (({wp}) + ({wq}))) "
        f"+ v2 * (1.0 - (({wp}) / (({wp}) + ({wq})))) END AS value "
        f"FROM j LEFT JOIN da ON j.row = da.row AND j.col = da.col "
        f"LEFT JOIN db ON j.row = db.row AND j.col = db.col"
    )

    pan = (
        f"WITH {ras_a}, {ras_b}, {ras_d}, "
        f"j AS (SELECT a.row, a.col, a.value AS __r, b.value AS __g, "
        f"d.value AS __b, a2.value AS __p "
        f"FROM ras_a a JOIN ras_b b USING (row, col) "
        f"JOIN ras_d d USING (row, col) JOIN ras_a a2 USING (row, col)) "
        f"SELECT row, col, "
        f"__r * __p / NULLIF((__r + __g + __b) / 3.0, 0.0) AS r, "
        f"__g * __p / NULLIF((__r + __g + __b) / 3.0, 0.0) AS g, "
        f"__b * __p / NULLIF((__r + __g + __b) / 3.0, 0.0) AS b FROM j"
    )

    r100y = _META100.row_from_y_expr("y")
    c100x = _META100.col_from_x_expr("x")
    colourize = (
        f"WITH pts AS ({_PTS_SQL}), {ras_a}, {ras_b}, {ras_d}, "
        f"m AS (SELECT record_num, x, y, {r100y} AS row, {c100x} AS col FROM pts) "
        f"SELECT m.record_num, m.x, m.y, a.value AS red, b.value AS green, "
        f"d.value AS blue "
        f"FROM m LEFT JOIN ras_a a ON m.row = a.row AND m.col = a.col "
        f"LEFT JOIN ras_b b ON m.row = b.row AND m.col = b.col "
        f"LEFT JOIN ras_d d ON m.row = d.row AND m.col = d.col"
    )
    return {
        "lidar_colourize": colourize,
        "corner_detect": corner,
        "remove_spurs": spurs,
        "thicken": thicken,
        "mosaic_feather": feather,
        "pan_sharpen": pan,
    }


def _vector2_oracles() -> dict[str, str]:
    """Oracles for the round-2 continuation vector ops. Rings use the
    same derived-coordinate literals as the other shape oracles; folds
    mirror the Spark AGGREGATE text with list_reduce/list_prepend."""
    base = f"base AS ({_SHAPES_BASE})"
    rings = (f"WITH {base}, "
             f"rs AS (SELECT shape_id, CASE WHEN kind = 0 THEN {_RECT_DUCK} "
             f"ELSE {_DIAM_DUCK} END AS ring FROM base)")

    d = "3.0"

    def shift(pt, a, b, axis):
        ln = (f"SQRT(({b}.x - {a}.x) * ({b}.x - {a}.x) + "
              f"({b}.y - {a}.y) * ({b}.y - {a}.y))")
        return f"{pt}.{axis} + {d} * ({b}.{axis} - {a}.{axis}) / {ln}"

    hx = shift("ring[1]", "ring[2]", "ring[1]", "x")
    hy = shift("ring[1]", "ring[2]", "ring[1]", "y")
    tx_ = shift("ring[5]", "ring[4]", "ring[5]", "x")
    ty_ = shift("ring[5]", "ring[4]", "ring[5]", "y")
    extend = (
        rings + " SELECT shape_id, CAST(0 AS INT) AS part_idx, "
        "CAST(i - 1 AS INT) AS node_idx, "
        f"CASE WHEN i = 1 THEN {hx} WHEN i = 5 THEN {tx_} ELSE ring[i].x END AS x, "
        f"CASE WHEN i = 1 THEN {hy} WHEN i = 5 THEN {ty_} ELSE ring[i].y END AS y "
        "FROM rs JOIN (VALUES (1), (2), (3), (4), (5)) v(i) ON TRUE"
    )

    verts = "list_slice(ring, 1, len(ring) - 1)"
    n = f"CAST(len({verts}) AS DOUBLE)"

    def fold(term):
        return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                f"list_transform({verts}, v -> {term})), (acc, v) -> acc + v)")

    sx, sy = fold("v.x"), fold("v.y")
    sxx, syy = fold("v.x * v.x"), fold("v.y * v.y")
    rog = (
        rings + f" SELECT shape_id, SQRT((({sxx}) - ({sx}) * ({sx}) / {n} "
        f"+ ({syy}) - ({sy}) * ({sy}) / {n}) / {n}) AS rog FROM rs"
    )

    ncols_r = int(__import__("math").ceil(1000.01 / 64.0))
    nrows_r = int(__import__("math").ceil(1000.01 / 64.0))
    rect_grid = (
        f"SELECT range AS fid, "
        f"CAST(range // {ncols_r} AS BIGINT) AS grid_row, "
        f"CAST(range % {ncols_r} AS BIGINT) AS grid_col, "
        f"CAST(0.0 + (range % {ncols_r}) * 64.0 AS DOUBLE) AS xmin, "
        f"CAST(0.0 + (range // {ncols_r}) * 64.0 AS DOUBLE) AS ymin, "
        f"CAST(0.0 + (range % {ncols_r} + 1) * 64.0 AS DOUBLE) AS xmax, "
        f"CAST(0.0 + (range // {ncols_r} + 1) * 64.0 AS DOUBLE) AS ymax "
        f"FROM range(0, {nrows_r * ncols_r})"
    )

    import math as _m
    half, width, vstep = 40.0, 80.0, 1.5 * (40.0 / (_m.sqrt(3.0) / 2.0))
    size = 40.0 / (_m.sqrt(3.0) / 2.0)
    ncols_h = int(_m.ceil(500.0 / width)) + 1
    nrows_h = int(_m.ceil(500.0 / vstep)) + 1
    hcx = (f"CAST(0.0 + (range % {ncols_h}) * {width!r} + "
           f"CASE WHEN (range // {ncols_h}) % 2 = 1 THEN {half!r} ELSE 0.0 END AS DOUBLE)")
    hcy = f"CAST(0.0 + (range // {ncols_h}) * {vstep!r} AS DOUBLE)"
    hsel = ["range AS fid", f"{hcx} AS cx", f"{hcy} AS cy"]
    for i in range(6):
        ang = _m.pi / 180.0 * (60.0 * i - 30.0)
        hsel.append(f"CAST(({hcx}) + {size * _m.cos(ang)!r} AS DOUBLE) AS vx_{i}")
        hsel.append(f"CAST(({hcy}) + {size * _m.sin(ang)!r} AS DOUBLE) AS vy_{i}")
    hex_grid = f"SELECT {', '.join(hsel)} FROM range(0, {nrows_h * ncols_h})"

    footprint = (
        f"WITH pts AS ({_PTS_SQL}) "
        f"SELECT record_num % 16 AS tile, MIN(x) AS min_x, MAX(x) AS max_x, "
        f"MIN(y) AS min_y, MAX(y) AS max_y, COUNT(*) AS num_points "
        f"FROM pts GROUP BY 1"
    )

    return {
        "extend_lines": extend,
        "rog": rog,
        "rect_grid": rect_grid,
        "hex_grid_gen": hex_grid,
        "tile_footprint": footprint,
    }


def _hydro2_oracles() -> dict[str, str]:
    """Oracles for the round-2 continuation hydro utilities. Shares the
    D8 pivot/edge construction with _hydro_oracles; stream-relative
    walks are recursive CTEs over edges truncated at stream cells, with
    EXACT integer step counters (distances multiply once at the end —
    the same expression text the Spark operators execute)."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    offs = ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8)
    ) + ", (8, 0, 0)"
    piv_cols = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8)
    ) + ", MAX(CASE WHEN n = 8 THEN nv END) AS zc"
    pivot = (
        f"offs8 AS (SELECT * FROM (VALUES {offs}) o(n, dy, dx)), "
        f"sc8 AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, o.n AS n, a.value AS nv "
        f"FROM ras_a a, offs8 o), "
        f"piv AS (SELECT row, col, {piv_cols} FROM sc8 GROUP BY 1, 2), "
        f"ptr AS (SELECT row, col, {HY.d8_pointer_value_expr(_META100)} AS value "
        f"FROM piv WHERE zc IS NOT NULL)"
    )
    dirs = ", ".join(f"({1 << i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
    edge_ctes = (
        f"dirs AS (SELECT * FROM (VALUES {dirs}) d(code, dy, dx)), "
        f"e AS MATERIALIZED (SELECT (p.row * 100 + p.col) AS src, "
        f"((p.row + d.dy) * 100 + (p.col + d.dx)) AS dst, "
        f"CAST(CASE WHEN d.dy <> 0 AND d.dx <> 0 THEN 1 ELSE 0 END AS BIGINT) AS sd, "
        f"CAST(CASE WHEN d.dy <> 0 AND d.dx = 0 THEN 1 ELSE 0 END AS BIGINT) AS sr, "
        f"CAST(CASE WHEN d.dy = 0 AND d.dx <> 0 THEN 1 ELSE 0 END AS BIGINT) AS sc "
        f"FROM ptr p JOIN dirs d ON d.code = CAST(p.value AS INT) WHERE p.value > 0), "
        f"nodes AS (SELECT row, col, (row * 100 + col) AS id FROM ptr)"
    )
    closure = (
        f"reach(src, dst) AS (SELECT id, id FROM nodes UNION "
        f"SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)"
    )
    streams = (
        f"acc AS (SELECT n.id, COUNT(*) AS a FROM reach r "
        f"JOIN nodes n ON r.dst = n.id GROUP BY 1), "
        f"streams AS (SELECT id AS sid FROM acc WHERE a >= 5.0)"
    )
    # edges truncated at streams (stream cells are absorbing)
    ens = ("ens AS (SELECT e.* FROM e LEFT JOIN streams s ON e.src = s.sid "
           "WHERE s.sid IS NULL)")
    walk = (
        f"walk(src, cur, nr, nc, nd) AS ("
        f"SELECT id, id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM nodes "
        f"UNION SELECT w.src, ens.dst, w.nr + ens.sr, w.nc + ens.sc, w.nd + ens.sd "
        f"FROM walk w JOIN ens ON w.cur = ens.src)"
    )
    term = (
        f"t AS (SELECT w.* FROM walk w LEFT JOIN "
        f"(SELECT DISTINCT src FROM ens) x ON w.cur = x.src WHERE x.src IS NULL)"
    )
    zt = "z AS (SELECT (row * 100 + col) AS id, value FROM ras_a)"
    base_walk = (f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, {closure}, "
                 f"{streams}, {ens}, {walk}, {term}, {zt}")
    diag = repr((2 * 10.0 ** 2) ** 0.5) + "e0"

    return {
        "num_inflowing": (
            f"WITH {ras_a}, {pivot}, {edge_ctes}, "
            f"indeg AS (SELECT dst, COUNT(*) AS n_in FROM e GROUP BY 1) "
            f"SELECT n.row, n.col, CAST(COALESCE(n_in, 0) AS DOUBLE) AS value "
            f"FROM nodes n LEFT JOIN indeg ON n.id = indeg.dst"
        ),
        "noflow_cells": (
            f"WITH {ras_a}, {pivot} SELECT row, col, "
            f"CAST(CASE WHEN value = 0.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value "
            f"FROM ptr"
        ),
        "breach_pits": (
            f"WITH {ras_a}, {pivot}, "
            f"pits AS (SELECT row, col, zc AS zp, (row * 100 + col) AS pid FROM piv "
            f"WHERE zc IS NOT NULL AND "
            + " AND ".join(f"COALESCE(zn_{i} >= zc, TRUE)" for i in range(8))
            + "), "
            f"probes AS (SELECT * FROM (VALUES "
            + ", ".join(
                f"({i}, {HY._BP_DY2[i]}, {HY._BP_DX2[i]}, "
                f"{HY.D8_DY[HY._BP_CELL[i]]}, {HY.D8_DX[HY._BP_CELL[i]]})"
                for i in range(16))
            + ") o(i, dy2, dx2, bdy, bdx)), "
            f"j AS (SELECT p.pid, p.zp, o.i, p.row + o.bdy AS br, p.col + o.bdx AS bc, "
            f"a.value AS z2 FROM pits p JOIN probes o ON TRUE "
            f"JOIN ras_a a ON a.row = p.row + o.dy2 AND a.col = p.col + o.dx2 "
            f"WHERE a.value < p.zp), "
            f"w AS (SELECT br, bc, (zp + z2) / 2.0 AS wv, ROW_NUMBER() OVER "
            f"(PARTITION BY br, bc ORDER BY pid DESC, i DESC) AS rk FROM j) "
            f"SELECT a.row, a.col, COALESCE(w.wv, a.value) AS value FROM ras_a a "
            f"LEFT JOIN (SELECT br, bc, wv FROM w WHERE rk = 1) w "
            f"ON a.row = w.br AND a.col = w.bc"
        ),
        "extract_valleys": (
            f"WITH {ras_a}, "
            f"offs25 AS (SELECT * FROM (VALUES "
            + ", ".join(f"({n // 5 - 2}, {n % 5 - 2})" for n in range(25))
            + ") o(dr, dc)), "
            f"sc AS (SELECT a.row + o.dr AS row, a.col + o.dc AS col, a.value AS nv "
            f"FROM ras_a a, offs25 o), "
            f"j AS (SELECT s.row, s.col, s.nv, c.value AS z FROM sc s "
            f"JOIN ras_a c ON s.row = c.row AND s.col = c.col) "
            f"SELECT row, col, CAST(CASE WHEN COUNT(CASE WHEN nv < z THEN 1 END) "
            f"< 0.25 * COUNT(nv) THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value "
            f"FROM j GROUP BY row, col, z"
        ),
        "fd8_pointer": (
            f"WITH {ras_a}, {pivot} SELECT row, col, CAST("
            + " + ".join(
                f"CASE WHEN zn_{i} IS NOT NULL AND zn_{i} < zc THEN {1 << i} ELSE 0 END"
                for i in range(8))
            + f" AS DOUBLE) AS value FROM piv WHERE zc IS NOT NULL"
        ),
        "fill_pits": (
            f"WITH {ras_a}, {pivot} SELECT row, col, "
            f"CASE WHEN ("
            + " AND ".join(f"COALESCE(zn_{i} >= zc, TRUE)" for i in range(8))
            + f") AND ("
            + " OR ".join(f"zn_{i} IS NOT NULL" for i in range(8))
            + f") THEN LEAST("
            + ", ".join(f"COALESCE(zn_{i}, CAST('Infinity' AS DOUBLE))" for i in range(8))
            + f") + 0.0001 ELSE zc END AS value FROM piv WHERE zc IS NOT NULL"
        ),
    }


def _hack_cte(prelude: str, hwalk: str, links: str, cellrc: str,
              lexp: str) -> str:
    """Shared CTE chain for the Hack-order oracles: per-cell farthest-
    head upstream length (hwalk max), link DAG with per-edge main-stem
    winners (greatest up_len, tie -> smaller link label — the exact
    MIN_BY struct order of hydro.hack_order), and the loser-count walk
    from every link down to its root. t(l, losses)."""
    return (
        prelude + f", {hwalk}, {links}, {cellrc}, "
        f"upl AS (SELECT cur AS id, MAX({lexp}) AS up_len FROM hwalk GROUP BY 1), "
        f"le AS MATERIALIZED (SELECT la.lbl AS src, lb.lbl AS dst, "
        f"MAX(COALESCE(u.up_len, 0.0)) AS up_len "
        f"FROM se JOIN lbl la ON se.src = la.id JOIN lbl lb ON se.dst = lb.id "
        f"LEFT JOIN upl u ON se.src = u.id "
        f"WHERE la.lbl <> lb.lbl GROUP BY 1, 2), "
        f"win AS (SELECT dst, src, ROW_NUMBER() OVER (PARTITION BY dst "
        f"ORDER BY up_len DESC, src) AS r FROM le), "
        f"ledge AS MATERIALIZED (SELECT le.src, le.dst, "
        f"CASE WHEN w.r = 1 THEN 0 ELSE 1 END AS loss "
        f"FROM le JOIN win w ON le.src = w.src AND le.dst = w.dst), "
        f"lwalk(l, cur, losses) AS ("
        f"SELECT lbl, lbl, 0 FROM (SELECT DISTINCT lbl FROM lbl) "
        f"UNION SELECT w.l, e.dst, w.losses + e.loss "
        f"FROM lwalk w JOIN ledge e ON w.cur = e.src), "
        f"t AS (SELECT l, losses FROM lwalk "
        f"WHERE cur NOT IN (SELECT src FROM ledge)) "
    )


def _strahler_chain(thr: float, x: str, rounds: int = 24) -> str:
    """CTE chain (appended after the _stream2_oracles prelude, which
    provides `acc` and `e`) computing per-link Strahler orders at
    stream threshold `thr`, suffix `x`: streams{x} -> link components
    -> link DAG -> Jacobi rounds s{x}0..s{x}{rounds} (each round
    recomputes every link from its children's previous order: max
    inflow order, +1 when >= 2 inflows share it — hydro.strahler_order
    junction semantics; `rounds` >= link-DAG height => fixpoint).
    Exposes sord{x}(id, s), lbl{x}(id, lbl), c{x}(sid, row, col)."""
    W = 40
    p = [
        f"streams{x} AS MATERIALIZED (SELECT id AS sid FROM acc WHERE a >= {thr!r})",
        f"se{x} AS MATERIALIZED (SELECT e.* FROM e JOIN streams{x} a ON e.src = a.sid "
        f"JOIN streams{x} b ON e.dst = b.sid)",
        f"sind{x} AS (SELECT dst, COUNT(*) AS n_in FROM se{x} GROUP BY 1)",
        f"chain{x} AS MATERIALIZED (SELECT s.src, s.dst FROM se{x} s "
        f"JOIN sind{x} i ON s.dst = i.dst WHERE i.n_in < 2)",
        f"und{x} AS MATERIALIZED (SELECT src AS a, dst AS b FROM chain{x} "
        f"UNION ALL SELECT dst AS a, src AS b FROM chain{x})",
        f"comp{x}(a, b) AS (SELECT sid, sid FROM streams{x} UNION "
        f"SELECT c.a, u.b FROM comp{x} c JOIN und{x} u ON c.b = u.a)",
        f"lbl{x} AS MATERIALIZED (SELECT a AS id, MIN(b) AS lbl FROM comp{x} GROUP BY 1)",
        f"ledges{x} AS MATERIALIZED (SELECT DISTINCT la.lbl AS src, lb.lbl AS dst "
        f"FROM se{x} s JOIN lbl{x} la ON s.src = la.id "
        f"JOIN lbl{x} lb ON s.dst = lb.id WHERE la.lbl <> lb.lbl)",
        f"linkids{x} AS (SELECT DISTINCT lbl AS id FROM lbl{x})",
        f"s{x}0 AS (SELECT id, 1 AS s FROM linkids{x})",
    ]
    for k in range(1, rounds + 1):
        prev = f"s{x}{k - 1}"
        p.append(
            f"ag{x}{k} AS (SELECT le.dst, MAX(p.s) AS mx FROM {prev} p "
            f"JOIN ledges{x} le ON p.id = le.src GROUP BY 1)")
        p.append(
            f"ct{x}{k} AS (SELECT le.dst, COUNT(*) AS n_at FROM {prev} p "
            f"JOIN ledges{x} le ON p.id = le.src "
            f"JOIN ag{x}{k} a ON le.dst = a.dst AND p.s = a.mx GROUP BY le.dst)")
        # MATERIALIZED: without it DuckDB inlines each round into the
        # next (~3 refs/round -> 3^rounds plan nodes) and the planner
        # never returns; the per-round table is tiny (one row per link)
        p.append(
            f"s{x}{k} AS MATERIALIZED (SELECT l.id, CASE WHEN a.mx IS NULL THEN 1 "
            f"WHEN c.n_at >= 2 THEN a.mx + 1 ELSE a.mx END AS s "
            f"FROM linkids{x} l LEFT JOIN ag{x}{k} a ON l.id = a.dst "
            f"LEFT JOIN ct{x}{k} c ON l.id = c.dst)")
    p.append(f"sord{x} AS (SELECT id, s FROM s{x}{rounds})")
    p.append(f"c{x} AS (SELECT sid, sid // {W} AS row, sid % {W} AS col "
             f"FROM streams{x})")
    return ", ".join(p)


def _stream2_oracles() -> dict[str, str]:
    """Oracles for the stream-network tail + oracle upgrades for the
    previously rows-only stream queries (shreve, stream_link,
    stream_nodes, stream_link_metrics) and the stream-relative hydro
    walks. All walks carry exact integer step counters; distances
    multiply once with the same expression text the Spark operators
    use. Built over the 40x40 gate raster (_RAS_C / _META40C) so the
    recursive closures stay cheap in the driver gate."""
    W = 40
    ras_a = f"ras_a AS ({_RAS_C_SQL})"
    offs = ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8)
    ) + ", (8, 0, 0)"
    piv_cols = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8)
    ) + ", MAX(CASE WHEN n = 8 THEN nv END) AS zc"
    pivot = (
        f"offs8 AS (SELECT * FROM (VALUES {offs}) o(n, dy, dx)), "
        f"sc8 AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, o.n AS n, a.value AS nv "
        f"FROM ras_a a, offs8 o), "
        f"piv AS (SELECT row, col, {piv_cols} FROM sc8 GROUP BY 1, 2), "
        f"ptr AS MATERIALIZED (SELECT row, col, {HY.d8_pointer_value_expr(_META40C)} AS value "
        f"FROM piv WHERE zc IS NOT NULL)"
    )
    dirs = ", ".join(f"({1 << i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
    edge_ctes = (
        f"dirs AS (SELECT * FROM (VALUES {dirs}) d(code, dy, dx)), "
        f"e AS MATERIALIZED (SELECT (p.row * {W} + p.col) AS src, "
        f"((p.row + d.dy) * {W} + (p.col + d.dx)) AS dst, "
        f"CAST(CASE WHEN d.dy <> 0 AND d.dx <> 0 THEN 1 ELSE 0 END AS BIGINT) AS sd, "
        f"CAST(CASE WHEN d.dy <> 0 AND d.dx = 0 THEN 1 ELSE 0 END AS BIGINT) AS sr, "
        f"CAST(CASE WHEN d.dy = 0 AND d.dx <> 0 THEN 1 ELSE 0 END AS BIGINT) AS sc "
        f"FROM ptr p JOIN dirs d ON d.code = CAST(p.value AS INT) WHERE p.value > 0), "
        f"nodes AS MATERIALIZED (SELECT row, col, (row * {W} + col) AS id FROM ptr)"
    )
    closure = (
        f"reach(src, dst) AS (SELECT id, id FROM nodes UNION "
        f"SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)"
    )
    streams = (
        f"acc AS MATERIALIZED (SELECT n.id, COUNT(*) AS a FROM reach r "
        f"JOIN nodes n ON r.dst = n.id GROUP BY 1), "
        f"streams AS MATERIALIZED (SELECT id AS sid FROM acc WHERE a >= 4.0)"
    )
    # stream->stream edges + junction flags + node classification.
    # MATERIALIZED is load-bearing: a recursive CTE's step re-evaluates
    # every non-materialized CTE it references on EACH iteration — with
    # the accumulation closure upstream that turns a 3 s oracle into
    # 250 s. (DuckDB-only text; the Spark side never sees it.)
    se = (
        f"se0 AS MATERIALIZED (SELECT e.* FROM e JOIN streams a ON e.src = a.sid "
        f"JOIN streams b ON e.dst = b.sid), "
        f"sind AS MATERIALIZED (SELECT dst, COUNT(*) AS n_in FROM se0 GROUP BY 1), "
        f"se AS MATERIALIZED (SELECT se0.*, "
        f"CAST(CASE WHEN sind.n_in >= 2 THEN 1 ELSE 0 END AS BIGINT) AS nb "
        f"FROM se0 JOIN sind ON se0.dst = sind.dst), "
        f"heads AS MATERIALIZED (SELECT sid AS h FROM streams "
        f"WHERE sid NOT IN (SELECT dst FROM se0)), "
        f"outlets AS MATERIALIZED (SELECT sid AS t FROM streams "
        f"WHERE sid NOT IN (SELECT src FROM se0))"
    )
    prelude = (f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, {closure}, "
               f"{streams}, {se}")
    diag = repr((2 * 10.0 ** 2) ** 0.5) + "e0"
    lexp = (f"(CAST(nr AS DOUBLE) * 10.0 + CAST(nc AS DOUBLE) * 10.0 "
            f"+ CAST(nd AS DOUBLE) * {diag})")
    # downstream walk from every stream cell to its outlet
    swalk = (
        "swalk(src, cur, nr, nc, nd, nb) AS ("
        "SELECT sid, sid, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), "
        "CAST(0 AS BIGINT) FROM streams "
        "UNION SELECT w.src, se.dst, w.nr + se.sr, w.nc + se.sc, w.nd + se.sd, "
        "w.nb + se.nb FROM swalk w JOIN se ON w.cur = se.src)"
    )
    # upstream walk from heads (tree: unique path head -> cell)
    hwalk = (
        "hwalk(h, cur, nr, nc, nd) AS ("
        "SELECT h, h, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM heads "
        "UNION SELECT w.h, se.dst, w.nr + se.sr, w.nc + se.sc, w.nd + se.sd "
        "FROM hwalk w JOIN se ON w.cur = se.src)"
    )
    cellrc = f"c AS (SELECT sid, sid // {W} AS row, sid % {W} AS col FROM streams)"

    # Florinsky 5x5 pivot over the 40x40 raster (wetness/SPI/STI slopes)
    _offs25 = "offs25 AS (SELECT * FROM (VALUES " + ", ".join(
        f"({n}, {n // 5 - 2}, {n % 5 - 2})" for n in range(25)
    ) + ") o(n, dr, dc))"
    _sc25 = ("sc25 AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, o.n AS n, "
             "a.value AS nv FROM ras_a a, offs25 o)")
    _p5cols = ", ".join(f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}" for n in range(25))
    _zzcols = ", ".join(f"(COALESCE(z_{n}, z_12) * 1.0) AS z{n}" for n in range(25))
    _pivot5_40 = (f"{_offs25}, {_sc25}, "
                  f"piv5 AS (SELECT row, col, {_p5cols} FROM sc25 GROUP BY 1, 2), "
                  f"zz AS (SELECT row, col, {_zzcols} FROM piv5 WHERE z_12 IS NOT NULL)")
    _P40, _Q40 = FO._florinsky_pq(10.0)

    # rho8 pointer: D8 argmax with stochastic diagonal correction from the
    # per-(cell, neighbor) LCG stream (portable integer arithmetic — the
    # exact text the Spark operator evaluates, seed 42). Diagonals are
    # i in {0, 2, 4, 6} of the D8 order.
    def _rho8_ms(i: int) -> str:
        rr = (f"(CAST((((row * 40 + col) * 8 + {i} + 42) % 2147483648 "
              f"* 1103515245 + 12345) % 2147483648 AS DOUBLE) / 2147483648.0)")
        slope = (f"((zc - zn_{i}) / (2.0 - ({rr})))"
                 if HY.D8_DY[i] != 0 and HY.D8_DX[i] != 0 else f"(zc - zn_{i})")
        return f"CASE WHEN zn_{i} IS NOT NULL THEN {slope} ELSE -1e308 END"

    rho8_ms = ", ".join(f"{_rho8_ms(i)} AS ms_{i}" for i in range(8))
    rho8_m = "GREATEST(" + ", ".join(f"ms_{i}" for i in range(8)) + ")"
    rho8_dir = ("CASE WHEN " + rho8_m + " <= 0.0 THEN 0.0 "
                + " ".join(f"WHEN ms_{i} = {rho8_m} THEN {float(1 << i)!r}"
                           for i in range(8)) + " END")
    rho8 = (
        f"rms AS (SELECT row, col, {rho8_ms} FROM piv WHERE zc IS NOT NULL), "
        f"rptr AS MATERIALIZED (SELECT row, col, {rho8_dir} AS value FROM rms)"
    )
    rho8_edges = (
        f"re AS MATERIALIZED (SELECT (p.row * {W} + p.col) AS src, "
        f"((p.row + d.dy) * {W} + (p.col + d.dx)) AS dst "
        f"FROM rptr p JOIN dirs d ON d.code = CAST(p.value AS INT) "
        f"WHERE p.value > 0)"
    )

    # link components: chain edges (dst not junction-fed), undirected closure
    links = (
        "chain AS MATERIALIZED (SELECT src, dst FROM se WHERE nb = 0), "
        "und AS MATERIALIZED (SELECT src AS a, dst AS b FROM chain UNION ALL "
        "SELECT dst AS a, src AS b FROM chain), "
        "comp(a, b) AS (SELECT sid, sid FROM streams UNION "
        "SELECT c.a, u.b FROM comp c JOIN und u ON c.b = u.a), "
        "lbl AS (SELECT a AS id, MIN(b) AS lbl FROM comp GROUP BY 1)"
    )

    return {
        "dist_to_outlet": (
            prelude + f", {swalk}, {cellrc}, "
            f"t AS (SELECT w.* FROM swalk w JOIN outlets o ON w.cur = o.t) "
            f"SELECT c.row, c.col, {lexp} AS value "
            f"FROM t JOIN c ON t.src = c.sid"
        ),
        "long_profile": (
            prelude + f", {swalk}, {cellrc}, "
            f"t AS (SELECT w.* FROM swalk w JOIN outlets o ON w.cur = o.t), "
            f"z AS (SELECT (row * {W} + col) AS zid, value AS z FROM ras_a) "
            f"SELECT c.row, c.col, {lexp} AS dist_to_outlet, z.z "
            f"FROM t JOIN c ON t.src = c.sid JOIN z ON t.src = z.zid"
        ),
        "farthest_head": (
            prelude + f", {hwalk}, {cellrc}, "
            f"rk AS (SELECT cur, nr, nc, nd, ROW_NUMBER() OVER (PARTITION BY cur "
            f"ORDER BY ({lexp}) DESC, h) AS r FROM hwalk) "
            f"SELECT c.row, c.col, {lexp} AS value "
            f"FROM rk JOIN c ON rk.cur = c.sid WHERE r = 1"
        ),
        "tributary_id": (
            prelude + f", {hwalk}, {cellrc}, "
            f"rk AS (SELECT cur, h, ROW_NUMBER() OVER (PARTITION BY cur "
            f"ORDER BY ({lexp}) DESC, h) AS r FROM hwalk), "
            f"win AS (SELECT cur, h FROM rk WHERE r = 1), "
            f"ids AS (SELECT h, DENSE_RANK() OVER (ORDER BY h) AS trib_id "
            f"FROM (SELECT DISTINCT h FROM win)) "
            f"SELECT c.row, c.col, CAST(ids.trib_id AS DOUBLE) AS value "
            f"FROM win JOIN ids USING (h) JOIN c ON win.cur = c.sid"
        ),
        "topo_stream_order": (
            prelude + f", {swalk}, {cellrc}, "
            f"t AS (SELECT w.* FROM swalk w JOIN outlets o ON w.cur = o.t) "
            f"SELECT c.row, c.col, CAST(1 + t.nb AS DOUBLE) AS value "
            f"FROM t JOIN c ON t.src = c.sid"
        ),
        "total_length_channels": (
            prelude + " SELECT CAST(SUM(sr) AS DOUBLE) * 10.0 + "
            f"CAST(SUM(sc) AS DOUBLE) * 10.0 + "
            f"CAST(SUM(sd) AS DOUBLE) * {diag} AS total_length FROM se"
        ),
        # per-cell upstream channel length: every swalk prefix pair
        # (src, cur) contributes src's own outgoing stream-edge step
        # counts to cur; outlets have no out-edge -> COALESCE 0 (the
        # same integer-count-then-one-multiply arithmetic as Spark)
        "length_upstream_channels": (
            prelude + f", {swalk}, {cellrc}, "
            f"ag AS (SELECT w.cur AS dst, SUM(oe.sr) AS nr, SUM(oe.sc) AS nc, "
            f"SUM(oe.sd) AS nd FROM swalk w JOIN se oe ON w.src = oe.src GROUP BY 1), "
            f"v AS (SELECT c.row, c.col, COALESCE(ag.nr, 0) AS nr, "
            f"COALESCE(ag.nc, 0) AS nc, COALESCE(ag.nd, 0) AS nd "
            f"FROM c LEFT JOIN ag ON c.sid = ag.dst) "
            f"SELECT row, col, {lexp} AS value FROM v"
        ),
        # --- round-5 oracle upgrades (previously rows-only) ---
        # Rho8Pointer: the LCG-seeded stochastic-diagonal argmax — the
        # fold's strict-> / init-0 semantics replayed as first-match CASE
        "rho8_pointer": (
            f"WITH {ras_a}, {pivot}, {rho8} "
            f"SELECT row, col, value FROM rptr"
        ),
        # Rho8FlowAccumulation: upstream-count closure over rho8 edges
        "rho8_accum": (
            f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, {rho8}, {rho8_edges}, "
            f"rreach(src, dst) AS (SELECT id, id FROM nodes UNION "
            f"SELECT r.src, re.dst FROM rreach r JOIN re ON r.dst = re.src) "
            f"SELECT n.row, n.col, CAST(COUNT(*) AS DOUBLE) AS value "
            f"FROM rreach r JOIN nodes n ON r.dst = n.id GROUP BY 1, 2"
        ),
        # DownslopeFlowpathLength: sequential walk with integer step
        # counters; each cell's terminal row is its max-step reach (a D8
        # walk is a simple path, so max steps = the full path)
        "flowpath_length": (
            f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, "
            f"dwalk(src, cur, nr, nc, nd) AS ("
            f"SELECT id, id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
            f"FROM nodes UNION "
            f"SELECT w.src, e.dst, w.nr + e.sr, w.nc + e.sc, w.nd + e.sd "
            f"FROM dwalk w JOIN e ON w.cur = e.src), "
            f"t AS (SELECT src, MAX(nr + nc + nd) AS steps FROM dwalk GROUP BY 1), "
            f"f AS (SELECT w.src, w.nr, w.nc, w.nd FROM dwalk w JOIN t "
            f"ON w.src = t.src AND (w.nr + w.nc + w.nd) = t.steps) "
            f"SELECT n.row, n.col, {lexp} AS value "
            f"FROM f JOIN nodes n ON f.src = n.id"
        ),
        # MaxBranchLength = max upslope flowpath length + downslope
        # flowpath length (both exact-step machines above)
        "max_branch_length": (
            f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, "
            f"creach(src, dst, nr, nc, nd) AS ("
            f"SELECT id, id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
            f"FROM nodes UNION "
            f"SELECT c.src, e.dst, c.nr + e.sr, c.nc + e.sc, c.nd + e.sd "
            f"FROM creach c JOIN e ON c.dst = e.src), "
            f"up AS (SELECT dst, MAX({lexp}) AS upv FROM creach GROUP BY 1), "
            f"t AS (SELECT src, MAX(nr + nc + nd) AS steps FROM creach GROUP BY 1), "
            f"f AS (SELECT w.src, w.nr, w.nc, w.nd FROM creach w JOIN t "
            f"ON w.src = t.src AND (w.nr + w.nc + w.nd) = t.steps), "
            f"down AS (SELECT src AS id, {lexp} AS downv FROM f) "
            f"SELECT n.row, n.col, up.upv + down.downv AS value "
            f"FROM nodes n JOIN up ON n.id = up.dst JOIN down ON n.id = down.id"
        ),
        # HackStreamOrder: per-link loser-count walk down the link DAG —
        # ord(link) = 1 + number of path edges where the link is not the
        # junction's main-stem (greatest-upstream-length, tie -> smaller
        # link label) inflow. FindMainStem = the ord-1 set of the same
        # walk (identical tie rule by construction).
        "hack_order": _hack_cte(prelude, hwalk, links, cellrc, lexp) + (
            f"SELECT c.row, c.col, CAST(1 + t.losses AS DOUBLE) AS value "
            f"FROM lbl JOIN t ON lbl.lbl = t.l JOIN c ON lbl.id = c.sid"
        ),
        "find_main_stem": _hack_cte(prelude, hwalk, links, cellrc, lexp) + (
            f"SELECT c.row, c.col, 1.0 AS value "
            f"FROM lbl JOIN t ON lbl.lbl = t.l JOIN c ON lbl.id = c.sid "
            f"WHERE t.losses = 0"
        ),
        # StrahlerStreamOrder: Jacobi-unrolled link orders (chain above)
        "strahler": (
            prelude + ", " + _strahler_chain(4.0, "k4") + " "
            f"SELECT ck4.row, ck4.col, CAST(sordk4.s AS DOUBLE) AS value "
            f"FROM lblk4 JOIN sordk4 ON lblk4.lbl = sordk4.id "
            f"JOIN ck4 ON lblk4.id = ck4.sid"
        ),
        # StrahlerOrderBasins (threshold 8): absorbing walk to the first
        # stream cell + that cell's link Strahler order
        "strahler_basins": (
            prelude + ", " + _strahler_chain(8.0, "k8") + ", "
            f"ens8 AS MATERIALIZED (SELECT e.* FROM e LEFT JOIN streamsk8 s "
            f"ON e.src = s.sid WHERE s.sid IS NULL), "
            f"walk8(src, cur) AS (SELECT id, id FROM nodes "
            f"UNION SELECT w.src, ens8.dst FROM walk8 w JOIN ens8 ON w.cur = ens8.src), "
            f"t8 AS (SELECT w.* FROM walk8 w LEFT JOIN "
            f"(SELECT DISTINCT src FROM ens8) xx ON w.cur = xx.src "
            f"WHERE xx.src IS NULL), "
            f"so8 AS (SELECT l.id AS sid, s.s FROM lblk8 l "
            f"JOIN sordk8 s ON l.lbl = s.id) "
            f"SELECT n.row, n.col, CAST(so8.s AS DOUBLE) AS value "
            f"FROM t8 JOIN nodes n ON t8.src = n.id JOIN so8 ON t8.cur = so8.sid"
        ),
        # HortonStreamOrder: walk down the maximal same-Strahler
        # main-stem chain (greatest upstream length, tie -> smaller
        # label); Horton = the chain terminus link's Strahler order
        "horton_order": (
            prelude + f", {hwalk}, " + _strahler_chain(4.0, "k4") + ", "
            f"uplh AS (SELECT cur AS id, MAX({lexp}) AS up_len FROM hwalk GROUP BY 1), "
            f"hle AS MATERIALIZED (SELECT la.lbl AS src, lb.lbl AS dst, "
            f"MAX(COALESCE(u.up_len, 0.0)) AS up_len "
            f"FROM se JOIN lblk4 la ON se.src = la.id JOIN lblk4 lb ON se.dst = lb.id "
            f"LEFT JOIN uplh u ON se.src = u.id WHERE la.lbl <> lb.lbl GROUP BY 1, 2), "
            f"hmain AS (SELECT h.dst, h.src, ROW_NUMBER() OVER (PARTITION BY h.dst "
            f"ORDER BY h.up_len DESC, h.src) AS r FROM hle h "
            f"JOIN sordk4 a ON h.src = a.id JOIN sordk4 b ON h.dst = b.id "
            f"WHERE a.s = b.s), "
            f"mainedge AS MATERIALIZED (SELECT src, dst FROM hmain WHERE r = 1), "
            f"mwalk(l, cur) AS (SELECT id, id FROM linkidsk4 "
            f"UNION SELECT w.l, m.dst FROM mwalk w JOIN mainedge m ON w.cur = m.src), "
            f"mterm AS (SELECT l, cur FROM mwalk "
            f"WHERE cur NOT IN (SELECT src FROM mainedge)) "
            f"SELECT ck4.row, ck4.col, CAST(s2.s AS DOUBLE) AS value "
            f"FROM lblk4 JOIN mterm ON lblk4.lbl = mterm.l "
            f"JOIN sordk4 s2 ON mterm.cur = s2.id "
            f"JOIN ck4 ON lblk4.id = ck4.sid"
        ),
        # RasterStreamsToVector (threshold 8): stream->stream pointer
        # edges as center-to-center segments + dense-ranked link id —
        # the stream_link_id labeling replayed at threshold 8
        "raster_streams_to_vector": (
            prelude + ", "
            f"streams8 AS MATERIALIZED (SELECT id AS sid FROM acc WHERE a >= 8.0), "
            f"se8 AS MATERIALIZED (SELECT e.src, e.dst FROM e "
            f"JOIN streams8 a ON e.src = a.sid JOIN streams8 b ON e.dst = b.sid), "
            f"sind8 AS (SELECT dst, COUNT(*) AS n_in FROM se8 GROUP BY 1), "
            f"chain8 AS MATERIALIZED (SELECT s.src, s.dst FROM se8 s "
            f"JOIN sind8 i ON s.dst = i.dst WHERE i.n_in < 2), "
            f"und8 AS MATERIALIZED (SELECT src AS a, dst AS b FROM chain8 "
            f"UNION ALL SELECT dst AS a, src AS b FROM chain8), "
            f"comp8(a, b) AS (SELECT sid, sid FROM streams8 UNION "
            f"SELECT c.a, u.b FROM comp8 c JOIN und8 u ON c.b = u.a), "
            f"lbl8 AS MATERIALIZED (SELECT a AS id, MIN(b) AS lbl FROM comp8 GROUP BY 1), "
            f"ids8 AS (SELECT lbl AS l2, DENSE_RANK() OVER (ORDER BY lbl) AS link_id "
            f"FROM (SELECT DISTINCT lbl FROM lbl8)) "
            f"SELECT (0.0 + (CAST((se8.src % 40) AS DOUBLE) + 0.5) * 10.0) AS x1, (400.0 - (CAST((se8.src // 40) AS DOUBLE) + 0.5) * 10.0) AS y1, "
            f"(0.0 + (CAST((se8.dst % 40) AS DOUBLE) + 0.5) * 10.0) AS x2, (400.0 - (CAST((se8.dst // 40) AS DOUBLE) + 0.5) * 10.0) AS y2, "
            f"CAST(ids8.link_id AS DOUBLE) AS link_id "
            f"FROM se8 JOIN lbl8 ON se8.src = lbl8.id "
            f"JOIN ids8 ON lbl8.lbl = ids8.l2"
        ),
        # DownslopeIndex (Hjerdt tangent, drop 5): the bounded D8 walk
        # replayed as a recursive CTE carrying the same left-fold dist
        # accumulation; terminal row = frozen or out-of-edges
        "downslope_index": (
            prelude + ", "
            f"zm AS MATERIALIZED (SELECT (row * {W} + col) AS zid, value AS z "
            f"FROM ras_a), "
            f"esl AS MATERIALIZED (SELECT src, dst, CASE WHEN sd = 1 THEN 14.142135623730951 "
            f"ELSE 10.0 END AS sl FROM e), "
            f"dw(src, cur, dist, mv) AS ("
            f"SELECT id, id, CAST(0.0 AS DOUBLE), TRUE FROM nodes "
            f"UNION SELECT w.src, esl.dst, w.dist + esl.sl, "
            f"(z0.z - zn.z) < 5.0 "
            f"FROM dw w JOIN esl ON w.cur = esl.src AND w.mv "
            f"JOIN zm zn ON esl.dst = zn.zid JOIN zm z0 ON w.src = z0.zid), "
            f"t AS (SELECT w.* FROM dw w WHERE NOT w.mv "
            f"OR w.cur NOT IN (SELECT src FROM esl)), "
            f"fin AS (SELECT t.src, t.dist, zn.z AS zend FROM t "
            f"LEFT JOIN zm zn ON t.cur = zn.zid) "
            f"SELECT n.row, n.col, "
            f"ROUND((z0.z - COALESCE(f.zend, z0.z)) / NULLIF(f.dist, 0.0), 6) "
            f"AS value "
            f"FROM fin f JOIN nodes n ON f.src = n.id "
            f"JOIN zm z0 ON f.src = z0.zid"
        ),
        # Isobasins (target 100): D8 accumulation crossing rule +
        # terminals, dense-ranked outlets, first-outlet-on-path
        # absorption (min hops) — all integer-exact
        "isobasins": (
            prelude + ", "
            f"acci AS MATERIALIZED (SELECT n.id, n.row, n.col, "
            f"CAST(COUNT(*) AS DOUBLE) AS a "
            f"FROM reach r JOIN nodes n ON r.dst = n.id GROUP BY 1, 2, 3), "
            f"infl AS (SELECT e.dst, MAX(a.a) AS max_in FROM e "
            f"JOIN acci a ON e.src = a.id GROUP BY 1), "
            f"crossc AS (SELECT a.id FROM acci a LEFT JOIN infl i "
            f"ON a.id = i.dst WHERE a.a >= 100 AND COALESCE(i.max_in, 0.0) < 100), "
            f"outl AS (SELECT id FROM crossc UNION "
            f"SELECT (row * {W} + col) AS id FROM ptr WHERE value = 0.0), "
            f"oid AS MATERIALIZED (SELECT id, ROW_NUMBER() OVER (ORDER BY id) "
            f"AS outlet_id FROM outl), "
            f"iwk(src, cur, h) AS (SELECT id, id, 0 FROM nodes "
            f"UNION SELECT w.src, e.dst, w.h + 1 FROM iwk w JOIN e ON w.cur = e.src), "
            f"ihit AS (SELECT w.src, o.outlet_id, ROW_NUMBER() OVER "
            f"(PARTITION BY w.src ORDER BY w.h, o.outlet_id) AS rk "
            f"FROM iwk w JOIN oid o ON w.cur = o.id) "
            f"SELECT n.row, n.col, CAST(h.outlet_id AS DOUBLE) AS value "
            f"FROM ihit h JOIN nodes n ON h.src = n.id WHERE h.rk = 1"
        ),
        # UnnestBasins: layer = 1 + pour points strictly downstream;
        # per layer, first-on-path outlet (min hops) — integer-exact
        "unnest_basins": (
            prelude + ", "
            f"pour(outlet_id, prow, pcol) AS "
            f"(SELECT * FROM (VALUES (1, 5, 5), (2, 20, 20), (3, 35, 35))), "
            f"pk AS (SELECT outlet_id, (prow * {W} + pcol) AS pid FROM pour), "
            f"uwk(src, cur, h) AS (SELECT id, id, 0 FROM nodes "
            f"UNION SELECT w.src, e.dst, w.h + 1 FROM uwk w JOIN e ON w.cur = e.src), "
            f"downp AS (SELECT w.src, COUNT(DISTINCT w.cur) AS n FROM uwk w "
            f"JOIN pk a ON w.src = a.pid JOIN pk b ON w.cur = b.pid "
            f"WHERE w.src <> w.cur GROUP BY 1), "
            f"lay AS MATERIALIZED (SELECT pk.outlet_id, pk.pid, "
            f"CAST(COALESCE(d.n, 0) + 1 AS INT) AS layer "
            f"FROM pk LEFT JOIN downp d ON pk.pid = d.src), "
            f"uhit AS (SELECT w.src, l.outlet_id, l.layer, ROW_NUMBER() OVER "
            f"(PARTITION BY w.src, l.layer ORDER BY w.h, l.outlet_id) AS rk "
            f"FROM uwk w JOIN lay l ON w.cur = l.pid) "
            f"SELECT n.row, n.col, CAST(h.outlet_id AS BIGINT) AS outlet_id, "
            f"h.layer FROM uhit h JOIN nodes n ON h.src = n.id WHERE h.rk = 1"
        ),
        "stream_link_class": (
            prelude + f", {links}, {cellrc}, "
            f"node AS (SELECT s.sid, CASE "
            f"WHEN s.sid IN (SELECT t FROM outlets) THEN 5 "
            f"WHEN s.sid IN (SELECT dst FROM sind WHERE n_in >= 2) THEN 4 "
            f"WHEN s.sid IN (SELECT h FROM heads) THEN 3 ELSE 0 END AS nk "
            f"FROM streams s), "
            f"ext AS (SELECT DISTINCT l.lbl FROM lbl l JOIN heads ON l.id = heads.h) "
            f"SELECT c.row, c.col, CAST(CASE WHEN node.nk > 0 THEN node.nk "
            f"WHEN lbl.lbl IN (SELECT lbl FROM ext) THEN 1 ELSE 2 END AS DOUBLE) AS value "
            f"FROM node JOIN lbl ON node.sid = lbl.id JOIN c ON node.sid = c.sid"
        ),
        "remove_short_streams": (
            prelude + f", {links}, {cellrc}, "
            f"ext AS (SELECT DISTINCT l.lbl FROM lbl l JOIN heads ON l.id = heads.h), "
            f"inl AS (SELECT la.lbl, SUM(se.sr) AS nr, SUM(se.sc) AS nc, SUM(se.sd) AS nd "
            f"FROM se JOIN lbl la ON se.src = la.id JOIN lbl lb ON se.dst = lb.id "
            f"WHERE la.lbl = lb.lbl GROUP BY 1), "
            f"short AS (SELECT ext.lbl FROM ext LEFT JOIN inl ON ext.lbl = inl.lbl "
            f"WHERE inl.lbl IS NULL OR ({lexp}) < 45.0) "
            f"SELECT c.row, c.col, 1.0 AS value FROM lbl JOIN c ON lbl.id = c.sid "
            f"WHERE lbl.lbl NOT IN (SELECT lbl FROM short)"
        ),
        # --- oracle upgrades for previously rows-only queries ---
        "shreve": (
            prelude + f", {hwalk}, {cellrc} "
            f"SELECT c.row, c.col, CAST(COUNT(*) AS DOUBLE) AS value "
            f"FROM hwalk w JOIN c ON w.cur = c.sid GROUP BY 1, 2"
        ),
        "stream_nodes": (
            prelude + f", {cellrc} "
            f"SELECT c.row, c.col, CAST(CASE "
            f"WHEN s.sid IN (SELECT t FROM outlets) THEN 3 "
            f"WHEN s.sid IN (SELECT dst FROM sind WHERE n_in >= 2) THEN 2 "
            f"WHEN s.sid IN (SELECT h FROM heads) THEN 1 ELSE 0 END AS INT) AS kind "
            f"FROM streams s JOIN c ON s.sid = c.sid "
            f"WHERE s.sid IN (SELECT t FROM outlets) "
            f"OR s.sid IN (SELECT dst FROM sind WHERE n_in >= 2) "
            f"OR s.sid IN (SELECT h FROM heads)"
        ),
        "stream_link": (
            prelude + f", {links}, {cellrc}, "
            f"ids AS (SELECT lbl AS l2, DENSE_RANK() OVER (ORDER BY lbl) AS link_id "
            f"FROM (SELECT DISTINCT lbl FROM lbl)) "
            f"SELECT c.row, c.col, CAST(ids.link_id AS DOUBLE) AS value "
            f"FROM lbl JOIN ids ON lbl.lbl = ids.l2 JOIN c ON lbl.id = c.sid"
        ),
        "stream_link_metrics": (
            prelude + f", {links}, "
            f"ids AS (SELECT lbl AS l2, DENSE_RANK() OVER (ORDER BY lbl) AS link_id "
            f"FROM (SELECT DISTINCT lbl FROM lbl)), "
            f"z AS (SELECT (row * {W} + col) AS id, value FROM ras_a), "
            f"st AS (SELECT l.lbl, COUNT(*) AS n_cells, MIN(z.value) AS zmin, "
            f"MAX(z.value) AS zmax FROM lbl l JOIN z ON l.id = z.id GROUP BY 1), "
            f"inl AS (SELECT la.lbl, SUM(se.sr) AS nr, SUM(se.sc) AS nc, SUM(se.sd) AS nd "
            f"FROM se JOIN lbl la ON se.src = la.id JOIN lbl lb ON se.dst = lb.id "
            f"WHERE la.lbl = lb.lbl GROUP BY 1), "
            f"m AS (SELECT st.lbl, st.n_cells, st.zmin, st.zmax, "
            f"CASE WHEN inl.lbl IS NULL THEN 0.0 ELSE ({lexp}) END AS length "
            f"FROM st LEFT JOIN inl ON st.lbl = inl.lbl) "
            f"SELECT CAST(ids.link_id AS BIGINT) AS link_id, "
            f"CAST(n_cells AS BIGINT) AS n_cells, ROUND(length, 6) AS length, "
            f"ROUND(CASE WHEN length > 0.0 THEN (zmax - zmin) / length * 100.0 "
            f"ELSE 0.0 END, 6) AS slope_pct "
            f"FROM m JOIN ids ON m.lbl = ids.l2"
        ),
        "parallel_flow": _parallel_flow_oracle(prelude, W),
        "max_upslope": (
            f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, "
            f"creach(src, dst, nr, nc, nd) AS ("
            f"SELECT id, id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
            f"FROM nodes UNION "
            f"SELECT c.src, e.dst, c.nr + e.sr, c.nc + e.sc, c.nd + e.sd "
            f"FROM creach c JOIN e ON c.dst = e.src) "
            f"SELECT n.row, n.col, MAX({lexp}) AS value "
            f"FROM creach JOIN nodes n ON creach.dst = n.id GROUP BY 1, 2"
        ),
        "avg_upslope": (
            f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, "
            f"creach(src, dst, nr, nc, nd) AS ("
            f"SELECT id, id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
            f"FROM nodes UNION "
            f"SELECT c.src, e.dst, c.nr + e.sr, c.nc + e.sc, c.nd + e.sd "
            f"FROM creach c JOIN e ON c.dst = e.src), "
            f"ag AS (SELECT dst, SUM(nr) AS nr, SUM(nc) AS nc, SUM(nd) AS nd, "
            f"COUNT(*) AS n FROM creach GROUP BY 1) "
            f"SELECT nn.row, nn.col, {lexp} / CAST(n AS DOUBLE) AS value "
            f"FROM ag JOIN nodes nn ON ag.dst = nn.id"
        ),
        "eas_euclidean": (
            f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, {closure}, {streams}, "
            f"sc2 AS MATERIALIZED (SELECT s.sid, s.sid // {W} AS row, s.sid % {W} AS col "
            f"FROM streams s), "
            f"t AS (SELECT sid AS tid, {_META40C.x_center_expr('col')} AS tx, "
            f"{_META40C.y_center_expr('row')} AS ty, z.value AS tz FROM sc2 "
            f"JOIN (SELECT (row * {W} + col) AS zid, value FROM ras_a) z "
            f"ON sc2.sid = z.zid), "
            f"qq AS (SELECT row, col, value AS z, {_META40C.x_center_expr('col')} AS qx, "
            f"{_META40C.y_center_expr('row')} AS qy FROM ras_a), "
            f"cand AS (SELECT qq.row, qq.col, qq.z, t.tid, t.tz, "
            f"(qq.qx - t.tx) * (qq.qx - t.tx) + (qq.qy - t.ty) * (qq.qy - t.ty) AS dist2 "
            f"FROM qq, t), "
            f"r AS (SELECT row, col, z, tz, ROW_NUMBER() OVER "
            f"(PARTITION BY row, col ORDER BY dist2, tid) AS rk FROM cand) "
            f"SELECT row, col, z - tz AS value FROM r WHERE rk = 1"
        ),
        "subbasins": (
            prelude + f", {links}, "
            f"ens AS MATERIALIZED (SELECT e.* FROM e LEFT JOIN streams s ON e.src = s.sid "
            f"WHERE s.sid IS NULL), "
            f"walk(src, cur) AS (SELECT id, id FROM nodes "
            f"UNION SELECT w.src, ens.dst FROM walk w JOIN ens ON w.cur = ens.src), "
            f"t AS (SELECT w.* FROM walk w LEFT JOIN "
            f"(SELECT DISTINCT src FROM ens) x ON w.cur = x.src WHERE x.src IS NULL), "
            f"ids AS (SELECT lbl AS l2, DENSE_RANK() OVER (ORDER BY lbl) AS link_id "
            f"FROM (SELECT DISTINCT lbl FROM lbl)), "
            f"term AS (SELECT t.src, CASE WHEN ss.sid IS NOT NULL THEN t.src "
            f"ELSE t.cur END AS term, "
            f"(ss.sid IS NOT NULL OR st.sid IS NOT NULL) AS hits "
            f"FROM t LEFT JOIN streams ss ON t.src = ss.sid "
            f"LEFT JOIN streams st ON t.cur = st.sid) "
            f"SELECT n.row, n.col, CAST(ids.link_id AS DOUBLE) AS value "
            f"FROM term JOIN nodes n ON term.src = n.id "
            f"JOIN lbl ON term.term = lbl.id JOIN ids ON lbl.lbl = ids.l2 "
            f"WHERE term.hits"
        ),
        "hillslopes": (
            prelude + f", {links}, {cellrc}, "
            f"dirs2 AS (SELECT * FROM (VALUES " +
            ", ".join(f"({i}, {1 << i})" for i in range(8)) +
            ") dd(i, code)), "
            f"ens2 AS MATERIALIZED (SELECT e.* FROM e "
            f"LEFT JOIN streams sa ON e.src = sa.sid "
            f"LEFT JOIN streams sb ON e.dst = sb.sid "
            f"WHERE sa.sid IS NULL AND sb.sid IS NULL), "
            f"offs_ns AS (SELECT n.id, n.row, n.col FROM nodes n "
            f"LEFT JOIN streams s ON n.id = s.sid WHERE s.sid IS NULL), "
            f"walk(src, cur) AS (SELECT id, id FROM offs_ns "
            f"UNION SELECT w.src, ens2.dst FROM walk w JOIN ens2 ON w.cur = ens2.src), "
            f"t AS (SELECT w.* FROM walk w LEFT JOIN "
            f"(SELECT DISTINCT src FROM ens2) x ON w.cur = x.src WHERE x.src IS NULL), "
            f"pe AS (SELECT (p.row * {W} + p.col) AS t_id, dd.i AS d_in, "
            f"((p.row + d.dy) * {W} + (p.col + d.dx)) AS s_id "
            f"FROM ptr p JOIN dirs d ON d.code = CAST(p.value AS INT) "
            f"JOIN dirs2 dd ON dd.code = CAST(p.value AS INT) WHERE p.value > 0), "
            f"pes AS (SELECT pe.* FROM pe JOIN streams s ON pe.s_id = s.sid), "
            f"sdir AS (SELECT (p.row * {W} + p.col) AS s_id, "
            f"CASE WHEN p.value > 0 THEN dd.i ELSE -1 END AS d_out "
            f"FROM ptr p LEFT JOIN dirs2 dd ON dd.code = CAST(p.value AS INT)), "
            f"sdirs AS (SELECT sdir.* FROM sdir JOIN streams s ON sdir.s_id = s.sid), "
            f"ids AS (SELECT lbl AS l2, DENSE_RANK() OVER (ORDER BY lbl) AS link_id "
            f"FROM (SELECT DISTINCT lbl FROM lbl)), "
            f"lof AS (SELECT lbl.id AS s_id, ids.link_id FROM lbl "
            f"JOIN ids ON lbl.lbl = ids.l2), "
            f"hs AS (SELECT n.row, n.col, CAST(lof.link_id * 3 + "
            f"CASE WHEN sdirs.d_out < 0 THEN 0 "
            f"WHEN ((pes.d_in - sdirs.d_out) % 8 + 8) % 8 IN (1, 2, 3) THEN 1 "
            f"WHEN ((pes.d_in - sdirs.d_out) % 8 + 8) % 8 IN (5, 6, 7) THEN 2 "
            f"ELSE 0 END AS DOUBLE) AS value "
            f"FROM t JOIN pes ON t.cur = pes.t_id "
            f"JOIN sdirs ON pes.s_id = sdirs.s_id "
            f"JOIN lof ON pes.s_id = lof.s_id "
            f"JOIN nodes n ON t.src = n.id), "
            f"zs AS (SELECT c.row, c.col, 0.0 AS value FROM lbl JOIN c ON lbl.id = c.sid) "
            f"SELECT row, col, value FROM hs UNION ALL SELECT row, col, value FROM zs"
        ),
        # --- rounded-grain libm companions over the 40x40 closure ---
        "wetness": (
            f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, {closure}, "
            f"acc AS MATERIALIZED (SELECT n.id, n.row, n.col, COUNT(*) AS a "
            f"FROM reach r JOIN nodes n ON r.dst = n.id GROUP BY 1, 2, 3), "
            f"{_pivot5_40}, "
            f"t AS (SELECT row, col, GREATEST(SQRT({_P40} * {_P40} + {_Q40} * {_Q40}), "
            f"0.001) AS tanb FROM zz) "
            f"SELECT acc.row, acc.col, ROUND(LN((CAST(a AS DOUBLE) * 100.0 / 10.0) "
            f"/ tanb), 6) AS value "
            f"FROM acc JOIN t ON acc.row = t.row AND acc.col = t.col"
        ),
        "spi": (
            f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, {closure}, "
            f"acc AS MATERIALIZED (SELECT n.id, n.row, n.col, COUNT(*) AS a "
            f"FROM reach r JOIN nodes n ON r.dst = n.id GROUP BY 1, 2, 3), "
            f"{_pivot5_40}, "
            f"t AS (SELECT row, col, GREATEST(SQRT({_P40} * {_P40} + {_Q40} * {_Q40}), "
            f"0.001) AS tanb FROM zz) "
            f"SELECT acc.row, acc.col, ROUND(LN(POWER(CAST(a AS DOUBLE) * 100.0 / 10.0, "
            f"1.0) * tanb), 6) AS value "
            f"FROM acc JOIN t ON acc.row = t.row AND acc.col = t.col"
        ),
        "sti": (
            f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, {closure}, "
            f"acc AS MATERIALIZED (SELECT n.id, n.row, n.col, COUNT(*) AS a "
            f"FROM reach r JOIN nodes n ON r.dst = n.id GROUP BY 1, 2, 3), "
            f"{_pivot5_40}, "
            f"t AS (SELECT row, col, (SQRT({_P40} * {_P40} + {_Q40} * {_Q40})) "
            f"/ SQRT(1.0 + (SQRT({_P40} * {_P40} + {_Q40} * {_Q40})) * "
            f"(SQRT({_P40} * {_P40} + {_Q40} * {_Q40}))) AS sinb FROM zz) "
            f"SELECT acc.row, acc.col, ROUND((1.4) * "
            f"POWER(CAST(a AS DOUBLE) * 100.0 / 10.0 / 22.13, 0.4) "
            f"* POWER(sinb / 0.0896, 1.3), 6) AS value "
            f"FROM acc JOIN t ON acc.row = t.row AND acc.col = t.col"
        ),
        # --- stream-relative hydro walks (moved to the 40x40 gate) ---
        "elev_above_stream": (
            f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, {closure}, "
            f"{streams}, "
            f"ens AS MATERIALIZED (SELECT e.* FROM e LEFT JOIN streams s ON e.src = s.sid "
            f"WHERE s.sid IS NULL), "
            f"walk(src, cur) AS (SELECT id, id FROM nodes "
            f"UNION SELECT w.src, ens.dst FROM walk w JOIN ens ON w.cur = ens.src), "
            f"t AS (SELECT w.* FROM walk w LEFT JOIN "
            f"(SELECT DISTINCT src FROM ens) x ON w.cur = x.src WHERE x.src IS NULL), "
            f"z AS (SELECT (row * {W} + col) AS id, value FROM ras_a), "
            f"sel AS (SELECT t.src, t.cur, n.row, n.col, "
            f"ss.sid IS NOT NULL AS is_stream, st.sid IS NOT NULL AS reaches "
            f"FROM t JOIN nodes n ON t.src = n.id "
            f"LEFT JOIN streams ss ON t.src = ss.sid "
            f"LEFT JOIN streams st ON t.cur = st.sid) "
            f"SELECT row, col, CASE WHEN is_stream THEN 0.0 "
            f"ELSE za.value - zb.value END AS value "
            f"FROM sel JOIN z za ON sel.src = za.id JOIN z zb ON sel.cur = zb.id "
            f"WHERE is_stream OR reaches"
        ),
        "dist_to_stream": (
            f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, {closure}, "
            f"{streams}, "
            f"ens AS MATERIALIZED (SELECT e.* FROM e LEFT JOIN streams s ON e.src = s.sid "
            f"WHERE s.sid IS NULL), "
            f"walk(src, cur, nr, nc, nd) AS ("
            f"SELECT id, id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
            f"FROM nodes "
            f"UNION SELECT w.src, ens.dst, w.nr + ens.sr, w.nc + ens.sc, w.nd + ens.sd "
            f"FROM walk w JOIN ens ON w.cur = ens.src), "
            f"t AS (SELECT w.* FROM walk w LEFT JOIN "
            f"(SELECT DISTINCT src FROM ens) x ON w.cur = x.src WHERE x.src IS NULL), "
            f"sel AS (SELECT t.src, t.cur, t.nr, t.nc, t.nd, n.row, n.col, "
            f"ss.sid IS NOT NULL AS is_stream, st.sid IS NOT NULL AS reaches "
            f"FROM t JOIN nodes n ON t.src = n.id "
            f"LEFT JOIN streams ss ON t.src = ss.sid "
            f"LEFT JOIN streams st ON t.cur = st.sid) "
            f"SELECT row, col, CAST(CASE WHEN is_stream THEN 0.0 ELSE "
            f"{lexp} END AS DOUBLE) AS value "
            f"FROM sel WHERE is_stream OR reaches"
        ),
    }


def _parallel_flow_oracle(prelude: str, W: int) -> str:
    pairs = []
    for i in range(8):
        dy, dx = HY.D8_DY[i], HY.D8_DX[i]
        for ny in (-1, 0, 1):
            for nx in (-1, 0, 1):
                if (ny, nx) in ((0, 0), (dy, dx), (-dy, -dx)):
                    continue
                pairs.append(f"({1 << i}, {ny}, {nx})")
    return (
        prelude + f", "
        f"sp AS MATERIALIZED (SELECT p.row, p.col, CAST(p.value AS BIGINT) AS code "
        f"FROM ptr p JOIN streams s ON (p.row * {W} + p.col) = s.sid "
        f"WHERE p.value > 0), "
        f"po AS (SELECT * FROM (VALUES {', '.join(pairs)}) o(c, dr, dc)), "
        f"hit AS (SELECT DISTINCT sp.row, sp.col FROM sp "
        f"JOIN po ON po.c = sp.code "
        f"JOIN sp n ON n.row = sp.row + po.dr AND n.col = sp.col + po.dc "
        f"AND n.code = sp.code) "
        f"SELECT sp.row, sp.col, CAST(CASE WHEN hit.row IS NOT NULL "
        f"THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value "
        f"FROM sp LEFT JOIN hit ON sp.row = hit.row AND sp.col = hit.col"
    )


def _focal3_oracles() -> dict[str, str]:
    """Oracles for the round-2 continuation focal filters. All share the
    9-cell scatter (+ center join where the rule needs z) with exact
    integer moments; fold-order-sensitive expressions reuse the SAME
    text the Spark operators execute."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    offs9 = ("offs AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),"
             "(1,-1),(1,0),(1,1)) o(dr, dc))")
    sc9 = ("sc AS (SELECT a.row + o.dr AS row, a.col + o.dc AS col, "
           "-o.dr AS dr, -o.dc AS dc, a.value AS nv FROM ras_a a, offs o)")
    scz = ("scz AS (SELECT s.row, s.col, s.dr, s.dc, s.nv, c.value AS z "
           "FROM sc s JOIN ras_a c ON s.row = c.row AND s.col = c.col)")
    base = f"WITH {ras_a}, {offs9}, {sc9}, {scz} "
    med = "(list_sort(list(nv)))[CAST(FLOOR((COUNT(nv) + 1) / 2) AS INT)]"
    pvar = "(SUM(nv * nv) - SUM(nv) * SUM(nv) / COUNT(nv)) / COUNT(nv)"

    in_pred = "nv >= z - 150.0 AND nv <= z + 150.0"
    ring = "ABS(dr) <= 1 AND ABS(dc) <= 1 AND NOT (dr = 0 AND dc = 0)"
    lee = (
        base +
        f"SELECT row, col, CASE WHEN COUNT(CASE WHEN {in_pred} THEN 1 END) > 5.0 "
        f"THEN SUM(CASE WHEN {in_pred} THEN nv END) "
        f"   / COUNT(CASE WHEN {in_pred} THEN 1 END) "
        f"ELSE SUM(CASE WHEN {ring} THEN nv END) "
        f"   / COUNT(CASE WHEN {ring} THEN 1 END) END AS value "
        f"FROM scz GROUP BY 1, 2"
    )
    knm = (
        base.rstrip() + ", " +
        "rk AS (SELECT row, col, nv, ROW_NUMBER() OVER (PARTITION BY row, col "
        "ORDER BY (nv - z) * (nv - z), nv, dr, dc) AS r FROM scz) "
        "SELECT row, col, SUM(nv) / COUNT(nv) AS value FROM rk WHERE r <= 5 "
        "GROUP BY 1, 2"
    )

    # unsharp masking over the nullable gaussian pivot
    size, blur = FO.gaussian_value_expr(0.75)
    mid = size // 2
    offsk = "offsk AS (SELECT * FROM (VALUES " + ", ".join(
        f"({n}, {n // size - mid}, {n % size - mid})" for n in range(size * size)
    ) + ") o(n, dr, dc))"
    sck = ("sck AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, o.n AS n, "
           "a.value AS nv FROM ras_a a, offsk o)")
    piv_cols = ", ".join(
        f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}" for n in range(size * size))
    zc = f"z_{mid * size + mid}"
    diff = f"({zc} - ({blur}))"
    unsharp = (
        f"WITH {ras_a}, {offsk}, {sck}, "
        f"piv AS (SELECT row, col, {piv_cols} FROM sck GROUP BY 1, 2) "
        f"SELECT row, col, CASE WHEN {diff} > ABS(2.0) "
        f"THEN {zc} + {diff} * 0.5 ELSE {zc} END AS value "
        f"FROM piv WHERE {zc} IS NOT NULL"
    )

    offs4 = ("offs4 AS (SELECT * FROM (VALUES (0, 0, 0), (1, 0, 1), "
             "(2, 1, 0), (3, 1, 1)) o(n, dr, dc))")
    sc4 = ("sc4 AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, o.n AS n, "
           "a.value AS nv FROM ras_a a, offs4 o)")
    roberts = (
        f"WITH {ras_a}, {offs4}, {sc4}, "
        f"piv AS (SELECT row, col, "
        + ", ".join(f"MAX(CASE WHEN n = {i} THEN nv END) AS z{i + 1}" for i in range(4))
        + " FROM sc4 GROUP BY 1, 2) "
        f"SELECT row, col, ABS(z1 - COALESCE(z4, z1)) + "
        f"ABS(COALESCE(z2, z1) - COALESCE(z3, z1)) AS value "
        f"FROM piv WHERE z1 IS NOT NULL"
    )

    ld = FO.LINE_DETECTION["45"]
    ldvals = ", ".join(
        f"({i - 1}, {j - 1}, {ld[i][j]!r})" for i in range(3) for j in range(3))
    line_det = (
        f"WITH {ras_a}, offsk AS (SELECT * FROM (VALUES {ldvals}) o(dr, dc, w)), "
        f"sck AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, "
        f"o.w * a.value AS p FROM ras_a a, offsk o), "
        f"g AS (SELECT row, col, SUM(p) AS v FROM sck GROUP BY 1, 2 "
        f"HAVING COUNT(*) = 9) "
        f"SELECT g.row, g.col, ABS(v) AS value "
        f"FROM g JOIN (SELECT row, col FROM ras_a) c USING (row, col)"
    )

    # fast-almost-gaussian: chained integer box sums, one final divide
    widths = [w for w in FO.fag_box_widths(1.8) if w > 1]
    ctes = [ras_a]
    prev = "ras_a"
    denom = 1.0
    for i, w in enumerate(widths):
        r = w // 2
        offs = ", ".join(f"({dr}, {dc})" for dr in range(-r, r + 1)
                         for dc in range(-r, r + 1))
        ctes.append(
            f"p{i} AS (SELECT a.row + o.dr AS row, a.col + o.dc AS col, "
            f"SUM(a.value) AS value FROM {prev} a, "
            f"(SELECT * FROM (VALUES {offs}) o(dr, dc)) o "
            f"GROUP BY 1, 2 HAVING COUNT(*) = {w * w})"
        )
        prev = f"p{i}"
        denom *= w * w
    fag = (f"WITH {', '.join(ctes)} "
           f"SELECT row, col, value / {denom!r} AS value FROM {prev}")

    hyps_bins = ", ".join(
        f"({i}, {i / 10!r})" for i in range(11))
    return {
        "tri": (
            base + "SELECT row, col, "
            "SQRT(SUM((nv - z) * (nv - z)) / (COUNT(nv) - 1)) AS value "
            "FROM scz GROUP BY 1, 2"
        ),
        "rtp": (
            base + "SELECT row, col, "
            "CASE WHEN ANY_VALUE(z) < AVG(nv) THEN "
            "(ANY_VALUE(z) - AVG(nv)) / (AVG(nv) - MIN(nv)) "
            "ELSE CASE WHEN MAX(nv) = AVG(nv) THEN 0.0 ELSE "
            "(ANY_VALUE(z) - AVG(nv)) / (MAX(nv) - AVG(nv)) END END AS value "
            "FROM scz GROUP BY 1, 2"
        ),
        "hypsometry": (
            f"WITH {ras_a}, st AS (SELECT MIN(value) AS __lo, MAX(value) AS __hi, "
            f"COUNT(*) AS __n FROM ras_a), "
            f"bins AS (SELECT * FROM (VALUES {hyps_bins}) b(bin, rel_elev)) "
            f"SELECT CAST(bin AS INT) AS bin, CAST(rel_elev AS DOUBLE) AS rel_elev, "
            f"SUM(CASE WHEN value > __lo + rel_elev * (__hi - __lo) THEN 1 ELSE 0 END) "
            f"/ ANY_VALUE(__n) AS rel_area_above "
            f"FROM ras_a, st, bins GROUP BY bin, rel_elev"
        ),
        "stdev_filter": (
            f"WITH {ras_a}, {offs9}, {sc9} "
            f"SELECT s.row, s.col, SQRT({pvar}) AS value FROM sc s "
            f"JOIN (SELECT row, col FROM ras_a) c ON s.row = c.row AND s.col = c.col "
            f"GROUP BY 1, 2"
        ),
        "highpass": (
            base + "SELECT row, col, ANY_VALUE(z) - AVG(nv) AS value "
            "FROM scz GROUP BY 1, 2"
        ),
        "highpass_median": (
            base + f"SELECT row, col, ANY_VALUE(z) - ({med}) AS value "
            "FROM scz GROUP BY 1, 2"
        ),
        "adaptive_filter": (
            base +
            f"SELECT row, col, CASE WHEN {pvar} > 0.0 AND "
            f"ABS((ANY_VALUE(z) - AVG(nv)) / SQRT({pvar})) > 1.0 "
            f"THEN AVG(nv) ELSE ANY_VALUE(z) END AS value "
            f"FROM scz GROUP BY 1, 2"
        ),
        "lee_filter": lee,
        "knearest_mean": knm,
        "unsharp": unsharp,
        "roberts": roberts,
        "line_detection": line_det,
        "fast_gaussian": fag,
    }


def _enhancement_oracles() -> dict[str, str]:
    """Oracles for the global image-enhancement family. Every mapping is
    (exact integer moments | per-value prefix counts) + the SAME
    portable stretch expression text the Spark operators execute
    (LEAST/GREATEST/FLOOR + arithmetic only — no libm)."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    ras_b = f"ras_b AS ({_RAS_B_SQL})"
    ras_d = f"ras_d AS ({_RAS_D_SQL})"

    minmax = (
        f"WITH {ras_a}, st AS (SELECT MIN(value) AS __lo, MAX(value) AS __hi FROM ras_a) "
        f"SELECT row, col, {EN._stretch_expr('__lo', '__hi', 256)} AS value "
        f"FROM ras_a, st"
    )
    pct = (
        f"WITH {ras_a}, n AS (SELECT COUNT(*) AS cnt FROM ras_a), "
        f"vc AS (SELECT value, COUNT(*) AS __c FROM ras_a GROUP BY 1), "
        f"cum AS (SELECT value, __c, SUM(__c) OVER (ORDER BY value) AS __cum FROM vc), "
        f"k AS (SELECT GREATEST(1, CEILING(cnt * 2.0 / 100.0)) AS kk, cnt FROM n), "
        f"cuts AS (SELECT MIN(CASE WHEN __cum >= kk THEN value END) AS __lo, "
        f"MAX(CASE WHEN cnt - __cum + __c >= kk THEN value END) AS __hi FROM cum, k) "
        f"SELECT row, col, {EN._stretch_expr('__lo', '__hi', 256)} AS value "
        f"FROM ras_a, cuts"
    )
    sd = "SQRT((__sxx - __sx * __sx / __n) / (__n - 1))"
    lo = f"GREATEST(__sx / __n - 2.0 * {sd}, __dlo)"
    hi = f"LEAST(__sx / __n + 2.0 * {sd}, __dhi)"
    stdev = (
        f"WITH {ras_a}, st AS (SELECT COUNT(*) AS __n, SUM(value) AS __sx, "
        f"SUM(value * value) AS __sxx, MIN(value) AS __dlo, MAX(value) AS __dhi "
        f"FROM ras_a) "
        f"SELECT row, col, {EN._stretch_expr(f'({lo})', f'({hi})', 256)} AS value "
        f"FROM ras_a, st"
    )
    L, H, E = "0.0", "255.0", "110.0"
    e, s = "(__sx / __n)", "(__sxx / __n)"
    bb = (f"((__h * __h * ({E} - {L}) - {s} * ({H} - {L}) + __l * __l * ({H} - {E})) / "
          f"(2.0 * (__h * ({E} - {L}) - {e} * ({H} - {L}) + __l * ({H} - {E}))))")
    aa = f"(({H} - {L}) / ((__h - __l) * (__h + __l - 2.0 * {bb})))"
    cc = f"({L} - {aa} * (__l - {bb}) * (__l - {bb}))"
    bcet = (
        f"WITH {ras_a}, st AS (SELECT COUNT(*) AS __n, SUM(value) AS __sx, "
        f"SUM(value * value) AS __sxx, MIN(value) AS __l, MAX(value) AS __h FROM ras_a) "
        f"SELECT row, col, {aa} * (value - {bb}) * (value - {bb}) + {cc} AS value "
        f"FROM ras_a, st"
    )
    hist_match = (
        f"WITH {ras_a}, {ras_b}, "
        f"na AS (SELECT COUNT(*) AS cnta FROM ras_a), "
        f"nb AS (SELECT COUNT(*) AS cntb FROM ras_b), "
        f"ca AS (SELECT value AS __va, SUM(COUNT(*)) OVER (ORDER BY value) / cnta AS __pa "
        f"FROM ras_a, na GROUP BY value, cnta), "
        f"cb AS (SELECT value AS __vb, SUM(COUNT(*)) OVER (ORDER BY value) / cntb AS __pb "
        f"FROM ras_b, nb GROUP BY value, cntb), "
        f"m AS (SELECT __va, MIN(__vb) AS __out FROM ca JOIN cb ON __pb >= __pa GROUP BY __va) "
        f"SELECT row, col, __out AS value FROM ras_a JOIN m ON ras_a.value = m.__va"
    )
    # HistogramMatchingTwoImages: same CDF-mapping text over the b -> d pair
    hist_match_two = (
        f"WITH {ras_b}, {ras_d}, "
        f"na AS (SELECT COUNT(*) AS cnta FROM ras_b), "
        f"nb AS (SELECT COUNT(*) AS cntb FROM ras_d), "
        f"ca AS (SELECT value AS __va, SUM(COUNT(*)) OVER (ORDER BY value) / cnta AS __pa "
        f"FROM ras_b, na GROUP BY value, cnta), "
        f"cb AS (SELECT value AS __vb, SUM(COUNT(*)) OVER (ORDER BY value) / cntb AS __pb "
        f"FROM ras_d, nb GROUP BY value, cntb), "
        f"m AS (SELECT __va, MIN(__vb) AS __out FROM ca JOIN cb ON __pb >= __pa GROUP BY __va) "
        f"SELECT row, col, __out AS value FROM ras_b JOIN m ON ras_b.value = m.__va"
    )

    def _wfm_band(v, lo, hi):
        return (f"FLOOR(LEAST(GREATEST(({v} - {lo}) / NULLIF({hi} - {lo}, 0.0) "
                f"* 255e0, 0e0), 255e0))")

    wfm = (
        f"WITH {ras_a}, {ras_b}, {ras_d}, "
        f"j AS (SELECT a.row, a.col, a.value AS __r, b.value AS __g, d.value AS __b "
        f"FROM ras_a a JOIN ras_b b USING (row, col) JOIN ras_d d USING (row, col)), "
        f"st AS (SELECT MIN(__r) AS rmin, MAX(__r) AS rmax, MIN(__g) AS gmin, "
        f"MAX(__g) AS gmax, MIN(__b) AS bmin, MAX(__b) AS bmax FROM j) "
        f"SELECT row, col, 4278190080e0 + {_wfm_band('__b', 'bmin', 'bmax')} * 65536e0 "
        f"+ {_wfm_band('__g', 'gmin', 'gmax')} * 256e0 "
        f"+ {_wfm_band('__r', 'rmin', 'rmax')} AS value FROM j, st"
    )
    mexp = "LEAST(__r, __g, __b)"
    dds = (
        f"WITH {ras_a}, {ras_b}, {ras_d}, "
        f"j AS (SELECT a.row, a.col, a.value AS __r, b.value AS __g, d.value AS __b "
        f"FROM ras_a a JOIN ras_b b USING (row, col) JOIN ras_d d USING (row, col)) "
        f"SELECT row, col, __r - 0.5 * {mexp} AS r, __g - 0.5 * {mexp} AS g, "
        f"__b - 0.5 * {mexp} AS b FROM j"
    )
    cva = (
        f"WITH {ras_a}, {ras_b}, {ras_d}, "
        f"j AS (SELECT a.row, a.col, a.value AS __a1, b.value AS __b1, "
        f"d.value AS __a2, a.value AS __b2 "
        f"FROM ras_a a JOIN ras_b b USING (row, col) JOIN ras_d d USING (row, col)) "
        f"SELECT row, col, "
        f"SQRT((__a2 - __a1) * (__a2 - __a1) + (__b2 - __b1) * (__b2 - __b1)) AS magnitude, "
        f"CAST(CASE WHEN __a2 >= __a1 THEN 1 ELSE 0 END + "
        f"CASE WHEN __b2 >= __b1 THEN 2 ELSE 0 END AS INT) AS sector FROM j"
    )
    return {
        "minmax_stretch": minmax,
        "pct_stretch": pct,
        "stdev_stretch": stdev,
        "bcet": bcet,
        "hist_match": hist_match,
        "hist_match_two_images": hist_match_two,
        "wfm_insertion": wfm,
        "dds": dds,
        "cva": cva,
        "ndi": (
            f"WITH {ras_a}, {ras_b} SELECT row, col, "
            f"(a.value - b.value) / (a.value + b.value + 1.0) AS value "
            f"FROM ras_a a JOIN ras_b b USING (row, col)"
        ),
        "flip_image": (
            f"WITH {ras_a} SELECT 99 - row AS row, 99 - col AS col, value FROM ras_a"
        ),
        # sigmoidal_stretch / gamma_corr: EXP/POWER over data-dependent
        # args — engine libm differs in the last ulp; rows-only + pytest.
        # The *_rounded companions below gate the same formulas at 1e-6
        # grain (the aspect_rounded pattern).
        "sigmoidal_stretch": _sigmoid_rounded_oracle(),
        "gamma_corr": (
            f"WITH {ras_a}, st AS (SELECT MIN(value) AS __lo, MAX(value) AS __hi "
            f"FROM ras_a) "
            f"SELECT row, col, ROUND(POWER(((value - __lo) / (__hi - __lo)), 0.5) "
            f"* (__hi - __lo) + __lo, 6) AS value FROM ras_a, st"
        ),
    }


def _sigmoid_rounded_oracle() -> str:
    import math
    gain, cutoff = 2.0, 0.4
    a = 1.0 / (1.0 + math.exp(gain * cutoff))
    b = (1.0 / (1.0 + math.exp(gain * (cutoff - 1.0)))
         - 1.0 / (1.0 + math.exp(gain * cutoff)))
    zn = "((value - __lo) / (__hi - __lo))"
    sig = f"((1.0 / (1.0 + EXP({gain!r} * ({cutoff!r} - {zn}))) - {a!r}) / {b!r})"
    t = f"LEAST(GREATEST({sig}, 0.0), 1.0) * 256"
    return (
        f"WITH ras_a AS ({_RAS_A_SQL}), "
        f"st AS (SELECT MIN(value) AS __lo, MAX(value) AS __hi FROM ras_a) "
        f"SELECT row, col, ROUND(LEAST(FLOOR({t}), 255.0), 6) AS value "
        f"FROM ras_a, st"
    )


def _simplify_rdp_replay_sql() -> str:
    """Exact-replay oracle for simplify_rdp (see the dict entry's note):
    per-interval first-wins RDP anchors + split reachability from
    (0, 8) over the 9-vertex redundant rings. Every arithmetic text
    below matches operators/vector_ops.py _rdp and the
    _shapes_redundant fixture (midpoints as (a + b) / 2.0), so the
    doubles are bit-identical."""
    # the 9-ring vertex expressions, exactly as _shapes_redundant emits
    rectv = [
        ("cx - hw", "cy - hh"),
        ("(cx - hw + cx + hw) / 2.0", "(cy - hh + cy - hh) / 2.0"),
        ("cx + hw", "cy - hh"),
        ("(cx + hw + cx + hw) / 2.0", "(cy - hh + cy + hh) / 2.0"),
        ("cx + hw", "cy + hh"),
        ("(cx + hw + cx - hw) / 2.0", "(cy + hh + cy + hh) / 2.0"),
        ("cx - hw", "cy + hh"),
        ("(cx - hw + cx - hw) / 2.0", "(cy + hh + cy - hh) / 2.0"),
        ("cx - hw", "cy - hh"),
    ]
    diamv = [
        ("cx", "cy - hh"),
        ("(cx + cx + hw) / 2.0", "(cy - hh + cy) / 2.0"),
        ("cx + hw", "cy"),
        ("(cx + hw + cx) / 2.0", "(cy + cy + hh) / 2.0"),
        ("cx", "cy + hh"),
        ("(cx + cx - hw) / 2.0", "(cy + hh + cy) / 2.0"),
        ("cx - hw", "cy"),
        ("(cx - hw + cx) / 2.0", "(cy + cy - hh) / 2.0"),
        ("cx", "cy - hh"),
    ]
    xcase = ("CASE WHEN kind = 0 THEN CASE v.i "
             + " ".join(f"WHEN {i} THEN {rectv[i][0]}" for i in range(9))
             + " END ELSE CASE v.i "
             + " ".join(f"WHEN {i} THEN {diamv[i][0]}" for i in range(9))
             + " END END")
    ycase = ("CASE WHEN kind = 0 THEN CASE v.i "
             + " ".join(f"WHEN {i} THEN {rectv[i][1]}" for i in range(9))
             + " END ELSE CASE v.i "
             + " ".join(f"WHEN {i} THEN {diamv[i][1]}" for i in range(9))
             + " END END")
    ivals = ", ".join(f"({i})" for i in range(9))
    seg2 = "((b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y))"
    cross = "((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x))"
    d2 = (f"CASE WHEN {seg2} = 0.0 THEN "
          f"(p.x - a.x) * (p.x - a.x) + (p.y - a.y) * (p.y - a.y) "
          f"ELSE {cross} * {cross} / {seg2} END")
    tol2 = "0.001 * 0.001"
    return (
        f"WITH RECURSIVE base AS ({_SHAPES_BASE}), "
        f"verts AS MATERIALIZED (SELECT shape_id, v.i, {xcase} AS x, "
        f"{ycase} AS y FROM base JOIN (VALUES {ivals}) v(i) ON TRUE), "
        f"allp AS MATERIALIZED ("
        f"SELECT a.shape_id, a.i AS i0, b.i AS i1, p.i AS i, {d2} AS d2 "
        f"FROM verts a JOIN verts b ON a.shape_id = b.shape_id AND b.i > a.i + 1 "
        f"JOIN verts p ON p.shape_id = a.shape_id AND p.i > a.i AND p.i < b.i), "
        f"mx AS (SELECT shape_id, i0, i1, MAX(d2) AS bd FROM allp GROUP BY 1, 2, 3), "
        f"bsel AS MATERIALIZED (SELECT a.shape_id, a.i0, a.i1, "
        f"MIN(a.i) AS best, MIN(m.bd) AS bd "
        f"FROM allp a JOIN mx m ON a.shape_id = m.shape_id AND a.i0 = m.i0 "
        f"AND a.i1 = m.i1 AND a.d2 = m.bd GROUP BY 1, 2, 3), "
        f"reach(shape_id, i0, i1) AS ("
        f"SELECT shape_id, 0, 8 FROM base "
        f"UNION SELECT r.shape_id, "
        f"CASE WHEN c.k = 0 THEN r.i0 ELSE b.best END, "
        f"CASE WHEN c.k = 0 THEN b.best ELSE r.i1 END "
        f"FROM reach r JOIN bsel b ON r.shape_id = b.shape_id "
        f"AND r.i0 = b.i0 AND r.i1 = b.i1 AND b.bd > {tol2} "
        f"JOIN (VALUES (0), (1)) c(k) ON TRUE), "
        f"kept AS (SELECT shape_id, 0 AS i FROM base "
        f"UNION SELECT shape_id, 8 FROM base "
        f"UNION SELECT r.shape_id, b.best FROM reach r "
        f"JOIN bsel b ON r.shape_id = b.shape_id AND r.i0 = b.i0 "
        f"AND r.i1 = b.i1 AND b.bd > {tol2}) "
        f"SELECT k.shape_id, CAST(0 AS INT) AS part_idx, "
        f"CAST(ROW_NUMBER() OVER (PARTITION BY k.shape_id ORDER BY k.i) - 1 "
        f"AS INT) AS node_idx, v.x, v.y "
        f"FROM kept k JOIN verts v ON k.shape_id = v.shape_id AND k.i = v.i"
    )


def _vector_op_oracles() -> dict[str, str]:
    """Oracles for the per-feature vector ops (DuckDB list folds in the
    same sequential order as the Spark AGGREGATE expressions)."""
    rings = (f"WITH base AS ({_SHAPES_BASE}), "
             f"rs AS (SELECT shape_id, CASE WHEN kind = 0 THEN {_RECT_DUCK} "
             f"ELSE {_DIAM_DUCK} END AS ring FROM base)")
    area = ("(abs(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(range(1, len(ring)), i -> ring[i].x * ring[i+1].y "
            "- ring[i+1].x * ring[i].y)), (a, b) -> a + b)) / 2.0)")
    per = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
           "list_transform(range(1, len(ring)), i -> sqrt("
           "(ring[i].x - ring[i+1].x) * (ring[i].x - ring[i+1].x) + "
           "(ring[i].y - ring[i+1].y) * (ring[i].y - ring[i+1].y)))), (a, b) -> a + b)")
    sx = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
          "list_transform(ring, v -> v.x)), (a, b) -> a + b)")
    sy = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
          "list_transform(ring, v -> v.y)), (a, b) -> a + b)")
    pts_cte = f"WITH pts AS ({_PTS_SQL})"
    cx40 = frs_cell_expr("x", 40.0)
    cy40 = frs_cell_expr("y", 40.0)
    r100y = _META100.row_from_y_expr("y")
    c100x = _META100.col_from_x_expr("x")
    return {
        "poly_area_vec": f"{rings} SELECT shape_id, (0.0 + {area}) AS area FROM rs",
        "poly_perimeter_vec": f"{rings} SELECT shape_id, (0.0 + {per}) AS perimeter FROM rs",
        "compactness": (
            f"{rings} SELECT shape_id, (0.0 + {area}) / (0.0 + {per}) AS compactness FROM rs"
        ),
        "centroid_vec": (
            f"{rings} SELECT shape_id, ({sx}) / CAST(len(ring) AS DOUBLE) AS cx, "
            f"({sy}) / CAST(len(ring) AS DOUBLE) AS cy FROM rs"
        ),
        "linearity": (
            f"{rings}, "
            f"st1 AS (SELECT shape_id, ring, "
            f"(list_reduce(list_prepend(CAST(-1.0e308 AS DOUBLE), list_transform(ring, v -> v.x)), (a, b) -> CASE WHEN b > a THEN b ELSE a END) "
            f"- list_reduce(list_prepend(CAST(1.0e308 AS DOUBLE), list_transform(ring, v -> v.x)), (a, b) -> CASE WHEN b < a THEN b ELSE a END)) / 2.0 AS mx, "
            f"(list_reduce(list_prepend(CAST(-1.0e308 AS DOUBLE), list_transform(ring, v -> v.y)), (a, b) -> CASE WHEN b > a THEN b ELSE a END) "
            f"- list_reduce(list_prepend(CAST(1.0e308 AS DOUBLE), list_transform(ring, v -> v.y)), (a, b) -> CASE WHEN b < a THEN b ELSE a END)) / 2.0 AS my "
            f"FROM rs), "
            f"st2 AS (SELECT shape_id, CAST(len(ring) AS DOUBLE) AS n, "
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(ring, v -> (v.x - mx))), (a, b) -> a + b) AS sx, "
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(ring, v -> (v.y - my))), (a, b) -> a + b) AS sy, "
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(ring, v -> (v.x - mx) * (v.y - my))), (a, b) -> a + b) AS sxy, "
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(ring, v -> (v.x - mx) * (v.x - mx))), (a, b) -> a + b) AS sxsqr, "
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(ring, v -> (v.y - my) * (v.y - my))), (a, b) -> a + b) AS sysqr "
            f"FROM st1) "
            f"SELECT shape_id, CASE WHEN SQRT((sxsqr / n - (sx / n) * (sx / n)) * "
            f"(sysqr / n - (sy / n) * (sy / n))) <> 0.0 THEN "
            f"((sxy / n - (sx * sy) / (n * n)) / SQRT((sxsqr / n - (sx / n) * (sx / n)) * "
            f"(sysqr / n - (sy / n) * (sy / n)))) * "
            f"((sxy / n - (sx * sy) / (n * n)) / SQRT((sxsqr / n - (sx / n) * (sx / n)) * "
            f"(sysqr / n - (sy / n) * (sy / n)))) ELSE 0.0 END AS linearity FROM st2"
        ),
        "extract_nodes_vec": (
            f"{rings} SELECT shape_id, CAST(0 AS INT) AS part_idx, CAST(i - 1 AS INT) AS node_idx, "
            f"ring[i].x AS x, ring[i].y AS y "
            f"FROM rs JOIN (VALUES (1), (2), (3), (4), (5)) v(i) ON TRUE"
        ),
        # simplify_rdp (round-5 oracle upgrade): a faithful replay of the
        # _rdp anchor cascade. A closed-form prediction is impossible
        # here: the diamond ring's first closed-ring split has three
        # candidates (top corner, top-left midpoint, left corner) whose
        # distances tie EXACTLY in real arithmetic, so float rounding of
        # the cross products decides which survives. Instead the oracle
        # enumerates every (i0, i1) interval of the 9-vertex ring (36
        # total), computes each interval's first-wins argmax anchor with
        # the kernel's own +-*/ expressions (bit-identical IEEE ops, no
        # libm), and walks the split recursion as interval-graph
        # reachability from (0, 8). Kept = endpoints + reached anchors
        # over tolerance — the exact _rdp keep set.
        "simplify_rdp": _simplify_rdp_replay_sql(),
        "remove_duplicates": (
            f"{pts_cte}, d AS (SELECT record_num, x, y, value FROM pts "
            f"UNION ALL SELECT record_num + 1000000, x, y, value FROM pts), "
            f"r AS (SELECT record_num, x, y, value, ROW_NUMBER() OVER "
            f"(PARTITION BY x, y ORDER BY record_num) AS rk FROM d) "
            f"SELECT record_num, x, y, value FROM r WHERE rk = 1"
        ),
        "lidar_outliers": (
            f"{pts_cte}, b AS (SELECT record_num, value, "
            f"{frs_cell_expr('x', 80.0)} AS cx, {frs_cell_expr('y', 80.0)} AS cy FROM pts), "
            f"m AS (SELECT record_num, value, AVG(value) OVER (PARTITION BY cx, cy) AS mz FROM b) "
            f"SELECT record_num FROM m WHERE ABS(value - mz) <= 300.0"
        ),
        "lidar_thin": (
            f"{pts_cte}, b AS (SELECT record_num, x, y, value, {cx40} AS cx, {cy40} AS cy FROM pts), "
            f"r AS (SELECT record_num, x, y, value, ROW_NUMBER() OVER "
            f"(PARTITION BY cx, cy ORDER BY record_num) AS rk FROM b) "
            f"SELECT record_num, x, y, value FROM r WHERE rk = 1"
        ),
        "elevation_slice": (
            f"{pts_cte} SELECT record_num, x, y, value FROM pts "
            f"WHERE value >= 200.0 AND value <= 600.0"
        ),
        "block_max": (
            f"{pts_cte}, rc AS (SELECT {r100y} AS row, {c100x} AS col, value FROM pts) "
            f"SELECT row, col, MAX(value) AS value FROM rc "
            f"WHERE row >= 0 AND row < 100 AND col >= 0 AND col < 100 GROUP BY 1, 2"
        ),
        "point_density": (
            f"{pts_cte}, rc AS (SELECT {r100y} AS row, {c100x} AS col FROM pts) "
            f"SELECT row, col, CAST(COUNT(*) AS DOUBLE) / 100.0 AS value FROM rc "
            f"WHERE row >= 0 AND row < 100 AND col >= 0 AND col < 100 GROUP BY 1, 2"
        ),
        "hag": (
            f"{pts_cte}, b AS (SELECT record_num, value, {cx40} AS cx, {cy40} AS cy FROM pts) "
            f"SELECT record_num, value - MIN(value) OVER (PARTITION BY cx, cy) AS hag FROM b"
        ),
        "medoid": _medoid_oracle(),
        "raster_area": (
            f"WITH ras_a AS ({_RAS_A_SQL}) SELECT value, "
            f"CAST(COUNT(*) AS DOUBLE) * 100.0 AS area FROM ras_a GROUP BY 1"
        ),
        "smooth_vectors": _smooth_vectors_oracle(),
        "line_intersections": _line_intersections_oracle(),
        "media_features": _media_features_oracle(),
        "media_resize": _media_resize_oracle(),
        "media_frames": _media_frames_oracle(),
        "token_budget": (
            f"SELECT doc_id, CAST({T.token_count_expr('text')[1]} AS BIGINT) AS n_ws_tokens, "
            f"CAST({T.bpe_token_count_expr('text')[1]} AS BIGINT) AS n_bpe_tokens "
            "FROM documents"
        ),
        "lineage_resume": (
            f"{pts_cte}, t AS (SELECT {TL.tile_exprs(_TG)['tile_id']} AS tile_id FROM pts) "
            f"SELECT CAST(tile_id % 4 AS VARCHAR) AS partition_key, "
            f"'COMPLETED' AS status, COUNT(*) AS \"rows\" FROM t GROUP BY 1"
        ),
    }


def _medoid_oracle() -> str:
    """Per-group medoid: ordered centroid fold + first-minimum distance
    scan, DuckDB list folds mirroring the Spark AGGREGATE text."""
    pts_sorted = "list_sort(list({'rn': record_num, 'px': x, 'py': y}))"
    cx = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
          "list_transform(pts, p -> p.px)), (a, b) -> a + b) / CAST(len(pts) AS DOUBLE)")
    cy = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
          "list_transform(pts, p -> p.py)), (a, b) -> a + b) / CAST(len(pts) AS DOUBLE)")
    best = (
        "list_reduce(list_prepend("
        "{'d': CAST('Infinity' AS DOUBLE), 'rn': CAST(-1 AS BIGINT), "
        "'px': CAST(0.0 AS DOUBLE), 'py': CAST(0.0 AS DOUBLE)}, "
        "list_transform(pts, p -> {'d': (p.px - cx) * (p.px - cx) + (p.py - cy) * (p.py - cy), "
        "'rn': p.rn, 'px': p.px, 'py': p.py})), "
        "(a, b) -> CASE WHEN b.d < a.d THEN b ELSE a END)"
    )
    return (
        f"WITH pts0 AS ({_PTS_SQL}), "
        f"g AS (SELECT record_num % 7 AS grp, {pts_sorted} AS pts FROM pts0 GROUP BY 1), "
        f"g2 AS (SELECT grp, pts, {cx} AS cx, {cy} AS cy FROM g) "
        f"SELECT grp, ({best}).rn AS medoid_record, ({best}).px AS x, ({best}).py AS y FROM g2"
    )


def _smooth_vectors_oracle() -> str:
    """Wraparound 3-point moving average over the open ring (4 vertices
    for the rect/diamond layer), node list re-closed at index 5."""
    rings = (f"WITH base AS ({_SHAPES_BASE}), "
             f"rs AS (SELECT shape_id, CASE WHEN kind = 0 THEN {_RECT_DUCK} "
             f"ELSE {_DIAM_DUCK} END AS ring FROM base), "
             f"o AS (SELECT shape_id, list_transform(range(1, len(ring)), i -> ring[i]) AS op FROM rs)")
    ie = "(CASE WHEN v.i = 5 THEN 1 ELSE v.i END)"
    prev = f"op[(({ie} - 2 + len(op)) % len(op)) + 1]"
    cur = f"op[(({ie} - 1 + len(op)) % len(op)) + 1]"
    nxt = f"op[({ie} % len(op)) + 1]"
    return (
        f"{rings} SELECT shape_id, CAST(0 AS INT) AS part_idx, CAST(v.i - 1 AS INT) AS node_idx, "
        f"({prev}.x + {cur}.x + {nxt}.x) / 3.0 AS x, "
        f"({prev}.y + {cur}.y + {nxt}.y) / 3.0 AS y "
        f"FROM o JOIN (VALUES (1), (2), (3), (4), (5)) v(i) ON TRUE"
    )


def _line_intersections_oracle() -> str:
    """Segment pairs: derived shape edges x the fixed polygon layer's
    edges (ring constants), same t/u closed-form solve."""
    seg_rows = []
    for pid, shells, holes in _POLYS:
        for ring in shells + holes:
            for si, ((x1, y1), (x2, y2)) in enumerate(zip(ring[:-1], ring[1:])):
                seg_rows.append(f"({pid}, {si}, {x1!r}, {y1!r}, {x2!r}, {y2!r})")
    bsegs = ("bsegs AS (SELECT * FROM (VALUES " + ", ".join(seg_rows)
             + ") s(b_id, b_seg, bx1, by1, bx2, by2))")
    asegs = (
        f"base AS ({_SHAPES_BASE}), "
        f"rs AS (SELECT shape_id, CASE WHEN kind = 0 THEN {_RECT_DUCK} "
        f"ELSE {_DIAM_DUCK} END AS ring FROM base), "
        f"asegs AS (SELECT shape_id AS a_id, CAST(s.i - 1 AS BIGINT) AS a_seg, "
        f"ring[s.i].x AS ax1, ring[s.i].y AS ay1, ring[s.i + 1].x AS ax2, ring[s.i + 1].y AS ay2 "
        f"FROM rs JOIN (VALUES (1), (2), (3), (4)) s(i) ON TRUE)"
    )
    den = "((ax2 - ax1) * (by2 - by1) - (ay2 - ay1) * (bx2 - bx1))"
    t = f"(((bx1 - ax1) * (by2 - by1) - (by1 - ay1) * (bx2 - bx1)) / {den})"
    u = f"(((bx1 - ax1) * (ay2 - ay1) - (by1 - ay1) * (ax2 - ax1)) / {den})"
    return (
        f"WITH {asegs}, {bsegs}, "
        f"cand AS (SELECT * FROM asegs JOIN bsegs ON "
        f"LEAST(ax1, ax2) <= GREATEST(bx1, bx2) AND GREATEST(ax1, ax2) >= LEAST(bx1, bx2) "
        f"AND LEAST(ay1, ay2) <= GREATEST(by1, by2) AND GREATEST(ay1, ay2) >= LEAST(by1, by2) "
        f"WHERE {den} <> 0.0), "
        f"sol AS (SELECT a_id, a_seg, b_id, b_seg, {t} AS t, {u} AS u, "
        f"ax1 + ({t}) * (ax2 - ax1) AS ix, ay1 + ({t}) * (ay2 - ay1) AS iy FROM cand) "
        f"SELECT a_id, a_seg, CAST(b_id AS BIGINT) AS b_id, CAST(b_seg AS BIGINT) AS b_seg, "
        f"t, u, ix, iy FROM sol "
        f"WHERE t >= 0.0 AND t <= 1.0 AND u >= 0.0 AND u <= 1.0"
    )


def _media_features_oracle() -> str:
    """The stub media decoder in SQL: payload = ASCII of
    'IMG:' || md5 || ':' || repeat, truncated to 64 bytes as an 8x8
    grid; features are exact integer-sum means."""
    s = "CONCAT('IMG:', md5(text), ':', repeat(substr(md5(text), 1, 8), 16))"
    def seg_mean(start: int, n: int, div: float) -> str:
        return (f"(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                f"list_transform(range({start}, {start + n}), "
                f"i -> CAST(ascii(substr(s, i, 1)) AS DOUBLE))), (a, b) -> a + b) / {div!r})")
    feats = ", ".join(f"{seg_mean(i * 8 + 1, 8, 8.0)} AS f{i}" for i in range(8))
    return (f"WITH m AS (SELECT doc_id, {s} AS s FROM documents) "
            f"SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height, "
            f"{seg_mean(1, 64, 64.0)} AS mean_intensity, {feats} FROM m")


def _pii_scrub_oracle() -> str:
    """pii_scrub in DuckDB: the same injection expression builds the
    ground-truth text, the same RE2/Java-identical patterns count and
    redact (text.pii_scrub_exprs duck sides)."""
    inj = T.pii_inject_expr("text", "doc_id")[1]
    px = T.pii_scrub_exprs("__t")
    return (
        f"SELECT doc_id, {px['n_emails'][1]} AS n_emails, "
        f"{px['n_phones'][1]} AS n_phones, {px['clean'][1]} AS clean "
        f"FROM (SELECT doc_id, {inj} AS __t FROM documents)"
    )


def _span_scrub_oracle() -> str:
    """span_scrub in DuckDB: the same span construction (kind rotation,
    word draw, email injection, media_ref) computed scalar-wise per
    (doc_id, j), then the duck-side scrub on text spans only."""
    d_toks = T.tokens_expr("text")[1]
    kind = _SPAN_KIND
    word = "toks[CAST((doc_id + j) % len(toks) AS INT) + 1]"
    raw = (
        f"CASE WHEN {kind} = 'text' THEN concat({word}, "
        "CASE WHEN (doc_id + j) % 7 = 0 THEN concat(' u', CAST(doc_id AS VARCHAR), '@ex.com') ELSE '' END) "
        f"WHEN {kind} = 'point' THEN concat(CAST(doc_id AS VARCHAR), ';', CAST(j AS VARCHAR)) "
        "ELSE '' END"
    )
    mref = (
        f"CASE WHEN {kind} = 'media' THEN concat('s3://fix/', CAST(doc_id AS VARCHAR), "
        "'/', CAST(j AS VARCHAR), '.bin') ELSE '' END"
    )
    scrub = T.pii_scrub_exprs("raw")["clean"][1]
    return f"""
WITH t AS (SELECT doc_id, {d_toks} AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(range(0, 2 + doc_id % 4)) AS j FROM t),
b AS (SELECT doc_id, j, {kind} AS kind, {raw} AS raw, {mref} AS media_ref FROM s)
SELECT doc_id, j AS offset, kind,
       CASE WHEN kind = 'text' THEN {scrub} ELSE raw END AS clean_text,
       media_ref
FROM b
"""


def _span_stats_oracle() -> str:
    """span_stats in DuckDB: the same span construction as the driver
    query computed scalar-wise per (doc_id, j) — including the offset
    twist — then a per-doc rollup; the monotonic flag is bool_and over
    a lag window in array (j) order, exactly the Spark fold."""
    d_toks = T.tokens_expr("text")[1]
    kind = _SPAN_KIND
    word = "toks[CAST((doc_id + j) % len(toks) AS INT) + 1]"
    raw = (
        f"CASE WHEN {kind} = 'text' THEN concat({word}, "
        "CASE WHEN (doc_id + j) % 7 = 0 THEN concat(' u', CAST(doc_id AS VARCHAR), '@ex.com') ELSE '' END) "
        f"WHEN {kind} = 'point' THEN concat(CAST(doc_id AS VARCHAR), ';', CAST(j AS VARCHAR)) "
        "ELSE '' END"
    )
    off = "CASE WHEN doc_id % 5 = 0 AND j = 1 THEN 90 + doc_id % 7 ELSE j END"
    bpe = T.bpe_token_count_expr("raw")[1]
    return f"""
WITH t AS (SELECT doc_id, {d_toks} AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(range(0, 2 + doc_id % 4)) AS j FROM t),
b AS (SELECT doc_id, j, {kind} AS kind, {raw} AS raw, {off} AS off_ FROM s),
m AS (SELECT doc_id, j, kind, raw,
      COALESCE(off_ >= lag(off_) OVER (PARTITION BY doc_id ORDER BY j), TRUE) AS ok
      FROM b)
SELECT doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
       CAST(SUM(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT) AS n_media,
       CAST(SUM(CASE WHEN kind = 'text' THEN length(raw) ELSE 0 END) AS BIGINT) AS text_chars,
       CAST(SUM(CASE WHEN kind = 'text' THEN {bpe} ELSE 0 END) AS BIGINT) AS bpe_tokens,
       bool_and(ok) AS offsets_monotonic
FROM m GROUP BY doc_id
"""


def _chunk_spans_oracle() -> str:
    """chunk_spans in DuckDB: rebuild the 1-9-word text spans per
    (doc_id, j), then replay the window-4 / stride-3 slicing; non-text
    spans emit one piece. piece_idx = start // stride (starts are
    0, 3, 6, ... — exactly Spark's posexplode index)."""
    d_toks = T.tokens_expr("text")[1]
    kind = _SPAN_KIND
    word = "toks[CAST((doc_id + j + w) % len(toks) AS INT) + 1]"
    longtxt = (
        f"array_to_string(list_transform(range(0, 1 + (doc_id + j) % 9), "
        f"w -> {word}), ' ')"
    )
    raw = (
        f"CASE WHEN {kind} = 'text' THEN {longtxt} "
        f"WHEN {kind} = 'point' THEN concat(CAST(doc_id AS VARCHAR), ';', CAST(j AS VARCHAR)) "
        "ELSE '' END"
    )
    mref = (
        f"CASE WHEN {kind} = 'media' THEN concat('s3://fix/', CAST(doc_id AS VARCHAR), "
        "'/', CAST(j AS VARCHAR), '.bin') ELSE '' END"
    )
    d_ctoks = T.tokens_expr("raw")[1]
    return f"""
WITH t AS (SELECT doc_id, {d_toks} AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(range(0, 2 + doc_id % 4)) AS j FROM t),
b AS (SELECT doc_id, j, {kind} AS kind, {raw} AS raw, {mref} AS media_ref FROM s),
c AS (SELECT doc_id, j, kind, raw, media_ref,
      CASE WHEN kind = 'text' AND length(trim(raw)) > 0
           THEN {d_ctoks} ELSE CAST([] AS VARCHAR[]) END AS ctoks
      FROM b),
p AS (SELECT doc_id, j, kind, raw, media_ref, ctoks,
      unnest(CASE WHEN kind = 'text' AND len(ctoks) > 0
             THEN range(0, len(ctoks), 3) ELSE [CAST(0 AS BIGINT)] END) AS st
      FROM c)
SELECT doc_id,
       CAST(j AS INT) AS span_offset,
       CAST(st // 3 AS BIGINT) AS piece_idx,
       kind,
       CASE WHEN kind = 'text'
            THEN CAST(len(list_slice(ctoks, st + 1, st + 4)) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS n_tokens,
       CASE WHEN kind = 'text'
            THEN array_to_string(list_slice(ctoks, st + 1, st + 4), ' ')
            WHEN kind = 'media' THEN media_ref
            ELSE raw END AS payload
FROM p
"""


def _media_dedup_oracle() -> str:
    """media_exact_dedup over the dup-injected payloads: md5 of the
    ASCII payload string equals Spark's md5 of the same bytes."""
    s = ("CONCAT('IMG:', md5(CAST(doc_id % 350 AS VARCHAR)), ':', "
         "repeat(substr(md5(CAST(doc_id % 350 AS VARCHAR)), 1, 8), 16))")
    return (
        f"SELECT md5({s}) AS media_md5, MIN(doc_id) AS doc_id, "
        f"COUNT(*) AS n_copies, MIN(length({s})) AS n_bytes "
        f"FROM documents GROUP BY 1"
    )


def _media_resize_oracle() -> str:
    """resize_media(4, 4) in SQL: output pixel (ry, rx) = mean of the
    2x2 block at 8x8 positions (2ry+a, 2rx+b) — four integer ASCII
    values summed / 4.0 (exact in float64 regardless of order)."""
    s = "CONCAT('IMG:', md5(text), ':', repeat(substr(md5(text), 1, 8), 16))"
    px = "ascii(substr(s, ry*16 + rx*2 + {off}, 1))"
    quad = " + ".join(px.format(off=o) for o in (1, 2, 9, 10))
    return (f"WITH m AS (SELECT doc_id, {s} AS s FROM documents), "
            f"g AS (SELECT a.range AS ry, b.range AS rx "
            f"FROM range(0, 4) a, range(0, 4) b) "
            f"SELECT doc_id, CAST(ry AS INT) AS ry, CAST(rx AS INT) AS rx, "
            f"(CAST({quad} AS DOUBLE) / 4.0) AS v FROM m, g")


def _media_frames_oracle() -> str:
    """sample_frames(every_k=2) in SQL: frames = full 32-byte chunks
    (truncated tail dropped), every 2nd kept; 32-int sum / 32.0 exact."""
    s = "CONCAT('IMG:', md5(text), ':', repeat(substr(md5(text), 1, 8), 16))"
    fm = ("(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
          "list_transform(range(1, 33), "
          "i -> CAST(ascii(substr(s, frame_idx*32 + i, 1)) AS DOUBLE))), "
          "(a, b) -> a + b) / 32.0)")
    return (f"WITH m AS (SELECT doc_id, {s} AS s FROM documents), "
            f"fr AS (SELECT doc_id, s, "
            f"unnest(range(0, length(s) // 32)) AS frame_idx FROM m) "
            f"SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, "
            f"{fm} AS frame_mean FROM fr WHERE frame_idx % 2 = 0")




def _round3_oracles() -> dict[str, str]:
    """DuckDB oracles added in round 3 (multiscale terrain family +
    recursive-CTE hydro fixpoints) — built programmatically from the
    SAME formula text as the operators."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"

    def offsets(r, name):
        return (f"{name} AS (SELECT a.range - {r} AS dr, b.range - {r} AS dc "
                f"FROM range(0, {2 * r + 1}) a, range(0, {2 * r + 1}) b)")

    # D8 neighbor pivot with center substitution (order: 0=NE 1=E 2=SE
    # 3=S 4=SW 5=W 6=NW 7=N), matching hydro.focal_pivot3_raw
    d8 = [(-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0)]
    zcases = ", ".join(
        f"MAX(CASE WHEN o.dr = {dr} AND o.dc = {dc} THEN n.value END) AS z{i}"
        for i, (dr, dc) in enumerate(d8))
    nbr = (f"nbr AS (SELECT c.row, c.col, c.value AS zc, {zcases} "
           f"FROM ras_a c CROSS JOIN o1 o "
           f"LEFT JOIN ras_a n ON n.row = c.row + o.dr AND n.col = c.col + o.dc "
           f"WHERE NOT (o.dr = 0 AND o.dc = 0) GROUP BY 1, 2, 3)")
    sub = [f"COALESCE(z{i}, zc)" for i in range(8)]
    fx = (f"((({sub[2]}) - ({sub[4]}) + 2.0 * (({sub[1]}) - ({sub[5]})) "
          f"+ ({sub[0]}) - ({sub[6]})) / {8.0 * _META100.resolution_x!r})")
    fy = (f"((({sub[6]}) - ({sub[4]}) + 2.0 * (({sub[7]}) - ({sub[3]})) "
          f"+ ({sub[0]}) - ({sub[2]})) / {8.0 * _META100.resolution_y!r})")
    nrm_len = f"SQRT(({fx}) * ({fx}) + ({fy}) * ({fy}) + 1.0)"
    nrm = (f"nrm AS (SELECT row, col, (-({fx})) / ({nrm_len}) AS nx, "
           f"(-({fy})) / ({nrm_len}) AS ny, 1.0 / ({nrm_len}) AS nz FROM nbr)")

    # hachures (round-5 upgrade): the stroke model is pure expression
    # math over the bit-exact normals — gradient, unit vector, and
    # endpoints are div/sqrt (correctly-rounded IEEE, shared text);
    # only DEGREES(ATAN(.)) is a libm surface, so the query ROUND(6)s
    # slope_deg. The >= 0.5 deg filter evaluates on the raw atan in
    # both engines; fixture margin to the threshold is ~75 degrees.
    h_gx = "(-nx / nz)"
    h_gy = "(-ny / nz)"
    h_mag = f"SQRT(({h_gx}) * ({h_gx}) + ({h_gy}) * ({h_gy}))"
    h_len = 0.8 * 5 * (_META100.resolution_x + _META100.resolution_y) / 2.0
    h_xc = _META100.x_center_expr("col")
    h_yc = _META100.y_center_expr("row")
    hachures_sql = (
        f"WITH {ras_a}, {offsets(1, 'o1')}, {nbr}, {nrm}, "
        f"st AS (SELECT row, col, {h_xc} AS x0, {h_yc} AS y0, "
        f"({h_gx}) / NULLIF({h_mag}, 0.0) AS ux, "
        f"({h_gy}) / NULLIF({h_mag}, 0.0) AS uy, "
        f"DEGREES(ATAN({h_mag})) AS slope_deg FROM nrm "
        f"WHERE row % 5 = 0 AND col % 5 = 0) "
        f"SELECT x0 AS x1, y0 AS y1, x0 - ux * {h_len!r} AS x2, "
        f"y0 + uy * {h_len!r} AS y2, ROUND(slope_deg, 6) AS slope_deg "
        f"FROM st WHERE slope_deg >= 0.5"
    )

    def wsum(r):
        return (f"w{r} AS (SELECT c.row, c.col, COUNT(*) AS wn, "
                f"SUM(n.nx) AS sx, SUM(n.ny) AS sy, SUM(n.nz) AS sz "
                f"FROM nrm c CROSS JOIN o{r} o "
                f"JOIN nrm n ON n.row = c.row + o.dr AND n.col = c.col + o.dc "
                f"GROUP BY 1, 2)")

    res_len = "SQRT(sx * sx + sy * sy + sz * sz)"
    rough = f"DEGREES(ACOS(LEAST(({res_len}) / wn, 1.0)))"
    sdev = (f"DEGREES(SQRT(-2.0 * LN(GREATEST(LEAST(({res_len}) / wn, 1.0), "
            f"1e-12))))")

    def argmax_union(metric, order_desc=True):
        arms = " UNION ALL ".join(
            f"SELECT row, col, ROUND({metric}, 4) AS m, CAST({r} AS INT) AS scale FROM w{r}"
            for r in (1, 2))
        return (f"u AS ({arms}) SELECT row, col, m AS value, scale "
                f"FROM u QUALIFY ROW_NUMBER() OVER (PARTITION BY row, col "
                f"ORDER BY m DESC, scale) = 1")

    common = ", ".join([ras_a.replace("ras_a AS", "ras_a AS", 1),
                        offsets(1, "o1"), offsets(2, "o2"),
                        nbr, nrm, wsum(1), wsum(2)])
    rough_sql = f"WITH {common}, {argmax_union(rough)}"
    sdev_sql = f"WITH {common}, {argmax_union(sdev)}"

    # *Signature variants (round-5 upgrade): the same per-scale metric
    # text evaluated ONLY at the sample-point cells, ROUND(4) (the
    # operator's own round_to knob; direct window sums vs Spark's
    # integral image agree far inside the 1e-4 grain)
    sig_locs = (
        f"spts AS (SELECT record_num AS point_id, x, y FROM "
        f"(SELECT event_id AS record_num, {_PX} AS x, {_PY} AS y FROM events) "
        f"WHERE record_num % 97 = 0), "
        f"locs AS (SELECT point_id, {_META100.row_from_y_expr('y')} AS row, "
        f"{_META100.col_from_x_expr('x')} AS col FROM spts)")

    def sig_union(metric):
        arms = " UNION ALL ".join(
            f"SELECT l.point_id, CAST({r} AS INT) AS scale, "
            f"ROUND({metric}, 4) AS value "
            f"FROM w{r} JOIN locs l ON w{r}.row = l.row AND w{r}.col = l.col"
            for r in (1, 2))
        return arms

    rough_sig_sql = f"WITH {common}, {sig_locs} {sig_union(rough)}"
    sdn_sig_sql = f"WITH {common}, {sig_locs} {sig_union(sdev)}"

    normals_sql = (f"WITH {ras_a}, {offsets(1, 'o1')}, {nbr} "
                   f"SELECT row, col, (-({fx})) / ({nrm_len}) AS nx, "
                   f"(-({fy})) / ({nrm_len}) AS ny, 1.0 / ({nrm_len}) AS nz "
                   f"FROM nbr")

    # elevation percentile per radius: % of window cells strictly below
    def ep(r):
        return (f"e{r} AS (SELECT c.row, c.col, "
                f"CAST(SUM(CASE WHEN n.value < c.value THEN 1 ELSE 0 END) "
                f"AS DOUBLE) / COUNT(*) * 100.0 AS ep "
                f"FROM ras_a c CROSS JOIN o{r} o "
                f"JOIN ras_a n ON n.row = c.row + o.dr AND n.col = c.col + o.dc "
                f"GROUP BY 1, 2)")

    ep_arms = " UNION ALL ".join(
        f"SELECT row, col, ep, CAST({r} AS INT) AS scale FROM e{r}"
        for r in (1, 2))
    ep_sql = (f"WITH {ras_a}, {offsets(1, 'o1')}, {offsets(2, 'o2')}, "
              f"{ep(1)}, {ep(2)}, u AS ({ep_arms}) "
              f"SELECT row, col, ep AS value, scale FROM u "
              f"QUALIFY ROW_NUMBER() OVER (PARTITION BY row, col "
              f"ORDER BY ABS(ep - 50.0) DESC, scale) = 1")

    # MSTPI: dev-from-mean at radii 1/2/3 (integer-exact moments), one
    # channel per radius, packed RGBA
    def dev(r):
        return (f"d{r} AS (SELECT c.row, c.col, "
                f"CASE WHEN (SUM(n.value * n.value) - SUM(n.value) * SUM(n.value) "
                f"/ COUNT(*)) > 0.0 THEN (c.value - SUM(n.value) / COUNT(*)) "
                f"/ SQRT((SUM(n.value * n.value) - SUM(n.value) * SUM(n.value) "
                f"/ COUNT(*)) / (COUNT(*) - 1)) ELSE 0.0 END AS dev "
                f"FROM ras_a c CROSS JOIN o{r} o "
                f"JOIN ras_a n ON n.row = c.row + o.dr AND n.col = c.col + o.dc "
                f"GROUP BY c.row, c.col, c.value)")

    chan = "CAST(FLOOR(LEAST(ABS({d}) / 2.58, 1.0) * 255.0) AS INT)"
    mstpi_sql = (
        f"WITH {ras_a}, {offsets(1, 'o1')}, {offsets(2, 'o2')}, "
        f"{offsets(3, 'o3')}, {dev(1)}, {dev(2)}, {dev(3)} "
        f"SELECT d1.row, d1.col, "
        f"{chan.format(d='d3.dev')} AS red, "
        f"{chan.format(d='d2.dev')} AS green, "
        f"{chan.format(d='d1.dev')} AS blue, "
        f"CAST(CAST(255 AS BIGINT) * 16777216 "
        f"+ {chan.format(d='d1.dev')} * 65536 "
        f"+ {chan.format(d='d2.dev')} * 256 "
        f"+ {chan.format(d='d3.dev')} AS DOUBLE) AS value "
        f"FROM d1 JOIN d2 ON d1.row = d2.row AND d1.col = d2.col "
        f"JOIN d3 ON d1.row = d3.row AND d1.col = d3.col")

    fill_sql = (
        f"WITH RECURSIVE rc AS ({_RAS_C_SQL}), "
        f"fill(row, col, w) AS ("
        f"SELECT row, col, value FROM rc "
        f"WHERE row = 0 OR col = 0 OR row = 39 OR col = 39 "
        f"UNION "
        f"SELECT n.row, n.col, GREATEST(n.value, f.w) AS w "
        f"FROM fill f JOIN rc n "
        f"ON n.row BETWEEN f.row - 1 AND f.row + 1 "
        f"AND n.col BETWEEN f.col - 1 AND f.col + 1 "
        f"AND NOT (n.row = f.row AND n.col = f.col)) "
        f"SELECT row, col, MIN(w) AS value FROM fill GROUP BY 1, 2")

    fill_core = (
        f"fill(row, col, w) AS ("
        f"SELECT row, col, value FROM rc "
        f"WHERE row = 0 OR col = 0 OR row = 39 OR col = 39 "
        f"UNION "
        f"SELECT n.row, n.col, GREATEST(n.value, f.w) AS w "
        f"FROM fill f JOIN rc n "
        f"ON n.row BETWEEN f.row - 1 AND f.row + 1 "
        f"AND n.col BETWEEN f.col - 1 AND f.col + 1 "
        f"AND NOT (n.row = f.row AND n.col = f.col)), "
        f"f2 AS (SELECT row, col, MIN(w) AS w FROM fill GROUP BY 1, 2)")

    depth_sql = (
        f"WITH RECURSIVE rc AS ({_RAS_C_SQL}), {fill_core} "
        f"SELECT r.row, r.col, f2.w - r.value AS value "
        f"FROM rc r JOIN f2 USING (row, col)")

    sink_sql = (
        f"WITH RECURSIVE rc AS ({_RAS_C_SQL}), {fill_core}, "
        f"m AS (SELECT r.row, r.col, (r.row * 40 + r.col) AS id "
        f"FROM rc r JOIN f2 USING (row, col) WHERE f2.w > r.value), "
        f"noffs AS (SELECT * FROM (VALUES (-1,0),(1,0),(0,-1),(0,1),(-1,-1),"
        f"(-1,1),(1,-1),(1,1)) o(dr, dc)), "
        f"e AS (SELECT a.id AS src, b.id AS dst FROM m a JOIN noffs o ON TRUE "
        f"JOIN m b ON b.row = a.row + o.dr AND b.col = a.col + o.dc), "
        f"reach(id, r) AS (SELECT id, id FROM m UNION "
        f"SELECT e.dst, reach.r FROM reach JOIN e ON reach.id = e.src), "
        f"lab AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id) "
        f"SELECT m.row, m.col, 1.0 AS value, "
        f"CAST(DENSE_RANK() OVER (ORDER BY lab.rep) AS BIGINT) AS clump_id "
        f"FROM m JOIN lab ON m.id = lab.id")

    # ---- LiDAR suite oracles ----
    lpts = (f"lp AS (SELECT record_num, x, y, value, "
            f"CAST(record_num % 8 AS INT) AS classification, "
            f"CAST(record_num % 30 - 15 AS INT) AS scan_angle, "
            f"CAST(record_num % 3 AS BIGINT) AS flightline, "
            f"CAST(CASE WHEN record_num % 17 = 0 THEN 1 ELSE 0 END AS INT) "
            f"AS edge_flag FROM pts)")
    lp_cols = "record_num, x, y, value, scan_angle, flightline, edge_flag"

    classify_buildings_sql = (
        f"WITH pts AS ({_PTS_SQL}), {lpts} "
        f"SELECT {lp_cols}, CAST(CASE WHEN {_clip_pred()} THEN 6 "
        f"ELSE classification END AS INT) AS classification FROM lp")

    r40 = _META40.row_from_y_expr("y")
    c40 = _META40.col_from_x_expr("x")
    in40 = _META40.in_grid_pred("row", "col")
    flight_overlap_sql = (
        f"WITH pts AS ({_PTS_SQL}), {lpts}, "
        f"g AS (SELECT {r40} AS row, {c40} AS col, flightline FROM lp) "
        f"SELECT row, col, CAST(COUNT(DISTINCT flightline) AS DOUBLE) AS value "
        f"FROM g WHERE {in40} GROUP BY 1, 2")

    fx50 = frs_cell_expr("x", 50.0)
    fy50 = frs_cell_expr("y", 50.0)
    classify_overlap_sql = (
        f"WITH pts AS ({_PTS_SQL}), {lpts}, "
        f"cl AS (SELECT *, {fx50} AS cx, {fy50} AS cy FROM lp), "
        f"st AS (SELECT cx, cy, flightline, AVG(ABS(scan_angle)) AS ma "
        f"FROM cl GROUP BY 1, 2, 3), "
        f"win AS (SELECT cx, cy, flightline AS w FROM st "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY cx, cy "
        f"ORDER BY ma, flightline) = 1) "
        f"SELECT {lp_cols.replace('record_num', 'cl.record_num')}, "
        f"CAST(CASE WHEN cl.flightline = win.w THEN cl.classification "
        f"ELSE 12 END AS INT) AS classification "
        f"FROM cl JOIN win ON cl.cx = win.cx AND cl.cy = win.cy")

    flight_edge_sql = (
        f"WITH pts AS ({_PTS_SQL}), {lpts} "
        f"SELECT record_num, x, y, value, classification, scan_angle, "
        f"flightline, edge_flag FROM lp WHERE edge_flag = 1")

    # select_tiles: rect x polygon intersection, three-check rule
    vert_rows = []
    edge_rows = []
    for _pid, shells, holes in _POLYS:
        for ring in list(shells) + list(holes):
            for i, (vx, vy) in enumerate(ring):
                vert_rows.append(f"({vx!r}, {vy!r})")
                qx, qy = ring[(i + 1) % len(ring)]
                if (vx, vy) != (qx, qy):
                    edge_rows.append(f"({vx!r}, {vy!r}, {qx!r}, {qy!r})")
    tiles_sql = (
        "tiles AS (SELECT r.range AS tile_id, "
        "CAST(r.range % 8 AS DOUBLE) * 125.0 AS xmin, "
        "CAST(r.range // 8 AS DOUBLE) * 125.0 AS ymin, "
        "CAST(r.range % 8 + 1 AS DOUBLE) * 125.0 AS xmax, "
        "CAST(r.range // 8 + 1 AS DOUBLE) * 125.0 AS ymax FROM range(0, 64) r)")
    corners_sql = (
        "corners AS ("
        "SELECT tile_id, xmin AS x, ymin AS y FROM tiles UNION ALL "
        "SELECT tile_id, xmin, ymax FROM tiles UNION ALL "
        "SELECT tile_id, xmax, ymin FROM tiles UNION ALL "
        "SELECT tile_id, xmax, ymax FROM tiles)")
    redges_sql = (
        "redges AS ("
        "SELECT tile_id, xmin AS x1, ymin AS y1, xmax AS x2, ymin AS y2 FROM tiles "
        "UNION ALL SELECT tile_id, xmax, ymin, xmax, ymax FROM tiles "
        "UNION ALL SELECT tile_id, xmax, ymax, xmin, ymax FROM tiles "
        "UNION ALL SELECT tile_id, xmin, ymax, xmin, ymin FROM tiles)")
    den = "((r.x2 - r.x1) * (p.y2 - p.y1) - (r.y2 - r.y1) * (p.x2 - p.x1))"
    tpar = (f"(((p.x1 - r.x1) * (p.y2 - p.y1) - (p.y1 - r.y1) * (p.x2 - p.x1)) "
            f"/ {den})")
    upar = (f"(((p.x1 - r.x1) * (r.y2 - r.y1) - (p.y1 - r.y1) * (r.x2 - r.x1)) "
            f"/ {den})")
    select_tiles_sql = (
        f"WITH {tiles_sql}, {corners_sql}, {redges_sql}, "
        f"pverts(vx, vy) AS (VALUES {', '.join(vert_rows)}), "
        f"pedges(x1, y1, x2, y2) AS (VALUES {', '.join(edge_rows)}), "
        f"hit_a AS (SELECT DISTINCT tile_id FROM corners WHERE {_clip_pred()}), "
        f"hit_b AS (SELECT DISTINCT t.tile_id FROM tiles t JOIN pverts v "
        f"ON v.vx > t.xmin AND v.vx < t.xmax AND v.vy > t.ymin AND v.vy < t.ymax), "
        f"hit_c AS (SELECT DISTINCT r.tile_id FROM redges r JOIN pedges p "
        f"ON {den} <> 0.0 AND {tpar} >= 0.0 AND {tpar} <= 1.0 "
        f"AND {upar} >= 0.0 AND {upar} <= 1.0), "
        f"hits AS (SELECT tile_id FROM hit_a UNION "
        f"SELECT tile_id FROM hit_b UNION SELECT tile_id FROM hit_c) "
        f"SELECT t.tile_id, t.xmin, t.ymin, t.xmax, t.ymax "
        f"FROM tiles t JOIN hits USING (tile_id)")

    jenson_sql = (
        f"WITH rc AS ({_RAS_C_SQL}), "
        f"s AS (SELECT row AS srow, col AS scol FROM rc WHERE value > 80), "
        f"pour(outlet_id, row, col) AS (VALUES (1, 5, 5), (2, 20, 33), "
        f"(3, 35, 2), (4, 11, 27)), "
        f"cand AS (SELECT p.outlet_id, p.row, p.col, s.srow, s.scol, "
        f"CAST((s.srow - p.row) * (s.srow - p.row) * 100.0 "
        f"+ (s.scol - p.col) * (s.scol - p.col) * 100.0 AS DOUBLE) AS d2 "
        f"FROM pour p JOIN s ON ABS(s.srow - p.row) <= 7 "
        f"AND ABS(s.scol - p.col) <= 7 WHERE "
        f"(s.srow - p.row) * (s.srow - p.row) * 100.0 "
        f"+ (s.scol - p.col) * (s.scol - p.col) * 100.0 <= 3600.0), "
        f"best AS (SELECT outlet_id, srow, scol FROM cand "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY outlet_id "
        f"ORDER BY d2, srow, scol) = 1) "
        f"SELECT p.outlet_id, CAST(COALESCE(b.srow, p.row) AS BIGINT) AS row, "
        f"CAST(COALESCE(b.scol, p.col) AS BIGINT) AS col "
        f"FROM pour p LEFT JOIN best b USING (outlet_id)")

    zed = "((value - mu) / sigma)"
    t_ = f"(1.0 / (1.0 + 0.3275911 * ABS({zed}) / 1.4142135623730951))"
    poly = (f"({t_} * (0.254829592 + {t_} * (-0.284496736 + {t_} * "
            f"(1.421413741 + {t_} * (-1.453152027 + {t_} * 1.061405429)))))")
    erf = f"(1.0 - {poly} * EXP(-({zed}) * ({zed}) / 2.0))"
    phi = (f"(CASE WHEN {zed} >= 0.0 THEN 0.5 * (1.0 + {erf}) "
           f"ELSE 0.5 * (1.0 - {erf}) END)")
    ks_norm_sql = (
        f"WITH ras_a AS ({_RAS_A_SQL}), "
        f"m AS (SELECT COUNT(*) AS n, SUM(value) / COUNT(*) AS mu, "
        f"SQRT((SUM(value * value) - SUM(value) * SUM(value) / COUNT(*)) "
        f"/ COUNT(*)) AS sigma FROM ras_a), "
        f"g AS (SELECT value, COUNT(*) AS cnt FROM ras_a GROUP BY 1), "
        f"c AS (SELECT value, cnt, SUM(cnt) OVER (ORDER BY value) AS cum FROM g), "
        f"d AS (SELECT n, GREATEST(ABS(CAST(cum AS DOUBLE) / n - {phi}), "
        f"ABS(CAST(cum - cnt AS DOUBLE) / n - {phi})) AS dev FROM c, m) "
        f"SELECT CAST(n AS BIGINT) AS n, ROUND(MAX(dev), 4) AS d_max "
        f"FROM d GROUP BY n")

    img_reg_sql = (
        f"WITH ras_a AS ({_RAS_A_SQL}), ras_b AS ({_RAS_B_SQL}), "
        f"j AS (SELECT a.value AS vx, b.value AS vy FROM ras_a a "
        f"JOIN ras_b b USING (row, col)), "
        f"m AS (SELECT COUNT(*) AS n, SUM(vx) AS sx, SUM(vy) AS sy, "
        f"SUM(vx * vx) AS sxx, SUM(vy * vy) AS syy, SUM(vx * vy) AS sxy FROM j) "
        f"SELECT CAST(n AS BIGINT) AS n, "
        f"(n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) AS slope, "
        f"(sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) * sx) / n "
        f"AS intercept, "
        f"((n * sxy - sx * sy) * (n * sxy - sx * sy)) "
        f"/ NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0) AS r_squared "
        f"FROM m")

    img_auto_sql = (
        f"WITH ras_a AS ({_RAS_A_SQL}), "
        f"o AS (SELECT * FROM (VALUES (-1,0),(1,0),(0,-1),(0,1)) t(dr, dc)), "
        f"j AS (SELECT a.value AS xv, b.value AS yv FROM ras_a a "
        f"CROSS JOIN o JOIN ras_a b ON b.row = a.row + o.dr "
        f"AND b.col = a.col + o.dc), "
        f"cr AS (SELECT COUNT(*) AS w, SUM(xv * yv) AS sxy, "
        f"SUM(xv + yv) AS sxpy FROM j), "
        f"m AS (SELECT COUNT(*) AS n, SUM(value) AS s1, "
        f"SUM(value * value) AS s2 FROM ras_a) "
        f"SELECT CAST(n AS BIGINT) AS n, CAST(w AS BIGINT) AS w, "
        f"(CAST(n AS DOUBLE) / w) * (sxy - (s1 / n) * sxpy "
        f"+ (s1 / n) * (s1 / n) * w) / NULLIF(s2 - s1 * s1 / n, 0.0) "
        f"AS moran_i FROM cr, m")

    def _r(a, b):
        return (f"(n * sp_{a}_{b} - s_{a} * s_{b}) / "
                f"NULLIF(SQRT((n * ss_{a} - s_{a} * s_{a}) "
                f"* (n * ss_{b} - s_{b} * s_{b})), 0.0)")

    flds = ["x", "y", "value"]
    sums = ["COUNT(*) AS n"]
    for f_ in flds:
        sums.append(f"SUM({f_}) AS s_{f_}")
        sums.append(f"SUM({f_} * {f_}) AS ss_{f_}")
    for i_, a_ in enumerate(flds):
        for b_ in flds[i_ + 1:]:
            sums.append(f"SUM({a_} * {b_}) AS sp_{a_}_{b_}")
    arms = " UNION ALL ".join(
        f"SELECT '{a_}' AS field_a, '{b_}' AS field_b, {_r(a_, b_)} AS pearson_r FROM m"
        for i_, a_ in enumerate(flds) for b_ in flds[i_ + 1:])
    attr_corr_sql = (
        f"WITH pts AS ({_PTS_SQL}), m AS (SELECT {', '.join(sums)} FROM pts) "
        f"{arms}")

    cells40b = ("cells AS (SELECT a.range AS row, b.range AS col "
                "FROM range(0, 40) a, range(0, 40) b)")
    patch_cte = (
        f"{cells40b}, c2 AS (SELECT row, col, "
        f"{_META40.x_from_col_expr('col')} AS cx, "
        f"{_META40.y_from_row_expr('row')} AS cy FROM cells), hits AS ("
        + " UNION ALL ".join(
            f"SELECT row, col, {pid} AS pid FROM c2 "
            f"WHERE {GS.inside_feature_sql(sh, ho, 'cx', 'cy')}"
            for pid, sh, ho in _POLYS)
        + "), patch AS (SELECT row, col, CAST(MAX(pid) AS DOUBLE) AS value "
        "FROM hits GROUP BY 1, 2)")
    edge_prop_sql = (
        f"WITH {patch_cte}, "
        f"o AS (SELECT * FROM (VALUES (-1,0),(1,0),(0,-1),(0,1),(-1,-1),"
        f"(-1,1),(1,-1),(1,1)) t(dr, dc)), "
        f"e AS (SELECT p.row, p.col, p.value, "
        f"MAX(CASE WHEN n.value IS NULL OR n.value <> p.value THEN 1 ELSE 0 "
        f"END) AS edge FROM patch p CROSS JOIN o "
        f"LEFT JOIN patch n ON n.row = p.row + o.dr AND n.col = p.col + o.dc "
        f"GROUP BY 1, 2, 3), "
        f"e2 AS (SELECT row, col, value, CASE WHEN row = 0 OR col = 0 "
        f"OR row = 39 OR col = 39 THEN 1 ELSE edge END AS edge FROM e), "
        f"st AS (SELECT value, CAST(SUM(edge) AS DOUBLE) / COUNT(*) AS prop "
        f"FROM e2 GROUP BY 1) "
        f"SELECT e2.row, e2.col, e2.value AS patch_id, st.prop AS value "
        f"FROM e2 JOIN st USING (value)")

    def _shoelace_py(ring):
        acc = 0.0
        for i in range(len(ring) - 1):
            acc = acc + (ring[i][0] * ring[i + 1][1]
                         - ring[i + 1][0] * ring[i][1])
        return abs(acc) / 2.0

    hp_rows = []
    for pid, shells, holes in _POLYS:
        sa = 0.0
        ha = 0.0
        for r_ in shells:
            ring = list(r_) + ([r_[0]] if r_[0] != r_[-1] else [])
            sa = sa + _shoelace_py(ring)
        for r_ in holes:
            ring = list(r_) + ([r_[0]] if r_[0] != r_[-1] else [])
            ha = ha + _shoelace_py(ring)
        hp = ha / sa if sa else None
        hp_rows.append(f"({pid}, {hp!r})")
    hole_prop_sql = (
        f"SELECT CAST(shape_id AS BIGINT) AS shape_id, "
        f"CAST(hole_prop AS DOUBLE) AS hole_prop "
        f"FROM (VALUES {', '.join(hp_rows)}) t(shape_id, hole_prop)")

    flood_order_sql = (
        f"WITH RECURSIVE rc AS ({_RAS_C_SQL}), {fill_core} "
        f"SELECT r.row, r.col, CAST(ROW_NUMBER() OVER (ORDER BY f2.w, "
        f"r.value, r.row, r.col) AS DOUBLE) AS value "
        f"FROM rc r JOIN f2 USING (row, col)")

    epm_sql = (
        f"WITH ras_a AS ({_RAS_A_SQL}), "
        f"o AS (SELECT a.range - 1 AS dr, b.range - 1 AS dc "
        f"FROM range(0, 3) a, range(0, 3) b), "
        f"j AS (SELECT c.row, c.col, c.value AS z, n.value AS nv "
        f"FROM ras_a c CROSS JOIN o "
        f"JOIN ras_a n ON n.row = c.row + o.dr AND n.col = c.col + o.dc) "
        f"SELECT row, col, SUM(CASE WHEN ABS(nv - z) <= 100.0 THEN nv "
        f"ELSE 0.0 END) / SUM(CASE WHEN ABS(nv - z) <= 100.0 THEN 1.0 "
        f"ELSE 0.0 END) AS value FROM j GROUP BY row, col")

    # PIP mask over the 100x100 grid (same inside_feature predicate text)
    mask100 = (
        "hits AS ("
        + " UNION ALL ".join(
            f"SELECT row, col FROM cc2 "
            f"WHERE {GS.inside_feature_sql(sh, ho, 'cx', 'cy')}"
            for _pid, sh, ho in _POLYS)
        + "), mask AS (SELECT DISTINCT row, col FROM hits)")
    cells100 = ("cells AS (SELECT a.range AS row, b.range AS col "
                "FROM range(0, 100) a, range(0, 100) b), "
                f"cc2 AS (SELECT row, col, {_META100.x_from_col_expr('col')} AS cx, "
                f"{_META100.y_from_row_expr('row')} AS cy FROM cells)")
    clip_raster_sql = (
        f"WITH ras_a AS ({_RAS_A_SQL}), {cells100}, {mask100} "
        f"SELECT r.row, r.col, r.value FROM ras_a r "
        f"JOIN mask m ON r.row = m.row AND r.col = m.col")
    erase_raster_sql = (
        f"WITH ras_a AS ({_RAS_A_SQL}), {cells100}, {mask100} "
        f"SELECT r.row, r.col, r.value FROM ras_a r "
        f"LEFT JOIN mask m ON r.row = m.row AND r.col = m.col "
        f"WHERE m.row IS NULL")

    import math as _math
    fm_offs = [(dr, dc) for dr in range(-3, 4) for dc in range(-3, 4)
               if not (dr == 0 and dc == 0) and dr * dr + dc * dc <= 9]
    fm_vals = ", ".join(
        f"({dr}, {dc}, {float((dr * 10.0) ** 2 + (dc * 10.0) ** 2)!r})"
        for dr, dc in fm_offs)
    fill_missing_sql = (
        f"WITH ras_a AS ({_RAS_A_SQL}), "
        f"valid AS (SELECT * FROM ras_a WHERE value % 7 <> 0), "
        f"holes AS (SELECT a.range AS row, b.range AS col "
        f"FROM range(0, 100) a, range(0, 100) b "
        f"WHERE NOT EXISTS (SELECT 1 FROM valid v WHERE v.row = a.range "
        f"AND v.col = b.range)), "
        f"o(dr, dc, d2) AS (VALUES {fm_vals}), "
        f"sc AS (SELECT v.row + o.dr AS hrow, v.col + o.dc AS hcol, "
        f"v.value AS nv, o.d2 AS d2 FROM valid v CROSS JOIN o), "
        f"f AS (SELECT h.row, h.col, ROUND(SUM(nv * POWER(d2, -1.0)) "
        f"/ SUM(POWER(d2, -1.0)), 4) AS value "
        f"FROM holes h JOIN sc ON sc.hrow = h.row AND sc.hcol = h.col "
        f"GROUP BY 1, 2) "
        f"SELECT row, col, ROUND(value, 4) AS value FROM valid "
        f"UNION ALL SELECT row, col, value FROM f")

    fr = frs_cell_expr
    tree_sql = (
        f"WITH pts AS ({_PTS_SQL}), "
        f"hp AS (SELECT record_num, x, y, value FROM pts WHERE value >= 100.0), "
        f"dom AS (SELECT DISTINCT a.record_num FROM hp a JOIN hp b "
        f"ON a.record_num <> b.record_num "
        f"AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 225.0 "
        f"AND (b.value > a.value OR (b.value = a.value "
        f"AND b.record_num < a.record_num))) "
        f"SELECT p.record_num, p.x, p.y, p.value FROM hp p "
        f"LEFT JOIN dom d USING (record_num) WHERE d.record_num IS NULL")

    classify_subset_sql = (
        f"WITH pts AS ({_PTS_SQL}), {lpts} "
        f"SELECT {lp_cols}, CAST(CASE WHEN record_num % 5 = 0 THEN 7 "
        f"ELSE classification END AS INT) AS classification FROM lp")

    crisp_sql = (
        f"WITH ras_a AS ({_RAS_A_SQL}), "
        f"mp AS (SELECT value / 1000.0 AS value FROM ras_a), "
        f"m AS (SELECT COUNT(*) AS n, SUM(value) AS s1, "
        f"SUM(value * value) AS s2 FROM mp) "
        f"SELECT CAST(n AS BIGINT) AS n, ROUND((s2 - s1 * s1 / n) "
        f"/ NULLIF(s1 * (1.0 - s1 / n) * (1.0 - s1 / n) "
        f"+ (n - s1) * (s1 / n) * (s1 / n), 0.0), 6) AS crispness FROM m")

    scatter_sql = (f"WITH pts AS ({_PTS_SQL}) "
                   f"SELECT x, value AS y FROM pts")

    lidar_kappa_sql = (
        f"WITH pts AS ({_PTS_SQL}), {lpts}, "
        f"j AS (SELECT record_num, classification AS ca, "
        f"CAST((classification + CAST(record_num % 3 = 0 AS INT)) % 8 AS INT) "
        f"AS cb FROM lp), "
        f"t AS (SELECT COUNT(*) AS n, "
        f"SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS agree FROM j), "
        f"mg AS (SELECT SUM(na * nb) AS crs FROM "
        f"(SELECT ca, COUNT(*) AS na FROM j GROUP BY 1) x JOIN "
        f"(SELECT cb, COUNT(*) AS nb FROM j GROUP BY 1) y ON x.ca = y.cb) "
        f"SELECT CAST(n AS BIGINT) AS n, "
        f"CAST(agree AS DOUBLE) / n AS p_observed, "
        f"CAST(crs AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS p_expected, "
        f"(CAST(agree AS DOUBLE) / n - CAST(crs AS DOUBLE) "
        f"/ (CAST(n AS DOUBLE) * n)) / NULLIF(1.0 - CAST(crs AS DOUBLE) "
        f"/ (CAST(n AS DOUBLE) * n), 0.0) AS kappa FROM t, mg")

    return {
        "fill_depressions": fill_sql,
        "roughness_signature": rough_sig_sql,
        "sdn_signature": sdn_sig_sql,
        "lidar_kappa": lidar_kappa_sql,
        "wang_liu": fill_sql,
        "crispness": crisp_sql,
        "attr_scattergram": scatter_sql,
        "tree_detection": tree_sql,
        "classify_subset": classify_subset_sql,
        "flood_order": flood_order_sql,
        "edge_preserving_mean": epm_sql,
        "clip_raster": clip_raster_sql,
        "erase_raster": erase_raster_sql,
        "fill_missing": fill_missing_sql,
        "edge_proportion": edge_prop_sql,
        "hole_proportion": hole_prop_sql,
        "ks_normality": ks_norm_sql,
        "image_regression": img_reg_sql,
        "image_autocorr": img_auto_sql,
        "attr_correlation": attr_corr_sql,
        "jenson_snap": jenson_sql,
        "classify_buildings": classify_buildings_sql,
        "flightline_overlap": flight_overlap_sql,
        "classify_overlap": classify_overlap_sql,
        "flightline_edge": flight_edge_sql,
        "select_tiles": select_tiles_sql,
        "depth_in_sink": depth_sql,
        "sink_id": sink_sql,
        "multiscale_rough": rough_sql,
        "msd_normals": sdev_sql,
        "multiscale_ep": ep_sql,
        "mstpi": mstpi_sql,
        "surface_normals": normals_sql,
        "hachures": hachures_sql,
        # gauss_scale_space: separable-Gaussian reassociation — rows-only.
    }


def _r4b_oracles() -> dict[str, str]:
    """Oracles for the round-4 continuation ops (remaining SURVEY §2
    named tools). Expression text is shared with the Spark operators
    wherever float math is involved."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    ras_b = f"ras_b AS ({_RAS_B_SQL})"
    ret = {}

    ret["count_if"] = (
        f"WITH {ras_a}, {ras_b}, u AS ("
        f"SELECT row, col, value AS v FROM ras_a "
        f"UNION ALL SELECT row, col, value FROM ras_b) "
        f"SELECT row, col, CAST(SUM(CASE WHEN v = 5.0 THEN 1 ELSE 0 END) "
        f"AS DOUBLE) AS value FROM u GROUP BY 1, 2"
    )
    # fold order matches the Spark layer_idx-sorted AGGREGATE:
    # ((1.0 * a) * b)
    ret["multiply_overlay"] = (
        f"WITH {ras_a}, {ras_b} "
        f"SELECT row, col, (1.0 * a.value) * b.value AS value "
        f"FROM ras_a a JOIN ras_b b USING (row, col)"
    )
    ret["integer_division"] = (
        f"WITH {ras_a}, {ras_b} SELECT * FROM ("
        f"SELECT row, col, CASE WHEN b.value = 0.0 THEN NULL "
        f"WHEN a.value / b.value >= 0.0 THEN FLOOR(a.value / b.value) * 1.0 "
        f"ELSE CEIL(a.value / b.value) * 1.0 END AS value "
        f"FROM ras_a a JOIN ras_b b USING (row, col)) "
        f"WHERE value IS NOT NULL"
    )
    ret["modify_nodata"] = (
        f"WITH {ras_a} SELECT row, col, CASE WHEN value = 0.0 "
        f"THEN -32768.0 ELSE value END AS value FROM ras_a"
    )

    # ShapeComplexityIndexRaster over the rasterized polygons (+1 ids)
    cells40b = ("cells AS (SELECT a.range AS row, b.range AS col "
                "FROM range(0, 40) a, range(0, 40) b)")
    patch_cte = (
        f"{cells40b}, c2 AS (SELECT row, col, "
        f"{_META40.x_from_col_expr('col')} AS cx, "
        f"{_META40.y_from_row_expr('row')} AS cy FROM cells), hits AS ("
        + " UNION ALL ".join(
            f"SELECT row, col, {pid} AS pid FROM c2 "
            f"WHERE {GS.inside_feature_sql(sh, ho, 'cx', 'cy')}"
            for pid, sh, ho in _POLYS)
        + "), patch AS (SELECT row, col, CAST(MAX(pid) AS DOUBLE) + 1.0 "
        "AS value FROM hits GROUP BY 1, 2)")
    ret["sci_raster"] = (
        f"WITH {patch_cte}, "
        f"wn AS (SELECT row, col + 1 AS col, value AS wv FROM patch), "
        f"nn AS (SELECT row + 1 AS row, col, value AS nv FROM patch), "
        f"t AS (SELECT p.row, p.col, p.value, wn.wv, nn.nv FROM patch p "
        f"LEFT JOIN wn ON wn.row = p.row AND wn.col = p.col "
        f"LEFT JOIN nn ON nn.row = p.row AND nn.col = p.col), "
        f"g AS (SELECT value, "
        f"SUM(CASE WHEN wv IS NULL OR wv <> value THEN 1 ELSE 0 END) + "
        f"SUM(CASE WHEN nv IS NULL OR nv <> value THEN 1 ELSE 0 END) AS e, "
        f"MAX(row) - MIN(row) + 1 AS hh, MAX(col) - MIN(col) + 1 AS ww "
        f"FROM t GROUP BY 1) "
        f"SELECT p.row, p.col, CAST(e AS DOUBLE) / CAST(hh + ww AS DOUBLE) "
        f"AS value FROM patch p JOIN g USING (value)"
    )

    # AttributeHistogram over events.value — the oracle recomputes the
    # Sturges parameters from the same aggregates the operator reads.
    ret["attribute_histogram"] = (
        "WITH s AS (SELECT MIN(value) AS lo, MAX(value) AS hi, "
        "COUNT(value) AS cnt FROM events) "
        "SELECT CAST(FLOOR((CAST(value AS DOUBLE) - lo) / "
        "((hi - lo + 0.00001) / (CEIL(LOG2(cnt)) + 1))) AS BIGINT) AS bin, "
        "COUNT(*) AS n FROM events, s WHERE value IS NOT NULL GROUP BY 1"
    )

    # LiDAR point-stats family: pts + deterministic attribute extension
    lpts = (f"pts AS ({_PTS_SQL}), lp AS (SELECT record_num, x, y, value, "
            f"{_LPS_EXTRA}, "
            f"CAST(record_num % 8 AS INT) AS classification FROM pts)")
    r100y = _META100.row_from_y_expr("y")
    c100x = _META100.col_from_x_expr("x")
    in100 = _META100.in_grid_pred("row", "col")
    ret["lidar_point_stats"] = (
        f"WITH {lpts}, rc AS (SELECT {r100y} AS row, {c100x} AS col, "
        f"value AS z, intensity AS i, return_number AS rn FROM lp), "
        f"v AS (SELECT * FROM rc WHERE {in100}) "
        f"SELECT row, col, COUNT(*) AS num_points, "
        f"CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS num_pulses, "
        f"CASE WHEN SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0 "
        f"THEN CAST(COUNT(*) AS DOUBLE) / "
        f"SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) END AS returns_per_pulse, "
        f"MAX(z) - MIN(z) AS z_range, "
        f"MAX(i) - MIN(i) AS intensity_range "
        f"FROM v GROUP BY 1, 2"
    )
    ret["predominant_class"] = (
        f"WITH {lpts}, rc AS (SELECT {r100y} AS row, {c100x} AS col, "
        f"classification AS cls FROM lp), "
        f"v AS (SELECT * FROM rc WHERE {in100}), "
        f"cnts AS (SELECT row, col, cls, COUNT(*) AS cnt FROM v "
        f"GROUP BY 1, 2, 3), "
        f"r AS (SELECT row, col, cls AS value, ROW_NUMBER() OVER "
        f"(PARTITION BY row, col ORDER BY cnt DESC, cls ASC) AS rk "
        f"FROM cnts) SELECT row, col, value FROM r WHERE rk = 1"
    )

    # LidarIdw (intensity, first returns, k=4, w=2) and LidarNN (class):
    # brute-force candidate sets on the 40x40 grid, like idw/nn_gridding
    cells40 = ("cells AS (SELECT a.range AS row, b.range AS col "
               "FROM range(0, 40) a, range(0, 40) b)")
    ctr_x = _META40.x_center_expr("col")
    ctr_y = _META40.y_center_expr("row")
    idw_cand = (
        f"cand AS (SELECT c.row, c.col, p.record_num, "
        f"CAST(p.intensity AS DOUBLE) AS v, "
        f"(({ctr_x}) - p.x) * (({ctr_x}) - p.x) + "
        f"(({ctr_y}) - p.y) * (({ctr_y}) - p.y) AS dist2 "
        f"FROM cells c, lp p WHERE p.return_number = 1)")
    ret["lidar_idw"] = (
        f"WITH {lpts}, {cells40}, {idw_cand}, "
        f"r AS (SELECT row, col, dist2, v, ROW_NUMBER() OVER "
        f"(PARTITION BY row, col ORDER BY dist2, record_num) AS rk FROM cand), "
        f"g AS (SELECT row, col, list_sort(list({{'dist2': dist2, 'v': v}})) AS l "
        f"FROM r WHERE rk <= 4 GROUP BY row, col) "
        f"SELECT row, col, "
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(l, e -> e.v / pow(e.dist2, 1.0))), (a, b) -> a + b) / "
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(l, e -> 1.0 / pow(e.dist2, 1.0))), (a, b) -> a + b) "
        f"AS value FROM g"
    )
    nn_cand = (
        f"cand AS (SELECT c.row, c.col, p.record_num, "
        f"CAST(p.classification AS DOUBLE) AS v, "
        f"(({ctr_x}) - p.x) * (({ctr_x}) - p.x) + "
        f"(({ctr_y}) - p.y) * (({ctr_y}) - p.y) AS dist2 "
        f"FROM cells c, lp p)")
    ret["lidar_nn_class"] = (
        f"WITH {lpts}, {cells40}, {nn_cand}, "
        f"r AS (SELECT row, col, v, ROW_NUMBER() OVER "
        f"(PARTITION BY row, col ORDER BY dist2, record_num) AS rk FROM cand) "
        f"SELECT row, col, v AS value FROM r WHERE rk = 1"
    )

    # convert_raster_format: value-preserving chain, oracle = source
    ret["convert_raster_format"] = _RAS_A_SQL
    return ret


def _r4c_oracles() -> dict[str, str]:
    """Oracles for the round-4c batch: directed 3x3 neighbor scans
    (num/max/min up-/downslope tools), relative aspect, circular
    variance of aspect, multiscale max-difference-from-mean. Value
    expressions are the SAME portable-SQL text the Spark operators
    execute except where noted."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    # nullable 3x3 D8-order pivot (zn_0..zn_7 + zc), the focal_pivot3_raw
    # twin
    offs9 = "offs9c AS (SELECT * FROM (VALUES " + ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8)
    ) + ", (8, 0, 0)) o(n, dy, dx))"
    piv_cols = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8)
    ) + ", MAX(CASE WHEN n = 8 THEN nv END) AS zc"
    pivot9 = (
        f"{offs9}, "
        f"sc9c AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, o.n AS n, "
        f"a.value AS nv FROM ras_a a, offs9 o), "
        f"p9c AS (SELECT row, col, {piv_cols} FROM sc9c GROUP BY 1, 2), "
        f"z9 AS (SELECT * FROM p9c WHERE zc IS NOT NULL)"
    ).replace("offs9 o", "offs9c o")
    ret = {}
    ret["num_downslope_nbrs"] = (
        f"WITH {ras_a}, {pivot9} SELECT row, col, "
        f"{HY.nbr_count_value_expr('<')} AS value FROM z9")
    ret["num_upslope_nbrs"] = (
        f"WITH {ras_a}, {pivot9} SELECT row, col, "
        f"{HY.nbr_count_value_expr('>')} AS value FROM z9")
    for key, kind in [("max_downslope_chg", "max_down"),
                      ("min_downslope_chg", "min_down"),
                      ("max_upslope_chg", "max_up")]:
        val = HY.elev_change_value_expr(_META100, kind, duck=True)
        ret[key] = (f"WITH {ras_a}, {pivot9} SELECT row, col, "
                    f"{val} AS value FROM z9")

    # center-substituted 5x5 pivot (focal_pivot5 twin) for relative aspect
    offs25 = "offs25c AS (SELECT * FROM (VALUES " + ", ".join(
        f"({n}, {n // 5 - 2}, {n % 5 - 2})" for n in range(25)
    ) + ") o(n, dr, dc))"
    p25 = ", ".join(f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}" for n in range(25))
    zz25 = ", ".join(f"(COALESCE(z_{n}, z_12) * 1.0) AS z{n}" for n in range(25))
    pivot5 = (
        f"{offs25}, "
        f"sc25c AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, o.n AS n, "
        f"a.value AS nv FROM ras_a a, offs25c o), "
        f"piv25c AS (SELECT row, col, {p25} FROM sc25c GROUP BY 1, 2), "
        f"zz AS (SELECT row, col, {zz25} FROM piv25c WHERE z_12 IS NOT NULL)"
    )
    ra_val = FO.relative_aspect_value_expr(_META100, 45.0)
    ret["relative_aspect"] = (
        f"WITH {ras_a}, {pivot5} SELECT row, col, {ra_val} AS value FROM zz")

    # circular variance of aspect: unit vectors from the center-
    # substituted 3x3 gradient, direct 11x11 clamped-window sums (the
    # Spark side uses integral images; ROUND(4) on both absorbs the
    # summation-order ulp)
    res = (_META100.resolution_x + _META100.resolution_y) / 2.0
    sub = [f"COALESCE(zn_{i}, zc)" for i in range(8)]
    fx = (f"(({sub[2]}) - ({sub[4]}) + 2.0 * (({sub[1]}) - ({sub[5]})) "
          f"+ ({sub[0]}) - ({sub[6]})) / {8.0 * res!r}")
    fy = (f"(({sub[6]}) - ({sub[4]}) + 2.0 * (({sub[7]}) - ({sub[3]})) "
          f"+ ({sub[0]}) - ({sub[2]})) / {8.0 * res!r}")
    mag = f"SQRT(({fx}) * ({fx}) + ({fy}) * ({fy}))"
    offs121 = ("offs121 AS (SELECT a.range - 5 AS dr, b.range - 5 AS dc "
               "FROM range(0, 11) a, range(0, 11) b)")
    ret["circular_variance_aspect"] = (
        f"WITH {ras_a}, {pivot9}, {offs121}, "
        f"vec AS (SELECT row, col, "
        f"CASE WHEN ({fx}) <> 0.0 THEN ({fx}) / ({mag}) ELSE 0.0 END AS ux, "
        f"CASE WHEN ({fx}) <> 0.0 THEN ({fy}) / ({mag}) ELSE 0.0 END AS uy "
        f"FROM z9), "
        f"w AS (SELECT v.row - o.dr AS row, v.col - o.dc AS col, v.ux, v.uy "
        f"FROM vec v, offs121 o), "
        f"g AS (SELECT row, col, SUM(ux) AS sx, SUM(uy) AS sy, COUNT(*) AS n "
        f"FROM w WHERE row >= 0 AND row < 100 AND col >= 0 AND col < 100 "
        f"GROUP BY 1, 2) "
        f"SELECT g.row, g.col, ROUND(1.0 - LEAST(SQRT(sx * sx + sy * sy) / n, 1.0), 4) "
        f"AS value FROM g JOIN ras_a USING (row, col)")

    # max diff from mean at radii [1, 2] — integer-exact window means,
    # QUALIFY argmax with the same (-|diff|, scale) tie-break
    o1 = ("o1c AS (SELECT a.range - 1 AS dr, b.range - 1 AS dc "
          "FROM range(0, 3) a, range(0, 3) b)")
    o2 = ("o2c AS (SELECT a.range - 2 AS dr, b.range - 2 AS dc "
          "FROM range(0, 5) a, range(0, 5) b)")
    diff_cte = (
        "d{k} AS (SELECT a.row, a.col, a.value - g.mu AS dv, "
        "CAST({r} AS INT) AS scale FROM ras_a a JOIN "
        "(SELECT s.row - o.dr AS row, s.col - o.dc AS col, AVG(s.value) AS mu "
        "FROM ras_a s, o{k}c o GROUP BY 1, 2) g "
        "ON g.row = a.row AND g.col = a.col)"
    )
    ret["max_diff_from_mean"] = (
        f"WITH {ras_a}, {o1}, {o2}, "
        f"{diff_cte.format(k=1, r=1)}, {diff_cte.format(k=2, r=2)}, "
        f"devs AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2) "
        f"SELECT row, col, dv AS value, scale FROM devs "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY row, col "
        f"ORDER BY -ABS(dv), scale) = 1")
    return ret


def _hydro4_oracles() -> dict[str, str]:
    """Closure-based oracles for the round-4c flowpath family
    (ElevAbovePit, FlowLengthDiff, AverageFlowpathSlope,
    TraceDownslopeFlowpaths, LongestFlowpath) over the 40x40 gate
    raster. Same exact-integer step counters / shared length expression
    as the other hydro walks."""
    W = 40
    ras_a = f"ras_a AS ({_RAS_C_SQL})"
    offs = ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8)
    ) + ", (8, 0, 0)"
    piv_cols = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8)
    ) + ", MAX(CASE WHEN n = 8 THEN nv END) AS zc"
    pivot = (
        f"offs8 AS (SELECT * FROM (VALUES {offs}) o(n, dy, dx)), "
        f"sc8 AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, o.n AS n, "
        f"a.value AS nv FROM ras_a a, offs8 o), "
        f"piv AS (SELECT row, col, {piv_cols} FROM sc8 GROUP BY 1, 2), "
        f"ptr AS MATERIALIZED (SELECT row, col, "
        f"{HY.d8_pointer_value_expr(_META40C)} AS value "
        f"FROM piv WHERE zc IS NOT NULL)"
    )
    dirs = ", ".join(f"({1 << i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
    edge_ctes = (
        f"dirs AS (SELECT * FROM (VALUES {dirs}) d(code, dy, dx)), "
        f"e AS MATERIALIZED (SELECT (p.row * {W} + p.col) AS src, "
        f"((p.row + d.dy) * {W} + (p.col + d.dx)) AS dst, "
        f"CAST(CASE WHEN d.dy <> 0 AND d.dx <> 0 THEN 1 ELSE 0 END AS BIGINT) AS sd, "
        f"CAST(CASE WHEN d.dy <> 0 AND d.dx = 0 THEN 1 ELSE 0 END AS BIGINT) AS sr, "
        f"CAST(CASE WHEN d.dy = 0 AND d.dx <> 0 THEN 1 ELSE 0 END AS BIGINT) AS sc "
        f"FROM ptr p JOIN dirs d ON d.code = CAST(p.value AS INT) WHERE p.value > 0), "
        f"nodes AS MATERIALIZED (SELECT row, col, (row * {W} + col) AS id FROM ptr)"
    )
    creach = (
        "creach(src, dst, nr, nc, nd) AS ("
        "SELECT id, id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) "
        "FROM nodes UNION "
        "SELECT c.src, e.dst, c.nr + e.sr, c.nc + e.sc, c.nd + e.sd "
        "FROM creach c JOIN e ON c.dst = e.src)"
    )
    terms = (f"terms AS (SELECT (row * {W} + col) AS tid FROM ptr "
             f"WHERE value = 0.0)")
    zt = f"z AS (SELECT (row * {W} + col) AS zid, value AS z FROM ras_a)"
    lexp = HY._len_expr(_META40C)
    lexp_c = HY._len_expr(_META40C, "c.nr", "c.nc", "c.nd")
    prelude = f"WITH RECURSIVE {ras_a}, {pivot}, {edge_ctes}, {creach}, {terms}, {zt}"

    ret = {}
    ret["elev_above_pit"] = (
        f"{prelude} "
        f"SELECT n.row, n.col, z1.z - z2.z AS value "
        f"FROM creach c JOIN terms t ON c.dst = t.tid "
        f"JOIN nodes n ON c.src = n.id "
        f"JOIN z z1 ON c.src = z1.zid JOIN z z2 ON t.tid = z2.zid"
    )
    card = ", ".join(f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in (1, 3, 5, 7))
    dn = {i: f"zn_{i}" for i in (1, 3, 5, 7)}
    dpiv = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN v END) AS {dn[i]}" for i in (1, 3, 5, 7))
    mx = "GREATEST(" + ", ".join(
        f"COALESCE(ABS(d.v - p.zn_{i}), CAST('-Infinity' AS DOUBLE))"
        for i in (1, 3, 5, 7)) + ")"
    ret["flow_length_diff"] = (
        f"{prelude}, "
        f"dfl AS (SELECT n.row, n.col, {lexp_c} AS v "
        f"FROM creach c JOIN terms t ON c.dst = t.tid "
        f"JOIN nodes n ON c.src = n.id), "
        f"cardo AS (SELECT * FROM (VALUES {card}) o(n, dy, dx)), "
        f"csc AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, o.n AS n, "
        f"a.v AS v FROM dfl a, cardo o), "
        f"cpiv AS (SELECT row, col, {dpiv} FROM csc GROUP BY 1, 2) "
        f"SELECT d.row, d.col, {mx} AS value "
        f"FROM dfl d JOIN cpiv p ON d.row = p.row AND d.col = p.col"
    )
    ret["avg_flowpath_slope"] = (
        f"{prelude}, "
        f"e2 AS (SELECT src AS eid, sr AS er, sc AS ec, sd AS ed FROM e), "
        f"indeg AS (SELECT DISTINCT dst AS did FROM e), "
        f"sattr AS (SELECT n.id AS sid, COALESCE(e2.er, 0) AS er, "
        f"COALESCE(e2.ec, 0) AS ec, COALESCE(e2.ed, 0) AS ed, z.z, "
        f"CASE WHEN indeg.did IS NULL THEN 1 ELSE 0 END AS is_div "
        f"FROM nodes n LEFT JOIN e2 ON n.id = e2.eid "
        f"JOIN z ON n.id = z.zid LEFT JOIN indeg ON n.id = indeg.did), "
        f"ag AS (SELECT c.dst, SUM(is_div) AS nf, "
        f"SUM(CASE WHEN is_div = 1 THEN z ELSE 0.0 END) AS tde, "
        f"SUM(CASE WHEN c.src <> c.dst THEN er ELSE 0 END) AS nr, "
        f"SUM(CASE WHEN c.src <> c.dst THEN ec ELSE 0 END) AS nc, "
        f"SUM(CASE WHEN c.src <> c.dst THEN ed ELSE 0 END) AS nd "
        f"FROM creach c JOIN sattr ON c.src = sattr.sid GROUP BY 1) "
        f"SELECT * FROM (SELECT n.row, n.col, "
        f"ROUND(CASE WHEN ({lexp}) > 0.0 THEN DEGREES(ATAN("
        f"(tde / CAST(nf AS DOUBLE) - z.z) / (({lexp}) / CAST(nf AS DOUBLE))"
        f")) ELSE NULL END, 6) AS value "
        f"FROM ag JOIN nodes n ON ag.dst = n.id JOIN z ON ag.dst = z.zid) "
        f"WHERE value IS NOT NULL"
    )
    ret["trace_downslope"] = (
        f"{prelude}, "
        f"seeds AS (SELECT (row * {W} + col) AS sid FROM ras_a "
        f"WHERE (row * {W} + col) % 97 = 0) "
        f"SELECT n.row, n.col, CAST(COUNT(*) AS DOUBLE) AS value "
        f"FROM creach c JOIN seeds s ON c.src = s.sid "
        f"JOIN nodes n ON c.dst = n.id GROUP BY 1, 2"
    )
    ret["longest_flowpath"] = (
        f"{prelude}, "
        f"toterm AS (SELECT c.src, c.dst AS term, c.nr, c.nc, c.nd "
        f"FROM creach c JOIN terms t ON c.dst = t.tid), "
        f"rk AS (SELECT term, src AS head, {lexp} AS len, "
        f"ROW_NUMBER() OVER (PARTITION BY term ORDER BY -({lexp}), src) AS r "
        f"FROM toterm), "
        f"b1 AS (SELECT term, head, len AS length FROM rk WHERE r = 1), "
        f"ranks AS (SELECT term, DENSE_RANK() OVER (ORDER BY term) AS basin_id "
        f"FROM b1) "
        f"SELECT CAST(r2.basin_id AS DOUBLE) AS basin_id, "
        f"c.nr + c.nc + c.nd AS seq, n.row, n.col, "
        f"{_META40C.x_center_expr('n.col')} AS x, "
        f"{_META40C.y_center_expr('n.row')} AS y, b1.length "
        f"FROM creach c JOIN b1 ON c.src = b1.head "
        f"JOIN ranks r2 ON b1.term = r2.term "
        f"JOIN nodes n ON c.dst = n.id"
    )
    diag40 = HY._grid_lengths(_META40C)[0]
    elen = (f"CASE WHEN sd = 1 THEN {diag40!r} WHEN sc = 1 "
            f"THEN {_META40C.resolution_x!r} ELSE {_META40C.resolution_y!r} "
            f"END")
    ret["stream_slope_continuous"] = (
        f"{prelude}, "
        f"acc AS (SELECT dst AS sid, COUNT(*) AS a FROM creach GROUP BY 1), "
        f"streams AS (SELECT sid FROM acc WHERE a >= 4.0), "
        f"ee AS (SELECT src, dst, {elen} AS elen FROM e), "
        f"inflow AS (SELECT ee.dst, AVG(z.z) AS zin, AVG(ee.elen) AS din "
        f"FROM ee JOIN streams s1 ON ee.src = s1.sid "
        f"JOIN streams s2 ON ee.dst = s2.sid "
        f"JOIN z ON ee.src = z.zid GROUP BY 1), "
        f"down AS (SELECT ee.src, z.z AS zdn, ee.elen AS ddn FROM ee "
        f"JOIN streams s ON ee.src = s.sid JOIN z ON ee.dst = z.zid) "
        f"SELECT n.row, n.col, ROUND(CASE WHEN COALESCE(i.din, 0.0) "
        f"+ COALESCE(d.ddn, 0.0) > 0.0 THEN DEGREES(ATAN("
        f"(COALESCE(i.zin, z.z) - COALESCE(d.zdn, z.z)) "
        f"/ (COALESCE(i.din, 0.0) + COALESCE(d.ddn, 0.0)))) "
        f"ELSE 0.0 END, 6) AS value "
        f"FROM streams st JOIN z ON st.sid = z.zid "
        f"LEFT JOIN inflow i ON st.sid = i.dst "
        f"LEFT JOIN down d ON st.sid = d.src "
        f"JOIN nodes n ON st.sid = n.id"
    )
    ret["long_profile_from_points"] = (
        f"{prelude}, "
        f"seeds AS (SELECT (row * {W} + col) AS seed_id, "
        f"(row * {W} + col) AS sid FROM ras_a "
        f"WHERE (row * {W} + col) % 173 = 0) "
        f"SELECT s.seed_id, n.row, n.col, {lexp_c} AS dist, z.z "
        f"FROM creach c JOIN seeds s ON c.src = s.sid "
        f"JOIN z ON c.dst = z.zid JOIN nodes n ON c.dst = n.id"
    )
    ret["elev_rel_watershed_minmax"] = (
        f"{prelude}, "
        f"bas AS (SELECT c.src, c.dst AS term FROM creach c "
        f"JOIN terms t ON c.dst = t.tid), "
        f"st AS (SELECT bas.term, MIN(z.z) AS mn, MAX(z.z) AS mx "
        f"FROM bas JOIN z ON bas.src = z.zid GROUP BY 1) "
        f"SELECT n.row, n.col, CASE WHEN st.mx > st.mn THEN "
        f"(z.z - st.mn) / (st.mx - st.mn) * 100.0 ELSE 0.0 END AS value "
        f"FROM bas JOIN st ON bas.term = st.term "
        f"JOIN z ON bas.src = z.zid JOIN nodes n ON bas.src = n.id"
    )
    return ret


def _demedit_oracles() -> dict[str, str]:
    """Oracles for RaiseWalls / FlattenLakes over the 40x40 gate raster
    (_META40 geometry) and the _POLYS fixture. The outline-crossing SQL
    is the lines_to_raster math in DuckDB dialect; PIP inside tests come
    from the shared geometry_sql generator."""
    W = 40
    ras_a = f"ras_a AS ({_RAS_C_SQL})"
    segs = []
    for pid, shells, holes in _POLYS:
        for ring in shells + holes:
            n = len(ring)
            for i in range(n):
                x1, y1 = ring[i]
                x2, y2 = ring[(i + 1) % n]
                if (x1, y1) != (x2, y2):
                    segs.append(f"({pid}, {x1!r}, {y1!r}, {x2!r}, {y2!r})")
    seg_cte = (f"segs(rn, x1, y1, x2, y2) AS "
               f"(SELECT * FROM (VALUES {', '.join(segs)}))")
    r_hi = f"GREATEST(LEAST({_META40.row_from_y_expr('LEAST(y1, y2)')}, {W - 1}), 0)"
    r_lo = f"GREATEST(LEAST({_META40.row_from_y_expr('GREATEST(y1, y2)')}, {W - 1}), 0)"
    c_lo = f"GREATEST(LEAST({_META40.col_from_x_expr('LEAST(x1, x2)')}, {W - 1}), 0)"
    c_hi = f"GREATEST(LEAST({_META40.col_from_x_expr('GREATEST(x1, x2)')}, {W - 1}), 0)"
    y_r = _META40.y_from_row_expr("tr.range")
    x_c = _META40.x_from_col_expr("tc.range")
    x_prime = f"(x1 + (({y_r}) - y1) / (y2 - y1) * (x2 - x1))"
    y_prime = f"(y1 + (({x_c}) - x1) / (x2 - x1) * (y2 - y1))"
    crossing = (
        f"b AS (SELECT rn, x1, y1, x2, y2, {r_lo} AS r0, {r_hi} AS r1, "
        f"{c_lo} AS c0, {c_hi} AS c1 FROM segs), "
        f"rh AS (SELECT rn, tr.range AS row, {_META40.col_from_x_expr(x_prime)} AS col "
        f"FROM b JOIN range(0, {W}) tr ON tr.range >= r0 AND tr.range <= r1 "
        f"WHERE ({y_r}) >= LEAST(y1, y2) AND ({y_r}) <= GREATEST(y1, y2) AND y2 <> y1), "
        f"ch AS (SELECT rn, {_META40.row_from_y_expr(y_prime)} AS row, tc.range AS col "
        f"FROM b JOIN range(0, {W}) tc ON tc.range >= c0 AND tc.range <= c1 "
        f"WHERE ({x_c}) >= LEAST(x1, x2) AND ({x_c}) <= GREATEST(x1, x2) AND x2 <> x1), "
        f"hits AS (SELECT * FROM rh UNION ALL SELECT * FROM ch), "
        f"oc AS (SELECT DISTINCT rn, row, col FROM hits "
        f"WHERE row >= 0 AND row < {W} AND col >= 0 AND col < {W})"
    )
    cx = _META40.x_from_col_expr("col")
    cy = _META40.y_from_row_expr("row")
    inside = (
        "cells AS (SELECT a.range AS row, b.range AS col "
        f"FROM range(0, {W}) a, range(0, {W}) b), "
        f"cc AS (SELECT row, col, {cx} AS px, {cy} AS py FROM cells), "
        "ph AS ("
        + " UNION ALL ".join(
            f"SELECT row, col, {pid} AS pid FROM cc "
            f"WHERE {GS.inside_feature_sql(sh, ho, 'px', 'py')}"
            for pid, sh, ho in _POLYS)
        + "), inpoly AS (SELECT row, col, MAX(pid) AS rn FROM ph GROUP BY 1, 2)"
    )
    ret = {}
    ret["raise_walls"] = (
        f"WITH {ras_a}, {seg_cte}, {crossing}, "
        f"wc AS (SELECT DISTINCT row, col FROM oc) "
        f"SELECT a.row, a.col, CASE WHEN w.row IS NOT NULL "
        f"THEN a.value + 25.0 ELSE a.value END AS value "
        f"FROM ras_a a LEFT JOIN wc w ON a.row = w.row AND a.col = w.col"
    )
    ret["flatten_lakes"] = (
        f"WITH {ras_a}, {seg_cte}, {crossing}, {inside}, "
        f"zmin AS (SELECT oc.rn, MIN(a.value) AS minz FROM oc "
        f"JOIN ras_a a ON oc.row = a.row AND oc.col = a.col GROUP BY 1) "
        f"SELECT a.row, a.col, COALESCE(z.minz, a.value) AS value "
        f"FROM ras_a a LEFT JOIN (SELECT i.row, i.col, zmin.minz "
        f"FROM inpoly i JOIN zmin ON i.rn = zmin.rn) z "
        f"ON a.row = z.row AND a.col = z.col"
    )
    return ret


def _vecgeom_oracles() -> dict[str, str]:
    """Oracles for the bounding-geometry batch: envelope (pure min/max),
    PatchOrientation (the same RMA-regression SQL text over unnested
    ring vertices), RemovePolygonHoles (literal arithmetic over the
    static _POLYS fixture)."""
    rings = (f"WITH base AS ({_SHAPES_BASE}), "
             f"rs AS (SELECT shape_id, CASE WHEN kind = 0 THEN {_RECT_DUCK} "
             f"ELSE {_DIAM_DUCK} END AS ring FROM base)")
    nodes = (f"{rings}, nodes AS (SELECT shape_id, v.x AS x, v.y AS y "
             f"FROM (SELECT shape_id, unnest(ring) AS v FROM rs))")
    ret = {}
    ret["min_bounding_envelope"] = (
        f"{nodes} SELECT shape_id, MIN(x) AS xmin, MIN(y) AS ymin, "
        f"MAX(x) AS xmax, MAX(y) AS ymax FROM nodes GROUP BY 1")
    # MinimumBoundingCircle: the Welzl kernel's terminal 2-point support
    # circle per fixture kind — same midpoint + SQRT-distance arithmetic
    # text (ROUND(6) absorbs math.hypot vs SQRT ulps)
    def _c2(ax, ay, bx, by):
        cxe = f"(({ax}) + ({bx})) / 2.0"
        cye = f"(({ay}) + ({by})) / 2.0"
        r = (f"SQRT((({ax}) - ({cxe})) * (({ax}) - ({cxe})) "
             f"+ (({ay}) - ({cye})) * (({ay}) - ({cye})))")
        return cxe, cye, r

    _rc = _c2("cx + hw", "cy + hh", "cx - hw", "cy - hh")  # rect: tr-bl
    _dv = _c2("cx", "cy + hh", "cx", "cy - hh")            # diamond: t-b
    _dh = _c2("cx - hw", "cy", "cx + hw", "cy")            # diamond: l-r
    ret["min_bounding_circle"] = (
        f"WITH base AS ({_SHAPES_BASE}) "
        f"SELECT shape_id, "
        f"ROUND(CASE WHEN kind = 0 THEN {_rc[0]} WHEN hw <= hh THEN {_dv[0]} "
        f"ELSE {_dh[0]} END, 6) AS cx, "
        f"ROUND(CASE WHEN kind = 0 THEN {_rc[1]} WHEN hw <= hh THEN {_dv[1]} "
        f"ELSE {_dh[1]} END, 6) AS cy, "
        f"ROUND(CASE WHEN kind = 0 THEN {_rc[2]} WHEN hw <= hh THEN {_dv[2]} "
        f"ELSE {_dh[2]} END, 6) AS radius FROM base")
    sxx = "(sxsq / n - (sx / n) * (sx / n))"
    syy = "(sysq / n - (sy / n) * (sy / n))"
    ols_sign = "(sxy - (sx / n) * sy)"
    rma = f"SQRT(({syy}) / ({sxx}))"
    deg = (f"CASE WHEN {ols_sign} < 0.0 THEN DEGREES(ATAN(-({rma}))) "
           f"ELSE DEGREES(ATAN({rma})) END")
    ret["patch_orientation"] = (
        f"{nodes}, ag AS (SELECT shape_id, CAST(COUNT(*) AS DOUBLE) AS n, "
        f"SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, "
        f"SUM(x * x) AS sxsq, SUM(y * y) AS sysq FROM nodes GROUP BY 1) "
        f"SELECT shape_id, ROUND(CASE WHEN ({sxx}) <= 0.0 THEN 0.0 "
        f"WHEN ({deg}) < 0.0 THEN 90.0 + -1.0 * ({deg}) "
        f"ELSE 90.0 - ({deg}) END, 6) AS orientation FROM ag")
    vals = ", ".join(
        f"({pid}, {len(shells)}, {sum(len(r) for r in shells)})"
        for pid, shells, holes in _POLYS)
    ret["remove_polygon_holes"] = (
        f"SELECT * FROM (VALUES {vals}) t(polygon_id, n_parts, n_vertices)")
    return ret


def _image4_oracles() -> dict[str, str]:
    """Oracles for the round-4c image/generator batch. The vignetting
    and Gaussian-stretch plans share their expression text / reference
    table literals with the Spark operators; the random generators are
    pure integer LCG arithmetic (ROUND(6) on the Box-Muller output for
    the LN/COS libm ulp)."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    ras_b = f"ras_b AS ({_RAS_B_SQL})"
    ret = {}

    unsc = EN.vignetting_unscaled_expr(_META100, 49.5, 49.5, 304.8, 228.6, 4.0)
    ret["correct_vignetting"] = (
        f"WITH {ras_a}, u AS (SELECT row, col, value, {unsc} AS uu FROM ras_a), "
        f"st AS (SELECT MIN(value) AS min_in, MAX(value) AS max_in, "
        f"MIN(uu) AS min_out, MAX(uu) AS max_out FROM u) "
        f"SELECT row, col, ROUND(CASE WHEN max_out > min_out THEN min_in "
        f"+ (uu - min_out) / (max_out - min_out) * (max_in - min_in) "
        f"ELSE uu END, 6) AS value FROM u, st")

    refrows = ", ".join(
        f"({i}, {x!r}, {p!r}, {xp!r}, {pp!r})"
        for i, x, p, xp, pp in EN.gaussian_ref_cdf(256))
    ret["gaussian_stretch"] = (
        f"WITH {ras_a}, "
        f"st AS (SELECT MIN(value) AS mn, MAX(value) AS mx, "
        f"CAST(COUNT(*) AS DOUBLE) AS n FROM ras_a), "
        f"b AS (SELECT row, col, n, "
        f"CASE WHEN mx > mn THEN LEAST(CAST((value - mn) "
        f"/ ((mx - mn) / CEIL(GREATEST(mx - mn, 2048.0))) AS BIGINT), "
        f"CAST(CEIL(GREATEST(mx - mn, 2048.0)) AS BIGINT) - 1) "
        f"ELSE 0 END AS bin FROM ras_a, st), "
        f"hist AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY 1), "
        f"cdf AS (SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum FROM hist), "
        f"wp AS (SELECT row, col, CAST(cum AS DOUBLE) / n AS p_val "
        f"FROM b JOIN cdf USING (bin)), "
        f"ref(i, x, p, x_prev, p_prev) AS (SELECT * FROM (VALUES {refrows})), "
        f"m AS (SELECT row, col, p_val, ARG_MIN(ref, i) AS r FROM wp "
        f"LEFT JOIN ref ON ref.p > wp.p_val GROUP BY 1, 2, 3) "
        f"SELECT row, col, ROUND(CASE WHEN r IS NULL THEN 3.0 "
        f"WHEN r.i > 0 AND r.p <> r.p_prev THEN r.x_prev "
        f"+ (r.x - r.x_prev) * ((p_val - r.p_prev) / (r.p - r.p_prev)) "
        f"WHEN r.i > 0 THEN r.x_prev ELSE r.x END, 6) AS value FROM m")

    # user-defined weights: integer kernel, scatter-sum, interior only
    k = [[1.0, 2.0, 1.0], [2.0, 4.0, 2.0], [1.0, 2.0, 1.0]]
    offs = ", ".join(
        f"({i - 1}, {j - 1}, {k[i][j]!r})"
        for i in range(3) for j in range(3))
    ret["user_defined_weights"] = (
        f"WITH {ras_a}, offs(di, dj, w) AS (SELECT * FROM (VALUES {offs})), "
        f"sc AS (SELECT a.row - o.di AS row, a.col - o.dj AS col, "
        f"o.w * a.value AS wv FROM ras_a a, offs o) "
        f"SELECT s.row, s.col, SUM(wv) AS value FROM sc s "
        f"JOIN ras_a c ON s.row = c.row AND s.col = c.col "
        f"GROUP BY 1, 2 HAVING COUNT(*) = 9")

    r100y = _META100.row_from_y_expr("y")
    c100x = _META100.col_from_x_expr("x")
    ret["image_stack_profile"] = (
        f"WITH pts AS ({_PTS_SQL}), {ras_a}, {ras_b}, "
        f"pp AS (SELECT record_num, {r100y} AS row, {c100x} AS col FROM pts) "
        f"SELECT pp.record_num, CAST(1 AS INT) AS image_num, "
        f"COALESCE(a.value, -32768.0) AS value FROM pp "
        f"LEFT JOIN ras_a a ON pp.row = a.row AND pp.col = a.col "
        f"UNION ALL "
        f"SELECT pp.record_num, CAST(2 AS INT) AS image_num, "
        f"COALESCE(b.value, -32768.0) AS value FROM pp "
        f"LEFT JOIN ras_b b ON pp.row = b.row AND pp.col = b.col")

    import math as _m

    cid = "(g.row * 40 + g.col)"
    s1 = f"((({cid} * 2 + 1) * 1103515245 + 12345) % 2147483648)"
    s2 = f"((({cid} * 2 + 2) * 1103515245 + 12345) % 2147483648)"
    u1 = f"((CAST({s1} AS DOUBLE) + 1.0) / 2147483649.0)"
    u2 = f"(CAST({s2} AS DOUBLE) / 2147483648.0)"
    tau = 2.0 * _m.pi
    ret["random_field"] = (
        f"WITH g AS (SELECT a.range AS row, b.range AS col "
        f"FROM range(0, 40) a, range(0, 40) b) "
        f"SELECT g.row, g.col, "
        f"ROUND(SQRT(-2.0 * LN({u1})) * COS({tau!r} * {u2}), 6) AS value "
        f"FROM g")

    ret["random_sample"] = (
        f"WITH ras_c AS ({_RAS_C_SQL}), "
        f"k AS (SELECT row, col, (((row * 40 + col) + 7) * 1103515245 "
        f"+ 12345) % 2147483648 AS kk FROM ras_c), "
        f"t AS (SELECT row, col, ROW_NUMBER() OVER (ORDER BY kk, row, col) "
        f"AS rk FROM k) "
        f"SELECT row, col, CAST(rk AS DOUBLE) AS value FROM t WHERE rk <= 100")
    return ret


def _terrain4_oracles() -> dict[str, str]:
    """Oracles for the round-4c terrain/lidar quick wins."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    ret = {}
    ret["elev_rel_minmax"] = (
        f"WITH {ras_a}, st AS (SELECT MIN(value) AS mn, MAX(value) AS mx "
        f"FROM ras_a) SELECT row, col, CASE WHEN mx > mn THEN "
        f"(value - mn) / (mx - mn) * 100.0 ELSE 0.0 END AS value "
        f"FROM ras_a, st")
    # aspect over the center-substituted 5x5 pivot (same formula text
    # as FO.aspect; ROUND(6) for the ACOS libm call)
    offs25a = "o25a AS (SELECT * FROM (VALUES " + ", ".join(
        f"({n}, {n // 5 - 2}, {n % 5 - 2})" for n in range(25)
    ) + ") o(n, dr, dc))"
    p25a = ", ".join(f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}"
                     for n in range(25))
    zz25a = ", ".join(f"(COALESCE(z_{n}, z_12) * 1.0) AS z{n}"
                      for n in range(25))
    res100a = (_META100.resolution_x + _META100.resolution_y) / 2.0
    pa, qa = FO._florinsky_pq(res100a)
    spa, sqa = f"SIGN({pa})", f"SIGN({qa})"
    asp_formula = (f"(-90.0 * (1.0 - {sqa}) * (1.0 - ABS({spa})) "
                   f"+ 180.0 * (1.0 + {spa}) "
                   f"- 180.0 / PI() * {spa} * ACOS(-({qa}) / SQRT({pa} * {pa} + {qa} * {qa})))")
    ret["aspect"] = (
        f"WITH {ras_a}, {offs25a}, "
        f"sc25a AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, "
        f"o.n AS n, a.value AS nv FROM ras_a a, o25a o), "
        f"p25ax AS (SELECT row, col, {p25a} FROM sc25a GROUP BY 1, 2), "
        f"zz AS (SELECT row, col, {zz25a} FROM p25ax WHERE z_12 IS NOT NULL) "
        f"SELECT row, col, ROUND(CASE WHEN {pa} <> 0.0 THEN {asp_formula} "
        f"ELSE -1.0 END, 6) AS value FROM zz")
    xx = _META100.x_center_expr("col")
    yy = _META100.y_center_expr("row")
    # find_ridges: D8-order nullable pivot (zn_7 N, zn_3 S, zn_5 W, zn_1 E)
    offs9 = "offs9t AS (SELECT * FROM (VALUES " + ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8)
    ) + ", (8, 0, 0)) o(n, dy, dx))"
    piv_cols = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8)
    ) + ", MAX(CASE WHEN n = 8 THEN nv END) AS zc"
    cond = ("(zn_7 IS NOT NULL AND zn_3 IS NOT NULL AND zn_7 < zc AND zn_3 < zc) "
            "OR (zn_5 IS NOT NULL AND zn_1 IS NOT NULL AND zn_5 < zc AND zn_1 < zc)")
    ret["find_ridges"] = (
        f"WITH {ras_a}, {offs9}, "
        f"sc9t AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, o.n AS n, "
        f"a.value AS nv FROM ras_a a, offs9t o), "
        f"p9t AS (SELECT row, col, {piv_cols} FROM sc9t GROUP BY 1, 2) "
        f"SELECT row, col, CAST(CASE WHEN {cond} THEN 1.0 ELSE 0.0 END "
        f"AS DOUBLE) AS value FROM p9t WHERE zc IS NOT NULL")
    # spherical stdev of normals at radius 2: the round-3 msd machinery
    # for a single scale (direct window sums + ROUND(4))
    d8 = [(-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1), (-1, 0)]
    zcases = ", ".join(
        f"MAX(CASE WHEN o.dr = {dr} AND o.dc = {dc} THEN n.value END) AS z{i}"
        for i, (dr, dc) in enumerate(d8))
    o1 = ("o1 AS (SELECT a.range - 1 AS dr, b.range - 1 AS dc "
          "FROM range(0, 3) a, range(0, 3) b)")
    o2 = ("o2 AS (SELECT a.range - 2 AS dr, b.range - 2 AS dc "
          "FROM range(0, 5) a, range(0, 5) b)")
    nbr = (f"nbr AS (SELECT c.row, c.col, c.value AS zc, {zcases} "
           f"FROM ras_a c CROSS JOIN o1 o "
           f"LEFT JOIN ras_a n ON n.row = c.row + o.dr AND n.col = c.col + o.dc "
           f"WHERE NOT (o.dr = 0 AND o.dc = 0) GROUP BY 1, 2, 3)")
    sub = [f"COALESCE(z{i}, zc)" for i in range(8)]
    fx = (f"((({sub[2]}) - ({sub[4]}) + 2.0 * (({sub[1]}) - ({sub[5]})) "
          f"+ ({sub[0]}) - ({sub[6]})) / {8.0 * _META100.resolution_x!r})")
    fy = (f"((({sub[6]}) - ({sub[4]}) + 2.0 * (({sub[7]}) - ({sub[3]})) "
          f"+ ({sub[0]}) - ({sub[2]})) / {8.0 * _META100.resolution_y!r})")
    nrm_len = f"SQRT(({fx}) * ({fx}) + ({fy}) * ({fy}) + 1.0)"
    nrm = (f"nrm AS (SELECT row, col, (-({fx})) / ({nrm_len}) AS nx, "
           f"(-({fy})) / ({nrm_len}) AS ny, 1.0 / ({nrm_len}) AS nz FROM nbr)")
    w2 = (f"w2 AS (SELECT c.row, c.col, COUNT(*) AS wn, "
          f"SUM(n.nx) AS sx, SUM(n.ny) AS sy, SUM(n.nz) AS sz "
          f"FROM nrm c CROSS JOIN o2 o "
          f"JOIN nrm n ON n.row = c.row + o.dr AND n.col = c.col + o.dc "
          f"GROUP BY 1, 2)")
    res_len = "SQRT(sx * sx + sy * sy + sz * sz)"
    sdev = (f"DEGREES(SQRT(-2.0 * LN(GREATEST(LEAST(({res_len}) / wn, 1.0), "
            f"1e-12))))")
    ret["spherical_sdn"] = (
        f"WITH {ras_a}, {o1}, {o2}, {nbr}, {nrm}, {w2} "
        f"SELECT row, col, ROUND({sdev}, 4) AS value FROM w2")
    # turning bands: identical band literals, duck list indexing
    tb_exprs, tb_root = R.turning_bands_exprs(_META40C, 100.0, 8, 42,
                                              duck=True)
    tb_total = " + ".join(f"({e})" for e in tb_exprs)
    ret["turning_bands"] = (
        f"WITH g AS (SELECT a.range AS row, b.range AS col "
        f"FROM range(0, 40) a, range(0, 40) b) "
        f"SELECT row, col, ({tb_total}) / ({tb_root!r} + 0e0) AS value FROM g")
    # max anisotropy DEV at scales [2, 3] — direct integer-exact pane
    # sums (the Spark side's II corner lookups produce the same exact
    # integers)
    def _aniso_scale_sql(m: int) -> str:
        mpr = (m * 2 + 1) // 6
        spans = {
            (1, 2): range(-m, -mpr - 1 + 1),
            (2, 3): range(-mpr, mpr + 1),
            (3, 4): range(mpr + 1, m + 1),
            (1, 4): range(-m, m + 1),
        }
        panes = {
            0: [((1, 4), (1, 4))],
            1: [((1, 4), (2, 3))],
            2: [((2, 3), (1, 4))],
            3: [((1, 2), (3, 4)), ((2, 3), (2, 3)), ((3, 4), (1, 2))],
            4: [((1, 2), (1, 2)), ((2, 3), (2, 3)), ((3, 4), (3, 4))],
        }
        ctes, devs = [], {}
        for p, rects in panes.items():
            offs = []
            for (yr, xr) in rects:
                for dr in spans[yr]:
                    for dc in spans[xr]:
                        offs.append(f"({dr}, {dc})")
            ctes.append(
                f"po{m}_{p} AS (SELECT * FROM (VALUES {', '.join(offs)}) "
                f"o(dr, dc)), "
                f"pg{m}_{p} AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, "
                f"CAST(COUNT(*) AS DOUBLE) AS n, SUM(a.value) AS s, "
                f"SUM(a.value * a.value) AS s2 "
                f"FROM ras_a a, po{m}_{p} o GROUP BY 1, 2)")
            v = f"((g{p}.s2 - g{p}.s * g{p}.s / g{p}.n) / g{p}.n)"
            devs[p] = (f"CASE WHEN g{p}.n > 3 AND ({v}) > 0.0 THEN "
                       f"(c.value - g{p}.s / g{p}.n) / SQRT({v}) "
                       f"ELSE NULL END")
        joins = " ".join(
            f"JOIN pg{m}_{p} g{p} ON c.row = g{p}.row AND c.col = g{p}.col"
            for p in panes)
        d0 = devs[0]
        diffs = " + ".join(
            f"COALESCE((({devs[p]}) - ({d0})) * (({devs[p]}) - ({d0})), 0.0)"
            for p in (1, 2, 3, 4))
        valid = " + ".join(
            f"(CASE WHEN ({devs[p]}) IS NOT NULL THEN 1.0 ELSE 0.0 END)"
            for p in (1, 2, 3, 4))
        sel = (
            f"a{m} AS (SELECT c.row, c.col, "
            f"CASE WHEN ({d0}) IS NOT NULL AND ({valid}) > 0.0 "
            f"THEN SQRT(({diffs}) / ({valid})) ELSE NULL END AS a, "
            f"CAST({m} AS INT) AS scale FROM ras_a c {joins} "
            f"WHERE c.row - {m + 1} >= 0 AND c.row + {m} < 100 "
            f"AND c.col - {m + 1} >= 0 AND c.col + {m} < 100)")
        return ", ".join(ctes) + ", " + sel

    ret["max_anisotropy_dev"] = (
        f"WITH {ras_a}, {_aniso_scale_sql(2)}, {_aniso_scale_sql(3)}, "
        f"u AS (SELECT * FROM a2 WHERE a IS NOT NULL "
        f"UNION ALL SELECT * FROM a3 WHERE a IS NOT NULL) "
        f"SELECT row, col, a AS value, scale FROM u "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY row, col "
        f"ORDER BY -a, scale) = 1")
    sigp2 = (f"sigp2 AS (SELECT record_num AS point_id, "
             f"{_META100.row_from_y_expr('y')} AS row, "
             f"{_META100.col_from_x_expr('x')} AS col "
             f"FROM ({_PTS_SQL}) WHERE record_num % 97 = 0)")
    ret["max_anisotropy_dev_signature"] = (
        f"WITH {ras_a}, {_aniso_scale_sql(2)}, {_aniso_scale_sql(3)}, {sigp2}, "
        f"u AS (SELECT * FROM a2 WHERE a IS NOT NULL "
        f"UNION ALL SELECT * FROM a3 WHERE a IS NOT NULL) "
        f"SELECT p.point_id, u.scale, u.a AS value "
        f"FROM u JOIN sigp2 p ON u.row = p.row AND u.col = p.col")
    # per-point attribute correlation within radius 60 (brute-force
    # pair join at gate scale)
    r2a = 60.0 * 60.0
    dena = "((saa - sa * sa / n) * (sbb - sb * sb / n))"
    ra = (f"CASE WHEN {dena} > 0.0 THEN (sab - sa * sb / n) "
          f"/ SQRT({dena}) ELSE 0.0 END")
    ret["attr_corr_neighbourhood"] = (
        f"WITH p AS (SELECT record_num, x, y, value, "
        f"value * 0.5 + (x % 50.0) AS attr2 FROM ({_PTS_SQL})), "
        f"prs AS (SELECT a.record_num AS aid, b.value AS b1, b.attr2 AS b2 "
        f"FROM p a JOIN p b ON (a.x - b.x) * (a.x - b.x) "
        f"+ (a.y - b.y) * (a.y - b.y) <= {r2a!r}), "
        f"g AS (SELECT aid, CAST(COUNT(*) AS DOUBLE) AS n, SUM(b1) AS sa, "
        f"SUM(b2) AS sb, SUM(b1 * b1) AS saa, SUM(b2 * b2) AS sbb, "
        f"SUM(b1 * b2) AS sab FROM prs GROUP BY 1) "
        f"SELECT aid AS record_num, ROUND({ra}, 6) AS rvalue, "
        f"ROUND(CASE WHEN n > 4 AND ABS({ra}) < 1.0 THEN ({ra}) "
        f"* SQRT(CAST(n - 2 AS DOUBLE) / (1.0 - ({ra}) * ({ra}))) "
        f"ELSE 0.0 END, 6) AS tvalue FROM g")
    # local Pearson correlation over a 5x5 window (radius 2)
    o5 = ("o5c AS (SELECT a.range - 2 AS dr, b.range - 2 AS dc "
          "FROM range(0, 5) a, range(0, 5) b)")
    denx = "((saa - sa * sa / n) * (sbb - sb * sb / n))"
    rx = (f"CASE WHEN {denx} > 0.0 THEN (sab - sa * sb / n) "
          f"/ SQRT({denx}) ELSE 0.0 END")
    ret["image_corr_neighbourhood"] = (
        f"WITH {ras_a}, rb AS ({_RAS_B_SQL}), {o5}, "
        f"j AS (SELECT a.row, a.col, a.value AS va, b.value AS vb "
        f"FROM ras_a a JOIN rb b ON a.row = b.row AND a.col = b.col), "
        f"sc AS (SELECT j.row - o.dr AS row, j.col - o.dc AS col, va, vb "
        f"FROM j, o5c o), "
        f"g AS (SELECT s.row, s.col, CAST(COUNT(*) AS DOUBLE) AS n, "
        f"SUM(s.va) AS sa, SUM(s.vb) AS sb, SUM(s.va * s.va) AS saa, "
        f"SUM(s.vb * s.vb) AS sbb, SUM(s.va * s.vb) AS sab FROM sc s "
        f"JOIN j c ON s.row = c.row AND s.col = c.col GROUP BY 1, 2) "
        f"SELECT row, col, ROUND({rx}, 6) AS rvalue, "
        f"ROUND(CASE WHEN n > 4 AND ABS({rx}) < 1.0 THEN ({rx}) "
        f"* SQRT(CAST(n - 2 AS DOUBLE) / (1.0 - ({rx}) * ({rx}))) "
        f"ELSE 0.0 END, 6) AS tvalue FROM g")
    # slope_vs_elev_plot: pivot5 slope degrees + integer-exact binning;
    # ROUND(6) on the AVG
    offs25 = "o25s AS (SELECT * FROM (VALUES " + ", ".join(
        f"({n}, {n // 5 - 2}, {n % 5 - 2})" for n in range(25)
    ) + ") o(n, dr, dc))"
    p25 = ", ".join(f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}"
                    for n in range(25))
    zz25 = ", ".join(f"(COALESCE(z_{n}, z_12) * 1.0) AS z{n}"
                     for n in range(25))
    res100 = (_META100.resolution_x + _META100.resolution_y) / 2.0
    p_, q_ = FO._florinsky_pq(res100)
    slope_deg = f"DEGREES(ATAN(SQRT({p_} * {p_} + {q_} * {q_})))"
    ret["slope_vs_elev_plot"] = (
        f"WITH {ras_a}, {offs25}, "
        f"sc25s AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, "
        f"o.n AS n, a.value AS nv FROM ras_a a, o25s o), "
        f"p25s AS (SELECT row, col, {p25} FROM sc25s GROUP BY 1, 2), "
        f"zz AS (SELECT row, col, {zz25} FROM p25s WHERE z_12 IS NOT NULL), "
        f"sl AS (SELECT row, col, {slope_deg} AS sv FROM zz), "
        f"st AS (SELECT MIN(value) AS mn, MAX(value) AS mx, "
        f"CAST(COUNT(*) AS DOUBLE) AS n FROM ras_a), "
        f"cfg AS (SELECT mn, GREATEST(CAST(mx - mn AS BIGINT) // 5, "
        f"CAST(CEIL(LOG2(n)) AS BIGINT) + 1) AS nb, "
        f"(mx - mn + 0.00001) / GREATEST(CAST(mx - mn AS BIGINT) // 5, "
        f"CAST(CEIL(LOG2(n)) AS BIGINT) + 1) AS bw FROM st), "
        f"b AS (SELECT CAST(FLOOR((a.value - cfg.mn) / cfg.bw) AS BIGINT) "
        f"AS bin, s.sv, cfg.mn, cfg.bw FROM ras_a a "
        f"JOIN sl s ON a.row = s.row AND a.col = s.col, cfg) "
        f"SELECT mn + (CAST(bin AS DOUBLE) + 0.5) * bw AS elevation, "
        f"ROUND(AVG(sv), 6) AS slope, COUNT(*) AS n "
        f"FROM b GROUP BY bin, mn, bw")
    # lidar: high-density thinning (first cap per FRS cell) + info
    pts = f"pts AS ({_PTS_SQL})"
    cx40 = frs_cell_expr("x", 40.0)
    cy40 = frs_cell_expr("y", 40.0)
    cap = max(int(0.00125 * 40.0 * 40.0), 1)
    ret["lidar_thin_high_density"] = (
        f"WITH {pts}, b AS (SELECT record_num, x, y, value, "
        f"{cx40} AS cx, {cy40} AS cy FROM pts), "
        f"r AS (SELECT record_num, x, y, value, ROW_NUMBER() OVER "
        f"(PARTITION BY cx, cy ORDER BY record_num) AS rk FROM b) "
        f"SELECT record_num, x, y, value FROM r WHERE rk <= {cap}")
    # max_elev_dev_signature: the max_elev_dev dev CTEs evaluated only
    # at the sampled points' cells, no argmax
    o1 = ("so1 AS (SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),"
          "(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dr, dc))")
    o2 = ("so2 AS (SELECT a.range - 2 AS dr, b.range - 2 AS dc "
          "FROM range(0, 5) a, range(0, 5) b)")
    dev_cte = (
        "sd{k} AS (SELECT a.row, a.col, CASE WHEN (g.s2 - g.s1 * g.s1 / g.n) "
        "> 0.0 THEN (a.value - g.s1 / g.n) / SQRT((g.s2 - g.s1 * g.s1 / g.n) "
        "/ (g.n - 1)) ELSE 0.0 END AS dev, CAST({r} AS INT) AS scale "
        "FROM ras_a a JOIN (SELECT s.row - o.dr AS row, s.col - o.dc AS col, "
        "COUNT(*) AS n, SUM(s.value) AS s1, SUM(s.value * s.value) AS s2 "
        "FROM ras_a s, so{k} o GROUP BY 1, 2) g "
        "ON g.row = a.row AND g.col = a.col)"
    )
    r100y = _META100.row_from_y_expr("y")
    c100x = _META100.col_from_x_expr("x")
    sigp = (f"sigp AS (SELECT record_num AS point_id, {r100y} AS row, "
            f"{c100x} AS col FROM (SELECT * FROM ({_PTS_SQL}) "
            f"WHERE record_num % 97 = 0))")
    ret["max_elev_dev_signature"] = (
        f"WITH {ras_a}, {o1}, {o2}, {sigp}, "
        f"{dev_cte.format(k=1, r=1)}, {dev_cte.format(k=2, r=2)}, "
        f"devs AS (SELECT * FROM sd1 UNION ALL SELECT * FROM sd2) "
        f"SELECT p.point_id, d.scale, d.dev AS value "
        f"FROM devs d JOIN sigp p ON d.row = p.row AND d.col = p.col")
    ret["lidar_info"] = (
        f"WITH {pts} SELECT CAST(COUNT(*) AS BIGINT) AS num_points, "
        f"MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, "
        f"MAX(y) AS max_y, MIN(value) AS min_z, MAX(value) AS max_z, "
        f"AVG(value) AS mean_z FROM pts")
    r2 = 30.0 * 30.0
    ret["lidar_tophat"] = (
        f"WITH {pts}, "
        f"prs AS (SELECT a.record_num AS aid, b.record_num AS bid, "
        f"b.value AS bz FROM pts a JOIN pts b ON "
        f"(a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {r2!r}), "
        f"ero AS (SELECT aid, MIN(bz) AS emin FROM prs GROUP BY 1), "
        f"dil AS (SELECT p.aid, MAX(e.emin) AS dmax FROM prs p "
        f"JOIN ero e ON p.bid = e.aid GROUP BY 1) "
        f"SELECT p.record_num, p.x, p.y, p.value - d.dmax AS value "
        f"FROM pts p JOIN dil d ON p.record_num = d.aid")
    return ret


def _r4d_oracles() -> dict[str, str]:
    """Oracles for the round-4d patch/workflow batch."""
    ras_a = f"ras_a AS ({_RAS_A_SQL})"
    ras_b = f"rb AS ({_RAS_B_SQL})"
    offs9 = "o9d AS (SELECT * FROM (VALUES " + ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8)
    ) + ", (8, 0, 0)) o(n, dy, dx))"
    piv_cols = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8)
    ) + ", MAX(CASE WHEN n = 8 THEN nv END) AS zc"
    pivot9b = (
        f"{offs9}, "
        f"sc9d AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, o.n AS n, "
        f"a.value AS nv FROM rb a, o9d o), "
        f"p9d AS (SELECT row, col, {piv_cols} FROM sc9d GROUP BY 1, 2), "
        f"z9 AS (SELECT * FROM p9d WHERE zc IS NOT NULL)"
    )
    ret = {}
    edge_cond = " OR ".join(
        f"COALESCE(zn_{i} <> zc, TRUE)" for i in range(8))
    ret["find_patch_edge_cells"] = (
        f"WITH {ras_b}, {pivot9b} SELECT row, col, "
        f"CASE WHEN {edge_cond} THEN zc ELSE 0.0 END AS value FROM z9")
    res100 = (_META100.resolution_x + _META100.resolution_y) / 2.0
    idx = " + ".join(
        f"(CASE WHEN COALESCE(zn_{i} = zc, FALSE) THEN {1 << i} ELSE 0 END)"
        for i in range(8))
    lut = ", ".join(f"{v}e0" for v in R._PERIMETER_LUT)
    ret["raster_perimeter"] = (
        f"WITH {ras_b}, {pivot9b} "
        f"SELECT zc AS value, ROUND(SUM(([{lut}])[({idx}) + 1] "
        f"* {res100!r}), 6) AS perimeter FROM z9 GROUP BY 1")
    # clump-based area filter: same undirected closure as the clump oracle
    ret["filter_raster_features"] = (
        f"WITH RECURSIVE {ras_b}, "
        f"c AS (SELECT row, col, value, (row * 100 + col) AS id FROM rb), "
        f"noffs AS (SELECT * FROM (VALUES (-1,0),(1,0),(0,-1),(0,1),"
        f"(-1,-1),(-1,1),(1,-1),(1,1)) o(dr, dc)), "
        f"e AS (SELECT a.id AS src, b.id AS dst FROM c a JOIN noffs o ON TRUE "
        f"JOIN c b ON b.row = a.row + o.dr AND b.col = a.col + o.dc "
        f"AND b.value = a.value), "
        f"reach(id, r) AS (SELECT id, id FROM c UNION "
        f"SELECT e.dst, reach.r FROM reach JOIN e ON reach.id = e.src), "
        f"lab AS (SELECT id, MIN(r) AS rep FROM reach GROUP BY id), "
        f"sz AS (SELECT rep, COUNT(*) AS n FROM lab GROUP BY 1) "
        f"SELECT c.row, c.col, CASE WHEN sz.n < 5 THEN -1.0 "
        f"ELSE c.value END AS value "
        f"FROM c JOIN lab ON c.id = lab.id JOIN sz ON lab.rep = sz.rep")
    # viewshed at (20, 20) over the 40x40 gate raster: the Spark plan is
    # pure SQL (explode ray samples + equi-join), so the oracle is the
    # same text with round_even for BROUND; every angle is one exact
    # division per row — bit-portable, no rounding needed
    vr, vc = 20, 20
    rx, ry = _META40C.resolution_x, _META40C.resolution_y
    vdist = (f"SQRT((CAST(row - {vr} AS DOUBLE) * {ry!r}) "
             f"* (CAST(row - {vr} AS DOUBLE) * {ry!r}) "
             f"+ (CAST(col - {vc} AS DOUBLE) * {rx!r}) "
             f"* (CAST(col - {vc} AS DOUBLE) * {rx!r}))")
    vsd = (f"SQRT((CAST(ir - {vr} AS DOUBLE) * {ry!r}) "
           f"* (CAST(ir - {vr} AS DOUBLE) * {ry!r}) "
           f"+ (CAST(ic - {vc} AS DOUBLE) * {rx!r}) "
           f"* (CAST(ic - {vc} AS DOUBLE) * {rx!r}))")
    ret["viewshed"] = (
        f"WITH rc AS ({_RAS_C_SQL}), "
        f"vz AS (SELECT value + 2.0 AS z0 FROM rc WHERE row = {vr} AND col = {vc}), "
        f"t AS (SELECT row, col, CAST(row - {vr} AS DOUBLE) AS dr, "
        f"CAST(col - {vc} AS DOUBLE) AS dc, "
        f"GREATEST(ABS(row - {vr}), ABS(col - {vc})) AS n, "
        f"{vdist} AS dist, (value - vz.z0) / NULLIF({vdist}, 0.0) AS tgt "
        f"FROM rc, vz), "
        f"s AS (SELECT t.row, t.col, t.tgt, "
        f"CAST(round_even({vr} + t.dr * (CAST(u.s AS DOUBLE) / CAST(t.n AS DOUBLE)), 0) AS BIGINT) AS ir, "
        f"CAST(round_even({vc} + t.dc * (CAST(u.s AS DOUBLE) / CAST(t.n AS DOUBLE)), 0) AS BIGINT) AS ic "
        f"FROM t JOIN LATERAL (SELECT unnest(range(1, t.n)) AS s) u ON TRUE "
        f"WHERE t.n >= 2), "
        f"blocked AS (SELECT DISTINCT s.row, s.col FROM s "
        f"JOIN rc c ON s.ir = c.row AND s.ic = c.col, vz "
        f"WHERE (c.value - vz.z0) / NULLIF({vsd.replace('ir', 's.ir').replace('ic', 's.ic')}, 0.0) >= s.tgt) "
        f"SELECT t.row, t.col, CASE WHEN t.dist = 0.0 THEN 1.0 "
        f"WHEN b.row IS NULL THEN 1.0 ELSE 0.0 END AS value "
        f"FROM t LEFT JOIN blocked b ON t.row = b.row AND t.col = b.col")
    # horizon angle, azimuth 90 over the 40x40 gate raster — same
    # replay strategy as the viewshed oracle
    import math as _m2

    az = _m2.radians(90.0)
    step_r, step_c = -_m2.cos(az), _m2.sin(az)
    rows_n = cols_n = 40
    smax = int(_m2.hypot(rows_n, cols_n)) + 2

    def _exit(pos, step, n):
        if step > 0.0:
            return f"(({n} - 0.5 - {pos}) / {step!r})"
        if step < 0.0:
            return f"(({pos} + 0.5) / {-step!r})"
        return f"CAST({smax} AS DOUBLE)"

    hcap = (f"LEAST(CAST(CEIL(LEAST({_exit('t.row', step_r, rows_n)}, "
            f"{_exit('t.col', step_c, cols_n)})) AS BIGINT) + 2, {smax})")
    hd = (f"SQRT((CAST(ir - s.row AS DOUBLE) * {ry!r}) "
          f"* (CAST(ir - s.row AS DOUBLE) * {ry!r}) "
          f"+ (CAST(ic - s.col AS DOUBLE) * {rx!r}) "
          f"* (CAST(ic - s.col AS DOUBLE) * {rx!r}))")
    hfail = f"NOT (ir >= 0 AND ir < {rows_n} AND ic >= 0 AND ic < {cols_n})"
    ret["horizon_angle"] = (
        f"WITH rc AS ({_RAS_C_SQL}), "
        f"t AS (SELECT row, col, value AS z0, {hcap} AS cap FROM rc t), "
        f"s0 AS (SELECT t.row, t.col, t.z0, u.s, "
        f"CAST(round_even(t.row + {step_r!r} * u.s, 0) AS BIGINT) AS ir, "
        f"CAST(round_even(t.col + {step_c!r} * u.s, 0) AS BIGINT) AS ic "
        f"FROM t JOIN LATERAL (SELECT unnest(range(1, t.cap + 1)) AS s) u "
        f"ON TRUE WHERE t.cap >= 1), "
        f"s AS (SELECT s0.*, {hd.replace('s.row', 's0.row').replace('s.col', 's0.col')} AS d, "
        f"MIN(CASE WHEN {hfail} THEN s0.s END) OVER (PARTITION BY s0.row, s0.col) AS ff "
        f"FROM s0), "
        f"alive AS (SELECT * FROM s WHERE NOT ({hfail}) "
        f"AND (ff IS NULL OR s < ff) AND d > 0.0), "
        f"best AS (SELECT a.row, a.col, MAX((c.value - a.z0) / NULLIF(a.d, 0.0)) AS b "
        f"FROM alive a LEFT JOIN rc c ON a.ir = c.row AND a.ic = c.col "
        f"GROUP BY 1, 2) "
        f"SELECT rc.row, rc.col, ROUND(CASE WHEN best.b IS NULL THEN 0.0 "
        f"ELSE ATAN(best.b) END, 6) AS value "
        f"FROM rc LEFT JOIN best ON rc.row = best.row AND rc.col = best.col")
    # TimeInDaylight (round-5 upgrade): the horizon replay generalized
    # over the 8 discrete azimuths (one alive/best CTE chain per azid,
    # Python-identical step constants), a VALUES solar table from the
    # same declination/hour-angle loop, and the exact integer lit-count
    # divide. ATAN cross-libm flips need |alt - horizon| < 1 ulp —
    # negligible at this fixture size.
    def _tid_sql() -> str:
        lat_r = _m2.radians(45.0)
        decl = _m2.radians(23.45) * _m2.sin(2 * _m2.pi * (284 + 172) / 365.0)
        sun = []
        t = 0.0
        while t < 24.0 * 60.0:
            ha = _m2.radians((t / 60.0 - 12.0) * 15.0)
            sin_alt = (_m2.sin(lat_r) * _m2.sin(decl)
                       + _m2.cos(lat_r) * _m2.cos(decl) * _m2.cos(ha))
            alt = _m2.asin(max(-1.0, min(1.0, sin_alt)))
            if alt > 0:
                cos_az = ((_m2.sin(decl) - _m2.sin(alt) * _m2.sin(lat_r))
                          / max(_m2.cos(alt) * _m2.cos(lat_r), 1e-12))
                azd = _m2.degrees(_m2.acos(max(-1.0, min(1.0, cos_az))))
                if ha > 0:
                    azd = 360.0 - azd
                sun.append((azd, alt))
            t += 120.0
        n_az = 8
        sun_rows = [(int(round(azd / (360.0 / n_az))) % n_az, alt)
                    for azd, alt in sun]
        sun_vals = ", ".join(f"({a}, {alt!r})" for a, alt in sun_rows)
        smax = int(_m2.hypot(40, 40)) + 2
        ctes, hz_sel = [], []
        for k in range(n_az):
            azr = _m2.radians(k * 360.0 / n_az)
            sr_, sc_ = -_m2.cos(azr), _m2.sin(azr)

            def _ex(pos, step, n):
                if step > 0.0:
                    return f"(({n} - 0.5 - {pos}) / {step!r})"
                if step < 0.0:
                    return f"(({pos} + 0.5) / {-step!r})"
                return f"CAST({smax} AS DOUBLE)"

            cap = (f"LEAST(CAST(CEIL(LEAST({_ex('t.row', sr_, 40)}, "
                   f"{_ex('t.col', sc_, 40)})) AS BIGINT) + 2, {smax})")
            d_k = (f"SQRT((CAST(ir - s0.row AS DOUBLE) * {ry!r}) "
                   f"* (CAST(ir - s0.row AS DOUBLE) * {ry!r}) "
                   f"+ (CAST(ic - s0.col AS DOUBLE) * {rx!r}) "
                   f"* (CAST(ic - s0.col AS DOUBLE) * {rx!r}))")
            fail_k = "NOT (ir >= 0 AND ir < 40 AND ic >= 0 AND ic < 40)"
            ctes.append(
                f"t{k} AS (SELECT row, col, value AS z0, {cap} AS cap "
                f"FROM rc t), "
                f"s0{k} AS (SELECT t.row, t.col, t.z0, u.s, "
                f"CAST(round_even(t.row + {sr_!r} * u.s, 0) AS BIGINT) AS ir, "
                f"CAST(round_even(t.col + {sc_!r} * u.s, 0) AS BIGINT) AS ic "
                f"FROM t{k} t JOIN LATERAL (SELECT unnest(range(1, t.cap + 1)) AS s) u "
                f"ON TRUE WHERE t.cap >= 1), "
                f"s{k} AS (SELECT s0.*, {d_k} AS d, "
                f"MIN(CASE WHEN {fail_k} THEN s0.s END) "
                f"OVER (PARTITION BY s0.row, s0.col) AS ff FROM s0{k} s0), "
                f"al{k} AS (SELECT * FROM s{k} WHERE NOT ({fail_k}) "
                f"AND (ff IS NULL OR s < ff) AND d > 0.0), "
                f"b{k} AS (SELECT a.row, a.col, "
                f"MAX((c.value - a.z0) / NULLIF(a.d, 0.0)) AS b "
                f"FROM al{k} a LEFT JOIN rc c ON a.ir = c.row AND a.ic = c.col "
                f"GROUP BY 1, 2)")
            hz_sel.append(
                f"SELECT {k} AS azid, rc.row, rc.col, "
                f"CASE WHEN b{k}.b IS NULL THEN 0.0 ELSE ATAN(b{k}.b) END AS value "
                f"FROM rc LEFT JOIN b{k} ON rc.row = b{k}.row AND rc.col = b{k}.col")
        return (
            f"WITH rc AS ({_RAS_C_SQL}), " + ", ".join(ctes) + ", "
            f"hz AS (" + " UNION ALL ".join(hz_sel) + "), "
            f"sun(azid, alt) AS (SELECT * FROM (VALUES {sun_vals})) "
            f"SELECT hz.row, hz.col, "
            f"CAST(SUM(CASE WHEN sun.alt > hz.value THEN 1 ELSE 0 END) AS DOUBLE) "
            f"/ {float(len(sun))!r} AS value "
            f"FROM hz JOIN sun ON hz.azid = sun.azid GROUP BY 1, 2")

    ret["time_in_daylight"] = _tid_sql()
    # VisibilityIndex (round-5 upgrade): the viewshed replay generalized
    # over the every-13th-cell station grid; the station count divide is
    # exact (sum of 0/1 doubles / 16)
    vf = 13
    vn_st = len(range(0, 40, vf)) ** 2
    vidist = (f"SQRT((CAST(row - sr AS DOUBLE) * {ry!r}) "
              f"* (CAST(row - sr AS DOUBLE) * {ry!r}) "
              f"+ (CAST(col - sc AS DOUBLE) * {rx!r}) "
              f"* (CAST(col - sc AS DOUBLE) * {rx!r}))")
    visd = (f"SQRT((CAST(s.ir - s.sr AS DOUBLE) * {ry!r}) "
            f"* (CAST(s.ir - s.sr AS DOUBLE) * {ry!r}) "
            f"+ (CAST(s.ic - s.sc AS DOUBLE) * {rx!r}) "
            f"* (CAST(s.ic - s.sc AS DOUBLE) * {rx!r}))")
    ret["visibility_index"] = (
        f"WITH rc AS ({_RAS_C_SQL}), "
        f"stg AS (SELECT r.range AS sr, c2.range AS sc "
        f"FROM range(0, 40, {vf}) r, range(0, 40, {vf}) c2), "
        f"stz AS (SELECT stg.sr, stg.sc, rc.value + 2.0 AS z0 FROM stg "
        f"JOIN rc ON rc.row = stg.sr AND rc.col = stg.sc), "
        f"t AS (SELECT sr, sc, z0, row, col, "
        f"CAST(row - sr AS DOUBLE) AS dr, CAST(col - sc AS DOUBLE) AS dc, "
        f"GREATEST(ABS(row - sr), ABS(col - sc)) AS n, {vidist} AS dist, "
        f"(value - z0) / NULLIF({vidist}, 0.0) AS tgt FROM rc CROSS JOIN stz), "
        f"s AS (SELECT t.sr, t.sc, t.z0, t.row, t.col, t.tgt, "
        f"CAST(round_even(t.sr + t.dr * (CAST(u.s AS DOUBLE) / CAST(t.n AS DOUBLE)), 0) AS BIGINT) AS ir, "
        f"CAST(round_even(t.sc + t.dc * (CAST(u.s AS DOUBLE) / CAST(t.n AS DOUBLE)), 0) AS BIGINT) AS ic "
        f"FROM t JOIN LATERAL (SELECT unnest(range(1, t.n)) AS s) u ON TRUE "
        f"WHERE t.n >= 2), "
        f"vblocked AS (SELECT DISTINCT s.sr, s.sc, s.row, s.col FROM s "
        f"JOIN rc c ON s.ir = c.row AND s.ic = c.col "
        f"WHERE (c.value - s.z0) / NULLIF({visd}, 0.0) >= s.tgt), "
        f"vis AS (SELECT t.row, t.col, CASE WHEN t.dist = 0.0 THEN 1.0 "
        f"WHEN b.row IS NULL THEN 1.0 ELSE 0.0 END AS v "
        f"FROM t LEFT JOIN vblocked b ON t.sr = b.sr AND t.sc = b.sc "
        f"AND t.row = b.row AND t.col = b.col) "
        f"SELECT row, col, SUM(v) / CAST({vn_st} AS DOUBLE) AS value "
        f"FROM vis GROUP BY 1, 2")
    # directional relief / fetch: replay the shared _ray_sweep plan in
    # DuckDB (bilinear corner weights; relief mean ROUND(6) for sum
    # reassociation, fetch distances are selections of exact values)
    def _dl(v: float) -> str:
        s = repr(float(v))
        return s if ("e" in s or "E" in s) else s + "e0"

    def _ray_sweep_sql(azimuth: float, mode: str, increment: float = 0.05) -> str:
        azr = _m2.radians(azimuth)
        sr_, sc_ = -_m2.cos(azr), _m2.sin(azr)
        n_ = 40
        smax2 = int(_m2.hypot(n_, n_)) + 2

        def ex(pos, step, n):
            if step > 0.0:
                return f"(({n - 1} - {pos}) / {_dl(step)})"
            if step < 0.0:
                return f"({pos} / {-step!r})"
            return f"CAST({smax2} AS DOUBLE)"

        cap = (f"LEAST(CAST(CEIL(LEAST({ex('t.row', sr_, n_)}, "
               f"{ex('t.col', sc_, n_)})) AS BIGINT) + 2, {smax2})")
        dexp = (f"SQRT(({_dl(sr_)} * u.s * {_dl(ry)}) * ({_dl(sr_)} * u.s * {_dl(ry)}) "
                f"+ ({_dl(sc_)} * u.s * {_dl(rx)}) * ({_dl(sc_)} * u.s * {_dl(rx)}))")
        r0e = f"GREATEST(LEAST(CAST(FLOOR(fr) AS BIGINT), {n_ - 1}), 0)"
        c0e = f"GREATEST(LEAST(CAST(FLOOR(fc) AS BIGINT), {n_ - 1}), 0)"
        pre = (
            f"WITH rc AS ({_RAS_C_SQL}), "
            f"t AS (SELECT row, col, value AS z0, {cap} AS cap FROM rc t), "
            f"st AS (SELECT t.row, t.col, t.z0, u.s, "
            f"t.row + {_dl(sr_)} * u.s AS fr, t.col + {_dl(sc_)} * u.s AS fc, "
            f"{dexp} AS d FROM t "
            f"JOIN LATERAL (SELECT unnest(range(1, t.cap + 1)) AS s) u ON TRUE "
            f"WHERE t.cap >= 1), "
            f"stg0 AS (SELECT * FROM st WHERE fr >= 0.0 AND fr <= {n_ - 1} "
            f"AND fc >= 0.0 AND fc <= {n_ - 1}), "
            f"stg AS (SELECT row, col, z0, s, d, {r0e} AS r0, {c0e} AS c0, "
            f"LEAST({r0e} + 1, {n_ - 1}) AS r1, LEAST({c0e} + 1, {n_ - 1}) AS c1, "
            f"GREATEST(LEAST(fr - {r0e}, 1.0), 0.0) AS tr, "
            f"GREATEST(LEAST(fc - {c0e}, 1.0), 0.0) AS tc FROM stg0), "
            f"crn AS (SELECT row, col, z0, s, d, k.cr, k.ccol, k.w FROM stg, "
            f"LATERAL (SELECT unnest(["
            f"{{'cr': r0, 'ccol': c0, 'w': (1.0 - tr) * (1.0 - tc)}}, "
            f"{{'cr': r0, 'ccol': c1, 'w': (1.0 - tr) * tc}}, "
            f"{{'cr': r1, 'ccol': c0, 'w': tr * (1.0 - tc)}}, "
            f"{{'cr': r1, 'ccol': c1, 'w': tr * tc}}], recursive := true) ) k), "
            f"zed AS (SELECT crn.row, crn.col, crn.z0, crn.s, crn.d, "
            f"SUM(crn.w * c.value) AS z, COUNT(c.value) AS nc "
            f"FROM crn LEFT JOIN rc c ON crn.cr = c.row AND crn.ccol = c.col "
            f"GROUP BY 1, 2, 3, 4, 5), "
            f"zv AS (SELECT *, (nc = 4 AND z IS NOT NULL) AS valid FROM zed)"
        )
        if mode == "relief":
            core = (
                f"{pre}, ag AS (SELECT row, col, z0, "
                f"SUM(CASE WHEN valid THEN z END) AS zs, "
                f"COUNT(CASE WHEN valid THEN 1 END) AS zc FROM zv GROUP BY 1, 2, 3) "
                f"SELECT rc.row, rc.col, ROUND(COALESCE(CASE WHEN ag.zc > 0 "
                f"THEN ag.zs / CAST(ag.zc AS DOUBLE) - ag.z0 ELSE 0.0 END, 0.0), 6) "
                f"AS value FROM rc LEFT JOIN ag ON rc.row = ag.row AND rc.col = ag.col")
        else:
            def dof(sv):
                return (f"SQRT(({_dl(sr_)} * {sv} * {_dl(ry)}) * ({_dl(sr_)} * {sv} * {_dl(ry)}) "
                        f"+ ({_dl(sc_)} * {sv} * {_dl(rx)}) * ({_dl(sc_)} * {sv} * {_dl(rx)}))")
            core = (
                f"{pre}, ag AS (SELECT row, col, z0, "
                f"MIN(CASE WHEN valid AND z >= z0 + d * {_dl(increment)} THEN s END) AS hs, "
                f"MAX(CASE WHEN valid THEN s END) AS ls FROM zv GROUP BY 1, 2, 3) "
                f"SELECT rc.row, rc.col, COALESCE(CASE WHEN ag.hs IS NOT NULL "
                f"THEN {dof('ag.hs')} WHEN ag.ls IS NOT NULL THEN -{dof('ag.ls')} "
                f"ELSE 0.0 END, 0.0) AS value "
                f"FROM rc LEFT JOIN ag ON rc.row = ag.row AND rc.col = ag.col")
        return core

    ret["directional_relief"] = _ray_sweep_sql(135.0, "relief")
    ret["fetch_analysis"] = _ray_sweep_sql(315.0, "fetch")
    ret["layer_footprint"] = (
        f"WITH pts AS ({_PTS_SQL}) SELECT MIN(x) AS xmin, MIN(y) AS ymin, "
        f"MAX(x) AS xmax, MAX(y) AS ymax FROM pts")
    ret["reinit_attribute_table"] = (
        f"WITH base AS ({_SHAPES_BASE}), "
        f"rs AS (SELECT shape_id, CASE WHEN kind = 0 THEN {_RECT_DUCK} "
        f"ELSE {_DIAM_DUCK} END AS ring FROM base) "
        f"SELECT shape_id, 1 AS n_parts, "
        f"CAST(len(ring) AS INT) AS n_vertices FROM rs")
    ret["rescale_value_range"] = (
        f"WITH {ras_a}, st AS (SELECT MIN(value) AS mn, MAX(value) AS mx "
        f"FROM ras_a) SELECT row, col, CASE WHEN mx > mn THEN 0.0 "
        f"+ (value - mn) / (mx - mn) * (255.0 - 0.0) ELSE value END AS value "
        f"FROM ras_a, st")
    # full workflow: path-max fill -> pointer on filled -> closure accum
    fill_core40 = (
        f"fill(row, col, w) AS ("
        f"SELECT row, col, value FROM rc "
        f"WHERE row = 0 OR col = 0 OR row = 39 OR col = 39 "
        f"UNION "
        f"SELECT n.row, n.col, GREATEST(n.value, f.w) AS w "
        f"FROM fill f JOIN rc n "
        f"ON n.row BETWEEN f.row - 1 AND f.row + 1 "
        f"AND n.col BETWEEN f.col - 1 AND f.col + 1 "
        f"AND NOT (n.row = f.row AND n.col = f.col)), "
        f"f2 AS (SELECT row, col, MIN(w) AS value FROM fill GROUP BY 1, 2)")
    offsW = ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8)
    ) + ", (8, 0, 0)"
    pivotW = (
        f"offsw AS (SELECT * FROM (VALUES {offsW}) o(n, dy, dx)), "
        f"scw AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, o.n AS n, "
        f"a.value AS nv FROM f2 a, offsw o), "
        f"pivw AS (SELECT row, col, {piv_cols} FROM scw GROUP BY 1, 2), "
        f"ptr AS MATERIALIZED (SELECT row, col, "
        f"{HY.d8_pointer_value_expr(_META40C)} AS value "
        f"FROM pivw WHERE zc IS NOT NULL)"
    )
    dirs = ", ".join(f"({1 << i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})"
                     for i in range(8))
    W = 40
    edge_ctes = (
        f"dirs AS (SELECT * FROM (VALUES {dirs}) d(code, dy, dx)), "
        f"e AS MATERIALIZED (SELECT (p.row * {W} + p.col) AS src, "
        f"((p.row + d.dy) * {W} + (p.col + d.dx)) AS dst "
        f"FROM ptr p JOIN dirs d ON d.code = CAST(p.value AS INT) "
        f"WHERE p.value > 0), "
        f"nodes AS MATERIALIZED (SELECT row, col, (row * {W} + col) AS id "
        f"FROM ptr)"
    )
    closure = (
        "reach(src, dst) AS (SELECT id, id FROM nodes UNION "
        "SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)")
    ret["flow_accum_full_workflow"] = (
        f"WITH RECURSIVE rc AS ({_RAS_C_SQL}), {fill_core40}, {pivotW}, "
        f"{edge_ctes}, {closure}, "
        f"acc AS (SELECT dst, CAST(COUNT(*) AS DOUBLE) AS a FROM reach "
        f"GROUP BY 1) "
        f"SELECT n.row, n.col, f2.value AS filled_dem, ptr.value AS pointer, "
        f"acc.a AS accum FROM nodes n "
        f"JOIN f2 ON n.row = f2.row AND n.col = f2.col "
        f"JOIN ptr ON n.row = ptr.row AND n.col = ptr.col "
        f"JOIN acc ON n.id = acc.dst")
    return ret


def _poly_parts_rows() -> list[tuple[int, int, bool, list[tuple[float, float]]]]:
    """(polygon_id, part_idx, is_hole, ring) rows of the fixed _POLYS
    layer, in _polygons_df's part order (shells first, then holes)."""
    out = []
    for pid, shells, holes in _POLYS:
        idx = 0
        for is_hole, rings in ((False, shells), (True, holes)):
            for ring in rings:
                out.append((pid, idx, is_hole, ring))
                idx += 1
    return out


# 4-vertex hulls (CCW from the lexicographically smallest vertex — the
# monotone-chain output order) of the rect/diamond shapes, duck dialect.
_RECT_HULL_DUCK = ("[{'x': cx - hw, 'y': cy - hh}, {'x': cx + hw, 'y': cy - hh}, "
                   "{'x': cx + hw, 'y': cy + hh}, {'x': cx - hw, 'y': cy + hh}]")
_DIAM_HULL_DUCK = ("[{'x': cx - hw, 'y': cy}, {'x': cx, 'y': cy - hh}, "
                   "{'x': cx + hw, 'y': cy}, {'x': cx, 'y': cy + hh}]")


def _r5_oracles() -> dict[str, str]:
    """Round-5 oracles for the formerly rows-only vector/codec queries:
    closed-form ring algebra over the rect/diamond layer and the fixed
    _POLYS literals, plus identity oracles for the LAS/zLidar
    round-trips (the codecs quantize at 0.01 — re-derived in SQL)."""
    ret: dict[str, str] = {}

    # ---- convex_hull: hull of a rect/diamond is its 4 distinct
    # vertices, CCW from the lexicographic minimum.
    ret["convex_hull"] = (
        f"WITH base AS ({_SHAPES_BASE}), v AS (SELECT shape_id, "
        f"CASE WHEN kind = 0 THEN {_RECT_HULL_DUCK} ELSE {_DIAM_HULL_DUCK} END AS hull "
        f"FROM base) "
        f"SELECT shape_id, CAST(gs.i - 1 AS BIGINT) AS vertex_idx, "
        f"hull[gs.i].x AS x, hull[gs.i].y AS y FROM v, generate_series(1, 4) gs(i)"
    )

    # ---- merge_line_segments over CLOSED rings: both endnodes of each
    # feature coincide, so every endnode cluster holds an even number of
    # ends per feature (deg 2 only when a feature is alone in its cell);
    # the degree-2 line graph has no a<b edges and every chain is the
    # feature's own ring, emitted verbatim.
    ret["merge_line_segments"] = (
        f"WITH base AS ({_SHAPES_BASE}), r AS (SELECT shape_id, "
        f"CASE WHEN kind = 0 THEN {_RECT_DUCK} ELSE {_DIAM_DUCK} END AS ring FROM base) "
        f"SELECT shape_id, CAST(gs.i - 1 AS INT) AS vertex_idx, "
        f"ring[gs.i].x AS x, ring[gs.i].y AS y FROM r, generate_series(1, 5) gs(i)"
    )

    # ---- snap_endnodes(5.0): each endnode takes the coordinates of the
    # min-shape_id endnode within the radius (the MIN_BY canonical
    # member); rings are closed so both ends snap identically and the
    # 3 interior vertices pass through unchanged.
    ret["snap_endnodes"] = (
        f"WITH base AS ({_SHAPES_BASE}), "
        f"s AS (SELECT shape_id, kind, cx, cy, hw, hh, "
        f"CASE WHEN kind = 0 THEN cx - hw ELSE cx END AS ex, cy - hh AS ey FROM base), "
        f"sn AS (SELECT a.shape_id, arg_min(b.ex, b.shape_id) AS sx, "
        f"arg_min(b.ey, b.shape_id) AS sy FROM s a JOIN s b "
        f"ON (a.ex - b.ex) * (a.ex - b.ex) + (a.ey - b.ey) * (a.ey - b.ey) <= 25.0 "
        f"GROUP BY a.shape_id), "
        f"r AS (SELECT s.shape_id, CASE WHEN kind = 0 THEN "
        f"[{{'x': sx, 'y': sy}}, {{'x': cx + hw, 'y': cy - hh}}, "
        f"{{'x': cx + hw, 'y': cy + hh}}, {{'x': cx - hw, 'y': cy + hh}}, "
        f"{{'x': sx, 'y': sy}}] ELSE "
        f"[{{'x': sx, 'y': sy}}, {{'x': cx + hw, 'y': cy}}, "
        f"{{'x': cx, 'y': cy + hh}}, {{'x': cx - hw, 'y': cy}}, "
        f"{{'x': sx, 'y': sy}}] END AS ring FROM s JOIN sn USING (shape_id)) "
        f"SELECT shape_id, CAST(0 AS INT) AS part_idx, CAST(gs.i - 1 AS INT) AS node_idx, "
        f"ring[gs.i].x AS x, ring[gs.i].y AS y FROM r, generate_series(1, 5) gs(i)"
    )

    # ---- clean_vector: no part of the fixed _POLYS layer is degenerate,
    # so the output is the constant flattened node list.
    node_rows = ", ".join(
        f"({pid}, {part_idx}, {ni}, {x!r}, {y!r})"
        for pid, part_idx, _h, ring in _poly_parts_rows()
        for ni, (x, y) in enumerate(ring))
    ret["clean_vector"] = (
        f"SELECT CAST(s AS BIGINT) AS shape_id, CAST(p AS INT) AS part_idx, "
        f"CAST(n AS INT) AS node_idx, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y "
        f"FROM (VALUES {node_rows}) t(s, p, n, x, y)"
    )

    # ---- sci_vector: SCI = 1 - A/Ah with integer-lattice coordinates,
    # so every shoelace sum is float-exact in any fold order. Computed
    # in SQL from the literal rings (shells add, holes subtract; hull
    # area of the convex shells equals their own shoelace area).
    shoelace_rows = []
    for pid, _part_idx, is_hole, ring in _poly_parts_rows():
        s = sum(ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
                for i in range(len(ring) - 1))
        shoelace_rows.append((pid, abs(s) / 2.0, is_hole))
    sci_rows = ", ".join(
        f"({pid}, {a!r}, {h})" for pid, a, h in shoelace_rows)
    ret["sci_vector"] = (
        f"WITH p AS (SELECT * FROM (VALUES {sci_rows}) t(pid, a, is_hole)), "
        f"f AS (SELECT pid, SUM(CASE WHEN is_hole THEN -a ELSE a END) AS area, "
        f"SUM(CASE WHEN is_hole THEN 0.0 ELSE a END) AS hull_area FROM p GROUP BY pid) "
        f"SELECT CAST(pid AS BIGINT) AS shape_id, "
        f"CASE WHEN hull_area > 0.0 THEN 1.0 - area / hull_area ELSE 0.0 END AS complexity "
        f"FROM f"
    )

    # ---- intersect_features: convex rect/diamond vs the convex shells
    # of _POLYS — pair inclusion via the separating-axis theorem (strict
    # projection overlap on every edge normal of both polygons; exact
    # boundary contact is impossible on the fixture lattice: shape edge
    # abscissae are ≡ 5 (mod 10) in 1/1000 units, polygon edges are
    # integers). Single-part inputs -> n_parts = 1.
    def _normals(ring):
        ns = []
        for i in range(len(ring) - 1):
            dx = ring[i + 1][0] - ring[i][0]
            dy = ring[i + 1][1] - ring[i][1]
            ns.append((-dy, dx))
        return ns

    clip_axes, clip_verts = [], []
    for pid, part_idx, is_hole, ring in _poly_parts_rows():
        if is_hole or part_idx != 0:
            continue  # the kernel clips by the first shell only
        for ax, ay in _normals(ring):
            clip_axes.append(f"({pid}, {float(ax)!r}, {float(ay)!r})")
        for x, y in ring[:-1]:
            clip_verts.append(f"({pid}, {x!r}, {y!r})")
    sat_ctes = (
        f"base AS ({_SHAPES_BASE}), "
        f"va AS (SELECT shape_id, unnest(CASE WHEN kind = 0 THEN {_RECT_HULL_DUCK} "
        f"ELSE {_DIAM_HULL_DUCK} END) AS v FROM base), "
        f"vb AS (SELECT * FROM (VALUES {', '.join(clip_verts)}) t(clip_id, x, y)), "
        f"axb AS (SELECT * FROM (VALUES {', '.join(clip_axes)}) t(clip_id, ax, ay)), "
        f"axa AS (SELECT shape_id, unnest(CASE WHEN kind = 0 THEN "
        f"[{{'ax': 1.0, 'ay': 0.0}}, {{'ax': 0.0, 'ay': 1.0}}] ELSE "
        f"[{{'ax': hh, 'ay': hw}}, {{'ax': hh, 'ay': -hw}}] END) AS a FROM base), "
        f"ax AS (SELECT s.shape_id, c.clip_id, a.a.ax AS ax, a.a.ay AS ay "
        f"FROM base s, (SELECT DISTINCT clip_id FROM vb) c, axa a WHERE a.shape_id = s.shape_id "
        f"UNION SELECT s.shape_id, b.clip_id, b.ax, b.ay FROM base s, axb b), "
        f"pa AS (SELECT x.shape_id, x.clip_id, x.ax, x.ay, "
        f"MIN(v.v.x * x.ax + v.v.y * x.ay) AS amn, MAX(v.v.x * x.ax + v.v.y * x.ay) AS amx "
        f"FROM ax x JOIN va v USING (shape_id) GROUP BY ALL), "
        f"pb AS (SELECT x.shape_id, x.clip_id, x.ax, x.ay, "
        f"MIN(w.x * x.ax + w.y * x.ay) AS bmn, MAX(w.x * x.ax + w.y * x.ay) AS bmx "
        f"FROM ax x JOIN vb w USING (clip_id) GROUP BY ALL), "
        f"ok AS (SELECT pa.shape_id, pa.clip_id, "
        f"BOOL_AND(LEAST(amx, bmx) > GREATEST(amn, bmn)) AS hit "
        f"FROM pa JOIN pb ON pa.shape_id = pb.shape_id AND pa.clip_id = pb.clip_id "
        f"AND pa.ax = pb.ax AND pa.ay = pb.ay GROUP BY 1, 2)"
    )
    ret["intersect_features"] = (
        f"WITH {sat_ctes} "
        f"SELECT shape_id, CAST(clip_id AS BIGINT) AS clip_id, CAST(1 AS INT) AS n_parts "
        f"FROM ok WHERE hit"
    )

    # ---- difference_features: full replay of the convex half-plane
    # cascade (difference_ring_convex). Pair inclusion is the SAT block
    # above (the operator takes its pairs from intersect_features); the
    # Sutherland-Hodgman passes run as DuckDB list lambdas over the
    # 4-vertex subject ring with the clip's literal edges — same val/ix
    # doubles as the Python kernel (cross-validated on partial overlap,
    # containment both ways, diamond/triangle, and CW-clip sign flip).
    # n_parts = count of outside pieces with >= 3 open vertices; pairs
    # whose subject vanishes keep emitting empty pieces (the kernel's
    # early break changes nothing); untouched shapes emit clip_id -1.
    def _dv(px, py):
        return (f"(sgn * ((ex2 - ex1) * (({py}) - ey1) "
                f"- (({px}) - ex1) * (ey2 - ey1)))")

    def _dix(px, py, qx, qy):
        dsx, dsy = f"(({qx}) - ({px}))", f"(({qy}) - ({py}))"
        den = f"((ex2 - ex1) * {dsy} - (ey2 - ey1) * {dsx})"
        t = (f"(((ex2 - ex1) * (ey1 - ({py})) "
             f"- (ey2 - ey1) * (ex1 - ({px}))) / {den})")
        return f"{{'x': ({px}) + {t} * {dsx}, 'y': ({py}) + {t} * {dsy}}}"

    def _dsh(cur, cmp_in):
        pv = f"{cur}[CASE WHEN k = 1 THEN LEN({cur}) ELSE k - 1 END]"
        cu = f"{cur}[k]"
        cin = f"({_dv(f'{cu}.x', f'{cu}.y')} {cmp_in} 0.0)"
        pin = f"({_dv(f'{pv}.x', f'{pv}.y')} {cmp_in} 0.0)"
        ix = _dix(f"{pv}.x", f"{pv}.y", f"{cu}.x", f"{cu}.y")
        return (f"FLATTEN(LIST_TRANSFORM(RANGE(1, LEN({cur}) + 1), k -> "
                f"CASE WHEN {cin} AND NOT {pin} THEN [{ix}, {cu}] "
                f"WHEN {cin} THEN [{cu}] WHEN {pin} THEN [{ix}] "
                f"ELSE []::STRUCT(x DOUBLE, y DOUBLE)[] END))")

    diff_eds, max_ce = [], 0
    for pid, part_idx, is_hole, ring in _poly_parts_rows():
        if is_hole or part_idx != 0:
            continue  # the kernel erases by the first shell only
        c = ring[:-1] if ring[0] == ring[-1] else list(ring)
        area2 = sum(c[i][0] * c[(i + 1) % len(c)][1]
                    - c[(i + 1) % len(c)][0] * c[i][1] for i in range(len(c)))
        sgn = 1.0 if area2 > 0 else -1.0
        max_ce = max(max_ce, len(c))
        for i in range(len(c)):
            (ex1, ey1), (ex2, ey2) = c[i], c[(i + 1) % len(c)]
            diff_eds.append(
                f"({pid}, {i}, {ex1!r}, {ey1!r}, {ex2!r}, {ey2!r}, {sgn!r})")
    # open subject rings in the Spark _RECT_SPARK/_DIAM_SPARK vertex order
    rect_open = ("[{'x': cx - hw, 'y': cy - hh}, {'x': cx + hw, 'y': cy - hh}, "
                 "{'x': cx + hw, 'y': cy + hh}, {'x': cx - hw, 'y': cy + hh}]")
    diam_open = ("[{'x': cx, 'y': cy - hh}, {'x': cx + hw, 'y': cy}, "
                 "{'x': cx, 'y': cy + hh}, {'x': cx - hw, 'y': cy}]")
    dparts = [
        f"deds AS (SELECT * FROM (VALUES {', '.join(diff_eds)}) "
        f"t(clip_id, i, ex1, ey1, ex2, ey2, sgn))",
        f"dd0 AS (SELECT b.shape_id, o.clip_id, 0 AS np, "
        f"(CASE WHEN b.kind = 0 THEN {rect_open} ELSE {diam_open} END)"
        f"::STRUCT(x DOUBLE, y DOUBLE)[] AS cur "
        f"FROM base b JOIN ok o ON o.shape_id = b.shape_id WHERE o.hit)",
    ]
    for i in range(max_ce):
        dparts.append(
            f"de{i} AS (SELECT p.*, e.ex1, e.ey1, e.ex2, e.ey2, e.sgn "
            f"FROM dd{i} p LEFT JOIN deds e "
            f"ON e.clip_id = p.clip_id AND e.i = {i})")
        dparts.append(
            f"dd{i + 1} AS (SELECT shape_id, clip_id, "
            f"np + (CASE WHEN ex1 IS NULL THEN 0 "
            f"WHEN LEN({_dsh('cur', '<=')}) >= 3 THEN 1 ELSE 0 END) AS np, "
            f"CASE WHEN ex1 IS NULL THEN cur ELSE {_dsh('cur', '>=')} END AS cur "
            f"FROM de{i})")
    ret["difference_features"] = (
        f"WITH {sat_ctes}, " + ", ".join(dparts)
        + f" SELECT shape_id, CAST(clip_id AS BIGINT) AS clip_id, "
        f"CAST(np AS INT) AS n_parts FROM dd{max_ce} WHERE np >= 1 "
        f"UNION ALL SELECT b.shape_id, CAST(-1 AS BIGINT) AS clip_id, "
        f"CAST(1 AS INT) AS n_parts FROM base b "
        f"WHERE NOT EXISTS (SELECT 1 FROM ok o "
        f"WHERE o.shape_id = b.shape_id AND o.hit)"
    )

    # ---- split_with_lines: transcription of the pure-SQL Spark plan —
    # same intersection arithmetic (t = tn/den, ix = ax1 + t*dx), same
    # (t, ix, iy) cut ordering, same piece/vertex window counters.
    seg_rows = ", ".join(
        f"({x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for _pid, _part_idx, _h, ring in _poly_parts_rows()
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]))
    ret["split_with_lines"] = (
        f"WITH base AS ({_SHAPES_BASE}), "
        f"rng AS (SELECT shape_id, CASE WHEN kind = 0 THEN {_RECT_DUCK} "
        f"ELSE {_DIAM_DUCK} END AS ring FROM base), "
        f"segs AS (SELECT shape_id, CAST(gs.i - 1 AS BIGINT) AS seg_idx, "
        f"ring[gs.i].x AS ax1, ring[gs.i].y AS ay1, "
        f"ring[gs.i + 1].x AS ax2, ring[gs.i + 1].y AS ay2 "
        f"FROM rng, generate_series(1, 4) gs(i)), "
        f"ss AS (SELECT * FROM (VALUES {seg_rows}) t(bx1, by1, bx2, by2)), "
        f"raw AS (SELECT s.*, "
        f"((ss.bx1 - s.ax1) * (ss.by2 - ss.by1) - (ss.by1 - s.ay1) * (ss.bx2 - ss.bx1)) AS tn, "
        f"((ss.bx1 - s.ax1) * (s.ay2 - s.ay1) - (ss.by1 - s.ay1) * (s.ax2 - s.ax1)) AS un, "
        f"((s.ax2 - s.ax1) * (ss.by2 - ss.by1) - (s.ay2 - s.ay1) * (ss.bx2 - ss.bx1)) AS den "
        f"FROM segs s, ss), "
        f"tu AS (SELECT shape_id, seg_idx, ax1, ay1, ax2, ay2, "
        f"tn / den AS t, un / den AS u FROM raw WHERE den <> 0.0), "
        f"cuts AS (SELECT shape_id, seg_idx, t, ax1 + t * (ax2 - ax1) AS ix, "
        f"ay1 + t * (ay2 - ay1) AS iy FROM tu "
        f"WHERE t >= 0.0 AND t <= 1.0 AND u >= 0.0 AND u <= 1.0 AND t > 0.0 AND t < 1.0), "
        f"chain AS (SELECT shape_id, seg_idx, 0.0 AS t, ax1 AS ix, ay1 AS iy FROM segs "
        f"UNION ALL SELECT shape_id, seg_idx, t, ix, iy FROM cuts "
        f"UNION ALL SELECT shape_id, seg_idx, 1.0, ax2, ay2 FROM segs), "
        f"ord AS (SELECT shape_id, seg_idx, ix, iy, ROW_NUMBER() OVER "
        f"(PARTITION BY shape_id, seg_idx ORDER BY t, ix, iy) - 1 AS pord FROM chain), "
        f"sub AS (SELECT shape_id, seg_idx, pord AS cut_i, ix AS x1, iy AS y1, "
        f"LEAD(ix) OVER w AS x2, LEAD(iy) OVER w AS y2 FROM ord "
        f"WINDOW w AS (PARTITION BY shape_id, seg_idx ORDER BY pord)), "
        f"sub2 AS (SELECT * FROM sub WHERE x2 IS NOT NULL AND NOT (x1 = x2 AND y1 = y2)), "
        f"pieces AS (SELECT *, CAST(SUM(CASE WHEN cut_i > 0 THEN 1 ELSE 0 END) OVER "
        f"(PARTITION BY shape_id ORDER BY seg_idx, cut_i "
        f"ROWS UNBOUNDED PRECEDING) AS BIGINT) AS piece_idx FROM sub2), "
        f"rn AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY shape_id, piece_idx "
        f"ORDER BY seg_idx, cut_i) AS rn FROM pieces), "
        f"verts AS (SELECT shape_id, piece_idx, 0 AS sub_idx, x1 AS x, y1 AS y, "
        f"seg_idx, cut_i FROM rn WHERE rn = 1 "
        f"UNION ALL SELECT shape_id, piece_idx, rn AS sub_idx, x2, y2, seg_idx, cut_i FROM rn) "
        f"SELECT shape_id, CAST(0 AS INT) AS part_idx, piece_idx, "
        f"CAST(ROW_NUMBER() OVER (PARTITION BY shape_id, piece_idx "
        f"ORDER BY sub_idx, seg_idx, cut_i) - 1 AS INT) AS vertex_idx, x, y FROM verts"
    )

    # ---- LAS / zLidar round-trips: identity oracles. Coordinates are
    # pre-floored to k/100 in the queries; the codecs store
    # round(x/0.01) = k and decode k*0.01, and ROUND(·, 2) maps both
    # k*0.01 and FLOOR(x*100)/100 to the double nearest k/100.
    las_src = (
        f"WITH src AS (SELECT event_id AS rn, {_PX} AS x, {_PY} AS y "
        f"FROM events WHERE event_id % 37 = 0)"
    )
    ret["las_ascii_roundtrip"] = (
        f"{las_src} SELECT CAST(ROW_NUMBER() OVER (ORDER BY rn) - 1 AS BIGINT) AS point_id, "
        f"ROUND(FLOOR(x * 100) / 100.0, 2) AS x, ROUND(FLOOR(y * 100) / 100.0, 2) AS y, "
        f"ROUND(CAST(rn % 1000 AS DOUBLE), 2) AS z, "
        f"CAST(rn % 256 AS INT) AS intensity, "
        f"CAST(rn % 8 AS INT) AS classification, "
        f"CAST(rn % (rn % 3 + 1) + 1 AS INT) AS return_number, "
        f"CAST(rn % 3 + 1 AS INT) AS num_returns, "
        f"CAST(rn % 30 - 15 AS INT) AS scan_angle FROM src"
    )
    zl_src = (
        f"WITH src AS (SELECT event_id AS rn, {_PX} AS x, {_PY} AS y "
        f"FROM events ORDER BY event_id LIMIT 2000)"
    )
    ret["zlidar_roundtrip"] = (
        f"{zl_src} SELECT CAST(ROW_NUMBER() OVER (ORDER BY rn) - 1 AS BIGINT) AS point_id, "
        f"ROUND(FLOOR(x * 100) / 100.0, 2) AS x, ROUND(FLOOR(y * 100) / 100.0, 2) AS y, "
        f"ROUND(CAST(rn % 1000 AS DOUBLE), 2) AS z, "
        f"CAST(rn % 8 AS INT) AS classification, "
        f"CAST(rn % 3 + 1 AS INT) AS return_number, "
        f"CAST(rn % 30 - 15 AS INT) AS scan_angle, "
        f"ROUND(1000.0 + rn * 1e-3, 3) AS gps_time FROM src"
    )
    return ret


def _dinf_dir_cascade(meta) -> str:
    """The unrounded D-inf direction value (degrees, -1 for pits) as one
    DuckDB expression over zn_0..zn_7/zc — hydro._dinf_dir_expr's facet
    fold restated as a last-wins max cascade (the fold's `e.s >= acc.s`
    makes later facets win ties, so the winner is the HIGHEST facet
    index attaining the max eligible s)."""
    import math as _md

    grid_res = (meta.resolution_x + meta.resolution_y) / 2.0
    diag = _md.sqrt(meta.resolution_x ** 2 + meta.resolution_y ** 2)
    atan1 = _md.atan(1.0)
    hp = _md.pi / 2.0
    s_exprs, d_exprs = [], []
    for i in range(8):
        e1 = f"zn_{HY._DINF_E1_IDX[i]}"
        e2 = f"zn_{HY._DINF_E2_IDX[i]}"
        ac, af = HY._DINF_AC[i], HY._DINF_AF[i]
        s1 = f"((zc - {e1}) / {grid_res!r})"
        s2 = f"(({e1} - {e2}) / {grid_res!r})"
        r0 = f"CASE WHEN {s1} <> 0.0 THEN ATAN({s2} / {s1}) ELSE {hp!r} END"
        smag = f"SQRT({s1} * {s1} + {s2} * {s2})"
        ssgn = (f"(CASE WHEN ({s1} < 0.0 AND {s2} < 0.0) OR ({s1} < 0.0 AND {s2} = 0.0) "
                f"OR ({s1} = 0.0 AND {s2} < 0.0) THEN -({smag}) ELSE {smag} END)")
        r_cl = (f"CASE WHEN ({r0}) < 0.0 THEN 0.0 "
                f"WHEN ({r0}) > {atan1!r} THEN {atan1!r} ELSE ({r0}) END")
        s_cl = (f"CASE WHEN ({r0}) < 0.0 THEN {s1} "
                f"WHEN ({r0}) > {atan1!r} THEN ((zc - {e2}) / {diag!r}) ELSE ({ssgn}) END")
        s_exprs.append(
            f"CASE WHEN {e1} IS NOT NULL AND {e2} IS NOT NULL THEN "
            f"(CASE WHEN zc > {e1} AND zc > {e2} THEN ({s_cl}) "
            f"WHEN zc > {e1} THEN (zc - {e1}) / {grid_res!r} "
            f"WHEN zc > {e2} THEN (zc - {e2}) / {diag!r} ELSE NULL END) "
            f"ELSE NULL END")
        d_exprs.append(
            f"CASE WHEN {e1} IS NOT NULL AND {e2} IS NOT NULL THEN "
            f"(CASE WHEN zc > {e1} AND zc > {e2} THEN "
            f"{af!r} * ({r_cl}) + {ac!r} * {hp!r} "
            f"WHEN zc > {e1} THEN {af!r} * 0.0 + {ac!r} * {hp!r} "
            f"WHEN zc > {e2} THEN {af!r} * {atan1!r} + {ac!r} * {hp!r} "
            f"ELSE NULL END) ELSE NULL END")
    # CTE pipeline (fs -> fe -> w -> dir) keeps the cascade's SQL size
    # linear; caller splices these after a pivot CTE exposing
    # (row, col, zn_0..zn_7, zc) named `{src}`.
    fs = ", ".join(f"{s_exprs[i]} AS s_{i}" for i in range(8)) + ", " + \
         ", ".join(f"{d_exprs[i]} AS d_{i}" for i in range(8))
    fe = ", ".join(
        f"CASE WHEN s_{i} IS NOT NULL AND s_{i} <> 0.00001 THEN s_{i} "
        f"ELSE CAST('-Infinity' AS DOUBLE) END AS c_{i}" for i in range(8))
    ms = "GREATEST(" + ", ".join(f"c_{i}" for i in range(8)) + ")"
    windir = ("CASE " + " ".join(
        f"WHEN c_{i} = ({ms}) THEN d_{i}" for i in range(7, -1, -1)) + " END")
    return {
        "fs": fs, "fe": fe, "ms": ms, "windir": windir,
        "value": ("CASE WHEN ms > 0.0 THEN "
                  "(CASE WHEN 360.0 - DEGREES(wd) + 90.0 > 360.0 "
                  "THEN 360.0 - DEGREES(wd) + 90.0 - 360.0 "
                  "ELSE 360.0 - DEGREES(wd) + 90.0 END) ELSE -1.0 END"),
    }


def _dinf_dir_ctes(meta, tag: str, src: str) -> str:
    """CTE chain computing the D-inf direction per cell from a pivot CTE
    `src` (row, col, zn_0..zn_7, zc): exposes {tag}dir(row, col, dirv)."""
    p = _dinf_dir_cascade(meta)
    return (
        f"{tag}fs AS (SELECT row, col, {p['fs']} FROM {src}), "
        f"{tag}fe AS (SELECT row, col, {p['fe']}, "
        + ", ".join(f"d_{i}" for i in range(8))
        + f" FROM {tag}fs), "
        f"{tag}w AS (SELECT row, col, {p['ms']} AS ms, {p['windir']} AS wd "
        f"FROM {tag}fe), "
        f"{tag}dir AS MATERIALIZED (SELECT row, col, {p['value']} AS dirv "
        f"FROM {tag}w)")


def _dinf_oracle_sql() -> str:
    """dinf_pointer oracle: hydro._dinf_dir_expr's facet fold restated
    as columns s_i/d_i + a last-wins max cascade (the fold's
    `e.s >= acc.s` makes later facets win ties, so the winner is the
    HIGHEST facet index attaining the max eligible s). Same arithmetic
    texts; ROUND(6) absorbs ATAN/DEGREES libm ulps."""
    import math as _md

    grid_res = (_META100.resolution_x + _META100.resolution_y) / 2.0
    diag = _md.sqrt(_META100.resolution_x ** 2 + _META100.resolution_y ** 2)
    atan1 = _md.atan(1.0)
    hp = _md.pi / 2.0
    s_cols, d_cols = [], []
    for i in range(8):
        e1 = f"zn_{HY._DINF_E1_IDX[i]}"
        e2 = f"zn_{HY._DINF_E2_IDX[i]}"
        ac, af = HY._DINF_AC[i], HY._DINF_AF[i]
        s1 = f"((zc - {e1}) / {grid_res!r})"
        s2 = f"(({e1} - {e2}) / {grid_res!r})"
        r0 = f"CASE WHEN {s1} <> 0.0 THEN ATAN({s2} / {s1}) ELSE {hp!r} END"
        smag = f"SQRT({s1} * {s1} + {s2} * {s2})"
        ssgn = (f"(CASE WHEN ({s1} < 0.0 AND {s2} < 0.0) OR ({s1} < 0.0 AND {s2} = 0.0) "
                f"OR ({s1} = 0.0 AND {s2} < 0.0) THEN -({smag}) ELSE {smag} END)")
        r_cl = (f"CASE WHEN ({r0}) < 0.0 THEN 0.0 "
                f"WHEN ({r0}) > {atan1!r} THEN {atan1!r} ELSE ({r0}) END")
        s_cl = (f"CASE WHEN ({r0}) < 0.0 THEN {s1} "
                f"WHEN ({r0}) > {atan1!r} THEN ((zc - {e2}) / {diag!r}) ELSE ({ssgn}) END")
        s_cols.append(
            f"CASE WHEN {e1} IS NOT NULL AND {e2} IS NOT NULL THEN "
            f"(CASE WHEN zc > {e1} AND zc > {e2} THEN ({s_cl}) "
            f"WHEN zc > {e1} THEN (zc - {e1}) / {grid_res!r} "
            f"WHEN zc > {e2} THEN (zc - {e2}) / {diag!r} ELSE NULL END) "
            f"ELSE NULL END AS s_{i}")
        d_cols.append(
            f"CASE WHEN {e1} IS NOT NULL AND {e2} IS NOT NULL THEN "
            f"(CASE WHEN zc > {e1} AND zc > {e2} THEN "
            f"{af!r} * ({r_cl}) + {ac!r} * {hp!r} "
            f"WHEN zc > {e1} THEN {af!r} * 0.0 + {ac!r} * {hp!r} "
            f"WHEN zc > {e2} THEN {af!r} * {atan1!r} + {ac!r} * {hp!r} "
            f"ELSE NULL END) ELSE NULL END AS d_{i}")
    elig = ", ".join(
        f"CASE WHEN s_{i} IS NOT NULL AND s_{i} <> 0.00001 THEN s_{i} "
        f"ELSE CAST('-Infinity' AS DOUBLE) END AS c_{i}" for i in range(8))
    ms = "GREATEST(" + ", ".join(f"c_{i}" for i in range(8)) + ")"
    windir = ("CASE " + " ".join(
        f"WHEN c_{i} = ({ms}) THEN d_{i}" for i in range(7, -1, -1)) + " END")
    offs_d8 = ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
    znk = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8))
    return (
        f"WITH ras_a AS ({_RAS_A_SQL}), "
        f"dofs AS (SELECT * FROM (VALUES {offs_d8}) o(n, dy, dx)), "
        f"dsc AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, "
        f"o.n AS n, a.value AS nv FROM ras_a a, dofs o "
        f"UNION ALL SELECT row, col, 8, value FROM ras_a), "
        f"dpiv AS (SELECT row, col, {znk}, "
        f"MAX(CASE WHEN n = 8 THEN nv END) AS zc FROM dsc GROUP BY 1, 2), "
        f"dz AS (SELECT * FROM dpiv WHERE zc IS NOT NULL), "
        f"fs AS (SELECT row, col, " + ", ".join(s_cols) + ", "
        + ", ".join(d_cols) + " FROM dz), "
        f"fe AS (SELECT row, col, {elig}, "
        + ", ".join(f"d_{i}" for i in range(8)) + " FROM fs), "
        f"w AS (SELECT row, col, {ms} AS ms, {windir} AS wd FROM fe) "
        f"SELECT row, col, ROUND(CASE WHEN ms > 0.0 THEN "
        f"(CASE WHEN 360.0 - DEGREES(wd) + 90.0 > 360.0 "
        f"THEN 360.0 - DEGREES(wd) + 90.0 - 360.0 "
        f"ELSE 360.0 - DEGREES(wd) + 90.0 END) ELSE -1.0 END, 6) AS value "
        f"FROM w"
    )


def _mfd_oracles() -> dict[str, str]:
    """Round-5 oracles for the multiple-flow-direction accumulation
    family (fd8/qin/quinn/mdinf/dinf + upslope storage + dinf mass
    flux): the Spark side computes acc via S/Q path-weight doubling;
    the fixpoint equals the Jacobi recurrence acc(v) = 1 + sum_in
    w * acc(u) after DAG-depth rounds (probed depth <= 41; 64 rounds
    unrolled). Weight texts are the operators' own portable SQL; the
    engines' differing SUM association and POWER/ATAN libm ulps are
    absorbed by ROUND(6) on the output."""
    import math as _mm

    ret: dict[str, str] = {}
    meta24 = GridMeta(rows=24, columns=24, north=1000.0, south=760.0,
                      east=240.0, west=0.0, resolution_x=10.0,
                      resolution_y=10.0)
    d8_offs = ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
    zn8 = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8))

    def _piv(tag: str, src: str) -> str:
        return (
            f"{tag}o8 AS (SELECT * FROM (VALUES {d8_offs}) o(n, dy, dx)), "
            f"{tag}sc AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, "
            f"o.n AS n, a.value AS nv FROM {src} a, {tag}o8 o "
            f"UNION ALL SELECT row, col, 8, value FROM {src}), "
            f"{tag}pv AS (SELECT row, col, {zn8}, "
            f"MAX(CASE WHEN n = 8 THEN nv END) AS zc FROM {tag}sc GROUP BY 1, 2), "
            f"{tag}zk AS (SELECT * FROM {tag}pv WHERE zc IS NOT NULL)")

    def _mfd_edges(tag: str, W: int, ws: list[str], pivzk: str,
                   nodes: str) -> str:
        total = "(" + " + ".join(ws) + ")"
        elems = ", ".join(
            f"{{'dst': (row + ({HY.D8_DY[i]})) * {W} + (col + ({HY.D8_DX[i]})), "
            f"'w': ({ws[i]}) / {total}}}"
            for i in range(8))
        return (
            f"{tag}ex AS (SELECT (row * {W} + col) AS src, "
            f"unnest([{elems}]) AS e FROM {pivzk} WHERE {total} > 0.0), "
            f"{tag}we AS MATERIALIZED (SELECT x.src, (x.e).dst AS dst, "
            f"(x.e).w AS w FROM {tag}ex x "
            f"JOIN {nodes} n ON (x.e).dst = n.id WHERE (x.e).w > 0.0)")

    def _jacobi(tag: str, we: str, nodes: str, rounds: int = 64) -> str:
        p = [f"{tag}a0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE) AS f "
             f"FROM {nodes})"]
        for k in range(1, rounds + 1):
            prev = f"{tag}a{k - 1}"
            p.append(
                f"{tag}i{k} AS (SELECT e.dst, SUM(e.w * p.f) AS s "
                f"FROM {prev} p JOIN {we} e ON p.id = e.src GROUP BY 1), "
                f"{tag}a{k} AS MATERIALIZED (SELECT n.id, "
                f"1.0 + COALESCE(i.s, 0.0) AS f FROM {nodes} n "
                f"LEFT JOIN {tag}i{k} i ON n.id = i.dst)")
        return ", ".join(p)

    rc40 = f"rc AS ({_RAS_C_SQL})"
    a24 = (f"a24 AS (SELECT * FROM (SELECT (event_id % 100) AS row, "
           f"(CAST(FLOOR(event_id / 100) AS BIGINT) % 100) AS col, "
           f"CAST(MAX(event_id) % 1000 AS DOUBLE) AS value "
           f"FROM events GROUP BY 1, 2) WHERE row < 24 AND col < 24)")
    n40 = "nds AS (SELECT (row * 40 + col) AS id, row, col FROM rc)"
    n24 = "nds AS (SELECT (row * 24 + col) AS id, row, col FROM a24)"
    fin = (" SELECT n.row, n.col, ROUND(a.f, 6) AS value "
           "FROM {last} a JOIN nds n ON a.id = n.id")

    # fd8 (24x24 ras_a sub, exponent 1.1)
    l24 = HY._grid_lengths(meta24)
    fd8_ws = [
        f"CASE WHEN zn_{i} IS NOT NULL AND zn_{i} < zc "
        f"THEN POWER((zc - zn_{i}) / {l24[i]!r}, 1.1) ELSE 0.0 END"
        for i in range(8)]
    ret["fd8_accum"] = (
        f"WITH {a24}, {n24}, " + _piv("f8", "a24") + ", "
        + _mfd_edges("f8", 24, fd8_ws, "f8zk", "nds") + ", "
        + _jacobi("f8", "f8we", "nds")
        + fin.format(last="f8a64")
    )

    # qin (40x40C, exponent 10, max_slope 45)
    l40 = HY._grid_lengths(_META40C)
    cl40 = HY._contour_lengths(_META40C)
    eu = _mm.tan(_mm.radians(45.0))
    q_tans = [
        f"CASE WHEN zn_{i} IS NOT NULL AND zn_{i} < zc "
        f"THEN (zc - zn_{i}) / {l40[i]!r} ELSE 0.0 END"
        for i in range(8)]
    q_emax = "GREATEST(" + ", ".join(q_tans) + ")"
    q_fe = f"(LEAST({q_emax}, {eu!r}) / {eu!r} * ({10.0!r} - 1.1) + 1.1)"
    qin_ws = [f"CASE WHEN ({q_tans[i]}) > 0.0 "
              f"THEN {cl40[i]!r} * POWER({q_tans[i]}, {q_fe}) ELSE 0.0 END"
              for i in range(8)]
    ret["qin_accum"] = (
        f"WITH {rc40}, {n40}, " + _piv("qn", "rc") + ", "
        + _mfd_edges("qn", 40, qin_ws, "qnzk", "nds") + ", "
        + _jacobi("qn", "qnwe", "nds")
        + fin.format(last="qna64")
    )

    # quinn (40x40C, exponent 1.0)
    quinn_ws = [
        f"CASE WHEN zn_{i} IS NOT NULL AND zn_{i} < zc "
        f"THEN {cl40[i]!r} * POWER((zc - zn_{i}) / {l40[i]!r}, {1.0!r}) "
        f"ELSE 0.0 END"
        for i in range(8)]
    ret["quinn_accum"] = (
        f"WITH {rc40}, {n40}, " + _piv("qu", "rc") + ", "
        + _mfd_edges("qu", 40, quinn_ws, "quzk", "nds") + ", "
        + _jacobi("qu", "quwe", "nds")
        + fin.format(last="qua64")
    )

    # mdinf (40x40C, exponent 1.1)
    d1 = _META40C.resolution_x
    d2 = _mm.sqrt(_META40C.resolution_x ** 2 + _META40C.resolution_y ** 2)
    amax = _mm.atan2(_META40C.resolution_y, _META40C.resolution_x)
    md_parts: list[tuple[int, str]] = []
    for card, diag in [(1, 0), (7, 0), (7, 6), (5, 6), (5, 4), (3, 4),
                       (3, 2), (1, 2)]:
        s1 = f"((zc - zn_{card}) / {d1!r})"
        s2 = f"((zn_{card} - zn_{diag}) / {_META40C.resolution_y!r})"
        r = f"ATAN2({s2}, {s1})"
        rc_ = f"GREATEST(LEAST({r}, {amax!r}), 0.0)"
        smag = (f"CASE WHEN {r} < 0.0 THEN {s1} "
                f"WHEN {r} > {amax!r} THEN (zc - zn_{diag}) / {d2!r} "
                f"ELSE SQRT({s1} * {s1} + {s2} * {s2}) END")
        valid = (f"(zn_{card} IS NOT NULL AND zn_{diag} IS NOT NULL "
                 f"AND ({smag}) > 0.0)")
        w = f"CASE WHEN {valid} THEN POWER({smag}, {1.1!r}) ELSE 0.0 END"
        md_parts.append((card, f"(({w}) * (1.0 - {rc_} / {amax!r}))"))
        md_parts.append((diag, f"(({w}) * ({rc_} / {amax!r}))"))
    md_by: dict[int, list[str]] = {}
    for i, expr in md_parts:
        md_by.setdefault(i, []).append(expr)
    md_ws = [("(" + " + ".join(md_by[i]) + ")") if i in md_by else "0.0"
             for i in range(8)]
    ret["mdinf_accum"] = (
        f"WITH {rc40}, {n40}, " + _piv("md", "rc") + ", "
        + _mfd_edges("md", 40, md_ws, "mdzk", "nds") + ", "
        + _jacobi("md", "mdwe", "nds")
        + fin.format(last="mda64")
    )

    # dinf edges builder (sector split of the cascade direction)
    def _dinf_edges_ctes(tag: str, meta, W: int, pivzk: str,
                         nodes: str) -> str:
        n1 = [(-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1),
              (-1, -1)]
        n2 = [(-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1),
              (-1, 0)]
        sect = ", ".join(
            f"({k}, {n1[k][0]}, {n1[k][1]}, {n2[k][0]}, {n2[k][1]})"
            for k in range(8))
        return (
            _dinf_dir_ctes(meta, tag, pivzk) + ", "
            f"{tag}sec AS (SELECT row, col, dirv, "
            f"CAST(FLOOR(LEAST(dirv, 359.999999) / 45.0) AS INT) AS sec "
            f"FROM {tag}dir WHERE dirv >= 0.0), "
            f"{tag}stb AS (SELECT * FROM (VALUES {sect}) s(k, r1, c1, r2, c2)), "
            f"{tag}ew AS (SELECT (d.row * {W} + d.col) AS src, "
            f"unnest([{{'dst': (d.row + s.r1) * {W} + (d.col + s.c1), "
            f"'w': ((CAST(d.sec + 1 AS DOUBLE) * 45.0 - d.dirv) / 45.0)}}, "
            f"{{'dst': (d.row + s.r2) * {W} + (d.col + s.c2), "
            f"'w': ((d.dirv - CAST(d.sec AS DOUBLE) * 45.0) / 45.0)}}]) AS e "
            f"FROM {tag}sec d JOIN {tag}stb s ON d.sec = s.k), "
            f"{tag}we AS MATERIALIZED (SELECT x.src, (x.e).dst AS dst, "
            f"(x.e).w AS w FROM {tag}ew x "
            f"JOIN {nodes} n ON (x.e).dst = n.id WHERE (x.e).w > 0.0)")

    # dinf_accum (24x24 ras_a sub)
    ret["dinf_accum"] = (
        f"WITH {a24}, {n24}, " + _piv("di", "a24") + ", "
        + _dinf_edges_ctes("di", meta24, 24, "dizk", "nds") + ", "
        + _jacobi("di", "diwe", "nds")
        + fin.format(last="dia64")
    )

    # dinf_mass_flux (40x40C): peel fixpoint as Jacobi with the same
    # flux arithmetic (ld 1.0, eff 0.9, ab 0.05)
    mfx_parts = ["mx0 AS MATERIALIZED (SELECT id, "
                 "(CAST(1.0 AS DOUBLE) - CAST(0.05 AS DOUBLE)) "
                 "* CAST(0.9 AS DOUBLE) AS f FROM nds)"]
    for k in range(1, 65):
        prev = f"mx{k - 1}"
        mfx_parts.append(
            f"mi{k} AS (SELECT e.dst, SUM(p.f * e.w) AS s "
            f"FROM {prev} p JOIN dmwe e ON p.id = e.src GROUP BY 1), "
            f"mx{k} AS MATERIALIZED (SELECT n.id, "
            f"(CAST(1.0 AS DOUBLE) + COALESCE(i.s, CAST(0.0 AS DOUBLE)) "
            f"- CAST(0.05 AS DOUBLE)) * CAST(0.9 AS DOUBLE) AS f FROM nds n "
            f"LEFT JOIN mi{k} i ON n.id = i.dst)")
    ret["dinf_mass_flux"] = (
        f"WITH {rc40}, {n40}, " + _piv("dm", "rc") + ", "
        + _dinf_edges_ctes("dm", _META40C, 40, "dmzk", "nds") + ", "
        + ", ".join(mfx_parts)
        + " SELECT n.row, n.col, ROUND(a.f, 6) AS value "
        "FROM mx64 a JOIN nds n ON a.id = n.id"
    )

    # upslope_depression_storage (40x40C): path-max fill + fd8 weights
    # on the filled surface + two Jacobi closures (area and depth)
    fill40 = (
        f"ufl(row, col, w) AS ("
        f"SELECT row, col, value FROM rc "
        f"WHERE row = 0 OR col = 0 OR row = 39 OR col = 39 "
        f"UNION SELECT n.row, n.col, GREATEST(n.value, f.w) AS w "
        f"FROM ufl f JOIN rc n "
        f"ON n.row BETWEEN f.row - 1 AND f.row + 1 "
        f"AND n.col BETWEEN f.col - 1 AND f.col + 1 "
        f"AND NOT (n.row = f.row AND n.col = f.col)), "
        f"ufm AS MATERIALIZED (SELECT row, col, MIN(w) AS value "
        f"FROM ufl GROUP BY 1, 2)")
    uds_ws = [
        f"CASE WHEN zn_{i} IS NOT NULL AND zn_{i} < zc "
        f"THEN POWER((zc - zn_{i}) / {l40[i]!r}, 1.1) ELSE 0.0 END"
        for i in range(8)]
    uds_jac = ["uda0 AS MATERIALIZED (SELECT n.id, CAST(1.0 AS DOUBLE) AS fa, "
               "dep.dep AS fd FROM nds n JOIN udep dep ON n.id = dep.did)"]
    for k in range(1, 65):
        prev = f"uda{k - 1}"
        uds_jac.append(
            f"udi{k} AS (SELECT e.dst, SUM(e.w * p.fa) AS sa, "
            f"SUM(e.w * p.fd) AS sd FROM {prev} p "
            f"JOIN udwe e ON p.id = e.src GROUP BY 1), "
            f"uda{k} AS MATERIALIZED (SELECT n.id, "
            f"1.0 + COALESCE(i.sa, 0.0) AS fa, "
            f"dep.dep + COALESCE(i.sd, 0.0) AS fd FROM nds n "
            f"JOIN udep dep ON n.id = dep.did "
            f"LEFT JOIN udi{k} i ON n.id = i.dst)")
    ret["upslope_depression_storage"] = (
        f"WITH RECURSIVE {rc40}, {n40}, {fill40}, "
        + _piv("ud", "ufm") + ", "
        + _mfd_edges("ud", 40, uds_ws, "udzk", "nds") + ", "
        f"udep AS (SELECT (f.row * 40 + f.col) AS did, "
        f"f.value - c.value AS dep FROM ufm f "
        f"JOIN rc c ON f.row = c.row AND f.col = c.col), "
        + ", ".join(uds_jac)
        + " SELECT n.row, n.col, ROUND(a.fd / a.fa, 6) AS value "
        "FROM uda64 a JOIN nds n ON a.id = n.id"
    )
    return ret


def _r5b_oracles() -> dict[str, str]:
    """Round-5 oracle upgrades (batch 2) for previously rows-only
    queries: narrowness (brute-force exact EDT), line_thin (unrolled Zhang-Suen),
    cost_distance (unrolled Bellman-Ford/Jacobi), bilateral +
    highpass_bilateral (shared bilateral_exprs replay, ROUND(6)),
    gauss_scale_space (pivot DoG argmax, ROUND(6)), dinf_pointer
    (facet-fold cascade, ROUND(6))."""
    import math as _m5

    ret: dict[str, str] = {}
    cells40 = ("cells AS (SELECT a.range AS row, b.range AS col "
               "FROM range(0, 40) a, range(0, 40) b)")

    # ---- narrowness: patches from the polygons_to_raster oracle + 1,
    # exact EDT to background by brute-force min (dist2 doubles are
    # exact multiples of 156.25, so MIN matches the separable EDT)
    cx40 = _META40.x_center_expr("col")
    cy40 = _META40.y_center_expr("row")
    hits = " UNION ALL ".join(
        f"SELECT row, col, {pid} AS pid FROM c2 "
        f"WHERE {GS.inside_feature_sql(sh, ho, 'cx', 'cy')}"
        for pid, sh, ho in _POLYS)
    ret["narrowness"] = (
        f"WITH {cells40}, "
        f"c2 AS (SELECT row, col, {_META40.x_from_col_expr('col')} AS cx, "
        f"{_META40.y_from_row_expr('row')} AS cy FROM cells), "
        f"hits AS ({hits}), "
        f"pr AS MATERIALIZED (SELECT row, col, "
        f"CAST(MAX(pid) AS DOUBLE) + 1.0 AS pid FROM hits GROUP BY 1, 2), "
        f"bg AS (SELECT c.row, c.col FROM cells c LEFT JOIN pr "
        f"ON c.row = pr.row AND c.col = pr.col WHERE pr.row IS NULL), "
        f"t AS MATERIALIZED (SELECT {cx40} AS tx, {cy40} AS ty FROM bg), "
        f"q AS (SELECT row, col, pid, {cx40} AS qx, {cy40} AS qy FROM pr), "
        f"d AS MATERIALIZED (SELECT q.row, q.col, q.pid, "
        f"SQRT(MIN((qx - tx) * (qx - tx) + (qy - ty) * (qy - ty))) AS dist "
        f"FROM q, t GROUP BY 1, 2, 3), "
        f"st AS (SELECT pid, COUNT(*) * 625.0 AS area, MAX(dist) AS md "
        f"FROM d GROUP BY 1), "
        f"ni AS (SELECT pid, area / ({_m5.pi!r} * md * md) AS ni FROM st) "
        f"SELECT d.row, d.col, d.pid AS patch_id, ni.ni AS value "
        f"FROM d JOIN ni ON d.pid = ni.pid"
    )

    # ---- line_thin: 8 Zhang-Suen iterations x 2 phases, each an exact
    # integer/boolean pivot round (focal._pivot_d8 neighbor indexing)
    offs_d8 = ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
    ring = [7, 0, 1, 2, 3, 4, 5, 6]
    p_ring = [f"(CASE WHEN COALESCE(zn_{ring[i]}, 0.0) > 0.0 THEN 1 ELSE 0 END)"
              for i in range(8)]
    bsum = " + ".join(p_ring)
    trans = " + ".join(
        f"(CASE WHEN {p_ring[i]} = 0 AND {p_ring[(i + 1) % 8]} = 1 THEN 1 ELSE 0 END)"
        for i in range(8))
    lt_parts = [
        "lofs AS (SELECT * FROM (VALUES " + offs_d8 + ") o(n, dy, dx))",
        "th0 AS MATERIALIZED (SELECT row, col, "
        "CASE WHEN value % 2.0 = 1.0 THEN 1.0 ELSE 0.0 END AS value FROM rc)",
    ]
    znk = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8))
    step = 0
    for _ in range(8):
        for phase in (0, 1):
            if phase == 0:
                c1 = f"({p_ring[0]} * {p_ring[2]} * {p_ring[4]}) = 0"
                c2 = f"({p_ring[2]} * {p_ring[4]} * {p_ring[6]}) = 0"
            else:
                c1 = f"({p_ring[0]} * {p_ring[2]} * {p_ring[6]}) = 0"
                c2 = f"({p_ring[0]} * {p_ring[4]} * {p_ring[6]}) = 0"
            prev, step = f"th{step}", step + 1
            lt_parts.append(
                f"sc{step} AS (SELECT t.row - o.dy AS row, t.col - o.dx AS col, "
                f"o.n AS n, t.value AS nv FROM {prev} t, lofs o "
                f"UNION ALL SELECT row, col, 8, value FROM {prev}), "
                f"pv{step} AS (SELECT row, col, {znk}, "
                f"MAX(CASE WHEN n = 8 THEN nv END) AS zc FROM sc{step} GROUP BY 1, 2), "
                f"th{step} AS MATERIALIZED (SELECT row, col, "
                f"CAST(CASE WHEN zc > 0.0 AND ({bsum}) BETWEEN 2 AND 6 "
                f"AND ({trans}) = 1 AND {c1} AND {c2} THEN 0.0 "
                f"ELSE zc END AS DOUBLE) AS value "
                f"FROM pv{step} WHERE zc IS NOT NULL)")
        # Spark checkpoints + early-stops on the foreground count here;
        # extra rounds past the fixpoint are identity, so the unrolled
        # replay is exact regardless of where the count stabilizes
    ret["line_thin"] = (
        f"WITH rc AS ({_RAS_C_SQL}), " + ", ".join(lt_parts)
        + f" SELECT row, col, value FROM th{step}"
    )

    # ---- bsc: per-patch Zhang-Suen replay (12 unrolled iterations —
    # the fixture patches reach fixpoint by iteration 7, extra rounds
    # are identity) + exact link decomposition. The kernel's chain walk
    # is order-free once restated structurally: every connected
    # component of degree-2 skeleton cells is exactly ONE link of
    # length sz + 2 (its two terminal cells each border a node cell —
    # a mid-chain cell adjacent to a node would itself have degree 3),
    # adjacent node-node pairs are length-2 links, and pure degree-2
    # cycles are never walked. A link is EXTERIOR iff an attached node
    # has degree 1; the two longest exterior links join the main
    # network (equal-length ties at the cut swap freely — only the
    # excluded SUM matters). All quantities are integer counts; the
    # final 100.0 * ext / total is the same single double division.
    bs_parts = [
        f"{cells40}",
        f"c2 AS (SELECT row, col, {_META40.x_from_col_expr('col')} AS cx, "
        f"{_META40.y_from_row_expr('row')} AS cy FROM cells)",
        f"hits AS ({hits})",
        "pr AS MATERIALIZED (SELECT row, col, "
        "CAST(MAX(pid) AS DOUBLE) + 1.0 AS pid FROM hits GROUP BY 1, 2)",
        "bofs AS (SELECT * FROM (VALUES " + offs_d8 + ") o(n, dy, dx))",
        "bs0 AS MATERIALIZED (SELECT pid, row, col, 1.0 AS value FROM pr)",
    ]
    bstep = 0
    for _ in range(12):
        for phase in (0, 1):
            if phase == 0:
                c1 = f"({p_ring[0]} * {p_ring[2]} * {p_ring[4]}) = 0"
                c2 = f"({p_ring[2]} * {p_ring[4]} * {p_ring[6]}) = 0"
            else:
                c1 = f"({p_ring[0]} * {p_ring[2]} * {p_ring[6]}) = 0"
                c2 = f"({p_ring[0]} * {p_ring[4]} * {p_ring[6]}) = 0"
            prev, bstep = f"bs{bstep}", bstep + 1
            bs_parts.append(
                f"bsc{bstep} AS (SELECT t.pid, t.row - o.dy AS row, "
                f"t.col - o.dx AS col, o.n AS n, t.value AS nv "
                f"FROM {prev} t, bofs o "
                f"UNION ALL SELECT pid, row, col, 8, value FROM {prev}), "
                f"bpv{bstep} AS (SELECT pid, row, col, {znk}, "
                f"MAX(CASE WHEN n = 8 THEN nv END) AS zc "
                f"FROM bsc{bstep} GROUP BY 1, 2, 3), "
                f"bs{bstep} AS MATERIALIZED (SELECT pid, row, col, "
                f"CAST(CASE WHEN zc > 0.0 AND ({bsum}) BETWEEN 2 AND 6 "
                f"AND ({trans}) = 1 AND {c1} AND {c2} THEN 0.0 "
                f"ELSE zc END AS DOUBLE) AS value "
                f"FROM bpv{bstep} WHERE zc IS NOT NULL)")
    bs_parts.append(
        f"sk AS MATERIALIZED (SELECT pid, row, col, "
        f"(CAST(pid AS BIGINT) * 1600 + row * 40 + col) AS id "
        f"FROM bs{bstep} WHERE value > 0.0), "
        "dg AS MATERIALIZED (SELECT a.pid, a.row, a.col, a.id, "
        "COUNT(b.id) AS deg FROM sk a LEFT JOIN sk b "
        "ON b.pid = a.pid AND ABS(b.row - a.row) <= 1 "
        "AND ABS(b.col - a.col) <= 1 AND b.id <> a.id GROUP BY 1, 2, 3, 4), "
        "d2 AS (SELECT * FROM dg WHERE deg = 2), "
        "nd AS (SELECT * FROM dg WHERE deg <> 2), "
        "bed AS MATERIALIZED (SELECT a.id AS a, b.id AS b FROM d2 a "
        "JOIN d2 b ON b.pid = a.pid AND ABS(b.row - a.row) <= 1 "
        "AND ABS(b.col - a.col) <= 1 AND b.id <> a.id), "
        "breach(id, r) AS (SELECT id, id FROM d2 UNION "
        "SELECT e.b, breach.r FROM breach JOIN bed e ON breach.id = e.a), "
        "blab AS MATERIALIZED (SELECT id, MIN(r) AS comp FROM breach GROUP BY 1), "
        "csz AS (SELECT d.pid, l.comp, COUNT(*) AS sz FROM d2 d "
        "JOIN blab l ON d.id = l.id GROUP BY 1, 2), "
        "att AS (SELECT DISTINCT l.comp, n.id AS nid, n.deg FROM d2 d "
        "JOIN blab l ON d.id = l.id JOIN nd n ON n.pid = d.pid "
        "AND ABS(n.row - d.row) <= 1 AND ABS(n.col - d.col) <= 1), "
        "chainl AS (SELECT c.pid, c.sz + 2 AS len, "
        "MAX(CASE WHEN a.deg = 1 THEN 1 ELSE 0 END) AS ext "
        "FROM csz c JOIN att a ON a.comp = c.comp GROUP BY c.pid, c.comp, c.sz), "
        "nnl AS (SELECT a.pid, 2 AS len, "
        "(CASE WHEN a.deg = 1 OR b.deg = 1 THEN 1 ELSE 0 END) AS ext "
        "FROM nd a JOIN nd b ON b.pid = a.pid AND ABS(b.row - a.row) <= 1 "
        "AND ABS(b.col - a.col) <= 1 AND a.id < b.id), "
        "links AS (SELECT pid, len, ext FROM chainl "
        "UNION ALL SELECT pid, len, ext FROM nnl), "
        "tot AS (SELECT pid, SUM(len) AS total FROM links GROUP BY 1), "
        "extl AS (SELECT pid, len, ROW_NUMBER() OVER "
        "(PARTITION BY pid ORDER BY len DESC) AS rn FROM links WHERE ext = 1), "
        "extc AS (SELECT pid, SUM(CASE WHEN rn > 2 THEN len ELSE 0 END) AS ec "
        "FROM extl GROUP BY 1), "
        "pv AS (SELECT p.pid, COALESCE(100.0 * COALESCE(e.ec, 0) / t.total, 0.0) "
        "AS value FROM (SELECT DISTINCT pid FROM pr) p "
        "LEFT JOIN tot t ON t.pid = p.pid LEFT JOIN extc e ON e.pid = p.pid)")
    ret["bsc"] = (
        "WITH RECURSIVE " + ", ".join(bs_parts)
        + " SELECT pr.row, pr.col, pr.pid AS patch_id, pv.value "
        "FROM pr JOIN pv ON pv.pid = pr.pid"
    )

    # ---- voronoi: replay the per-site bisector half-plane cascade.
    # The kernel clips the extent rectangle by the bisector to every
    # OTHER site in ascending-id order (the operator sorts its collected
    # sites, so the order — and therefore every interpolated vertex's
    # ulps — is deterministic); the replay unrolls 64 site steps
    # (LEFT-JOIN identity past the actual count: 48 sites at the
    # driver's sf0.01) with the same a/b/c, epsilon, and t arithmetic.
    def _vclip(poly):
        va, vb = "(qx - px)", "(qy - py)"
        vc = "((((qx * qx - px * px) + qy * qy) - py * py) / 2.0)"
        pv = f"{poly}[k]"
        nx = f"{poly}[(k % LEN({poly})) + 1]"
        pin = f"(({va} * {pv}.x + {vb} * {pv}.y) <= ({vc} + 1e-12))"
        qin = f"(({va} * {nx}.x + {vb} * {nx}.y) <= ({vc} + 1e-12))"
        t = (f"((({vc} - {va} * {pv}.x) - {vb} * {pv}.y) "
             f"/ ({va} * ({nx}.x - {pv}.x) + {vb} * ({nx}.y - {pv}.y)))")
        ix = (f"{{'x': {pv}.x + {t} * ({nx}.x - {pv}.x), "
              f"'y': {pv}.y + {t} * ({nx}.y - {pv}.y)}}")
        return (f"FLATTEN(LIST_TRANSFORM(RANGE(1, LEN({poly}) + 1), k -> "
                f"CASE WHEN {pin} AND {qin} THEN [{pv}] "
                f"WHEN {pin} THEN [{pv}, {ix}] "
                f"WHEN {qin} THEN [{ix}] "
                f"ELSE []::STRUCT(x DOUBLE, y DOUBLE)[] END))")

    vparts = [
        f"vpts AS ({_PTS_SQL})",
        "vs AS (SELECT record_num AS sid, x, y, "
        "ROW_NUMBER() OVER (ORDER BY record_num) - 1 AS j "
        "FROM vpts WHERE record_num % 211 = 0)",
        "vv0 AS (SELECT sid, x AS px, y AS py, "
        "[{'x': 0.0, 'y': 0.0}, {'x': 1000.0, 'y': 0.0}, "
        "{'x': 1000.0, 'y': 1000.0}, {'x': 0.0, 'y': 1000.0}]"
        "::STRUCT(x DOUBLE, y DOUBLE)[] AS poly FROM vs)",
    ]
    for j in range(64):
        vparts.append(
            f"ve{j} AS (SELECT p.sid, p.px, p.py, p.poly, "
            f"q.x AS qx, q.y AS qy, q.sid AS qsid "
            f"FROM vv{j} p LEFT JOIN vs q ON q.j = {j})")
        vparts.append(
            f"vv{j + 1} AS (SELECT sid, px, py, "
            f"CASE WHEN qx IS NULL OR qsid = sid THEN poly ELSE "
            f"{_vclip('poly')} END AS poly FROM ve{j})")
    vparts.append(
        "vexp AS (SELECT sid, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(poly) + 1), "
        "i -> {'vi': i - 1, 'vx': poly[i].x, 'vy': poly[i].y})) AS v FROM vv64)")
    ret["voronoi"] = (
        "WITH " + ", ".join(vparts)
        + " SELECT sid AS record_num, CAST(v.vi AS INT) AS vertex_idx, "
        "v.vx AS x, v.vy AS y FROM vexp"
    )

    # ---- cost_distance: 96 unrolled Jacobi rounds over the 8-neighbor
    # graph; MIN is an exact selection, each candidate is one
    # add + (a + b) / 2 * dist chain — the same doubles Spark computes
    res_c = 10.0
    diag_c = _m5.sqrt(res_c ** 2 + res_c ** 2)
    cd_offs = ", ".join(
        f"({dr}, {dc}, {d!r})" for dr, dc, d in [
            (-1, 0, res_c), (1, 0, res_c), (0, -1, res_c), (0, 1, res_c),
            (-1, -1, diag_c), (-1, 1, diag_c), (1, -1, diag_c), (1, 1, diag_c)])
    cd_parts = [
        "cofs AS (SELECT * FROM (VALUES " + cd_offs + ") o(dr, dc, dist))",
        "cd0 AS MATERIALIZED (SELECT row, col, value + 1.0 AS c, "
        "CASE WHEN value + 1.0 < 6.0 THEN 0.0 "
        "ELSE CAST('Infinity' AS DOUBLE) END AS acc FROM rc)",
    ]
    for k in range(1, 97):
        prev = f"cd{k - 1}"
        cd_parts.append(
            f"rx{k} AS (SELECT s.row + o.dr AS row, s.col + o.dc AS col, "
            f"MIN(s.acc + (s.c + t.c) / 2.0 * o.dist) AS cand "
            f"FROM {prev} s, cofs o "
            f"JOIN {prev} t ON s.row + o.dr = t.row AND s.col + o.dc = t.col "
            f"GROUP BY 1, 2), "
            f"cd{k} AS MATERIALIZED (SELECT t.row, t.col, t.c, "
            f"LEAST(t.acc, COALESCE(r.cand, t.acc)) AS acc FROM {prev} t "
            f"LEFT JOIN rx{k} r ON t.row = r.row AND t.col = r.col)")
    # the engines' LEAST/MIN relaxation chains agree only to the last
    # ulp on long accumulated paths (~1e-13 at 1e3 magnitudes) — gate
    # at ROUND(6)
    ret["cost_distance"] = (
        f"WITH rc AS ({_RAS_C_SQL}), " + ", ".join(cd_parts)
        + " SELECT row, col, ROUND(acc, 6) AS value FROM cd96"
    )

    # ---- map_off_terrain: slope-predicate edges + min-label connected
    # components + dense discovery ranking — all exact (selection,
    # integer counts; the slope compare is one sub/div against the same
    # repr'd tangent)
    import math as _mo
    tan40 = _m5.tan(_m5.radians(40.0))
    diag10 = _mo.hypot(10.0, 10.0)
    mo_offs = ", ".join(
        f"({dr}, {dc}, {d!r})" for dr, dc, d in [
            (-1, 0, 10.0), (0, -1, 10.0), (-1, -1, diag10), (-1, 1, diag10)])
    ret["map_off_terrain"] = (
        f"WITH RECURSIVE rc AS ({_RAS_C_SQL}), "
        f"mofs AS (SELECT * FROM (VALUES {mo_offs}) o(dr, dc, dist)), "
        f"ed AS MATERIALIZED (SELECT (a.row * 40 + a.col) AS a, "
        f"((a.row + o.dr) * 40 + (a.col + o.dc)) AS b "
        f"FROM rc a JOIN mofs o ON TRUE "
        f"JOIN rc b ON b.row = a.row + o.dr AND b.col = a.col + o.dc "
        f"WHERE ABS(a.value - b.value) / o.dist < {tan40!r}), "
        f"und AS MATERIALIZED (SELECT a, b FROM ed UNION ALL SELECT b, a FROM ed), "
        f"nodes AS (SELECT (row * 40 + col) AS id FROM rc), "
        f"reach(id, r) AS (SELECT id, id FROM nodes UNION "
        f"SELECT u.b, reach.r FROM reach JOIN und u ON reach.id = u.a), "
        f"lab AS MATERIALIZED (SELECT id, MIN(r) AS comp FROM reach GROUP BY 1), "
        f"sized AS (SELECT comp, COUNT(*) AS sz FROM lab GROUP BY 1), "
        f"rkd AS (SELECT comp, DENSE_RANK() OVER (ORDER BY comp) + 1 AS fid "
        f"FROM sized WHERE sz >= 2) "
        f"SELECT CAST(l.id // 40 AS BIGINT) AS row, "
        f"CAST(l.id % 40 AS BIGINT) AS col, "
        f"CAST(COALESCE(r.fid, 1) AS DOUBLE) AS value "
        f"FROM lab l LEFT JOIN rkd r ON l.comp = r.comp"
    )

    # ---- shared k x k nullable pivot builder (focal_pivotk replica)
    def _kpivot(tag: str, gsz: int) -> str:
        gmid = gsz // 2
        gctr = gmid * gsz + gmid
        offs = (f"{tag}offs AS (SELECT * FROM (VALUES " + ", ".join(
            f"({n}, {n // gsz - gmid}, {n % gsz - gmid})"
            for n in range(gsz * gsz)) + f") o(n, dr, dc))")
        pcols = ", ".join(f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}"
                          for n in range(gsz * gsz))
        return (f"{offs}, "
                f"{tag}sc AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, "
                f"o.n AS n, a.value AS nv FROM ras_a a, {tag}offs o), "
                f"{tag}piv AS (SELECT row, col, {pcols} FROM {tag}sc GROUP BY 1, 2), "
                f"{tag}zk AS (SELECT * FROM {tag}piv WHERE z_{gctr} IS NOT NULL)")

    # ---- bilateral / highpass_bilateral: the shared bilateral_exprs
    # texts over the 7x7 pivot, ROUND(6)
    bsz, bw_cols, bs_expr, bval = FO.bilateral_exprs(0.75, 10.0)
    bk2 = bsz * bsz
    bz = ", ".join(f"z_{a}" for a in range(bk2))
    bstage = (
        f"bst AS (SELECT row, col, {bz}, "
        + ", ".join(bw_cols) + f" FROM blzk), "
        f"bs2 AS (SELECT row, col, {bz}, "
        + ", ".join(f"w_{a}" for a in range(bk2))
        + f", ({bs_expr}) AS s_tot FROM bst)")
    ret["bilateral"] = (
        f"WITH ras_a AS ({_RAS_A_SQL}), {_kpivot('bl', bsz)}, {bstage} "
        f"SELECT row, col, ROUND(({bval}), 6) AS value FROM bs2"
    )
    # highpass uses the DEFAULT sigma_int=1.0 (not the bilateral
    # query's 10.0) — build its own weight set
    hsz, hw_cols, hs_expr, hval = FO.bilateral_exprs(0.75, 1.0)
    hk2 = hsz * hsz
    hz = ", ".join(f"z_{a}" for a in range(hk2))
    hstage = (
        f"hbst AS (SELECT row, col, {hz}, "
        + ", ".join(hw_cols) + f" FROM hbzk), "
        f"hbs2 AS (SELECT row, col, {hz}, "
        + ", ".join(f"w_{a}" for a in range(hk2))
        + f", ({hs_expr}) AS s_tot FROM hbst)")
    ret["highpass_bilateral"] = (
        f"WITH ras_a AS ({_RAS_A_SQL}), {_kpivot('hb', hsz)}, {hstage}, "
        f"bf AS (SELECT row, col, ({hval}) AS bfv FROM hbs2) "
        f"SELECT a.row, a.col, ROUND(a.value - bf.bfv, 6) AS value "
        f"FROM ras_a a JOIN bf ON a.row = bf.row AND a.col = bf.col"
    )

    # ---- gauss_scale_space: three pivot Gaussians, consecutive DoGs,
    # last-wins arg-min by (-ABS(dog), scale) — replayed with arg_min on
    # the same struct ordering; winning value ROUND(6)
    sigmas = [0.8, 1.2, 1.6]

    def _gauss_duck_value(sigma: float) -> tuple[int, str]:
        # gaussian_value_expr's left-assoc chain re-expressed as
        # list_reduce (identical fold order, depth-1 AST — the sigma=1.6
        # 225-term chain exceeds DuckDB's 128-deep binder limit)
        gsz, ws = FO.wbt_gaussian_kernel(sigma)
        num_el = ", ".join(
            f"CASE WHEN z_{a} IS NOT NULL THEN {ws[a]!r} * z_{a} ELSE 0.0 END"
            for a in range(gsz * gsz))
        den_el = ", ".join(
            f"CASE WHEN z_{a} IS NOT NULL THEN {ws[a]!r} ELSE 0.0 END"
            for a in range(gsz * gsz))
        fold = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), [{0}]), "
                "(a, b) -> a + b)")
        return gsz, f"({fold.format(num_el)}) / ({fold.format(den_el)})"

    gs_parts, g_sel = [], []
    for i, s in enumerate(sigmas):
        gsz, gv = _gauss_duck_value(s)
        gs_parts.append(_kpivot(f"gs{i}", gsz))
        g_sel.append(f"g{i} AS (SELECT row, col, {gv} AS g FROM gs{i}zk)")
    dogs = " UNION ALL ".join(
        f"SELECT a.row, a.col, b.g - a.g AS dog, "
        f"CAST({sigmas[i]!r} AS DOUBLE) AS scale "
        f"FROM g{i} a JOIN g{i + 1} b ON a.row = b.row AND a.col = b.col"
        for i in range(len(sigmas) - 1))
    ret["gauss_scale_space"] = (
        f"WITH ras_a AS ({_RAS_A_SQL}), " + ", ".join(gs_parts) + ", "
        + ", ".join(g_sel) + f", du AS ({dogs}), "
        f"rkd AS (SELECT row, col, dog, scale, ROW_NUMBER() OVER "
        f"(PARTITION BY row, col ORDER BY -ABS(dog), scale) AS rk FROM du) "
        f"SELECT row, col, ROUND(dog, 6) AS value, scale FROM rkd WHERE rk = 1"
    )

    # ---- dinf_pointer: the facet fold as a last-wins max cascade over
    # the same per-facet s/dir expression texts, ROUND(6)
    ret["dinf_pointer"] = _dinf_oracle_sql()

    # ---- anvad: gaussian(1.0) pivot smoothing + center-substituted 3x3
    # gradients + the ACOS angle text + a clamped 5x5 window mean. Spark
    # computes the window mean via integral-image corner differences;
    # the direct window SUM here reassociates the same addends, so the
    # gate is ROUND(6) (noise ~1e-12 on means of ~25 angle values).
    anv_sz, anv_gv = FO.gaussian_value_expr(1.0)
    anv_sub = [f"COALESCE(zn_{i}, zc)" for i in range(8)]
    anv_fx = (f"(-(((({anv_sub[2]}) - ({anv_sub[4]}) + 2.0 * (({anv_sub[1]}) "
              f"- ({anv_sub[5]})) + ({anv_sub[0]}) - ({anv_sub[6]})) / 80.0)))")
    anv_fy = (f"(-(((({anv_sub[6]}) - ({anv_sub[4]}) + 2.0 * (({anv_sub[7]}) "
              f"- ({anv_sub[3]})) + ({anv_sub[0]}) - ({anv_sub[2]})) / 80.0)))")
    d8_offs = ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
    zn8 = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8))

    def _p3(tag: str, src: str) -> str:
        return (
            f"{tag}sc3 AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, "
            f"o.n AS n, a.value AS nv FROM {src} a, d8o o "
            f"UNION ALL SELECT row, col, 8, value FROM {src}), "
            f"{tag}p3 AS (SELECT row, col, {zn8}, "
            f"MAX(CASE WHEN n = 8 THEN nv END) AS zc FROM {tag}sc3 GROUP BY 1, 2), "
            f"{tag}z3 AS (SELECT * FROM {tag}p3 WHERE zc IS NOT NULL)")

    anv_ang = ("DEGREES(ACOS(LEAST(GREATEST((a1 * a2 + b1 * b2 + 1.0) "
               "/ SQRT((a1 * a1 + b1 * b1 + 1.0) * (a2 * a2 + b2 * b2 + 1.0)), "
               "-1.0), 1.0)))")
    anv_w = ", ".join(f"({dr}, {dc})"
                      for dr in range(-2, 3) for dc in range(-2, 3))
    ret["anvad"] = (
        f"WITH ras_a AS ({_RAS_A_SQL}), "
        f"d8o AS (SELECT * FROM (VALUES {d8_offs}) o(n, dy, dx)), "
        f"{_kpivot('anv', anv_sz)}, "
        f"smv AS MATERIALIZED (SELECT row, col, {anv_gv} AS value FROM anvzk), "
        + _p3("r", "ras_a") + ", " + _p3("s", "smv") + ", "
        f"g1 AS (SELECT row, col, {anv_fx} AS a1, {anv_fy} AS b1 FROM rz3), "
        f"g2 AS (SELECT row, col, {anv_fx} AS a2, "
        f"{anv_fy} AS b2 FROM sz3), "
        f"ang AS MATERIALIZED (SELECT g1.row, g1.col, {anv_ang} AS v "
        f"FROM g1 JOIN g2 ON g1.row = g2.row AND g1.col = g2.col), "
        f"wof AS (SELECT * FROM (VALUES {anv_w}) o(dr, dc)) "
        f"SELECT a.row, a.col, ROUND(SUM(b.v) / COUNT(*), 6) AS value "
        f"FROM ang a JOIN wof o ON TRUE "
        f"JOIN ang b ON b.row = a.row + o.dr AND b.col = a.col + o.dc "
        f"GROUP BY 1, 2"
    )

    # ---- cost_allocation: the (acc, src) lexicographic Jacobi on the
    # 20x20 sub-raster, 96 unrolled rounds. DuckDB's struct MIN is the
    # same lexicographic order as Spark's MIN_BY(STRUCT...); the NULL-src
    # ordering difference is unreachable (a finite candidate cost always
    # carries a non-NULL source).
    ca_offs = ", ".join(
        f"({dr}, {dc}, {d!r})" for dr, dc, d in [
            (-1, 0, res_c), (1, 0, res_c), (0, -1, res_c), (0, 1, res_c),
            (-1, -1, diag_c), (-1, 1, diag_c), (1, -1, diag_c), (1, 1, diag_c)])
    ca_parts = [
        "cofs AS (SELECT * FROM (VALUES " + ca_offs + ") o(dr, dc, dist))",
        "ca0 AS MATERIALIZED (SELECT row, col, value AS c, "
        "CASE WHEN (row * 20 + col) % 131 = 0 THEN 0.0 "
        "ELSE CAST('Infinity' AS DOUBLE) END AS acc, "
        "CASE WHEN (row * 20 + col) % 131 = 0 THEN (row * 20 + col) "
        "ELSE CAST(NULL AS BIGINT) END AS src FROM dem20)",
    ]
    for k in range(1, 97):
        prev = f"ca{k - 1}"
        ca_parts.append(
            f"cb{k} AS (SELECT s.row + o.dr AS row, s.col + o.dc AS col, "
            f"MIN({{'a': s.acc + (s.c + t.c) / 2.0 * o.dist, 's': s.src}}) AS b "
            f"FROM {prev} s, cofs o "
            f"JOIN {prev} t ON s.row + o.dr = t.row AND s.col + o.dc = t.col "
            f"GROUP BY 1, 2), "
            f"ca{k} AS MATERIALIZED (SELECT t.row, t.col, t.c, "
            f"CASE WHEN r.b IS NOT NULL AND (r.b).a < t.acc THEN (r.b).a "
            f"ELSE t.acc END AS acc, "
            f"CASE WHEN r.b IS NOT NULL AND ((r.b).a < t.acc OR ((r.b).a = t.acc "
            f"AND (t.src IS NULL OR (r.b).s < t.src))) THEN (r.b).s "
            f"ELSE t.src END AS src FROM {prev} t "
            f"LEFT JOIN cb{k} r ON t.row = r.row AND t.col = r.col)")
    ret["cost_allocation"] = (
        "WITH dem20 AS (SELECT (event_id % 20) AS row, "
        "(CAST(FLOOR(event_id / 20) AS BIGINT) % 20) AS col, "
        "CAST(MAX(event_id) % 100 AS DOUBLE) + 1.0 AS value "
        "FROM events GROUP BY 1, 2), "
        + ", ".join(ca_parts)
        + " SELECT row, col, CAST(src AS DOUBLE) AS value FROM ca96 "
        "WHERE src IS NOT NULL"
    )

    # ---- mass_flux (d8_mass_flux on the 20x20 dem): the topological
    # peel's fixpoint replayed as 64 Jacobi rounds (depth-k cells are
    # final after k rounds; fixture depth ~23). The per-cell inflow SUM
    # order differs between engines, hence the ROUND(6) gate.
    meta20 = GridMeta(rows=20, columns=20, north=200.0, south=0.0,
                      east=200.0, west=0.0, resolution_x=10.0,
                      resolution_y=10.0)
    mf_offs = ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
    mf_piv = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8))
    mf_parts = [
        "mofs AS (SELECT * FROM (VALUES " + mf_offs + ") o(n, dy, dx))",
        "msc AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, o.n AS n, "
        "a.value AS nv FROM dem20 a, mofs o "
        "UNION ALL SELECT row, col, 8, value FROM dem20)",
        f"mpiv AS (SELECT row, col, {mf_piv}, "
        "MAX(CASE WHEN n = 8 THEN nv END) AS zc FROM msc GROUP BY 1, 2)",
        f"mptr AS MATERIALIZED (SELECT row, col, "
        f"{HY.d8_pointer_value_expr(meta20)} AS value FROM mpiv "
        f"WHERE zc IS NOT NULL)",
        "mdirs AS (SELECT * FROM (VALUES " + ", ".join(
            f"({1 << i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
        + ") d(code, dy, dx))",
        "me AS MATERIALIZED (SELECT (p.row * 20 + p.col) AS src, "
        "((p.row + d.dy) * 20 + (p.col + d.dx)) AS dst "
        "FROM mptr p JOIN mdirs d ON d.code = CAST(p.value AS INT) "
        "WHERE p.value > 0)",
        "mb AS MATERIALIZED (SELECT (row * 20 + col) AS id, row, col, "
        "CAST(1.0 AS DOUBLE) AS ld, CAST(0.9 AS DOUBLE) AS eff, "
        "CAST(0.05 AS DOUBLE) AS ab FROM dem20)",
        "mf0 AS MATERIALIZED (SELECT id, "
        "GREATEST((ld - ab) * eff, 0.0) AS flux FROM mb)",
    ]
    for k in range(1, 65):
        prev = f"mf{k - 1}"
        mf_parts.append(
            f"mi{k} AS (SELECT me.dst AS id, SUM(m.flux) AS in_flux "
            f"FROM {prev} m JOIN me ON m.id = me.src GROUP BY 1), "
            f"mf{k} AS MATERIALIZED (SELECT b.id, "
            f"GREATEST((b.ld + COALESCE(i.in_flux, 0.0) - b.ab) * b.eff, 0.0) "
            f"AS flux FROM mb b LEFT JOIN mi{k} i ON b.id = i.id)")
    ret["mass_flux"] = (
        "WITH dem20 AS (SELECT (event_id % 20) AS row, "
        "(CAST(FLOOR(event_id / 20) AS BIGINT) % 20) AS col, "
        "CAST(MAX(event_id) % 100 AS DOUBLE) AS value "
        "FROM events GROUP BY 1, 2), "
        + ", ".join(mf_parts)
        + " SELECT b.row, b.col, ROUND(m.flux, 6) AS value "
        "FROM mf64 m JOIN mb b ON m.id = b.id"
    )

    # ---- burn_streams_at_roads: stream/road Bresenham rasterization
    # (the proven l2r crossing math at _META40), exact crossing BFS
    # (k = 1 hop at road_width 75 / res 25), and the commuting min-clamp
    # — fully bit-exact (selections + integer hops only).
    def _l2r40(tag: str, seg_src: str) -> str:
        r_hi = f"GREATEST(LEAST({_META40.row_from_y_expr('LEAST(y1, y2)')}, 39), 0)"
        r_lo = f"GREATEST(LEAST({_META40.row_from_y_expr('GREATEST(y1, y2)')}, 39), 0)"
        c_lo = f"GREATEST(LEAST({_META40.col_from_x_expr('LEAST(x1, x2)')}, 39), 0)"
        c_hi = f"GREATEST(LEAST({_META40.col_from_x_expr('GREATEST(x1, x2)')}, 39), 0)"
        y_r = _META40.y_from_row_expr("tr.range")
        x_c = _META40.x_from_col_expr("tc.range")
        x_p = f"(x1 + (({y_r}) - y1) / (y2 - y1) * (x2 - x1))"
        y_p = f"(y1 + (({x_c}) - x1) / (x2 - x1) * (y2 - y1))"
        return (
            f"{tag}b AS (SELECT x1, y1, x2, y2, {r_lo} AS r0, {r_hi} AS r1, "
            f"{c_lo} AS c0, {c_hi} AS c1 FROM {seg_src}), "
            f"{tag}rh AS (SELECT tr.range AS row, "
            f"{_META40.col_from_x_expr(x_p)} AS col "
            f"FROM {tag}b JOIN range(0, 40) tr ON tr.range >= r0 AND tr.range <= r1 "
            f"WHERE ({y_r}) >= LEAST(y1, y2) AND ({y_r}) <= GREATEST(y1, y2) "
            f"AND y2 <> y1), "
            f"{tag}ch AS (SELECT {_META40.row_from_y_expr(y_p)} AS row, "
            f"tc.range AS col "
            f"FROM {tag}b JOIN range(0, 40) tc ON tc.range >= c0 AND tc.range <= c1 "
            f"WHERE ({x_c}) >= LEAST(x1, x2) AND ({x_c}) <= GREATEST(x1, x2) "
            f"AND x2 <> x1), "
            f"{tag}r AS MATERIALIZED (SELECT DISTINCT row, col FROM "
            f"(SELECT * FROM {tag}rh UNION ALL SELECT * FROM {tag}ch) "
            f"WHERE row >= 0 AND row < 40 AND col >= 0 AND col < 40)")

    bsr_offs = ", ".join(f"({HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
    ret["burn_streams_at_roads"] = (
        f"WITH rc AS ({_RAS_C_SQL}), base AS ({_SHAPES_BASE}), "
        f"rs AS (SELECT shape_id, CASE WHEN kind = 0 THEN {_RECT_DUCK} "
        f"ELSE {_DIAM_DUCK} END AS ring FROM base), "
        f"segs AS (SELECT s.x1 AS x1, s.y1 AS y1, s.x2 AS x2, s.y2 AS y2 "
        f"FROM (SELECT shape_id, unnest(list_transform(range(1, len(ring)), "
        f"i -> {{'x1': ring[i].x, 'y1': ring[i].y, 'x2': ring[i+1].x, "
        f"'y2': ring[i+1].y}})) AS s FROM rs)), "
        f"rsegs AS (SELECT y1 AS x1, x1 AS y1, y2 AS x2, x2 AS y2 FROM segs), "
        + _l2r40("st", "segs") + ", " + _l2r40("rd", "rsegs") + ", "
        f"inter AS (SELECT s.row AS irow, s.col AS icol FROM str s "
        f"JOIN rdr r ON s.row = r.row AND s.col = r.col), "
        f"bofs AS (SELECT * FROM (VALUES {bsr_offs}) o(dr, dc)), "
        f"hop AS (SELECT i.irow, i.icol, i.irow + o.dr AS row, "
        f"i.icol + o.dc AS col FROM inter i, bofs o), "
        f"hops AS (SELECT h.irow, h.icol, h.row, h.col FROM hop h "
        f"JOIN str s ON h.row = s.row AND h.col = s.col), "
        f"seen AS (SELECT irow, icol, irow AS row, icol AS col FROM inter "
        f"UNION SELECT * FROM hops), "
        f"minz AS (SELECT s.irow, s.icol, MIN(c.value) AS mz FROM seen s "
        f"JOIN rc c ON s.row = c.row AND s.col = c.col GROUP BY 1, 2), "
        f"clmp AS (SELECT s.row, s.col, MIN(m.mz) AS mz FROM seen s "
        f"JOIN minz m ON s.irow = m.irow AND s.icol = m.icol GROUP BY 1, 2) "
        f"SELECT c.row, c.col, LEAST(c.value, COALESCE(k.mz, c.value)) AS value "
        f"FROM rc c LEFT JOIN clmp k ON c.row = k.row AND c.col = k.col"
    )

    # ---- roto (RemoveOffTerrainObjects): white tophat = min-window then
    # max-window (exact selections) + the tolerance CASE — bit-exact
    roto_offs = ", ".join(f"({dr}, {dc})"
                          for dr in range(-3, 4) for dc in range(-3, 4))
    roto_tol = _m5.tan(_m5.radians(15.0)) * 3 * 10.0
    ret["roto"] = (
        f"WITH rc AS ({_RAS_C_SQL}), "
        f"o7 AS (SELECT * FROM (VALUES {roto_offs}) o(dr, dc)), "
        f"er AS MATERIALIZED (SELECT a.row, a.col, MIN(b.value) AS value "
        f"FROM rc a JOIN o7 o ON TRUE "
        f"JOIN rc b ON b.row = a.row + o.dr AND b.col = a.col + o.dc "
        f"GROUP BY 1, 2), "
        f"op AS MATERIALIZED (SELECT a.row, a.col, MAX(b.value) AS value "
        f"FROM er a JOIN o7 o ON TRUE "
        f"JOIN er b ON b.row = a.row + o.dr AND b.col = a.col + o.dc "
        f"GROUP BY 1, 2) "
        f"SELECT c.row, c.col, CASE WHEN c.value - op.value > {roto_tol!r} "
        f"THEN op.value ELSE c.value END AS value "
        f"FROM rc c JOIN op ON c.row = op.row AND c.col = op.col"
    )

    # ---- fps (FeaturePreservingSmoothing, 2 iterations): per-iteration
    # normals pivot + tangent-plane weighted update; the per-cell SUM
    # over <= 8 neighbor weights reassociates between engines, hence
    # ROUND(6) on the final surface.
    fps_cos = _m5.cos(_m5.radians(15.0))
    fps_sub = [f"COALESCE(zn_{i}, zc)" for i in range(8)]
    fps_fx = (f"(({fps_sub[2]}) - ({fps_sub[4]}) + 2.0 * (({fps_sub[1]}) "
              f"- ({fps_sub[5]})) + ({fps_sub[0]}) - ({fps_sub[6]})) / 80.0")
    fps_fy = (f"(({fps_sub[6]}) - ({fps_sub[4]}) + 2.0 * (({fps_sub[7]}) "
              f"- ({fps_sub[3]})) + ({fps_sub[0]}) - ({fps_sub[2]})) / 80.0")
    fps_nrm = f"SQRT(({fps_fx}) * ({fps_fx}) + ({fps_fy}) * ({fps_fy}) + 1.0)"
    fps_d8 = ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
    fps_zn = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8))
    fps_nb = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)
              if not (dr == 0 and dc == 0)]
    fps_noffs = ", ".join(
        f"({dr}, {dc}, ({dc} * 10.0), ({-dr} * 10.0))" for dr, dc in fps_nb)
    fps_w = (f"CASE WHEN c.nx * j.nx + c.ny * j.ny + c.nz * j.nz >= {fps_cos!r} "
             f"THEN POWER(GREATEST(c.nx * j.nx + c.ny * j.ny + c.nz * j.nz, 0.0), 4.0) "
             f"ELSE 0.0 END")
    fps_pred = "j.value + (-o.ddx * j.nx - o.ddy * j.ny) / j.nz"
    fps_parts = ["fno AS (SELECT * FROM (VALUES " + fps_noffs
                 + ") o(dr, dc, ddx, ddy))",
                 "fd8 AS (SELECT * FROM (VALUES " + fps_d8 + ") o(n, dy, dx))",
                 "fc0 AS MATERIALIZED (SELECT row, col, value FROM rc)"]
    for it in range(1, 3):
        prev = f"fc{it - 1}"
        fps_parts.append(
            f"fsc{it} AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, "
            f"o.n AS n, a.value AS nv FROM {prev} a, fd8 o "
            f"UNION ALL SELECT row, col, 8, value FROM {prev}), "
            f"fpv{it} AS (SELECT row, col, {fps_zn}, "
            f"MAX(CASE WHEN n = 8 THEN nv END) AS zc FROM fsc{it} GROUP BY 1, 2), "
            f"fn{it} AS MATERIALIZED (SELECT p.row, p.col, v.value, "
            f"(-({fps_fx})) / ({fps_nrm}) AS nx, "
            f"(-({fps_fy})) / ({fps_nrm}) AS ny, "
            f"1.0 / ({fps_nrm}) AS nz "
            f"FROM fpv{it} p JOIN {prev} v ON p.row = v.row AND p.col = v.col "
            f"WHERE p.zc IS NOT NULL), "
            f"fu{it} AS (SELECT c.row, c.col, c.value, "
            f"SUM(({fps_pred}) * ({fps_w})) AS sw, SUM({fps_w}) AS tw "
            f"FROM fn{it} c JOIN fno o ON TRUE "
            f"JOIN fn{it} j ON j.row = c.row - o.dr AND j.col = c.col - o.dc "
            f"GROUP BY 1, 2, 3), "
            f"fc{it} AS MATERIALIZED (SELECT row, col, "
            f"CASE WHEN tw > 0.0 THEN (value + sw) / (1.0 + tw) "
            f"ELSE value END AS value FROM fu{it})")
    ret["fps"] = (
        f"WITH rc AS ({_RAS_C_SQL}), " + ", ".join(fps_parts)
        + " SELECT row, col, ROUND(value, 6) AS value FROM fc2"
    )

    # ---- edge_density: normals + 4-neighbor break flags (0/1) + a
    # clamped window mean — bit-exact (flag sums are exact integers, so
    # the II corner-difference and the direct window SUM agree bitwise)
    ed_cos = _m5.cos(_m5.radians(5.0))
    ed_w = ", ".join(f"({dr}, {dc})"
                     for dr in range(-2, 3) for dc in range(-2, 3))
    ret["edge_density"] = (
        f"WITH ras_a AS ({_RAS_A_SQL}), "
        f"fd8 AS (SELECT * FROM (VALUES {fps_d8}) o(n, dy, dx)), "
        f"esc AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, "
        f"o.n AS n, a.value AS nv FROM ras_a a, fd8 o "
        f"UNION ALL SELECT row, col, 8, value FROM ras_a), "
        f"epv AS (SELECT row, col, {fps_zn}, "
        f"MAX(CASE WHEN n = 8 THEN nv END) AS zc FROM esc GROUP BY 1, 2), "
        f"enr AS MATERIALIZED (SELECT row, col, "
        f"(-({fps_fx})) / ({fps_nrm}) AS nx, (-({fps_fy})) / ({fps_nrm}) AS ny, "
        f"1.0 / ({fps_nrm}) AS nz FROM epv WHERE zc IS NOT NULL), "
        f"e4 AS (SELECT * FROM (VALUES (-1, 0), (1, 0), (0, -1), (0, 1)) o(dr, dc)), "
        f"eflag AS MATERIALIZED (SELECT c.row, c.col, "
        f"COALESCE(CAST(MAX(CASE WHEN c.nx * q.nx + c.ny * q.ny + c.nz * q.nz "
        f"< {ed_cos!r} THEN 1 ELSE 0 END) AS DOUBLE), 0.0) AS value "
        f"FROM enr c LEFT JOIN e4 o ON TRUE "
        f"LEFT JOIN enr q ON q.row = c.row - o.dr AND q.col = c.col - o.dc "
        f"GROUP BY 1, 2), "
        f"ewof AS (SELECT * FROM (VALUES {ed_w}) o(dr, dc)) "
        f"SELECT a.row, a.col, ROUND(SUM(b.value) / COUNT(*), 6) AS value "
        f"FROM eflag a JOIN ewof o ON TRUE "
        f"JOIN eflag b ON b.row = a.row + o.dr AND b.col = a.col + o.dc "
        f"GROUP BY 1, 2"
    )

    # ---- drainage_preserving_smoothing: the FPS machinery over the
    # 100x100 raster, one iteration, ROUND(6)
    dps_parts = ["fno AS (SELECT * FROM (VALUES " + fps_noffs
                 + ") o(dr, dc, ddx, ddy))",
                 "fd8 AS (SELECT * FROM (VALUES " + fps_d8 + ") o(n, dy, dx))",
                 "fc0 AS MATERIALIZED (SELECT row, col, value FROM ras_a)"]
    dps_parts.append(
        f"fsc1 AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, "
        f"o.n AS n, a.value AS nv FROM fc0 a, fd8 o "
        f"UNION ALL SELECT row, col, 8, value FROM fc0), "
        f"fpv1 AS (SELECT row, col, {fps_zn}, "
        f"MAX(CASE WHEN n = 8 THEN nv END) AS zc FROM fsc1 GROUP BY 1, 2), "
        f"fn1 AS MATERIALIZED (SELECT p.row, p.col, v.value, "
        f"(-({fps_fx})) / ({fps_nrm}) AS nx, (-({fps_fy})) / ({fps_nrm}) AS ny, "
        f"1.0 / ({fps_nrm}) AS nz "
        f"FROM fpv1 p JOIN fc0 v ON p.row = v.row AND p.col = v.col "
        f"WHERE p.zc IS NOT NULL), "
        f"fu1 AS (SELECT c.row, c.col, c.value, "
        f"SUM(({fps_pred}) * ({fps_w})) AS sw, SUM({fps_w}) AS tw "
        f"FROM fn1 c JOIN fno o ON TRUE "
        f"JOIN fn1 j ON j.row = c.row - o.dr AND j.col = c.col - o.dc "
        f"GROUP BY 1, 2, 3), "
        f"fc1 AS (SELECT row, col, CASE WHEN tw > 0.0 THEN "
        f"(value + sw) / (1.0 + tw) ELSE value END AS value FROM fu1)")
    ret["drainage_preserving_smoothing"] = (
        f"WITH ras_a AS ({_RAS_A_SQL}), " + ", ".join(dps_parts)
        + " SELECT row, col, ROUND(value, 6) AS value FROM fc1"
    )

    # ---- cost_pathway: cost_backlink's (acc, back-code) lexicographic
    # Jacobi (48 unrolled rounds on the 20x20 window) + the backlink
    # walk from the dest cells — bit-exact (selections + integer codes)
    cp_lengths = [diag_c, res_c, diag_c, res_c, diag_c, res_c, diag_c, res_c]
    cp_offs = ", ".join(
        f"({HY.D8_DY[i]}, {HY.D8_DX[i]}, {cp_lengths[i]!r}, {(i + 4) % 8})"
        for i in range(8))
    cp_parts = [
        "cpo AS (SELECT * FROM (VALUES " + cp_offs + ") o(dr, dc, dist, back))",
        "cp0 AS MATERIALIZED (SELECT row, col, value AS c, "
        "CASE WHEN (row * 20 + col) % 67 = 0 THEN 0.0 "
        "ELSE CAST('Infinity' AS DOUBLE) END AS acc, "
        "CASE WHEN (row * 20 + col) % 67 = 0 THEN 0 "
        "ELSE CAST(NULL AS INT) END AS dir FROM c20)",
    ]
    for k in range(1, 49):
        prev = f"cp{k - 1}"
        cp_parts.append(
            f"cpb{k} AS (SELECT s.row + o.dr AS row, s.col + o.dc AS col, "
            f"MIN({{'a': s.acc + (s.c + t.c) / 2.0 * o.dist, 'b': o.back}}) AS b "
            f"FROM {prev} s, cpo o "
            f"JOIN {prev} t ON s.row + o.dr = t.row AND s.col + o.dc = t.col "
            f"GROUP BY 1, 2), "
            f"cp{k} AS MATERIALIZED (SELECT t.row, t.col, t.c, "
            f"CASE WHEN r.b IS NOT NULL AND (r.b).a < t.acc THEN (r.b).a "
            f"ELSE t.acc END AS acc, "
            f"CASE WHEN r.b IS NOT NULL AND ((r.b).a < t.acc OR ((r.b).a = t.acc "
            f"AND (t.dir IS NULL OR (r.b).b < t.dir))) AND NOT (t.dir IS NOT NULL "
            f"AND t.dir = 0 AND t.acc = 0.0) THEN (r.b).b ELSE t.dir END AS dir "
            f"FROM {prev} t LEFT JOIN cpb{k} r ON t.row = r.row AND t.col = r.col)")
    cp_dy = ", ".join(str(v) for v in HY.D8_DY)
    cp_dx = ", ".join(str(v) for v in HY.D8_DX)
    ret["cost_pathway"] = (
        f"WITH RECURSIVE rc AS ({_RAS_C_SQL}), "
        f"c20 AS (SELECT row, col, value + 1.0 AS value FROM rc "
        f"WHERE row < 20 AND col < 20), "
        + ", ".join(cp_parts) + ", "
        f"bl AS MATERIALIZED (SELECT (row * 20 + col) AS src, "
        f"((row + [{cp_dy}][dir + 1]) * 20 + (col + [{cp_dx}][dir + 1])) AS dst "
        f"FROM cp48 WHERE dir IS NOT NULL AND acc <> 0.0), "
        f"dst0 AS (SELECT (row * 20 + col) AS id FROM c20 "
        f"WHERE (row * 20 + col) % 71 = 0), "
        f"wk(id) AS (SELECT id FROM dst0 "
        f"UNION SELECT bl.dst FROM wk JOIN bl ON wk.id = bl.src) "
        f"SELECT id // 20 AS row, id % 20 AS col, "
        f"CAST(1.0 AS DOUBLE) AS value FROM wk"
    )

    # ---- stochastic_depressions (20x20 sub-raster, 2 iterations): the
    # portable-LCG Box-Muller perturbation + the path-max fill
    # characterization per iteration. Bit-exact in the OUTPUT (0/1
    # depression flags / iteration count): libm LN/COS ulps perturb both
    # engines' surfaces identically-in-distribution, and the filled > z0
    # comparison is internally consistent per engine (exact ties
    # between two perturbed cells are measure-zero).
    def _sd_lcg(phase: str) -> str:
        # Spark PMOD == % here (the seed argument is nonnegative)
        return (f"(CAST(((((row * 20 + col) * 4 + {phase} + 42) % 2147483648 "
                f"* 1103515245 + 12345) % 2147483648) AS DOUBLE) "
                f"/ 2147483648.0)")

    sd_iters = []
    for it in range(2):
        u1 = f"({_sd_lcg(str(2 * it))} + 5e-7)"
        u2 = _sd_lcg(str(2 * it + 1))
        noise = f"(SQRT(-2.0 * LN({u1})) * COS(2.0 * PI() * {u2}) * 2.0)"
        sd_iters.append(
            f"p{it} AS MATERIALIZED (SELECT row, col, value + {noise} AS value "
            f"FROM rc20), "
            f"fl{it}(row, col, w) AS ("
            f"SELECT row, col, value FROM p{it} "
            f"WHERE row = 0 OR col = 0 OR row = 19 OR col = 19 "
            f"UNION SELECT n.row, n.col, GREATEST(n.value, f.w) AS w "
            f"FROM fl{it} f JOIN p{it} n "
            f"ON n.row BETWEEN f.row - 1 AND f.row + 1 "
            f"AND n.col BETWEEN f.col - 1 AND f.col + 1 "
            f"AND NOT (n.row = f.row AND n.col = f.col)), "
            f"fm{it} AS (SELECT row, col, MIN(w) AS w FROM fl{it} GROUP BY 1, 2), "
            f"dp{it} AS (SELECT p.row, p.col, "
            f"CAST(CASE WHEN fm{it}.w > p.value THEN 1 ELSE 0 END AS DOUBLE) AS dep "
            f"FROM p{it} p JOIN fm{it} ON p.row = fm{it}.row AND p.col = fm{it}.col)")
    ret["stochastic_depressions"] = (
        f"WITH RECURSIVE rc AS ({_RAS_C_SQL}), "
        f"rc20 AS (SELECT * FROM rc WHERE row < 20 AND col < 20), "
        + ", ".join(sd_iters)
        + " SELECT row, col, SUM(dep) / 2.0 AS value FROM "
        "(SELECT * FROM dp0 UNION ALL SELECT * FROM dp1) GROUP BY 1, 2"
    )

    # ---- kmeans (k=4, 12 Lloyd iterations over b1/b2): the evenly-
    # spread init is closed-form; each stage is a first-wins argmin
    # (ORDER BY d2, cluster) + per-cluster AVG with empty-cluster
    # fallback to the previous centroid. Over-unrolling past Spark's
    # early break is identity. The engines' AVG orderings differ at the
    # last ulp; an assignment flip would need a cell within ~1e-12 of a
    # bisector — accepted risk on integer-valued bands.
    km_parts = [
        "kb AS MATERIALIZED (SELECT a.row, a.col, a.value AS b1, b.value AS b2 "
        "FROM ras_a a JOIN ras_b b ON a.row = b.row AND a.col = b.col)",
        "kst AS (SELECT MIN(b1) AS lo1, MAX(b1) AS hi1, MIN(b2) AS lo2, "
        "MAX(b2) AS hi2 FROM kb)",
        "kc0 AS (SELECT v.i, lo1 + (v.i + 0.5) * (hi1 - lo1) / 4 AS c1, "
        "lo2 + (v.i + 0.5) * (hi2 - lo2) / 4 AS c2 "
        "FROM kst JOIN (VALUES (0), (1), (2), (3)) v(i) ON TRUE)",
    ]
    for t in range(1, 13):
        prev = f"kc{t - 1}"
        km_parts.append(
            f"kd{t} AS (SELECT kb.row, kb.col, c.i, "
            f"(kb.b1 - c.c1) * (kb.b1 - c.c1) + (kb.b2 - c.c2) * (kb.b2 - c.c2) "
            f"AS d2 FROM kb, {prev} c), "
            f"ka{t} AS MATERIALIZED (SELECT row, col, i AS cluster FROM "
            f"(SELECT row, col, i, ROW_NUMBER() OVER (PARTITION BY row, col "
            f"ORDER BY d2, i) AS rk FROM kd{t}) WHERE rk = 1)")
        if t < 12:
            km_parts.append(
                f"km{t} AS (SELECT a.cluster AS i, AVG(kb.b1) AS c1, "
                f"AVG(kb.b2) AS c2 FROM ka{t} a JOIN kb "
                f"ON a.row = kb.row AND a.col = kb.col GROUP BY 1), "
                f"kc{t} AS MATERIALIZED (SELECT p.i, "
                f"COALESCE(m.c1, p.c1) AS c1, COALESCE(m.c2, p.c2) AS c2 "
                f"FROM {prev} p LEFT JOIN km{t} m ON p.i = m.i)")
    ret["kmeans"] = (
        f"WITH ras_a AS ({_RAS_A_SQL}), ras_b AS ({_RAS_B_SQL}), "
        + ", ".join(km_parts)
        + " SELECT row, col, CAST(cluster AS INT) AS cluster FROM ka12"
    )

    # ---- modified_kmeans (8 start clusters, merge_dist 50, 10
    # iterations): the kmeans replay + a per-round merge cascade (lower
    # index absorbs any centroid within merge_dist of an already-kept
    # one) and dense renumbering — the same first-wins/AVG semantics as
    # kmeans, over-unrolling past the early break is identity.
    mk_parts = [
        "kb AS MATERIALIZED (SELECT a.row, a.col, a.value AS b1, b.value AS b2 "
        "FROM ras_a a JOIN ras_b b ON a.row = b.row AND a.col = b.col)",
        "kst AS (SELECT MIN(b1) AS lo1, MAX(b1) AS hi1, MIN(b2) AS lo2, "
        "MAX(b2) AS hi2 FROM kb)",
        "mc0 AS (SELECT v.i, lo1 + (v.i + 0.5) * (hi1 - lo1) / 8 AS c1, "
        "lo2 + (v.i + 0.5) * (hi2 - lo2) / 8 AS c2 FROM kst JOIN "
        "(VALUES (0), (1), (2), (3), (4), (5), (6), (7)) v(i) ON TRUE)",
    ]

    def _mk_dist(i, j):
        return (f"SQRT(0 + (c1_{i} - c1_{j}) * (c1_{i} - c1_{j}) "
                f"+ (c2_{i} - c2_{j}) * (c2_{i} - c2_{j}))")

    for t in range(1, 11):
        prev = f"mc{t - 1}"
        mk_parts.append(
            f"md{t} AS (SELECT kb.row, kb.col, c.i, "
            f"(kb.b1 - c.c1) * (kb.b1 - c.c1) + (kb.b2 - c.c2) * (kb.b2 - c.c2) "
            f"AS d2 FROM kb, {prev} c), "
            f"ma{t} AS MATERIALIZED (SELECT row, col, i AS cluster FROM "
            f"(SELECT row, col, i, ROW_NUMBER() OVER (PARTITION BY row, col "
            f"ORDER BY d2, i) AS rk FROM md{t}) WHERE rk = 1)")
        if t < 10:
            # means with empty-cluster fallback, then the merge cascade
            # over the pivoted (<= 8)-column row, then dense renumbering
            mk_parts.append(
                f"mm{t} AS (SELECT a.cluster AS i, AVG(kb.b1) AS c1, "
                f"AVG(kb.b2) AS c2 FROM ma{t} a JOIN kb "
                f"ON a.row = kb.row AND a.col = kb.col GROUP BY 1), "
                f"mu{t} AS (SELECT p.i, COALESCE(m.c1, p.c1) AS c1, "
                f"COALESCE(m.c2, p.c2) AS c2 FROM {prev} p "
                f"LEFT JOIN mm{t} m ON p.i = m.i), "
                f"mp{t} AS (SELECT "
                + ", ".join(
                    f"MAX(CASE WHEN i = {i} THEN c1 END) AS c1_{i}, "
                    f"MAX(CASE WHEN i = {i} THEN c2 END) AS c2_{i}"
                    for i in range(8))
                + f" FROM mu{t})")
            cur = f"mp{t}"
            for i in range(8):
                conds = [f"c1_{i} IS NOT NULL"]
                for j in range(i):
                    conds.append(
                        f"(NOT kept{j} OR {_mk_dist(i, j)} >= 50.0)")
                mk_parts.append(
                    f"mk{t}_{i} AS (SELECT *, ({' AND '.join(conds)}) "
                    f"AS kept{i} FROM {cur})")
                cur = f"mk{t}_{i}"
            renum = " + ".join(
                f"CASE WHEN kept{j} THEN 1 ELSE 0 END" for j in range(8))
            mk_parts.append(
                f"mc{t} AS MATERIALIZED ("
                + " UNION ALL ".join(
                    f"SELECT ({' + '.join(f'CASE WHEN kept{j} THEN 1 ELSE 0 END' for j in range(i + 1)) } - 1) AS i, "
                    f"c1_{i} AS c1, c2_{i} AS c2 FROM {cur} WHERE kept{i}"
                    for i in range(8))
                + ")")
    ret["modified_kmeans"] = (
        f"WITH ras_a AS ({_RAS_A_SQL}), ras_b AS ({_RAS_B_SQL}), "
        + ", ".join(mk_parts)
        + " SELECT row, col, CAST(cluster AS INT) AS cluster FROM ma10"
    )

    # ---- knn_wbt: the early-stop shell expansion is deterministic and
    # closed-form per query — stopping ring R_q = first Chebyshev bin
    # ring whose cumulative candidate count reaches k; result = top-k by
    # (dist2, tid) among candidates in rings <= R_q (ring 1 = the full
    # 3x3 block, ring = max(cheb, 1)). Bit-exact: dist2 is one
    # sub/mul/add chain, selection is exact.
    from whitebox_tools_spark.functions.cells import frs_cell_expr as _frs
    ret["knn_wbt"] = (
        f"WITH pts AS ({_PTS_SQL}), "
        f"q AS (SELECT record_num AS query_id, x, y, "
        f"{_frs('x', 25.0)} AS qcx, {_frs('y', 25.0)} AS qcy "
        f"FROM pts WHERE record_num % 37 = 0), "
        f"t AS (SELECT record_num AS target_id, x AS tx, y AS ty, "
        f"{_frs('x', 25.0)} AS cx, {_frs('y', 25.0)} AS cy FROM pts), "
        f"cand AS MATERIALIZED (SELECT q.query_id, t.target_id, "
        f"(q.x - t.tx) * (q.x - t.tx) + (q.y - t.ty) * (q.y - t.ty) AS dist2, "
        f"GREATEST(GREATEST(ABS(q.qcx - t.cx), ABS(q.qcy - t.cy)), 1) AS ring "
        f"FROM q, t "
        f"WHERE GREATEST(ABS(q.qcx - t.cx), ABS(q.qcy - t.cy)) <= 48), "
        f"rc AS (SELECT query_id, ring, COUNT(*) AS n FROM cand GROUP BY 1, 2), "
        f"cum AS (SELECT query_id, ring, SUM(n) OVER (PARTITION BY query_id "
        f"ORDER BY ring) AS cn FROM rc), "
        f"stopr AS (SELECT query_id, COALESCE(MIN(CASE WHEN cn >= 4 THEN ring END), "
        f"48) AS r FROM cum GROUP BY 1), "
        f"kept AS (SELECT c.* FROM cand c JOIN stopr s ON c.query_id = s.query_id "
        f"AND c.ring <= s.r), "
        f"rk AS (SELECT query_id, target_id, dist2, ROW_NUMBER() OVER "
        f"(PARTITION BY query_id ORDER BY dist2, target_id) AS knn_rank FROM kept) "
        f"SELECT query_id, target_id, dist2, CAST(knn_rank AS INT) AS knn_rank "
        f"FROM rk WHERE knn_rank <= 4"
    )

    # ---- hypso_tinted_hillshade: multidir hillshade (altitude 45, the
    # oracled ROUND'd fold) + the 32768-bin percentile clip (exact: both
    # elevations and hillshade values are integer-valued) + the palette
    # CASE chain + integer channel packing. The only float risk is a
    # `mixed` value within an ulp of an integer at the final TRUNC.
    h_offs25 = "hoffs25 AS (SELECT * FROM (VALUES " + ", ".join(
        f"({n}, {n // 5 - 2}, {n % 5 - 2})" for n in range(25)) + ") o(n, dr, dc))"
    h_sc25 = ("hsc25 AS (SELECT a.row - o.dr AS row, a.col - o.dc AS col, "
              "o.n AS n, a.value AS nv FROM ras_a a, hoffs25 o)")
    h_pivc = ", ".join(
        f"MAX(CASE WHEN n = {n} THEN nv END) AS z_{n}" for n in range(25))
    h_zzc = ", ".join(
        f"(COALESCE(z_{n}, z_12) * 1.0) AS z{n}" for n in range(25))
    h_piv5 = (f"{h_offs25}, {h_sc25}, "
              f"hpiv AS (SELECT row, col, {h_pivc} FROM hsc25 GROUP BY 1, 2), "
              f"hzz AS (SELECT row, col, {h_zzc} FROM hpiv WHERE z_12 IS NOT NULL)")
    h_terms = " + ".join(
        f"{w!r} * ({FO.hillshade_value_expr(_META100, az, 45.0)})"
        for az, w in zip([225.0, 270.0, 315.0, 360.0], [0.1, 0.4, 0.4, 0.1]))

    def _clip_ctes(tag: str, src: str, vcol: str) -> str:
        # the reference's histogram walk: lo/hi bins where the running
        # count first exceeds n * 0.005, bound = mn + (bin/32768)*rng
        return (
            f"{tag}st AS (SELECT MIN({vcol}) AS mn, MAX({vcol}) AS mx, "
            f"COUNT(*) AS n FROM {src}), "
            f"{tag}bn AS (SELECT LEAST(CAST(TRUNC(({vcol} - mn) / (mx - mn) "
            f"* 32768.0) AS INT), 32767) AS b FROM {src}, {tag}st), "
            f"{tag}g AS (SELECT b, COUNT(*) AS c FROM {tag}bn GROUP BY 1), "
            f"{tag}cu AS (SELECT b, SUM(c) OVER (ORDER BY b) AS ca, "
            f"SUM(c) OVER (ORDER BY b DESC) AS cd FROM {tag}g), "
            f"{tag}lo AS (SELECT COALESCE(MIN(CASE WHEN ca > n * 0.005 THEN b END), 0) "
            f"AS lob FROM {tag}cu, {tag}st GROUP BY n), "
            f"{tag}hi AS (SELECT COALESCE(MAX(CASE WHEN cd > n * 0.005 THEN b END), 32767) "
            f"AS hib FROM {tag}cu, {tag}st GROUP BY n), "
            f"{tag}bd AS (SELECT mn + (lob / 32768.0) * (mx - mn) AS lo, "
            f"mn + (hib / 32768.0) * (mx - mn) AS hi "
            f"FROM {tag}st, {tag}lo, {tag}hi)")

    hyp_ep = "LEAST(GREATEST((value - eb.lo) / (eb.hi - eb.lo), 0.0), 1.0)"
    hyp_hsp = "LEAST(GREATEST((hsv - hb.lo) / (hb.hi - hb.lo), 0.0), 1.0)"
    hyp_p = f"(0.5 + 0.5 * ({hyp_hsp}))"
    hyp_alpha = f"(0.0 * (1.0 - ({hyp_ep})))"
    _stops = FO._HYPSO_PALETTES["atlas"]
    _hk = len(_stops)
    _hstep = 1.0 / (_hk - 1)

    def _hyp_channel(idx: int) -> str:
        expr = f"{_stops[_hk - 1][idx]!r}"
        for i in range(_hk - 2, -1, -1):
            seg = (f"({_stops[i][idx]!r} + (({hyp_ep}) - {i * _hstep!r}) "
                   f"/ {_hstep!r} * ({_stops[i + 1][idx]!r} - {_stops[i][idx]!r}))")
            expr = (f"CASE WHEN ({hyp_ep}) <= {(i + 1) * _hstep!r} "
                    f"THEN FLOOR({seg}) ELSE {expr} END")
        return expr

    _hatm = {0: 185.0, 1: 220.0, 2: 255.0}
    _hshadow = {0: 1.0, 1: 25.0, 2: 50.0}
    hyp_chans = []
    for idx, name in ((0, "red"), (1, "green"), (2, "blue")):
        mixed = (f"(({_hshadow[idx]!r} * (1.0 - {hyp_p}) + ({_hyp_channel(idx)}) "
                 f"* {hyp_p}) * (1.0 - {hyp_alpha}) + {hyp_alpha} * {_hatm[idx]!r})")
        hyp_chans.append(
            f"LEAST(CAST(TRUNC({mixed}) AS BIGINT), 255) AS {name}")
    ret["hypso_tinted_hillshade"] = (
        f"WITH ras_a AS ({_RAS_A_SQL}), {h_piv5}, "
        f"hsvt AS MATERIALIZED (SELECT row, col, ROUND({h_terms}) AS hsv FROM hzz), "
        + _clip_ctes("he", "ras_a", "value") + ", "
        + _clip_ctes("hh", "hsvt", "hsv") + ", "
        f"jj AS (SELECT a.row, a.col, a.value, h.hsv FROM ras_a a "
        f"JOIN hsvt h ON a.row = h.row AND a.col = h.col), "
        f"px AS (SELECT row, col, " + ", ".join(hyp_chans)
        + " FROM jj, hebd eb, hhbd hb) "
        f"SELECT row, col, red, green, blue, "
        f"CAST(4278190080 + blue * 65536 + green * 256 + red AS DOUBLE) AS value "
        f"FROM px"
    )

    # ---- minimum_bounding_box / polygon_long_axis / polygon_short_axis:
    # a faithful replay of _wbt_min_box — all 4 hull-edge candidates per
    # shape with the kernel's exact rotate/extent arithmetic, strict-<
    # first-wins argmin (ROW_NUMBER by (metric, edge)), then the corner /
    # axis trig. ROUND(6) absorbs ATAN2/COS/SIN libm ulps.
    ra = _m5.pi / 2.0
    vx_case = ("CASE WHEN kind = 0 THEN CASE v.vi WHEN 0 THEN cx - hw "
               "WHEN 1 THEN cx + hw WHEN 2 THEN cx + hw ELSE cx - hw END "
               "ELSE CASE v.vi WHEN 0 THEN cx - hw WHEN 1 THEN cx "
               "WHEN 2 THEN cx + hw ELSE cx END END")
    vy_case = ("CASE WHEN kind = 0 THEN CASE v.vi WHEN 0 THEN cy - hh "
               "WHEN 1 THEN cy - hh WHEN 2 THEN cy + hh ELSE cy + hh END "
               "ELSE CASE v.vi WHEN 0 THEN cy WHEN 1 THEN cy - hh "
               "WHEN 2 THEN cy ELSE cy + hh END END")
    mbb = (
        f"base AS ({_SHAPES_BASE}), "
        f"hv AS MATERIALIZED (SELECT shape_id, v.vi, {vx_case} AS vx, "
        f"{vy_case} AS vy FROM base JOIN (VALUES (0), (1), (2), (3)) v(vi) ON TRUE), "
        f"mid AS (SELECT shape_id, MIN(vx) + (MAX(vx) - MIN(vx)) / 2.0 AS midx, "
        f"MIN(vy) + (MAX(vy) - MIN(vy)) / 2.0 AS midy FROM hv GROUP BY 1), "
        f"ed AS (SELECT a.shape_id, a.vi AS ei, "
        f"-ATAN2(b.vy - a.vy, b.vx - a.vx) AS psi "
        f"FROM hv a JOIN hv b ON a.shape_id = b.shape_id "
        f"AND b.vi = (a.vi + 1) % 4), "
        f"rot AS (SELECT e.shape_id, e.ei, e.psi, "
        f"(v.vx - m.midx) * COS(e.psi) - (v.vy - m.midy) * SIN(e.psi) AS xr, "
        f"(v.vx - m.midx) * SIN(e.psi) + (v.vy - m.midy) * COS(e.psi) AS yr "
        f"FROM ed e JOIN hv v ON e.shape_id = v.shape_id "
        f"JOIN mid m ON e.shape_id = m.shape_id), "
        f"axx AS (SELECT shape_id, ei, MIN(psi) AS psi, "
        f"ABS(MAX(xr) - MIN(xr)) AS ax1, ABS(MAX(yr) - MIN(yr)) AS ax2, "
        f"MIN(xr) AS xrmin, MAX(yr) AS yrmax FROM rot GROUP BY 1, 2), "
        f"win AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY shape_id "
        f"ORDER BY ax1 * ax2, ei) AS rk FROM axx), "
        f"wb AS (SELECT shape_id, psi, ax1, ax2, "
        f"CASE WHEN ax1 > ax2 THEN -psi ELSE -({ra!r} + psi) END AS slope, "
        f"GREATEST(ax1, ax2) AS la, LEAST(ax1, ax2) AS sa, "
        f"(xrmin + ax1 / 2.0) AS cxr, (yrmax - ax2 / 2.0) AS cyr "
        f"FROM win WHERE rk = 1), "
        f"ctr AS MATERIALIZED (SELECT w.shape_id, w.slope, w.la, w.sa, "
        f"m.midx + w.cxr * COS(-w.psi) - w.cyr * SIN(-w.psi) AS bx, "
        f"m.midy + w.cxr * SIN(-w.psi) + w.cyr * COS(-w.psi) AS by "
        f"FROM wb w JOIN mid m ON w.shape_id = m.shape_id)"
    )
    corner_rows = " UNION ALL ".join(
        f"SELECT shape_id, {k} AS corner_idx, "
        f"ROUND(bx {s1} la / 2.0 * COS(slope) {s2} sa / 2.0 * COS({ra!r} + slope), 6) AS x, "
        f"ROUND(by {s1} la / 2.0 * SIN(slope) {s2} sa / 2.0 * SIN({ra!r} + slope), 6) AS y, "
        f"ROUND(la, 6) AS long_axis, ROUND(sa, 6) AS short_axis FROM ctr"
        for k, (s1, s2) in enumerate([("+", "+"), ("+", "-"),
                                      ("-", "-"), ("-", "+")]))
    ret["min_bounding_box"] = (
        f"WITH {mbb} SELECT shape_id, CAST(corner_idx AS INT) AS corner_idx, "
        f"x, y, long_axis, short_axis FROM ({corner_rows})"
    )
    ret["polygon_long_axis"] = (
        f"WITH {mbb} SELECT shape_id, "
        f"ROUND(bx - la / 2.0 * COS(slope), 6) AS x1, "
        f"ROUND(by - la / 2.0 * SIN(slope), 6) AS y1, "
        f"ROUND(bx + la / 2.0 * COS(slope), 6) AS x2, "
        f"ROUND(by + la / 2.0 * SIN(slope), 6) AS y2 FROM ctr"
    )
    ret["polygon_short_axis"] = (
        f"WITH {mbb} SELECT shape_id, "
        f"ROUND(bx - sa / 2.0 * COS(slope + {ra!r}), 6) AS x1, "
        f"ROUND(by - sa / 2.0 * SIN(slope + {ra!r}), 6) AS y1, "
        f"ROUND(bx + sa / 2.0 * COS(slope + {ra!r}), 6) AS x2, "
        f"ROUND(by + sa / 2.0 * SIN(slope + {ra!r}), 6) AS y2 FROM ctr"
    )

    # ---- deviation_from_regional_direction: RMA node sums over the
    # closed 5-vertex ring + the mbb replay's long/short axes + the
    # doubled-angle circular mean; ROUND(6) absorbs SUM reassociation
    # and trig libm ulps
    ring5 = (f"rs5 AS (SELECT shape_id, CASE WHEN kind = 0 THEN {_RECT_DUCK} "
             f"ELSE {_DIAM_DUCK} END AS ring FROM base), "
             f"n5 AS (SELECT shape_id, ring[v.i].x AS x, ring[v.i].y AS y "
             f"FROM rs5 JOIN (VALUES (1), (2), (3), (4), (5)) v(i) ON TRUE)")
    dv_sxx = "(sxsq / n - (sx / n) * (sx / n))"
    dv_syy = "(sysq / n - (sy / n) * (sy / n))"
    dv_sign = "(sxy - (sx / n) * sy)"
    dv_rma = (f"CASE WHEN {dv_sign} < 0.0 THEN ATAN(-SQRT(({dv_syy}) / ({dv_sxx}))) "
              f"ELSE ATAN(SQRT(({dv_syy}) / ({dv_sxx}))) END")
    dv_reg = ("(CASE WHEN -DEGREES(ATAN2(ss, sc) / 2.0) + 90.0 < 0.0 "
              "THEN 180.0 + (-DEGREES(ATAN2(ss, sc) / 2.0) + 90.0) "
              "ELSE -DEGREES(ATAN2(ss, sc) / 2.0) + 90.0 END)")
    dv_slope = ("CASE WHEN DEGREES(rma_rad) < 0.0 "
                "THEN 90.0 + -1.0 * DEGREES(rma_rad) "
                "ELSE 90.0 - DEGREES(rma_rad) END")
    dv_dev = (f"CASE WHEN ({dv_slope}) - ({dv_reg}) < 0.0 "
              f"THEN ({dv_slope}) - ({dv_reg}) + 180.0 "
              f"ELSE ({dv_slope}) - ({dv_reg}) END")
    ret["deviation_from_regional_direction"] = (
        f"WITH {mbb}, {ring5}, "
        f"ag5 AS (SELECT shape_id, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy, "
        f"SUM(x * y) AS sxy, SUM(x * x) AS sxsq, SUM(y * y) AS sysq "
        f"FROM n5 GROUP BY 1), "
        f"rma5 AS (SELECT shape_id, CASE WHEN ({dv_sxx}) > 0.0 "
        f"THEN ({dv_rma}) ELSE 0.0 END AS rma_rad FROM ag5), "
        f"perw AS (SELECT r.shape_id, r.rma_rad, "
        f"CASE WHEN 1.0 - (CASE WHEN c.la > 0.0 THEN c.sa / c.la ELSE 1.0 END) "
        f">= 0.25 THEN c.la * (1.0 - (CASE WHEN c.la > 0.0 THEN c.sa / c.la "
        f"ELSE 1.0 END)) ELSE 0.0 END AS w "
        f"FROM rma5 r JOIN ctr c ON r.shape_id = c.shape_id), "
        f"sums AS (SELECT SUM(SIN(2.0 * rma_rad) * w) AS ss, "
        f"SUM(COS(2.0 * rma_rad) * w) AS sc FROM perw) "
        f"SELECT shape_id, ROUND(CASE WHEN ({dv_dev}) > 90.0 "
        f"THEN 180.0 - ({dv_dev}) ELSE ({dv_dev}) END, 6) AS deviation "
        f"FROM perw, sums"
    )

    return ret


def _r5c_oracles() -> dict[str, str]:
    """Round-5 oracle upgrades (batch 3): fill_burn — previously
    rows-only ("iterative epsilon fill"). The whole pipeline is
    replayable: the lines_to_raster crossing math at META40, a 4x2
    unrolled Zhang-Suen thinning (fixture fixpoint at iteration 3;
    extra phases are identity), the -10000 burn, a 44-round
    MATERIALIZED Jacobi epsilon fill (fixture fixpoint at round 39;
    the eps fixpoint is unique so Jacobi == the tiled priority-flood
    bitwise — tests/test_demedit.py), and the min_diff - 1 stream
    translation. eps replays the operator's 10^-(12 - digits(zmax))
    via an exact '1e-NN' literal (Python pow(10, -n) == the parsed
    literal for this range)."""
    ret: dict[str, str] = {}
    M = _META40

    # lines_to_raster at META40 (clone of the META100 oracle's math)
    r_hi = f"GREATEST(LEAST({M.row_from_y_expr('LEAST(y1, y2)')}, 39), 0)"
    r_lo = f"GREATEST(LEAST({M.row_from_y_expr('GREATEST(y1, y2)')}, 39), 0)"
    c_lo = f"GREATEST(LEAST({M.col_from_x_expr('LEAST(x1, x2)')}, 39), 0)"
    c_hi = f"GREATEST(LEAST({M.col_from_x_expr('GREATEST(x1, x2)')}, 39), 0)"
    y_r = M.y_from_row_expr("tr.range")
    x_c = M.x_from_col_expr("tc.range")
    x_prime = f"(x1 + (({y_r}) - y1) / (y2 - y1) * (x2 - x1))"
    y_prime = f"(y1 + (({x_c}) - x1) / (x2 - x1) * (y2 - y1))"
    l2r = (
        f"base AS ({_SHAPES_BASE}), "
        f"rs AS (SELECT shape_id, CASE WHEN kind = 0 THEN {_RECT_DUCK} "
        f"ELSE {_DIAM_DUCK} END AS ring FROM base), "
        f"segs AS (SELECT s.x1 AS x1, s.y1 AS y1, s.x2 AS x2, s.y2 AS y2 FROM "
        f"(SELECT shape_id, unnest(list_transform(range(1, len(ring)), "
        f"i -> {{'x1': ring[i].x, 'y1': ring[i].y, 'x2': ring[i+1].x, "
        f"'y2': ring[i+1].y}})) AS s FROM rs)), "
        f"b AS (SELECT x1, y1, x2, y2, {r_lo} AS r0, {r_hi} AS r1, "
        f"{c_lo} AS c0, {c_hi} AS c1 FROM segs), "
        f"rh AS (SELECT tr.range AS row, {M.col_from_x_expr(x_prime)} AS col "
        f"FROM b JOIN range(0, 40) tr ON tr.range >= r0 AND tr.range <= r1 "
        f"WHERE ({y_r}) >= LEAST(y1, y2) AND ({y_r}) <= GREATEST(y1, y2) AND y2 <> y1), "
        f"ch AS (SELECT {M.row_from_y_expr(y_prime)} AS row, tc.range AS col "
        f"FROM b JOIN range(0, 40) tc ON tc.range >= c0 AND tc.range <= c1 "
        f"WHERE ({x_c}) >= LEAST(x1, x2) AND ({x_c}) <= GREATEST(x1, x2) AND x2 <> x1), "
        f"strm AS (SELECT DISTINCT row, col FROM "
        f"(SELECT * FROM rh UNION ALL SELECT * FROM ch) "
        f"WHERE row >= 0 AND row < 40 AND col >= 0 AND col < 40)"
    )
    offs_d8 = ", ".join(f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
    ring = [7, 0, 1, 2, 3, 4, 5, 6]
    p_ring = [f"(CASE WHEN COALESCE(zn_{ring[i]}, 0.0) > 0.0 THEN 1 ELSE 0 END)"
              for i in range(8)]
    bsum = " + ".join(p_ring)
    trans = " + ".join(
        f"(CASE WHEN {p_ring[i]} = 0 AND {p_ring[(i + 1) % 8]} = 1 THEN 1 ELSE 0 END)"
        for i in range(8))
    znk = ", ".join(f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8))
    parts = [
        f"rc AS MATERIALIZED ({_RAS_C_SQL})",
        l2r,
        "lofs AS (SELECT * FROM (VALUES " + offs_d8 + ") o(n, dy, dx))",
        "th0 AS MATERIALIZED (SELECT r.row, r.col, "
        "CASE WHEN s.row IS NOT NULL THEN 1.0 ELSE 0.0 END AS value "
        "FROM rc r LEFT JOIN strm s ON r.row = s.row AND r.col = s.col)",
    ]
    step = 0
    for _ in range(4):
        for phase in (0, 1):
            if phase == 0:
                c1 = f"({p_ring[0]} * {p_ring[2]} * {p_ring[4]}) = 0"
                c2 = f"({p_ring[2]} * {p_ring[4]} * {p_ring[6]}) = 0"
            else:
                c1 = f"({p_ring[0]} * {p_ring[2]} * {p_ring[6]}) = 0"
                c2 = f"({p_ring[0]} * {p_ring[4]} * {p_ring[6]}) = 0"
            prev, step = f"th{step}", step + 1
            parts.append(
                f"sc{step} AS (SELECT t.row - o.dy AS row, t.col - o.dx AS col, "
                f"o.n AS n, t.value AS nv FROM {prev} t, lofs o "
                f"UNION ALL SELECT row, col, 8, value FROM {prev}), "
                f"pv{step} AS (SELECT row, col, {znk}, "
                f"MAX(CASE WHEN n = 8 THEN nv END) AS zc FROM sc{step} GROUP BY 1, 2), "
                f"th{step} AS MATERIALIZED (SELECT row, col, "
                f"CAST(CASE WHEN zc > 0.0 AND ({bsum}) BETWEEN 2 AND 6 "
                f"AND ({trans}) = 1 AND {c1} AND {c2} THEN 0.0 "
                f"ELSE zc END AS DOUBLE) AS value "
                f"FROM pv{step} WHERE zc IS NOT NULL)")
    thin = f"th{step}"
    parts.append(
        "epsv AS MATERIALIZED (SELECT CAST('1e-' || "
        "CAST(12 - LENGTH(CAST(CAST(FLOOR(MAX(value)) AS BIGINT) AS VARCHAR)) "
        "AS VARCHAR) AS DOUBLE) AS e FROM rc)")
    parts.append(
        f"w0 AS MATERIALIZED (SELECT r.row, r.col, "
        f"CASE WHEN t.value > 0.0 THEN r.value - 10000.0 ELSE r.value END AS z, "
        f"CASE WHEN r.row = 0 OR r.col = 0 OR r.row = 39 OR r.col = 39 THEN "
        f"CASE WHEN t.value > 0.0 THEN r.value - 10000.0 ELSE r.value END "
        f"ELSE 'infinity'::DOUBLE END AS w "
        f"FROM rc r JOIN {thin} t ON r.row = t.row AND r.col = t.col)")
    parts.append(
        "noffs8 AS (SELECT * FROM (VALUES (-1,0),(1,0),(0,-1),(0,1),"
        "(-1,-1),(-1,1),(1,-1),(1,1)) o(dr, dc))")
    n_rounds = 44
    for i in range(1, n_rounds + 1):
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT w.row, w.col, w.z, "
            f"LEAST(w.w, GREATEST(w.z, COALESCE(mn.m, 'infinity'::DOUBLE))) AS w "
            f"FROM w{i-1} w LEFT JOIN (SELECT t.row + o.dr AS row, "
            f"t.col + o.dc AS col, MIN(t.w + (SELECT e FROM epsv)) AS m "
            f"FROM w{i-1} t, noffs8 o GROUP BY 1, 2) mn "
            f"ON w.row = mn.row AND w.col = mn.col)")
    wn = f"w{n_rounds}"
    final = (
        f"adj AS (SELECT MIN(r.value - f.w) - 1.0 AS a FROM {wn} f "
        f"JOIN rc r ON f.row = r.row AND f.col = r.col "
        f"JOIN {thin} t ON f.row = t.row AND f.col = t.col WHERE t.value > 0.0) "
        f"SELECT f.row, f.col, CASE WHEN t.value > 0.0 THEN f.w + (SELECT a FROM adj) "
        f"ELSE f.w END AS value FROM {wn} f JOIN {thin} t "
        f"ON f.row = t.row AND f.col = t.col"
    )
    ret["fill_burn"] = "WITH " + ", ".join(parts) + ", " + final

    # ---- ann_lsh: the sign-LSH plan is fully deterministic — plane
    # weights are seeded constants (similarity.lsh_buckets, RandomState
    # 42), codes and cosines are element-order folds (_cosine_fold_udf),
    # and rank ties break on (cosine DESC, target_id). Replay: literal
    # planes -> fold-order code bits -> 1-bit multiprobe equi-join ->
    # fold cosine -> ROW_NUMBER. Verified bit-exact (498/498 rows).
    import numpy as _np
    planes = _np.random.RandomState(42).randn(8, 64)
    plane_rows = ", ".join(
        "(%d, [%s])" % (p, ", ".join(repr(float(planes[p, j])) for j in range(64)))
        for p in range(8))
    pdot = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(range(1, 65), j -> CAST(embedding[j] AS DOUBLE) * pl.w[j])), "
            "(a, b) -> a + b)")
    dot_l = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
             "list_transform(range(1, len(qv) + 1), "
             "i -> CAST(qv[i] AS DOUBLE) * CAST(tv[i] AS DOUBLE))), "
             "(a, b) -> a + b)")
    nq_l = ("sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(qv, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), "
            "(a, b) -> a + b))")
    nt_l = ("sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(tv, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), "
            "(a, b) -> a + b))")
    masks = ", ".join(["(0)"] + [f"({1 << b})" for b in range(8)])
    ret["ann_lsh"] = (
        f"WITH pl AS (SELECT * FROM (VALUES {plane_rows}) p(p, w)), "
        f"codes AS (SELECT vec_id, CAST(SUM(CASE WHEN d > 0.0 THEN (1 << p) "
        f"ELSE 0 END) AS BIGINT) AS code "
        f"FROM (SELECT vec_id, pl.p AS p, {pdot} AS d FROM embeddings, pl) "
        f"GROUP BY vec_id), "
        f"mk AS (SELECT * FROM (VALUES {masks}) m(msk)), "
        f"probes AS (SELECT c.vec_id AS query_id, xor(c.code, m.msk) AS bucket "
        f"FROM codes c, mk m WHERE c.vec_id % 10 = 0), "
        f"tb AS (SELECT vec_id AS target_id, code AS bucket FROM codes), "
        f"prs AS (SELECT query_id, target_id FROM probes JOIN tb USING (bucket) "
        f"WHERE query_id <> target_id), "
        f"qv_t AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings), "
        f"tv_t AS (SELECT vec_id AS target_id, embedding AS tv FROM embeddings), "
        f"cand AS (SELECT query_id, target_id, ({dot_l}) / (({nq_l}) * ({nt_l})) AS cosine "
        f"FROM prs JOIN qv_t USING (query_id) JOIN tv_t USING (target_id)), "
        f"r AS (SELECT query_id, target_id, cosine, "
        f"ROW_NUMBER() OVER (PARTITION BY query_id "
        f"ORDER BY cosine DESC, target_id) AS sim_rank FROM cand) "
        f"SELECT query_id, target_id, cosine, CAST(sim_rank AS BIGINT) AS sim_rank "
        f"FROM r WHERE sim_rank <= 10"
    )

    # ---- ann_ivf: the coarse quantizer is now a deterministic function
    # (similarity._coarse_centroids): MD5(seed:id)-permuted sample, a
    # second MD5(seed+1:id) permutation for the initial centroids, and
    # five Lloyd rounds in strict-element-order folds (_fold_dots /
    # _fold_norms, sample-order member means, first-max assignment).
    # Replay: the same permutations, five unrolled rounds of
    # (assign -> elementwise member fold -> normalize), then the
    # n_probe=1 target / n_probe=12 query assignments and the fold
    # cosine top-k. Registered query: 16 centroids, probe 12, k 10,
    # seed 42, queries vec_id % 10 = 0.
    nfold = ("sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
             "list_transform({v}, x -> x * x)), (a, b) -> a + b))")
    dfold = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
             "list_transform(range(1, 65), j -> {a}[j] * {b}[j])), "
             "(a, b) -> a + b)")
    def _ivf_trainer_parts(src: str) -> list[str]:
        # the _coarse_centroids replay: MD5-permuted sample (first
        # n_sample = 16*64 = 1024 rows — the srk filter is a no-op when
        # the corpus is smaller), second-permutation init, five Lloyd
        # rounds in strict fold order
        parts = [
            "e64 AS MATERIALIZED (SELECT vec_id, "
            "list_transform(embedding, v -> CAST(v AS DOUBLE)) AS ev "
            f"FROM {src})",
            "nall AS MATERIALIZED (SELECT vec_id, list_transform(ev, "
            f"x -> x / GREATEST({nfold.format(v='ev')}, 1e-12)) AS nv FROM e64)",
            "smp AS MATERIALIZED (SELECT vec_id, nv, ROW_NUMBER() OVER "
            "(ORDER BY MD5(CONCAT('42', ':', CAST(vec_id AS STRING)))) AS srk "
            "FROM nall)",
            "c0 AS MATERIALIZED (SELECT c, nv AS cv FROM (SELECT "
            "ROW_NUMBER() OVER (ORDER BY MD5(CONCAT('43', ':', "
            "CAST(vec_id AS STRING)))) - 1 AS c, nv FROM smp "
            "WHERE srk <= 1024) WHERE c < 16)",
        ]
        for i in range(1, 6):
            d = dfold.format(a="n.nv", b="c.cv")
            parts.append(
                f"asg{i} AS (SELECT srk, nv, c FROM (SELECT n.srk, n.nv, c.c, "
                f"ROW_NUMBER() OVER (PARTITION BY n.srk ORDER BY ({d}) DESC, "
                f"c.c) AS rk FROM smp n, c{i-1} c WHERE n.srk <= 1024) "
                f"WHERE rk = 1)",
            )
            parts.append(
                f"up{i} AS (SELECT c, list_transform(vm, x -> x / "
                f"GREATEST({nfold.format(v='vm')}, 1e-12)) AS cv FROM ("
                f"SELECT c, list_transform(list_reduce(list_prepend("
                "list_transform(range(1, 65), j -> CAST(0.0 AS DOUBLE)), "
                "list(nv ORDER BY srk)), (a, v) -> list_transform(a, "
                "(x, j) -> x + v[j])), x -> x / CAST(COUNT(*) AS DOUBLE)) AS vm "
                f"FROM asg{i} GROUP BY c))",
            )
            parts.append(
                f"c{i} AS MATERIALIZED (SELECT p.c, COALESCE(u.cv, p.cv) AS cv "
                f"FROM c{i-1} p LEFT JOIN up{i} u ON u.c = p.c)",
            )
        return parts

    ivf_parts = _ivf_trainer_parts("embeddings")
    da = dfold.format(a="n.nv", b="c.cv")
    ivf_parts += [
        "tasg AS MATERIALIZED (SELECT vec_id AS target_id, c FROM (SELECT "
        f"n.vec_id, c.c, ROW_NUMBER() OVER (PARTITION BY n.vec_id "
        f"ORDER BY ({da}) DESC, c.c) AS rk FROM nall n, c5 c) WHERE rk = 1)",
        "qasg AS (SELECT vec_id AS query_id, c FROM (SELECT n.vec_id, c.c, "
        f"ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY ({da}) DESC, "
        f"c.c) AS rk FROM nall n, c5 c WHERE n.vec_id % 10 = 0) "
        "WHERE rk <= 12)",
        "iprs AS (SELECT query_id, target_id FROM qasg JOIN tasg USING (c) "
        "WHERE query_id <> target_id)",
        "iqv AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings)",
        "itv AS (SELECT vec_id AS target_id, embedding AS tv FROM embeddings)",
        f"icand AS (SELECT query_id, target_id, ({dot_l}) / "
        f"(({nq_l}) * ({nt_l})) AS cosine "
        "FROM iprs JOIN iqv USING (query_id) JOIN itv USING (target_id))",
        "ir AS (SELECT query_id, target_id, cosine, ROW_NUMBER() OVER "
        "(PARTITION BY query_id ORDER BY cosine DESC, target_id) "
        "AS sim_rank FROM icand)",
    ]
    ret["ann_ivf"] = (
        "WITH " + ", ".join(ivf_parts) +
        " SELECT query_id, target_id, cosine, "
        "CAST(sim_rank AS BIGINT) AS sim_rank FROM ir WHERE sim_rank <= 10"
    )

    # ---- semdedup: SemDeDup (Abbas et al. 2023) — the same trainer
    # chain over the doubled corpus (originals + exact 0.5x-scaled
    # copies), n_probe=1 assignment WITH the fold sim, in-cluster
    # pairwise fold cosine >= 0.98, recursive-CTE CC, keeper = lowest
    # ROUND(cent_sim, 6) per component (ties by id).
    da2 = dfold.format(a="n.nv", b="c.cv")
    sem_parts = [
        "corp AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings "
        "UNION ALL SELECT vec_id + 100000 AS vec_id, "
        "list_transform(embedding, x -> CAST(x * CAST(0.5 AS FLOAT) "
        "AS FLOAT)) AS embedding FROM embeddings)",
    ] + _ivf_trainer_parts("corp") + [
        f"vasg AS MATERIALIZED (SELECT vec_id AS id, c, s FROM (SELECT "
        f"n.vec_id, c.c, ({da2}) AS s, ROW_NUMBER() OVER (PARTITION BY "
        f"n.vec_id ORDER BY ({da2}) DESC, c.c) AS rk FROM nall n, c5 c) "
        f"WHERE rk = 1)",
        "sprs AS (SELECT a.id AS id_a, b.id AS id_b FROM vasg a "
        "JOIN vasg b ON a.c = b.c WHERE a.id < b.id)",
        "sqv AS (SELECT vec_id AS id_a, embedding AS qv FROM corp)",
        "stv AS (SELECT vec_id AS id_b, embedding AS tv FROM corp)",
        f"sdup AS (SELECT id_a, id_b FROM (SELECT id_a, id_b, "
        f"({dot_l}) / (({nq_l}) * ({nt_l})) AS cosine "
        f"FROM sprs JOIN sqv USING (id_a) JOIN stv USING (id_b)) "
        f"WHERE cosine >= 0.98)",
        "edges AS (SELECT id_a AS a, id_b AS b FROM sdup "
        "UNION SELECT id_b, id_a FROM sdup)",
        "reach(id, r) AS (SELECT a, a FROM edges "
        "UNION SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)",
        "comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id)",
        "verd AS (SELECT v.id, v.c, v.s, COALESCE(p.comp, v.id) AS cluster_id "
        "FROM vasg v LEFT JOIN comp p ON p.id = v.id)",
        "rked AS (SELECT id, c, s, cluster_id, ROW_NUMBER() OVER ("
        "PARTITION BY cluster_id ORDER BY ROUND(s, 6), id) AS kr FROM verd)",
    ]
    ret["semdedup"] = (
        "WITH RECURSIVE " + ", ".join(sem_parts) +
        " SELECT id AS vec_id, CAST(c AS INT) AS centroid, "
        "ROUND(s, 6) AS cent_sim, cluster_id, "
        "CAST(CASE WHEN kr = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_kept "
        "FROM rked"
    )

    # ---- pq_codes: the PQ encode stage of IVF-PQ is the same
    # deterministic-trainer recipe as ann_ivf, per subspace: MD5(42:id)
    # sample (first 8*64 = 512 rows), MD5(43:id) init permutation shared
    # across subspaces, then per-subspace Lloyd rounds with strict-fold
    # squared-Euclidean assignment (first-min ties) and sample-order
    # member-mean updates (NO re-normalization — PQ centroids are
    # subvector means). Registered config m=4, n_codes=8, iters=2 keeps
    # the replay at 4 x 2 unrolled rounds. Every discrete decision is
    # an argmin over the same correctly-rounded IEEE fold on both
    # engines, so the codes are bit-exact.
    M_PQ, NC_PQ, IT_PQ, DSUB = 4, 8, 2, 16
    sqfold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(1, {d1}), j -> "
        "({a} - {b}) * ({a} - {b}))), (x, y) -> x + y)"
    )
    pq_parts = [
        "e64 AS MATERIALIZED (SELECT vec_id, "
        "list_transform(embedding, v -> CAST(v AS DOUBLE)) AS ev "
        "FROM embeddings)",
        "nall AS MATERIALIZED (SELECT vec_id, list_transform(ev, "
        f"x -> x / GREATEST({nfold.format(v='ev')}, 1e-12)) AS nv FROM e64)",
        "smp AS MATERIALIZED (SELECT * FROM (SELECT vec_id, nv, "
        "ROW_NUMBER() OVER (ORDER BY MD5(CONCAT('42', ':', "
        "CAST(vec_id AS STRING)))) AS srk FROM nall) "
        f"WHERE srk <= {NC_PQ * 64})",
        "ini AS MATERIALIZED (SELECT c, nv FROM (SELECT "
        "ROW_NUMBER() OVER (ORDER BY MD5(CONCAT('43', ':', "
        "CAST(vec_id AS STRING)))) - 1 AS c, nv FROM smp) "
        f"WHERE c < {NC_PQ})",
    ]
    zeros16 = f"list_transform(range(1, {DSUB + 1}), j -> CAST(0.0 AS DOUBLE))"
    for s in range(M_PQ):
        off = s * DSUB
        sub = (f"list_transform(range(1, {DSUB + 1}), "
               f"j -> {{src}}[j + {off}])")
        pq_parts.append(
            f"ss{s} AS MATERIALIZED (SELECT srk, {sub.format(src='nv')} "
            "AS sv FROM smp)")
        pq_parts.append(
            f"pc{s}_0 AS (SELECT c, {sub.format(src='nv')} AS cv FROM ini)")
        for i in range(1, IT_PQ + 1):
            d = sqfold.format(d1=DSUB + 1, a="n.sv[j]", b="c.cv[j]")
            pq_parts.append(
                f"pa{s}_{i} AS (SELECT srk, sv, c FROM (SELECT n.srk, "
                f"n.sv, c.c, ROW_NUMBER() OVER (PARTITION BY n.srk "
                f"ORDER BY ({d}) ASC, c.c) AS rk FROM ss{s} n, "
                f"pc{s}_{i-1} c) WHERE rk = 1)")
            pq_parts.append(
                f"pu{s}_{i} AS (SELECT c, list_transform(list_reduce("
                f"list_prepend({zeros16}, list(sv ORDER BY srk)), "
                "(a, v) -> list_transform(a, (x, j) -> x + v[j])), "
                "x -> x / CAST(COUNT(*) AS DOUBLE)) AS cv "
                f"FROM pa{s}_{i} GROUP BY c)")
            pq_parts.append(
                f"pc{s}_{i} AS MATERIALIZED (SELECT p.c, "
                f"COALESCE(u.cv, p.cv) AS cv FROM pc{s}_{i-1} p "
                f"LEFT JOIN pu{s}_{i} u ON u.c = p.c)")
        dall = sqfold.format(d1=DSUB + 1, a=f"n.nv[j + {off}]", b="c.cv[j]")
        pq_parts.append(
            f"code{s} AS MATERIALIZED (SELECT vec_id, CAST(c AS INT) AS "
            f"code_{s} FROM (SELECT n.vec_id, c.c, ROW_NUMBER() OVER "
            f"(PARTITION BY n.vec_id ORDER BY ({dall}) ASC, c.c) AS rk "
            f"FROM nall n, pc{s}_{IT_PQ} c) WHERE rk = 1)")
    ret["pq_codes"] = (
        "WITH " + ", ".join(pq_parts) +
        " SELECT vec_id, " +
        ", ".join(f"code_{s}" for s in range(M_PQ)) +
        " FROM code0" +
        "".join(f" JOIN code{s} USING (vec_id)" for s in range(1, M_PQ))
    )

    # ---- ann_ivfpq_exact: the full IVF-PQ search gated end to end on
    # a replay-sized config (16 coarse centroids / n_probe 4, m=4
    # subspaces x 8 codes x 2 Lloyd rounds — the same trainer configs
    # the ann_ivf and pq_codes oracles already replay bit-exact),
    # shortlist 20, k 5. Composes the two proven chains plus the ADC
    # stage: approx = sum_s fold_j qn[s*16+j] * codebook_s[code_s][j]
    # with the kernel's exact summation order (0-seeded left fold per
    # subspace, subspaces accumulated ascending), so the shortlist
    # ranks, the exact fold-cosine re-rank, and every tie-break are
    # bit-identical. Gates the ann_topk_ivfpq code path the big
    # rows-only query (m=16) runs.
    coarse_core = ivf_parts[:-6]  # through c5 + tasg; drop ann_ivf tail
    pq_renamed = [re.sub(r"\bsmp\b", "psmp", part) for part in pq_parts[2:]]
    off_terms = []
    for s in range(M_PQ):
        off = s * DSUB
        off_terms.append(
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {DSUB + 1}), "
            f"j -> q.nv[j + {off}] * b{s}.cv[j])), (x, y) -> x + y)")
    approx = off_terms[0]
    for t in off_terms[1:]:
        approx = f"({approx}) + ({t})"
    twin_parts = coarse_core + pq_renamed + [
        "xqasg AS (SELECT vec_id AS query_id, c FROM (SELECT n.vec_id, "
        f"c.c, ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY ({da}) "
        "DESC, c.c) AS rk FROM nall n, c5 c WHERE n.vec_id % 10 = 0) "
        "WHERE rk <= 4)",
        "xcand AS (SELECT query_id, target_id FROM xqasg JOIN tasg "
        "USING (c) WHERE query_id <> target_id)",
        "xcodes AS MATERIALIZED (SELECT vec_id AS target_id, "
        + ", ".join(f"code_{s}" for s in range(M_PQ)) + " FROM code0"
        + "".join(f" JOIN code{s} USING (vec_id)" for s in range(1, M_PQ))
        + ")",
        "xadc AS MATERIALIZED (SELECT c.query_id, c.target_id, "
        f"{approx} AS approx FROM xcand c "
        "JOIN (SELECT vec_id AS query_id, nv FROM nall) q USING (query_id) "
        "JOIN xcodes t USING (target_id) "
        + " ".join(f"JOIN pc{s}_{IT_PQ} b{s} ON b{s}.c = t.code_{s}"
                   for s in range(M_PQ)) + ")",
        "xshort AS (SELECT query_id, target_id FROM (SELECT query_id, "
        "target_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY "
        "approx DESC, target_id) AS rk FROM xadc) WHERE rk <= 20)",
        "xqv AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings)",
        "xtv AS (SELECT vec_id AS target_id, embedding AS tv FROM embeddings)",
        f"xc AS (SELECT query_id, target_id, ({dot_l}) / "
        f"(({nq_l}) * ({nt_l})) AS cosine FROM xshort "
        "JOIN xqv USING (query_id) JOIN xtv USING (target_id))",
        "xr AS (SELECT query_id, target_id, cosine, ROW_NUMBER() OVER "
        "(PARTITION BY query_id ORDER BY cosine DESC, target_id) "
        "AS sim_rank FROM xc)",
    ]
    ret["ann_ivfpq_exact"] = (
        "WITH " + ", ".join(twin_parts) +
        " SELECT query_id, target_id, cosine, "
        "CAST(sim_rank AS BIGINT) AS sim_rank FROM xr WHERE sim_rank <= 5"
    )

    # ---- contours (chained): structural replay. Chains == connected
    # components of the bit-exact marching-squares segment set (every
    # fixture vertex degree <= 2 — no walk ambiguity), so per-chain
    # aggregates and the min-vertex line numbering are exact. reach
    # recursion over DENSE_RANK vertex ids; MATERIALIZED CTEs (the
    # unmaterialized form re-inlines the 4-way marching-squares join
    # and runs ~100x slower).
    csegs = _contour_oracle()
    ret["contours"] = (
        f"WITH csegs AS MATERIALIZED ({csegs}), "
        "e2 AS MATERIALIZED (SELECT level, ax, ay, bx, by FROM csegs "
        "UNION ALL SELECT level, bx AS ax, by AS ay, ax AS bx, ay AS by FROM csegs), "
        "verts AS (SELECT DISTINCT level, ax AS x, ay AS y FROM e2), "
        "vid AS MATERIALIZED (SELECT level, x, y, "
        "DENSE_RANK() OVER (PARTITION BY level ORDER BY x, y) AS id FROM verts), "
        "ed AS MATERIALIZED (SELECT e2.level, a.id AS src, b.id AS dst FROM e2 "
        "JOIN vid a ON a.level = e2.level AND a.x = e2.ax AND a.y = e2.ay "
        "JOIN vid b ON b.level = e2.level AND b.x = e2.bx AND b.y = e2.by), "
        "rch AS MATERIALIZED (WITH RECURSIVE reach(level, id, r) AS ("
        "SELECT level, id, id FROM vid UNION "
        "SELECT e.level, e.dst, reach.r FROM reach "
        "JOIN ed e ON e.level = reach.level AND e.src = reach.id) "
        "SELECT * FROM reach), "
        "lab AS MATERIALIZED (SELECT level, id, MIN(r) AS rep FROM rch GROUP BY 1, 2), "
        "deg AS (SELECT level, src AS id, COUNT(*) AS d FROM ed GROUP BY 1, 2), "
        "sgc AS (SELECT s.level, l.rep, COUNT(*) AS nseg FROM csegs s "
        "JOIN vid a ON a.level = s.level AND a.x = s.ax AND a.y = s.ay "
        "JOIN lab l ON l.level = s.level AND l.id = a.id GROUP BY 1, 2), "
        "vst AS (SELECT v.level, l.rep, "
        "SUM(CASE WHEN d.d = 1 THEN 1 ELSE 0 END) AS n_deg1, "
        "MIN(v.x) AS xmin, MIN(v.y) AS ymin, MAX(v.x) AS xmax, MAX(v.y) AS ymax, "
        "MIN(CASE WHEN v.id = l.rep THEN v.x END) AS x0, "
        "MIN(CASE WHEN v.id = l.rep THEN v.y END) AS y0 "
        "FROM vid v JOIN lab l ON l.level = v.level AND l.id = v.id "
        "JOIN deg d ON d.level = v.level AND d.id = v.id GROUP BY 1, 2) "
        "SELECT v.level, "
        "CAST(ROW_NUMBER() OVER (PARTITION BY v.level ORDER BY v.rep) - 1 AS BIGINT) AS line_id, "
        "CAST(s.nseg + 1 AS BIGINT) AS n_vertices, "
        "CAST(CASE WHEN v.n_deg1 = 0 THEN 1 ELSE 0 END AS INT) AS closed, "
        "v.x0, v.y0, v.xmin, v.ymin, v.xmax, v.ymax "
        "FROM vst v JOIN sgc s ON s.level = v.level AND s.rep = v.rep"
    )
    return ret


def _eigen_stage_ctes(from_cte: str, key_cols: str,
                      pre: str = "") -> tuple[str, str]:
    """CTE fragment running the NORMALS_STAGES closed-form eigen solve
    over `from_cte`(key_cols..., arr) where arr is the canonical
    id-sorted (qid, qx, qy, qz) list: fold-order moment sums
    (list_reduce mirrors Spark AGGREGATE) then the stage strings
    verbatim. Returns (ctes, final_cte)."""
    folds = ", ".join(
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(arr, v -> {t})), (acc, v) -> acc + v) AS {nm}"
        for nm, t in LI.NORMALS_FOLD_TERMS)
    stages, prev = "", f"{pre}s0"
    for i, stage in enumerate(LI.NORMALS_STAGES, 1):
        exprs = ", ".join(f"{e} AS {nm}" for nm, e in stage)
        stages += f", {pre}s{i} AS (SELECT *, {exprs} FROM {prev})"
        prev = f"{pre}s{i}"
    ctes = (
        f"{pre}s0 AS (SELECT {key_cols}, CAST(len(arr) AS DOUBLE) AS n, "
        f"{folds} FROM {from_cte})" + stages
    )
    return ctes, prev


def _normals_chain_ctes(pts_name: str, radius: float,
                        pre: str = "") -> tuple[str, str, str]:
    """CTE fragment replaying operators/lidar.py's closed-form normals
    over `pts_name`(pid, x, y, z): FRS-equivalent pair generation (exact
    distance predicate with the engine's `radius*radius` literal; the
    coarse cell blocking only prunes a superset), canonical id-sorted
    left folds for the moments (list_reduce mirrors Spark AGGREGATE),
    then the NORMALS_STAGES strings verbatim. Returns (ctes, pairs_cte,
    final_cte); `pre` prefixes CTE names so two chains can coexist."""
    r, r2 = repr(float(radius)), repr(float(radius) * float(radius))
    stage_ctes, prev = _eigen_stage_ctes(f"{pre}grp", "pid", pre=pre)
    ctes = (
        f"{pre}b AS MATERIALIZED (SELECT pid, x, y, z, "
        f"CAST(FLOOR(x / {r}) AS BIGINT) AS cx, "
        f"CAST(FLOOR(y / {r}) AS BIGINT) AS cy FROM {pts_name}), "
        f"{pre}offs AS (SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),"
        "(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dx, dy)), "
        f"{pre}pn AS MATERIALIZED (SELECT a.pid, a.z AS az, q.pid AS qid, "
        f"q.x AS qx, q.y AS qy, q.z AS qz "
        f"FROM {pre}b a JOIN {pre}offs ON TRUE "
        f"JOIN {pre}b q ON q.cx = a.cx + dx AND q.cy = a.cy + dy "
        "WHERE a.pid <> q.pid AND "
        f"(a.x - q.x) * (a.x - q.x) + (a.y - q.y) * (a.y - q.y) <= {r2}), "
        f"{pre}pr AS (SELECT pid, qid, qx, qy, qz FROM {pre}pn "
        f"UNION ALL SELECT pid, pid AS qid, x AS qx, y AS qy, z AS qz "
        f"FROM {pre}b), "
        f"{pre}grp AS (SELECT pid, list(struct_pack(qid := qid, qx := qx, "
        "qy := qy, qz := qz) ORDER BY qid) AS arr "
        f"FROM {pre}pr GROUP BY pid), "
        + stage_ctes
    )
    return ctes, f"{pre}pn", prev


def _segmentation_ctes(pts_name: str, radius: float, norm_diff: float,
                       maxzdiff: float, pre: str = "") -> tuple[str, str]:
    """CTE fragment replaying lidar_segmentation over `pts_name`
    (pid, x, y, z): the closed-form normals chain, the engine's exact
    edge predicate (same maxzdiff / cos(norm_diff) literals), and the
    min-reachable-id component labels — order-free, so a recursive
    transitive closure replaces the engine's frontier propagation
    (which converges to the same fixpoint). Returns (ctes, final_cte)
    where final has (pid, segment_id). Must be used under a
    WITH RECURSIVE header."""
    import math

    cos_t = repr(math.cos(math.radians(norm_diff)))
    chain, pairs, nrm = _normals_chain_ctes(pts_name, radius, pre=pre)
    ctes = (
        chain + ", "
        f"{pre}e AS MATERIALIZED (SELECT p.pid AS a_id, p.qid AS b_id "
        f"FROM {pairs} p JOIN {nrm} a ON a.pid = p.pid "
        f"JOIN {nrm} b ON b.pid = p.qid "
        f"WHERE ABS(p.az - p.qz) <= {repr(float(maxzdiff))} AND "
        f"ABS(a.nx * b.nx + a.ny * b.ny + a.nz * b.nz) >= {cos_t}), "
        f"{pre}tc(p, q) AS (SELECT pid AS p, pid AS q FROM {pts_name} "
        f"UNION SELECT {pre}tc.p, e.b_id AS q FROM {pre}tc "
        f"JOIN {pre}e e ON e.a_id = {pre}tc.q), "
        f"{pre}lbl AS (SELECT p AS pid, MIN(q) AS lbl FROM {pre}tc "
        "GROUP BY p), "
        f"{pre}seg AS (SELECT pid, CAST(DENSE_RANK() OVER (ORDER BY lbl) "
        f"AS BIGINT) AS segment_id FROM {pre}lbl)"
    )
    return ctes, f"{pre}seg"


def _lidar_normals_oracles() -> dict[str, str]:
    """lidar_normals / lidar_hillshade / lidar_segmentation /
    lidar_seg_filter: full deterministic replays of the closed-form
    eigen plan (operators/lidar.py NORMALS_STAGES — the DuckDB text
    reuses those exact stage strings, so every +,-,*,/ and SQRT is the
    same IEEE op sequence; the only libm calls are ACOS/COS in the
    eigenvalue stage, ATAN/SIN in the hillshade projection, and the
    cos(norm_diff) literals both engines interpolate from Python,
    absorbed by ROUND(6) / the shade quantizer / the edge-threshold
    margin). Segmentation labels are min-reachable-id components —
    order-free, replayed as a recursive closure instead of the engine's
    frontier rounds."""
    import math

    radius = 30.0
    base = (f"pts0 AS ({_PTS_SQL}), pts AS (SELECT record_num AS pid, "
            "x, y, value AS z FROM pts0)")
    chain, _pairs, prev = _normals_chain_ctes("pts", radius)
    normals = (
        f"WITH {base}, {chain} SELECT pid AS record_num, "
        f"ROUND(nx, 6) AS nx, ROUND(ny, 6) AS ny, ROUND(nz, 6) AS nz "
        f"FROM {prev}"
    )
    # hillshade projection: same literals as operators/lidar.py
    # lidar_hillshade(azimuth=315, altitude=30)
    az = math.radians(315.0 - 90.0)
    sin_t = math.sin(math.radians(30.0))
    cos_t = math.cos(math.radians(30.0))
    fx, fy = "(-nx / nz)", "(-ny / nz)"
    ts = f"SQRT({fx} * {fx} + {fy} * {fy})"
    aspect = (f"RADIANS(180.0 - DEGREES(ATAN({fy} / {fx})) "
              f"+ 90.0 * ({fx} / ABS({fx})))")
    hs = (f"({ts} / SQRT(1.0 + {ts} * {ts})) "
          f"* (({sin_t!r} / NULLIF({ts}, 0.0)) "
          f"- {cos_t!r} * SIN({az!r} - {aspect}))")
    hillshade = (
        f"WITH {base}, {chain} SELECT pid AS record_num, "
        f"CASE WHEN nz = 0.0 THEN CAST(127 AS BIGINT) ELSE "
        f"CAST(FLOOR(CASE WHEN {fx} = 0.0 THEN 127.5 "
        f"ELSE GREATEST({hs} * 255.0, 0.0) END) AS BIGINT) END "
        f"* 256 AS shade FROM {prev}"
    )
    # lidar_segmentation: 500-point subset, radius 40, norm_diff 20,
    # maxzdiff 80 (the registry query's literals)
    seg_base = (f"pts0 AS ({_PTS_SQL}), pts AS (SELECT record_num AS pid, "
                "x, y, value AS z FROM pts0 WHERE record_num % 20 = 0)")
    seg_ctes, seg_final = _segmentation_ctes("pts", 40.0, 20.0, 80.0)
    segmentation = (
        f"WITH RECURSIVE {seg_base}, {seg_ctes} "
        f"SELECT pid AS record_num, segment_id FROM {seg_final}"
    )
    # lidar_seg_filter: white-top-hat residual (exact MIN/MAX over the
    # 2r disc, mirrored from lidar_segmentation_based_filter) + the
    # segmentation closure over (x, y, residual); ground = components
    # containing a residual == 0.0 seed (exact float equality — both
    # engines compute z - max(min(z)) over identical sets)
    th_r = 80.0  # 2 * radius(40)
    thr, thr2 = repr(th_r), repr(th_r * th_r)
    filt = (
        "WITH RECURSIVE "
        f"pts0 AS ({_PTS_SQL}), "
        "ptsf AS (SELECT record_num AS pid, x, y, value AS z FROM pts0 "
        "WHERE record_num < 2000), "
        f"hb AS MATERIALIZED (SELECT pid, x, y, z, "
        f"CAST(FLOOR(x / {thr}) AS BIGINT) AS cx, "
        f"CAST(FLOOR(y / {thr}) AS BIGINT) AS cy FROM ptsf), "
        "hoffs AS (SELECT dx, dy FROM (VALUES (-1,-1),(-1,0),(-1,1),"
        "(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) o(dx, dy)), "
        "hpr AS MATERIALIZED (SELECT a.pid, q.pid AS qid, q.z AS qz "
        "FROM hb a JOIN hoffs ON TRUE "
        "JOIN hb q ON q.cx = a.cx + dx AND q.cy = a.cy + dy "
        "WHERE a.pid <> q.pid AND "
        f"(a.x - q.x) * (a.x - q.x) + (a.y - q.y) * (a.y - q.y) <= {thr2}), "
        "nmin AS MATERIALIZED (SELECT pid, MIN(v) AS nmin FROM "
        "(SELECT pid, qz AS v FROM hpr "
        "UNION ALL SELECT pid, z AS v FROM ptsf) GROUP BY pid), "
        "dil AS MATERIALIZED (SELECT pid, MAX(v) AS dil FROM "
        "(SELECT p.pid, m.nmin AS v FROM hpr p JOIN nmin m ON m.pid = p.qid "
        "UNION ALL SELECT pid, nmin AS v FROM nmin) GROUP BY pid), "
        "rpts AS MATERIALIZED (SELECT p.pid, p.x, p.y, p.z - d.dil AS z "
        "FROM ptsf p JOIN dil d ON d.pid = p.pid), "
        + _segmentation_ctes("rpts", 40.0, 10.0, 5.0, pre="g")[0] + ", "
        "ground AS (SELECT DISTINCT s.segment_id FROM gseg s "
        "JOIN rpts r ON r.pid = s.pid WHERE r.z = 0.0) "
        "SELECT p.pid AS record_num, "
        "CAST(CASE WHEN g.segment_id IS NOT NULL THEN 2 ELSE 1 END AS INT) "
        "AS classification "
        "FROM ptsf p JOIN gseg s ON s.pid = p.pid "
        "LEFT JOIN ground g ON g.segment_id = s.segment_id"
    )
    # ransac_planes: hash-permutation sampling (MD5(seed:it:pid) is the
    # same digest both engines), closed-form plane fit per (cell, iter),
    # exact integer inlier counts, earliest-best-iteration tie rule —
    # the registry query's literals (radius 100, 20 iters, 5 samples,
    # threshold 30, model_size 8, seed 42, record_num % 10 = 0)
    d_ok_m = ("ABS((b.px - m.mx) * m.nx + (b.py - m.my) * m.ny + "
              "(b.pz - m.mz) * m.nz) <= 30.0")
    r_stage, r_final = _eigen_stage_ctes("rgrp", "cx, cy, it", pre="r")
    ransac = (
        f"WITH pts0 AS ({_PTS_SQL}), "
        "ptsr AS (SELECT record_num AS pid, x AS px, y AS py, "
        "value AS pz FROM pts0 WHERE record_num % 10 = 0), "
        f"rbase AS MATERIALIZED (SELECT pid, px, py, pz, "
        f"{frs_cell_expr('px', 100.0)} AS cx, "
        f"{frs_cell_expr('py', 100.0)} AS cy FROM ptsr), "
        "rits AS (SELECT range AS it FROM range(0, 20)), "
        "rrk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cx, cy, it "
        "ORDER BY MD5(CONCAT('42', ':', CAST(it AS STRING), ':', "
        "CAST(pid AS STRING)))) AS rk FROM rbase, rits), "
        "rgrp AS (SELECT cx, cy, it, list(struct_pack(qid := pid, "
        "qx := px, qy := py, qz := pz) ORDER BY pid) AS arr "
        "FROM rrk WHERE rk <= 5 GROUP BY cx, cy, it "
        "HAVING COUNT(*) >= 5), "
        + r_stage + ", "
        f"rmodels AS MATERIALIZED (SELECT cx, cy, it, mx, my, mz, "
        f"nx, ny, nz FROM {r_final}), "
        "rscored AS (SELECT m.cx, m.cy, m.it, m.mx, m.my, m.mz, "
        "m.nx, m.ny, m.nz, "
        f"SUM(CASE WHEN {d_ok_m} THEN 1 ELSE 0 END) AS cnt "
        "FROM rbase b JOIN rmodels m ON m.cx = b.cx AND m.cy = b.cy "
        "GROUP BY m.cx, m.cy, m.it, m.mx, m.my, m.mz, m.nx, m.ny, m.nz "
        "HAVING SUM(CASE WHEN " + d_ok_m + " THEN 1 ELSE 0 END) >= 8), "
        "rbest AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER "
        "(PARTITION BY cx, cy ORDER BY cnt DESC, it) AS brk FROM rscored) "
        "WHERE brk = 1) "
        "SELECT b.pid AS record_num, b.cx * 1000003 + b.cy AS plane_id, "
        f"CASE WHEN m.nx IS NOT NULL AND {d_ok_m} THEN TRUE ELSE FALSE END "
        "AS is_planar "
        "FROM rbase b LEFT JOIN rbest m ON m.cx = b.cx AND m.cy = b.cy"
    )
    # rooftop: PIP building tag (the pip_tag per-polygon verdicts) +
    # the segmentation chain over tagged points (radius 40, norm_diff
    # 10, maxzdiff 1 — lidar_rooftop_analysis defaults)
    from whitebox_tools_spark.functions import geometry_sql as GS
    tag_selects = " UNION ALL ".join(
        f"SELECT record_num, x, y, value, CAST({pid} AS BIGINT) AS "
        f"polygon_id FROM ptsk WHERE {GS.inside_feature_sql(sh, ho)}"
        for pid, sh, ho in _POLYS)
    rf_ctes, rf_final = _segmentation_ctes("rfp", 40.0, 10.0, 1.0, pre="f")
    rooftop = (
        f"WITH RECURSIVE pts0 AS ({_PTS_SQL}), "
        "ptsk AS (SELECT * FROM pts0 WHERE record_num % 7 = 0), "
        f"tagged AS MATERIALIZED ({tag_selects}), "
        "rfp AS (SELECT record_num AS pid, x, y, value AS z FROM tagged), "
        + rf_ctes + " "
        "SELECT t.record_num, t.polygon_id, s.segment_id AS facet_id "
        f"FROM tagged t JOIN {rf_final} s ON s.pid = t.record_num"
    )
    return {"lidar_normals": normals, "lidar_hillshade": hillshade,
            "lidar_segmentation": segmentation, "lidar_seg_filter": filt,
            "ransac_planes": ransac, "rooftop": rooftop}


def _geomorphons_oracle() -> str:
    """geomorphons upgraded R -> O by a MONOTONE RESTATEMENT: every
    kernel decision compares atan2 elevation angles (zenith/nadir
    maxima, |angle| vs the flat threshold, |nadir| vs |zenith|), and
    atan2(dz, dist) is strictly monotone in dz/dist for dist > 0 — so
    the replay compares RATIOS against tan(threshold) instead of
    angles, using only correctly-rounded +,-,*,/ (bitwise identical in
    DuckDB and numpy; DuckDB's ATAN2 itself differs from numpy's in the
    last ulp on ~30% of this domain, so a direct angle replay would be
    unsound). Ratio ties ARE angle ties (same doubles in, same atan2
    double out), so tie behavior is identical; the one residual hazard
    — two DISTINCT ratios collapsing to the SAME numpy angle, flipping
    an |nadir| < |zenith| verdict — is ruled out on this fixture by
    tests/test_tin_exact_oracle.py::test_geomorphons_ratio_restatement,
    which runs the angle kernel and the ratio restatement side by side
    over all 9,604 cells. Straight rays leave the convex grid at most
    once, so the kernel's sticky off-grid flag reduces to per-sample
    bounds checks; flat directions are excluded before the sentinel
    angles can matter."""
    import math as _m

    from whitebox_tools_spark.operators.visibility import (_GEO_CLASSES,
                                                           _GEO_DX, _GEO_DY)

    resx = resy = 10.0  # _META100
    r_search, skip = 8, 1
    rows_n = cols_n = 100
    search_length = r_search * (resx + resy) / 2.0
    tan_thresh = _m.tan(_m.radians(1.0))

    def _dl(v: float) -> str:
        # e0 suffix: DuckDB parses bare decimal literals as DECIMAL,
        # which quantizes 17-digit constants; the exponent form parses
        # as DOUBLE like Spark/numpy
        s = repr(float(v))
        return s if ("e" in s or "E" in s) else s + "e0"

    svals = []
    for di in range(8):
        dy, dx = _GEO_DY[di], _GEO_DX[di]
        step_len = _m.hypot(dx * resx, dy * resy)
        d = skip
        while d * step_len < search_length:
            svals.append(f"({di}, {d * dy}, {d * dx}, {_dl(d * step_len)})")
            d += 1
    cvals = ", ".join(
        f"({cn}, {cp}, {int(_GEO_CLASSES[cn, cp])})"
        for cn in range(9) for cp in range(9))
    tt = _dl(tan_thresh)
    return (
        f"WITH ras AS ({_RAS_A_SQL}), "
        f"steps AS (SELECT * FROM (VALUES {', '.join(svals)}) s(di, dr, dc, dist)), "
        f"clt AS (SELECT * FROM (VALUES {cvals}) c(cn, cp, cls)), "
        f"core AS (SELECT row, col, value AS z0 FROM ras "
        f"WHERE row BETWEEN {skip} AND {rows_n - 1 - skip} "
        f"AND col BETWEEN {skip} AND {cols_n - 1 - skip}), "
        "samp AS (SELECT c.row, c.col, c.z0, s.di, s.dist, "
        "c.row + s.dr AS pr, c.col + s.dc AS pc FROM core c, steps s), "
        "sval AS (SELECT m.row, m.col, m.di, "
        f"CASE WHEN m.pr < 0 OR m.pr > {rows_n - 1} "
        f"OR m.pc < 0 OR m.pc > {cols_n - 1} THEN 1 ELSE 0 END AS off, "
        f"CASE WHEN m.pr < 0 OR m.pr > {rows_n - 1} "
        f"OR m.pc < 0 OR m.pc > {cols_n - 1} THEN NULL "
        "ELSE (r2.value - m.z0) / m.dist END AS ratio "
        "FROM samp m LEFT JOIN ras r2 ON r2.row = m.pr AND r2.col = m.pc), "
        "pdir AS (SELECT row, col, di, MAX(off) AS flat, "
        "MAX(ratio) AS zenr, MIN(ratio) AS nadr FROM sval GROUP BY 1, 2, 3), "
        "cnt AS (SELECT row, col, "
        f"SUM(CASE WHEN flat = 0 AND (ABS(zenr) > {tt} OR ABS(nadr) > {tt}) "
        "AND ABS(nadr) < ABS(zenr) THEN 1 ELSE 0 END) AS cp, "
        f"SUM(CASE WHEN flat = 0 AND (ABS(zenr) > {tt} OR ABS(nadr) > {tt}) "
        "AND ABS(nadr) > ABS(zenr) THEN 1 ELSE 0 END) AS cn "
        "FROM pdir GROUP BY 1, 2) "
        "SELECT c.row, c.col, CAST(l.cls AS DOUBLE) AS value "
        "FROM cnt c JOIN clt l ON l.cn = c.cn AND l.cp = c.cp"
    )


def _polygonize_exact_oracle() -> str:
    """Closed-form replay of polygonize over the degree-2 rectangle
    fixture (_PGX_RECTS): the forced face walk emits each rectangle's
    CCW ring from its lower-left (min quantized node) corner, so the
    oracle enumerates (ll, lr, ur, ul) per rectangle with the exact
    integer-coordinate shoelace area; poly_id ranks the lower-left
    keys (unique per face, so the successor tiebreak never fires)."""
    vals = ", ".join(f"({sid}, {x0!r}, {y0!r}, {x1!r}, {y1!r})"
                     for sid, x0, y0, x1, y1 in _PGX_RECTS)
    return (
        f"WITH rects(sid, x0, y0, x1, y1) AS (VALUES {vals}), "
        "ranked AS (SELECT *, CAST(DENSE_RANK() OVER (ORDER BY x0, y0) AS INT) "
        "AS poly_id FROM rects), "
        "verts AS (SELECT poly_id, (x1 - x0) * (y1 - y0) AS area, v.vi, "
        "CASE v.vi WHEN 0 THEN x0 WHEN 1 THEN x1 WHEN 2 THEN x1 ELSE x0 END AS x, "
        "CASE v.vi WHEN 0 THEN y0 WHEN 1 THEN y0 WHEN 2 THEN y1 ELSE y1 END AS y "
        "FROM ranked, (VALUES (0), (1), (2), (3)) v(vi)) "
        "SELECT poly_id, CAST(vi AS INT) AS vertex_idx, x, y, area FROM verts"
    )


def _box_metrics_exact_oracle() -> str:
    """Order-free DuckDB restatement of box_metrics over the audited
    pentagon fixture: min-area box = strict min over the 5 edge-flush
    boxes (projection arithmetic: +,-,*,/ and the correctly-rounded
    SQRT — the kernel's hypot/BLAS-dot differ only in the last ulps,
    absorbed by the ROUNDed outputs with audited half-grid margins);
    MEC = min radius over the 20 candidate circles (10 diametral pairs
    + 10 circumcircles) containing all five vertices within the
    kernel's 1e-9 eps — the true MEC is always a candidate and no
    containing circle is smaller, so the min is exact; margins audited
    in tests/test_box_metrics_oracle.py."""
    from itertools import combinations

    N = 5
    vcols = ", ".join(f"x{k}, y{k}" for k in range(N))
    shoe = " + ".join(
        f"(x{i} * y{(i + 1) % N} - x{(i + 1) % N} * y{i})" for i in range(N))
    area = f"farea AS (SELECT shape_id, ABS({shoe}) / 2.0 AS a FROM verts)"
    edges = " UNION ALL ".join(
        f"SELECT shape_id, {i} AS eidx, "
        f"x{(i + 1) % N} - x{i} AS dx, y{(i + 1) % N} - y{i} AS dy, "
        f"{vcols} FROM verts" for i in range(N))
    pu = lambda ux, uy: ", ".join(
        f"x{k} * {ux} + y{k} * {uy}" for k in range(N))
    proj = (
        "eu AS (SELECT *, dx / SQRT(dx * dx + dy * dy) AS ux, "
        "dy / SQRT(dx * dx + dy * dy) AS uy FROM edges), "
        f"proj AS (SELECT shape_id, eidx, ux, uy, "
        f"GREATEST({pu('ux', 'uy')}) - LEAST({pu('ux', 'uy')}) AS du, "
        f"GREATEST({pu('(-uy)', 'ux')}) - LEAST({pu('(-uy)', 'ux')}) AS dv "
        "FROM eu), "
        "best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY shape_id "
        "ORDER BY du * dv, eidx) AS rk FROM proj), "
        "bm AS (SELECT shape_id, "
        "CASE WHEN du >= dv THEN 1.0 - dv / du ELSE 1.0 - du / dv END AS elongation, "
        "FMOD(FMOD(90.0 - DEGREES(CASE WHEN du >= dv THEN ATAN2(uy, ux) "
        "ELSE ATAN2(ux, -uy) END), 180.0) + 180.0, 180.0) AS orientation "
        "FROM best WHERE rk = 1)"
    )
    cands = []
    for i, j in combinations(range(N), 2):
        cands.append(
            f"SELECT shape_id, (x{i} + x{j}) / 2.0 AS ccx, "
            f"(y{i} + y{j}) / 2.0 AS ccy, "
            f"SQRT((x{i} - (x{i} + x{j}) / 2.0) * (x{i} - (x{i} + x{j}) / 2.0) + "
            f"(y{i} - (y{i} + y{j}) / 2.0) * (y{i} - (y{i} + y{j}) / 2.0)) AS r, "
            f"{vcols} FROM verts")
    for i, j, k in combinations(range(N), 3):
        d = (f"(2.0 * (x{i} * (y{j} - y{k}) + x{j} * (y{k} - y{i}) "
             f"+ x{k} * (y{i} - y{j})))")
        s = lambda t: f"(x{t} * x{t} + y{t} * y{t})"
        ux = (f"(({s(i)} * (y{j} - y{k}) + {s(j)} * (y{k} - y{i}) "
              f"+ {s(k)} * (y{i} - y{j})) / {d})")
        uy = (f"(({s(i)} * (x{k} - x{j}) + {s(j)} * (x{i} - x{k}) "
              f"+ {s(k)} * (x{j} - x{i})) / {d})")
        cands.append(
            f"SELECT shape_id, {ux} AS ccx, {uy} AS ccy, "
            f"SQRT((x{i} - {ux}) * (x{i} - {ux}) + (y{i} - {uy}) * (y{i} - {uy})) AS r, "
            f"{vcols} FROM verts WHERE {d} != 0.0")
    contain = " AND ".join(
        f"SQRT((x{k} - ccx) * (x{k} - ccx) + (y{k} - ccy) * (y{k} - ccy)) "
        "<= r + 1e-9" for k in range(N))
    mec = (
        f"cand AS ({' UNION ALL '.join(cands)}), "
        f"mec AS (SELECT shape_id, MIN(r) AS r FROM cand WHERE {contain} "
        "GROUP BY shape_id)"
    )
    return (
        f"WITH verts AS ({_bmx_verts_sql()}), {area}, "
        f"edges AS ({edges}), {proj}, {mec} "
        "SELECT b.shape_id, ROUND(b.elongation, 6) AS elongation, "
        "ROUND(b.orientation, 4) AS orientation, "
        "ROUND(1.0 - (fa.a / (PI() * m.r * m.r)), 6) AS rc_circle "
        "FROM bm b JOIN farea fa USING (shape_id) JOIN mec m USING (shape_id)"
    )


def _nn_exact_oracle() -> str:
    """DuckDB replay of Sibson natural-neighbour gridding over the
    audited 48-point fixture (see _q_natural_neighbour_exact). Every
    DISCRETE decision is bitwise-identical by shared expression text
    (circumcircle membership, barycentric containment, boundary-edge
    count, degree-2 closure, new-circumcenter degeneracy) — margins
    >= 7e-5 audited under both triangle-vertex orders; the continuous
    outputs differ only in summation order (centroid AVG, shoelace
    start, weight sums), absorbed by ROUND(7) with a 1200x audited
    margin."""
    M = _META40
    qx, qy = M.x_center_expr("col"), M.y_center_expr("row")
    det = "((by - cy) * (ax - cx) + (cx - bx) * (ay - cy))"
    l1 = f"(((by - cy) * ({qx} - cx) + (cx - bx) * ({qy} - cy)) / {det})"
    l2 = f"(((cy - ay) * ({qx} - cx) + (ax - cx) * ({qy} - cy)) / {det})"
    tris = (
        f"sub AS (SELECT x, y, value AS z FROM raw WHERE {_TIN_EXACT_PRED}), "
        "pts AS (SELECT x, y, z, ROW_NUMBER() OVER (ORDER BY x, y) - 1 AS pid "
        "FROM (SELECT x, y, z, ROW_NUMBER() OVER (PARTITION BY x, y ORDER BY z) "
        "AS rn FROM sub) WHERE rn = 1), "
        "tri AS (SELECT a.x AS ax, a.y AS ay, a.z AS az, a.pid AS pa, "
        "b.x AS bx, b.y AS by, b.z AS bz, b.pid AS pb, "
        "c.x AS cx, c.y AS cy, c.z AS cz, c.pid AS pc "
        "FROM pts a JOIN pts b ON a.pid < b.pid JOIN pts c ON b.pid < c.pid), "
        "ccd AS (SELECT *, 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by)) AS d, "
        "(ax * ax + ay * ay) AS a2, (bx * bx + by * by) AS b2, "
        "(cx * cx + cy * cy) AS c2 FROM tri), "
        "ccu AS (SELECT *, (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d AS ux, "
        "(a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d AS uy "
        "FROM ccd WHERE d != 0.0), "
        "ccr AS (SELECT *, (ax - ux) * (ax - ux) + (ay - uy) * (ay - uy) AS r2 FROM ccu), "
        "tris AS MATERIALIZED (SELECT * FROM ccr t WHERE NOT EXISTS ("
        "SELECT 1 FROM pts p WHERE p.pid NOT IN (t.pa, t.pb, t.pc) "
        "AND (p.x - t.ux) * (p.x - t.ux) + (p.y - t.uy) * (p.y - t.uy) < t.r2))"
    )
    body = (
        f"cells AS (SELECT a.range AS row, b.range AS col, "
        f"{qx} AS qcx, {qy} AS qcy "
        f"FROM range(0, {M.rows}) a, range(0, {M.columns}) b), "
        # Bowyer-Watson cavity: circumcircle strictly contains the query
        "cav AS MATERIALIZED (SELECT q.row, q.col, q.qcx, q.qcy, t.* "
        "FROM cells q JOIN tris t ON "
        "(q.qcx - t.ux) * (q.qcx - t.ux) + (q.qcy - t.uy) * (q.qcy - t.uy) < t.r2), "
        # containment gate (the operator's barycentric text over cell centers)
        f"contq AS (SELECT DISTINCT row, col FROM cav WHERE {det} != 0.0 "
        f"AND {l1} >= -1e-12 AND {l2} >= -1e-12 "
        f"AND (1.0 - {l1} - {l2}) >= -1e-12), "
        "cav2 AS MATERIALIZED (SELECT c.* FROM cav c JOIN contq USING (row, col)), "
        # cavity boundary: edges appearing exactly once
        "edg0 AS (SELECT row, col, LEAST(pa, pb) AS lo, GREATEST(pa, pb) AS hi FROM cav2 "
        "UNION ALL SELECT row, col, LEAST(pb, pc), GREATEST(pb, pc) FROM cav2 "
        "UNION ALL SELECT row, col, LEAST(pa, pc), GREATEST(pa, pc) FROM cav2), "
        "bedge AS MATERIALIZED (SELECT row, col, lo, hi FROM edg0 "
        "GROUP BY 1, 2, 3, 4 HAVING COUNT(*) = 1), "
        "bverts AS (SELECT DISTINCT row, col, v FROM ("
        "SELECT row, col, lo AS v FROM bedge UNION ALL SELECT row, col, hi FROM bedge)), "
        # closed-cavity gate: every boundary vertex has degree exactly 2
        "deg AS (SELECT row, col, v, COUNT(*) AS dg FROM ("
        "SELECT row, col, lo AS v FROM bedge UNION ALL SELECT row, col, hi FROM bedge) "
        "GROUP BY 1, 2, 3), "
        # new circumcenters of (u, v, q) per boundary edge (kernel text)
        "newc AS MATERIALIZED (SELECT e.row, e.col, e.lo, e.hi, "
        "2.0 * (pa2.x * (pb2.y - q.qcy) + pb2.x * (q.qcy - pa2.y) "
        "+ q.qcx * (pa2.y - pb2.y)) AS nd, "
        "pa2.x AS nax, pa2.y AS nay, pb2.x AS nbx, pb2.y AS nby, "
        "q.qcx AS nqx, q.qcy AS nqy "
        "FROM bedge e JOIN pts pa2 ON pa2.pid = e.lo "
        "JOIN pts pb2 ON pb2.pid = e.hi JOIN cells q USING (row, col)), "
        "newc2 AS (SELECT row, col, lo, hi, "
        "((nax * nax + nay * nay) * (nby - nqy) + (nbx * nbx + nby * nby) * (nqy - nay) "
        "+ (nqx * nqx + nqy * nqy) * (nay - nby)) / nd AS nux, "
        "((nax * nax + nay * nay) * (nqx - nbx) + (nbx * nbx + nby * nby) * (nax - nqx) "
        "+ (nqx * nqx + nqy * nqy) * (nbx - nax)) / nd AS nuy "
        "FROM newc WHERE nd != 0.0), "
        "live AS (SELECT row, col FROM contq q WHERE "
        "EXISTS (SELECT 1 FROM bedge b WHERE b.row = q.row AND b.col = q.col) "
        "AND NOT EXISTS (SELECT 1 FROM deg d WHERE d.row = q.row AND d.col = q.col AND d.dg <> 2) "
        "AND NOT EXISTS (SELECT 1 FROM newc n WHERE n.row = q.row AND n.col = q.col AND n.nd = 0.0)), "
        # stolen-area polygon members per (cell, boundary vertex)
        "memb AS (SELECT c.row, c.col, bv.v, c.ux AS mx, c.uy AS my "
        "FROM cav2 c JOIN bverts bv ON bv.row = c.row AND bv.col = c.col "
        "AND bv.v IN (c.pa, c.pb, c.pc) "
        "UNION ALL SELECT row, col, lo AS v, nux, nuy FROM newc2 "
        "UNION ALL SELECT row, col, hi AS v, nux, nuy FROM newc2), "
        "memb2 AS MATERIALIZED (SELECT m.* FROM memb m JOIN live USING (row, col)), "
        "ctr AS (SELECT row, col, v, AVG(mx) AS mcx, AVG(my) AS mcy "
        "FROM memb2 GROUP BY 1, 2, 3), "
        "poly AS (SELECT m.row, m.col, m.v, m.mx, m.my, "
        "ATAN2(m.my - c.mcy, m.mx - c.mcx) AS ang "
        "FROM memb2 m JOIN ctr c ON c.row = m.row AND c.col = m.col AND c.v = m.v), "
        "sh AS (SELECT row, col, v, mx * COALESCE("
        "LEAD(my) OVER (PARTITION BY row, col, v ORDER BY ang), "
        "FIRST_VALUE(my) OVER (PARTITION BY row, col, v ORDER BY ang)) "
        "- COALESCE(LEAD(mx) OVER (PARTITION BY row, col, v ORDER BY ang), "
        "FIRST_VALUE(mx) OVER (PARTITION BY row, col, v ORDER BY ang)) * my AS term "
        "FROM poly), "
        "w AS (SELECT row, col, v, 0.5 * ABS(SUM(term)) AS w FROM sh GROUP BY 1, 2, 3), "
        "agg AS (SELECT w.row, w.col, SUM(w.w * p.z) AS zsum, SUM(w.w) AS wsum "
        "FROM w JOIN pts p ON p.pid = w.v GROUP BY 1, 2) "
        "SELECT row, col, ROUND(zsum / wsum, 7) AS value FROM agg WHERE wsum > 0.0"
    )
    return f"WITH raw AS ({_PTS_SQL}), {tris}, {body}"


def _embankment_exact_oracle() -> str:
    """Bit-exact DuckDB replay of embankment_mapping at the one-ring
    parameterization (see _q_embankment_exact). Stages:

    1. roads: the proven lines_to_raster crossing math at _META40
       (same text as the fill_burn oracle).
    2. seeds: per road cell, the kernel's 3x3 window argmax of
       off-road strictly-greater elevations — first scan-order
       occurrence of the maximum == ORDER BY z DESC, dr, dc — else the
       road cell itself.
    3. one ring: with max_width halved to 45.0 in (diag 35.36, 2*25),
       pass 1 assigns exactly the seeds' 8-neighborhoods; a contested
       cell takes the min-(row, col) adjacent seed (heapq pops the
       equal-priority (0.0, row, col) seed entries in tuple order, and
       only seeds can assign — a popped ring cell reaches nothing
       under 45). distance d is exact (25.0 / the sqrt(1250) repr
       literal); seedel/maxslope replay the kernel's expression text.
    4. grow closure: order-free least fixpoint (every out cell pops
       once and tests all 8 neighbors), replayed as a recursive CTE
       with the kernel's criteria verbatim. Elevations are integer
       doubles, so every threshold comparison except ms < 4.0 is
       exact; ms - ABS(es) == 0 identically in each engine (DEGREES
       and ABS commute bitwise, same ATAN input); the ms-vs-4.0 and
       argmax/assignment margins are audited by
       tests/test_embankment_exact_oracle.py."""
    import math as _m

    M = _META40
    r_hi = f"GREATEST(LEAST({M.row_from_y_expr('LEAST(y1, y2)')}, 39), 0)"
    r_lo = f"GREATEST(LEAST({M.row_from_y_expr('GREATEST(y1, y2)')}, 39), 0)"
    c_lo = f"GREATEST(LEAST({M.col_from_x_expr('LEAST(x1, x2)')}, 39), 0)"
    c_hi = f"GREATEST(LEAST({M.col_from_x_expr('GREATEST(x1, x2)')}, 39), 0)"
    y_r = M.y_from_row_expr("tr.range")
    x_c = M.x_from_col_expr("tc.range")
    x_prime = f"(x1 + (({y_r}) - y1) / (y2 - y1) * (x2 - x1))"
    y_prime = f"(y1 + (({x_c}) - x1) / (x2 - x1) * (y2 - y1))"
    l2r = (
        f"base AS ({_SHAPES_BASE}), "
        f"rs AS (SELECT shape_id, CASE WHEN kind = 0 THEN {_RECT_DUCK} "
        f"ELSE {_DIAM_DUCK} END AS ring FROM base), "
        f"segs AS (SELECT s.x1 AS x1, s.y1 AS y1, s.x2 AS x2, s.y2 AS y2 FROM "
        f"(SELECT shape_id, unnest(list_transform(range(1, len(ring)), "
        f"i -> {{'x1': ring[i].x, 'y1': ring[i].y, 'x2': ring[i+1].x, "
        f"'y2': ring[i+1].y}})) AS s FROM rs)), "
        f"b AS (SELECT x1, y1, x2, y2, {r_lo} AS r0, {r_hi} AS r1, "
        f"{c_lo} AS c0, {c_hi} AS c1 FROM segs), "
        f"rh AS (SELECT tr.range AS row, {M.col_from_x_expr(x_prime)} AS col "
        f"FROM b JOIN range(0, 40) tr ON tr.range >= r0 AND tr.range <= r1 "
        f"WHERE ({y_r}) >= LEAST(y1, y2) AND ({y_r}) <= GREATEST(y1, y2) AND y2 <> y1), "
        f"ch AS (SELECT {M.row_from_y_expr(y_prime)} AS row, tc.range AS col "
        f"FROM b JOIN range(0, 40) tc ON tc.range >= c0 AND tc.range <= c1 "
        f"WHERE ({x_c}) >= LEAST(x1, x2) AND ({x_c}) <= GREATEST(x1, x2) AND x2 <> x1), "
        f"strm AS (SELECT DISTINCT row, col FROM "
        f"(SELECT * FROM rh UNION ALL SELECT * FROM ch) "
        f"WHERE row >= 0 AND row < 40 AND col >= 0 AND col < 40)"
    )
    diag = _m.sqrt(25.0 ** 2 + 25.0 ** 2)
    return (
        f"WITH RECURSIVE rc AS MATERIALIZED ({_RAS_C_SQL}), "
        f"{l2r}, "
        "road AS (SELECT s.row, s.col, r.value AS z FROM strm s "
        "JOIN rc r ON r.row = s.row AND r.col = s.col), "
        "scnd AS (SELECT rd.row AS rr, rd.col AS rc0, n.row AS nr, "
        "n.col AS nc, n.value AS nz, n.row - rd.row AS dr, "
        "n.col - rd.col AS dc "
        "FROM road rd JOIN rc n ON n.row BETWEEN rd.row - 1 AND rd.row + 1 "
        "AND n.col BETWEEN rd.col - 1 AND rd.col + 1 "
        "LEFT JOIN strm sr ON sr.row = n.row AND sr.col = n.col "
        "WHERE sr.row IS NULL AND n.value > rd.z), "
        "sb AS (SELECT rr, rc0, nr, nc, ROW_NUMBER() OVER "
        "(PARTITION BY rr, rc0 ORDER BY nz DESC, dr, dc) AS k FROM scnd), "
        "seeds AS (SELECT DISTINCT COALESCE(b.nr, rd.row) AS row, "
        "COALESCE(b.nc, rd.col) AS col "
        "FROM road rd LEFT JOIN (SELECT * FROM sb WHERE k = 1) b "
        "ON b.rr = rd.row AND b.rc0 = rd.col), "
        "sz AS (SELECT s.row, s.col, r.value AS sz FROM seeds s "
        "JOIN rc r ON r.row = s.row AND r.col = s.col), "
        "ra AS (SELECT y.row, y.col, y.value AS zy, s.sz, "
        f"CASE WHEN s.row <> y.row AND s.col <> y.col THEN {diag!r} "
        "ELSE 25.0 END AS d, "
        "ROW_NUMBER() OVER (PARTITION BY y.row, y.col "
        "ORDER BY s.row, s.col) AS k "
        "FROM sz s JOIN rc y ON y.row BETWEEN s.row - 1 AND s.row + 1 "
        "AND y.col BETWEEN s.col - 1 AND s.col + 1 "
        "AND NOT (y.row = s.row AND y.col = s.col) "
        "LEFT JOIN seeds e ON e.row = y.row AND e.col = y.col "
        "WHERE e.row IS NULL), "
        "ring AS MATERIALIZED (SELECT row, col, zy, sz, d, sz - zy AS eh, "
        "DEGREES(ATAN((sz - zy) / d)) AS es, "
        "DEGREES(ABS(ATAN((sz - zy) / d))) AS ms FROM ra WHERE k = 1), "
        "grown(row, col) AS (SELECT row, col FROM seeds "
        "UNION "
        "SELECT g.row, g.col FROM grown x "
        "JOIN ring g ON g.row BETWEEN x.row - 1 AND x.row + 1 "
        "AND g.col BETWEEN x.col - 1 AND x.col + 1 "
        "AND NOT (g.row = x.row AND g.col = x.col) "
        "JOIN rc zx ON zx.row = x.row AND zx.col = x.col "
        "WHERE g.d <= 25.0 OR ("
        "CASE WHEN g.d <= 40.0 AND (zx.value - g.zy) > -0.05 "
        "AND g.eh <= 40.0 "
        "THEN (g.zy <= zx.value) OR (g.ms < 4.0) "
        "ELSE (g.ms - ABS(g.es) <= 1.0 AND g.es >= 0.0) END)) "
        "SELECT row, col, CAST(1.0 AS DOUBLE) AS value FROM grown"
    )


def _breach_exact_oracle() -> str:
    """Bit-exact DuckDB replay of breach_depressions_least_cost on the
    single-pit twin fixture (see _q_breach_exact). Sound because the
    pytest-pinned structure makes the Dijkstra finite: pop 1 (the pit)
    pushes its 8 ring neighbors; pop 2 (ring argmin by the kernel's
    (accum, counter) = (cost, n) order) finds the breach target at its
    first non-encountered scan direction (off-grid rim). Every float
    both engines compute is the same expression text over the same
    inputs (min_zn - 0.01 raise, zn - (z_pit - length * 0.01) costs,
    z_pit - length * 0.01 carves), so comparisons and outputs agree
    bitwise — including exact cost ties, which both sides break on n."""
    offs = ", ".join(f"({n}, {HY.D8_DY[n]}, {HY.D8_DX[n]})" for n in range(8))
    return (
        "WITH dem AS (SELECT a.range AS row, b.range AS col, "
        "CASE WHEN a.range = 6 AND b.range = 1 THEN 40.0 "
        "ELSE CAST(50 + 2 * b.range + a.range AS DOUBLE) END AS value "
        "FROM range(0, 12) a, range(0, 12) b), "
        f"offs(n, dy, dx) AS (VALUES {offs}), "
        "nb AS (SELECT d.row, d.col, d.value, o.n, e.value AS zn "
        "FROM dem d JOIN offs o ON TRUE "
        "LEFT JOIN dem e ON e.row = d.row + o.dy AND e.col = d.col + o.dx), "
        "agg AS (SELECT row, col, MIN(value) AS zc, COUNT(zn) AS nn, "
        "MIN(zn) AS min_zn FROM nb GROUP BY 1, 2), "
        "pit AS (SELECT row AS prow, col AS pcol, zc AS z_pit, min_zn "
        "FROM agg WHERE nn = 8 AND min_zn >= zc), "
        "raised AS MATERIALIZED (SELECT d.row, d.col, "
        "CASE WHEN p.prow IS NOT NULL THEN p.min_zn - 0.01 ELSE d.value END AS value "
        "FROM dem d LEFT JOIN pit p ON p.prow = d.row AND p.pcol = d.col), "
        # pop 1: the pit pushes its ring; pop 2 = (cost, n) argmin
        "ring AS (SELECT p.prow, p.pcol, p.z_pit, o.n, r.row, r.col, "
        "r.value AS zn FROM pit p JOIN offs o ON TRUE "
        "JOIN raised r ON r.row = p.prow + o.dy AND r.col = p.pcol + o.dx), "
        "win AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER ("
        "PARTITION BY prow, pcol ORDER BY zn - (z_pit - 1 * 0.01), n) AS rk "
        "FROM ring) WHERE rk = 1), "
        # pop 2's scan: skip encountered (Chebyshev <= 1 of the pit),
        # first trigger (off-grid or zn <= zout(2)) in n order
        "tscan AS (SELECT w.prow, w.pcol, w.z_pit, w.row AS wrow, "
        "w.col AS wcol, w.zn AS wz, o.n AS tn, r2.value AS tz "
        "FROM win w JOIN offs o ON TRUE "
        "LEFT JOIN raised r2 ON r2.row = w.row + o.dy AND r2.col = w.col + o.dx "
        "WHERE NOT (ABS(w.row + o.dy - w.prow) <= 1 "
        "AND ABS(w.col + o.dx - w.pcol) <= 1)), "
        "tgt AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER ("
        "PARTITION BY prow, pcol ORDER BY tn) AS rk FROM tscan "
        "WHERE tz IS NULL OR tz <= z_pit - 2 * 0.01) WHERE rk = 1), "
        # backlink carve: winner down to zout(1), pit down to zout(0)
        "carves AS (SELECT t.wrow AS row, t.wcol AS col, "
        "t.z_pit - 1 * 0.01 AS carve FROM tgt t WHERE t.wz > t.z_pit - 1 * 0.01 "
        "UNION ALL SELECT t.prow, t.pcol, t.z_pit - 0 * 0.01 FROM tgt t "
        "JOIN raised rp ON rp.row = t.prow AND rp.col = t.pcol "
        "WHERE rp.value > t.z_pit - 0 * 0.01), "
        "cmin AS (SELECT row, col, MIN(carve) AS carve FROM carves GROUP BY 1, 2) "
        "SELECT r.row, r.col, LEAST(r.value, COALESCE(c.carve, r.value)) AS value "
        "FROM raised r LEFT JOIN cmin c USING (row, col)"
    )


def _insert_dams_oracle() -> str:
    """Bit-exact DuckDB replay of hydro.insert_dams on the driver's
    dam set (h=3, L=7, _META40C). The kernel creates no floats — every
    profile/fill/crest value is a selection of an input DEM value — so
    the replay is exact by construction: hit-candidates are the cells
    on the 4 dam lines within h of the target; the bidirectional
    shoulder fill is filled[j] = max(prof[j], min(running-max-left,
    running-max-right)) (fuzz-verified equivalent to the kernel's
    two-pass loop incl. -inf gaps); the winner is strict-> first-wins
    in row-major-then-direction scan order (ORDER BY crest DESC, row,
    col, d); edits follow the kernel's put() rules (primary cell must
    exist; the second-row write fires at j=h always and elsewhere only
    for diagonal dams d in (0,2)); dams then cells merge by MAX."""
    h, L = 3, 7
    rexp = "CAST(FLOOR((400.0 - y) / 10.0) AS BIGINT)"
    cexp = "CAST(FLOOR((x - 0.0) / 10.0) AS BIGINT)"
    return (
        f"WITH ras AS ({_RAS_C_SQL}), "
        "dampts(dam_id, x, y) AS (VALUES (1, 105.0, 105.0), (2, 255.0, 305.0)), "
        f"dams AS (SELECT dam_id, {rexp} AS trow, {cexp} AS tcol FROM dampts), "
        # p1 direction per d (perp1 = [2,3,4,1] into the D8 tables)
        "dirs(d, ddx, ddy) AS (VALUES (0, 1, 1), (1, 0, 1), (2, -1, 1), (3, 1, 0)), "
        f"offs AS (SELECT o.o FROM UNNEST(generate_series({-h}, {h})) o(o)), "
        # candidate cells with a target hit: cand = target - o*p1, tc = h+o
        "cand AS (SELECT dam_id, trow, tcol, d, ddx, ddy, o, "
        "trow - o * ddy AS crow, tcol - o * ddx AS ccol FROM dams, dirs, offs), "
        "candv AS (SELECT c.* FROM cand c JOIN ras r ON r.row = c.crow AND r.col = c.ccol), "
        f"profc AS (SELECT cv.*, j.j, cv.crow + (j.j - {h}) * cv.ddy AS prow, "
        f"cv.ccol + (j.j - {h}) * cv.ddx AS pcol "
        f"FROM candv cv, UNNEST(generate_series(0, {L - 1})) j(j)), "
        "prof AS (SELECT p.dam_id, p.d, p.o, p.crow, p.ccol, p.ddx, p.ddy, p.j, "
        "COALESCE(r.value, CAST('-infinity' AS DOUBLE)) AS pz "
        "FROM profc p LEFT JOIN ras r ON r.row = p.prow AND r.col = p.pcol), "
        "fil AS (SELECT *, GREATEST(pz, LEAST("
        "MAX(pz) OVER (PARTITION BY dam_id, d, o ORDER BY j ROWS UNBOUNDED PRECEDING), "
        "MAX(pz) OVER (PARTITION BY dam_id, d, o ORDER BY j "
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))) AS fz FROM prof), "
        f"scored AS (SELECT dam_id, d, o, crow, ccol, fz AS ftc FROM fil WHERE j = {h} + o), "
        "win AS (SELECT dam_id, d, o FROM (SELECT *, ROW_NUMBER() OVER ("
        "PARTITION BY dam_id ORDER BY ftc DESC, crow, ccol, d) AS rk FROM scored) WHERE rk = 1), "
        "wfil AS (SELECT f.* FROM fil f JOIN win w USING (dam_id, d, o)), "
        f"prim AS (SELECT w.dam_id, r.row, r.col, w.fz, w.d, w.j "
        f"FROM wfil w JOIN ras r ON r.row = w.crow + (w.j - {h}) * w.ddy "
        f"AND r.col = w.ccol + (w.j - {h}) * w.ddx), "
        f"sec AS (SELECT p.dam_id, r.row, r.col, p.fz FROM prim p "
        f"JOIN ras r ON r.row = p.row - 1 AND r.col = p.col "
        f"WHERE p.d IN (0, 2) OR p.j = {h}), "
        "edits AS (SELECT row, col, MAX(fz) AS dz FROM ("
        "SELECT row, col, fz FROM prim UNION ALL SELECT row, col, fz FROM sec) "
        "GROUP BY 1, 2) "
        "SELECT r.row, r.col, GREATEST(r.value, COALESCE(e.dz, r.value)) AS value "
        "FROM ras r LEFT JOIN edits e USING (row, col)"
    )


def _impoundment_oracle() -> str:
    """Bit-exact DuckDB replay of hydro.impoundment_size_index (h=3,
    _META40C). Crest surface: like _insert_dams_oracle, the dam-height
    kernel creates no floats — every crest value is a selection of a
    DEM value through the water-fill — so the scatter (every cell x 4
    directions x 7 positions, window-function fill, MAX per target
    cell) replays exactly; the tile+halo layout is immaterial because
    halo = 2h covers every contributing center. Flood stats: the D8
    reach closure is the recursive CTE over the shared pointer-fold
    expression (as the flow-accumulation oracles), and z < crest /
    SUM(crest - z) are exact (integer-valued doubles), volume and
    mean_depth replay the operator's expression text."""
    h, L, W = 3, 7, 40
    M = _META40C
    crest_ctes = (
        "dirs4(d, ddx, ddy) AS (VALUES (0, 1, 1), (1, 0, 1), (2, -1, 1), (3, 1, 0)), "
        f"profc AS (SELECT b.row AS crow, b.col AS ccol, d.d, d.ddx, d.ddy, j.j, "
        f"b.row + (j.j - {h}) * d.ddy AS prow, b.col + (j.j - {h}) * d.ddx AS pcol "
        f"FROM ras b, dirs4 d, UNNEST(generate_series(0, {L - 1})) j(j)), "
        "prof AS (SELECT p.*, COALESCE(r.value, CAST('-infinity' AS DOUBLE)) AS pz "
        "FROM profc p LEFT JOIN ras r ON r.row = p.prow AND r.col = p.pcol), "
        "fil AS (SELECT *, GREATEST(pz, LEAST("
        "MAX(pz) OVER (PARTITION BY crow, ccol, d ORDER BY j ROWS UNBOUNDED PRECEDING), "
        "MAX(pz) OVER (PARTITION BY crow, ccol, d ORDER BY j "
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))) AS fz FROM prof), "
        "crest AS MATERIALIZED (SELECT f.prow AS row, f.pcol AS col, "
        "MAX(f.fz) AS crest FROM fil f JOIN ras r ON r.row = f.prow "
        "AND r.col = f.pcol WHERE isfinite(f.fz) GROUP BY 1, 2)"
    )
    offs = ", ".join(
        f"({i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8)
    ) + ", (8, 0, 0)"
    piv_cols = ", ".join(
        f"MAX(CASE WHEN n = {i} THEN nv END) AS zn_{i}" for i in range(8)
    ) + ", MAX(CASE WHEN n = 8 THEN nv END) AS zc"
    dirs = ", ".join(
        f"({1 << i}, {HY.D8_DY[i]}, {HY.D8_DX[i]})" for i in range(8))
    closure_ctes = (
        f"offs8 AS (SELECT * FROM (VALUES {offs}) o(n, dy, dx)), "
        "sc8 AS (SELECT a.row - o.dy AS row, a.col - o.dx AS col, o.n AS n, "
        "a.value AS nv FROM ras a, offs8 o), "
        f"piv AS (SELECT row, col, {piv_cols} FROM sc8 GROUP BY 1, 2), "
        f"ptr AS MATERIALIZED (SELECT row, col, "
        f"{HY.d8_pointer_value_expr(M)} AS value FROM piv WHERE zc IS NOT NULL), "
        f"dirsb AS (SELECT * FROM (VALUES {dirs}) d(code, dy, dx)), "
        f"e AS MATERIALIZED (SELECT (p.row * {W} + p.col) AS src, "
        f"((p.row + d.dy) * {W} + (p.col + d.dx)) AS dst "
        "FROM ptr p JOIN dirsb d ON d.code = CAST(p.value AS INT) WHERE p.value > 0), "
        f"nodes AS MATERIALIZED (SELECT row, col, (row * {W} + col) AS id FROM ptr), "
        "reach(src, dst) AS (SELECT id, id FROM nodes UNION "
        "SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)"
    )
    return (
        f"WITH RECURSIVE ras AS MATERIALIZED ({_RAS_C_SQL}), "
        f"{crest_ctes}, {closure_ctes}, "
        f"crestn AS (SELECT (row * {W} + col) AS cid, crest FROM crest), "
        f"z AS (SELECT (row * {W} + col) AS zid, value AS z FROM ras), "
        "flooded AS (SELECT r.dst AS cid, COUNT(*) AS n, "
        "SUM(c.crest - z.z) AS sumd FROM reach r "
        "JOIN crestn c ON c.cid = r.dst JOIN z ON z.zid = r.src "
        "WHERE z.z < c.crest GROUP BY 1) "
        "SELECT n2.row, n2.col, c.crest AS dam_height, "
        "CAST(COALESCE(f.n, 0) AS DOUBLE) AS flooded_cells, "
        "COALESCE(f.sumd, 0.0) * 100.0 AS volume, "
        "CASE WHEN COALESCE(f.n, 0) > 0 THEN f.sumd / f.n ELSE 0.0 END AS mean_depth "
        "FROM crestn c JOIN nodes n2 ON n2.id = c.cid "
        "LEFT JOIN flooded f ON f.cid = c.cid"
    )


def _tin_exact_oracles() -> dict[str, str]:
    """Exact-Delaunay oracle twins for the TIN family
    (construct_tin_exact / tin_gridding_exact / tin_contours_exact /
    normalize_lidar_exact).

    The Delaunay CTE is the ORDER-FREE empty-circumcircle rule: a
    lexicographic triple (a < b < c by (x, y)) is a triangle iff its
    float circumcircle — computed by the EXACT expression text of
    tin._circumcircle (same correctly-rounded +,-,*,/ sequence in
    DuckDB and numpy) — strictly contains no other point. On arbitrary
    inputs this is NOT the float Bowyer-Watson (insertion order decides
    near-degenerate slivers); on the audited sub-fixtures
    (_TIN_EXACT_PRED / _NLX_PRED ground) the three triangle sets —
    kernel B-W, float emptiness, and EXACT integer-arithmetic Delaunay
    (coordinates scaled by 2^60 are exact ints; incircle = 3x3 integer
    determinant) — are verified identical by
    tests/test_tin_exact_oracle.py, so the replay is bit-exact and
    deterministic, not a lucky float coincidence. Downstream stages
    (barycentric gridding, level cutting, hull fallback) reuse the
    operators' own expression text verbatim."""
    M = _META40

    def tris_cte(sub_where: str, zcol: str = "value") -> str:
        # canonical point set (the kernel dedups by (x, y) keeping the
        # smallest z) + empty-circumcircle triangles in canonical
        # (x, y) vertex order
        return (
            f"sub AS (SELECT x, y, {zcol} AS z FROM raw WHERE {sub_where}), "
            "pts AS (SELECT x, y, z FROM ("
            "  SELECT x, y, z, ROW_NUMBER() OVER (PARTITION BY x, y ORDER BY z) AS rn FROM sub"
            ") WHERE rn = 1), "
            "tri AS ("
            "  SELECT a.x AS ax, a.y AS ay, a.z AS az, "
            "         b.x AS bx, b.y AS by, b.z AS bz, "
            "         c.x AS cx, c.y AS cy, c.z AS cz "
            "  FROM pts a JOIN pts b ON (a.x < b.x OR (a.x = b.x AND a.y < b.y)) "
            "            JOIN pts c ON (b.x < c.x OR (b.x = c.x AND b.y < c.y))), "
            "ccd AS ("
            "  SELECT *, 2.0 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by)) AS d, "
            "         (ax * ax + ay * ay) AS a2, (bx * bx + by * by) AS b2, "
            "         (cx * cx + cy * cy) AS c2 FROM tri), "
            "ccu AS ("
            "  SELECT *, (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d AS ux, "
            "         (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d AS uy "
            "  FROM ccd WHERE d != 0.0), "
            "ccr AS (SELECT *, (ax - ux) * (ax - ux) + (ay - uy) * (ay - uy) AS r2 FROM ccu), "
            "tris AS ("
            "  SELECT ax, ay, az, bx, by, bz, cx, cy, cz FROM ccr t "
            "  WHERE NOT EXISTS ("
            "    SELECT 1 FROM pts p "
            "    WHERE NOT (p.x = t.ax AND p.y = t.ay) "
            "      AND NOT (p.x = t.bx AND p.y = t.by) "
            "      AND NOT (p.x = t.cx AND p.y = t.cy) "
            "      AND (p.x - t.ux) * (p.x - t.ux) + (p.y - t.uy) * (p.y - t.uy) < t.r2))"
        )

    construct = (
        f"WITH raw AS ({_PTS_SQL}), {tris_cte(_TIN_EXACT_PRED)} "
        "SELECT ax, ay, az, bx, by, bz, cx, cy, cz FROM tris"
    )

    # tin_gridding: the operator's spread/explode + barycentric text
    rexp, cexp = M.row_from_y_expr, M.col_from_x_expr
    qx, qy = M.x_center_expr("col"), M.y_center_expr("row")
    det = "((by - cy) * (ax - cx) + (cx - bx) * (ay - cy))"
    l1 = f"(((by - cy) * ({qx} - cx) + (cx - bx) * ({qy} - cy)) / {det})"
    l2 = f"(((cy - ay) * ({qx} - cx) + (ax - cx) * ({qy} - cy)) / {det})"
    spread = (
        "spread AS (SELECT *, "
        f"GREATEST(CAST(0 AS BIGINT), {rexp('GREATEST(ay, by, cy)')} - 1) AS r0, "
        f"LEAST(CAST({M.rows - 1} AS BIGINT), {rexp('LEAST(ay, by, cy)')} + 1) AS r1, "
        f"GREATEST(CAST(0 AS BIGINT), {cexp('LEAST(ax, bx, cx)')} - 1) AS c0, "
        f"LEAST(CAST({M.columns - 1} AS BIGINT), {cexp('GREATEST(ax, bx, cx)')} + 1) AS c1 "
        "FROM tris), "
        "cand AS (SELECT ax, ay, az, bx, by, bz, cx, cy, cz, r.row, c.col "
        "FROM (SELECT * FROM spread WHERE r0 <= r1 AND c0 <= c1) s, "
        "LATERAL UNNEST(generate_series(s.r0, s.r1)) AS r(row), "
        "LATERAL UNNEST(generate_series(s.c0, s.c1)) AS c(col))"
    )
    gridding = (
        f"WITH raw AS ({_PTS_SQL}), {tris_cte(_TIN_EXACT_PRED)}, {spread}, "
        "scored AS (SELECT row, col, az, bz, cz, ax, ay, bx, by, cx, cy, "
        f"{l1} AS ll1, {l2} AS ll2 FROM cand WHERE {det} != 0.0), "
        "scored2 AS (SELECT *, (1.0 - ll1 - ll2) AS ll3 FROM scored "
        "WHERE ll1 >= -1e-12 AND ll2 >= -1e-12 AND (1.0 - ll1 - ll2) >= -1e-12), "
        "ranked AS (SELECT row, col, ll1 * az + ll2 * bz + ll3 * cz AS value, "
        "ROW_NUMBER() OVER (PARTITION BY row, col ORDER BY ax, ay, bx, by, cx, cy) AS rk "
        "FROM scored2) "
        "SELECT row, col, value FROM ranked WHERE rk = 1"
    )

    # lidar_dsm twin: block max (exact agg) -> empty-circumcircle TIN of
    # the 58 occupied-cell centers (audited lattice sub-fixture, see
    # _DSM_EXACT_PRED) -> the operator's barycentric fill text ->
    # COALESCE(direct max, TIN value), replaying lidar.lidar_dsm end
    # to end.
    grid_fill = (
        "scored AS (SELECT row, col, az, bz, cz, ax, ay, bx, by, cx, cy, "
        f"{l1} AS ll1, {l2} AS ll2 FROM cand WHERE {det} != 0.0), "
        "scored2 AS (SELECT *, (1.0 - ll1 - ll2) AS ll3 FROM scored "
        "WHERE ll1 >= -1e-12 AND ll2 >= -1e-12 AND (1.0 - ll1 - ll2) >= -1e-12), "
        "ranked AS (SELECT row, col, ll1 * az + ll2 * bz + ll3 * cz AS value, "
        "ROW_NUMBER() OVER (PARTITION BY row, col ORDER BY ax, ay, bx, by, cx, cy) AS rk "
        "FROM scored2), "
        "grid AS (SELECT row, col, value FROM ranked WHERE rk = 1)"
    )
    dsm = (
        f"WITH raw0 AS ({_PTS_SQL}), "
        "bmax AS (SELECT row, col, MAX(value) AS value FROM ("
        f"SELECT {rexp('y')} AS row, {cexp('x')} AS col, value "
        f"FROM raw0 WHERE {_DSM_EXACT_PRED}) "
        f"WHERE row >= 0 AND row < {M.rows} AND col >= 0 AND col < {M.columns} "
        "GROUP BY 1, 2), "
        f"raw AS (SELECT {qx} AS x, {qy} AS y, value FROM bmax), "
        f"{tris_cte('TRUE')}, {spread}, {grid_fill} "
        "SELECT row, col, COALESCE(b.value, g.value) AS value "
        "FROM grid g FULL JOIN bmax b USING (row, col)"
    )

    # contours: the operator's level explode + three edge interpolations
    base, interval = 0.0, 200.0
    k0 = f"CAST(CEIL((LEAST(az, bz, cz) - {base!r}) / {interval!r}) AS BIGINT)"
    k1 = f"CAST(FLOOR((GREATEST(az, bz, cz) - {base!r}) / {interval!r}) AS BIGINT)"
    cedges = []
    for p, q in (("a", "b"), ("b", "c"), ("a", "c")):
        t = f"((level - {p}z) / ({q}z - {p}z))"
        cedges.append(
            f"CASE WHEN ({p}z < level) <> ({q}z < level) "
            f"THEN {{'x': {p}x + ({q}x - {p}x) * {t}, "
            f"'y': {p}y + ({q}y - {p}y) * {t}}} END")
    carr = f"list_filter([{', '.join(cedges)}], e -> e IS NOT NULL)"
    cut_body = (
        "lev AS (SELECT ax, ay, az, bx, by, bz, cx, cy, cz, "
        f"({base!r} + CAST(k.k AS DOUBLE) * {interval!r}) AS level "
        f"FROM tris, LATERAL UNNEST(generate_series({k0}, {k1})) AS k(k)), "
        f"segs AS (SELECT level, {carr} AS pts2 FROM lev) "
        "SELECT level, pts2[1].x AS x1, pts2[1].y AS y1, "
        "pts2[2].x AS x2, pts2[2].y AS y2 FROM segs WHERE len(pts2) = 2"
    )
    contours = (
        f"WITH raw AS ({_PTS_SQL}), {tris_cte(_TIN_EXACT_PRED)}, {cut_body}"
    )
    # contour_lidar: the SAME cut replay over the certified 21-point
    # ground fixture (normalize_lidar_exact's audited Delaunay)
    contour_lidar = (
        f"WITH raw AS ({_PTS_SQL}), "
        f"{tris_cte(f'{_NLX_PRED} AND record_num % 8 = 2')}, {cut_body}"
    )

    # normalize_lidar: ground TIN (classification = record_num % 8 == 2)
    # + barycentric at point locations + the z - gmin hull fallback
    pl1 = f"(((by - cy) * (px - cx) + (cx - bx) * (py - cy)) / {det})"
    pl2 = f"(((cy - ay) * (px - cx) + (ax - cx) * (py - cy)) / {det})"
    normalize = (
        f"WITH raw0 AS ({_PTS_SQL}), "
        f"raw AS (SELECT * FROM raw0 WHERE {_NLX_PRED}), "
        f"{tris_cte('record_num % 8 = 2')}, {spread}, "
        "ppts AS (SELECT record_num, x AS px, y AS py, value AS pz, "
        f"LEAST(CAST({M.rows - 1} AS BIGINT), GREATEST(CAST(0 AS BIGINT), {rexp('y')})) AS row, "
        f"LEAST(CAST({M.columns - 1} AS BIGINT), GREATEST(CAST(0 AS BIGINT), {cexp('x')})) AS col "
        "FROM raw), "
        "hits AS (SELECT record_num, pz, az, bz, cz, ax, ay, bx, by, cx, cy, "
        f"{pl1} AS ll1, {pl2} AS ll2 "
        f"FROM ppts JOIN cand USING (row, col) WHERE {det} != 0.0), "
        "hits2 AS (SELECT *, (1.0 - ll1 - ll2) AS ll3 FROM hits "
        "WHERE ll1 >= -1e-12 AND ll2 >= -1e-12 AND (1.0 - ll1 - ll2) >= -1e-12), "
        "interp AS (SELECT record_num, ll1 * az + ll2 * bz + ll3 * cz AS gz FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY record_num "
        "  ORDER BY ax, ay, bx, by, cx, cy) AS rk FROM hits2) WHERE rk = 1), "
        "mins AS (SELECT (SELECT MIN(z) FROM sub) AS gmin, "
        "(SELECT MIN(value) FROM raw) AS pmin) "
        "SELECT p.record_num, p.pz - COALESCE(i.gz, m.gmin, m.pmin) AS hag "
        "FROM ppts p LEFT JOIN interp i USING (record_num), mins m"
    )

    # r2v_lines twin: junction-free chain decomposition, fully walked.
    # Components label to their MIN vertex id (exactly the kernel's
    # lines.sort(key=min) key); the guarded recursive walk consumes the
    # unique next neighbor (paths) or closes at the start (cycles), with
    # the first step toward n_min — the kernel's sorted-adjacency pick.
    r2v_fix = (
        "fixture AS ("
        "SELECT CAST(10 AS BIGINT) AS row, CAST(c.c AS BIGINT) AS col, 1.0 AS value "
        "FROM UNNEST(generate_series(5, 25)) c(c) "
        "UNION ALL SELECT 14, c.c, 1.0 FROM UNNEST(generate_series(40, 55)) c(c) "
        "UNION ALL SELECT r.r, r.r, 2.0 FROM UNNEST(generate_series(30, 50)) r(r) "
        "UNION ALL SELECT 60, c.c, 3.0 FROM UNNEST(generate_series(60, 70)) c(c) "
        "UNION ALL SELECT 70, c.c, 3.0 FROM UNNEST(generate_series(60, 70)) c(c) "
        "UNION ALL SELECT r.r, 60, 3.0 FROM UNNEST(generate_series(61, 69)) r(r) "
        "UNION ALL SELECT r.r, 70, 3.0 FROM UNNEST(generate_series(61, 69)) r(r))"
    )
    r2v = (
        f"WITH RECURSIVE {r2v_fix}, "
        "e0 AS (SELECT f.value, f.row AS r1, f.col AS c1, n.row AS r2, n.col AS c2 "
        "FROM fixture f JOIN fixture n ON n.value = f.value AND ("
        "(n.row = f.row AND n.col = f.col + 1) OR "
        "(n.row = f.row + 1 AND n.col = f.col) OR "
        "(n.row = f.row + 1 AND n.col = f.col + 1) OR "
        "(n.row = f.row + 1 AND n.col = f.col - 1))), "
        "edges AS (SELECT * FROM e0 e "
        "WHERE NOT (ABS(r1 - r2) = 1 AND ABS(c1 - c2) = 1 AND ("
        "EXISTS (SELECT 1 FROM fixture k WHERE k.value = e.value AND k.row = e.r1 AND k.col = e.c2) "
        "OR EXISTS (SELECT 1 FROM fixture k WHERE k.value = e.value AND k.row = e.r2 AND k.col = e.c1)))), "
        "und AS (SELECT value, r1 * 100 + c1 AS v1, r2 * 100 + c2 AS v2 FROM edges "
        "UNION ALL SELECT value, r2 * 100 + c2, r1 * 100 + c1 FROM edges), "
        "adj2 AS (SELECT value, v1 AS vid, MIN(v2) AS n_min, "
        "CASE WHEN COUNT(*) > 1 THEN MAX(v2) END AS n_max, COUNT(*) AS deg "
        "FROM und GROUP BY value, v1), "
        "comp(value, vid, lbl) AS (SELECT value, v1, v1 FROM und "
        "UNION SELECT c.value, e.v2, c.lbl FROM comp c JOIN und e "
        "ON e.value = c.value AND e.v1 = c.vid AND c.lbl < e.v2), "
        "lab AS (SELECT value, vid, MIN(lbl) AS comp FROM comp GROUP BY 1, 2), "
        "starts AS (SELECT l.value, l.comp, "
        "COALESCE(MIN(CASE WHEN a.deg = 1 THEN l.vid END), MIN(l.vid)) AS start "
        "FROM lab l JOIN adj2 a ON a.value = l.value AND a.vid = l.vid GROUP BY 1, 2), "
        "walk(value, comp, start, cur, prev, idx) AS ("
        "SELECT value, comp, start, start, CAST(NULL AS BIGINT), 0 FROM starts "
        "UNION ALL SELECT w.value, w.comp, w.start, "
        "CASE WHEN w.prev IS NULL THEN a.n_min "
        "WHEN a.n_min <> w.prev THEN a.n_min ELSE a.n_max END, "
        "w.cur, w.idx + 1 FROM walk w JOIN adj2 a ON a.value = w.value AND a.vid = w.cur "
        "WHERE (w.idx = 0 OR w.cur <> w.start) "
        "AND (CASE WHEN w.prev IS NULL THEN a.n_min "
        "WHEN a.n_min <> w.prev THEN a.n_min ELSE a.n_max END) IS NOT NULL), "
        "ranked AS (SELECT value, comp, cur, idx, "
        "DENSE_RANK() OVER (PARTITION BY value ORDER BY comp) - 1 AS line_id FROM walk) "
        "SELECT value, CAST(line_id AS BIGINT) AS line_id, CAST(idx AS INT) AS vertex_idx, "
        "0.0 + (CAST(cur % 100 AS DOUBLE) + 0.5) * 10.0 AS x, "
        "1000.0 - (CAST(cur // 100 AS DOUBLE) + 0.5) * 10.0 AS y FROM ranked"
    )

    return {"construct_tin_exact": construct,
            "tin_gridding_exact": gridding,
            "tin_contours_exact": contours,
            "contour_lidar_exact": contour_lidar,
            "normalize_lidar_exact": normalize,
            "lidar_dsm_exact": dsm,
            "r2v_lines_exact": r2v}


def oracle_sql() -> dict[str, str]:
    pts = f"WITH pts AS ({_PTS_SQL})"
    ras_a = f"WITH ras_a AS ({_RAS_A_SQL})"
    cells40 = ("cells AS (SELECT a.range AS row, b.range AS col "
               "FROM range(0, 40) a, range(0, 40) b)")
    ctr_x = _META40.x_center_expr("col")
    ctr_y = _META40.y_center_expr("row")
    nn_cand = (
        f"cand AS (SELECT c.row, c.col, p.record_num, p.value AS v, "
        f"(({ctr_x}) - p.x) * (({ctr_x}) - p.x) + (({ctr_y}) - p.y) * (({ctr_y}) - p.y) AS dist2 "
        f"FROM cells c, pts p)"
    )
    r100y = _META100.row_from_y_expr("y")
    c100x = _META100.col_from_x_expr("x")
    in100 = _META100.in_grid_pred("row", "col")
    p2r = (f"rc AS (SELECT {r100y} AS row, {c100x} AS col, value AS v, record_num AS rn "
           f"FROM pts), valid AS (SELECT * FROM rc WHERE {in100})")

    # minhash oracle (duck dialect from the same expression builders)
    _, d_sh = T.shingles_expr("text", 3)
    band_cols = ", ".join(
        f"{T.band_key_expr('text', b, 2, 3)[1]} AS band_{b}" for b in range(8)
    )
    band_arr = "[" + ", ".join(f"band_{b}" for b in range(8)) + "]"
    inter = "len(list_intersect(sh_a, sh_b))"
    union = "(len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)))"
    minhash_oracle = (
        f"WITH base AS (SELECT doc_id AS id, list_distinct({d_sh}) AS sh, {band_cols} "
        f"FROM documents), "
        f"longb AS (SELECT id, sh, unnest({band_arr}) AS band FROM base), "
        f"cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b "
        f"FROM longb a JOIN longb b USING (band) WHERE a.id < b.id) "
        f"SELECT id_a, id_b, CAST({inter} AS DOUBLE) / CAST({union} AS DOUBLE) AS jaccard "
        f"FROM cand WHERE CAST({inter} AS DOUBLE) / CAST({union} AS DOUBLE) >= 0.1"
    )

    # dedup_clusters oracle: the same minhash pair CTE, closed transitively
    # with a recursive CTE (min reachable id = the component's canonical
    # keeper), then LEFT-joined back so singletons verdict as themselves.
    dedup_clusters_oracle = (
        "WITH RECURSIVE "
        f"base AS (SELECT doc_id AS id, list_distinct({d_sh}) AS sh, {band_cols} "
        "FROM documents), "
        f"longb AS (SELECT id, sh, unnest({band_arr}) AS band FROM base), "
        "cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b "
        "FROM longb a JOIN longb b USING (band) WHERE a.id < b.id), "
        f"pairs AS (SELECT id_a, id_b FROM cand "
        f"WHERE CAST({inter} AS DOUBLE) / CAST({union} AS DOUBLE) >= 0.1), "
        "edges AS (SELECT id_a AS a, id_b AS b FROM pairs "
        "UNION SELECT id_b, id_a FROM pairs), "
        "reach(id, r) AS (SELECT a, a FROM edges "
        "UNION SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a), "
        "comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id) "
        "SELECT d.doc_id AS doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id, "
        "CAST(CASE WHEN COALESCE(c.comp, d.doc_id) = d.doc_id THEN 1 ELSE 0 END "
        "AS BIGINT) AS is_canonical "
        "FROM documents d LEFT JOIN comp c ON c.id = d.doc_id"
    )

    # corpus_curation: keeper selection (the dedup_clusters closure) ->
    # quality/language filters -> per-(source, lang) rollup with a BPE
    # token budget. SUM is cast back to BIGINT (DuckDB widens to HUGEINT).
    _ccq = T.quality_score_exprs("text")
    corpus_curation_oracle = (
        "WITH RECURSIVE "
        f"base AS (SELECT doc_id AS id, list_distinct({d_sh}) AS sh, {band_cols} "
        "FROM documents), "
        f"longb AS (SELECT id, sh, unnest({band_arr}) AS band FROM base), "
        "cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b "
        "FROM longb a JOIN longb b USING (band) WHERE a.id < b.id), "
        f"pairs AS (SELECT id_a, id_b FROM cand "
        f"WHERE CAST({inter} AS DOUBLE) / CAST({union} AS DOUBLE) >= 0.1), "
        "edges AS (SELECT id_a AS a, id_b AS b FROM pairs "
        "UNION SELECT id_b, id_a FROM pairs), "
        "reach(id, r) AS (SELECT a, a FROM edges "
        "UNION SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a), "
        "comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id), "
        "keep AS (SELECT d.doc_id FROM documents d LEFT JOIN comp c ON c.id = d.doc_id "
        "WHERE COALESCE(c.comp, d.doc_id) = d.doc_id), "
        f"enr AS (SELECT doc_id, source, {T.lang_id_expr('text')[1]} AS lang_pred, "
        f"CAST({_ccq['q_tokens'][1]} AS BIGINT) AS q_tokens, "
        f"{_ccq['q_stopword_ratio'][1]} AS q_sw, "
        f"CAST({T.bpe_token_count_expr('text')[1]} AS BIGINT) AS n_bpe FROM documents) "
        "SELECT source, lang_pred, COUNT(*) AS n_docs, "
        "CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens "
        "FROM enr JOIN keep USING (doc_id) "
        "WHERE q_tokens >= 20 AND q_sw >= 0.02 GROUP BY 1, 2"
    )

    _, d_sh5 = T.doc_fingerprint_expr("text")
    _, d_sim = T.simhash16_exprs("text")
    simhash_pairs_oracle = (
        f"WITH base AS (SELECT doc_id AS id, CAST({d_sim} AS BIGINT) AS simhash FROM documents) "
        f"SELECT a.id AS id_a, b.id AS id_b, "
        f"CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming "
        f"FROM base a, base b WHERE a.id < b.id "
        f"AND bit_count(xor(a.simhash, b.simhash)) <= 1"
    )

    _, d_th = T.token_md5s_exprs("text")
    _, d_bands64 = T.simhash64_band_exprs("text")
    band64_cols = ", ".join(f"{d_bands64[j]} AS b{j}" for j in range(4))
    ham64 = " + ".join(f"bit_count(xor(a.b{j}, b.b{j}))" for j in range(4))
    simhash64_oracle = (
        f"WITH th AS (SELECT doc_id AS id, {d_th} AS __th FROM documents), "
        f"base AS (SELECT id, {band64_cols} FROM th) "
        f"SELECT a.id AS id_a, b.id AS id_b, CAST({ham64} AS BIGINT) AS hamming "
        f"FROM base a, base b WHERE a.id < b.id AND ({ham64}) <= 3"
    )

    ngram_oracle = (
        f"WITH base AS (SELECT doc_id AS id, list_distinct({d_sh}) AS sh, source AS blk "
        f"FROM documents), "
        f"cand AS (SELECT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b "
        f"FROM base a JOIN base b USING (blk) WHERE a.id < b.id) "
        f"SELECT id_a, id_b, CAST({inter} AS DOUBLE) / CAST({union} AS DOUBLE) AS jaccard "
        f"FROM cand WHERE CAST({inter} AS DOUBLE) / CAST({union} AS DOUBLE) >= 0.1"
    )

    qx = T.quality_score_exprs("text")

    dot = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
           "list_transform(range(1, len(qv) + 1), i -> CAST(qv[i] AS DOUBLE) * CAST(tv[i] AS DOUBLE))), "
           "(a, b) -> a + b)")
    nq = ("sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
          "list_transform(qv, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b))")
    nt = ("sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
          "list_transform(tv, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b))")
    ann_oracle = (
        f"WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 10 = 0), "
        f"t AS (SELECT vec_id AS target_id, embedding AS tv FROM embeddings), "
        f"cand AS (SELECT query_id, target_id, ({dot}) / (({nq}) * ({nt})) AS cosine "
        f"FROM q, t WHERE query_id <> target_id), "
        f"r AS (SELECT query_id, target_id, cosine, "
        f"ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, target_id) AS sim_rank FROM cand) "
        f"SELECT query_id, target_id, cosine, CAST(sim_rank AS BIGINT) AS sim_rank FROM r WHERE sim_rank <= 10"
    )

    dup_dot = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
               "list_transform(range(1, len(va) + 1), i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE))), "
               "(a, b) -> a + b)")
    dup_na = ("sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
              "list_transform(va, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b))")
    dup_nb = ("sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
              "list_transform(vb, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (a, b) -> a + b))")
    emb_dup_oracle = (
        f"WITH u AS (SELECT vec_id, embedding FROM embeddings "
        f"UNION ALL SELECT vec_id + 100000 AS vec_id, "
        f"list_transform(embedding, x -> CAST(x * CAST(0.5 AS FLOAT) AS FLOAT)) AS embedding "
        f"FROM embeddings), "
        f"a AS (SELECT vec_id AS id_a, embedding AS va FROM u), "
        f"b AS (SELECT vec_id AS id_b, embedding AS vb FROM u), "
        f"p AS (SELECT id_a, id_b, ({dup_dot}) / (({dup_na}) * ({dup_nb})) AS cosine "
        f"FROM a, b WHERE id_a < id_b) "
        f"SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.98"
    )

    # embedding_dup_clusters: the same pair predicate, closed transitively
    # (CTE edge columns renamed x/y — a/b name the vector CTEs here)
    emb_clusters_oracle = (
        "WITH RECURSIVE u AS (SELECT vec_id, embedding FROM embeddings "
        "UNION ALL SELECT vec_id + 100000 AS vec_id, "
        "list_transform(embedding, x -> CAST(x * CAST(0.5 AS FLOAT) AS FLOAT)) AS embedding "
        "FROM embeddings), "
        "a AS (SELECT vec_id AS id_a, embedding AS va FROM u), "
        "b AS (SELECT vec_id AS id_b, embedding AS vb FROM u), "
        f"p AS (SELECT id_a, id_b FROM a, b WHERE id_a < id_b "
        f"AND ({dup_dot}) / (({dup_na}) * ({dup_nb})) >= 0.98), "
        "edges AS (SELECT id_a AS x, id_b AS y FROM p "
        "UNION SELECT id_b, id_a FROM p), "
        "reach(id, r) AS (SELECT x, x FROM edges "
        "UNION SELECT reach.id, e.y FROM reach JOIN edges e ON reach.r = e.x), "
        "comp AS (SELECT id, MIN(r) AS comp FROM reach GROUP BY id) "
        "SELECT u.vec_id AS vec_id, COALESCE(c.comp, u.vec_id) AS cluster_id, "
        "CAST(CASE WHEN COALESCE(c.comp, u.vec_id) = u.vec_id THEN 1 ELSE 0 END "
        "AS BIGINT) AS is_canonical "
        "FROM u LEFT JOIN comp c ON c.id = u.vec_id"
    )

    reclass_case = "CASE " + " ".join(
        f"WHEN value >= {lo!r} AND value < {hi!r} THEN {nv!r}" for nv, lo, hi in _RECLASS_RANGES
    ) + " ELSE value END"

    hx = _hex_duck_expr(_HEXG)

    # hex_pyramid: aperture-4 pyramid replay — per-level assignment
    # structs and the center-based parent lookup, same closed forms as
    # the operator (tiling.hex_pyramid)
    pyr_grids = TL.hex_pyramid_grids(80.0, 3, _EXTENT)
    pyr_levels = ", ".join(
        f"{{'level': CAST({lv} AS BIGINT), 'h': {_hex_duck_expr(g)}}}"
        for lv, g in enumerate(pyr_grids))
    pyr_branches = []
    for lv in range(2):
        pcx, pcy = pyr_grids[lv].center_exprs("hex_row", "hex_col")
        pyr_branches.append(
            f"WHEN level = {lv} THEN {_hex_duck_expr(pyr_grids[lv + 1], pcx, pcy)}")
    pyr_parent = "CASE " + " ".join(pyr_branches) + " ELSE NULL END"

    # hex_polyfill: same lattice enumeration + the pip winding text
    pfg = TL.HexGrid(80.0, _EXTENT[0], _EXTENT[1], _EXTENT[2], _EXTENT[3])
    pf_nrows = pfg.rows + 2
    pf_ncols = max(pfg.cols_in_row(0), pfg.cols_in_row(1)) + 2
    pf_cx, pf_cy = pfg.center_exprs("hex_row", "hex_col")
    pf_cells = (
        f"SELECT CAST(range // {pf_ncols} AS BIGINT) - 1 AS hex_row, "
        f"CAST(range % {pf_ncols} AS BIGINT) - 1 AS hex_col "
        f"FROM range(0, {pf_nrows * pf_ncols})")
    pf_selects = " UNION ALL ".join(
        f"SELECT CAST({pid} AS BIGINT) AS polygon_id, hex_row, hex_col "
        f"FROM cells WHERE {GS.inside_feature_sql(sh, ho, xs=pf_cx, ys=pf_cy)}"
        for pid, sh, ho in _POLYS)

    cx50 = frs_cell_expr("x", 50.0)
    cy50 = frs_cell_expr("y", 50.0)

    return {
        "tile_assign": (
            f"{pts} SELECT record_num, {_TEX['tile_row']} AS tile_row, "
            f"{_TEX['tile_col']} AS tile_col, {_TEX['tile_id']} AS tile_id FROM pts"
        ),
        "tile_counts": (
            f"{pts} SELECT {_TEX['tile_id']} AS tile_id, COUNT(*) AS tile_n "
            f"FROM pts GROUP BY 1 HAVING COUNT(*) >= 30"
        ),
        "hex_bin": (
            f"{pts}, h AS (SELECT {hx} AS hx FROM pts) "
            f"SELECT hx.hex_row AS hex_row, hx.hex_col AS hex_col, COUNT(*) AS hex_count "
            f"FROM h GROUP BY 1, 2"
        ),
        "hex_kring": (
            f"{pts}, h AS (SELECT {hx} AS hx FROM pts), "
            "cells AS (SELECT DISTINCT hx.hex_row AS hex_row, "
            "hx.hex_col AS hex_col FROM h), "
            "d AS (SELECT hex_row, hex_col, unnest(list_filter(flatten("
            "list_transform(range(-2, 3), dq -> list_transform("
            "range(-2, 3), dr -> struct_pack(dq := dq, dr := dr)))), "
            "v -> (abs(v.dq) + abs(v.dr) + abs(v.dq + v.dr)) // 2 <= 2)) "
            "AS u FROM cells) "
            "SELECT hex_row, hex_col, "
            "CAST(hex_row + u.dr AS BIGINT) AS nbr_row, "
            "CAST((hex_col - (hex_row + ((hex_row % 2) + 2) % 2) // 2) "
            "+ u.dq + ((hex_row + u.dr) + (((hex_row + u.dr) % 2) + 2) % 2) "
            "// 2 AS BIGINT) AS nbr_col, "
            "CAST((abs(u.dq) + abs(u.dr) + abs(u.dq + u.dr)) // 2 "
            "AS BIGINT) AS hex_dist FROM d"
        ),
        "hex_polyfill": (
            f"WITH cells AS ({pf_cells}) {pf_selects}"
        ),
        "hex_pyramid": (
            f"{pts}, e AS (SELECT unnest([{pyr_levels}]) AS u FROM pts), "
            "g AS (SELECT u.level AS level, u.h.hex_row AS hex_row, "
            "u.h.hex_col AS hex_col, COUNT(*) AS n_points FROM e "
            "GROUP BY 1, 2, 3) "
            f"SELECT level, hex_row, hex_col, "
            f"({pyr_parent}).hex_row AS parent_row, "
            f"({pyr_parent}).hex_col AS parent_col, n_points FROM g"
        ),
        "frs_cells": (
            f"{pts} SELECT record_num, {cx50} AS cx, {cy50} AS cy, "
            f"{_morton_duck(cx50, cy50)} AS cell_id FROM pts"
        ),
        "cell_compact": TL.cell_compact_oracle_sql(
            f"pts AS ({_PTS_SQL}), leaves AS "
            f"(SELECT {_morton_duck(cx50, cy50)} AS cell FROM pts)",
            levels=6,
        ),
        "cell_uncompact": (
            f"{pts} SELECT DISTINCT {_morton_duck(cx50, cy50)} AS cell_id "
            f"FROM pts"
        ),
        "region_cover": _region_cover_oracle(),
        "pip_tag": _pip_tag_oracle(),
        "pip_tag_cellcover": _pip_tag_oracle(),
        "pip_clip": f"{pts} SELECT record_num, x, y, value FROM pts WHERE {_clip_pred()}",
        "pip_erase": f"{pts} SELECT record_num FROM pts WHERE NOT ({_clip_pred()})",
        "knn_join": (
            f"{pts}, q AS (SELECT record_num AS query_id, x, y FROM pts WHERE record_num % 37 = 0), "
            f"cand AS (SELECT q.query_id, t.record_num AS target_id, "
            f"(q.x - t.x) * (q.x - t.x) + (q.y - t.y) * (q.y - t.y) AS dist2 FROM q, pts t), "
            f"r AS (SELECT query_id, target_id, dist2, "
            f"ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist2, target_id) AS rk FROM cand) "
            f"SELECT query_id, target_id, dist2, CAST(rk AS INT) AS knn_rank FROM r WHERE rk <= 4"
        ),
        "nn_gridding": (
            f"{pts}, {cells40}, {nn_cand}, "
            f"r AS (SELECT row, col, v, ROW_NUMBER() OVER "
            f"(PARTITION BY row, col ORDER BY dist2, record_num) AS rk FROM cand) "
            f"SELECT row, col, v AS value FROM r WHERE rk = 1"
        ),
        "idw": (
            f"{pts}, {cells40}, {nn_cand}, "
            f"r AS (SELECT row, col, dist2, v, ROW_NUMBER() OVER "
            f"(PARTITION BY row, col ORDER BY dist2, record_num) AS rk FROM cand), "
            f"g AS (SELECT row, col, list_sort(list({{'dist2': dist2, 'v': v}})) AS l "
            f"FROM r WHERE rk <= 4 GROUP BY row, col) "
            f"SELECT row, col, "
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(l, e -> e.v / pow(e.dist2, 1.0))), (a, b) -> a + b) / "
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(l, e -> 1.0 / pow(e.dist2, 1.0))), (a, b) -> a + b) AS value "
            f"FROM g"
        ),
        "points_to_raster_first": (
            f"{pts}, {p2r} SELECT row, col, arg_min(v, rn) AS value FROM valid GROUP BY 1, 2"
        ),
        "points_to_raster_last": (
            f"{pts}, {p2r} SELECT row, col, arg_max(v, rn) AS value FROM valid GROUP BY 1, 2"
        ),
        "polygons_to_raster": (
            f"WITH {cells40}, c2 AS (SELECT row, col, {_META40.x_from_col_expr('col')} AS cx, "
            f"{_META40.y_from_row_expr('row')} AS cy FROM cells), hits AS ("
            + " UNION ALL ".join(
                f"SELECT row, col, {pid} AS pid FROM c2 WHERE {GS.inside_feature_sql(sh, ho, 'cx', 'cy')}"
                for pid, sh, ho in _POLYS
            )
            + ") SELECT row, col, CAST(MAX(pid) AS DOUBLE) AS value FROM hits GROUP BY 1, 2"
        ),
        "raster_to_points": (
            f"{ras_a} SELECT {_META100.x_from_col_expr('col')} AS x, "
            f"{_META100.y_from_row_expr('row')} AS y, value "
            f"FROM ras_a WHERE value <> -32768.0"
        ),
        "extract_values": (
            f"{pts}, {p2r}, ras AS (SELECT row, col, arg_max(v, rn) AS value "
            f"FROM valid GROUP BY 1, 2), "
            f"pp AS (SELECT record_num, {r100y} AS row, {c100x} AS col FROM pts) "
            f"SELECT pp.record_num, COALESCE(ras.value, -32768.0) AS raster_value "
            f"FROM pp LEFT JOIN ras USING (row, col)"
        ),
        "aggregate_raster": (
            f"{ras_a} SELECT CAST(FLOOR(row / 4) AS BIGINT) AS row, "
            f"CAST(FLOOR(col / 4) AS BIGINT) AS col, AVG(value) AS value "
            f"FROM ras_a GROUP BY 1, 2"
        ),
        "zonal_stats": (
            f"WITH ras_a AS ({_RAS_A_SQL}), ras_b AS ({_RAS_B_SQL}) "
            f"SELECT b.value AS zone, COUNT(*) AS zone_count, SUM(a.value) AS zone_total, "
            f"AVG(a.value) AS zone_mean, MIN(a.value) AS zone_min, MAX(a.value) AS zone_max, "
            f"MAX(a.value) - MIN(a.value) AS zone_range "
            f"FROM ras_a a JOIN ras_b b USING (row, col) GROUP BY 1"
        ),
        "summary_stats": (
            f"{ras_a} SELECT COUNT(*) AS n_cells, SUM(value) AS total, AVG(value) AS mean, "
            f"MIN(value) AS min_value, MAX(value) AS max_value FROM ras_a"
        ),
        "cross_tab": (
            f"WITH ras_a AS ({_RAS_A_SQL}), ras_b AS ({_RAS_B_SQL}) "
            f"SELECT b.value AS value_a, a.value AS value_b, COUNT(*) AS n "
            f"FROM ras_b b JOIN ras_a a USING (row, col) GROUP BY 1, 2"
        ),
        "histogram": (
            f"{ras_a} SELECT CAST(FLOOR((value - 0.0) / 50.0) AS BIGINT) AS bin, "
            f"COUNT(*) AS n FROM ras_a GROUP BY 1"
        ),
        "map_algebra_add": (
            f"WITH ras_a AS ({_RAS_A_SQL}), ras_b AS ({_RAS_B_SQL}) "
            f"SELECT row, col, a.value + b.value AS value "
            f"FROM ras_a a JOIN ras_b b USING (row, col)"
        ),
        "reclass": f"{ras_a} SELECT row, col, {reclass_case} AS value FROM ras_a",
        "quantiles": (
            f"{ras_a} SELECT row, col, value, "
            f"CAST(NTILE(4) OVER (ORDER BY value, row, col) AS BIGINT) AS quantile FROM ras_a"
        ),
        "cumulative_dist": (
            f"{ras_a} SELECT row, col, CUME_DIST() OVER (ORDER BY value) AS value FROM ras_a"
        ),
        **_raster_op_oracles(),
        **_focal2_oracles(),
        **_overlay2_oracles(),
        **_stats2_oracles(),
        **_terrain2_oracles(),
        "contour_segments": _contour_oracle(),
        **_vector_op_oracles(),
        **_hydro_oracles(),
        **_enhancement_oracles(),
        **_focal3_oracles(),
        **_hydro2_oracles(),
        **_stream2_oracles(),
        **_vector2_oracles(),
        **_morph_oracles(),
        **_r4b_oracles(),
        **_r4c_oracles(),
        **_hydro4_oracles(),
        **_demedit_oracles(),
        **_vecgeom_oracles(),
        **_image4_oracles(),
        **_terrain4_oracles(),
        **_r4d_oracles(),
        "pca3": _pca3_oracle(),
        "reclass_equal_interval": (
            f"WITH ras_a AS ({_RAS_A_SQL}), "
            "m AS (SELECT MIN(value) AS mn FROM ras_a) "
            "SELECT row, col, CASE WHEN value >= mn "
            "THEN FLOOR(value / CAST(50 AS DOUBLE)) * CAST(50 AS DOUBLE) "
            "ELSE value END AS value FROM ras_a, m"
        ),
        "reclass_from_file": (
            f"WITH ras_a AS ({_RAS_A_SQL}), "
            "m AS (SELECT MAX(value) AS mx FROM ras_a) "
            "SELECT row, col, CASE "
            "WHEN value >= 0 AND value < 300 THEN CAST(111 AS DOUBLE) "
            "WHEN value >= 300 AND value < 600 THEN CAST(222 AS DOUBLE) "
            "WHEN value >= 600 AND value < mx THEN CAST(333 AS DOUBLE) "
            "ELSE value END AS value FROM ras_a, m"
        ),
        "lidar_shift": (
            f"WITH pts AS ({_PTS_SQL}) "
            "SELECT record_num, x + CAST(100 AS DOUBLE) AS x, "
            "y - CAST(50 AS DOUBLE) AS y, "
            "value + CAST(7 AS DOUBLE) AS value FROM pts"
        ),
        **_lidar_normals_oracles(),
        **_tin_exact_oracles(),
        "box_metrics_exact": _box_metrics_exact_oracle(),
        "insert_dams": _insert_dams_oracle(),
        "impoundment_index": _impoundment_oracle(),
        "natural_neighbour_exact": _nn_exact_oracle(),
        "breach_depressions_exact": _breach_exact_oracle(),
        "embankment_mapping_exact": _embankment_exact_oracle(),
        "rbf_interp_exact": (
            "SELECT a.range AS row, b.range AS col, "
            f"ROUND(2.0 + 0.25 * {_META40.x_center_expr('b.range')} "
            f"+ 0.5 * {_META40.y_center_expr('a.range')}, 6) AS value "
            "FROM range(0, 40) a, range(0, 40) b"
        ),
        "geomorphons": _geomorphons_oracle(),
        "polygonize_exact": _polygonize_exact_oracle(),
        "single_to_multi_part": (
            f"WITH base AS ({_SHAPES_BASE}), "
            f"rs AS (SELECT shape_id, kind, CASE WHEN kind = 0 THEN {_RECT_DUCK} "
            f"ELSE {_DIAM_DUCK} END AS ring FROM base), "
            "idx AS (SELECT kind, shape_id, ring, "
            "CAST(ROW_NUMBER() OVER (PARTITION BY kind ORDER BY shape_id) - 1 AS INT) "
            "AS part_idx, MIN(shape_id) OVER (PARTITION BY kind) AS mshape FROM rs) "
            "SELECT idx.kind, idx.mshape AS shape_id, idx.part_idx, "
            "CAST(t.i AS INT) AS node_idx, ring[t.i + 1].x AS x, ring[t.i + 1].y AS y "
            "FROM idx CROSS JOIN UNNEST([0, 1, 2, 3, 4]) AS t(i)"
        ),
        "lines_to_polygons": (
            f"WITH base AS ({_SHAPES_BASE}), "
            f"rs AS (SELECT shape_id, {_RECT_DUCK} AS ring FROM base WHERE kind = 0) "
            "SELECT shape_id, CAST(t.i AS INT) AS node_idx, "
            "ring[t.i + 1].x AS x, ring[t.i + 1].y AS y "
            "FROM rs CROSS JOIN UNNEST([0, 1, 2, 3, 4]) AS t(i)"
        ),
        "lidar_histogram": (
            # the reference's two passes re-derived independently:
            # 1000-bin clip walk (cumulative-from-each-end, threshold
            # floor(n * 1%)) then ceil(log2 n)+1 rebin; every literal is
            # CAST to DOUBLE so the IEEE op sequence matches the
            # engine's driver-side floats bit for bit
            "WITH v AS (SELECT CAST(event_id % 1000 AS DOUBLE) AS v FROM events), "
            "mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM v), "
            "p0 AS (SELECT lo, hi, n, "
            "(hi - lo + 1e-5) / CAST(1000 AS DOUBLE) AS bw0, "
            "CAST(FLOOR(n * (CAST(1 AS DOUBLE) / CAST(100 AS DOUBLE))) AS BIGINT) AS thresh "
            "FROM mm), "
            "f AS (SELECT CAST(FLOOR((v - lo) / bw0) AS INT) AS b, COUNT(*) AS c "
            "FROM v, p0 GROUP BY 1), "
            "cl AS (SELECT b, SUM(c) OVER (ORDER BY b) AS cum_lo, "
            "SUM(c) OVER (ORDER BY b DESC) AS cum_hi FROM f), "
            "tails AS (SELECT "
            "(SELECT MIN(b) FROM cl, p0 WHERE cum_lo > thresh) AS lower_tail, "
            "(SELECT MAX(b) FROM cl, p0 WHERE cum_hi > thresh) AS upper_tail), "
            "rng AS (SELECT "
            "CASE WHEN lo < lo + lower_tail * bw0 THEN lo + lower_tail * bw0 "
            "ELSE lo END AS m1, "
            "CASE WHEN hi > lo + upper_tail * bw0 + bw0 "
            "THEN lo + upper_tail * bw0 + bw0 ELSE hi END AS m2, n "
            "FROM p0, tails), "
            "pf AS (SELECT LEAST(m1, m2) AS nmin, "
            "CAST(CEIL(LOG2(n)) AS INT) + 1 AS nbins, "
            "(GREATEST(m1, m2) - LEAST(m1, m2) + 1e-5) "
            "/ (CAST(CEIL(LOG2(n)) AS INT) + 1) AS bw FROM rng), "
            "fb AS (SELECT CAST(FLOOR((v - nmin) / bw) AS BIGINT) AS bin, "
            "COUNT(*) AS c FROM v, pf GROUP BY 1), "
            "bins AS (SELECT UNNEST(GENERATE_SERIES(0, nbins - 1)) AS bin FROM pf) "
            "SELECT bins.bin, "
            "ROUND(nmin + bins.bin * bw, 4) AS lo, "
            "ROUND(nmin + (bins.bin + 1) * bw, 4) AS hi, "
            "COALESCE(c, 0) AS n "
            "FROM bins CROSS JOIN pf LEFT JOIN fb ON fb.bin = bins.bin"
        ),
        "lidar_tiles_roundtrip": (
            "SELECT CAST(event_id % 8 AS INT) AS classification, "
            "CAST(event_id % 3 + 1 AS INT) AS return_number, "
            "COUNT(*) AS n FROM events GROUP BY 1, 2"
        ),
        "exact_dedup": (
            "SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count "
            "FROM documents GROUP BY md5(text)"
        ),
        "minhash_pairs": minhash_oracle,
        "dedup_clusters": dedup_clusters_oracle,
        "corpus_curation": corpus_curation_oracle,
        "contamination_check": CU.contamination_oracle_sql("doc_id % 23 = 0"),
        "repetition_quality": CU.repetition_oracle_sql(),
        "doc_chunking": CU.chunk_oracle_sql(32, 24),
        "source_caps": CU.source_quota_oracle_sql(18),
        "pii_scrub": _pii_scrub_oracle(),
        "media_dedup": _media_dedup_oracle(),
        "span_scrub": _span_scrub_oracle(),
        "span_stats": _span_stats_oracle(),
        "chunk_spans": _chunk_spans_oracle(),
        "corpus_sample": CU.corpus_sample_oracle_sql(437_500, seed=7),
        "substring_dup": CU.substring_dup_oracle_sql(k=4, min_count=2),
        "scrub_dup": CU.scrub_dup_oracle_sql(k=4, min_count=2),
        "pack_sequences": CU.pack_sequences_oracle_sql(seq_len=32, seed=1),
        "pack_text": CU.pack_sequences_text_oracle_sql(seq_len=32, seed=1),
        "lm_score": CU.lm_bigram_oracle_sql(),
        "dsir_weights": CU.dsir_oracle_sql("doc_id % 31 = 0"),
        "tfidf_terms": RV.tfidf_oracle_sql(k=5),
        "bm25_rank": RV.bm25_oracle_sql(n_query_terms=20, k=10),
        "bm25_query": RV.bm25_query_oracle_sql("hash join filter", k=10),
        "ppx_buckets": RV.perplexity_buckets_oracle_sql(),
        "bpe_merges": CU.bpe_train_oracle_sql(n_merges=8),
        "bpe_encode": CU.bpe_encode_oracle_sql(n_merges=8),
        "domain_mix": CU.domain_mix_oracle_sql(max_weight=3.0),
        "domain_mix_temp": CU.temperature_mix_oracle_sql(alpha=0.3),
        "corpus_shard": CU.corpus_shard_oracle_sql(17, seed=3),
        "simhash_pairs": simhash_pairs_oracle,
        "simhash64_pairs": simhash64_oracle,
        "ngram_jaccard": ngram_oracle,
        "lang_id": f"SELECT doc_id, {T.lang_id_expr('text')[1]} AS lang_pred FROM documents",
        "quality": (
            f"SELECT doc_id, CAST({qx['q_chars'][1]} AS BIGINT) AS q_chars, "
            f"CAST({qx['q_tokens'][1]} AS BIGINT) AS q_tokens, "
            f"CAST({qx['q_stopwords'][1]} AS BIGINT) AS q_stopwords, "
            f"{qx['q_mean_token_len'][1]} AS q_mean_token_len, "
            f"{qx['q_stopword_ratio'][1]} AS q_stopword_ratio FROM documents"
        ),
        "fingerprint": (
            f"SELECT doc_id, {T.doc_fingerprint_expr('text')[1]} AS fp FROM documents"
        ),
        "simhash": (
            f"SELECT doc_id, CAST({d_sim} AS BIGINT) AS simhash FROM documents"
        ),
        "ann_topk": ann_oracle,
        "embedding_dups": emb_dup_oracle,
        "embedding_dup_clusters": emb_clusters_oracle,
        # knn_wbt / ann_lsh / ann_ivf oracles live in _r5_oracles (full
        # deterministic replays — only their RECALL is approximate).
        **_round3_oracles(),
        **_r5_oracles(),
        **_r5b_oracles(),
        **_r5c_oracles(),
        **_mfd_oracles(),
    }
