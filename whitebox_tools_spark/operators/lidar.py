"""LiDAR point-cloud operators over the points table.

Reference anchors:
- FilterLidarClasses: lidar_analysis/filter_lidar_classes.rs
- FilterLidarScanAngles: lidar_analysis/filter_lidar_scan_angles.rs
- LidarElevationSlice: lidar_analysis/lidar_elevation_slice.rs
- LidarThin (keep one point per resolution cell, first by point order):
  lidar_analysis/lidar_thin.rs
- LidarJoin (concatenate clouds): lidar_analysis/lidar_join.rs
- LidarTile / footprints live in operators/tiling.py
- EliminateCoincidentPoints: gis_analysis/eliminate_coincident_points.rs

All row-level predicates are plain Catalyst filters (pushed into the
scan); thinning is one hash aggregation on the FRS cell key.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import with_frs_cells


def filter_classes(points: DataFrame, keep: list[int],
                   class_col: str = "classification") -> DataFrame:
    return points.where(F.col(class_col).isin(keep))


def filter_scan_angles(points: DataFrame, min_angle: int, max_angle: int,
                       angle_col: str = "scan_angle") -> DataFrame:
    return points.where(F.col(angle_col).between(min_angle, max_angle))


def elevation_slice(points: DataFrame, minz: float, maxz: float,
                    z_col: str = "z") -> DataFrame:
    """LidarElevationSlice: keep points with minz <= z <= maxz."""
    return points.where((F.col(z_col) >= minz) & (F.col(z_col) <= maxz))


def lidar_thin(points: DataFrame, resolution: float,
               x: str = "x", y: str = "y",
               order_col: str = "record_num") -> DataFrame:
    """LidarThin: one point per resolution cell — the FIRST by point
    order (the reference scans the file sequentially and keeps the first
    hit per cell). FRS binning (resolution = bin size*2 convention kept
    from functions.cells); deterministic via min_by(order_col)."""
    binned = with_frs_cells(points, resolution, x=x, y=y)
    keep = binned.groupBy("cx", "cy").agg(F.expr(f"MIN({order_col})").alias(order_col))
    return (
        binned.join(keep, ["cx", "cy", order_col], "inner")
        .drop("cx", "cy")
    )


def block_maximum(points: DataFrame, meta, value_col: str = "value",
                  x: str = "x", y: str = "y") -> DataFrame:
    """BlockMaximumGridding (gis_analysis/block_maximum.rs +
    lidar_analysis variant): per-cell max of point values."""
    return points.selectExpr(
        f"{meta.row_from_y_expr(y)} AS row",
        f"{meta.col_from_x_expr(x)} AS col",
        f"{value_col} AS v",
    ).where(F.expr(meta.in_grid_pred("row", "col"))).groupBy("row", "col") \
     .agg(F.max("v").alias("value"))


def block_minimum(points: DataFrame, meta, value_col: str = "value",
                  x: str = "x", y: str = "y") -> DataFrame:
    """BlockMinimumGridding."""
    return points.selectExpr(
        f"{meta.row_from_y_expr(y)} AS row",
        f"{meta.col_from_x_expr(x)} AS col",
        f"{value_col} AS v",
    ).where(F.expr(meta.in_grid_pred("row", "col"))).groupBy("row", "col") \
     .agg(F.min("v").alias("value"))


def point_density(points: DataFrame, meta, x: str = "x", y: str = "y") -> DataFrame:
    """LidarPointDensity (lidar_analysis/lidar_point_density.rs):
    points per unit area per cell."""
    cell_area = meta.resolution_x * meta.resolution_y
    return points.selectExpr(
        f"{meta.row_from_y_expr(y)} AS row",
        f"{meta.col_from_x_expr(x)} AS col",
    ).where(F.expr(meta.in_grid_pred("row", "col"))).groupBy("row", "col") \
     .agg(F.expr(f"CAST(COUNT(*) AS DOUBLE) / {cell_area!r}").alias("value"))


def normalize_by_cell_min(points: DataFrame, resolution: float,
                          z_col: str = "value",
                          x: str = "x", y: str = "y") -> DataFrame:
    """Height-above-ground normalization, simplified ground model:
    ground = per-cell minimum z (HeightAboveGround /
    lidar_analysis/normalize_lidar semantics with a min-z ground
    surface). Output: input rows with `hag` appended."""
    binned = with_frs_cells(points, resolution, x=x, y=y)
    mins = binned.groupBy("cx", "cy").agg(F.min(z_col).alias("__gmin"))
    return (
        binned.join(mins, ["cx", "cy"], "left")
        .withColumn("hag", F.col(z_col) - F.col("__gmin"))
        .drop("cx", "cy", "__gmin")
    )


def lidar_join(clouds: list[DataFrame]) -> DataFrame:
    """LidarJoin: bag union of point clouds."""
    return reduce(lambda a, b: a.unionByName(b), clouds)


def remove_duplicates(points: DataFrame, x: str = "x", y: str = "y",
                      order_col: str = "record_num") -> DataFrame:
    """RemoveDuplicates (lidar_analysis/remove_duplicates.rs): drop
    points with exactly equal coordinates, keeping the first by record
    order."""
    keep = points.groupBy(x, y).agg(F.expr(f"MIN({order_col})").alias(order_col))
    return points.join(keep, [x, y, order_col], "inner")


def lidar_outliers(points: DataFrame, resolution: float, threshold: float,
                   z_col: str = "value", x: str = "x", y: str = "y",
                   remove: bool = True) -> DataFrame:
    """LidarOutliers-style residual filter (lidar_analysis/
    lidar_outliers.rs semantics, FRS-cell neighborhood model): a point
    is an outlier when |z - mean(cell z)| exceeds the threshold."""
    binned = with_frs_cells(points, resolution, x=x, y=y)
    stats = binned.groupBy("cx", "cy").agg(F.avg(z_col).alias("__mz"))
    j = binned.join(stats, ["cx", "cy"], "left")
    pred = F.expr(f"ABS({z_col} - __mz) <= {threshold!r}")
    out = j.where(pred if remove else ~pred)
    return out.drop("cx", "cy", "__mz")


def eliminate_coincident_points(points: DataFrame, tolerance: float,
                                x: str = "x", y: str = "y",
                                order_col: str = "record_num") -> DataFrame:
    """Drop points that fall in the same tolerance cell, keeping the
    first by record order (eliminate_coincident_points.rs snap-cell
    semantics)."""
    return lidar_thin(points, tolerance, x=x, y=y, order_col=order_col)


def lidar_sort_by_time(points: DataFrame, time_col: str = "gps_time") -> DataFrame:
    """LidarSortByTime: global acquisition-order index per point — a
    DISTRIBUTED global row_number (range partition + per-partition
    window + broadcast offsets; plans/rank.py), not a single-reducer
    sort. Ties break on record_num for determinism."""
    from ..plans.rank import global_row_number

    ranked, _n = global_row_number(points, [time_col, "record_num"], out="sort_index")
    return ranked


# ---------------------------------------------------------------------------
# Ground filtering / segmentation / RANSAC planes
# (lidar_analysis/lidar_ground_point_filter.rs, lidar_segmentation.rs,
# lidar_ransac_planes.rs — semantics; FRS 25-bin neighborhood joins)
# ---------------------------------------------------------------------------


def _neighbor_pairs(points: DataFrame, radius: float,
                    id_col: str = "record_num",
                    x: str = "x", y: str = "y", z: str = "value") -> DataFrame:
    """(a_id, ax, ay, az, b_id, bx, by, bz) for all DISTINCT point pairs
    within `radius` (both directions). One FRS cell equi-join."""
    from ..functions.cells import explode_neighbor_cells

    from ..plans.spread import spread_narrow_scan

    src = points.selectExpr(
        f"{id_col} AS pid", f"{x} AS px", f"{y} AS py", f"{z} AS pz")
    # the 25-key explode + pair filter is the heavy map work of every
    # caller; a single-file fixture scan would run it on 1-2 tasks (the
    # build side broadcasts, so no exchange ever spreads it). Real
    # deployments read many splits and skip this. Plan-inspected probe —
    # never .rdd.getNumPartitions(), which executes the upstream stages
    # under AQE (plans/spread.py).
    src = spread_narrow_scan(src)
    base = with_frs_cells(src, radius, x="px", y="py")
    probe = explode_neighbor_cells(base, reach=2)
    build = base.selectExpr("pid AS b_id", "px AS bx", "py AS by", "pz AS bz",
                            "cx AS ncx", "cy AS ncy")
    return (
        probe.join(build, ["ncx", "ncy"])
        .where("pid <> b_id")
        .selectExpr("pid AS a_id", "px AS ax", "py AS ay", "pz AS az",
                    "b_id", "bx", "by", "bz")
        .where(f"(ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= {radius * radius!r}")
    )


def lidar_ground_point_filter(points: DataFrame, radius: float = 2.0,
                              height_threshold: float = 1.0,
                              slope_threshold: float = 45.0,
                              id_col: str = "record_num",
                              z: str = "value") -> DataFrame:
    """Slope-based ground classification
    (lidar_ground_point_filter.rs:21-35 core rule, without the optional
    slope normalization / kNN fallback): a point is OFF-ground (class 1)
    iff some neighbor within `radius` sits LOWER by >= height_threshold
    with inter-point slope above slope_threshold degrees; else ground
    (class 2). Pure join + aggregate — SQL-expressible, oracle-gated."""
    import math

    tan_t = math.tan(math.radians(slope_threshold))
    pairs = _neighbor_pairs(points, radius, id_col=id_col, z=z)
    off = (
        pairs.where(
            f"(az - bz) >= {height_threshold!r} AND "
            f"(az - bz) / SQRT((ax - bx) * (ax - bx) + (ay - by) * (ay - by)) > {tan_t!r}"
        )
        .select(F.col("a_id").alias("pid")).distinct()
    )
    base = points.selectExpr(f"{id_col} AS pid")
    return base.join(off.selectExpr("pid", "1 AS __off"), "pid", "left") \
               .selectExpr(f"pid AS {id_col}",
                           "CAST(CASE WHEN __off IS NOT NULL THEN 1 ELSE 2 END AS INT) "
                           "AS classification")


def lidar_segmentation(points: DataFrame, radius: float = 2.0,
                       norm_diff: float = 10.0, maxzdiff: float = 1.0,
                       id_col: str = "record_num",
                       z: str = "value",
                       max_rounds: int = 48) -> DataFrame:
    """Plane-normal region growing (lidar_segmentation.rs semantics):
    per-point normals from the local PCA plane fit, then connected
    components over neighbor pairs whose normals differ < norm_diff
    degrees AND |dz| <= maxzdiff (clump.connected_components). Output
    (id, segment_id 1..K, numbered by each segment's smallest point
    id)."""
    import math

    from ..plans.iterate import materialize
    from ..plans.rank import dense_rank_small
    from .clump import connected_components

    pairs = _neighbor_pairs(points, radius, id_col=id_col, z=z) \
        .localCheckpoint(eager=True)
    # local plane normal per point: the shared closed-form eigen solve
    # (NORMALS_STAGES) over this same pair frame — deterministic and
    # DuckDB-replayable, which is what upgrades this op's oracle
    nrm = _normals_from_pairs(points, pairs, id_col=id_col, z=z) \
        .localCheckpoint(eager=True)
    cos_t = math.cos(math.radians(norm_diff))
    e = (
        pairs.select("a_id", "b_id", "az", "bz")
        .join(nrm.selectExpr("pid AS a_id", "nx AS anx", "ny AS any_", "nz AS anz"), "a_id")
        .join(nrm.selectExpr("pid AS b_id", "nx AS bnx", "ny AS bny", "nz AS bnz"), "b_id")
        .where(f"ABS(az - bz) <= {maxzdiff!r} AND "
               f"ABS(anx * bnx + any_ * bny + anz * bnz) >= {cos_t!r}")
        .selectExpr("a_id AS a", "b_id AS b")
    )
    comp = connected_components(e, "lidar_segmentation label propagation",
                                max_rounds)
    lbl, _ = materialize(
        points.selectExpr(f"{id_col} AS pid")
        .join(comp.withColumnRenamed("id", "pid"), "pid", "left")
        .selectExpr("pid", "COALESCE(comp, pid) AS lbl"))
    reps = dense_rank_small(lbl, "lbl", "segment_id")
    return lbl.join(reps, "lbl").selectExpr(f"pid AS {id_col}",
                                            "CAST(segment_id AS BIGINT) AS segment_id")


def lidar_ransac_planes(points: DataFrame, radius: float = 10.0,
                        num_iter: int = 50, num_samples: int = 10,
                        threshold: float = 0.25, model_size: int = 8,
                        id_col: str = "record_num", z: str = "value",
                        seed: int = 42) -> DataFrame:
    """RANSAC plane detection per FRS neighborhood cell
    (lidar_ransac_planes.rs semantics): within each cell, fit
    least-squares planes to seeded random samples, keep the model with
    the most inliers (|orthogonal residual| <= threshold, strictly-more
    wins so the earliest best iteration is kept); points of an accepted
    model (>= model_size inliers) are flagged is_planar with the cell's
    plane id.

    Sampling is a seeded hash permutation: iteration i draws the
    num_samples cell points with the smallest MD5(seed:i:pid) digests —
    layout-independent (the reference's thread RNG is only
    distributionally reproducible; this plan is bitwise reproducible on
    any cluster layout AND replayable by the DuckDB oracle). The plane
    fit is the shared closed-form smallest-eigenvector solve
    (NORMALS_STAGES) over the sample covariance — the same
    least-squares orthogonal plane the reference's SVD computes. Whole
    plan is codegen SQL; the per-(cell, iteration) windows are small by
    construction (cell population x num_iter rows)."""
    from pyspark.sql import Window

    base = with_frs_cells(
        points.selectExpr(f"{id_col} AS pid", "x AS px", "y AS py",
                          f"{z} AS pz"),
        radius, x="px", y="py")
    its = points.sparkSession.range(int(num_iter)).selectExpr("id AS it")
    hexpr = (f"MD5(CONCAT('{int(seed)}', ':', CAST(it AS STRING), ':', "
             f"CAST(pid AS STRING)))")
    ranked = (
        base.join(F.broadcast(its))
        .withColumn("__h", F.expr(hexpr))
        .withColumn("__rk", F.row_number().over(
            Window.partitionBy("cx", "cy", "it").orderBy("__h")))
    )
    grouped = (
        ranked.where(f"__rk <= {int(num_samples)}")
        .groupBy("cx", "cy", "it")
        .agg(F.expr("SORT_ARRAY(COLLECT_LIST(STRUCT(pid AS qid, px AS qx, "
                    "py AS qy, pz AS qz)))").alias("arr"))
        .where(f"SIZE(arr) >= {int(num_samples)}")
    )
    folds = [
        f"AGGREGATE(arr, CAST(0.0 AS DOUBLE), (acc, v) -> acc + {t}) AS {nm}"
        for nm, t in NORMALS_FOLD_TERMS
    ]
    m = grouped.selectExpr("cx", "cy", "it",
                           "CAST(SIZE(arr) AS DOUBLE) AS n", *folds)
    for stage in NORMALS_STAGES:
        m = m.selectExpr("*", *[f"{e} AS {nm}" for nm, e in stage])
    models = m.select("cx", "cy", "it", "mx", "my", "mz", "nx", "ny", "nz")
    d_ok = (f"ABS((px - mx) * nx + (py - my) * ny + (pz - mz) * nz) "
            f"<= {float(threshold)!r}")
    scored = (
        base.join(models, ["cx", "cy"])
        .groupBy("cx", "cy", "it", "mx", "my", "mz", "nx", "ny", "nz")
        .agg(F.expr(f"SUM(CASE WHEN {d_ok} THEN 1 ELSE 0 END)").alias("cnt"))
        .where(f"cnt >= {int(model_size)}")
    )
    best = (
        scored.withColumn("__brk", F.row_number().over(
            Window.partitionBy("cx", "cy")
            .orderBy(F.col("cnt").desc(), F.col("it"))))
        .where("__brk = 1")
        .select("cx", "cy", "mx", "my", "mz", "nx", "ny", "nz")
    )
    return (
        base.join(best, ["cx", "cy"], "left")
        .selectExpr(
            f"pid AS {id_col}",
            "cx * 1000003L + cy AS plane_id",
            f"CASE WHEN nx IS NOT NULL AND {d_ok} THEN TRUE ELSE FALSE END "
            "AS is_planar",
        )
    )


def lidar_colourize(points: DataFrame, r: DataFrame, g: DataFrame,
                    b: DataFrame, meta) -> DataFrame:
    """LidarColourize (lidar_analysis/lidar_colourize.rs semantics):
    attach the RGB values of the image cell containing each point.
    One cell-id equi-join per band (broadcast when the image is small,
    sort-merge at scale)."""
    mapped = points.selectExpr(
        "record_num", "x", "y",
        f"{meta.row_from_y_expr('y')} AS row",
        f"{meta.col_from_x_expr('x')} AS col",
    )
    out = (
        mapped
        .join(r.selectExpr("row", "col", "value AS red"), ["row", "col"], "left")
        .join(g.selectExpr("row", "col", "value AS green"), ["row", "col"], "left")
        .join(b.selectExpr("row", "col", "value AS blue"), ["row", "col"], "left")
    )
    return out.select("record_num", "x", "y", "red", "green", "blue")


# ---------------------------------------------------------------------------
# Round-3: LiDAR classification / flightline / surface suite
# (lidar_analysis/{classify_buildings,lidar_dsm,normal_vectors,
#  flightline_overlap,find_flightline_edge_points,classify_overlap_points,
#  select_tiles_by_polygon}.rs, whitebox-plugins/src/normalize_lidar/)
# ---------------------------------------------------------------------------


# Closed-form smallest-eigenpair of the 3x3 neighborhood covariance,
# staged as dialect-neutral SQL text. The DuckDB oracles replay these
# exact strings (__spark_entry__._eigen_stage_ctes), so every +,-,*,/,
# SQRT is bit-identical across engines; the only libm calls are ACOS/COS
# (one each), absorbed by the query's ROUND(6) gate.
#
# Method (Eberly, "Eigensystems for 3x3 symmetric matrices"): shift by
# q = tr(A)/3, scale by p = sqrt(tr((A-qI)^2)/6); the smallest eigenvalue
# is q + 2p cos(acos(det((A-qI)/p)/2)/3 + 2pi/3); its eigenvector is the
# largest-norm cross product of two rows of (A - lambda I).
NORMALS_FOLD_TERMS = [
    ("sx", "v.qx"), ("sy", "v.qy"), ("sz", "v.qz"),
    ("sxx", "v.qx * v.qx"), ("sxy", "v.qx * v.qy"), ("sxz", "v.qx * v.qz"),
    ("syy", "v.qy * v.qy"), ("syz", "v.qy * v.qz"), ("szz", "v.qz * v.qz"),
]
NORMALS_STAGES = [
    [("mx", "(sx / n)"), ("my", "(sy / n)"), ("mz", "(sz / n)")],
    [("a00", "(sxx / n - mx * mx)"), ("a01", "(sxy / n - mx * my)"),
     ("a02", "(sxz / n - mx * mz)"), ("a11", "(syy / n - my * my)"),
     ("a12", "(syz / n - my * mz)"), ("a22", "(szz / n - mz * mz)")],
    [("q", "((a00 + a11 + a22) / 3.0)"),
     ("p1", "(a01 * a01 + a02 * a02 + a12 * a12)")],
    [("b00", "(a00 - q)"), ("b11", "(a11 - q)"), ("b22", "(a22 - q)")],
    [("p2", "(b00 * b00 + b11 * b11 + b22 * b22 + 2.0 * p1)")],
    [("p", "SQRT(p2 / 6.0)")],
    [("detb", "(b00 * (b11 * b22 - a12 * a12) - a01 * (a01 * b22 - a12 * a02)"
              " + a02 * (a01 * a12 - b11 * a02))")],
    [("rr", "(CASE WHEN p = 0.0 THEN 0.0 ELSE "
            "LEAST(GREATEST(detb / (2.0 * p * p * p), -1.0), 1.0) END)")],
    # 2.0943951023931953 = 2*pi/3 (same literal in the DuckDB replay)
    [("lam", "(q + 2.0 * p * COS(ACOS(rr) / 3.0 + 2.0943951023931953))")],
    [("m00", "(a00 - lam)"), ("m11", "(a11 - lam)"), ("m22", "(a22 - lam)")],
    # rows of (A - lam I): r0=(m00,a01,a02) r1=(a01,m11,a12) r2=(a02,a12,m22)
    [("c0x", "(a01 * a12 - a02 * m11)"), ("c0y", "(a02 * a01 - m00 * a12)"),
     ("c0z", "(m00 * m11 - a01 * a01)"),
     ("c1x", "(a01 * m22 - a02 * a12)"), ("c1y", "(a02 * a02 - m00 * m22)"),
     ("c1z", "(m00 * a12 - a01 * a02)"),
     ("c2x", "(m11 * m22 - a12 * a12)"), ("c2y", "(a12 * a02 - a01 * m22)"),
     ("c2z", "(a01 * a12 - m11 * a02)")],
    [("d0", "(c0x * c0x + c0y * c0y + c0z * c0z)"),
     ("d1", "(c1x * c1x + c1y * c1y + c1z * c1z)"),
     ("d2", "(c2x * c2x + c2y * c2y + c2z * c2z)")],
    [("ux", "(CASE WHEN d0 >= d1 AND d0 >= d2 THEN c0x "
            "WHEN d1 >= d2 THEN c1x ELSE c2x END)"),
     ("uy", "(CASE WHEN d0 >= d1 AND d0 >= d2 THEN c0y "
            "WHEN d1 >= d2 THEN c1y ELSE c2y END)"),
     ("uz", "(CASE WHEN d0 >= d1 AND d0 >= d2 THEN c0z "
            "WHEN d1 >= d2 THEN c1z ELSE c2z END)"),
     ("dd", "(CASE WHEN d0 >= d1 AND d0 >= d2 THEN d0 "
            "WHEN d1 >= d2 THEN d1 ELSE d2 END)")],
    [("ln", "SQRT(dd)")],
    # degenerate neighborhoods (isotropic covariance, e.g. an isolated
    # point with cov = 0) have no preferred plane: emit (0, 0, 1)
    [("vx", "(CASE WHEN p2 = 0.0 OR ln = 0.0 THEN 0.0 ELSE ux / ln END)"),
     ("vy", "(CASE WHEN p2 = 0.0 OR ln = 0.0 THEN 0.0 ELSE uy / ln END)"),
     ("vz", "(CASE WHEN p2 = 0.0 OR ln = 0.0 THEN 1.0 ELSE uz / ln END)")],
    # orientation: z-positive; on the nz = 0 great circle fall back to
    # x-positive, then y-positive (fully deterministic sign)
    [("fl", "(vz < 0.0 OR (vz = 0.0 AND (vx < 0.0 OR "
            "(vx = 0.0 AND vy < 0.0))))")],
    [("nx", "(CASE WHEN fl THEN -vx ELSE vx END)"),
     ("ny", "(CASE WHEN fl THEN -vy ELSE vy END)"),
     ("nz", "(CASE WHEN fl THEN -vz ELSE vz END)")],
]


def _normals_from_pairs(points: DataFrame, pairs: DataFrame,
                        id_col: str = "record_num",
                        z: str = "value") -> DataFrame:
    """(pid, nx, ny, nz) from a prebuilt `_neighbor_pairs` frame: the
    point itself joins its neighbor list, the list is put in canonical
    (id-sorted) order, moments are fold-order sums, and NORMALS_STAGES
    runs the closed-form eigen solve — all whole-stage codegen."""
    grouped = (
        pairs.selectExpr("a_id AS pid", "b_id AS qid",
                         "bx AS qx", "by AS qy", "bz AS qz")
        .unionByName(
            points.selectExpr(f"{id_col} AS pid", f"{id_col} AS qid",
                              "x AS qx", "y AS qy", f"{z} AS qz"))
        .groupBy("pid")
        .agg(F.expr("SORT_ARRAY(COLLECT_LIST(STRUCT(qid, qx, qy, qz)))")
             .alias("arr"))
    )
    folds = [
        f"AGGREGATE(arr, CAST(0.0 AS DOUBLE), (acc, v) -> acc + {t}) AS {nm}"
        for nm, t in NORMALS_FOLD_TERMS
    ]
    df = grouped.selectExpr("pid", "CAST(SIZE(arr) AS DOUBLE) AS n", *folds)
    for stage in NORMALS_STAGES:
        df = df.selectExpr("*", *[f"{e} AS {nm}" for nm, e in stage])
    return df.select("pid", "nx", "ny", "nz")


def lidar_point_normals(points: DataFrame, radius: float = 2.0,
                        id_col: str = "record_num",
                        z: str = "value") -> DataFrame:
    """NormalVectors (lidar_analysis/normal_vectors.rs semantics):
    per-point unit normal = smallest-eigenvalue eigenvector of the local
    neighborhood's 3x3 covariance (point included), z-positive
    orientation. One FRS neighbor join -> per-point neighbor lists in
    canonical (id-sorted) order -> fold-order moment sums -> the
    closed-form eigen solve above, all whole-stage codegen (zero Python;
    group size is radius-bounded, so the collected lists are O(local
    density), scale-safe). Output (id, nx, ny, nz)."""
    pairs = _neighbor_pairs(points, radius, id_col=id_col, z=z)
    return _normals_from_pairs(points, pairs, id_col=id_col, z=z) \
        .withColumnRenamed("pid", id_col)


def classify_buildings(points: DataFrame, footprints: DataFrame,
                       x: str = "x", y: str = "y",
                       class_col: str = "classification") -> DataFrame:
    """ClassifyBuildings (lidar_analysis/classify_buildings.rs): points
    inside any building-footprint polygon get class 6; everything else
    keeps its classification. Simple PIP membership — the broadcast
    codegen verdict of pip_join (even-odd, boundary outside), zero
    Python in the hot path."""
    from ..functions import geometry_sql as GS
    from .pip_join import _rings, collect_polygons

    recs = collect_polygons(footprints)
    verdict = GS.clip_verdict_spark_sql(
        [(*_rings(r), r.bbox) for r in recs], x, y)
    keep = [c for c in points.columns if c != class_col]
    return points.selectExpr(
        *keep,
        f"CAST(CASE WHEN {verdict} THEN 6 ELSE "
        f"{class_col if class_col in points.columns else 'CAST(1 AS INT)'} "
        f"END AS INT) AS {class_col}",
    )


def lidar_dsm(points: DataFrame, meta, first_returns_only: bool = True,
              z: str = "value", tile: int = 32) -> DataFrame:
    """LidarDSM (lidar_analysis/lidar_dsm.rs semantics): digital surface
    model — rasterize the TOP surface. Per-cell max of (optionally
    first-return) points, then TIN interpolation of the per-cell maxima
    fills cells without points (the reference triangulates the upper
    surface; cells carrying their own point max are exact)."""
    from .tin import tin_gridding

    pts = points
    if first_returns_only and "return_number" in points.columns:
        pts = points.where("return_number = 1")
    bmax = block_maximum(pts, meta, value_col=z)
    # cells with points are authoritative; TIN of the maxima (as synthetic
    # points at cell centers) fills the gaps
    xc = meta.x_center_expr("col")
    yc = meta.y_center_expr("row")
    synth = bmax.selectExpr(f"{xc} AS x", f"{yc} AS y", "value")
    filled = tin_gridding(synth, meta, tile=tile)
    return filled.join(bmax.selectExpr("row", "col", "value AS __direct"),
                       ["row", "col"], "full").selectExpr(
        "row", "col", "COALESCE(__direct, value) AS value")


def flightline_overlap(points: DataFrame, meta,
                       flightline_col: str = "flightline",
                       x: str = "x", y: str = "y") -> DataFrame:
    """FlightlineOverlap (lidar_analysis/flightline_overlap.rs): per
    grid cell, the number of DISTINCT flightlines with a point in the
    cell. One hash aggregation (partial distinct map-side)."""
    r = meta.row_from_y_expr(y)
    c = meta.col_from_x_expr(x)
    return points.selectExpr(f"{r} AS row", f"{c} AS col",
                             f"{flightline_col} AS fl") \
        .where(meta.in_grid_pred("row", "col")) \
        .groupBy("row", "col") \
        .agg(F.expr("CAST(COUNT(DISTINCT fl) AS DOUBLE)").alias("value"))


def find_flightline_edge_points(points: DataFrame,
                                edge_col: str = "edge_flag",
                                id_col: str = "record_num") -> DataFrame:
    """FindFlightlineEdgePoints (find_flightline_edge_points.rs:193):
    pass through points whose LAS edge-of-flightline flag is set —
    a pure pushed-down filter."""
    return points.where(F.col(edge_col) == 1)


def classify_overlap_points(points: DataFrame, resolution: float,
                            flightline_col: str = "flightline",
                            x: str = "x", y: str = "y",
                            class_col: str = "classification") -> DataFrame:
    """ClassifyOverlapPoints (lidar_analysis/classify_overlap_points.rs
    semantics, min-scan-angle-magnitude criterion): within each
    `resolution` grid cell, the flightline whose points have the lowest
    mean |scan_angle| keeps its classification; points of every OTHER
    flightline in the cell become class 12 (overlap). Ties resolve to
    the smaller flightline id. Two hash aggregations, no Python."""
    cells = with_frs_cells(points, resolution, x=x, y=y)
    fl_stat = cells.groupBy("cx", "cy", flightline_col).agg(
        F.avg(F.expr("ABS(scan_angle)")).alias("ma"))
    winner = fl_stat.groupBy("cx", "cy").agg(
        F.expr(f"MIN_BY({flightline_col}, STRUCT(ma, {flightline_col}))")
        .alias("__winner"))
    keep = [c for c in points.columns if c != class_col]
    out = cells.join(winner, ["cx", "cy"])
    return out.selectExpr(
        *keep,
        f"CAST(CASE WHEN {flightline_col} = __winner THEN {class_col} "
        f"ELSE 12 END AS INT) AS {class_col}",
    )


def select_tiles_by_polygon(tiles: DataFrame, polygons: DataFrame) -> DataFrame:
    """SelectTilesByPolygon (lidar_analysis/select_tiles_by_polygon.rs:
    24-28,244): keep tiles whose rectangular footprint intersects any
    polygon. tiles: (tile_id, xmin, ymin, xmax, ymax). A rect intersects
    a polygon iff (a) some rect corner is inside the polygon, (b) some
    polygon vertex is inside the rect, or (c) a polygon edge crosses a
    rect edge — three cheap distributed checks over the flattened
    vertex/edge tables; the polygon layer never touches the driver."""
    from .pip_join import polygon_vertices
    from .vector_ops import line_intersections

    verts = polygon_vertices(polygons)
    # (b) vertex in rect
    hit_b = tiles.join(
        verts,
        F.expr("vx > xmin AND vx < xmax AND vy > ymin AND vy < ymax"),
        "inner").select("tile_id").distinct()
    # (a) rect corner in polygon: corners as points -> cellcover PIP
    corners = tiles.selectExpr(
        "tile_id",
        "EXPLODE(ARRAY(STRUCT(xmin AS x, ymin AS y), "
        "STRUCT(xmin AS x, ymax AS y), STRUCT(xmax AS x, ymin AS y), "
        "STRUCT(xmax AS x, ymax AS y))) AS c",
    ).selectExpr("tile_id", "c.x AS x", "c.y AS y")
    from .pip_join import points_in_polygons

    hit_a = points_in_polygons(corners, polygons).select("tile_id").distinct()
    # (c) polygon edge crosses a rect edge
    pedges = verts.selectExpr("polygon_id", "part_idx", "vtx_idx",
                              "vx", "vy") \
        .withColumn("__n", F.expr(
            "LEAD(STRUCT(vx, vy)) OVER (PARTITION BY polygon_id, part_idx "
            "ORDER BY vtx_idx)")) \
        .where("__n IS NOT NULL") \
        .selectExpr("polygon_id AS shape_id",
                    "vtx_idx AS seg_idx",
                    "vx AS x1", "vy AS y1", "__n.vx AS x2", "__n.vy AS y2")
    redges = tiles.selectExpr(
        "tile_id",
        "EXPLODE(ARRAY("
        "STRUCT(xmin AS x1, ymin AS y1, xmax AS x2, ymin AS y2), "
        "STRUCT(xmax AS x1, ymin AS y1, xmax AS x2, ymax AS y2), "
        "STRUCT(xmax AS x1, ymax AS y1, xmin AS x2, ymax AS y2), "
        "STRUCT(xmin AS x1, ymax AS y1, xmin AS x2, ymin AS y2))) AS e",
    ).selectExpr("tile_id AS shape_id", "CAST(0 AS LONG) AS seg_idx",
                 "e.x1 AS x1", "e.y1 AS y1", "e.x2 AS x2", "e.y2 AS y2")
    hit_c = line_intersections(redges, pedges) \
        .selectExpr("a_id AS tile_id").distinct()
    hits = hit_a.unionByName(hit_b).unionByName(hit_c).distinct()
    return tiles.join(hits, "tile_id", "leftsemi")


def normalize_lidar(points: DataFrame, meta, ground_class: int = 2,
                    tile: int = 32, halo: float | None = None,
                    id_col: str = "record_num",
                    z: str = "value") -> DataFrame:
    """NormalizeLidar (whitebox-plugins/src/normalize_lidar/ semantics):
    height above the ground TIN — triangulate the ground-class points
    and subtract the interpolated ground elevation at every point.
    Output (id, hag); points outside the local ground hull fall back to
    z - nearest-cell ground minimum.

    Round-5 plan: certified exact global ground Delaunay
    (tin.delaunay_certified) + pure-SQL barycentric at the point
    locations (triangles explode to the meta cells their bbox covers;
    points equi-join on their cell) — output is independent of the
    tile/halo parameters and the shuffle layout, no Python in the hot
    path. Points outside the ground hull fall back to z - min(ground z)
    (the global minimum: with the global TIN there is no per-tile
    ambiguity)."""
    from pyspark.sql import Window

    from .tin import delaunay_certified

    ground = points.where(F.col("classification") == ground_class) \
        .selectExpr("x", "y", f"{z} AS value")
    tris = delaunay_certified(ground, meta, tile=tile, halo=halo)
    rexp, cexp = meta.row_from_y_expr, meta.col_from_x_expr
    spread = tris.selectExpr(
        "*",
        f"GREATEST(0L, {rexp('GREATEST(ay, by, cy)')} - 1L) AS __r0",
        f"LEAST({meta.rows - 1}L, {rexp('LEAST(ay, by, cy)')} + 1L) AS __r1",
        f"GREATEST(0L, {cexp('LEAST(ax, bx, cx)')} - 1L) AS __c0",
        f"LEAST({meta.columns - 1}L, {cexp('GREATEST(ax, bx, cx)')} + 1L) "
        "AS __c1",
    ).where("__r0 <= __r1 AND __c0 <= __c1").selectExpr(
        "ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz", "__c0", "__c1",
        "EXPLODE(SEQUENCE(__r0, __r1)) AS __row",
    ).selectExpr(
        "ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz", "__row",
        "EXPLODE(SEQUENCE(__c0, __c1)) AS __col",
    )
    pts = points.selectExpr(
        id_col, "x AS px", "y AS py", f"{z} AS pz",
        f"LEAST({meta.rows - 1}L, GREATEST(0L, {rexp('y')})) AS __row",
        f"LEAST({meta.columns - 1}L, GREATEST(0L, {cexp('x')})) AS __col",
    )
    det = "((by - cy) * (ax - cx) + (cx - bx) * (ay - cy))"
    l1 = f"(((by - cy) * (px - cx) + (cx - bx) * (py - cy)) / {det})"
    l2 = f"(((cy - ay) * (px - cx) + (ax - cx) * (py - cy)) / {det})"
    hits = (
        pts.join(spread, ["__row", "__col"])
        .where(f"{det} != 0.0")
        .selectExpr(id_col, "pz", "az", "bz", "cz",
                    "ax", "ay", "bx", "by", "cx", "cy",
                    f"{l1} AS __l1", f"{l2} AS __l2")
        .selectExpr("*", "(1.0 - __l1 - __l2) AS __l3")
        .where("__l1 >= -1e-12 AND __l2 >= -1e-12 AND __l3 >= -1e-12")
    )
    w = Window.partitionBy(id_col).orderBy("ax", "ay", "bx", "by", "cx", "cy")
    interp = (
        hits.withColumn("__rk", F.row_number().over(w)).where("__rk = 1")
        .selectExpr(id_col, "__l1 * az + __l2 * bz + __l3 * cz AS __gz")
    )
    # scalar fallbacks as one broadcast row (a global MIN is a map-side
    # combined agg, never a single-reducer window): ground minimum for
    # outside-hull points; corpus minimum if there is no ground at all
    mins = ground.agg(F.min("value").alias("__gmin")).crossJoin(
        points.agg(F.expr(f"MIN({z})").alias("__pmin")))
    return (
        pts.join(interp, id_col, "left").crossJoin(F.broadcast(mins))
        .selectExpr(id_col, "pz - COALESCE(__gz, __gmin, __pmin) AS hag")
    )


def individual_tree_detection(points: DataFrame,
                              min_search_radius: float = 1.0,
                              min_height: float = 0.0,
                              max_search_radius: float | None = None,
                              max_height: float | None = None,
                              id_col: str = "record_num",
                              z: str = "value") -> DataFrame:
    """IndividualTreeDetection (whitebox-plugins/src/
    individual_tree_detection/main.rs:32-41): a (height-normalized)
    point is a tree top iff it is the HIGHEST point within its search
    radius; the radius interpolates linearly from min_search_radius at
    min_height to max_search_radius at max_height (clamped), and points
    below min_height are ignored. Ties resolve to the smaller point id
    (the reference keeps the first encountered).

    Plan: one FRS neighbor join at the MAX radius, per-pair radius
    filter in codegen, anti-join on dominated points."""
    pts = points.where(F.expr(f"{z} >= {min_height!r}"))
    r_hi = max_search_radius if max_search_radius is not None else min_search_radius
    if max_search_radius is None or max_height is None or max_height <= min_height:
        radius_expr = f"{min_search_radius!r}"
    else:
        t = f"LEAST(GREATEST((az - {min_height!r}) / {max_height - min_height!r}, 0.0), 1.0)"
        radius_expr = (f"({min_search_radius!r} + ({t}) * "
                       f"{r_hi - min_search_radius!r})")
    pairs = _neighbor_pairs(pts, r_hi, id_col=id_col, z=z)
    dominated = pairs.where(
        f"(ax - bx) * (ax - bx) + (ay - by) * (ay - by) "
        f"<= ({radius_expr}) * ({radius_expr}) AND "
        f"(bz > az OR (bz = az AND b_id < a_id))"
    ).select(F.col("a_id").alias("pid")).distinct()
    return pts.join(dominated.withColumnRenamed("pid", id_col), id_col,
                    "left_anti")


def lidar_classify_subset(base: DataFrame, subset: DataFrame,
                          subset_class: int = 2,
                          id_col: str = "record_num",
                          class_col: str = "classification") -> DataFrame:
    """LidarClassifySubset (lidar_analysis/lidar_classify_subset.rs):
    base-cloud points that exist in the subset cloud (same x, y, z) get
    `subset_class`; everything else keeps its class. One equi-join on
    the exact coordinates (the subset IS a filtration of the base, so
    floats are identical copies)."""
    sub = subset.selectExpr("x AS sx", "y AS sy", "value AS sz").distinct()
    keep = [c for c in base.columns if c != class_col]
    j = base.join(sub, (F.col("x") == F.col("sx"))
                  & (F.col("y") == F.col("sy"))
                  & (F.col("value") == F.col("sz")), "left")
    return j.selectExpr(
        *keep,
        f"CAST(CASE WHEN sx IS NOT NULL THEN {subset_class} "
        f"ELSE {class_col} END AS INT) AS {class_col}")


def lidar_rooftop_analysis(points: DataFrame, footprints: DataFrame,
                           radius: float = 2.0, norm_diff: float = 10.0,
                           maxzdiff: float = 1.0,
                           id_col: str = "record_num",
                           z: str = "value") -> DataFrame:
    """LidarRooftopAnalysis (whitebox-tools LidarRooftopAnalysis
    semantics, composed): classify building points (PIP on the
    footprint layer), then split each building's points into planar
    roof facets — the plane-normal region growing of
    lidar_segmentation restricted to building points. Output (id,
    polygon_id, facet_id). Plane fitting + segmentation reuse the
    shared PCA/label-propagation machinery."""
    from .pip_join import points_in_polygons

    tagged = points_in_polygons(points, footprints)
    segs = lidar_segmentation(tagged, radius=radius, norm_diff=norm_diff,
                              maxzdiff=maxzdiff, id_col=id_col, z=z)
    return tagged.select(id_col, "polygon_id").join(segs, id_col) \
        .selectExpr(id_col, "polygon_id", "segment_id AS facet_id")


def lidar_kappa(a: DataFrame, b: DataFrame, id_col: str = "record_num",
                class_col: str = "classification") -> DataFrame:
    """LidarKappaIndex (lidar_analysis/lidar_kappa.rs semantics): kappa
    agreement between two clouds' point classifications, matched by
    point id — contingency counts are exact integers, pure SQL."""
    j = a.selectExpr(f"{id_col} AS pid", f"{class_col} AS ca").join(
        b.selectExpr(f"{id_col} AS pid", f"{class_col} AS cb"), "pid")
    t = j.agg(F.count(F.lit(1)).alias("n"),
              F.expr("SUM(CASE WHEN ca = cb THEN 1 ELSE 0 END)").alias("agree"))
    marg = (j.groupBy("ca").agg(F.count(F.lit(1)).alias("na"))
            .join(j.groupBy("cb").agg(F.count(F.lit(1)).alias("nb")),
                  F.col("ca") == F.col("cb"))
            .agg(F.expr("SUM(na * nb)").alias("crs")))
    return t.crossJoin(marg).selectExpr(
        "CAST(n AS BIGINT) AS n",
        "CAST(agree AS DOUBLE) / n AS p_observed",
        "CAST(crs AS DOUBLE) / (CAST(n AS DOUBLE) * n) AS p_expected",
        "(CAST(agree AS DOUBLE) / n - CAST(crs AS DOUBLE) / (CAST(n AS DOUBLE) * n)) "
        "/ NULLIF(1.0 - CAST(crs AS DOUBLE) / (CAST(n AS DOUBLE) * n), 0.0) AS kappa",
    )


def lidar_hillshade(points: DataFrame, azimuth: float = 315.0,
                    altitude: float = 30.0, radius: float = 1.0,
                    id_col: str = "record_num",
                    z: str = "value") -> DataFrame:
    """LidarHillshade (lidar_analysis/lidar_hillshade.rs:236-340): per
    point, the illumination of its local PCA plane normal (a, b, c):
    fx = -a/c, fy = -b/c, tan_slope = sqrt(fx^2+fy^2),
    aspect = radians(180 - degrees(atan(fy/fx)) + 90*sign(fx)),
    hillshade = 255 * clamp(term1 * (sin(alt)/tan_slope
    - cos(alt) * sin(az' - aspect))), az' = radians(azimuth - 90);
    flat plane (fx == 0) -> 0.5. The reference stores
    (hillshade as u16) * 256 in the RGB bands — same value emitted here
    as `shade`. Deviation: a perfectly vertical plane (c == 0) emits the
    flat value 127 where the reference reuses the previous point's
    stale loop value (order-dependent; not reproducible distributed).
    Plan: normals kernel (one FRS join + batched eigh) -> one codegen
    projection; divisions are NULLIF-total (ANSI-safe)."""
    import math

    az = math.radians(azimuth - 90.0)
    sin_t, cos_t = math.sin(math.radians(altitude)), math.cos(math.radians(altitude))
    n = lidar_point_normals(points, radius=radius, id_col=id_col, z=z)
    fx = "(-nx / nz)"
    fy = "(-ny / nz)"
    ts = f"SQRT({fx} * {fx} + {fy} * {fy})"
    aspect = (f"RADIANS(180.0 - DEGREES(ATAN({fy} / {fx})) "
              f"+ 90.0 * ({fx} / ABS({fx})))")
    hs = (f"({ts} / SQRT(1.0 + {ts} * {ts})) "
          f"* (({sin_t!r} / NULLIF({ts}, 0.0)) "
          f"- {cos_t!r} * SIN({az!r} - {aspect}))")
    return n.selectExpr(
        id_col,
        f"CASE WHEN nz = 0.0 THEN 127L ELSE "
        f"CAST(FLOOR(CASE WHEN {fx} = 0.0 THEN 127.5 "
        f"ELSE GREATEST({hs} * 255.0, 0.0) END) AS BIGINT) END * 256 AS shade",
    )


def lidar_histogram(points: DataFrame, parameter: str = "value",
                    clip_percent: float = 1.0,
                    classification_mode: bool = False) -> DataFrame:
    """LidarHistogram (lidar_analysis/lidar_histogram.rs:270-400, the
    data series behind its HTML plot): a 1000-bin first pass locates the
    clip-tail thresholds (cumulative count > floor(n * clip%) from each
    end), the range is clipped to those bin edges exactly as the
    reference does (including its asymmetric upper edge and min/max
    swap), then the final histogram uses ceil(log2(n)) + 1 bins;
    out-of-range values are dropped. classification_mode: integer bins
    of width 1 and no clipping (:395). Output (bin, lo, hi, n) with
    every bin emitted (empty bins -> 0).

    Plan: two scans (min/max agg; 1000-bin groupBy whose <= 1000-row
    result drives the driver-side tail walk — bounded, not O(points)),
    then the final groupBy bin."""
    spark = points.sparkSession
    v = points.selectExpr(f"CAST({parameter} AS DOUBLE) AS v").where("v IS NOT NULL")
    mm = v.agg(F.min("v").alias("lo"), F.max("v").alias("hi"),
               F.count(F.lit(1)).alias("n")).collect()[0]
    vmin, vmax, n = float(mm["lo"]), float(mm["hi"]), int(mm["n"])
    if classification_mode:
        nbins = int(vmax - vmin + 0.00001) + 1
        bw = 1.0
        base = vmin
    else:
        import math

        rng = vmax - vmin + 0.00001
        bw0 = rng / 1000.0
        freq = {int(r["b"]): int(r["c"]) for r in
                v.selectExpr(f"CAST(FLOOR((v - {vmin!r}) / {bw0!r}) AS INT) AS b")
                .groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect()}
        thresh = int(n * (clip_percent / 100.0))
        cum, lower_tail = 0, 0
        for b in range(1000):
            cum += freq.get(b, 0)
            if cum > thresh:
                lower_tail = b
                break
        cum, upper_tail = 0, 0
        for b in range(999, -1, -1):
            cum += freq.get(b, 0)
            if cum > thresh:
                upper_tail = b
                break
        new_min, new_max = vmin, vmax
        if vmin < vmin + lower_tail * bw0:
            new_min = vmin + lower_tail * bw0
        if vmax > vmin + upper_tail * bw0 + bw0:
            new_max = vmin + upper_tail * bw0 + bw0
        if new_min > new_max:
            new_min, new_max = new_max, new_min
        nbins = int(math.ceil(math.log2(n))) + 1
        bw = (new_max - new_min + 0.00001) / nbins
        base = new_min
    counts = (
        v.selectExpr(f"CAST(FLOOR((v - {base!r}) / {bw!r}) AS BIGINT) AS bin")
        .where(f"bin >= 0 AND bin < {nbins}")
        .groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    )
    bins = spark.range(nbins).selectExpr("id AS bin")
    return (
        bins.join(counts, "bin", "left")
        .selectExpr("bin",
                    f"CAST({base!r} AS DOUBLE) + bin * CAST({bw!r} AS DOUBLE) AS lo",
                    f"CAST({base!r} AS DOUBLE) + (bin + 1) * CAST({bw!r} AS DOUBLE) AS hi",
                    "COALESCE(n, 0L) AS n")
    )


def lidar_segmentation_based_filter(points: DataFrame, radius: float = 5.0,
                                    norm_diff: float = 2.0,
                                    maxzdiff: float = 1.0,
                                    classify: bool = True,
                                    id_col: str = "record_num",
                                    z: str = "value") -> DataFrame:
    """LidarSegmentationBasedFilter
    (lidar_analysis/lidar_segmentation_based_filter.rs:290-560): a
    white-top-hat transform flattens the terrain — erosion (min z over
    the 2D neighborhood of radius 2r) then dilation (max of those minima
    over the same neighborhood), residual = z - dilated — then the
    residual surface is segmented by plane-normal similarity and ground
    is the region-grow closure of the residual == 0 seeds; ground class
    2, off-terrain class 1 (or filter to ground only).

    Plan: two FRS joins for the top-hat, then the existing
    lidar_segmentation label-propagation over the residual surface and a
    seed semi-join — the stack-based grow in the reference computes
    exactly the connected closure of its symmetric edge predicate, which
    is what the component labels give. Deviations (documented):
    neighbor candidacy is the 2D disc the segmentation kernel uses (the
    reference re-bins in 3D over (x, y, residual)), and the segmentation
    edge rule's |dz| bound is inclusive where the reference's is strict.
    """
    pairs = _neighbor_pairs(points, 2.0 * radius, id_col=id_col, z=z)
    self_rows = points.selectExpr(f"{id_col} AS a_id", f"{z} AS bz")
    nmin = (
        pairs.selectExpr("a_id", "bz").unionByName(self_rows)
        .groupBy("a_id").agg(F.min("bz").alias("nmin"))
    )
    with_min = pairs.selectExpr("a_id", "b_id").join(
        nmin.selectExpr("a_id AS b_id", "nmin AS b_nmin"), "b_id")
    dil = (
        with_min.selectExpr("a_id", "b_nmin")
        .unionByName(nmin.selectExpr("a_id", "nmin AS b_nmin"))
        .groupBy("a_id").agg(F.max("b_nmin").alias("dil"))
    )
    # pin the top-hat residual once: segmentation, seed selection, and
    # the final classify join all branch from it — unpinned, the two
    # FRS min/max chains would re-execute per downstream action
    resid = points.join(dil.withColumnRenamed("a_id", id_col), id_col) \
        .withColumn("__resid", F.expr(f"{z} - dil")).drop("dil") \
        .localCheckpoint(eager=True)
    seg_pts = resid.drop(z).withColumnRenamed("__resid", "__rz")
    segs = lidar_segmentation(seg_pts, radius=radius, norm_diff=norm_diff,
                              maxzdiff=maxzdiff, id_col=id_col, z="__rz")
    labeled = seg_pts.select(id_col, "__rz").join(segs, id_col) \
        .localCheckpoint(eager=True)
    ground_segs = labeled.where("__rz = 0.0").select("segment_id").distinct()
    ground = labeled.join(F.broadcast(ground_segs), "segment_id") \
        .select(id_col).withColumn("__ground", F.lit(1))
    out = points.join(ground, id_col, "left")
    if classify:
        return out.withColumn(
            "classification",
            F.expr("CASE WHEN __ground = 1 THEN 2 ELSE 1 END")).drop("__ground")
    return out.where("__ground = 1").drop("__ground")


def lidar_shift(points: DataFrame, x_shift: float = 0.0, y_shift: float = 0.0,
                z_shift: float = 0.0, z: str = "value") -> DataFrame:
    """LidarShift (whitebox-plugins/src/lidar_shift/main.rs): translate
    the cloud by (x_shift, y_shift, z_shift). Pure codegen projection."""
    out = points
    if x_shift != 0.0:
        out = out.withColumn("x", F.expr(f"x + {float(x_shift)!r}"))
    if y_shift != 0.0:
        out = out.withColumn("y", F.expr(f"y + {float(y_shift)!r}"))
    if z_shift != 0.0:
        out = out.withColumn(z, F.expr(f"{z} + {float(z_shift)!r}"))
    return out


def lidar_point_stats(points: DataFrame, meta,
                      x: str = "x", y: str = "y", z: str = "value",
                      intensity: str = "intensity",
                      return_number: str = "return_number",
                      classification: str = "classification") -> DataFrame:
    """LidarPointStats (lidar_analysis/lidar_point_stats.rs): one pass,
    all per-cell statistics at once — number of points, number of
    pulses (first returns), returns per pulse, elevation range and
    intensity range (the predominant-class raster is the sibling
    predominant_class op, which needs a two-level count). A single
    groupBy shuffle; every stat is a map-side-combining aggregate."""
    binned = points.selectExpr(
        f"{meta.row_from_y_expr(y)} AS row",
        f"{meta.col_from_x_expr(x)} AS col",
        f"{z} AS z", f"{intensity} AS i", f"{return_number} AS rn",
        f"{classification} AS cls",
    ).where(F.expr(meta.in_grid_pred("row", "col")))
    return binned.groupBy("row", "col").agg(
        F.expr("COUNT(*)").alias("num_points"),
        F.expr("SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)").alias("num_pulses"),
        F.expr("CASE WHEN SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0 "
               "THEN CAST(COUNT(*) AS DOUBLE) / "
               "SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) END")
        .alias("returns_per_pulse"),
        F.expr("MAX(z) - MIN(z)").alias("z_range"),
        F.expr("MAX(i) - MIN(i)").alias("intensity_range"),
    )


def predominant_class(points: DataFrame, meta, x: str = "x", y: str = "y",
                      classification: str = "classification") -> DataFrame:
    """Per-cell predominant classification (the lidar_point_stats
    --predom_class raster): modal class id, ties to the smallest id."""
    binned = points.selectExpr(
        f"{meta.row_from_y_expr(y)} AS row",
        f"{meta.col_from_x_expr(x)} AS col",
        f"{classification} AS cls",
    ).where(F.expr(meta.in_grid_pred("row", "col")))
    counts = binned.groupBy("row", "col", "cls").agg(
        F.count(F.lit(1)).alias("__n"))
    return counts.groupBy("row", "col").agg(
        F.expr("MAX_BY(cls, STRUCT(__n, -cls))").alias("value"))


def lidar_idw_interpolation(points: DataFrame, meta, parameter: str = "z",
                            k: int = 8, weight: float = 2.0,
                            z_col: str = "value",
                            returns: str = "all",
                            return_number: str = "return_number",
                            num_returns: str = "num_returns",
                            radius: float | None = None) -> DataFrame:
    """LidarIdwInterpolation (
    lidar_analysis/lidar_idw_interpolation.rs): the shared IDW gridding plan (knn.idw_interpolation) over a
    LiDAR cloud, with the reference's parameter selector (elevation /
    intensity / class / scan angle / user data) and first/last-return
    filtering. Named wrapper — the kNN shell-expansion join and the
    deterministic (dist2, id)-ordered fold are the shared kernel."""
    from .knn import idw_interpolation

    pts = _filter_returns(points, returns, return_number, num_returns)
    vcol = {"z": z_col, "elevation": z_col, "intensity": "intensity",
            "class": "classification", "classification": "classification",
            "scan angle": "scan_angle", "scan_angle": "scan_angle",
            "user data": "user_data"}[parameter]
    pts = pts.withColumn("__v", F.col(vcol).cast("double"))
    return idw_interpolation(pts, meta, k=k, weight=weight, value_col="__v",
                             radius=radius)


def lidar_nearest_neighbour_gridding(points: DataFrame, meta,
                                     parameter: str = "z",
                                     max_dist: float | None = None,
                                     z_col: str = "value",
                                     returns: str = "all",
                                     return_number: str = "return_number",
                                     num_returns: str = "num_returns",
                                     radius: float | None = None) -> DataFrame:
    """LidarNearestNeighbourGridding (lidar_analysis/lidar_nearest_
    neighbour_gridding.rs): nearest-point gridding over a LiDAR cloud
    with parameter selection and return filtering — the shared
    knn.nearest_neighbour_gridding plan."""
    from .knn import nearest_neighbour_gridding

    pts = _filter_returns(points, returns, return_number, num_returns)
    vcol = {"z": z_col, "elevation": z_col, "intensity": "intensity",
            "class": "classification", "classification": "classification",
            "scan angle": "scan_angle", "scan_angle": "scan_angle",
            "user data": "user_data"}[parameter]
    pts = pts.withColumn("__v", F.col(vcol).cast("double"))
    return nearest_neighbour_gridding(pts, meta, max_dist=max_dist,
                                      value_col="__v", radius=radius)


def _filter_returns(points: DataFrame, returns: str,
                    return_number: str, num_returns: str) -> DataFrame:
    """The reference tools' --returns flag: all | first | last."""
    if returns == "first":
        return points.where(f"{return_number} = 1")
    if returns == "last":
        return points.where(f"{return_number} = {num_returns}")
    return points


def lidar_thin_high_density(points: DataFrame, resolution: float,
                            density: float, x: str = "x", y: str = "y",
                            order_col: str = "record_num") -> DataFrame:
    """LidarThinHighDensity (lidar_analysis/lidar_thin_high_density.rs):
    grid the cloud at `resolution`; cells whose point density exceeds
    `density` (pts per unit area) are decimated down to the target.
    Deterministic variant of the reference's random discard: the first
    cap points by `order_col` survive (partitioned window, no global
    sort)."""
    from pyspark.sql import Window

    cap = max(int(density * resolution * resolution), 1)
    binned = with_frs_cells(points, resolution, x=x, y=y)
    w = Window.partitionBy("cx", "cy").orderBy(order_col)
    return (binned.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= cap)
            .drop("__rk", "cx", "cy"))


def lidar_info(points: DataFrame, z_col: str = "value") -> DataFrame:
    """LidarInfo (lidar_analysis/lidar_info.rs): one-row summary of the
    cloud — point count, extent, z range, mean z, and per-return /
    per-class counts are reported by the companion per-class stats op
    (lidar_point_stats); this named op emits the header block."""
    return points.agg(
        F.count(F.lit(1)).alias("num_points"),
        F.min("x").alias("min_x"), F.max("x").alias("max_x"),
        F.min("y").alias("min_y"), F.max("y").alias("max_y"),
        F.min(z_col).alias("min_z"), F.max(z_col).alias("max_z"),
        F.avg(z_col).alias("mean_z"))


def lidar_tophat_transform(points: DataFrame, radius: float = 1.0,
                           id_col: str = "record_num",
                           x: str = "x", y: str = "y",
                           z_col: str = "value") -> DataFrame:
    """LidarTophatTransform (lidar_analysis/lidar_tophat_transform.rs):
    white top-hat residual per point — erosion (min z within `radius`,
    self included), dilation of the erosions (max within `radius`),
    residual = z - dilation. Two FRS-cell radius joins; min/max are
    selections of exact input values, so the result is bit-portable."""
    base = points.selectExpr(f"{id_col} AS pid", f"{x} AS px",
                             f"{y} AS py", f"{z_col} AS pz")
    pairs = _neighbor_pairs(points, radius, id_col=id_col, x=x, y=y,
                            z=z_col).persist()
    emin = pairs.groupBy("a_id").agg(F.min("bz").alias("mn"))
    ero = (base.join(emin, base["pid"] == emin["a_id"], "left")
           .selectExpr("pid", "px", "py", "pz",
                       "LEAST(pz, COALESCE(mn, pz)) AS emin"))
    dil = (pairs.select("a_id", "b_id")
           .join(ero.selectExpr("pid AS b_id", "emin AS bemin"), "b_id")
           .groupBy("a_id").agg(F.max("bemin").alias("mx")))
    out = (ero.join(dil, ero["pid"] == dil["a_id"], "left")
           .selectExpr(f"pid AS {id_col}", f"px AS {x}", f"py AS {y}",
                       "pz - GREATEST(emin, COALESCE(mx, emin)) AS value"))
    pairs.unpersist()
    return out


def contour_lidar(points: DataFrame, meta, base: float, interval: float,
                  tile: int = 32, halo: float | None = None,
                  z_col: str = "value") -> DataFrame:
    """ContourLidar (lidar_analysis — present in the reference tree but
    commented out of its dispatch table, whitebox-tools-app/src/tools/
    mod.rs:286; implemented for inventory completeness): contour the
    point cloud directly — TIN the LiDAR points, cut each triangle at
    every crossing contour level. Delegates to contours_from_points
    (terrain_analysis/contours_from_points.rs machinery) over the
    cloud's (x, y, z) columns; the cut stage is pure codegen SQL."""
    from .contours import contours_from_points

    pts = points.selectExpr("x", "y", f"{z_col} AS value")
    return contours_from_points(pts, meta, base=base, interval=interval,
                                tile=tile, halo=halo)


def lidar_rbf_interpolation(points: DataFrame, meta, k: int = 20,
                            tile: int = 32, halo: float | None = None,
                            z_col: str = "value",
                            kernel: str = "thin_plate") -> DataFrame:
    """LidarRbfInterpolation (lidar_analysis/
    lidar_radial_basis_function_interpolation.rs): grid the point cloud
    by radial-basis-function interpolation over the k nearest points
    per cell. Delegates to the shared tile+halo RBF gridding kernel
    (tin.rbf_interpolation — batched numpy solves, thin-plate linear
    precision pytest-gated) over the cloud's (x, y, z) columns."""
    from .tin import rbf_interpolation

    pts = points.selectExpr("x", "y", f"{z_col} AS value")
    return rbf_interpolation(pts, meta, k=k, tile=tile, halo=halo)
