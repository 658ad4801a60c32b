"""Round-4 long-tail named ops: reclass variants, lidar shift, map OTOs,
find main stem, single/multi part, polygons<->lines, generic CC."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark.functions.raster_math import GridMeta
from whitebox_tools_spark.operators import raster as R

FEAT_SCHEMA = ("shape_id long, parts array<struct<part_idx int, is_hole boolean, "
               "ring array<struct<x double, y double>>>>")


def _cells(spark, vals):
    rows = [(r, c, float(v)) for r, row in enumerate(vals) for c, v in enumerate(row)]
    return spark.createDataFrame(rows, "row long, col long, value double")


def test_reclass_equal_interval(spark):
    df = _cells(spark, [[0.0, 7.5, 12.0, 25.0, 99.0]])
    out = {r["col"]: r["value"]
           for r in R.reclass_equal_interval(df, interval=10.0).collect()}
    assert out == {0: 0.0, 1: 0.0, 2: 10.0, 3: 20.0, 4: 90.0}
    # range gate: values below start_val pass through
    out2 = {r["col"]: r["value"]
            for r in R.reclass_equal_interval(df, interval=10.0,
                                              start_val=10.0).collect()}
    assert out2[0] == 0.0 and out2[1] == 7.5 and out2[2] == 10.0


def test_reclass_from_file_modes(spark, tmp_path):
    df = _cells(spark, [[1.0, 5.0, 15.0, 40.0]])
    p3 = tmp_path / "r3.txt"
    p3.write_text("100;0;10\n200;10;min\n")  # 'min' resolves to raster min
    out = {r["col"]: r["value"] for r in R.reclass_from_file(df, str(p3)).collect()}
    assert out[0] == 100.0 and out[1] == 100.0 and out[2] == 15.0
    p2 = tmp_path / "r2.txt"
    p2.write_text("7,5\n9,40\n")  # assign mode: new,old
    out2 = {r["col"]: r["value"] for r in R.reclass_from_file(df, str(p2)).collect()}
    assert out2 == {0: 1.0, 1: 7.0, 2: 15.0, 3: 9.0}


def test_lidar_shift(spark):
    from whitebox_tools_spark.operators.lidar import lidar_shift

    df = spark.createDataFrame([(0, 1.0, 2.0, 3.0)],
                               "record_num long, x double, y double, value double")
    r = lidar_shift(df, 10.0, -1.0, 0.5).collect()[0]
    assert (r["x"], r["y"], r["value"]) == (11.0, 1.0, 3.5)


def test_connected_components_generic(spark):
    from whitebox_tools_spark.operators.clump import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    edges = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "a long, b long")
    comp = nodes.join(connected_components(edges, "cc", 64), "id", "left") \
        .selectExpr("id", "COALESCE(comp, id) AS comp")
    out = {r["id"]: r["comp"] for r in comp.collect()}
    assert out == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}


def test_map_off_terrain_objects(spark):
    """Flat terrace (slope 0) split by a cliff from a second terrace:
    two components; a min_size filter collapses singletons to 1."""
    from whitebox_tools_spark.operators.focal import map_off_terrain_objects

    vals = [[0.0, 0.0, 0.0, 50.0, 50.0]]
    meta = GridMeta(rows=1, columns=5, north=10.0, south=0.0, east=50.0,
                    west=0.0, resolution_x=10.0, resolution_y=10.0)
    out = {r["col"]: r["value"]
           for r in map_off_terrain_objects(_cells(spark, vals), meta,
                                            max_slope=30.0).collect()}
    assert out[0] == out[1] == out[2]
    assert out[3] == out[4]
    assert out[0] != out[3]
    out2 = {r["col"]: r["value"]
            for r in map_off_terrain_objects(_cells(spark, vals), meta,
                                             max_slope=30.0,
                                             min_size=3).collect()}
    assert out2[3] == out2[4] == 1.0  # too small -> background id 1
    assert out2[0] == out2[1] == out2[2] != 1.0


def test_find_main_stem_matches_hack1(spark):
    """find_main_stem == the Hack-order-1 cells of the same DEM."""
    from whitebox_tools_spark.operators import hydro as HY

    rng = np.random.RandomState(3)
    N = 12
    base = np.add.outer(np.arange(N) * 5.0, np.arange(N) * 2.0)[::-1]
    vals = base + rng.rand(N, N)
    meta = GridMeta(rows=N, columns=N, north=N * 10.0, south=0.0,
                    east=N * 10.0, west=0.0, resolution_x=10.0,
                    resolution_y=10.0)
    df = _cells(spark, vals.tolist())
    filled = HY.fill_depressions(df, meta)
    stem = {(r["row"], r["col"])
            for r in HY.find_main_stem(filled, meta, threshold=5.0).collect()}
    hack1 = {(r["row"], r["col"])
             for r in HY.hack_order(filled, meta, threshold=5.0)
             .where("value = 1.0").collect()}
    assert stem == hack1 and len(stem) > 0


def test_single_multi_part_roundtrip(spark):
    from whitebox_tools_spark.operators.vector_ops import (
        multi_part_to_single_part, single_part_to_multi_part)

    ring1 = [{"x": 0.0, "y": 0.0}, {"x": 1.0, "y": 0.0}, {"x": 1.0, "y": 1.0},
             {"x": 0.0, "y": 0.0}]
    ring2 = [{"x": 5.0, "y": 5.0}, {"x": 6.0, "y": 5.0}, {"x": 6.0, "y": 6.0},
             {"x": 5.0, "y": 5.0}]
    feats = spark.createDataFrame(
        [(1, [(0, False, ring1)]), (2, [(0, False, ring2)])], FEAT_SCHEMA) \
        .withColumn("grp", F.lit("a"))
    merged = single_part_to_multi_part(feats, "grp").collect()
    assert len(merged) == 1
    m = merged[0]
    assert m["shape_id"] == 1 and len(m["parts"]) == 2
    assert [p["part_idx"] for p in m["parts"]] == [0, 1]
    # splitting the merged feature yields two single-part features again
    back = multi_part_to_single_part(
        spark.createDataFrame([(m["shape_id"], m["parts"])], FEAT_SCHEMA))
    assert back.count() == 2


def test_polygons_lines_roundtrip(spark):
    from whitebox_tools_spark.operators.vector_ops import (lines_to_polygons,
                                                           polygons_to_lines)

    open_line = [{"x": 0.0, "y": 0.0}, {"x": 1.0, "y": 0.0}, {"x": 1.0, "y": 1.0}]
    feats = spark.createDataFrame([(1, [(0, False, open_line)])], FEAT_SCHEMA) \
        .withColumn("shape_type", F.lit(3))
    poly = lines_to_polygons(feats).collect()[0]
    assert poly["shape_type"] == 5
    ring = poly["parts"][0]["ring"]
    assert (ring[0]["x"], ring[0]["y"]) == (ring[-1]["x"], ring[-1]["y"])
    assert len(ring) == 4  # closure vertex appended
    lines = polygons_to_lines(
        spark.createDataFrame([(1, poly["parts"])], FEAT_SCHEMA)
        .withColumn("shape_type", F.lit(5))).collect()[0]
    assert lines["shape_type"] == 3
    assert len(lines["parts"][0]["ring"]) == 4  # ring kept verbatim


def test_log_filter_numpy_parity(spark):
    """LoG filter vs a direct transcription of log_filter.rs:252-349
    (kernel build + renormalized weighted mean)."""
    import math

    from whitebox_tools_spark.operators.focal import log_filter, wbt_log_kernel

    rng = np.random.RandomState(8)
    N = 14
    vals = (rng.rand(N, N) * 100.0).round(2)
    df = _cells(spark, vals.tolist())
    sigma = 0.8
    out = {(r["row"], r["col"]): r["value"]
           for r in log_filter(df, sigma=sigma).collect()}
    size, ws = wbt_log_kernel(sigma)
    mid = size // 2
    for r in range(N):
        for c in range(N):
            num = den = 0.0
            for a in range(size * size):
                dr, dc = a // size - mid, a % size - mid
                rr, cc = r + dr, c + dc
                if 0 <= rr < N and 0 <= cc < N:
                    num += ws[a] * vals[rr, cc]
                    den += ws[a]
            assert out[(r, c)] == pytest.approx(num / den, rel=1e-9), (r, c)


def test_lee_sigma_filter_rule(spark):
    """Lee sigma: inliers average; an extreme speckle cell with no
    in-range neighbors beyond itself falls back to the 8-ring mean."""
    from whitebox_tools_spark.operators.focal import lee_sigma_filter

    vals = np.full((9, 9), 50.0)
    vals[4, 4] = 500.0  # speckle
    df = _cells(spark, vals.tolist())
    out = {(r["row"], r["col"]): r["value"]
           for r in lee_sigma_filter(df, radius=2, sigma=5.0, m=3.0).collect()}
    # speckle: only itself within +-5 -> n = 1 <= m -> ring fallback = 50
    assert out[(4, 4)] == pytest.approx(50.0)
    # a normal interior cell far from the speckle: window mean of 50s
    assert out[(0, 0)] == pytest.approx(50.0)
    # neighbor of the speckle: speckle excluded from the in-range mean
    assert out[(4, 3)] == pytest.approx(50.0)
