"""Driver-built frames scan as LocalTableScans, never as Python RDDs."""

import pytest
from pyspark.sql.types import StructType

import __spark_entry__ as E
from whitebox_tools_spark.plans import driver
from whitebox_tools_spark.plans.driver import local_frame
from whitebox_tools_spark.plans.rank import global_row_number, ordered_prefix_sums
from whitebox_tools_spark.sources.fixtures import (FIXTURE_POLYGONS, POLYGONS_SCHEMA,
                                                   polygon_rows, polygons_df)


def _executed_plan_lines(df):
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString().splitlines()


def _assert_declared_schema(df, declared):
    # names, types and top-level nullability as declared; nested fields
    # are nullable (simpleString carries no nullability)
    assert [(f.name, f.nullable) for f in df.schema] == [(f.name, f.nullable) for f in declared]
    assert df.schema.simpleString() == declared.simpleString()


def _entry_rows():
    # rows built straight from _POLYS, independently of polygon_rows
    rows = []
    for pid, shells, holes in E._POLYS:
        xs = [p[0] for ring in shells + holes for p in ring]
        ys = [p[1] for ring in shells + holes for p in ring]
        parts = [(i, is_hole, [{"x": x, "y": y} for x, y in ring])
                 for i, (is_hole, ring) in enumerate([(False, r) for r in shells]
                                                     + [(True, r) for r in holes])]
        rows.append((pid, {"xmin": min(xs), "ymin": min(ys), "xmax": max(xs), "ymax": max(ys)},
                     parts))
    return rows


@pytest.mark.parametrize("which", ["fixture", "entry"])
def test_polygon_frames_scan_locally(spark, which):
    if which == "fixture":
        df, declared = polygons_df(spark), StructType.fromDDL(POLYGONS_SCHEMA)
        rows = polygon_rows(FIXTURE_POLYGONS)
    else:
        df, declared = E._polygons_df(spark), E._POLY_SCHEMA
        rows = _entry_rows()
    lines = _executed_plan_lines(df)
    assert not [ln for ln in lines if "ExistingRDD" in ln], lines
    assert any("LocalTableScan" in ln for ln in lines), lines
    _assert_declared_schema(df, declared)
    # same rows as the frame built from the Python list
    assert df.collect() == spark.createDataFrame(rows, declared).collect()


def test_rank_offset_frames_scan_locally(spark):
    df = spark.range(500).selectExpr("id AS k", "id % 7 AS v")
    ranked, n = global_row_number(df, ["k"], num_partitions=4)
    summed = ordered_prefix_sums(df, ["k"], ["v"], num_partitions=4)
    assert n == 500
    for out in (ranked, summed):
        lines = _executed_plan_lines(out)
        # the range-partitioned input is a checkpoint (an RDD scan); the
        # broadcast offset table must not be
        assert not [ln for ln in lines if "ExistingRDD" in ln and "__off" in ln], lines
        assert any("LocalTableScan" in ln and "__off" in ln for ln in lines), lines
    assert [r["__rn"] for r in ranked.orderBy("k").collect()] == list(range(1, 501))
    want, acc = [], 0
    for k in range(500):
        acc += k % 7
        want.append(acc)
    assert [r["__cum_v"] for r in summed.orderBy("k").collect()] == want


def test_local_frame_schema_and_cap(spark, monkeypatch):
    declared = StructType.fromDDL(
        "a BIGINT NOT NULL, b STRUCT<x: DOUBLE NOT NULL, y: ARRAY<INT>> NOT NULL, c STRING")
    rows = [(1, {"x": 0.5, "y": [1, 2]}, "p"), (2, {"x": 1.5, "y": []}, None)]
    df = local_frame(spark, rows, declared)
    _assert_declared_schema(df, declared)
    assert df.collect() == spark.createDataFrame(rows, declared).collect()
    empty = local_frame(spark, [], declared)
    _assert_declared_schema(empty, declared)
    assert empty.count() == 0

    monkeypatch.setattr(driver, "MAX_LOCAL_ROWS", 3)
    assert local_frame(spark, [(i,) for i in range(3)], "i INT").count() == 3
    with pytest.raises(ValueError, match="MAX_LOCAL_ROWS"):
        local_frame(spark, [(i,) for i in range(4)], "i INT")
