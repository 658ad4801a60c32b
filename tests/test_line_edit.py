"""Vector line editing: clean / snap endnodes / merge segments / split."""

import numpy as np
import pytest

from whitebox_tools_spark.operators import vector_ops as VO


def _lines(spark, lines):
    rows = []
    for sid, pts in enumerate(lines):
        rows.append((sid, [{
            "part_idx": 0, "is_hole": False,
            "ring": [{"x": float(x), "y": float(y)} for x, y in pts],
        }]))
    return spark.createDataFrame(
        rows, "shape_id long, parts array<struct<part_idx:int,"
              "is_hole:boolean,ring:array<struct<x:double,y:double>>>>")


def test_clean_vector_drops_degenerates(spark):
    feats = _lines(spark, [
        [(0, 0), (1, 1)],
        [(5, 5)],               # 1 vertex -> dropped
        [(2, 2), (3, 3), (4, 4)],
    ])
    out = VO.clean_vector(feats).collect()
    ids = {r["shape_id"] for r in out}
    assert ids == {0, 2}


def test_snap_endnodes_clusters(spark):
    feats = _lines(spark, [
        [(0.0, 0.0), (10.0, 0.0)],
        [(10.05, 0.02), (20.0, 0.0)],   # start ~ line 0's end
        [(50.0, 50.0), (60.0, 50.0)],   # isolated
    ])
    out = {r["shape_id"]: r["parts"] for r in VO.snap_endnodes(feats, 0.5).collect()}
    l0_end = out[0][0]["ring"][-1]
    l1_start = out[1][0]["ring"][0]
    assert (l0_end["x"], l0_end["y"]) == (l1_start["x"], l1_start["y"])
    # canonical member = smallest (shape_id, part, end) -> line 0's own end
    assert (l0_end["x"], l0_end["y"]) == (10.0, 0.0)
    # isolated line untouched
    assert out[2][0]["ring"][0]["x"] == 50.0


def test_merge_line_segments_chain_and_junction(spark):
    feats = _lines(spark, [
        [(0.0, 0.0), (10.0, 0.0)],
        [(10.0, 0.0), (20.0, 0.0)],
        [(20.0, 0.0), (30.0, 0.0)],
        # junction at (30, 0): three lines meet -> no merging across it
        [(30.0, 0.0), (40.0, 0.0)],
        [(30.0, 0.0), (30.0, 10.0)],
    ])
    out = {}
    for r in VO.merge_line_segments(feats, 0.5).collect():
        out.setdefault(r["shape_id"], []).append(
            (r["vertex_idx"], r["x"], r["y"]))
    # lines 0,1,2 merge into shape 0; 3 and 4 stay separate
    assert set(out) == {0, 3, 4}
    chain = [p[1:] for p in sorted(out[0])]
    assert chain[0] == (0.0, 0.0) and chain[-1] == (30.0, 0.0)
    assert len(chain) == 4


def test_merge_line_segments_round_budget(spark):
    from whitebox_tools_spark.plans.iterate import ConvergenceError

    feats = _lines(spark, [
        [(0.0, 0.0), (10.0, 0.0)],
        [(10.0, 0.0), (20.0, 0.0)],
        [(20.0, 0.0), (30.0, 0.0)],
    ])
    # one round leaves line 2 at label 1: a partial merge is not a result
    with pytest.raises(ConvergenceError, match="merge_line_segments"):
        VO.merge_line_segments(feats, 0.5, max_rounds=1).collect()


def test_split_with_lines_crossing(spark):
    feats = _lines(spark, [[(0.0, 5.0), (10.0, 5.0)]])
    splitter = _lines(spark, [[(5.0, 0.0), (5.0, 10.0)]])
    out = VO.split_with_lines(feats, splitter).collect()
    pieces = {}
    for r in out:
        pieces.setdefault(r["piece_idx"], []).append(
            (r["vertex_idx"], r["x"], r["y"]))
    assert len(pieces) == 2
    p0 = [p[1:] for p in sorted(pieces[0])]
    p1 = [p[1:] for p in sorted(pieces[1])]
    assert p0 == [(0.0, 5.0), (5.0, 5.0)]
    assert p1 == [(5.0, 5.0), (10.0, 5.0)]


def test_split_with_lines_multi_cut(spark):
    feats = _lines(spark, [[(0.0, 0.0), (30.0, 0.0)]])
    splitter = _lines(spark, [
        [(10.0, -5.0), (10.0, 5.0)],
        [(20.0, -5.0), (20.0, 5.0)],
    ])
    out = VO.split_with_lines(feats, splitter).collect()
    assert len({r["piece_idx"] for r in out}) == 3
