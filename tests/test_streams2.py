"""Stream-network tail: brute-force graph reference parity.

The D8 pointer / accumulation operators are oracle-gated elsewhere; here
we rebuild the stream graph from their (trusted) outputs in plain Python
and check every tail operator against a brute-force traversal.
"""

import logging
import math

import numpy as np
import pytest

from whitebox_tools_spark.functions.raster_math import GridMeta
from whitebox_tools_spark.operators import hydro as HY

N = 14
META = GridMeta(rows=N, columns=N, north=140.0, south=0.0, east=140.0,
                west=0.0, resolution_x=10.0, resolution_y=10.0)
THR = 4.0
DIAG = math.sqrt(200.0)


@pytest.fixture(scope="module")
def net(spark):
    rng = np.random.RandomState(11)
    vals = (rng.randint(0, 30, size=(N, N)) + np.arange(N)[:, None] * 3.0)
    rows = [(int(r), int(c), float(vals[r, c])) for r in range(N) for c in range(N)]
    df = spark.createDataFrame(rows, "row long, col long, value double")
    ptr = {(r["row"], r["col"]): r["value"] for r in HY.d8_pointer(df, META).collect()}
    acc = {(r["row"], r["col"]): r["value"]
           for r in HY.d8_flow_accumulation_tiled(df, META).collect()}
    streams = {k for k, v in acc.items() if v >= THR}
    nxt = {}
    for (r, c), p in ptr.items():
        if p > 0:
            i = int(math.log2(p))
            nxt[(r, c)] = (r + HY.D8_DY[i], c + HY.D8_DX[i])
    sedges = {k: v for k, v in nxt.items() if k in streams and v in streams}
    return df, vals, streams, sedges


def _steps(a, b):
    dr, dc = abs(a[0] - b[0]), abs(a[1] - b[1])
    return DIAG if dr and dc else 10.0


def _path_down(cell, sedges):
    path = [cell]
    while path[-1] in sedges:
        path.append(sedges[path[-1]])
    return path


def test_dist_to_outlet(spark, net):
    df, vals, streams, sedges = net
    got = {(r["row"], r["col"]): r["value"]
           for r in HY.distance_to_outlet(df, META, THR).collect()}
    assert set(got) == streams
    for cell in streams:
        p = _path_down(cell, sedges)
        exp = sum(_steps(p[i], p[i + 1]) for i in range(len(p) - 1))
        assert abs(got[cell] - exp) < 1e-9


def test_topological_order(spark, net):
    df, vals, streams, sedges = net
    indeg = {}
    for a, b in sedges.items():
        indeg[b] = indeg.get(b, 0) + 1
    got = {(r["row"], r["col"]): r["value"]
           for r in HY.topological_stream_order(df, META, THR).collect()}
    for cell in streams:
        p = _path_down(cell, sedges)
        # transitions = hops into junction-fed cells along the path
        exp = 1 + sum(1 for i in range(len(p) - 1) if indeg.get(p[i + 1], 0) >= 2)
        assert got[cell] == exp


def test_farthest_head_and_tributary(spark, net):
    df, vals, streams, sedges = net
    heads = streams - set(sedges.values())
    far = {(r["row"], r["col"]): r["value"]
           for r in HY.farthest_channel_head(df, META, THR).collect()}
    # brute force: walk every head down, keep per-cell max dist (tie: min id)
    best = {}
    for h in sorted(heads, key=lambda k: k[0] * N + k[1]):
        p = _path_down(h, sedges)
        d = 0.0
        best.setdefault(p[0], (0.0, h))
        for i in range(1, len(p)):
            d += _steps(p[i - 1], p[i])
            cur = best.get(p[i])
            if cur is None or d > cur[0] + 1e-12:
                best[p[i]] = (d, h)
    for cell in streams:
        assert abs(far[cell] - best[cell][0]) < 1e-9


def test_total_length(spark, net):
    df, vals, streams, sedges = net
    row = HY.total_length_channels(df, META, THR).collect()[0]
    exp = sum(_steps(a, b) for a, b in sedges.items())
    assert abs(row["total_length"] - exp) < 1e-9


@pytest.mark.parametrize("op", ["hillslopes", "stream_link_class", "hack_order",
                                "horton_order"])
def test_stream_graph_accumulated_once(spark, net, caplog, op):
    """The link operators build the stream graph (D8 + tiled
    accumulation) once per call: one coarse-closure round sequence."""
    df = net[0]
    with caplog.at_level(logging.DEBUG, logger="whitebox_tools_spark.plans.iterate"):
        getattr(HY, op)(df, META, THR).collect()
    starts = [r for r in caplog.records if r.getMessage().startswith(
        "d8_flow_accumulation_tiled coarse closure round 1:")]
    assert len(starts) == 1


def test_stream_link_class_codes(spark, net):
    df, vals, streams, sedges = net
    indeg = {}
    for a, b in sedges.items():
        indeg[b] = indeg.get(b, 0) + 1
    heads = streams - set(sedges.values())
    outlets = streams - set(sedges.keys())
    got = {(r["row"], r["col"]): r["value"]
           for r in HY.stream_link_class(df, META, THR).collect()}
    assert set(got) == streams
    for cell in streams:
        if cell in outlets:
            assert got[cell] == 5
        elif indeg.get(cell, 0) >= 2:
            assert got[cell] == 4
        elif cell in heads:
            assert got[cell] == 3
        else:
            assert got[cell] in (1, 2)


def test_remove_short_streams_drops_short_heads(spark, net):
    df, vals, streams, sedges = net
    kept = {(r["row"], r["col"])
            for r in HY.remove_short_streams(df, META, THR, 1e9).collect()}
    # with an absurd min length every exterior link disappears
    heads = streams - set(sedges.values())
    assert not (kept & heads)
    kept_all = {(r["row"], r["col"])
                for r in HY.remove_short_streams(df, META, THR, 0.0).collect()}
    # zero threshold keeps every multi-cell link (single-cell exterior
    # links are always dropped)
    assert kept_all <= streams


def test_hack_horton_properties(spark, net):
    df, vals, streams, sedges = net
    hack = {(r["row"], r["col"]): r["value"]
            for r in HY.hack_order(df, META, THR).collect()}
    horton = {(r["row"], r["col"]): r["value"]
              for r in HY.horton_order(df, META, THR).collect()}
    strahler = {(r["row"], r["col"]): r["value"]
                for r in HY.strahler_order(df, META, THR).collect()}
    outlets = streams - set(sedges.keys())
    for o in outlets:
        assert hack[o] == 1.0  # outlet link is Hack order 1
        assert horton[o] == strahler[o]  # outlet stream ends with its strahler
    for cell in streams:
        assert hack[cell] >= 1.0
        # horton never drops below strahler
        assert horton[cell] >= strahler[cell] - 1e-9
        # hack order grows (weakly) toward the heads
        if cell in sedges:
            assert hack[cell] >= hack[sedges[cell]] - 1e-9
