"""Depression filling, flowpath length, cost distance tests."""

import heapq
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark.functions.raster_math import GridMeta
from whitebox_tools_spark.operators.hydro import (cost_distance, downslope_flowpath_length,
                                                  fill_depressions, wetness_index)
from whitebox_tools_spark.plans.iterate import fixpoint


def _df(spark, vals):
    rows = [(r, c, float(vals[r][c])) for r in range(len(vals)) for c in range(len(vals[0]))]
    return spark.createDataFrame(rows, "row long, col long, value double")


def _grid(df):
    return {(r["row"], r["col"]): r["value"] for r in df.collect()}


def _meta(rows, cols, res=10.0):
    return GridMeta(rows=rows, columns=cols, north=rows * res, south=0.0,
                    east=cols * res, west=0.0, resolution_x=res, resolution_y=res)


def _pd_fill(z):
    """Planchon-Darboux fixpoint in numpy (reference oracle)."""
    z = np.asarray(z, dtype=float)
    w = np.full_like(z, np.inf)
    w[0, :] = z[0, :]
    w[-1, :] = z[-1, :]
    w[:, 0] = z[:, 0]
    w[:, -1] = z[:, -1]
    while True:
        old = w.copy()
        for r in range(1, z.shape[0] - 1):
            for c in range(1, z.shape[1] - 1):
                nmin = min(w[r + dr, c + dc] for dr in (-1, 0, 1) for dc in (-1, 0, 1)
                           if (dr, dc) != (0, 0))
                w[r, c] = max(z[r, c], min(w[r, c], nmin))
        if (w == old).all():
            return w


def test_fill_depressions_pit(spark):
    vals = [
        [9, 9, 9, 9, 9],
        [9, 5, 5, 5, 9],
        [9, 5, 1, 5, 8],
        [9, 5, 5, 5, 9],
        [9, 9, 9, 9, 9],
    ]
    got = _grid(fill_depressions(_df(spark, vals), _meta(5, 5)))
    want = _pd_fill(vals)
    for (r, c), v in got.items():
        assert v == want[r, c], (r, c, v, want[r, c])
    # the basin spills through the lowest border outlet (z=8): water in
    # the pit must rise to 8 to escape
    assert got[(2, 2)] == 8.0


def test_fill_depressions_random_matches_numpy(spark):
    rng = np.random.RandomState(9)
    vals = rng.randint(0, 100, size=(9, 9)).astype(float)
    got = _grid(fill_depressions(_df(spark, vals.tolist()), _meta(9, 9)))
    want = _pd_fill(vals)
    for (r, c), v in got.items():
        assert v == want[r, c]


def test_fill_depressions_tiled_exchange_matches_numpy(spark):
    # tile=4 on a 17x13 grid forces a 5x4 tile graph, exercising the
    # halo scatter + border-label exchange path (and non-square tiles
    # at the ragged east/south edges); nested depressions that spill
    # across tile boundaries need multiple exchange rounds
    rng = np.random.RandomState(41)
    vals = rng.randint(0, 50, size=(17, 13)).astype(float)
    vals[3:9, 3:9] -= 30.0   # a broad multi-tile depression
    vals[5:7, 5:7] -= 20.0   # nested inner pit
    got = _grid(fill_depressions(_df(spark, vals.tolist()), _meta(17, 13),
                                 tile=4))
    want = _pd_fill(vals)
    for (r, c), v in got.items():
        assert v == want[r, c], (r, c, v, want[r, c])


def fill_depressions_jacobi(cells, meta, max_rounds=128):
    """Jacobi-iteration reference for fill_depressions: the same
    fixpoint, O(depression diameter) rounds — the small-grid cross-check
    the tiled plan is gated against."""
    offs = [(-1, 0), (1, 0), (0, -1), (0, 1), (-1, -1), (-1, 1), (1, -1), (1, 1)]
    pairs = ", ".join(f"STRUCT(row + ({dr}L) AS nrow, col + ({dc}L) AS ncol)" for dr, dc in offs)
    border = f"(row = 0 OR col = 0 OR row = {meta.rows - 1} OR col = {meta.columns - 1})"
    w = cells.selectExpr(
        "row", "col", "value AS z",
        f"CASE WHEN {border} THEN value ELSE CAST('Infinity' AS DOUBLE) END AS w",
    )

    def relax(w):
        scattered = w.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))")).selectExpr(
            "__n.nrow AS row", "__n.ncol AS col", "w AS nw"
        )
        nmin = scattered.groupBy("row", "col").agg(F.min("nw").alias("nmin"))
        return w.join(nmin, ["row", "col"], "left").selectExpr(
            "row", "col", "z", "w AS __prev",
            f"CASE WHEN {border} THEN z ELSE GREATEST(z, LEAST(w, COALESCE(nmin, w))) END AS w",
        )

    w = fixpoint(w, relax, "w <> __prev", "fill_depressions_jacobi", max_rounds)
    return w.selectExpr("row", "col", "w AS value")


def test_fill_depressions_tiled_matches_jacobi(spark):
    rng = np.random.RandomState(77)
    vals = rng.rand(12, 12) * 100.0
    vals[2:10, 2:10] -= 60.0
    meta = _meta(12, 12)
    df = _df(spark, vals.tolist())
    tiled = _grid(fill_depressions(df, meta, tile=5))
    jac = _grid(fill_depressions_jacobi(df, meta))
    assert tiled == jac


def test_flowpath_length_line(spark):
    meta = _meta(1, 5)
    vals = [[4.0, 3.0, 2.0, 1.0, 0.0]]
    got = _grid(downslope_flowpath_length(_df(spark, vals), meta))
    for c in range(5):
        assert got[(0, c)] == pytest.approx((4 - c) * 10.0)


def test_cost_distance_uniform(spark):
    # uniform cost 1.0, single source at a corner: cost = euclidean-ish
    # chamfer distance (cardinal 10, diagonal 10*sqrt2)
    vals = [[1.0] * 4 for _ in range(4)]
    meta = _meta(4, 4)
    df = _df(spark, vals)
    got = _grid(cost_distance(df, meta, "row = 0 AND col = 0"))
    assert got[(0, 0)] == 0.0
    assert got[(0, 3)] == pytest.approx(30.0)
    assert got[(3, 3)] == pytest.approx(3 * 10.0 * math.sqrt(2.0))


def test_cost_distance_matches_dijkstra(spark):
    rng = np.random.RandomState(4)
    vals = (rng.rand(6, 6) * 9 + 1)
    meta = _meta(6, 6)
    got = _grid(cost_distance(_df(spark, vals.tolist()), meta, "row = 0 AND col = 0"))
    # dijkstra reference
    diag = 10.0 * math.sqrt(2.0)
    dist = {(0, 0): 0.0}
    pq = [(0.0, (0, 0))]
    while pq:
        d, (r, c) = heapq.heappop(pq)
        if d > dist.get((r, c), np.inf):
            continue
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                if (dr, dc) == (0, 0):
                    continue
                nr, nc = r + dr, c + dc
                if not (0 <= nr < 6 and 0 <= nc < 6):
                    continue
                step = (vals[r, c] + vals[nr, nc]) / 2.0 * (diag if dr and dc else 10.0)
                nd = d + step
                if nd < dist.get((nr, nc), np.inf) - 1e-12:
                    dist[(nr, nc)] = nd
                    heapq.heappush(pq, (nd, (nr, nc)))
    for k, v in got.items():
        assert v == pytest.approx(dist[k], rel=1e-9)


def test_wetness_index_shape(spark):
    rng = np.random.RandomState(6)
    vals = rng.randint(0, 100, size=(8, 8)).astype(float)
    out = _grid(wetness_index(_df(spark, vals.tolist()), _meta(8, 8)))
    assert len(out) == 64
    assert all(np.isfinite(v) for v in out.values())
