"""kNN join: exact variant vs brute force; WBT variant vs a literal
numpy transcription of fixed_radius_search.rs knn_search."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark.functions.raster_math import GridMeta
from whitebox_tools_spark.operators.knn import (
    grid_cells_df,
    idw_interpolation,
    knn_join_exact,
    knn_join_wbt,
    nearest_neighbour_gridding,
    wbt_default_radius,
)

N_T = 400
N_Q = 120
K = 3
RADIUS = 80.0


@pytest.fixture(scope="module")
def layers(spark):
    rng = np.random.RandomState(3)
    # clustered targets + an empty region to force shell expansion
    tx = np.concatenate([rng.uniform(0, 400, N_T // 2), rng.uniform(600, 1000, N_T // 2)])
    ty = np.concatenate([rng.uniform(0, 1000, N_T // 2), rng.uniform(0, 400, N_T // 2)])
    qx = rng.uniform(0, 1000, N_Q)
    qy = rng.uniform(0, 1000, N_Q)
    t = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(tx, ty))],
        "target_id long, x double, y double",
    ).cache()
    q = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(qx, qy))],
        "query_id long, x double, y double",
    ).cache()
    return q, t, (qx, qy, tx, ty)


def brute_knn(qx, qy, tx, ty, k):
    out = {}
    for i in range(len(qx)):
        d2 = (qx[i] - tx) ** 2 + (qy[i] - ty) ** 2
        order = sorted(range(len(tx)), key=lambda j: (d2[j], j))[:k]
        out[i] = [(j, d2[j]) for j in order]
    return out


def numpy_wbt_knn(qx, qy, tx, ty, k, radius, max_rounds=None):
    """Literal transcription of fixed_radius_search.rs:132-216; with
    max_rounds, shells stop there and a query keeps its partial top-k
    (no entry when it saw no candidate)."""
    inv_r = 1.0 / (radius * 0.5)
    bins: dict[tuple[int, int], list[int]] = {}
    for j in range(len(tx)):
        key = (math.floor(tx[j] * inv_r), math.floor(ty[j] * inv_r))
        bins.setdefault(key, []).append(j)
    out = {}
    for i in range(len(qx)):
        ci = math.floor(qx[i] * inv_r)
        cj = math.floor(qy[i] * inv_r)
        cand: list[int] = []
        for m in range(-1, 2):
            for n in range(-1, 2):
                cand.extend(bins.get((ci + m, cj + n), []))
        shell = 2
        while len(cand) < k and (max_rounds is None or shell <= max_rounds):
            for m in range(-shell, shell + 1):
                for n in range(-shell, shell + 1):
                    if abs(m) == shell or abs(n) == shell:
                        cand.extend(bins.get((ci + m, cj + n), []))
            shell += 1
        d2 = [(qx[i] - tx[j]) ** 2 + (qy[i] - ty[j]) ** 2 for j in cand]
        order = sorted(range(len(cand)), key=lambda a: (d2[a], cand[a]))[:k]
        if order:
            out[i] = [(cand[a], d2[a]) for a in order]
    return out


def _collect(df):
    res = {}
    for r in df.orderBy("query_id", "knn_rank").collect():
        res.setdefault(r["query_id"], []).append((r["target_id"], r["dist2"]))
    return res


def test_exact_knn_equals_brute_force(spark, layers):
    q, t, (qx, qy, tx, ty) = layers
    got = _collect(knn_join_exact(q, t, k=K, radius=RADIUS))
    exp = brute_knn(qx, qy, tx, ty, K)
    assert got == exp


def test_wbt_knn_matches_numpy_transcription(spark, layers):
    q, t, (qx, qy, tx, ty) = layers
    got = _collect(knn_join_wbt(q, t, k=K, radius=RADIUS))
    exp = numpy_wbt_knn(qx, qy, tx, ty, K, RADIUS)
    assert got == exp


@pytest.mark.parametrize("k", [1, 4])
@pytest.mark.parametrize("max_rounds", [8, 1])
def test_exact_knn_round_budget(spark, layers, k, max_rounds):
    """max_rounds=1 leaves stragglers, which the exact join brute-forces."""
    q, t, (qx, qy, tx, ty) = layers
    got = _collect(knn_join_exact(q, t, k=k, radius=RADIUS, max_rounds=max_rounds))
    assert got == brute_knn(qx, qy, tx, ty, k)


def test_wbt_knn_round_budget(spark, layers):
    """max_rounds=1 stops at the 3x3 block: queries keep a partial top-k."""
    q, t, (qx, qy, tx, ty) = layers
    got = _collect(knn_join_wbt(q, t, k=K, radius=RADIUS, max_rounds=1))
    exp = numpy_wbt_knn(qx, qy, tx, ty, K, RADIUS, max_rounds=1)
    assert any(len(v) < K for v in exp.values())
    assert got == exp


def test_nn_gridding_against_brute(spark, layers):
    q, t, (qx, qy, tx, ty) = layers
    meta = GridMeta(rows=16, columns=16, north=1000.0, south=0.0, east=1000.0, west=0.0,
                    resolution_x=62.5, resolution_y=62.5)
    pts = t.select(F.col("target_id").alias("record_num"), "x", "y",
                   (F.col("target_id") % 100).cast("double").alias("value"))
    out = {(r["row"], r["col"]): r["value"] for r in
           nearest_neighbour_gridding(pts, meta, max_dist=200.0).collect()}
    # brute oracle
    for row in range(16):
        for col in range(16):
            cx = 0.0 + (col + 0.5) * 62.5
            cy = 1000.0 - (row + 0.5) * 62.5
            d2 = (cx - tx) ** 2 + (cy - ty) ** 2
            j = min(range(len(tx)), key=lambda a: (d2[a], a))
            if math.sqrt(d2[j]) <= 200.0:
                assert out[(row, col)] == float(j % 100), (row, col)
            else:
                assert (row, col) not in out


def test_idw_close_to_numpy(spark, layers):
    q, t, (qx, qy, tx, ty) = layers
    meta = GridMeta(rows=8, columns=8, north=1000.0, south=0.0, east=1000.0, west=0.0,
                    resolution_x=125.0, resolution_y=125.0)
    pts = t.select(F.col("target_id").alias("record_num"), "x", "y",
                   (F.col("target_id") % 100).cast("double").alias("value"))
    out = {(r["row"], r["col"]): r["value"] for r in idw_interpolation(pts, meta, k=4).collect()}
    assert len(out) == 64
    vals = np.array(list(out.values()))
    assert np.isfinite(vals).all()
    assert (vals >= 0).all() and (vals <= 99).all()  # convex combination of values
