"""kNN join: exact variant vs brute force; WBT variant vs a literal
numpy transcription of fixed_radius_search.rs knn_search."""

import logging
import math
import re

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
        # min(k, n): with fewer than k targets the shells would never end
        while len(cand) < min(k, len(tx)) and (max_rounds is None or shell <= max_rounds):
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


def _active_per_round(qx, qy, tx, ty, k, radius, exact, max_rounds):
    """Numpy recount of the ring loop: queries still active after each
    round (rounds stop once none is)."""
    inv_r = 1.0 / (radius * 0.5)
    b = radius * 0.5
    tcx = np.array([math.floor(v * inv_r) for v in tx])
    tcy = np.array([math.floor(v * inv_r) for v in ty])
    done_at = []
    for i in range(len(qx)):
        cheb = np.maximum(abs(tcx - math.floor(qx[i] * inv_r)),
                          abs(tcy - math.floor(qy[i] * inv_r)))
        d2 = (qx[i] - tx) ** 2 + (qy[i] - ty) ** 2
        for reach in range(1, max_rounds + 1):
            seen = np.sort(d2[cheb <= reach])
            if len(seen) >= k and (not exact or seen[k - 1] < float(reach * b) ** 2):
                done_at.append(reach)
                break
        else:
            done_at.append(max_rounds + 1)
    counts = []
    for reach in range(1, max_rounds + 1):
        counts.append(sum(d > reach for d in done_at))
        if counts[-1] == 0:
            break
    return counts


@pytest.mark.parametrize("exact", [True, False])
def test_ring_rounds_logged(spark, layers, caplog, exact):
    """One DEBUG line per ring round; its count of still-active queries
    matches a numpy recount of the rounds."""
    q, t, (qx, qy, tx, ty) = layers
    join, name = ((knn_join_exact, "knn_join_exact ring") if exact
                  else (knn_join_wbt, "knn_join_wbt ring"))
    with caplog.at_level(logging.DEBUG, logger="whitebox_tools_spark.plans.iterate"):
        join(q, t, k=K, radius=RADIUS, max_rounds=8).collect()
    lines = [r.getMessage() for r in caplog.records
             if r.getMessage().startswith(f"{name} round ")]
    assert [int(re.search(r" round (\d+):", m).group(1)) for m in lines] == \
        list(range(1, len(lines) + 1))
    active = [int(re.search(r"changed=(\d+)", m).group(1)) for m in lines]
    assert active == _active_per_round(qx, qy, tx, ty, K, RADIUS, exact, 8)
    assert len(active) > 1


def test_exact_knn_tie_at_stop_bound(spark):
    """The stop test is strict. At radius 0.65, x=19.5 bins one cell low
    (19.5 * (1 / 0.325) rounds below 60), so target 0 at x=26.0 sits in
    ring 21 at distance 6.5 = 20 * bin_size exactly, while target 1 at
    x=13.0, same distance, is scanned by round 19. A stop at dist2 <=
    (20 * bin_size)^2 would return target 1; the (dist2, tid) answer is
    target 0, found in round 21."""
    q = spark.createDataFrame([(0, 19.5, 0.0)], "query_id long, x double, y double")
    t = spark.createDataFrame([(0, 26.0, 0.0), (1, 13.0, 0.0)],
                              "target_id long, x double, y double")
    got = _collect(knn_join_exact(q, t, k=1, radius=0.65, max_rounds=24))
    assert got == {0: [(0, 42.25)]}


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
