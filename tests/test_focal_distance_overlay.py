"""Tests for focal ops, terrain derivatives, distance transforms,
clump, and overlays — numpy reference oracles."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from whitebox_tools_spark.functions.raster_math import GridMeta
from whitebox_tools_spark.operators import focal as FO
from whitebox_tools_spark.operators import overlay as OV
from whitebox_tools_spark.operators.clump import clump
from whitebox_tools_spark.operators.distance import euclidean_allocation, euclidean_distance

META = GridMeta(rows=12, columns=12, north=120.0, south=0.0, east=120.0,
                west=0.0, resolution_x=10.0, resolution_y=10.0)


@pytest.fixture(scope="module")
def ras(spark):
    rng = np.random.RandomState(7)
    vals = rng.randint(0, 50, size=(12, 12)).astype(float)
    rows = [(r, c, float(vals[r, c])) for r in range(12) for c in range(12)]
    df = spark.createDataFrame(rows, "row long, col long, value double").persist()
    df.count()
    return df, vals


def _grid(df):
    out = {}
    for r in df.collect():
        out[(r["row"], r["col"])] = r["value"]
    return out


def test_focal_mean_matches_numpy(spark, ras):
    df, vals = ras
    got = _grid(FO.focal_stat(df, "mean", 1))
    for (r, c), v in got.items():
        rr = slice(max(r - 1, 0), min(r + 2, 12))
        cc = slice(max(c - 1, 0), min(c + 2, 12))
        assert v == pytest.approx(vals[rr, cc].mean())
    assert len(got) == 144


def test_focal_median_lower(spark, ras):
    df, vals = ras
    got = _grid(FO.focal_stat(df, "median", 1))
    window = np.sort(vals[0:3, 0:3].ravel())
    assert got[(1, 1)] == window[(9 + 1) // 2 - 1]


def test_focal_halo_matches_groupby_plan(spark, ras):
    df, _ = ras
    halo = _grid(FO.focal_filter_halo(df, META, "median", 1, tile=5))
    grp = _grid(FO.focal_stat(df, "median", 1))
    # halo emits complete windows only (interior)
    assert set(halo) == {(r, c) for r in range(1, 11) for c in range(1, 11)}
    for k, v in halo.items():
        assert grp[k] == v


def test_pivot5_maps_reference_indexing(spark):
    rows = [(r, c, float(r * 100 + c)) for r in range(7) for c in range(7)]
    df = spark.createDataFrame(rows, "row long, col long, value double")
    p = FO.focal_pivot5(df).where("row = 3 AND col = 3").collect()[0]
    for n in range(25):
        dr, dc = n // 5 - 2, n % 5 - 2
        assert p[f"z{n}"] == float((3 + dr) * 100 + (3 + dc))


def test_slope_florinsky_vs_numpy(spark, ras):
    df, vals = ras
    got = _grid(FO.slope(df, META, units="degrees"))
    res = 10.0
    z = np.pad(vals, 2, mode="edge")  # interior check only below

    def pq(r, c):
        zz = [vals[r + n // 5 - 2, c + n % 5 - 2] for n in range(25)]
        p = 1.0 / (420.0 * res) * (44.0 * (zz[3] + zz[23] - zz[1] - zz[21])
            + 31.0 * (zz[0] + zz[20] - zz[4] - zz[24] + 2.0 * (zz[8] + zz[18] - zz[6] - zz[16]))
            + 17.0 * (zz[14] - zz[10] + 4.0 * (zz[13] - zz[11]))
            + 5.0 * (zz[9] + zz[19] - zz[5] - zz[15]))
        q = 1.0 / (420.0 * res) * (44.0 * (zz[5] + zz[9] - zz[15] - zz[19])
            + 31.0 * (zz[20] + zz[24] - zz[0] - zz[4] + 2.0 * (zz[6] + zz[8] - zz[16] - zz[18]))
            + 17.0 * (zz[2] - zz[22] + 4.0 * (zz[7] - zz[17]))
            + 5.0 * (zz[1] + zz[3] - zz[21] - zz[23]))
        return p, q

    for r in range(2, 10):
        for c in range(2, 10):
            p, q = pq(r, c)
            assert got[(r, c)] == pytest.approx(math.degrees(math.atan(math.hypot(p, q))))


def test_clump_snake_and_numbering(spark):
    # a 1-wide snake of value 1 through zeros: exercises multi-round
    # label propagation + pointer jumping
    grid = np.zeros((8, 8))
    path = [(0, 0)]
    for c in range(1, 8):
        path.append((0, c))
    for r in range(1, 8):
        path.append((r, 7))
    for c in range(6, -1, -1):
        path.append((7, c))
    for r, c in path:
        grid[r, c] = 1.0
    rows = [(r, c, float(grid[r, c])) for r in range(8) for c in range(8)]
    df = spark.createDataFrame(rows, "row long, col long, value double")
    out = {(r["row"], r["col"]): r["clump_id"] for r in clump(df, 8, diag=False).collect()}
    snake_ids = {out[rc] for rc in path}
    assert len(snake_ids) == 1, "snake must be one clump"
    # row-major numbering: clump containing (0,0) is id 1
    assert out[(0, 0)] == 1


def test_clump_diag_connectivity(spark):
    rows = [(0, 0, 1.0), (1, 1, 1.0), (0, 1, 0.0), (1, 0, 0.0)]
    df = spark.createDataFrame(rows, "row long, col long, value double")
    out4 = {(r["row"], r["col"]): r["clump_id"] for r in clump(df, 2, diag=False).collect()}
    out8 = {(r["row"], r["col"]): r["clump_id"] for r in clump(df, 2, diag=True).collect()}
    assert out4[(0, 0)] != out4[(1, 1)]
    assert out8[(0, 0)] == out8[(1, 1)]


def test_clump_round_budget(spark):
    from whitebox_tools_spark.plans.iterate import ConvergenceError

    df = spark.createDataFrame([(0, c, 1.0) for c in range(6)],
                               "row long, col long, value double")
    with pytest.raises(ConvergenceError, match="clump"):
        clump(df, 6, max_rounds=1).collect()


def test_euclidean_distance_bruteforce(spark, ras):
    df, vals = ras
    got = _grid(euclidean_distance(df, META, "value < 5.0"))
    targets = [(r, c) for r in range(12) for c in range(12) if vals[r, c] < 5.0]
    assert targets, "fixture needs targets"
    for (r, c), v in got.items():
        cx = lambda c_: 0.0 + (c_ + 0.5) * 10.0
        cy = lambda r_: 120.0 - (r_ + 0.5) * 10.0
        best = min(math.hypot(cx(c) - cx(tc), cy(r) - cy(tr)) for tr, tc in targets)
        assert v == pytest.approx(best)


def test_euclidean_distance_anisotropic_bruteforce(spark, ras):
    """Anisotropic resolution forces the _nearest_target_knn fallback
    (the EDT fast path requires square cells) — pins the carry-payload
    kNN plan against brute force on both outputs."""
    meta = GridMeta(rows=12, columns=12, north=60.0, south=0.0, east=120.0,
                    west=0.0, resolution_x=10.0, resolution_y=5.0)
    df, vals = ras
    targets = [(r, c) for r in range(12) for c in range(12) if vals[r, c] < 5.0]
    assert targets, "fixture needs targets"
    cx = lambda c_: 0.0 + (c_ + 0.5) * 10.0
    cy = lambda r_: 60.0 - (r_ + 0.5) * 5.0
    got = _grid(euclidean_distance(df, meta, "value < 5.0"))
    assert len(got) == 144
    for (r, c), v in got.items():
        best = min(math.hypot(cx(c) - cx(tc), cy(r) - cy(tr)) for tr, tc in targets)
        assert v == pytest.approx(best)
    alloc = _grid(euclidean_allocation(df, meta, "value < 5.0"))
    for (r, c), v in alloc.items():
        # tie-break on (dist2, target_idx) with the join's own dist2
        # arithmetic so float ties break identically
        best = min(
            ((cx(c) - cx(tc)) * (cx(c) - cx(tc))
             + (cy(r) - cy(tr)) * (cy(r) - cy(tr)), tr * 12 + tc)
            for tr, tc in targets
        )
        assert v == vals[best[1] // 12, best[1] % 12]


def test_euclidean_allocation_value(spark, ras):
    df, vals = ras
    got = _grid(euclidean_allocation(df, META, "value < 5.0"))
    # target cells allocate to themselves
    for r in range(12):
        for c in range(12):
            if vals[r, c] < 5.0:
                assert got[(r, c)] == vals[r, c]


def test_overlays(spark, ras):
    df, vals = ras
    df2 = df.selectExpr("row", "col", "value * 2.0 AS value")
    avg = _grid(OV.overlay([df, df2], "average"))
    hp = _grid(OV.highest_position([df, df2]))
    ws = _grid(OV.weighted_sum([df, df2], [0.5, 0.25]))
    calc = _grid(OV.raster_calculator({"a": df, "b": df2}, "a + b"))
    for r in range(12):
        for c in range(12):
            v = vals[r, c]
            assert avg[(r, c)] == pytest.approx(1.5 * v)
            assert hp[(r, c)] == (2.0 if 2 * v > v else 1.0)
            assert ws[(r, c)] == pytest.approx(0.5 * v + 0.5 * v)
            assert calc[(r, c)] == pytest.approx(3 * v)


def test_pick_from_list(spark, ras):
    df, vals = ras
    df2 = df.selectExpr("row", "col", "value + 1000.0 AS value")
    sel = df.selectExpr("row", "col", "CAST(CAST(value AS INT) % 2 AS DOUBLE) AS value")
    got = _grid(OV.pick_from_list([df, df2], sel))
    for r in range(12):
        for c in range(12):
            expect = vals[r, c] if int(vals[r, c]) % 2 == 0 else vals[r, c] + 1000.0
            assert got[(r, c)] == expect


def test_edt_envelope_matches_brute_and_oracle(spark):
    """Force the integer lower-envelope path (brute_max_cols=0) and check
    it returns the identical (trow, tcol) argmin as the chunked-brute
    kernel AND as a direct (d2, tid)-lexicographic brute force."""
    import numpy as np

    from whitebox_tools_spark.functions.raster_math import GridMeta
    from whitebox_tools_spark.operators.distance import (_phase1_nearest_row,
                                                         _phase2_argmin)

    rng = np.random.default_rng(7)
    rows_n, cols_n = 6, 40
    meta = GridMeta(rows=rows_n, columns=cols_n, north=rows_n * 10.0, south=0.0,
                    east=cols_n * 10.0, west=0.0, resolution_x=10.0, resolution_y=10.0)
    tgt = [(r, c) for r in range(rows_n) for c in range(cols_n) if rng.random() < 0.12]
    assert tgt
    df = spark.createDataFrame([(r, c, 1.0) for r, c in tgt],
                               "row long, col long, value double")
    p1 = _phase1_nearest_row(df, meta).localCheckpoint(eager=True)
    brute = {(r["row"], r["col"]): (r["trow"], r["tcol"])
             for r in _phase2_argmin(p1, meta, brute_max_cols=10 ** 9).collect()}
    env = {(r["row"], r["col"]): (r["trow"], r["tcol"])
           for r in _phase2_argmin(p1, meta, brute_max_cols=0).collect()}
    assert brute == env
    assert len(brute) == rows_n * cols_n
    for (r, c), (tr_, tc_) in brute.items():
        best = min(((r - tr) ** 2 + (c - tc) ** 2, tr * cols_n + tc) for tr, tc in tgt)
        assert ((r - tr_) ** 2 + (c - tc_) ** 2, tr_ * cols_n + tc_) == best
