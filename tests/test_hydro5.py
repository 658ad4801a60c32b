"""Round-3 flow models: rho8 / qin / quinn / mdinf / jenson snap /
isobasins / unnest basins."""

import logging
import math

import numpy as np
import pytest

from whitebox_tools_spark.functions.raster_math import GridMeta
from whitebox_tools_spark.operators import hydro as HY

N = 10
META = GridMeta(rows=N, columns=N, north=100.0, south=0.0, east=100.0,
                west=0.0, resolution_x=10.0, resolution_y=10.0)
DIAG = math.sqrt(200.0)


@pytest.fixture(scope="module")
def dem(spark):
    rng = np.random.RandomState(33)
    vals = (rng.randint(0, 40, size=(N, N)) + np.arange(N)[:, None] * 5.0)
    rows = [(int(r), int(c), float(vals[r, c])) for r in range(N) for c in range(N)]
    return spark.createDataFrame(rows, "row long, col long, value double"), vals


def _grid(df, col="value"):
    out = np.full((N, N), np.nan)
    for r in df.collect():
        out[int(r["row"]), int(r["col"])] = r[col]
    return out


def _mfd_accum_np(vals, weight_fn):
    """Topological-order MFD accumulation over numpy weights.
    weight_fn(r, c) -> dict {(nr, nc): w} normalized."""
    order = sorted(((vals[r, c], r, c) for r in range(N) for c in range(N)),
                   reverse=True)
    acc = np.ones((N, N))
    for _z, r, c in order:
        w = weight_fn(r, c)
        for (nr, nc), p in w.items():
            acc[nr, nc] += acc[r, c] * p
    return acc


def _lengths():
    out = []
    for i in range(8):
        out.append(DIAG if HY.D8_DX[i] and HY.D8_DY[i] else 10.0)
    return out


def _contours():
    return [(0.354 if HY.D8_DX[i] and HY.D8_DY[i] else 0.5) * 10.0
            for i in range(8)]


def test_quinn_accum_numpy_parity(spark, dem):
    df, vals = dem
    L = _lengths()
    C = _contours()

    def wfn(r, c):
        ws = {}
        for i in range(8):
            nr, nc = r + HY.D8_DY[i], c + HY.D8_DX[i]
            if 0 <= nr < N and 0 <= nc < N and vals[nr, nc] < vals[r, c]:
                ws[(nr, nc)] = C[i] * ((vals[r, c] - vals[nr, nc]) / L[i])
        t = sum(ws.values())
        return {k: v / t for k, v in ws.items()} if t > 0 else {}

    want = _mfd_accum_np(vals, wfn)
    got = _grid(HY.quinn_flow_accumulation(df, META))
    assert np.allclose(got, want, atol=1e-6)


def test_qin_accum_numpy_parity(spark, dem):
    df, vals = dem
    L = _lengths()
    C = _contours()
    eu = math.tan(math.radians(45.0))

    def wfn(r, c):
        tans = {}
        for i in range(8):
            nr, nc = r + HY.D8_DY[i], c + HY.D8_DX[i]
            if 0 <= nr < N and 0 <= nc < N and vals[nr, nc] < vals[r, c]:
                tans[i] = (vals[r, c] - vals[nr, nc]) / L[i]
        if not tans:
            return {}
        e = max(tans.values())
        fe = min(e, eu) / eu * (10.0 - 1.1) + 1.1
        ws = {}
        for i, t in tans.items():
            nr, nc = r + HY.D8_DY[i], c + HY.D8_DX[i]
            ws[(nr, nc)] = C[i] * (t ** fe)
        tot = sum(ws.values())
        return {k: v / tot for k, v in ws.items()}

    want = _mfd_accum_np(vals, wfn)
    got = _grid(HY.qin_flow_accumulation(df, META))
    assert np.allclose(got, want, atol=1e-6)


def test_mdinf_accum_positive_and_conserving(spark, dem):
    df, vals = dem
    got = _grid(HY.mdinf_flow_accumulation(df, META))
    assert np.nanmin(got) >= 1.0 - 1e-9
    # flow concentrates: max accumulation well above the self-load
    assert np.nanmax(got) > 5.0


def test_rho8_pointer_points_downslope(spark, dem):
    df, vals = dem
    ptr = _grid(HY.rho8_pointer(df, META))
    n_flow = 0
    for r in range(N):
        for c in range(N):
            v = ptr[r, c]
            if v > 0:
                i = int(round(math.log2(v)))
                nr, nc = r + HY.D8_DY[i], c + HY.D8_DX[i]
                assert 0 <= nr < N and 0 <= nc < N
                assert vals[nr, nc] < vals[r, c], (r, c)
                n_flow += 1
    assert n_flow > 0.7 * N * N


def test_rho8_deterministic(spark, dem):
    df, _ = dem
    a = _grid(HY.rho8_pointer(df, META, seed=7))
    b = _grid(HY.rho8_pointer(df, META, seed=7))
    assert np.array_equal(a, b)


def test_jenson_snap_brute(spark, dem):
    df, vals = dem
    streams = df.selectExpr(
        "row", "col", "CAST(CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value")
    pour = spark.createDataFrame(
        [(1, 2, 3), (2, 7, 7), (3, 5, 0)], "outlet_id long, row long, col long")
    out = {r["outlet_id"]: (r["row"], r["col"])
           for r in HY.jenson_snap_pour_points(pour, streams, META, 35.0).collect()}
    scells = [(r, c) for r in range(N) for c in range(N) if vals[r, c] > 50]
    for oid, (pr, pc) in ((1, (2, 3)), (2, (7, 7)), (3, (5, 0))):
        best = None
        for (sr, sc) in scells:
            d2 = ((sr - pr) * 10.0) ** 2 + ((sc - pc) * 10.0) ** 2
            if d2 <= 35.0 ** 2:
                k = (d2, sr, sc)
                if best is None or k < best:
                    best = k
        want = (best[1], best[2]) if best else (pr, pc)
        assert out[oid] == want, (oid, out[oid], want)


def test_isobasins_partition(spark, dem):
    df, _ = dem
    out = HY.isobasins(df, META, target_size=20).collect()
    seen = {}
    for r in out:
        key = (r["row"], r["col"])
        assert key not in seen
        seen[key] = r["value"]
    assert len(seen) == N * N  # partition covers the grid
    from collections import Counter
    sizes = Counter(seen.values())
    assert max(sizes.values()) <= 3 * 20  # bounded basins


def _pour_on_path(spark, df):
    """Two pour points, the second two D8 steps downstream of the first."""
    ptr = HY.d8_pointer(df, META)
    e = {(r["row"], r["col"]): (r["drow"], r["dcol"])
         for r in HY.d8_edges(ptr).collect()}
    path = None
    for start in sorted(e):
        p = [start]
        while p[-1] in e and len(p) < 20:
            p.append(e[p[-1]])
        if len(p) >= 3:
            path = p
            break
    assert path is not None
    p1, p2 = path[0], path[2]
    return p1, spark.createDataFrame(
        [(1, p1[0], p1[1]), (2, p2[0], p2[1])],
        "outlet_id long, row long, col long")


def test_unnest_basins_layers(spark, dem):
    df, _ = dem
    p1, pour = _pour_on_path(spark, df)
    out = HY.unnest_basins(df, META, pour).collect()
    lay = {}
    for r in out:
        lay.setdefault(r["layer"], set()).add((r["row"], r["col"], r["outlet_id"]))
    # p1 upstream of p2 -> p2 has layer 1 (0 downstream pour pts),
    # p1 has layer 2
    layers_by_outlet = {r["outlet_id"]: r["layer"] for r in out}
    assert layers_by_outlet[2] == 1
    assert layers_by_outlet[1] == 2
    # within each layer cells are uniquely assigned
    for l, cells in lay.items():
        keys = [(r, c) for r, c, _ in cells]
        assert len(keys) == len(set(keys))
    # the nested basin (layer 1, outlet 2) contains outlet 1's cell
    l1_cells = {(r, c) for r, c, o in lay[1] if o == 2}
    assert p1 in l1_cells


def test_unnest_basins_one_closure(spark, dem, caplog):
    """A two-layer call builds the watershed closure once."""
    df, _ = dem
    pour = _pour_on_path(spark, df)[1]
    with caplog.at_level(logging.DEBUG, logger="whitebox_tools_spark.plans.iterate"):
        out = HY.unnest_basins(df, META, pour).collect()
    assert {r["layer"] for r in out} == {1, 2}
    starts = [r for r in caplog.records
              if "watershed closure round 1:" in r.getMessage()]
    assert len(starts) == 1


def test_unnest_basins_budget_exhausted(spark, dem):
    """One doubling cannot close a pour path longer than two cells."""
    from whitebox_tools_spark.plans.iterate import ConvergenceError

    df, _ = dem
    with pytest.raises(ConvergenceError, match="unnest_basins"):
        HY.unnest_basins(df, META, _pour_on_path(spark, df)[1], max_doublings=1)
