"""plans/iterate.py: observed round counts, the convergence guard and
pointer-doubling closure."""

import logging
import re

import numpy as np
import pytest

from whitebox_tools_spark.plans.iterate import ConvergenceError, closure, fixpoint

N = 10


def _chain(spark, n=N):
    """Pointer chain 0 -> 1 -> ... -> n-1, the last node pointing at itself."""
    return spark.createDataFrame([(i, min(i + 1, n - 1)) for i in range(n)],
                                 "id long, nxt long")


def _jump(state):
    hop = state.selectExpr("id AS j_id", "nxt AS j_nxt")
    return state.join(hop, state["nxt"] == hop["j_id"], "left").selectExpr(
        "id", "nxt AS __prev", "COALESCE(j_nxt, nxt) AS nxt")


def _jump_history(n=N):
    """Rows changed in each pointer-jumping round, in numpy."""
    nxt = np.minimum(np.arange(n) + 1, n - 1)
    hist = []
    while True:
        new = nxt[nxt]
        hist.append(int((new != nxt).sum()))
        nxt = new
        if hist[-1] == 0:
            return hist


def _rounds(caplog, what):
    pat = re.compile(rf"{re.escape(what)} round (\d+): rows=(\d+) changed=(\d+) seconds=")
    out = []
    for rec in caplog.records:
        m = pat.match(rec.getMessage())
        if m:
            out.append(tuple(int(g) for g in m.groups()))
    return out


def test_fixpoint_observed_counts_match_recount(spark, caplog):
    frames = []

    def step(state):
        new = _jump(state)
        frames.append(new)
        return new

    with caplog.at_level(logging.DEBUG, logger="whitebox_tools_spark.plans.iterate"):
        out = fixpoint(_chain(spark), step, "nxt <> __prev", "chain jump", 8)
    rounds = _rounds(caplog, "chain jump")
    assert [r for r, _, _ in rounds] == list(range(1, len(frames) + 1))
    for (_, rows, changed), new in zip(rounds, frames):
        assert changed == new.where("nxt <> __prev").count()
        assert rows == new.count() == N
    assert [c for _, _, c in rounds] == _jump_history()
    assert out.columns == ["id", "nxt"]
    assert {r["nxt"] for r in out.collect()} == {N - 1}


def test_fixpoint_exhausted_budget_raises(spark):
    hist = _jump_history()
    budget = 2
    assert len(hist) > budget
    with pytest.raises(ConvergenceError) as err:
        fixpoint(_chain(spark), _jump, "nxt <> __prev", "chain jump", budget)
    msg = str(err.value)
    assert "chain jump" in msg
    assert str(hist[:budget]) in msg


def test_closure_equals_numpy_transitive_closure(spark, caplog):
    n = 6
    edges = [(i, i + 1) for i in range(n - 1)]
    reach = spark.createDataFrame(
        [(i, i, 0) for i in range(n)] + [(a, b, 1) for a, b in edges],
        "src long, dst long, h int")
    with caplog.at_level(logging.DEBUG, logger="whitebox_tools_spark.plans.iterate"):
        got = closure(reach, "chain closure", 8, sums=("h",)).collect()

    r = np.eye(n, dtype=bool)
    for a, b in edges:
        r[a, b] = True
    while True:
        nxt = (r.astype(int) @ r.astype(int)) > 0
        if (nxt == r).all():
            break
        r = nxt
    want = {(int(a), int(b)) for a, b in zip(*np.nonzero(r))}
    assert {(x["src"], x["dst"]) for x in got} == want
    assert len(got) == len(want)
    # hop counts add along the (unique) path
    assert all(x["h"] == x["dst"] - x["src"] for x in got)
    rounds = _rounds(caplog, "chain closure")
    assert rounds and rounds[-1][1] == len(want) and rounds[-1][2] == 0


def test_closure_exhausted_budget_raises(spark):
    reach = spark.createDataFrame([(i, i) for i in range(6)] + [(i, i + 1) for i in range(5)],
                                  "src long, dst long")
    with pytest.raises(ConvergenceError, match="chain closure"):
        closure(reach, "chain closure", 1)
