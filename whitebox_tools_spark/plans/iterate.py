"""Round loops for iterative fixpoint plans.

Every pointer-jumping / frontier-propagation operator in this package
runs a bounded round loop; silently returning an unconverged state when
the budget is exhausted would be a WRONG answer with no signal (e.g. a
least-cost path longer than max_rounds cells). Exhaustion raises
ConvergenceError.

Observe-on-checkpoint contract: a round costs ONE eager action.
`materialize` truncates the lineage with an eager localCheckpoint and
reads the round's counts (`count_if` of SQL predicates) from an
Observation on that same action, so no separate `.count()` runs. `fixpoint` (relax /
pointer jumping) and `closure` (pointer-doubling transitive closure) own
the checkpoint, the convergence test and the guard; each logs one DEBUG
line per round on this module's logger (operator, round, rows, rows
changed, seconds), from counts that are already observed.

Every min-label propagation (clump, polygonize, lidar segmentation,
line merging, stream links, dedup clusters) is one `fixpoint`:
operators.clump.connected_components, whose step keeps its own round
counter to pointer-jump every third round. Loops that fit neither shape
(the link-DAG peel loops of hydro.py) call ensure_converged from their
for/else clause.
"""

from __future__ import annotations

import logging
import time
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


class ConvergenceError(RuntimeError):
    """An iterative plan exhausted its round budget while still changing."""


def ensure_converged(changed: int, what: str, rounds: int) -> None:
    """Raise if a round budget ran out with work still pending.

    changed: rows still changing (or frontier size) after the last round;
    0 means the caller broke out normally and this is a no-op.
    """
    if changed:
        raise ConvergenceError(
            f"{what} did not converge within {rounds} rounds "
            f"({changed} rows still changing); raise max_rounds — "
            f"a partial fixpoint is not a valid result"
        )


def materialize(df: DataFrame, *conds: str) -> tuple[DataFrame, list[int]]:
    """Eagerly checkpoint `df` and return it with `count_if(cond)` for
    each SQL predicate in `conds`, observed in the checkpoint's own
    action ("TRUE" counts rows)."""
    if not conds:
        return df.localCheckpoint(eager=True), []
    obs = Observation()
    aggs = [F.count_if(F.expr(c)).alias(f"n{i}") for i, c in enumerate(conds)]
    out = df.observe(obs, *aggs).localCheckpoint(eager=True)
    got = obs.get
    return out, [int(got[f"n{i}"]) for i in range(len(conds))]


def _log_round(what: str, rnd: int, rows: int, changed: int, t0: float) -> None:
    log.debug("%s round %d: rows=%d changed=%d seconds=%.3f",
              what, rnd, rows, changed, time.perf_counter() - t0)


def _exhausted(what: str, budget: int, history: list[int]) -> ConvergenceError:
    return ConvergenceError(
        f"{what} did not converge within {budget} rounds (rows changed per "
        f"round: {history}); raise the round budget — a partial fixpoint "
        f"is not a valid result"
    )


def fixpoint(state: DataFrame, step: Callable[[DataFrame], DataFrame],
             changed: str, what: str, max_rounds: int) -> DataFrame:
    """Iterate `state = step(state)` until no row satisfies `changed`.

    `step` returns the next state plus any bookkeeping columns the
    `changed` predicate reads (e.g. the previous value as `__prev`);
    columns that `state` does not have are dropped after the round.
    Raises ConvergenceError, naming each round's changed count, when
    `max_rounds` rounds still leave rows changing.
    """
    state, _ = materialize(state)
    history = []
    for rnd in range(1, max_rounds + 1):
        t0 = time.perf_counter()
        new, (rows, n) = materialize(step(state), "TRUE", changed)
        _log_round(what, rnd, rows, n, t0)
        history.append(n)
        state = new.drop(*[c for c in new.columns if c not in state.columns])
        if n == 0:
            return state
    raise _exhausted(what, max_rounds, history)


def closure(reach: DataFrame, what: str, max_doublings: int,
            sums: tuple[str, ...] = ()) -> DataFrame:
    """Transitive closure of (src, dst, *sums) by pointer doubling.

    Each round joins the closure with itself on a.dst = b.src (payload
    columns in `sums` add along the path), unions the previous pairs
    and keeps one row per (src, dst); it stops when the observed row
    count stops growing. `reach` must hold unique (src, dst) pairs, and
    the payload of a pair must not depend on the path (true on a
    functional graph, where each pair has exactly one path).
    """
    reach, (prev,) = materialize(reach, "TRUE")
    history = []
    for rnd in range(1, max_doublings + 1):
        t0 = time.perf_counter()
        grown = (
            reach.alias("a").join(reach.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"),
                    *[(F.col(f"a.{s}") + F.col(f"b.{s}")).alias(s) for s in sums])
            .unionByName(reach)
            .dropDuplicates(["src", "dst"])
        )
        reach, (n,) = materialize(grown, "TRUE")
        _log_round(what, rnd, n, n - prev, t0)
        history.append(n - prev)
        if n == prev:
            return reach
        prev = n
    raise _exhausted(what, max_doublings, history)
