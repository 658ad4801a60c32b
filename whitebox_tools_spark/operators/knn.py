"""Grid-partitioned kNN joins with neighbor-tile (shell) expansion.

Reference: FixedRadiusSearch2D.knn_search
(whitebox-common/src/structures/fixed_radius_search.rs:132-216):
scan the 3x3 center block, then expand square shells one ring at a time
until >= k candidates exist, then keep the k smallest. NOTE the
reference stops WITHOUT checking whether the next shell could hold a
closer point — it is *approximate* (comment at :130).

Two engines:

- ``knn_join_exact`` — same grid machinery but with the correctness
  guarantee: a query finishes at Chebyshev bin reach R only when its
  k-th candidate distance < (R * bin_size)^2, since any unscanned bin
  is at least R*bin_size away (strict, so a tie at the bound scans one
  more ring). This is the oracle-gated variant
  (provably equal to brute force).
- ``knn_join_wbt`` — replicates the reference's early stop bit-for-bit
  (stop as soon as >= k candidates are seen), for parity with WBT
  fixture outputs.

Both run one ring loop (`_ring_search`), one eager action per round.
Physical plan per round: the probe side explodes the ring's neighbor
bin keys (codegen) and LEFT OUTER equi-joins the pinned targets on
(cx, cy) (AQE broadcasts them when small), so a query with an empty
ring keeps a NULL row; the pending candidates of still-active queries
are unioned in, and one per-query MIN_BY (k=1) or window ranks them by
(dist2, target id) with NULL candidates last and flags the queries
whose k-th candidate is inside the stop bound. The ranked frame is
checkpointed once, with the count of still-active queries observed on
that same action; resolved rows, pending rows and the next probe are
filters of it. Rounds touch only still-active queries, so the joins
shrink geometrically; at 10^12-doc scale the bin size is chosen from
density (WBT's own radius heuristic) so that round 1 resolves almost
everything.

Distances are squared (f64, single expression (dx*dx + dy*dy)) — the
same arithmetic on both Spark and DuckDB, bit-identical.
"""

from __future__ import annotations

import math
import time
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cells import neighbor_offsets, with_frs_cells
from ..plans.iterate import _log_round, materialize


_QCOLS = ("qx", "qy", "qcx", "qcy")
_DIST2 = "(qx - tx) * (qx - tx) + (qy - ty) * (qy - ty)"


def _ring_join(
    probe: DataFrame,
    targets: DataFrame,
    reach: int,
    qid: str,
    tid: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Candidate rows from the bins at Chebyshev ring `reach` (ring
    only, except reach=1 which is the full 3x3 block). A LEFT OUTER
    join: a bin without targets yields one row with NULL tid / dist2,
    so every probed query keeps at least one row."""
    offs = neighbor_offsets(reach, ring_only=reach > 1)
    pairs = ", ".join(f"STRUCT(qcx + ({dx}L) AS cx, qcy + ({dy}L) AS cy)" for dx, dy in offs)
    bins = probe.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))")).select(
        qid, *_QCOLS, F.col("__n.cx").alias("cx"), F.col("__n.cy").alias("cy")
    )
    return bins.join(targets, ["cx", "cy"], "left").select(
        qid,
        *_QCOLS,
        tid,
        F.expr(_DIST2).alias("dist2"),
        *carry,
    )


def _prep(
    queries: DataFrame,
    targets: DataFrame,
    radius: float,
    qid: str,
    tid: str,
    qx: str,
    qy: str,
    tx: str,
    ty: str,
    carry: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    q = queries.select(F.col(qid).alias(qid), F.col(qx).alias("qx"), F.col(qy).alias("qy"))
    q = with_frs_cells(q, radius, x="qx", y="qy", cx="qcx", cy="qcy")
    t = targets.select(
        F.col(tid).alias(tid), F.col(tx).alias("tx"), F.col(ty).alias("ty"), *carry
    )
    t = with_frs_cells(t, radius, x="tx", y="ty", cx="cx", cy="cy")
    return q, t


def _rank(acc: DataFrame, k: int, qid: str, tid: str, carry: tuple[str, ...],
          bound: float) -> DataFrame:
    """Per-query k smallest rows of `acc` by (dist2, tid), NULL
    candidates last, with `knn_rank` and the stop flag `__done`: the
    query's k-th row is a candidate strictly inside `bound`. k=1 is one
    aggregation (MIN_BY), any other k one window; carry columns are
    payload only and never enter the ordering key."""
    def inside(d):  # FALSE, not NULL, for a missing candidate
        return F.coalesce(d < F.lit(bound), F.lit(False))

    if k == 1:
        val = ", ".join([*_QCOLS, tid, "dist2", *carry])
        return (acc.groupBy(qid).agg(F.expr(
            f"MIN_BY(STRUCT({val}), STRUCT(dist2 IS NULL, dist2, {tid}))").alias("b"))
            .select(qid, "b.*", F.lit(1).alias("knn_rank"))
            .withColumn("__done", inside(F.col("dist2"))))
    by_dist = Window.partitionBy(qid).orderBy(
        F.col("dist2").asc_nulls_last(), F.col(tid).asc_nulls_last())
    whole = by_dist.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    kth = F.nth_value("dist2", k).over(whole)  # NULL below k candidates
    return (acc.withColumn("knn_rank", F.row_number().over(by_dist))
            .withColumn("__done", inside(kth))
            .where(F.col("knn_rank") <= k))


def _ring_search(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    radius: float,
    qid: str,
    tid: str,
    qx: str,
    qy: str,
    tx: str,
    ty: str,
    max_rounds: int,
    carry: tuple[str, ...],
    exact: bool,
) -> DataFrame:
    """The ring loop behind both joins. Round `reach` scans Chebyshev
    ring `reach` for the still-active queries, ranks them together with
    their pending candidates, and resolves a query once its k-th
    candidate lies inside the stop bound: (reach * bin_size)^2 for the
    exact join, +inf (= has k candidates) for WBT parity. One eager
    action per round: the ranked frame is checkpointed and the number of
    queries still active is observed on it; resolved rows, pending rows
    and the next probe are filters of that checkpoint. Rounds exhausted:
    the exact join brute-forces the stragglers, the WBT join keeps their
    partial top-k."""
    q, t = _prep(queries, targets, radius, qid, tid, qx, qy, tx, ty, carry)
    t = t.persist()
    bin_size = radius * 0.5
    what = f"knn_join_{'exact' if exact else 'wbt'} ring"
    cand_cols = [qid, *_QCOLS, tid, "dist2", *carry]

    # one partition of queries per core: with the targets broadcast, the
    # ring join and the per-query rank then run inside the query
    # partitions, so the candidate rows are never shuffled
    probe = q.repartition(q.sparkSession.sparkContext.defaultParallelism, qid)
    found: list[DataFrame] = []
    pending: DataFrame | None = None  # ranked candidates of still-active queries
    for reach in range(1, max_rounds + 1):
        t0 = time.perf_counter()
        # rings are disjoint (reach=1 is the full 3x3 block, reach>1
        # strict rings), so no (qid, tid) duplicates across rounds
        cand = _ring_join(probe, t, reach, qid, tid, carry)
        acc = cand if pending is None else pending.select(cand_cols).unionByName(cand)
        # strict <: FLOOR(x * inv_r) can round a bin edge by an ulp, so a
        # target in the first unscanned ring can sit at exactly
        # reach*bin_size (test_exact_knn_tie_at_stop_bound); an
        # equal-distance target with a smaller tid would then be missed
        # (tie-break contract), so ties force one more ring
        bound = float(reach * bin_size) ** 2 if exact else math.inf
        ranked, (rows, n_active) = materialize(
            _rank(acc, k, qid, tid, carry, bound), "TRUE", "knn_rank = 1 AND NOT __done")
        _log_round(what, reach, rows, n_active, t0)
        found.append(ranked.where("__done"))
        pending = ranked.where(~F.col("__done") & F.col(tid).isNotNull())
        probe = ranked.where("knn_rank = 1 AND NOT __done").select(qid, *_QCOLS)
        if n_active == 0:
            break
    else:
        if exact:
            # brute force (tiny set); the cross join re-scans every ring,
            # so the pending rows are a subset of these candidates
            cand = probe.crossJoin(t.drop("cx", "cy")).select(
                qid, *_QCOLS, tid, F.expr(_DIST2).alias("dist2"), *carry)
            found.append(_rank(cand, k, qid, tid, carry, math.inf))
        else:
            found.append(pending)

    t.unpersist()
    return reduce(DataFrame.unionByName, found).select(qid, tid, "dist2", *carry, "knn_rank")


def knn_join_exact(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    radius: float,
    qid: str = "query_id",
    tid: str = "target_id",
    qx: str = "x",
    qy: str = "y",
    tx: str = "x",
    ty: str = "y",
    max_rounds: int = 8,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Exact k-nearest-neighbor join.

    Returns (qid, tid, dist2, *carry, knn_rank) with knn_rank in 1..k
    ordered by (dist2, tid) — identical to a brute-force cross join +
    top-k, but with grid-bounded work. bin_size = radius * 0.5 (FRS
    parity binning). k=1 ranks by aggregation (no window sort). `carry`
    names extra TARGET columns that ride through the join as payload
    (saving the caller a re-attach shuffle join by id); they never
    enter an ordering key, so results are unchanged.

    The per-query bounded top-k window here plays the role of the
    reference's NMinimizer / NMaximizer heap structures
    (whitebox-common/src/structures/n_minimizer.rs, n_maximizer.rs):
    Spark's partial TakeOrderedAndProject / window rank IS the bounded
    heap, picked by the optimizer instead of hand-rolled.
    """
    return _ring_search(queries, targets, k, radius, qid, tid, qx, qy, tx, ty,
                        max_rounds, carry, exact=True)


def knn_join_wbt(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    radius: float,
    qid: str = "query_id",
    tid: str = "target_id",
    qx: str = "x",
    qy: str = "y",
    tx: str = "x",
    ty: str = "y",
    max_rounds: int = 48,
) -> DataFrame:
    """WBT-parity approximate kNN: stop expanding as soon as a query has
    seen >= k candidates (fixed_radius_search.rs:180-204 early stop),
    keep the k smallest by (dist2, tid)."""
    return _ring_search(queries, targets, k, radius, qid, tid, qx, qy, tx, ty,
                        max_rounds, (), exact=False)


# ---------------------------------------------------------------------------
# Gridding tools built on the kNN join
# ---------------------------------------------------------------------------


def wbt_default_radius(extent_area: float, n_points: int) -> float:
    """NearestNeighbourGridding radius heuristic
    (nearest_neighbour_gridding.rs:285-289): 4 * sqrt(area / n)."""
    return 4.0 * (extent_area / float(n_points)) ** 0.5


def grid_cells_df(spark, meta, qid: str = "cell_id"):
    """Cell-center query layer from a GridMeta — spark.range, no data skew.

    x/y use the (col + 0.5) center formulas of
    nearest_neighbour_gridding.rs:447-449.
    """
    df = spark.range(meta.rows * meta.columns).select(
        F.col("id").alias(qid),
        (F.col("id") / meta.columns).cast("long").alias("row"),
        (F.col("id") % meta.columns).alias("col"),
    )
    return df.selectExpr(
        qid,
        "row",
        "col",
        f"{meta.x_center_expr('col')} AS x",
        f"{meta.y_center_expr('row')} AS y",
    )


def nearest_neighbour_gridding(
    points: DataFrame,
    meta,
    max_dist: float | None = None,
    value_col: str = "value",
    point_id: str = "record_num",
    exact: bool = True,
    radius: float | None = None,
    extent_area: float | None = None,
) -> DataFrame:
    """Grid each cell with the value of its nearest point.

    exact=True: provably-nearest (oracle-equal). exact=False: WBT's
    approximate early-stop search (fixture parity).
    Output: (row, col, value) — cells farther than max_dist get no row
    (WBT writes nodata; callers materialize the sentinel on write).

    radius sets ONLY the search-bin size (results are exact for any
    value — the ring guarantee proves the k-th neighbour). radius=None
    derives it from point density with WBT's own heuristic, which is
    the scale-correct default: a pinned radius tuned to one fixture
    over- or under-bins every other density. extent_area short-circuits
    the min/max extent aggregation when the caller knows the bounds
    (one COUNT scan instead of a 5-aggregate pass).
    """
    spark = points.sparkSession
    if radius is None:
        if extent_area is not None:
            radius = wbt_default_radius(extent_area, points.count())
        else:
            ext = points.agg(
                F.min("x"), F.max("x"), F.min("y"), F.max("y"), F.count(F.lit(1))
            ).collect()[0]
            area = (ext[1] - ext[0]) * (ext[3] - ext[2])
            radius = wbt_default_radius(area, ext[4])
    cells = grid_cells_df(spark, meta)
    if exact:
        # value rides the join as carry payload; row/col re-derive from
        # cell_id with grid_cells_df's own expressions — zero re-attach
        # joins after the kNN rounds (formerly two shuffle joins)
        pts = points.withColumn("__nn_value", F.col(value_col))
        nn = knn_join_exact(cells, pts, k=1, radius=radius,
                            qid="cell_id", tid=point_id, carry=("__nn_value",))
        out = nn.withColumnRenamed("__nn_value", "value")
    else:
        nn = knn_join_wbt(cells, points, k=1, radius=radius,
                          qid="cell_id", tid=point_id)
        out = nn.join(
            points.select(F.col(point_id), F.col(value_col).alias("value")), point_id
        )
    out = out.select(
        (F.col("cell_id") / meta.columns).cast("long").alias("row"),
        (F.col("cell_id") % meta.columns).alias("col"),
        "value",
        "dist2",
    )
    if max_dist is not None:
        # WBT compares Euclidean distance (not squared) to max_dist (:454)
        out = out.where(F.sqrt(F.col("dist2")) <= max_dist)
    return out.select("row", "col", "value")


def idw_interpolation(
    points: DataFrame,
    meta,
    k: int = 8,
    weight: float = 2.0,
    value_col: str = "value",
    point_id: str = "record_num",
    radius: float | None = None,
    extent_area: float | None = None,
) -> DataFrame:
    """IDW gridding (idw_interpolation.rs:445-630 semantics): value =
    sum(v / d^w) / sum(1 / d^w) over the k nearest points.

    The two sums are accumulated in (dist2, tid) order on BOTH engines
    (deterministic float summation for oracle parity): neighbors are
    collected, sorted, then folded sequentially with F.aggregate.

    radius is a pure search-bin parameter (exactness is ring-guaranteed
    at any value); None derives it from density — see
    nearest_neighbour_gridding for the extent_area short-circuit.
    """
    spark = points.sparkSession
    if radius is None:
        if extent_area is not None:
            radius = wbt_default_radius(extent_area, points.count())
        else:
            ext = points.agg(F.min("x"), F.max("x"), F.min("y"), F.max("y"), F.count(F.lit(1))).collect()[0]
            area = (ext[1] - ext[0]) * (ext[3] - ext[2])
            radius = wbt_default_radius(area, ext[4])
    cells = grid_cells_df(spark, meta)
    pts = points.withColumn("v", F.col(value_col))
    # v rides the kNN join as carry payload (no re-attach join by id);
    # one fused fold replaces the former separate num/den AGGREGATEs:
    # POWER(dist2, w/2) evaluates once per element (TRANSFORM binding)
    # and each accumulator keeps its exact IEEE op sequence — acc.num
    # adds e.v / p, acc.den adds 1.0 / p, in the same (dist2, v) sort
    # order — so values are bit-identical to the two-fold plan and the
    # DuckDB oracle. Higher-order fns run interpreted; halving the fold
    # passes and the POWER calls is a straight 4x less lambda dispatch.
    nn = knn_join_exact(cells, pts, k=k, radius=radius,
                        qid="cell_id", tid=point_id, carry=("v",))
    half_w = weight / 2.0
    agg = nn.groupBy("cell_id").agg(
        F.expr(
            "AGGREGATE("
            "  TRANSFORM(ARRAY_SORT(COLLECT_LIST(STRUCT(dist2, v))),"
            f"            e -> STRUCT(e.v AS v, POWER(e.dist2, {half_w!r}) AS p)),"
            "  STRUCT(CAST(0.0 AS DOUBLE) AS num, CAST(0.0 AS DOUBLE) AS den),"
            "  (acc, e) -> STRUCT(acc.num + e.v / e.p AS num,"
            "                     acc.den + 1.0 / e.p AS den))"
        ).alias("nd"),
    )
    return agg.select(
        (F.col("cell_id") / meta.columns).cast("long").alias("row"),
        (F.col("cell_id") % meta.columns).alias("col"),
        (F.col("nd.num") / F.col("nd.den")).alias("value"),
    )
