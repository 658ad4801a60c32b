"""Clump — raster connected components (equal-value regions) — and
`connected_components`, the package's one min-label propagation loop.

Reference: gis_analysis/clump.rs:234-286 — row-major BFS over 4- or
8-connected neighbors with equal cell values, assigning incremental
clump ids in discovery order.

Spark plan: `clump` builds its edge list once, a self-join of each cell
with its same-valued forward 4/8-neighbours, and hands it to
`connected_components`. Every cell ends up labelled with the smallest
linear index (row*C + col) in its region, i.e. its row-major-first
cell — exactly the cell where the reference BFS *starts* that clump, so
DENSE_RANK over representatives reproduces WBT's id numbering (1-based,
row-major discovery order). A cell with no same-valued neighbour is its
own clump.

`connected_components` runs on plans/iterate.fixpoint: only rows whose
label changed last round scatter it to their neighbours (an unchanged
label was already offered), and every third round a row also adopts
the label of its label's owner (pointer jumping), which bounds rounds
at O(log diameter) on path graphs. The smallest id of a component does
not depend on the propagation schedule, so every caller's labels are
exact. Clump, polygonize, lidar_segmentation, merge_line_segments,
the hydro stream links, map_off_terrain_objects and dedup.cluster_pairs
all run on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.iterate import fixpoint, materialize


def connected_components(edges: DataFrame, what: str,
                         max_rounds: int) -> DataFrame:
    """Components of the undirected graph `edges` (a, b): one row
    (id, comp) per edge endpoint, comp = the smallest id in its
    component. Ids may be any orderable type (BIGINT, or a STRUCT
    ordered field by field). Edges may repeat, loop or run one way
    only: they are symmetrized, deduped and pinned here, once. Nodes
    without edges are not in the output; callers that need them
    left-join and take COALESCE(comp, id). Raises ConvergenceError
    naming `what` when `max_rounds` rounds still leave labels changing.
    """
    sym, _ = materialize(edges.selectExpr("a", "b").unionByName(
        edges.selectExpr("b AS a", "a AS b")).distinct())
    state = sym.selectExpr("a AS id").distinct() \
        .selectExpr("id", "id AS comp", "TRUE AS __chg")
    rnd = 0

    def step(s: DataFrame) -> DataFrame:
        nonlocal rnd
        rnd += 1
        nb = sym.join(s.where("__chg").selectExpr("id AS b", "comp AS bc"), "b") \
            .groupBy("a").agg(F.min("bc").alias("mn"))
        new = s.join(nb.withColumnRenamed("a", "id"), "id", "left").selectExpr(
            "id", "comp AS __old", "LEAST(comp, COALESCE(mn, comp)) AS comp")
        if rnd % 3 == 0:
            owners = new.selectExpr("id AS comp", "comp AS owner")
            new = new.join(owners, "comp", "left").selectExpr(
                "id", "__old", "LEAST(comp, COALESCE(owner, comp)) AS comp")
        return new.selectExpr("id", "comp", "comp <> __old AS __chg")

    return fixpoint(state, step, "__chg", what, max_rounds).select("id", "comp")


def clump(cells: DataFrame, columns: int, diag: bool = True,
          max_rounds: int = 64) -> DataFrame:
    """Label equal-value connected regions.

    Output: (row, col, value, clump_id) with clump_id 1-based in
    row-major discovery order (clump.rs numbering).
    """
    from ..plans.rank import dense_rank_small

    # forward half of the neighbourhood: every adjacent pair once
    offs = [(0, 1), (1, 0)] + ([(1, -1), (1, 1)] if diag else [])
    arms = ", ".join(f"STRUCT(row + ({dr}L) AS nrow, col + ({dc}L) AS ncol)"
                     for dr, dc in offs)
    edges = (
        cells.selectExpr("row", "col", "value", f"EXPLODE(ARRAY({arms})) AS __n")
        .join(cells.selectExpr("row AS nrow", "col AS ncol", "value AS nvalue"),
              (F.expr("__n.nrow") == F.col("nrow"))
              & (F.expr("__n.ncol") == F.col("ncol"))
              & (F.col("value") == F.col("nvalue")))
        .selectExpr(f"row * {columns}L + col AS a", f"nrow * {columns}L + ncol AS b")
    )
    comp = connected_components(edges, "clump label propagation", max_rounds)
    lbl, _ = materialize(
        cells.selectExpr("row", "col", "value", f"row * {columns}L + col AS id")
        .join(comp, "id", "left")
        .selectExpr("row", "col", "value", "COALESCE(comp, id) AS lbl"))
    reps = dense_rank_small(lbl, "lbl", "clump_id")
    return lbl.join(reps, "lbl").select(
        "row", "col", "value", F.col("clump_id").cast("long").alias("clump_id")
    )
