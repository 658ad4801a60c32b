"""Tiling / gridding operators.

- ``assign_tiles``  — WBT LidarTile parity
  (whitebox-tools-app/src/tools/lidar_analysis/lidar_tile.rs:300-326):
  grid anchored at (origin_x, origin_y), tile extent derived from the
  dataset's min/max, ``tile_id = row * cols + col``.
- ``filter_min_points`` — LidarTile's min_points threshold (tiles with
  fewer points produce no output tile).
- ``hex_bin`` — VectorHexBinning parity
  (gis_analysis/vector_hex_bin.rs:280-340): staggered hex centers,
  nearest-center assignment; COUNT per hex.

Scale notes: tile/hex assignment is a pure per-row column expression
(codegen, zero shuffle). The only shuffles are the explicit
``groupBy(tile_id)`` count and the partitioned write. The write
rebalances on the tile column, and AQE splits a hot tile over several
tasks by size, so one hot tile never lands in a single task.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class TileGrid:
    """Resolved tile grid (the scalars WBT derives from the LAS header)."""

    origin_x: float
    origin_y: float
    width_x: float
    width_y: float
    start_x_grid: float
    start_y_grid: float
    cols: int
    rows: int

    @property
    def num_tiles(self) -> int:
        return self.rows * self.cols


def resolve_tile_grid(
    min_x: float,
    max_x: float,
    min_y: float,
    max_y: float,
    origin_x: float,
    origin_y: float,
    width_x: float,
    width_y: float,
) -> TileGrid:
    """Exact transcription of lidar_tile.rs:300-307 grid derivation."""
    start_x_grid = math.floor((min_x - origin_x) / width_x)
    end_x_grid = math.ceil((max_x - origin_x) / width_x)
    start_y_grid = math.floor((min_y - origin_y) / width_y)
    end_y_grid = math.ceil((max_y - origin_y) / width_y)
    cols = int(abs(end_x_grid - start_x_grid))
    rows = int(abs(end_y_grid - start_y_grid))
    return TileGrid(origin_x, origin_y, width_x, width_y, start_x_grid, start_y_grid, cols, rows)


def tile_exprs(grid: TileGrid, x_sql: str = "x", y_sql: str = "y") -> dict[str, str]:
    """Portable SQL (Spark + DuckDB identical) for tile col/row/id.

    Parity: lidar_tile.rs:323-326 —
      col = floor((x - origin_x)/width_x - start_x_grid)
      row = floor((y - origin_y)/width_y - start_y_grid)
      tile_id = row * cols + col
    """
    col = (
        f"CAST(FLOOR((({x_sql}) - {grid.origin_x!r}) / {grid.width_x!r} "
        f"- {grid.start_x_grid!r}) AS BIGINT)"
    )
    row = (
        f"CAST(FLOOR((({y_sql}) - {grid.origin_y!r}) / {grid.width_y!r} "
        f"- {grid.start_y_grid!r}) AS BIGINT)"
    )
    tile_id = f"(({row}) * {grid.cols} + ({col}))"
    return {"tile_col": col, "tile_row": row, "tile_id": tile_id}


def assign_tiles(
    df: DataFrame,
    origin_x: float,
    origin_y: float,
    width_x: float,
    width_y: float,
    x: str = "x",
    y: str = "y",
    extent: tuple[float, float, float, float] | None = None,
) -> tuple[DataFrame, TileGrid]:
    """Append tile_row/tile_col/tile_id columns (LidarTile parity).

    ``extent`` (min_x, max_x, min_y, max_y) skips the extent scan when
    known (e.g. from Iceberg column stats — at 100 TB never rescan for
    min/max; the catalog already has them). Otherwise one cheap agg pass
    computes it (Parquet min/max statistics make this scan-light).
    """
    if extent is None:
        r = df.agg(
            F.min(x).alias("mnx"), F.max(x).alias("mxx"), F.min(y).alias("mny"), F.max(y).alias("mxy")
        ).collect()[0]
        extent = (r["mnx"], r["mxx"], r["mny"], r["mxy"])
    grid = resolve_tile_grid(extent[0], extent[1], extent[2], extent[3], origin_x, origin_y, width_x, width_y)
    ex = tile_exprs(grid, x, y)
    out = (
        df.withColumn("tile_col", F.expr(ex["tile_col"]))
        .withColumn("tile_row", F.expr(ex["tile_row"]))
        .withColumn("tile_id", F.expr(ex["tile_id"]))
    )
    return out, grid


def filter_min_points(tiled: DataFrame, min_points: int, tile_col: str = "tile_id") -> DataFrame:
    """Drop rows in tiles below the min_points threshold (lidar_tile.rs
    min_points semantics). Implemented as a window count — one shuffle on
    tile_id, no driver collect."""
    w_counts = tiled.groupBy(tile_col).agg(F.count(F.lit(1)).alias("__tile_n"))
    # tile count table is tiny (<= 32767 tiles in WBT; bounded in ours) -> broadcast
    return (
        tiled.join(F.broadcast(w_counts), tile_col, "left")
        .where(F.col("__tile_n") >= min_points)
        .drop("__tile_n")
    )


def write_tiles(tiled: DataFrame, path: str, tile_col: str = "tile_id",
                mode: str = "overwrite") -> None:
    """Partitioned tile write — the north rule's hot-tile skew defuser.

    A rebalance on the tile column gives each tile to one task, so each
    tile directory holds one file. AQE's rebalance skew-split
    (`OptimizeSkewInRebalancePartitions`) cuts any tile larger than
    `spark.sql.adaptive.advisoryPartitionSizeInBytes` into several
    tasks, each writing its own file into the tile's directory, and
    coalesces small tiles into shared tasks. Readers see the same
    directory layout either way; writers see bounded task sizes.
    """
    tiled.hint("rebalance", tile_col).write.mode(mode).partitionBy(tile_col).parquet(path)


# ---------------------------------------------------------------------------
# Hex binning (vector_hex_bin.rs parity, horizontal orientation)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class HexGrid:
    """Staggered hex-center lattice (vector_hex_bin.rs:280-340, "h")."""

    width: float
    min_x: float
    max_x: float
    min_y: float
    max_y: float

    @property
    def half_width(self) -> float:
        return 0.5 * self.width

    @property
    def size(self) -> float:
        return self.half_width / math.cos(math.pi / 6.0)

    @property
    def height(self) -> float:
        return self.size * 2.0

    @property
    def three_quarter_height(self) -> float:
        return 0.75 * self.height

    @property
    def center_x0(self) -> float:
        return self.min_x + self.half_width

    @property
    def center_y0(self) -> float:
        return self.max_y - 0.25 * self.height

    @property
    def rows(self) -> int:
        return int(math.ceil((self.max_y - self.min_y) / self.three_quarter_height))

    def cols_in_row(self, row: int) -> int:
        return int(
            math.ceil((self.max_x - self.min_x + self.half_width * (row % 2)) / self.width)
        )

    def center_exprs(self, row_sql: str, col_sql: str) -> tuple[str, str]:
        """center_x = (cx0 - half_width*(row%2)) + col*width;
        center_y = cy0 - row*three_quarter_height (vector_hex_bin.rs:330-335)."""
        cx = (
            f"(({self.center_x0!r} - {self.half_width!r} * CAST(({row_sql}) % 2 AS DOUBLE)) "
            f"+ CAST({col_sql} AS DOUBLE) * {self.width!r})"
        )
        cy = f"({self.center_y0!r} - CAST({row_sql} AS DOUBLE) * {self.three_quarter_height!r})"
        return cx, cy


def hex_assign_exprs(grid: HexGrid, x_sql: str = "x", y_sql: str = "y") -> str:
    """Portable SQL assigning each point to its nearest hex center.

    WBT inserts all centers in an FRS and does knn_search(x,y,1); the
    nearest staggered-lattice center is found in closed form by probing
    the 3 candidate rows x 2 candidate cols around the point and taking
    the squared-distance argmin (ties broken by hex row then col —
    matching FRS insertion order, which enumerates row-major).

    Emitted as one SQL scalar expression producing a struct
    (hex_row, hex_col) — codegen-only, portable to DuckDB.
    """
    cands = []
    for dr in (0, 1, 2):  # rows: floor-based base row and the two above/below
        row = f"(CAST(FLOOR(({grid.center_y0!r} - ({y_sql})) / {grid.three_quarter_height!r}) AS BIGINT) + {dr - 1})"
        for dc in (0, 1):
            col = (
                f"(CAST(FLOOR((({x_sql}) - ({grid.center_x0!r} - {grid.half_width!r} * "
                f"CAST({row} % 2 AS DOUBLE))) / {grid.width!r}) AS BIGINT) + {dc})"
            )
            cx, cy = grid.center_exprs(row, col)
            d2 = f"((({x_sql}) - {cx}) * (({x_sql}) - {cx}) + (({y_sql}) - {cy}) * (({y_sql}) - {cy}))"
            cands.append(f"STRUCT({d2} AS d2, {row} AS hex_row, {col} AS hex_col)")
    arr = ", ".join(cands)
    # array_min on struct orders lexicographically: (d2, hex_row, hex_col)
    # -> exact argmin with deterministic tie-break.
    return f"ARRAY_MIN(ARRAY({arr}))"


def hex_bin(
    df: DataFrame,
    width: float,
    x: str = "x",
    y: str = "y",
    extent: tuple[float, float, float, float] | None = None,
) -> tuple[DataFrame, HexGrid]:
    """COUNT of points per hex cell (VectorHexBinning / LidarHexBinning)."""
    if extent is None:
        r = df.agg(F.min(x).alias("a"), F.max(x).alias("b"), F.min(y).alias("c"), F.max(y).alias("d")).collect()[0]
        extent = (r["a"], r["b"], r["c"], r["d"])
    grid = HexGrid(width, extent[0], extent[1], extent[2], extent[3])
    assigned = df.withColumn("__hex", F.expr(hex_assign_exprs(grid, x, y)))
    out = (
        assigned.groupBy(
            F.col("__hex.hex_row").alias("hex_row"), F.col("__hex.hex_col").alias("hex_col")
        )
        .agg(F.count(F.lit(1)).alias("hex_count"))
    )
    return out, grid


# Coarser pyramid levels are anchored with this incommensurate offset
# (x w_level). With aligned anchors and width doubling, every odd-row
# child center sits EXACTLY equidistant between two parent centers —
# the argmin then hangs on 1-ulp float noise (and measurably diverges
# between engines). The jitter makes the minimum parent-distance gap
# macroscopic, so the closed-form argmin is float-robust.
_PYRAMID_JITTER = (0.2137236534, 0.1467115361)


def hex_pyramid_grids(
    base_width: float,
    levels: int,
    extent: tuple[float, float, float, float],
) -> list[HexGrid]:
    """The pyramid's per-level grids: width doubles each level; levels
    >= 1 anchor at extent shifted by the incommensurate jitter."""
    grids = []
    for lv in range(levels):
        w = base_width * (2 ** lv)
        ox = 0.0 if lv == 0 else w * _PYRAMID_JITTER[0]
        oy = 0.0 if lv == 0 else w * _PYRAMID_JITTER[1]
        # center_x0 anchors at min_x, center_y0 at max_y — jitter the
        # anchoring edges
        grids.append(HexGrid(w, extent[0] - ox, extent[1],
                             extent[2], extent[3] + oy))
    return grids


def hex_pyramid(
    df: DataFrame,
    base_width: float,
    levels: int = 3,
    x: str = "x",
    y: str = "y",
    extent: tuple[float, float, float, float] | None = None,
) -> tuple[DataFrame, list[HexGrid]]:
    """H3-style hierarchical hex index: an aperture-4 pyramid of the
    staggered hex lattice (hex width doubles per level, shared extent),
    with parent lookup by the h3ToParent convention — a cell's parent
    is the level+1 hex containing the CELL CENTER (points near hex
    edges may individually bin to a neighbouring parent, exactly as in
    H3; the pyramid is an index, not a partition refinement proof).

    Output: one row per occupied (level, hex_row, hex_col) with
    n_points and (parent_row, parent_col) — NULL at the top level.

    Scale shape: all per-point level assignments are ONE codegen
    projection (the same closed-form 6-candidate argmin as hex_bin, no
    shuffle), the rollup is ONE uniform groupBy on (level, row, col),
    and parents are computed per DISTINCT CELL after aggregation —
    closed form again, never a join. At 10^12 points this is a single
    scan + a single cells-sized shuffle for the whole pyramid.
    """
    if levels < 1:
        raise ValueError("levels must be >= 1")
    if extent is None:
        r = df.agg(F.min(x).alias("a"), F.max(x).alias("b"),
                   F.min(y).alias("c"), F.max(y).alias("d")).collect()[0]
        extent = (r["a"], r["b"], r["c"], r["d"])
    grids = hex_pyramid_grids(base_width, levels, extent)
    per_level = ", ".join(
        f"STRUCT(CAST({lv} AS BIGINT) AS level, "
        f"{hex_assign_exprs(g, x, y)} AS h)"
        for lv, g in enumerate(grids)
    )
    assigned = df.selectExpr(f"EXPLODE(ARRAY({per_level})) AS __e")
    counts = (
        assigned.selectExpr("__e.level AS level",
                            "__e.h.hex_row AS hex_row",
                            "__e.h.hex_col AS hex_col")
        .groupBy("level", "hex_row", "hex_col")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    branches = []
    for lv in range(levels - 1):
        pcx, pcy = grids[lv].center_exprs("hex_row", "hex_col")
        pas = hex_assign_exprs(grids[lv + 1], pcx, pcy)
        branches.append(f"WHEN level = {lv} THEN {pas}")
    parent = ("CASE " + " ".join(branches) + " ELSE NULL END") if branches \
        else "NULL"
    return (
        counts.selectExpr(
            "level", "hex_row", "hex_col",
            f"({parent}).hex_row AS parent_row",
            f"({parent}).hex_col AS parent_col",
            "n_points",
        ),
        grids,
    )


def hex_polyfill(
    spark,
    polygons: DataFrame,
    width: float,
    extent: tuple[float, float, float, float],
) -> DataFrame:
    """H3-polyfill equivalent: the hex cells of the staggered lattice
    covering each polygon, by H3's center-in-polygon convention (a cell
    belongs to the polygon iff its CENTER is inside — even-odd, holes
    subtracted, boundary outside, matching the engine's PIP rule).

    Plan: the lattice is ENUMERATED from a range (no input scan at
    all), centers come from the closed-form lattice exprs, and the
    per-polygon winding predicates compile INTO the projection exactly
    like the broadcast pip_join codegen plan — zero shuffle, zero
    joins; output is bounded by the covered cells. For beyond-broadcast
    polygon layers use points_in_polygons_cellcover over the
    materialized centers instead (same dispatch rule as pip_join).

    Output: (polygon_id, hex_row, hex_col), one row per covered cell.
    """
    from .pip_join import _rings, collect_polygons
    from ..functions import geometry_sql as GS

    grid = HexGrid(width, extent[0], extent[1], extent[2], extent[3])
    nrows = grid.rows + 2
    ncols = max(grid.cols_in_row(0), grid.cols_in_row(1)) + 2
    base = spark.range(nrows * ncols).selectExpr(
        f"CAST(id DIV {ncols} AS BIGINT) - 1 AS hex_row",
        f"CAST(id % {ncols} AS BIGINT) - 1 AS hex_col",
    )
    cx, cy = grid.center_exprs("hex_row", "hex_col")
    recs = collect_polygons(polygons)
    arms = ", ".join(
        f"IF({GS.inside_feature_sql(*_rings(r), xs=cx, ys=cy, bbox=r.bbox)}, "
        f"CAST({r.polygon_id} AS BIGINT), NULL)"
        for r in recs
    )
    return (
        base.withColumn(
            "polygon_id",
            F.explode(F.expr(f"FILTER(ARRAY({arms}), v -> v IS NOT NULL)")),
        )
        .select("polygon_id", "hex_row", "hex_col")
    )


def hex_kring(
    cells: DataFrame,
    k: int = 1,
    row_col: str = "hex_row",
    col_col: str = "hex_col",
) -> DataFrame:
    """H3 kRing / grid-disk equivalent: every cell within `k` hex steps
    of each input cell, with its exact hex distance. Pure INTEGER math:
    the staggered 'odd-rows-shifted-left' offset converts to axial
    coordinates (q = col - (row + parity)/2 — parity via a pmod so
    negative rows work; row + parity is always even, so the division is
    exact), the disk enumerates |dq|,|dr| <= k filtered by cube
    distance (|dq|+|dr|+|dq+dr|)/2 <= k, and neighbours convert back.
    One codegen explode per input cell — zero shuffle, zero joins, and
    an exact integer oracle.

    Output: (row_col, col_col, nbr_row, nbr_col, hex_dist); the cell
    itself appears with hex_dist 0.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    par = f"((({row_col}) % 2) + 2) % 2"
    q = f"(({col_col}) - (({row_col}) + {par}) DIV 2)"
    disk = (
        f"FILTER(FLATTEN(TRANSFORM(SEQUENCE(-{k}, {k}), dq -> "
        f"TRANSFORM(SEQUENCE(-{k}, {k}), dr -> STRUCT(dq AS dq, dr AS dr)))), "
        f"v -> (ABS(v.dq) + ABS(v.dr) + ABS(v.dq + v.dr)) DIV 2 <= {k})"
    )
    nrow = f"(({row_col}) + __d.dr)"
    npar = f"((({nrow}) % 2) + 2) % 2"
    ncol = f"({q} + __d.dq + (({nrow}) + {npar}) DIV 2)"
    return (
        cells.select(row_col, col_col, F.explode(F.expr(disk)).alias("__d"))
        .selectExpr(
            row_col, col_col,
            f"CAST({nrow} AS BIGINT) AS nbr_row",
            f"CAST({ncol} AS BIGINT) AS nbr_col",
            "CAST((ABS(__d.dq) + ABS(__d.dr) + ABS(__d.dq + __d.dr)) "
            "DIV 2 AS BIGINT) AS hex_dist",
        )
    )


def cell_compact(cells: DataFrame, cell_col: str = "cell_id",
                 levels: int = 6,
                 group_cols: list[str] | None = None) -> DataFrame:
    """S2 CellUnion::Normalize equivalent over the Morton quadtree
    (functions/cells.py ids — the north star's S2-style hierarchical
    index): a set of level-`levels` cells compacts into the minimal
    mixed-resolution cover — wherever all 4 siblings are present they
    collapse into their parent (id DIV 4, the 2-bit prefix property),
    recursively up to the root.

    Scale shape: `levels` rounds, each ONE groupBy on the parent id
    (map-side-partial count) + ONE anti-join keyed on the parent —
    uniformly distributed integer keys, and the frontier shrinks ~4x
    per round (only complete parents survive), so round r touches
    <= n/4^r cells. No driver action in the loop (lazy union chain,
    the bpe_train pattern).

    Output: (cell_id, level) with level in [0, levels] counted from
    the coarsest round (input leaves = `levels`); exact integer
    arithmetic end-to-end -> exact DuckDB oracle (unrolled per-level
    CTE chain, scripts/check_parity `cell_compact`).
    """
    gc = list(group_cols or [])
    finals = None
    # each round's frontier is PINNED (localCheckpoint, the bpe_train
    # pattern): the per-level output branches of the final union all
    # reference their frontier — without the pin every branch re-derives
    # the whole collapse prefix from the leaf scan (L+1 redundant input
    # scans; the round-1 plan audit showed 122 exchanges at levels=6).
    # Pinned frames total ~1.33x the leaf count (4x decay per round).
    cur = (cells.selectExpr(*gc, f"CAST({cell_col} AS BIGINT) AS cell_id")
           .distinct().localCheckpoint(eager=True))
    for lvl in range(levels, 0, -1):
        par = (cur.groupBy(*gc, F.expr("cell_id DIV 4").alias("__p"))
               .agg(F.count(F.lit(1)).alias("__n")))
        comp = par.where("__n = 4").select(*gc, "__p")
        done = (cur.withColumn("__p", F.expr("cell_id DIV 4"))
                .join(comp, gc + ["__p"], "left_anti")
                .select(*gc, "cell_id", F.lit(lvl).cast("int").alias("level")))
        finals = done if finals is None else finals.unionByName(done)
        cur = (comp.selectExpr(*gc, "__p AS cell_id")
               .localCheckpoint(eager=True))
    root = cur.select(*gc, "cell_id", F.lit(0).cast("int").alias("level"))
    return root if finals is None else finals.unionByName(root)


def cell_compact_oracle_sql(leaf_cte: str, leaf_col: str = "cell",
                            levels: int = 6,
                            group_cols: list[str] | None = None) -> str:
    """DuckDB replay: the identical per-level collapse, unrolled.
    `leaf_cte` must be a complete WITH prefix ending in a relation
    named `leaves` with the distinct leaf-cell column `leaf_col` (and
    the `group_cols`, e.g. polygon_id, when compaction is per-group)."""
    gc = list(group_cols or [])
    gpre = ("".join(f"{c}, " for c in gc))
    parts = [leaf_cte,
             f"c{levels} AS (SELECT DISTINCT {gpre}{leaf_col} AS cell "
             f"FROM leaves)"]
    sel = []
    for lvl in range(levels, 0, -1):
        on = " AND ".join([f"x.cell // 4 = y.p"]
                          + [f"x.{c} = y.{c}" for c in gc])
        xg = "".join(f"x.{c}, " for c in gc)
        parts.append(
            f"g{lvl} AS (SELECT {gpre}cell // 4 AS p, COUNT(*) AS n "
            f"FROM c{lvl} GROUP BY ALL)")
        parts.append(
            f"d{lvl} AS (SELECT {xg}x.cell AS cell_id, "
            f"CAST({lvl} AS INT) AS level "
            f"FROM c{lvl} x JOIN g{lvl} y ON {on} WHERE y.n < 4)")
        parts.append(
            f"c{lvl - 1} AS (SELECT {gpre}p AS cell FROM g{lvl} WHERE n = 4)")
        sel.append(f"SELECT {gpre}cell_id, level FROM d{lvl}")
    sel.append(f"SELECT {gpre}cell AS cell_id, CAST(0 AS INT) AS level "
               f"FROM c0")
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(sel)


def cell_uncompact(cover: DataFrame, levels: int = 6,
                   cell_col: str = "cell_id",
                   level_col: str = "level") -> DataFrame:
    """Inverse of cell_compact (S2 CellUnion::Denormalize to a fixed
    level): every cell of the mixed-resolution cover expands to its
    4^(levels - level) descendant leaves — ONE codegen SEQUENCE explode
    per row, zero shuffle. cell_uncompact(cell_compact(S)) == S exactly
    (the registry gates this round trip against the identity oracle)."""
    shift = f"(2 * ({levels} - {level_col}))"
    return cover.selectExpr(
        f"EXPLODE(SEQUENCE(SHIFTLEFT({cell_col}, {shift}), "
        f"SHIFTLEFT({cell_col} + 1, {shift}) - 1)) AS cell_id")


# ---------------------------------------------------------------------------
# S2 RegionCoverer equivalent: adaptive mixed-resolution quadtree cover
# of a polygon. Leaf (max_level) cells that INTERSECT the polygon form
# the superset cover (the RegionCoverer contract — every polygon point
# lies in some cover cell); cell_compact then collapses complete
# sibling quads, which reproduces exactly what a top-down
# subdivide-on-boundary coverer emits (interior regions coarsen,
# boundary cells stay at max_level).

def region_leaf_pred_sql(shells, holes, extent: tuple[float, float, float],
                         max_level: int) -> str:
    """Dialect-neutral SQL predicate over integer cell columns (ix, iy):
    does leaf cell [x0,x1]x[y0,y1] intersect the polygon region?

    Exact decomposition (planar, even-odd with holes): intersect iff
      (a) a polygon EDGE crosses or touches the cell rectangle
          (bbox-overlap AND NOT all-4-corners-strictly-one-side — the
          classic segment/AABB separating test), else the cell and the
          boundary are disjoint, so the cell is uniformly in or out:
      (b) a polygon VERTEX lies in the cell (catches geometry wholly
          interior to one cell — e.g. a hole or an entire polygon;
          vertex cells are precomputed in PYTHON as integer literals,
          no SQL float), or
      (c) the cell's lower-left corner is inside the region (shared
          winding text, functions/geometry_sql — decides the uniform
          case).
    All arithmetic is literal doubles + comparisons with text shared
    verbatim by the DuckDB oracle.
    """
    from ..functions import geometry_sql as GS

    ex, ey, size = extent
    n = 1 << max_level
    w = size / n
    x0 = f"({ex!r} + ix * {w!r})"
    y0 = f"({ey!r} + iy * {w!r})"
    x1 = f"({ex!r} + (ix + 1) * {w!r})"
    y1 = f"({ey!r} + (iy + 1) * {w!r})"

    sh = " OR ".join(GS.inside_ring_sql(r, xs=x0, ys=y0) for r in shells)
    corner = f"({sh})"
    if holes:
        ho = " OR ".join(GS.inside_ring_sql(r, xs=x0, ys=y0) for r in holes)
        corner = f"(({sh}) AND NOT ({ho}))"

    vcells = set()
    for ring in list(shells) + list(holes):
        for vx, vy in ring:
            vcells.add((min(max(int((vx - ex) // w), 0), n - 1),
                        min(max(int((vy - ey) // w), 0), n - 1)))
    vtx = " OR ".join(f"(ix = {a} AND iy = {b})" for a, b in sorted(vcells))

    def cross(ax, ay, bx, by):
        def d(px, py):
            return (f"(({(bx - ax)!r}) * (({py}) - ({ay!r})) - "
                    f"({(by - ay)!r}) * (({px}) - ({ax!r})))")
        ds = [d(x0, y0), d(x1, y0), d(x1, y1), d(x0, y1)]
        pos = " AND ".join(f"{e} > 0.0" for e in ds)
        neg = " AND ".join(f"{e} < 0.0" for e in ds)
        bb = (f"NOT ({max(ax, bx)!r} < {x0} OR {min(ax, bx)!r} > {x1} OR "
              f"{max(ay, by)!r} < {y0} OR {min(ay, by)!r} > {y1})")
        return f"({bb} AND NOT ({pos}) AND NOT ({neg}))"

    edges = " OR ".join(
        cross(a[0], a[1], b[0], b[1])
        for ring in list(shells) + list(holes)
        for a, b in zip(ring[:-1], ring[1:]))
    return f"(({edges}) OR ({vtx}) OR {corner})"


def _morton_unbiased_spark(ix: str, iy: str) -> str:
    from ..functions.cells import _spread_bits_sql

    return f"({_spread_bits_sql(ix)} | SHIFTLEFT({_spread_bits_sql(iy)}, 1))"


def region_cover(spark, polygons: DataFrame,
                 extent: tuple[float, float, float] = (0.0, 0.0, 1000.0),
                 max_level: int = 6) -> DataFrame:
    """S2 RegionCoverer equivalent on the Morton quadtree over the
    square `extent` (origin x, origin y, side): per polygon, the
    minimal mixed-resolution cell cover whose union contains the whole
    polygon region. Output: (polygon_id, cell_id, level) with
    cell_id the UNBIASED Morton interleave of the in-extent (ix, iy)
    at `level` (parent = id DIV 4).

    Plan: leaves are ENUMERATED from a range (4^max_level rows, no
    input scan — at a finer max_level enumerate per-polygon bboxes
    instead); every per-polygon intersect predicate compiles INTO one
    codegen projection (the hex_polyfill / broadcast-pip pattern), and
    the grouped cell_compact collapses quads in `max_level` rounds of
    shrinking groupBys. Beyond-broadcast layers: same dispatch rule as
    pip_join (cell-cover join on materialized leaf centers).
    """
    from .pip_join import _rings, collect_polygons

    n = 1 << max_level
    base = spark.range(n * n).selectExpr(
        f"CAST(id % {n} AS BIGINT) AS ix",
        f"CAST(id DIV {n} AS BIGINT) AS iy",
    )
    recs = collect_polygons(polygons)
    arms = ", ".join(
        f"IF({region_leaf_pred_sql(*_rings(r), extent, max_level)}, "
        f"CAST({r.polygon_id} AS BIGINT), NULL)"
        for r in recs
    )
    leaves = (
        base.withColumn(
            "polygon_id",
            F.explode(F.expr(f"FILTER(ARRAY({arms}), v -> v IS NOT NULL)")),
        )
        .selectExpr("polygon_id",
                    f"{_morton_unbiased_spark('ix', 'iy')} AS cell_id")
    )
    return cell_compact(leaves, levels=max_level,
                        group_cols=["polygon_id"])
