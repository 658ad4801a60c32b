"""Hierarchical cell indexing (H3/S2-style) + WBT-parity grid keys.

Two key systems live here:

1. **FRS cells** — bit-for-bit replica of WhiteboxTools'
   FixedRadiusSearch2D binning (reference:
   whitebox-common/src/structures/fixed_radius_search.rs:46-95):
   ``inv_r = 1.0 / (radius * 0.5)``, ``cx = floor(x * inv_r)``,
   ``cy = floor(y * inv_r)`` (bin size = radius/2). These keys drive
   the 5x5-stencil radius search and the shell-expansion kNN join.

2. **Morton (Z-order) packed cell ids** — the "H3/S2-style" hierarchical
   int64 cell id required by the north rule: bits of (cx, cy) are
   interleaved so that the id of a parent cell at a coarser resolution
   is a *prefix* (``cell_id >> 2*k``).

All of this is pure column-expression SQL (whole-stage codegen, no
Python), generated as expression *strings* so the exact same arithmetic
can be embedded in the DuckDB oracle queries — double math is IEEE-754
deterministic when the expression tree is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# FRS grid keys (WBT parity)
# ---------------------------------------------------------------------------


def frs_cell_expr(coord_sql: str, radius: float) -> str:
    """SQL for one FRS bin index: floor(coord * (1/(radius*0.5))).

    Parity: fixed_radius_search.rs:66 (inv_r) and :81-84 (insert key).
    The expression is written exactly as WBT computes it — a multiply by
    the precomputed reciprocal, then floor — so results match bit-for-bit.
    Portable across Spark SQL and DuckDB.
    """
    inv_r = 1.0 / (radius * 0.5)
    return f"CAST(FLOOR(({coord_sql}) * {inv_r!r}) AS BIGINT)"


def with_frs_cells(
    df: DataFrame,
    radius: float,
    x: str = "x",
    y: str = "y",
    cx: str = "cx",
    cy: str = "cy",
) -> DataFrame:
    """Append FRS bin columns (cx, cy) for the given search radius."""
    return df.withColumn(cx, F.expr(frs_cell_expr(x, radius))).withColumn(
        cy, F.expr(frs_cell_expr(y, radius))
    )


# ---------------------------------------------------------------------------
# Morton / Z-order packing (hierarchical int64 cell id)
# ---------------------------------------------------------------------------

_MORTON_BIAS = 1 << 30  # supports signed 31-bit cell indices (62-bit id, sign-safe)


def _spread_bits_sql(v: str) -> str:
    """Interleave-ready bit spread of a 31-bit value into even bit slots.

    Classic magic-number spread; stays in int64 column arithmetic
    (whole-stage codegen, no UDF).
    """
    e = f"(CAST({v} AS BIGINT) & 2147483647)"
    e = f"(({e} | SHIFTLEFT({e}, 16)) & 281470681808895)"  # 0x0000FFFF0000FFFF
    e = f"(({e} | SHIFTLEFT({e}, 8)) & 71777214294589695)"  # 0x00FF00FF00FF00FF
    e = f"(({e} | SHIFTLEFT({e}, 4)) & 1085102592571150095)"  # 0x0F0F0F0F0F0F0F0F
    e = f"(({e} | SHIFTLEFT({e}, 2)) & 3689348814741910323)"  # 0x3333333333333333
    e = f"(({e} | SHIFTLEFT({e}, 1)) & 6148914691236517205)"  # 0x5555555555555555
    return e


def morton_expr(cx_sql: str, cy_sql: str) -> str:
    """SQL: pack two (biased) 32-bit cell indices into one Z-order int64."""
    bx = f"(({cx_sql}) + {_MORTON_BIAS})"
    by = f"(({cy_sql}) + {_MORTON_BIAS})"
    return f"({_spread_bits_sql(bx)} | SHIFTLEFT({_spread_bits_sql(by)}, 1))"


def morton_col(cx: Column | str, cy: Column | str) -> Column:
    cx_sql = cx if isinstance(cx, str) else cx._jc.toString()  # noqa: SLF001
    cy_sql = cy if isinstance(cy, str) else cy._jc.toString()  # noqa: SLF001
    return F.expr(morton_expr(cx_sql, cy_sql))


def parent_cell(cell_id: Column | str, levels_up: int) -> Column:
    """Coarser-resolution ancestor: drop 2 bits per level (prefix property)."""
    c = F.col(cell_id) if isinstance(cell_id, str) else cell_id
    return F.shiftright(c, 2 * levels_up)


def with_cell_id(
    df: DataFrame,
    radius: float,
    x: str = "x",
    y: str = "y",
    out: str = "cell_id",
) -> DataFrame:
    """FRS bins packed into one hierarchical Morton id."""
    return df.withColumn(
        out,
        F.expr(morton_expr(frs_cell_expr(x, radius), frs_cell_expr(y, radius))),
    )


# ---------------------------------------------------------------------------
# Neighbor stencils (the 5x5 search stencil + k-ring shells)
# ---------------------------------------------------------------------------


def neighbor_offsets(reach: int, ring_only: bool = False) -> list[tuple[int, int]]:
    """Offsets for a (2*reach+1)^2 block, or just its outer ring.

    reach=2 block = WBT's 25-cell dx/dy stencil
    (fixed_radius_search.rs:71-76); ring_only mirrors the shell-expansion
    iteration of knn_search (fixed_radius_search.rs:180-202:
    ``m.abs()==shell || n.abs()==shell``).
    """
    offs = []
    for dy in range(-reach, reach + 1):
        for dx in range(-reach, reach + 1):
            if ring_only and abs(dx) != reach and abs(dy) != reach:
                continue
            offs.append((dx, dy))
    return offs


def explode_neighbor_cells(
    df: DataFrame,
    reach: int = 2,
    cx: str = "cx",
    cy: str = "cy",
    ring_only: bool = False,
    out_cx: str = "ncx",
    out_cy: str = "ncy",
) -> DataFrame:
    """One row per (row, neighbor-cell) pair — the distributed form of
    "scan the 25 neighbor bins": generate the 25 keys on the probe side,
    then equi-join on (ncx, ncy) == build-side (cx, cy).

    Uses an inline array + explode; stays in codegen (no UDF, no shuffle
    by itself — the downstream equi-join shuffles once on the cell key).
    """
    offs = neighbor_offsets(reach, ring_only)
    pairs = ", ".join(
        f"STRUCT({cx} + ({dx}L) AS {out_cx}, {cy} + ({dy}L) AS {out_cy})" for dx, dy in offs
    )
    return df.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))")).select(
        "*", f"__n.{out_cx}", f"__n.{out_cy}"
    ).drop("__n")
