"""Deterministic fixture polygon layer + SQL-oracle generator for PIP.

Polygon shapes follow FIXTURES.md F3 (rect, triangle, holes, concave C,
the poly_ops.rs:186-255 unit-test polygons). Coordinates are exact
float literals so the DuckDB oracle and the Spark kernel consume
bit-identical doubles.

`winding_sql` emits, for a *fixed* ring, the even-odd crossing count as
a plain SQL expression — the same is_left arithmetic as
poly_ops.rs:21-72, term by term — so any fixture polygon has an exact
ANSI-SQL oracle without a spatial extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans.driver import local_frame

# ring = list[(x, y)], closed (first == last). Shells clockwise, holes
# counter-clockwise (WBT shapefile convention, geometry.rs:307-345).
FIXTURE_POLYGONS: list[dict] = [
    {
        "polygon_id": 1,
        "name": "rect",
        "parts": [
            {
                "is_hole": False,
                "ring": [(100.0, 100.0), (100.0, 250.0), (300.0, 250.0), (300.0, 100.0), (100.0, 100.0)],
            }
        ],
    },
    {
        "polygon_id": 2,
        "name": "triangle",
        "parts": [
            {
                "is_hole": False,
                "ring": [(400.0, 50.0), (500.0, 300.0), (650.0, 80.0), (400.0, 50.0)],
            }
        ],
    },
    {
        "polygon_id": 3,
        "name": "rect_with_hole",
        "parts": [
            {
                "is_hole": False,
                "ring": [(500.0, 500.0), (500.0, 900.0), (900.0, 900.0), (900.0, 500.0), (500.0, 500.0)],
            },
            {
                "is_hole": True,
                "ring": [(600.0, 600.0), (700.0, 600.0), (700.0, 800.0), (600.0, 800.0), (600.0, 600.0)],
            },
        ],
    },
    {
        "polygon_id": 4,
        "name": "concave_c",
        "parts": [
            {
                "is_hole": False,
                "ring": [
                    (50.0, 600.0), (50.0, 950.0), (350.0, 950.0), (350.0, 850.0),
                    (150.0, 850.0), (150.0, 700.0), (350.0, 700.0), (350.0, 600.0),
                    (50.0, 600.0),
                ],
            }
        ],
    },
    {
        # poly_ops.rs:186-196 unit-test triangle (0,0)-(10,0)-(5,10)
        # shifted into the concave-free SE corner at x+700, y+50.
        "polygon_id": 5,
        "name": "unit_test_triangle",
        "parts": [
            {
                "is_hole": False,
                "ring": [(700.0, 50.0), (705.0, 60.0), (710.0, 50.0), (700.0, 50.0)],
            }
        ],
    },
]


def _bbox(parts: list[dict]) -> dict:
    xs = [p[0] for part in parts for p in part["ring"]]
    ys = [p[1] for part in parts for p in part["ring"]]
    return {"xmin": min(xs), "ymin": min(ys), "xmax": max(xs), "ymax": max(ys)}


def polygon_rows(polys: list[dict]) -> list[dict]:
    """Feature rows (polygon_id, name, bbox, parts) for polygons in the
    FIXTURE_POLYGONS shape; a missing name is None."""
    return [
        {
            "polygon_id": p["polygon_id"],
            "name": p.get("name"),
            "bbox": _bbox(p["parts"]),
            "parts": [
                {
                    "part_idx": i,
                    "is_hole": part["is_hole"],
                    "ring": [{"x": v[0], "y": v[1]} for v in part["ring"]],
                }
                for i, part in enumerate(p["parts"])
            ],
        }
        for p in polys
    ]


POLYGONS_SCHEMA = (
    "polygon_id BIGINT, name STRING, "
    "bbox STRUCT<xmin: DOUBLE, ymin: DOUBLE, xmax: DOUBLE, ymax: DOUBLE>, "
    "parts ARRAY<STRUCT<part_idx: INT, is_hole: BOOLEAN, "
    "ring: ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>>"
)


def polygons_df(spark: SparkSession, polys: list[dict] | None = None) -> DataFrame:
    """Fixture polygons as the canonical features-table shape (SURVEY §1.2)."""
    polys = polys if polys is not None else FIXTURE_POLYGONS
    return local_frame(spark, polygon_rows(polys), POLYGONS_SCHEMA)


# ---------------------------------------------------------------------------
# SQL oracle generation (even-odd winding as portable SQL)
# ---------------------------------------------------------------------------


def winding_sql(ring: list[tuple[float, float]], x_sql: str = "x", y_sql: str = "y") -> str:
    """Even-odd inside-test for one fixed ring as a SQL boolean.

    Emits sum over edges of (+1 upward strictly-left crossings,
    -1 downward strictly-right crossings) — exactly poly_ops.rs:42-72 —
    then tests wn % 2 != 0. Boundary points get wn == 0 (outside).
    """
    terms = []
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        is_left = (
            f"(({x1!r} - {x0!r}) * (({y_sql}) - {y0!r})"
            f" - (({x_sql}) - {x0!r}) * ({y1!r} - {y0!r}))"
        )
        up = f"WHEN {y0!r} <= ({y_sql}) AND {y1!r} > ({y_sql}) AND {is_left} > 0.0 THEN 1"
        down = f"WHEN {y0!r} > ({y_sql}) AND {y1!r} <= ({y_sql}) AND {is_left} < 0.0 THEN -1"
        terms.append(f"CASE {up} {down} ELSE 0 END")
    wn = " + ".join(terms)
    return f"(({wn}) % 2 <> 0)"


def feature_pip_sql(poly: dict, x_sql: str = "x", y_sql: str = "y") -> str:
    """Containment SQL for one feature: in any shell AND in no hole."""
    shells = [winding_sql(p["ring"], x_sql, y_sql) for p in poly["parts"] if not p["is_hole"]]
    holes = [winding_sql(p["ring"], x_sql, y_sql) for p in poly["parts"] if p["is_hole"]]
    expr = "(" + " OR ".join(shells) + ")"
    if holes:
        expr += " AND NOT (" + " OR ".join(holes) + ")"
    return f"({expr})"
