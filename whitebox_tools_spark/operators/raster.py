"""Raster <-> vector conversion + raster analytics as DataFrame plans.

Cells-table model (SURVEY §1.1): raster = (row:long, col:long,
value:double) + a broadcastable GridMeta. NoData is a sentinel double,
never SQL NULL (WBT equality semantics, whitebox-raster/src/lib.rs:1304).

Operators and their reference parity anchors:

- points_to_raster        data_tools/vector_points_to_raster.rs:402-530
                          (first/last/min/max/sum assign ops; first/last
                          are RECORD-ORDER dependent -> min_by/max_by on
                          record_num)
- polygons_to_raster      data_tools/vector_polygons_to_raster.rs:400-510
                          (bbox-clamped candidate cells, PIP at cell
                          centers, holes carved out per record, later
                          records overwrite earlier)
- raster_to_points        data_tools/raster_to_vector_points.rs
- extract_values_at_points gis_analysis/extract_raster_values_at_points.rs:253-255
- aggregate_raster        gis_analysis/aggregate_raster.rs:150-151
- zonal_statistics        math_stat_analysis/zonal_statistics.rs
- summary_stats           math_stat_analysis/raster_summary_stats.rs
- map_algebra             math_stat_analysis/{add,subtract,...}.rs
- reclass                 gis_analysis/reclass.rs (value ranges)
- z_scores                math_stat_analysis/zscores.rs
- cross_tabulation        math_stat_analysis/cross_tabulation.rs
- quantiles               math_stat_analysis/quantiles.rs
- histogram               math_stat_analysis/raster_histogram.rs

Scale shape: everything is groupBy/join on (row, col) int keys — hash
partitionable, AQE-coalesced, map-side partial aggregation; zero UDFs
except polygon rasterization's PIP refine (batched numpy).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions import geometry as G
from ..functions.raster_math import GridMeta
from ..plans.driver import local_frame

# ---------------------------------------------------------------------------
# Vector -> raster
# ---------------------------------------------------------------------------


def points_to_raster(
    points: DataFrame,
    meta: GridMeta,
    assign_op: str = "last",
    value_col: str = "value",
    record_col: str = "record_num",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """VectorPointsToRaster. assign_op in {first, last, min, max, sum}.

    first/last replicate the reference's record-order overwrite loop
    (vector_points_to_raster.rs:402-449) via min_by/max_by(record_num) —
    a deterministic aggregate, not a scan order.
    Output: (row, col, value) for cells that received points.
    """
    cells = points.select(
        F.expr(meta.row_from_y_expr(y)).alias("row"),
        F.expr(meta.col_from_x_expr(x)).alias("col"),
        F.col(value_col).alias("v"),
        F.col(record_col).alias("rn"),
    ).where(F.expr(meta.in_grid_pred("row", "col")))
    g = cells.groupBy("row", "col")
    if assign_op == "first":
        out = g.agg(F.expr("MIN_BY(v, rn)").alias("value"))
    elif assign_op == "last":
        out = g.agg(F.expr("MAX_BY(v, rn)").alias("value"))
    elif assign_op == "min":
        out = g.agg(F.min("v").alias("value"))
    elif assign_op == "max":
        out = g.agg(F.max("v").alias("value"))
    elif assign_op == "sum":
        out = g.agg(F.sum("v").alias("value"))
    else:
        raise ValueError(f"unknown assign_op: {assign_op}")
    return out


def polygons_to_raster(
    polygons: DataFrame,
    meta: GridMeta,
    value_col: str | None = None,
) -> DataFrame:
    """VectorPolygonsToRaster: cell centers inside a record's shell rings
    and not inside its hole rings get the record's value; overlapping
    records resolve to the LAST record (the reference's sequential
    overwrite, vector_polygons_to_raster.rs:400-510).

    Plan: per polygon, candidate (row, col) ranges come from the bbox
    (partition-pruning analog of the reference's row/col clamp); the
    explode stays columnar; PIP refine is batched numpy at cell centers
    (half-res coordinate formulas, lib.rs:728-742).

    value_col None -> value = polygon_id (FID rasterization).
    """
    from .pip_join import collect_polygons

    recs = collect_polygons(polygons)
    values = None
    if value_col is not None:
        values = {
            int(r["polygon_id"]): float(r[value_col])
            for r in polygons.select("polygon_id", value_col).collect()
        }
    sc = polygons.sparkSession.sparkContext
    bc = sc.broadcast([(r.polygon_id, r.bbox, r.shells, r.holes) for r in recs])

    # candidate cells: bbox -> clamped row/col ranges (codegen explode)
    cand = polygons.select("polygon_id", "bbox").selectExpr(
        "polygon_id",
        f"GREATEST(LEAST({meta.row_from_y_expr('bbox.ymax')}, {meta.rows - 1}L), 0L) AS r0",
        f"GREATEST(LEAST({meta.row_from_y_expr('bbox.ymin')}, {meta.rows - 1}L), 0L) AS r1",
        f"GREATEST(LEAST({meta.col_from_x_expr('bbox.xmin')}, {meta.columns - 1}L), 0L) AS c0",
        f"GREATEST(LEAST({meta.col_from_x_expr('bbox.xmax')}, {meta.columns - 1}L), 0L) AS c1",
    )
    cand = (
        cand.withColumn("row", F.explode(F.expr("SEQUENCE(r0, r1)")))
        .withColumn("col", F.explode(F.expr("SEQUENCE(c0, c1)")))
        .selectExpr(
            "polygon_id",
            "row",
            "col",
            f"{meta.x_from_col_expr('col')} AS cx",
            f"{meta.y_from_row_expr('row')} AS cy",
        )
    )

    schema = StructType(
        [
            StructField("row", LongType(), False),
            StructField("col", LongType(), False),
            StructField("polygon_id", LongType(), False),
        ]
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        geom = {pid: (shells, holes) for pid, _bb, shells, holes in bc.value}
        for pdf in batches:
            if pdf.empty:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            cx = pdf["cx"].to_numpy(dtype=np.float64)
            cy = pdf["cy"].to_numpy(dtype=np.float64)
            pid = pdf["polygon_id"].to_numpy()
            for p in np.unique(pid):
                sel = pid == p
                shells, holes = geom[int(p)]
                in_shell = np.zeros(sel.sum(), dtype=bool)
                for ring in shells:
                    in_shell |= G.points_in_polygon(cx[sel], cy[sel], ring)
                for ring in holes:
                    in_shell &= ~G.points_in_polygon(cx[sel], cy[sel], ring)
                keep[np.nonzero(sel)[0][in_shell]] = True
            out = pdf.loc[keep, ["row", "col", "polygon_id"]]
            yield out

    hits = cand.mapInPandas(refine, schema=schema)
    # last record wins on overlap
    out = hits.groupBy("row", "col").agg(F.max("polygon_id").alias("polygon_id"))
    if values is None:
        return out.withColumn("value", F.col("polygon_id").cast("double")).drop("polygon_id")
    mapping = F.create_map(*[F.lit(kv) for pair in values.items() for kv in pair])
    return out.withColumn("value", mapping[F.col("polygon_id")]).drop("polygon_id")


def lines_to_raster_hits(
    segments: DataFrame,
    meta: GridMeta,
    value_col: str = "value",
    record_col: str = "record_num",
) -> DataFrame:
    """The per-segment crossing cells of the VectorLinesToRaster
    rasterization, BEFORE the last-record-wins overwrite: one (row, col,
    v, rn) row per center-line crossing. Shared by lines_to_raster and
    the DEM-editing tools (RaiseWalls / FlattenLakes outline scans use
    the same crossing rule, raise_walls.rs / flatten_lakes.rs)."""
    r_hi = f"GREATEST(LEAST({meta.row_from_y_expr('LEAST(y1, y2)')}, {meta.rows - 1}L), 0L)"
    r_lo = f"GREATEST(LEAST({meta.row_from_y_expr('GREATEST(y1, y2)')}, {meta.rows - 1}L), 0L)"
    c_lo = f"GREATEST(LEAST({meta.col_from_x_expr('LEAST(x1, x2)')}, {meta.columns - 1}L), 0L)"
    c_hi = f"GREATEST(LEAST({meta.col_from_x_expr('GREATEST(x1, x2)')}, {meta.columns - 1}L), 0L)"
    y_r = meta.y_from_row_expr("r")
    x_c = meta.x_from_col_expr("c")
    x_prime = f"(x1 + (({y_r}) - y1) / (y2 - y1) * (x2 - x1))"
    y_prime = f"(y1 + (({x_c}) - x1) / (x2 - x1) * (y2 - y1))"
    base = segments.selectExpr(
        f"{record_col} AS rn", f"{value_col} AS v", "x1", "y1", "x2", "y2",
        f"{r_lo} AS r0", f"{r_hi} AS r1", f"{c_lo} AS c0", f"{c_hi} AS c1",
    )
    row_hits = base.selectExpr(
        "rn", "v",
        f"EXPLODE(FILTER(TRANSFORM(SEQUENCE(r0, r1), r -> "
        f"IF(({y_r}) >= LEAST(y1, y2) AND ({y_r}) <= GREATEST(y1, y2) AND y2 <> y1, "
        f"STRUCT(r AS row, {meta.col_from_x_expr(x_prime)} AS col), NULL)), "
        f"e -> e IS NOT NULL)) AS h",
    )
    col_hits = base.selectExpr(
        "rn", "v",
        f"EXPLODE(FILTER(TRANSFORM(SEQUENCE(c0, c1), c -> "
        f"IF(({x_c}) >= LEAST(x1, x2) AND ({x_c}) <= GREATEST(x1, x2) AND x2 <> x1, "
        f"STRUCT({meta.row_from_y_expr(y_prime)} AS row, c AS col), NULL)), "
        f"e -> e IS NOT NULL)) AS h",
    )
    hits = row_hits.unionByName(col_hits).selectExpr("h.row", "h.col", "v", "rn")
    return hits.where(F.expr(meta.in_grid_pred("row", "col")))


def lines_to_raster(
    segments: DataFrame,
    meta: GridMeta,
    value_col: str = "value",
    record_col: str = "record_num",
) -> DataFrame:
    """VectorLinesToRaster (data_tools/vector_lines_to_raster.rs:472-517):
    a cell is marked where a segment crosses its row center-line
    (y = get_y_from_row) or its column center-line (x = get_x_from_column);
    the crossing coordinate picks the column/row via the floor transform.
    Later records overwrite earlier (-> max_by(record)).

    Pure codegen: per segment, explode the clamped row/col span, keep
    center-lines between the endpoint ordinates, compute the crossing
    with the reference's exact interpolation expression.
    """
    hits = lines_to_raster_hits(segments, meta, value_col, record_col)
    return hits.groupBy("row", "col").agg(F.expr("MAX_BY(v, rn)").alias("value"))


def raster_to_points(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """RasterToVectorPoints: one point per valid (non-nodata) cell at the
    cell center (half-res formulas)."""
    return cells.where(F.col("value") != meta.nodata).selectExpr(
        f"{meta.x_from_col_expr('col')} AS x",
        f"{meta.y_from_row_expr('row')} AS y",
        "value",
    )


def extract_values_at_points(
    points: DataFrame, cells: DataFrame, meta: GridMeta, x: str = "x", y: str = "y"
) -> DataFrame:
    """ExtractRasterValuesAtPoints: derive (row, col) per point, then an
    equi-join against the cells table — no geometry at all
    (extract_raster_values_at_points.rs:253-255). Missing cells -> nodata."""
    p = points.withColumn("row", F.expr(meta.row_from_y_expr(y))).withColumn(
        "col", F.expr(meta.col_from_x_expr(x))
    )
    out = p.join(cells.select("row", "col", F.col("value").alias("__rv")), ["row", "col"], "left")
    return out.withColumn("raster_value", F.coalesce(F.col("__rv"), F.lit(meta.nodata))).drop(
        "__rv"
    )


# ---------------------------------------------------------------------------
# Raster aggregations
# ---------------------------------------------------------------------------


def aggregate_raster(cells: DataFrame, factor: int, agg: str = "mean") -> DataFrame:
    """AggregateRaster: downsample by integer factor with
    mean/sum/min/max/range (aggregate_raster.rs:150-151)."""
    g = cells.groupBy(
        (F.col("row") / factor).cast("long").alias("row"),
        (F.col("col") / factor).cast("long").alias("col"),
    )
    if agg == "mean":
        return g.agg(F.avg("value").alias("value"))
    if agg == "sum":
        return g.agg(F.sum("value").alias("value"))
    if agg == "min":
        return g.agg(F.min("value").alias("value"))
    if agg == "max":
        return g.agg(F.max("value").alias("value"))
    if agg == "range":
        return g.agg((F.max("value") - F.min("value")).alias("value"))
    raise ValueError(agg)


def zonal_statistics(data: DataFrame, zones: DataFrame) -> DataFrame:
    """ZonalStatistics: join data and zone rasters on (row, col), then
    per-zone mean/min/max/range/stdev/total. One shuffle for the join
    (both sides co-partitionable on (row, col)), one for the agg."""
    j = data.select("row", "col", F.col("value").alias("v")).join(
        zones.select("row", "col", F.col("value").alias("zone")), ["row", "col"], "inner"
    )
    return j.groupBy("zone").agg(
        F.count(F.lit(1)).alias("zone_count"),
        F.sum("v").alias("zone_total"),
        F.avg("v").alias("zone_mean"),
        F.min("v").alias("zone_min"),
        F.max("v").alias("zone_max"),
        (F.max("v") - F.min("v")).alias("zone_range"),
        F.stddev_pop("v").alias("zone_stdev"),
    )


def summary_stats(cells: DataFrame, meta: GridMeta | None = None) -> DataFrame:
    """RasterSummaryStats: global min/max/mean/total/stdev over valid cells."""
    df = cells
    if meta is not None:
        df = df.where(F.col("value") != meta.nodata)
    return df.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("value").alias("total"),
        F.avg("value").alias("mean"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.stddev_pop("value").alias("stdev"),
    )


def cross_tabulation(a: DataFrame, b: DataFrame) -> DataFrame:
    """CrossTabulation: contingency counts of co-located cell values."""
    j = a.select("row", "col", F.col("value").alias("value_a")).join(
        b.select("row", "col", F.col("value").alias("value_b")), ["row", "col"], "inner"
    )
    return j.groupBy("value_a", "value_b").agg(F.count(F.lit(1)).alias("n"))


def z_scores(cells: DataFrame) -> DataFrame:
    """ZScores: (v - mean) / stdev with global moments broadcast back
    (scalar subquery — no second scan of the big side at scale if the
    stats come from catalog metadata)."""
    stats = cells.agg(F.avg("value").alias("mu"), F.stddev_pop("value").alias("sigma"))
    return cells.crossJoin(F.broadcast(stats)).select(
        "row", "col", ((F.col("value") - F.col("mu")) / F.col("sigma")).alias("value")
    )


def quantiles(cells: DataFrame, num_quantiles: int = 4) -> DataFrame:
    """Quantiles: assign each cell its quantile bin — exact ntile over the
    (value, row, col) total order, computed with a DISTRIBUTED global
    row_number (range partition + per-partition window + broadcast
    offsets, plans/rank.py) instead of a single-reducer window; the
    ntile bucket is then a closed form of (rank, n): the first n%k
    buckets hold ceil(n/k) rows (Spark/DuckDB NTILE semantics)."""
    from ..plans.rank import global_row_number

    ranked, n = global_row_number(cells, ["value", "row", "col"], out="__rn")
    k = num_quantiles
    q, m = divmod(n, k)
    if q == 0:
        expr = "CAST(__rn AS INT)"
    else:
        cut = m * (q + 1)
        expr = (f"CAST(CASE WHEN __rn <= {cut} THEN ((__rn + {q}) DIV {q + 1}) "
                f"ELSE {m} + ((__rn - {cut} + {q - 1}) DIV {q}) END AS INT)")
    return ranked.selectExpr("row", "col", "value", f"{expr} AS quantile")


def histogram(cells: DataFrame, bin_width: float, origin: float = 0.0) -> DataFrame:
    """RasterHistogram: counts per value bin."""
    return (
        cells.select(
            (F.floor((F.col("value") - origin) / bin_width)).cast("long").alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cumulative_distribution(cells: DataFrame) -> DataFrame:
    """CumulativeDistribution: CDF transform. Distributed two-level plan
    (no single-reducer window): per-value counts, a range-partitioned
    prefix sum over the distinct values (plans/rank.py), then a join
    back on value — cume(v) = |{u <= v}| / n, the same integer ratio
    cume_dist() produces."""
    from ..plans.rank import ordered_prefix_sums

    n = cells.count()
    vc = cells.groupBy("value").agg(F.count(F.lit(1)).alias("__c"))
    cum = ordered_prefix_sums(vc, ["value"], ["__c"]).selectExpr(
        "value AS __v", f"__cum___c / {n} AS __cume"
    )
    return cells.join(cum, cells["value"] == F.col("__v")).select(
        "row", "col", F.col("__cume").alias("value")
    )


# ---------------------------------------------------------------------------
# Map algebra (zip joins on (row, col))
# ---------------------------------------------------------------------------

_BINOPS = {
    "add": "a.v + b.v",
    "subtract": "a.v - b.v",
    "multiply": "a.v * b.v",
    "divide": "a.v / b.v",
    "modulo": "a.v % b.v",
    "power": "POWER(a.v, b.v)",
    "min": "LEAST(a.v, b.v)",
    "max": "GREATEST(a.v, b.v)",
    "atan2": "ATAN2(a.v, b.v)",
    "equal_to": "CAST(a.v = b.v AS DOUBLE)",
    "not_equal_to": "CAST(a.v <> b.v AS DOUBLE)",
    "greater_than": "CAST(a.v > b.v AS DOUBLE)",
    "less_than": "CAST(a.v < b.v AS DOUBLE)",
}


def map_algebra(a: DataFrame, b: DataFrame, op: str) -> DataFrame:
    """Binary raster op: equi-join two cells tables on (row, col) and
    apply the arithmetic (math_stat_analysis/add.rs etc.). Raster-vs-
    constant dispatch is Catalyst constant folding — pass a literal via
    map_algebra_const instead."""
    expr = _BINOPS[op]
    return (
        a.select("row", "col", F.col("value").alias("v")).alias("a")
        .join(b.select("row", "col", F.col("value").alias("v")).alias("b"), ["row", "col"])
        .selectExpr("row", "col", f"({expr}) AS value")
    )


def map_algebra_const(a: DataFrame, op: str, const: float, const_side: str = "right") -> DataFrame:
    expr = _BINOPS[op]
    if const_side == "right":
        expr = expr.replace("b.v", repr(const)).replace("a.v", "value")
    else:
        expr = expr.replace("a.v", repr(const)).replace("b.v", "value")
    return a.selectExpr("row", "col", f"({expr}) AS value")


def mosaic(layers: list[DataFrame]) -> DataFrame:
    """Mosaic (image_analysis/mosaic.rs nearest/last semantics over
    aligned grids): later layers overwrite earlier where they overlap."""
    from functools import reduce

    stacked = [
        df.selectExpr("row", "col", "value AS v", f"{i} AS li")
        for i, df in enumerate(layers)
    ]
    u = reduce(lambda a, b: a.unionByName(b), stacked)
    return u.groupBy("row", "col").agg(F.expr("MAX_BY(v, li)").alias("value"))


def resample_nearest(cells: DataFrame, src: GridMeta, dst: GridMeta) -> DataFrame:
    """Resample (image_analysis/resample.rs, nearest-neighbour method):
    each destination cell reads the source cell containing its center."""
    from .knn import grid_cells_df

    dcells = grid_cells_df(cells.sparkSession, dst, qid="__q").selectExpr(
        "row AS drow", "col AS dcol", "x", "y"
    )
    mapped = dcells.selectExpr(
        "drow", "dcol",
        f"{src.row_from_y_expr('y')} AS row",
        f"{src.col_from_x_expr('x')} AS col",
    )
    out = mapped.join(cells, ["row", "col"], "left")
    return out.selectExpr("drow AS row", "dcol AS col",
                          f"COALESCE(value, {src.nodata!r}) AS value")


def histogram_equalization(cells: DataFrame, num_tones: int = 256) -> DataFrame:
    """HistogramEqualization (image_analysis/histogram_equalization.rs
    semantics): value -> floor(cdf * (tones-1)), cdf from the exact
    empirical distribution — distributed per-value CDF (see
    cumulative_distribution), no single-reducer window."""
    from ..plans.rank import ordered_prefix_sums

    n = cells.count()
    vc = cells.groupBy("value").agg(F.count(F.lit(1)).alias("__c"))
    cum = ordered_prefix_sums(vc, ["value"], ["__c"]).selectExpr(
        "value AS __v",
        f"CAST(FLOOR((__cum___c / {n}) * {num_tones - 1}) AS DOUBLE) AS __tone",
    )
    return cells.join(cum, cells["value"] == F.col("__v")).select(
        "row", "col", F.col("__tone").alias("value")
    )


def paired_t_test(a: DataFrame, b: DataFrame) -> DataFrame:
    """PairedSampleTTest (math_stat_analysis/paired_sample_t_test.rs):
    t = mean(d) / sqrt(var(d)/n) over per-cell differences, via exact
    moment sums (integer-valued inputs -> bit-deterministic)."""
    j = a.select("row", "col", F.col("value").alias("x")).join(
        b.select("row", "col", F.col("value").alias("y")), ["row", "col"], "inner"
    ).selectExpr("x - y AS d")
    return j.agg(
        F.count(F.lit(1)).alias("n"), F.sum("d").alias("s1"),
        F.sum(F.expr("d * d")).alias("s2"),
    ).selectExpr(
        "n",
        "s1 / n AS mean_diff",
        "(s1 / n) / SQRT((s2 - s1 * s1 / n) / (n - 1) / n) AS t_stat",
    )


def ks_test(a: DataFrame, b: DataFrame) -> DataFrame:
    """TwoSampleKsTest statistic (math_stat_analysis/two_sample_ks_test.rs):
    D = max |ECDF_a - ECDF_b| over the combined sample — exact count
    ratios, bit-deterministic."""
    from ..plans.rank import ordered_prefix_sums

    na = a.count()
    nb = b.count()
    u = a.selectExpr("value AS v", "1L AS ia", "0L AS ib").unionByName(
        b.selectExpr("value AS v", "0L AS ia", "1L AS ib")
    )
    # per-value totals, then a distributed prefix sum over the distinct
    # values (ECDF at the last row of each tie group) — no global window
    g = u.groupBy("v").agg(F.sum("ia").alias("ia"), F.sum("ib").alias("ib"))
    cum = ordered_prefix_sums(g, ["v"], ["ia", "ib"])
    return cum.selectExpr(
        f"ABS(__cum_ia / {na} - __cum_ib / {nb}) AS d"
    ).agg(F.max("d").alias("ks_d"))


def list_unique_values(cells: DataFrame) -> DataFrame:
    """ListUniqueValues: distinct cell values with counts
    (math_stat_analysis/list_unique_values.rs)."""
    return cells.groupBy("value").agg(F.count(F.lit(1)).alias("n"))


def raster_area(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """RasterArea (gis_analysis/raster_area.rs): area per class value
    (cell count x cell area)."""
    cell_area = meta.resolution_x * meta.resolution_y
    return cells.groupBy("value").agg(
        F.expr(f"CAST(COUNT(*) AS DOUBLE) * {cell_area!r}").alias("area")
    )


def z_scores_exact(cells: DataFrame) -> DataFrame:
    """ZScores via explicit moment sums (zscores.rs semantics).

    mu = S1/n, sigma = sqrt(S2/n - mu^2). With integer-valued cell
    values the sums are exact in any aggregation order, making the
    result bit-deterministic — unlike stddev_pop's merge-order-dependent
    streaming update (z_scores keeps that form for float rasters).
    """
    stats = cells.agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s1"),
        F.sum(F.expr("value * value")).alias("s2"),
    )
    return cells.crossJoin(F.broadcast(stats)).selectExpr(
        "row", "col",
        "(value - s1 / n) / SQRT(s2 / n - (s1 / n) * (s1 / n)) AS value",
    )


def image_correlation(a: DataFrame, b: DataFrame) -> DataFrame:
    """ImageCorrelation: Pearson r between co-located cells
    (math_stat_analysis/image_correlation.rs), via exact product sums:
    r = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2))."""
    j = a.select("row", "col", F.col("value").alias("x")).join(
        b.select("row", "col", F.col("value").alias("y")), ["row", "col"], "inner"
    )
    return j.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"), F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("x * y")).alias("sxy"),
    ).selectExpr(
        "n",
        "(n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) AS pearson_r"
    )


def root_mean_square_error(a: DataFrame, b: DataFrame) -> DataFrame:
    """RootMeanSquareError between two rasters
    (math_stat_analysis/root_mean_square_error.rs)."""
    j = a.select("row", "col", F.col("value").alias("x")).join(
        b.select("row", "col", F.col("value").alias("y")), ["row", "col"], "inner"
    )
    return j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("(x - y) * (x - y)")).alias("sse"),
    ).selectExpr("n", "SQRT(sse / n) AS rmse")


def kappa_index(a: DataFrame, b: DataFrame) -> DataFrame:
    """KappaIndex of agreement between two categorical rasters
    (math_stat_analysis/kappa_index.rs): kappa =
    (p_observed - p_expected) / (1 - p_expected) from the contingency
    table; all terms are exact integer-count ratios."""
    j = a.select("row", "col", F.col("value").alias("ca")).join(
        b.select("row", "col", F.col("value").alias("cb")), ["row", "col"], "inner"
    ).persist()
    n = j.count()
    agree = j.where("ca = cb").count()
    marg = (
        j.groupBy("ca").agg(F.count(F.lit(1)).alias("na"))
        .join(j.groupBy("cb").agg(F.count(F.lit(1)).alias("nb")),
              F.col("ca") == F.col("cb"), "inner")
        .agg(F.sum(F.expr("na * nb")).alias("cross"))
        .collect()[0]["cross"]
    ) or 0
    j.unpersist()
    spark = a.sparkSession
    # Degenerate guards (empty overlap, or pe == 1 when both rasters are a
    # single identical class): emit NULL kappa rather than raising, matching
    # the NULLIF convention used by the SQL oracle.
    po = agree / n if n else None
    pe = marg / (n * n) if n else None
    kappa = (
        (po - pe) / (1.0 - pe)
        if po is not None and pe is not None and pe != 1.0
        else None
    )
    return local_frame(
        spark, [(n, po, pe, kappa)],
        "n bigint, p_observed double, p_expected double, kappa double",
    )


def reclass(cells: DataFrame, ranges: list[tuple[float, float, float]]) -> DataFrame:
    """Reclass with (new_value, lower-inclusive, upper-exclusive) ranges
    (gis_analysis/reclass.rs semantics); unmatched values pass through."""
    expr = F.col("value")
    for new_v, lo, hi in reversed(ranges):
        expr = F.when((F.col("value") >= lo) & (F.col("value") < hi), F.lit(new_v)).otherwise(expr)
    return cells.select("row", "col", expr.alias("value"))


# ---------------------------------------------------------------------------
# NoData utilities + cell assignment (data_tools/*.rs one-liners:
# is_nodata.rs, update_nodata_cells.rs, convert_nodata_to_zero.rs,
# set_nodata_value.rs, raster_cell_assignment.rs, new_raster_from_base.rs
# create_plane semantics from gis_analysis/create_plane.rs)
# ---------------------------------------------------------------------------


def is_nodata(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """IsNoData: 1.0 where value equals the nodata sentinel else 0.0."""
    return cells.selectExpr(
        "row", "col",
        f"CAST(CASE WHEN value = {meta.nodata!r} THEN 1.0 ELSE 0.0 END AS DOUBLE) AS value",
    )


def update_nodata_cells(a: DataFrame, b: DataFrame, meta: GridMeta) -> DataFrame:
    """UpdateNodataCells: a's nodata cells take b's value (b nodata stays)."""
    bb = b.selectExpr("row", "col", "value AS bv")
    return a.join(bb, ["row", "col"], "left").selectExpr(
        "row", "col",
        f"CASE WHEN value = {meta.nodata!r} THEN COALESCE(bv, {meta.nodata!r}) "
        f"ELSE value END AS value",
    )


def convert_nodata_to_zero(cells: DataFrame, meta: GridMeta) -> DataFrame:
    return cells.selectExpr(
        "row", "col",
        f"CASE WHEN value = {meta.nodata!r} THEN 0.0 ELSE value END AS value",
    )


def set_nodata_value(cells: DataFrame, back_value: float, meta: GridMeta) -> DataFrame:
    """SetNodataValue: cells equal to back_value become the nodata sentinel."""
    return cells.selectExpr(
        "row", "col",
        f"CASE WHEN value = {back_value!r} THEN {meta.nodata!r} ELSE value END AS value",
    )


def random_field(spark, meta: GridMeta, seed: int = 1) -> DataFrame:
    """RandomField (math_stat_analysis/random_field.rs): an i.i.d.
    standard-normal value per cell. The reference draws from an
    entropy-seeded SmallRng (nondeterministic by design); this engine
    derives the stream from a per-cell LCG (glibc constants) +
    Box-Muller so runs are reproducible and oracle-portable: every
    arithmetic step is integer mod / one LN / one COS."""
    rows = spark.range(meta.rows).selectExpr("id AS row")
    cols = spark.range(meta.columns).selectExpr("id AS col")
    grid = rows.crossJoin(cols)
    # PMOD 2^31: the LCG state space is 2^31 anyway, and the reduced id
    # keeps `cid * 2 + seed` (and the lcg multiply) inside int64 for
    # rasters beyond 2^31 cells (ANSI overflow-proof); identity below 2^31.
    cid = f"PMOD(row * {meta.columns}L + col, 2147483648L)"

    def lcg(k: str) -> str:
        # PMOD 2^31 BEFORE the multiply keeps the intermediate below
        # 2^31 * 1103515245 < 2^62 at ANY raster size — without it,
        # cells beyond ~2^32 overflow int64 and raise under
        # spark.sql.ansi.enabled (the Spark 4 default). For cells below
        # 2^31 the reduced key equals the raw key, so small-grid values
        # (and the DuckDB oracle) are unchanged.
        return f"((PMOD({k}, 2147483648L) * 1103515245L + 12345L) % 2147483648L)"

    s1 = lcg(f"({cid} * 2L + {int(seed)}L)")
    s2 = lcg(f"({cid} * 2L + {int(seed)}L + 1L)")
    u1 = f"((CAST({s1} AS DOUBLE) + 1.0) / 2147483649.0)"
    u2 = f"(CAST({s2} AS DOUBLE) / 2147483648.0)"
    tau = 2.0 * math.pi
    return grid.selectExpr(
        "row", "col",
        f"SQRT(-2.0 * LN({u1})) * COS({tau!r} * {u2}) AS value")


def random_sample(cells: DataFrame, meta: GridMeta, num_samples: int = 1000,
                  seed: int = 7) -> DataFrame:
    """RandomSample (math_stat_analysis/random_sample.rs): num_samples
    distinct valid cells get unique ids 1..n; everything else is
    background. Deterministic variant of the reference's entropy-seeded
    draw: cells are keyed by a per-cell LCG and the lowest num_samples
    keys win (top-k — a TakeOrdered, no global sort); ids follow key
    order. Only sampled cells are emitted."""
    # PMOD 2^31 before the LCG multiply: ANSI overflow-proof at any
    # raster size, identity (same keys) below 2^31 cells.
    cid = f"(row * {meta.columns}L + col)"
    key = (f"((PMOD({cid} + {int(seed)}L, 2147483648L) * 1103515245L "
           f"+ 12345L) % 2147483648L)")
    topk = (cells.selectExpr("row", "col", f"{key} AS __k")
            .orderBy("__k", "row", "col").limit(int(num_samples)))
    w = Window.orderBy("__k", "row", "col")
    return topk.withColumn("value", F.row_number().over(w).cast("double")) \
               .select("row", "col", "value")


def raster_cell_assignment(cells: DataFrame, meta: GridMeta, what: str) -> DataFrame:
    """RasterCellAssignment: value = row | column | x | y of each cell."""
    expr = {
        "row": "CAST(row AS DOUBLE)",
        "column": "CAST(col AS DOUBLE)",
        "x": meta.x_center_expr("col"),
        "y": meta.y_center_expr("row"),
    }[what]
    return cells.selectExpr("row", "col", f"{expr} AS value")


def create_plane(spark, meta: GridMeta, gradient: float = 15.0,
                 aspect: float = 90.0, constant: float = 0.0) -> DataFrame:
    """CreatePlane (gis_analysis/create_plane.rs): z = tan(gradient) *
    (sin(aspect)*x + cos(aspect)*y) + constant over cell centers."""
    import math as _m

    asp = aspect % 360.0
    tan_g = _m.tan(_m.radians(gradient))
    sin_a = _m.sin(_m.radians(asp))
    cos_a = _m.cos(_m.radians(asp))
    rows = spark.range(meta.rows).selectExpr("id AS row")
    cols = spark.range(meta.columns).selectExpr("id AS col")
    grid = rows.crossJoin(cols)
    x = meta.x_center_expr("col")
    y = meta.y_center_expr("row")
    # trig folded in Python: SQL TAN/SIN would be libm-dependent per engine
    return grid.selectExpr(
        "row", "col",
        f"({tan_g!r} * ({sin_a!r} * ({x}) + {cos_a!r} * ({y})) + {constant!r}) AS value",
    )


def find_lowest_or_highest_points(cells: DataFrame, meta: GridMeta,
                                  out_type: str = "both") -> DataFrame:
    """FindLowestOrHighestPoints (gis_analysis/
    find_lowest_or_highest_points.rs): the min and/or max cell as vector
    points (x, y, value); ties resolve to row-major scan order."""
    picks = []
    if out_type in ("lowest", "both"):
        picks.append(("lowest", "MIN_BY(STRUCT(row, col, value), STRUCT(value, row, col))"))
    if out_type in ("highest", "both"):
        picks.append(("highest", "MIN_BY(STRUCT(row, col, value), STRUCT(-value, row, col))"))
    aggs = [F.expr(e).alias(n) for n, e in picks]
    agg = cells.agg(*aggs)
    outs = []
    for n, _e in picks:
        outs.append(agg.selectExpr(
            f"'{n}' AS kind",
            f"{meta.x_center_expr(f'{n}.col')} AS x",
            f"{meta.y_center_expr(f'{n}.row')} AS y",
            f"{n}.value AS value",
        ))
    from functools import reduce

    return reduce(lambda x, y: x.unionByName(y), outs)


# ---------------------------------------------------------------------------
# Statistical tools (math_stat_analysis/anova.rs,
# wilcoxon_signed_rank_test.rs, trend_surface.rs,
# principal_component_analysis.rs — SQL-fold plans, integer-exact
# moment sums so every engine agrees bit-for-bit)
# ---------------------------------------------------------------------------


def anova(values: DataFrame, zones: DataFrame) -> DataFrame:
    """One-way ANOVA of raster values grouped by a zone raster
    (math_stat_analysis/anova.rs): F = (SSB/(k-1)) / (SSW/(n-k))."""
    j = values.selectExpr("row", "col", "value AS x").join(
        zones.selectExpr("row", "col", "value AS zone"), ["row", "col"]
    )
    g = j.groupBy("zone").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s1"),
        F.sum(F.expr("x * x")).alias("s2"),
    )
    return g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("n"),
        F.sum("s1").alias("ts1"),
        F.sum("s2").alias("ts2"),
        F.sum(F.expr("s1 * s1 / n")).alias("sgroup"),
    ).selectExpr(
        "CAST(k AS BIGINT) AS k",
        "CAST(n AS BIGINT) AS n",
        "(sgroup - ts1 * ts1 / n) AS ss_between",
        "(ts2 - sgroup) AS ss_within",
        # NULLIF guards keep degenerate samples (single zone -> k=1, or
        # n=k one-cell zones) at NULL instead of an ANSI DIVIDE_BY_ZERO
        # abort; the DuckDB oracle uses the identical NULLIF so both
        # engines agree on the degenerate case.
        "((sgroup - ts1 * ts1 / n) / NULLIF(k - 1, 0)) "
        "/ NULLIF((ts2 - sgroup) / NULLIF(n - k, 0), 0.0) AS f_stat",
    )


def wilcoxon_signed_rank(a: DataFrame, b: DataFrame) -> DataFrame:
    """Wilcoxon signed-rank W+/W- and z over paired cells
    (math_stat_analysis/wilcoxon_signed_rank_test.rs): drop zero diffs,
    mid-ranks of |d| (average rank over ties), W = min(W+, W-),
    z = (W - mu_W) / sigma_W. Ranking is the DISTRIBUTED prefix-sum
    plan (plans/rank.py), not a single-reducer window."""
    from ..plans.rank import ordered_prefix_sums

    d = a.selectExpr("row", "col", "value AS x").join(
        b.selectExpr("row", "col", "value AS y"), ["row", "col"]
    ).selectExpr("x - y AS d").where("d <> 0.0")
    g = d.selectExpr("ABS(d) AS ad", "CASE WHEN d > 0.0 THEN 1L ELSE 0L END AS pos") \
         .groupBy("ad").agg(F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("npos"))
    cum = ordered_prefix_sums(g, ["ad"], ["cnt"])
    # mid-rank of a tie group ending at cumulative C with size m:
    # (C - m + 1 + C) / 2
    ranked = cum.selectExpr(
        "ad", "cnt", "npos",
        "(CAST(__cum_cnt - cnt + 1 AS DOUBLE) + CAST(__cum_cnt AS DOUBLE)) / 2.0 AS midrank",
    )
    return ranked.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.expr("midrank * npos")).alias("w_plus"),
        F.sum(F.expr("midrank * (cnt - npos)")).alias("w_minus"),
    ).selectExpr(
        "CAST(n AS BIGINT) AS n", "w_plus", "w_minus",
        "LEAST(w_plus, w_minus) AS w",
        "(LEAST(w_plus, w_minus) - CAST(n * (n + 1) AS DOUBLE) / 4.0) "
        "/ SQRT(CAST(n * (n + 1) AS DOUBLE) * CAST(2 * n + 1 AS DOUBLE) / 24.0) AS z_stat",
    )


def trend_surface(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """TrendSurface, 1st order (math_stat_analysis/trend_surface.rs):
    least-squares plane z = b0 + b1*x + b2*y over cell centers, output =
    fitted values. Normal equations solved by Cramer's rule over exact
    moment sums (x, y on the coordinate grid, z integer-valued -> all
    sums exact, both engines bit-agree)."""
    x = meta.x_center_expr("col")
    y = meta.y_center_expr("row")
    pts = cells.selectExpr("row", "col", f"{x} AS x", f"{y} AS y", "value AS z")
    m = pts.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"), F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("y * y")).alias("syy"), F.sum("z").alias("sz"),
        F.sum(F.expr("x * z")).alias("sxz"), F.sum(F.expr("y * z")).alias("syz"),
    )
    # NULLIF: degenerate (collinear / empty) samples give NULL coefficients
    # instead of an ANSI divide-by-zero abort; DuckDB returns NULL for x/0
    # natively so both engines agree, and for a full grid det != 0 so the
    # guard is the identity.
    det = ("NULLIF(n * (sxx * syy - sxy * sxy) - sx * (sx * syy - sxy * sy) "
           "+ sy * (sx * sxy - sxx * sy), 0.0)")
    b0 = (f"(sz * (sxx * syy - sxy * sxy) - sx * (sxz * syy - sxy * syz) "
          f"+ sy * (sxz * sxy - sxx * syz)) / {det}")
    b1 = (f"(n * (sxz * syy - sxy * syz) - sz * (sx * syy - sxy * sy) "
          f"+ sy * (sx * syz - sxz * sy)) / {det}")
    b2 = (f"(n * (sxx * syz - sxz * sxy) - sx * (sx * syz - sxz * sy) "
          f"+ sz * (sx * sxy - sxx * sy)) / {det}")
    coef = m.selectExpr(f"{b0} AS b0", f"{b1} AS b1", f"{b2} AS b2")
    return pts.crossJoin(F.broadcast(coef)).selectExpr(
        "row", "col", "(b0 + b1 * x + b2 * y) AS value"
    )


def trend_surface_vector_points(points: DataFrame, meta: GridMeta,
                                order: int = 1,
                                value_col: str = "value") -> DataFrame:
    """TrendSurfaceVectorPoints
    (math_stat_analysis/trend_surface_vector_points.rs): least-squares
    polynomial trend surface fitted to a vector point layer's attribute
    and evaluated over every cell of the output grid.

    order=1 solves the normal equations by the same Cramer's-rule SQL
    as trend_surface (exact moment sums -> bit-portable, oracle-gated).
    order>=2 builds the (x^i y^j) moment matrix from exact distributed
    sums, solves the small dense system with numpy on the driver
    (moment matrix is O(order^4) scalars — a fixed-size collect at any
    data scale), and evaluates the polynomial in SQL; gated by a
    numpy-lstsq pytest rather than a DuckDB oracle (LAPACK solve isn't
    SQL-replayable)."""
    pts = points.selectExpr("x", "y", f"{value_col} AS z")
    rows = points.sparkSession.range(meta.rows).selectExpr("id AS row")
    cols = points.sparkSession.range(meta.columns).selectExpr("id AS col")
    grid = rows.crossJoin(cols)
    gx = meta.x_center_expr("col")
    gy = meta.y_center_expr("row")
    if order == 1:
        m = pts.agg(
            F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"),
            F.sum("y").alias("sy"), F.sum(F.expr("x * x")).alias("sxx"),
            F.sum(F.expr("x * y")).alias("sxy"), F.sum(F.expr("y * y")).alias("syy"),
            F.sum("z").alias("sz"), F.sum(F.expr("x * z")).alias("sxz"),
            F.sum(F.expr("y * z")).alias("syz"),
        )
        det = ("NULLIF(n * (sxx * syy - sxy * sxy) - sx * (sx * syy - sxy * sy) "
               "+ sy * (sx * sxy - sxx * sy), 0.0)")
        b0 = (f"(sz * (sxx * syy - sxy * sxy) - sx * (sxz * syy - sxy * syz) "
              f"+ sy * (sxz * sxy - sxx * syz)) / {det}")
        b1 = (f"(n * (sxz * syy - sxy * syz) - sz * (sx * syy - sxy * sy) "
              f"+ sy * (sx * syz - sxz * sy)) / {det}")
        b2 = (f"(n * (sxx * syz - sxz * sxy) - sx * (sx * syz - sxz * sy) "
              f"+ sz * (sx * sxy - sxx * sy)) / {det}")
        coef = m.selectExpr(f"{b0} AS b0", f"{b1} AS b1", f"{b2} AS b2")
        return grid.crossJoin(F.broadcast(coef)).selectExpr(
            "row", "col", f"(b0 + b1 * {gx} + b2 * {gy}) AS value")
    import numpy as np
    terms = [(i, j) for t in range(order + 1)
             for i in range(t + 1) for j in [t - i]]
    k = len(terms)
    # exact distributed moment sums: A[p][q] = sum x^(ip+iq) y^(jp+jq),
    # rhs[p] = sum x^ip y^jp z
    exprs = []
    for p in range(k):
        for q in range(p, k):
            ip, jp = terms[p]
            iq, jq = terms[q]
            exprs.append(F.sum(F.expr(
                f"POW(x, {ip + iq}) * POW(y, {jp + jq})")).alias(f"a_{p}_{q}"))
    for p in range(k):
        ip, jp = terms[p]
        exprs.append(F.sum(F.expr(f"POW(x, {ip}) * POW(y, {jp}) * z"))
                     .alias(f"r_{p}"))
    mrow = pts.agg(*exprs).collect()[0]
    A = np.zeros((k, k))
    rhs = np.zeros(k)
    for p in range(k):
        for q in range(p, k):
            A[p, q] = A[q, p] = mrow[f"a_{p}_{q}"]
        rhs[p] = mrow[f"r_{p}"]
    coef, *_ = np.linalg.lstsq(A, rhs, rcond=None)
    poly = " + ".join(f"({c!r}) * POW({gx}, {i}) * POW({gy}, {j})"
                      for c, (i, j) in zip(coef, terms))
    return grid.selectExpr("row", "col", f"({poly}) AS value")


def pca_two_band(a: DataFrame, b: DataFrame) -> DataFrame:
    """PrincipalComponentAnalysis for two bands
    (math_stat_analysis/principal_component_analysis.rs semantics,
    correlation-matrix variant closed-form for k=2): eigenvalues
    (1 + r, 1 - r), components = (standardized a +- standardized b) /
    sqrt(2). Output: (row, col, pc1, pc2). All moments are exact sums."""
    j = a.selectExpr("row", "col", "value AS x").join(
        b.selectExpr("row", "col", "value AS y"), ["row", "col"]
    )
    m = j.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.expr("x * x")).alias("sxx"), F.sum(F.expr("y * y")).alias("syy"),
        F.sum(F.expr("x * y")).alias("sxy"),
    ).selectExpr(
        "sx / NULLIF(n, 0) AS mx", "sy / NULLIF(n, 0) AS my",
        # NULLIF: a constant band (sd = 0) yields NULL components instead of
        # an ANSI divide-by-zero abort; DuckDB oracle agrees via its own
        # NULL-on-zero-division semantics.
        "NULLIF(SQRT((sxx - sx * sx / n) / n), 0.0) AS sdx",
        "NULLIF(SQRT((syy - sy * sy / n) / n), 0.0) AS sdy",
        "((sxy - sx * sy / n) / n) AS cov",
    )
    return j.crossJoin(F.broadcast(m)).selectExpr(
        "row", "col",
        "((x - mx) / sdx + (y - my) / sdy) / SQRT(2.0) AS pc1",
        "((x - mx) / sdx - (y - my) / sdy) / SQRT(2.0) AS pc2",
    )


def principal_component_analysis(
    bands: list[DataFrame], standardized: bool = True,
    num_comp: int | None = None,
) -> tuple[DataFrame, list[dict]]:
    """PrincipalComponentAnalysis, arbitrary band count
    (math_stat_analysis/principal_component_analysis.rs: cross-band
    correlation — or covariance when not standardized — matrix,
    eigendecomposition, component images + an explained-variance
    report).

    Plan: ONE distributed aggregation computes every exact moment
    (sums, squares, cross-products — k(k+3)/2 + 1 scalars, the only
    driver-side data regardless of raster size); numpy eigh solves the
    k x k matrix on the driver; the projection is a pure codegen
    expression with the loadings folded in as literals — no Python in
    the per-cell path, one scan + one shuffle-free map over the joined
    bands.

    Deterministic conventions: components ordered by descending
    eigenvalue (ties by first-index eigvec order), each eigenvector's
    largest-|loading| entry made positive (ties: lowest band index).
    Returns (cells: row, col, pc1..pcm, report: [{component,
    eigenvalue, explained_pct, loadings}]).
    """
    k = len(bands)
    if k < 2:
        raise ValueError("principal_component_analysis needs >= 2 bands")
    j = bands[0].selectExpr("row", "col", "value AS b0")
    for i in range(1, k):
        j = j.join(bands[i].selectExpr("row", "col", f"value AS b{i}"),
                   ["row", "col"])
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(f"b{i}").alias(f"s{i}") for i in range(k)]
    aggs += [F.sum(F.expr(f"b{i} * b{l}")).alias(f"s{i}_{l}")
             for i in range(k) for l in range(i, k)]
    m = j.agg(*aggs).collect()[0]
    n = float(m["n"])
    means = np.array([m[f"s{i}"] / n for i in range(k)])
    cov = np.zeros((k, k))
    for i in range(k):
        for l in range(i, k):
            cov[i, l] = cov[l, i] = m[f"s{i}_{l}"] / n - means[i] * means[l]
    sd = np.sqrt(np.diag(cov))
    if standardized and not np.all(sd > 0.0):
        raise ValueError("standardized PCA needs non-constant bands")
    a_mat = cov / np.outer(sd, sd) if standardized else cov
    evals, evecs = np.linalg.eigh(a_mat)
    order = np.argsort(-evals, kind="stable")
    evals, evecs = evals[order], evecs[:, order]
    for c in range(k):
        imax = int(np.argmax(np.abs(evecs[:, c])))
        if evecs[imax, c] < 0.0:
            evecs[:, c] = -evecs[:, c]
    total = float(evals.sum())
    ncomp = k if num_comp is None else min(num_comp, k)
    report = [{
        "component": c + 1,
        "eigenvalue": float(evals[c]),
        "explained_pct": float(100.0 * evals[c] / total),
        "loadings": [float(v) for v in evecs[:, c]],
    } for c in range(ncomp)]
    exprs = ["row", "col"]
    for c in range(ncomp):
        std = [f"((b{i} - ({means[i]!r})) / ({sd[i]!r}))" if standardized
               else f"(b{i} - ({means[i]!r}))" for i in range(k)]
        terms = " + ".join(f"({evecs[i, c]!r}) * {std[i]}" for i in range(k))
        exprs.append(f"({terms}) AS pc{c + 1}")
    return j.selectExpr(*exprs), report


def resample_bilinear(cells: DataFrame, src: GridMeta, dst: GridMeta) -> DataFrame:
    """Resample (image_analysis/resample.rs bilinear method): each
    destination center interpolates the four surrounding source centers
    (edge-clamped). Pure join plan: 4 corner equi-joins on (row, col)."""
    from .knn import grid_cells_df

    dcells = grid_cells_df(cells.sparkSession, dst, qid="__q").selectExpr(
        "row AS drow", "col AS dcol", "x", "y"
    )
    # fractional source-grid position of the destination center
    gx = f"((x - {src.west!r}) / {src.resolution_x!r} - 0.5)"
    gy = f"(({src.north!r} - y) / {src.resolution_y!r} - 0.5)"
    staged = dcells.selectExpr(
        "drow", "dcol",
        f"GREATEST(LEAST(CAST(FLOOR({gx}) AS BIGINT), {src.columns - 2}L), 0L) AS c0",
        f"GREATEST(LEAST(CAST(FLOOR({gy}) AS BIGINT), {src.rows - 2}L), 0L) AS r0",
        f"GREATEST(LEAST({gx}, CAST({src.columns - 1} AS DOUBLE)), 0.0) AS fx",
        f"GREATEST(LEAST({gy}, CAST({src.rows - 1} AS DOUBLE)), 0.0) AS fy",
    ).selectExpr("drow", "dcol", "c0", "r0", "fx - c0 AS tx", "fy - r0 AS ty")

    def corner(df, dr, dc, name):
        c = cells.selectExpr(f"row AS __r_{name}", f"col AS __c_{name}",
                             f"value AS {name}")
        return df.join(
            c,
            (F.expr(f"r0 + {dr}") == F.col(f"__r_{name}"))
            & (F.expr(f"c0 + {dc}") == F.col(f"__c_{name}")),
            "left",
        ).drop(f"__r_{name}", f"__c_{name}")

    j = corner(staged, 0, 0, "v00")
    j = corner(j, 0, 1, "v01")
    j = corner(j, 1, 0, "v10")
    j = corner(j, 1, 1, "v11")
    return j.selectExpr(
        "drow AS row", "dcol AS col",
        "(v00 * (1.0 - tx) * (1.0 - ty) + v01 * tx * (1.0 - ty) "
        "+ v10 * (1.0 - tx) * ty + v11 * tx * ty) AS value",
    )


def hypsometric_analysis(cells: DataFrame, num_bins: int = 10) -> DataFrame:
    """HypsometricAnalysis (terrain_analysis/hypsometric_analysis.rs
    semantics): the hypsometric curve — for each relative-elevation
    class boundary, the proportion of area with elevation ABOVE it.
    Pure counting against broadcast global min/max (integer ratios,
    oracle-exact)."""
    stats = cells.agg(F.min("value").alias("__lo"), F.max("value").alias("__hi"),
                      F.count(F.lit(1)).alias("__n"))
    b = cells.crossJoin(F.broadcast(stats))
    rows = []
    for i in range(num_bins + 1):
        t = i / num_bins
        rows.append(
            f"STRUCT(CAST({i} AS INT) AS bin, CAST({t!r} AS DOUBLE) AS rel_elev, "
            f"CAST(CASE WHEN value > __lo + {t!r} * (__hi - __lo) THEN 1 ELSE 0 END AS LONG) AS above)"
        )
    exploded = b.selectExpr("__n", f"EXPLODE(ARRAY({', '.join(rows)})) AS s") \
                .selectExpr("__n", "s.bin AS bin", "s.rel_elev AS rel_elev",
                            "s.above AS above")
    return exploded.groupBy("bin", "rel_elev").agg(
        F.expr("SUM(above) / FIRST(__n)").alias("rel_area_above"))


def mosaic_with_feathering(a: DataFrame, b: DataFrame, meta: GridMeta,
                           power: float = 4.0) -> DataFrame:
    """MosaicWithFeathering (image_analysis/mosaic_with_feathering.rs
    semantics) for two overlapping images on a common grid: in the
    overlap each image's weight is its distance-to-own-edge raised to
    `power`, w = d1^p / (d1^p + d2^p); outside the overlap the covering
    image wins. Distances come from the exact separable EDT (integer
    dist2), and an integer `power` keeps the weights engine-exact."""
    from .distance import euclidean_distance

    def edge_dist(img: DataFrame) -> DataFrame:
        # full-grid mask: 1 inside the image, 0 outside; distance of
        # inside cells to the nearest outside cell
        spark = img.sparkSession
        full = spark.range(meta.rows * meta.columns).selectExpr(
            f"id DIV {meta.columns} AS row", f"id % {meta.columns} AS col")
        mask = full.join(img.selectExpr("row", "col", "1.0 AS m"),
                         ["row", "col"], "left") \
                   .selectExpr("row", "col", "COALESCE(m, 0.0) AS value")
        return euclidean_distance(mask, meta, target_pred="value = 0.0")

    da = edge_dist(a).selectExpr("row", "col", "value AS d1")
    db = edge_dist(b).selectExpr("row", "col", "value AS d2")
    av = a.selectExpr("row", "col", "value AS v1")
    bv = b.selectExpr("row", "col", "value AS v2")
    p = int(power)
    wp = lambda d: " * ".join([d] * p) if p >= 1 else "1.0"
    j = (
        av.join(bv, ["row", "col"], "full")
        .join(da, ["row", "col"], "left").join(db, ["row", "col"], "left")
    )
    # An image that covers the ENTIRE grid has no outside cells, so its
    # EDT finds no targets and d comes back NULL: treat a NULL distance as
    # "infinitely interior" (weight 1 vs a finite edge distance; 0.5 when
    # both are edge-free) instead of propagating NULL into the blend.
    w1 = (f"CASE WHEN d1 IS NULL AND d2 IS NULL THEN 0.5 "
          f"WHEN d1 IS NULL THEN 1.0 WHEN d2 IS NULL THEN 0.0 "
          f"ELSE ({wp('d1')}) / (({wp('d1')}) + ({wp('d2')})) END")
    return j.selectExpr(
        "row", "col",
        f"CASE WHEN v1 IS NULL THEN v2 WHEN v2 IS NULL THEN v1 "
        f"ELSE v1 * ({w1}) + v2 * (1.0 - ({w1})) END AS value")


# ---------------------------------------------------------------------------
# Round-3: statistical-tests long tail
# (math_stat_analysis/{ks_test_for_normality,image_regression,
#  image_autocorrelation,attribute_correlation}.rs)
# ---------------------------------------------------------------------------


def ks_normality_test(cells: DataFrame) -> DataFrame:
    """KSTestForNormality (math_stat_analysis/ks_test_for_normality.rs
    semantics): D = max |ECDF(x) - Phi((x - mu) / sigma)| over the
    sample. Phi via the Abramowitz-Stegun 7.1.26 erf polynomial written
    as literal SQL (identical expression text in the DuckDB oracle;
    the final statistic is ROUND(4)-ed because EXP is libm territory).

    Plan: one moment pass, one per-distinct-value count + running-sum
    window (value domain, not cell domain), one max fold."""
    from pyspark.sql import Window

    m = cells.agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s1"),
        F.sum(F.expr("value * value")).alias("s2"),
    ).selectExpr("n", "s1 / n AS mu",
                 "SQRT((s2 - s1 * s1 / n) / n) AS sigma")
    g = cells.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.withColumn("cum", F.sum("cnt").over(w))
    j = cum.crossJoin(F.broadcast(m))
    zed = "((value - mu) / sigma)"
    t = f"(1.0 / (1.0 + 0.3275911 * ABS({zed}) / 1.4142135623730951))"
    poly = (f"({t} * (0.254829592 + {t} * (-0.284496736 + {t} * "
            f"(1.421413741 + {t} * (-1.453152027 + {t} * 1.061405429)))))")
    erf = f"(1.0 - {poly} * EXP(-({zed}) * ({zed}) / 2.0))"
    phi = (f"(CASE WHEN {zed} >= 0.0 THEN 0.5 * (1.0 + {erf}) "
           f"ELSE 0.5 * (1.0 - {erf}) END)")
    d = j.selectExpr(
        "n",
        f"GREATEST(ABS(CAST(cum AS DOUBLE) / n - {phi}), "
        f"ABS(CAST(cum - cnt AS DOUBLE) / n - {phi})) AS dev")
    return d.groupBy("n").agg(
        F.expr("ROUND(MAX(dev), 4)").alias("d_max")
    ).selectExpr("CAST(n AS BIGINT) AS n", "d_max")


def image_regression(x: DataFrame, y: DataFrame) -> DataFrame:
    """ImageRegression (math_stat_analysis/image_regression.rs): OLS of
    y on x over co-located cells — slope, intercept, r^2 from exact
    moment sums (one aggregation, oracle bit-exact)."""
    j = x.selectExpr("row", "col", "value AS vx").join(
        y.selectExpr("row", "col", "value AS vy"), ["row", "col"])
    return j.agg(
        F.count(F.lit(1)).alias("n"), F.sum("vx").alias("sx"),
        F.sum("vy").alias("sy"), F.sum(F.expr("vx * vx")).alias("sxx"),
        F.sum(F.expr("vy * vy")).alias("syy"),
        F.sum(F.expr("vx * vy")).alias("sxy"),
    ).selectExpr(
        "CAST(n AS BIGINT) AS n",
        "(n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) AS slope",
        "(sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) * sx) / n "
        "AS intercept",
        "((n * sxy - sx * sy) * (n * sxy - sx * sy)) "
        "/ NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0) AS r_squared",
    )


def image_autocorrelation(cells: DataFrame, contiguity: str = "rook") -> DataFrame:
    """ImageAutocorrelation (
    math_stat_analysis/image_autocorrelation.rs): global Moran's I — I = (n / W) * S_cross / S_var with
    S_cross = sum over neighbor pairs w_ij (x_i - m)(x_j - m), expanded
    to raw moment sums (sum x_i x_j, sum (x_i + x_j), W) so every term
    is an exact integer sum and both engines agree bit-for-bit.
    contiguity: 'rook' (4-neighbor) or 'queen' (8)."""
    offs = [(-1, 0), (1, 0), (0, -1), (0, 1)]
    if contiguity == "queen":
        offs += [(-1, -1), (-1, 1), (1, -1), (1, 1)]
    pairs = ", ".join(
        f"STRUCT(row + ({dr}L) AS nrow, col + ({dc}L) AS ncol)" for dr, dc in offs)
    nb = cells.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))")).selectExpr(
        "__n.nrow AS row", "__n.ncol AS col", "value AS xv")
    j = nb.join(cells.selectExpr("row", "col", "value AS yv"), ["row", "col"])
    cross = j.agg(
        F.count(F.lit(1)).alias("w"), F.sum(F.expr("xv * yv")).alias("sxy"),
        F.sum(F.expr("xv + yv")).alias("sxpy"),
    )
    m = cells.agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s1"),
        F.sum(F.expr("value * value")).alias("s2"),
    )
    return cross.crossJoin(m).selectExpr(
        "CAST(n AS BIGINT) AS n", "CAST(w AS BIGINT) AS w",
        "(CAST(n AS DOUBLE) / w) * (sxy - (s1 / n) * sxpy + (s1 / n) * (s1 / n) * w) "
        "/ NULLIF(s2 - s1 * s1 / n, 0.0) AS moran_i",
    )


def attribute_correlation(table: DataFrame, fields: list[str]) -> DataFrame:
    """AttributeCorrelation (
    math_stat_analysis/attribute_correlation.rs): Pearson correlation matrix of the given numeric attribute
    fields — one row per (field_a, field_b) pair, a < b; exact product
    sums (single aggregation)."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for f in fields:
        aggs.append(F.sum(f).alias(f"s_{f}"))
        aggs.append(F.sum(F.expr(f"{f} * {f}")).alias(f"ss_{f}"))
    for i, a in enumerate(fields):
        for b in fields[i + 1:]:
            aggs.append(F.sum(F.expr(f"{a} * {b}")).alias(f"sp_{a}_{b}"))
    m = table.agg(*aggs)
    rows = []
    for i, a in enumerate(fields):
        for b in fields[i + 1:]:
            r = (f"(n * sp_{a}_{b} - s_{a} * s_{b}) / "
                 f"NULLIF(SQRT((n * ss_{a} - s_{a} * s_{a}) "
                 f"* (n * ss_{b} - s_{b} * s_{b})), 0.0)")
            rows.append(f"STRUCT('{a}' AS field_a, '{b}' AS field_b, "
                        f"{r} AS pearson_r)")
    return m.selectExpr(f"EXPLODE(ARRAY({', '.join(rows)})) AS p") \
        .selectExpr("p.field_a AS field_a", "p.field_b AS field_b",
                    "p.pearson_r AS pearson_r")


# ---------------------------------------------------------------------------
# Round-3: raster patch-shape metrics
# (gis_analysis/{narrowness_index,edge_proportion,
#  boundary_shape_complexity}.rs, hole_proportion.rs for vectors)
# ---------------------------------------------------------------------------


def edge_proportion(patches: DataFrame, meta: GridMeta) -> DataFrame:
    """EdgeProportion (gis_analysis/edge_proportion.rs): per patch id,
    the proportion of its cells on the patch boundary (a cell is edge
    if any 8-neighbor is missing or has a different id); every patch
    cell is labeled with its patch's proportion. Two hash aggs."""
    offs = [(-1, 0), (1, 0), (0, -1), (0, 1),
            (-1, -1), (-1, 1), (1, -1), (1, 1)]
    pairs = ", ".join(
        f"STRUCT(row + ({dr}L) AS nrow, col + ({dc}L) AS ncol)" for dr, dc in offs)
    nb = patches.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))")).selectExpr(
        "row", "col", "value",
        "__n.nrow AS nrow", "__n.ncol AS ncol")
    j = nb.join(patches.selectExpr("row AS nrow", "col AS ncol", "value AS nv"),
                ["nrow", "ncol"], "left")
    is_edge = j.groupBy("row", "col", "value").agg(
        F.expr("MAX(CASE WHEN nv IS NULL OR nv <> value THEN 1 ELSE 0 END)")
        .alias("edge"))
    # grid-border cells are edges too (the reference's raster rim)
    border = (f"(row = 0 OR col = 0 OR row = {meta.rows - 1} "
              f"OR col = {meta.columns - 1})")
    is_edge = is_edge.selectExpr(
        "row", "col", "value",
        f"CASE WHEN {border} THEN 1 ELSE edge END AS edge")
    stats = is_edge.groupBy("value").agg(
        F.expr("CAST(SUM(edge) AS DOUBLE) / COUNT(*)").alias("prop"))
    return is_edge.join(stats, "value").selectExpr(
        "row", "col", "value AS patch_id", "prop AS value")


def narrowness_index(patches: DataFrame, meta: GridMeta) -> DataFrame:
    """NarrownessIndex (gis_analysis/narrowness_index.rs): NI = A /
    (pi * MD^2) per patch — A the patch area, MD its maximum
    distance-to-edge (exact separable EDT to the background). Patch
    cells are labeled with their patch's NI.

    Caveat (documented): distance runs to the BACKGROUND; two patches
    of different ids sharing an edge would see through each other —
    the reference computes per-patch distance. Identical when patches
    are background-separated (the clump-derived common case)."""
    import math as _m

    from .distance import euclidean_distance

    spark = patches.sparkSession
    full = spark.range(meta.rows * meta.columns).selectExpr(
        f"id DIV {meta.columns} AS row", f"id % {meta.columns} AS col")
    mask = full.join(patches.selectExpr("row", "col", "value AS pid"),
                     ["row", "col"], "left") \
        .selectExpr("row", "col", "COALESCE(pid, 0.0) AS value")
    d = euclidean_distance(mask, meta, target_pred="value = 0.0")
    cell_area = meta.resolution_x * meta.resolution_y
    j = patches.selectExpr("row", "col", "value AS pid").join(
        d.selectExpr("row", "col", "value AS dist"), ["row", "col"])
    stats = j.groupBy("pid").agg(
        F.expr(f"COUNT(*) * {cell_area!r}").alias("area"),
        F.max("dist").alias("md"))
    ni = stats.selectExpr(
        "pid", f"area / ({_m.pi!r} * md * md) AS ni")
    return j.join(ni, "pid").selectExpr(
        "row", "col", "pid AS patch_id", "ni AS value")


def boundary_shape_complexity(patches: DataFrame, meta: GridMeta) -> DataFrame:
    """BoundaryShapeComplexity (
    gis_analysis/boundary_shape_complexity.rs semantics): skeletonize each patch (LineThinning), decompose the
    skeleton into links at junction cells, and report the percentage of
    skeleton cells in EXTERIOR links (one endpoint free), excluding the
    two longest exterior links (treated as the main network). Per-patch
    numpy kernel over cogrouped cells (patches are small relative to the
    raster; the heavy lifting — grouping — is one shuffle)."""
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    from ..functions.geometry import thin_mask

    schema = StructType([
        StructField("patch_id", DoubleType(), False),
        StructField("value", DoubleType(), False),
    ])

    def kern(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pid = float(key[0])
        rr = pdf["row"].to_numpy(dtype=np.int64)
        cc = pdf["col"].to_numpy(dtype=np.int64)
        r0, c0 = rr.min(), cc.min()
        h = rr.max() - r0 + 3
        w = cc.max() - c0 + 3
        m = np.zeros((h, w), dtype=bool)
        m[rr - r0 + 1, cc - c0 + 1] = True
        sk = thin_mask(m)
        pts = np.argwhere(sk)
        if len(pts) == 0:
            return pd.DataFrame({"patch_id": [pid], "value": [0.0]})
        idx = {tuple(p): i for i, p in enumerate(pts)}
        deg = np.zeros(len(pts), dtype=np.int64)
        adj: dict[int, list] = {i: [] for i in range(len(pts))}
        for i, (pr, pc) in enumerate(pts):
            for dr in (-1, 0, 1):
                for dc in (-1, 0, 1):
                    if dr == 0 and dc == 0:
                        continue
                    ji = idx.get((pr + dr, pc + dc))
                    if ji is not None:
                        deg[i] += 1
                        adj[i].append(ji)
        # links: walk from endpoints/junctions through degree-2 chains
        is_node = (deg != 2)
        visited_edges = set()
        links = []  # (n_cells, exterior)
        for i in range(len(pts)):
            if not is_node[i]:
                continue
            for j0 in adj[i]:
                if (i, j0) in visited_edges:
                    continue
                chain = [i, j0]
                visited_edges.add((i, j0))
                visited_edges.add((j0, i))
                while not is_node[chain[-1]]:
                    nxts = [t for t in adj[chain[-1]] if t != chain[-2]]
                    if not nxts:
                        break
                    visited_edges.add((chain[-1], nxts[0]))
                    visited_edges.add((nxts[0], chain[-1]))
                    chain.append(nxts[0])
                ext = deg[chain[0]] == 1 or deg[chain[-1]] == 1
                links.append((len(chain), bool(ext)))
        if not links:
            return pd.DataFrame({"patch_id": [pid], "value": [0.0]})
        total = sum(n for n, _ in links)
        ext_links = sorted((n for n, e in links if e), reverse=True)
        ext_cells = sum(ext_links[2:])  # two longest join the main network
        return pd.DataFrame({"patch_id": [pid],
                             "value": [100.0 * ext_cells / total]})

    per_patch = patches.groupBy("value").applyInPandas(kern, schema=schema)
    return patches.selectExpr("row", "col", "value AS patch_id") \
        .join(per_patch, "patch_id") \
        .select("row", "col", "patch_id", "value")


def clip_raster_to_polygon(cells: DataFrame, polygons: DataFrame,
                           meta: GridMeta) -> DataFrame:
    """ClipRasterToPolygon (gis_analysis/clip_raster_to_polygon.rs):
    keep cells whose center is inside any polygon — the
    polygons_to_raster PIP mask as a leftsemi join."""
    mask = polygons_to_raster(polygons, meta).select("row", "col")
    return cells.join(mask, ["row", "col"], "leftsemi")


def erase_polygon_from_raster(cells: DataFrame, polygons: DataFrame,
                              meta: GridMeta) -> DataFrame:
    """ErasePolygonFromRaster (
    gis_analysis/erase_polygon_from_raster.rs): drop cells whose center is inside any polygon (anti join on
    the same mask)."""
    mask = polygons_to_raster(polygons, meta).select("row", "col")
    return cells.join(mask, ["row", "col"], "left_anti")


def fill_missing_data(cells: DataFrame, meta: GridMeta,
                      radius: int = 5, weight: float = 2.0) -> DataFrame:
    """FillMissingData (terrain_analysis/fill_missing_data.rs
    semantics): interior nodata holes take the IDW of valid cells
    within the window radius (d^-weight on center distances); valid
    cells pass through. One scatter join from valid cells into hole
    cells — no driver logic."""
    spark = cells.sparkSession
    full = spark.range(meta.rows * meta.columns).selectExpr(
        f"id DIV {meta.columns} AS row", f"id % {meta.columns} AS col")
    holes = full.join(cells.select("row", "col"), ["row", "col"], "left_anti")
    offs = [(dr, dc) for dr in range(-radius, radius + 1)
            for dc in range(-radius, radius + 1)
            if not (dr == 0 and dc == 0)
            and dr * dr + dc * dc <= radius * radius]
    pairs = ", ".join(
        f"STRUCT(row + ({dr}L) AS hrow, col + ({dc}L) AS hcol, "
        f"{(dr * meta.resolution_y) ** 2 + (dc * meta.resolution_x) ** 2!r} AS d2)"
        for dr, dc in offs)
    scattered = cells.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))")) \
        .selectExpr("__n.hrow AS row", "__n.hcol AS col",
                    "value AS nv", "__n.d2 AS d2")
    j = holes.join(scattered, ["row", "col"], "inner")
    w = f"POWER(d2, {-weight / 2.0!r})"
    filled = j.groupBy("row", "col").agg(
        F.expr(f"SUM(nv * {w}) / SUM({w})").alias("value"))
    return cells.unionByName(filled)


def crispness_index(cells: DataFrame) -> DataFrame:
    """CrispnessIndex (math_stat_analysis/crispness_index.rs:310-326;
    Lindsay 2006): C = sum((p - mean)^2) / (S * (1 - mean)^2 +
    (n - S) * mean^2) with S the total probability — one aggregation
    over exact moment sums."""
    return cells.agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s1"),
        F.sum(F.expr("value * value")).alias("s2"),
    ).selectExpr(
        "CAST(n AS BIGINT) AS n",
        "(s2 - s1 * s1 / n) "
        "/ NULLIF(s1 * (1.0 - s1 / n) * (1.0 - s1 / n) "
        "+ (n - s1) * (s1 / n) * (s1 / n), 0.0) AS crispness",
    )


def attribute_scattergram(table: DataFrame, field_x: str,
                          field_y: str) -> DataFrame:
    """AttributeScattergram (
    math_stat_analysis/attribute_scattergram.rs): the (x, y) pair table the reference plots — pure projection
    (the rendering itself is a client concern)."""
    return table.selectExpr(f"{field_x} AS x", f"{field_y} AS y")


def reclass_equal_interval(cells: DataFrame, interval: float = 10.0,
                           start_val: float | None = None,
                           end_val: float | None = None) -> DataFrame:
    """ReclassEqualInterval (gis_analysis/reclass_equal_interval.rs:
    254-280): z in [start_val, end_val] -> floor(z / interval) *
    interval; values outside the range pass through. start_val defaults
    to the raster minimum (reference :254), end_val to +inf."""
    if start_val is None:
        start_val = float(cells.agg(F.min("value")).collect()[0][0])
    hi = "CAST('Infinity' AS DOUBLE)" if end_val is None else repr(float(end_val))
    iv = f"CAST({float(interval)!r} AS DOUBLE)"
    return cells.selectExpr(
        "row", "col",
        f"CASE WHEN value >= {start_val!r} AND value <= {hi} "
        f"THEN FLOOR(value / {iv}) * {iv} "
        f"ELSE value END AS value",
    )


def reclass_from_file(cells: DataFrame, path: str) -> DataFrame:
    """ReclassFromFile (gis_analysis/reclass_from_file.rs:226-260):
    text file of (new, lo, hi) triples — or (new, old) pairs for exact
    assign mode — delimited by ; , space or tab; 'min'/'max' tokens
    resolve to the raster extremes. Delegates to the reclass plan."""
    rows = []
    assign_mode = False
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            for d in (";", ",", " ", "\t"):
                v = [t for t in line.split(d) if t.strip()]
                if len(v) >= 2:
                    break
            if len(v) == 2:
                assign_mode = True
            rows.append(v)
    if any("min" in t.lower() or "max" in t.lower() for r in rows for t in r):
        mm = cells.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
        lo, hi = float(mm["lo"]), float(mm["hi"])
    else:
        lo = hi = 0.0

    def tok(t: str) -> float:
        tl = t.lower()
        return lo if "min" in tl else hi if "max" in tl else float(t)

    if assign_mode:
        expr = F.col("value")
        for r in reversed(rows):
            expr = F.when(F.col("value") == tok(r[1]), F.lit(tok(r[0]))).otherwise(expr)
        return cells.select("row", "col", expr.alias("value"))
    return reclass(cells, [(tok(r[0]), tok(r[1]), tok(r[2])) for r in rows])


def integer_division(a: DataFrame, b: DataFrame) -> DataFrame:
    """IntegerDivision (math_stat_analysis/integer_division.rs:20-26):
    per-cell truncated a/b; divisor 0 (and nodata in either input —
    absent rows here) yields nodata. Truncation toward zero is written
    as a FLOOR/CEIL branch so the expression is total under ANSI mode
    and parses identically in the DuckDB oracle."""
    bb = b.select("row", "col", F.col("value").alias("bv"))
    return (
        a.join(bb, ["row", "col"])
        .selectExpr(
            "row", "col",
            "CASE WHEN bv = 0.0 THEN NULL "
            "WHEN value / bv >= 0.0 THEN FLOOR(value / bv) * 1.0 "
            "ELSE CEIL(value / bv) * 1.0 END AS value")
        .where("value IS NOT NULL")
    )


def modify_nodata_value(cells: DataFrame, old_nodata: float,
                        new_nodata: float) -> DataFrame:
    """ModifyNoDataValue (data_tools/modify_nodata_value.rs:182-190):
    rewrite cells carrying the old sentinel to the new one. The cells
    model keeps nodata implicit (absent rows), so this is only needed
    for rasters ingested with an explicit in-band sentinel."""
    return cells.selectExpr(
        "row", "col",
        f"CASE WHEN value = {old_nodata!r} THEN {new_nodata!r} "
        f"ELSE value END AS value")


def shape_complexity_index_raster(cells: DataFrame) -> DataFrame:
    """ShapeComplexityIndexRaster (
    gis_analysis/shape_complexity_raster.rs): per patch-id, the number of horizontal + vertical transect
    entries (cells whose west / north neighbor differs from the patch
    id) divided by (height + width) of the patch's bounding box; every
    cell of the patch takes the patch's index. Pure equi-joins and an
    integer-count aggregate — oracle-bit-exact. One shuffle for the
    neighbor joins, one for the per-patch aggregate."""
    base = cells.where("value > 0.0")
    west = base.selectExpr("row", "col + 1 AS col", "value AS wv")
    north = base.selectExpr("row + 1 AS row", "col", "value AS nv")
    tagged = (
        base.join(west, ["row", "col"], "left")
        .join(north, ["row", "col"], "left")
    )
    per_patch = tagged.groupBy("value").agg(
        F.expr("SUM(CASE WHEN wv IS NULL OR wv <> value THEN 1 ELSE 0 END) + "
               "SUM(CASE WHEN nv IS NULL OR nv <> value THEN 1 ELSE 0 END)")
        .alias("__entries"),
        F.expr("MAX(row) - MIN(row) + 1").alias("__h"),
        F.expr("MAX(col) - MIN(col) + 1").alias("__w"))
    idx = per_patch.selectExpr(
        "value AS __id",
        "CAST(__entries AS DOUBLE) / CAST(__h + __w AS DOUBLE) AS __sci")
    return (
        base.join(idx, base["value"] == idx["__id"])
        .selectExpr("row", "col", "__sci AS value")
    )


def elev_relative_to_min_max(cells: DataFrame) -> DataFrame:
    """ElevRelativeToMinMax (
    terrain_analysis/elev_relative_to_min_max.rs:290): (z - min) / (max - min) * 100 with the grid-wide extremes.
    One broadcast stats join."""
    stats = cells.agg(F.min("value").alias("__mn"),
                      F.max("value").alias("__mx"))
    return cells.crossJoin(F.broadcast(stats)).selectExpr(
        "row", "col",
        "CASE WHEN __mx > __mn THEN (value - __mn) / (__mx - __mn) * 100.0 "
        "ELSE 0.0 END AS value")


def slope_vs_elev_plot(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """SlopeVsElevationPlot (terrain_analysis/slope_vs_elev_plot.rs):
    the plot's data table — elevation bins of width (range + 1e-5) /
    num_bins with num_bins = max(floor(range / 5), ceil(log2(n)) + 1),
    mean slope (degrees, Florinsky fit) per bin. Output
    (elevation, slope, n) with elevation at the bin midpoint."""
    from .focal import slope as slope_op

    sl = slope_op(cells, meta, units="degrees") \
        .withColumnRenamed("value", "__slope")
    stats = cells.agg(F.min("value").alias("__mn"),
                      F.max("value").alias("__mx"),
                      F.count(F.lit(1)).alias("__n"))
    j = (cells.join(sl, ["row", "col"])
         .crossJoin(F.broadcast(stats))
         .selectExpr(
             "value", "__slope",
             "GREATEST(CAST((__mx - __mn) AS BIGINT) DIV 5, "
             "CAST(CEIL(LOG2(CAST(__n AS DOUBLE))) AS BIGINT) + 1) AS __nb",
             "__mn", "__mx"))
    j = j.selectExpr(
        "value", "__slope", "__nb", "__mn",
        "(__mx - __mn + 0.00001) / CAST(__nb AS DOUBLE) AS __bw")
    binned = j.selectExpr(
        "CAST(FLOOR((value - __mn) / __bw) AS BIGINT) AS bin",
        "__slope", "__mn", "__bw")
    return binned.groupBy("bin", "__mn", "__bw").agg(
        F.avg("__slope").alias("slope"),
        F.count(F.lit(1)).alias("n"),
    ).selectExpr(
        "__mn + (CAST(bin AS DOUBLE) + 0.5) * __bw AS elevation",
        "slope", "n").orderBy("elevation")


def image_correlation_neighbourhood_analysis(a: DataFrame, b: DataFrame,
                                             radius: int = 1) -> DataFrame:
    """ImageCorrelationNeighbourhoodAnalysis (math_stat_analysis/
    image_correlation_neighbourhood_analysis.rs, pearson mode): local
    Pearson r between two rasters over a (2r+1)^2 window, plus the
    t statistic r * sqrt(df / (1 - r^2)) with df = n - 2 (the
    reference converts t to a p-value through the Student's-t CDF — a
    monotone map of |t| left to the caller, consistent with this
    engine's anova/ks treatment). Output (row, col, rvalue, tvalue)."""
    j = (a.selectExpr("row", "col", "value AS va")
         .join(b.selectExpr("row", "col", "value AS vb"), ["row", "col"]))
    offs = [(dr, dc) for dr in range(-radius, radius + 1)
            for dc in range(-radius, radius + 1)]
    pairs = ", ".join(
        f"STRUCT(row + ({dr}L) AS crow, col + ({dc}L) AS ccol)"
        for dr, dc in offs)
    sc = (j.withColumn("__n", F.expr(f"EXPLODE(ARRAY({pairs}))"))
          .selectExpr("__n.crow AS row", "__n.ccol AS col", "va", "vb"))
    g = sc.groupBy("row", "col").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("va").alias("sa"), F.sum("vb").alias("sb"),
        F.sum(F.expr("va * va")).alias("saa"),
        F.sum(F.expr("vb * vb")).alias("sbb"),
        F.sum(F.expr("va * vb")).alias("sab"))
    g = g.join(j.select("row", "col"), ["row", "col"], "leftsemi")
    den = "((saa - sa * sa / n) * (sbb - sb * sb / n))"
    r = f"CASE WHEN {den} > 0.0 THEN (sab - sa * sb / n) / SQRT({den}) ELSE 0.0 END"
    return g.selectExpr(
        "row", "col", f"{r} AS rvalue",
        f"CASE WHEN n > 4 AND ABS({r}) < 1.0 THEN ({r}) * "
        f"SQRT(CAST(n - 2 AS DOUBLE) / (1.0 - ({r}) * ({r}))) "
        f"ELSE 0.0 END AS tvalue")


def attribute_correlation_neighbourhood_analysis(
        points: DataFrame, field1: str, field2: str, radius: float,
        id_col: str = "record_num", x: str = "x", y: str = "y") -> DataFrame:
    """AttributeCorrelationNeighbourhoodAnalysis (math_stat_analysis/
    attribute_correlation_neighbourhood_analysis.rs, pearson mode): per
    feature, the Pearson r between two attribute fields over the
    features within `radius` (self included), plus the t statistic
    (df = n - 2; the p-value is a monotone map of |t| left to the
    caller). FRS cell radius join. Output (id, rvalue, tvalue)."""
    from ..functions.cells import explode_neighbor_cells, with_frs_cells

    base = with_frs_cells(
        points.selectExpr(f"{id_col} AS pid", f"{x} AS px", f"{y} AS py",
                          f"{field1} AS f1", f"{field2} AS f2"),
        radius, x="px", y="py")
    probe = explode_neighbor_cells(base, reach=2)
    build = base.selectExpr("pid AS b_id", "px AS bx", "py AS by",
                            "f1 AS b1", "f2 AS b2",
                            "cx AS ncx", "cy AS ncy")
    pairs = (probe.join(build, ["ncx", "ncy"])
             .where(f"(px - bx) * (px - bx) + (py - by) * (py - by) "
                    f"<= {radius * radius!r}")
             .select("pid", "b1", "b2"))
    g = pairs.groupBy("pid").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("b1").alias("sa"), F.sum("b2").alias("sb"),
        F.sum(F.expr("b1 * b1")).alias("saa"),
        F.sum(F.expr("b2 * b2")).alias("sbb"),
        F.sum(F.expr("b1 * b2")).alias("sab"))
    den = "((saa - sa * sa / n) * (sbb - sb * sb / n))"
    r = (f"CASE WHEN {den} > 0.0 THEN (sab - sa * sb / n) / SQRT({den}) "
         f"ELSE 0.0 END")
    return g.selectExpr(
        f"pid AS {id_col}", f"{r} AS rvalue",
        f"CASE WHEN n > 4 AND ABS({r}) < 1.0 THEN ({r}) * "
        f"SQRT(CAST(n - 2 AS DOUBLE) / (1.0 - ({r}) * ({r}))) "
        f"ELSE 0.0 END AS tvalue")


def turning_bands_exprs(meta: GridMeta, range_dist: float, iterations: int,
                        seed: int, duck: bool = False) -> tuple[list[str], float]:
    """The per-band contribution expressions of TurningBandsSimulation
    (math_stat_analysis/turning_bands.rs), deterministic-seeded variant
    of the reference's thread_rng draws. Band noise sequences and line
    constants are computed driver-side in numpy and embedded as
    literals, so the SAME doubles reach both engines; the per-cell math
    (projection + one sqrt + truncating floor) is bit-portable. Returns
    (contribution exprs, sqrt(iterations))."""
    rows, cols = meta.rows, meta.columns
    diag = int(math.sqrt(rows * rows + cols * cols))
    hfs = max(int(range_dist / (2.0 * meta.resolution_x)), 1)
    fs = hfs * 2 + 1
    w = math.sqrt(36.0 / (hfs * (hfs + 1) * fs))
    rng = np.random.RandomState(seed)

    def dlit(v: float) -> str:
        # scientific notation parses as DOUBLE on both engines; a bare
        # 17-digit literal becomes DECIMAL and converts lossily
        s = repr(float(v))
        return s if ("e" in s or "E" in s) else s + "e0"

    exprs = []
    for _ in range(iterations):
        t = rng.standard_normal(diag + 2 * hfs)
        y = np.zeros(diag)
        for j in range(diag):
            y[j] = w * sum(m * t[j + hfs + m] for m in range(-hfs, hfs + 1))
        y = (y - y.mean()) / y.std()
        while True:
            edge1 = rng.randint(0, 4)
            edge2 = edge1
            while edge2 == edge1:
                edge2 = rng.randint(0, 4)

            def pick(edge):
                if edge == 0:
                    return 0.0, float(rng.randint(0, rows))
                if edge == 1:
                    return float(rng.randint(0, cols)), 0.0
                if edge == 2:
                    return float(cols - 1), float(rng.randint(0, rows))
                return float(rng.randint(0, cols)), float(rows - 1)

            p1x, p1y = pick(edge1)
            p2x, p2y = pick(edge2)
            if p2x != p1x and p2y != p1y:
                break
        slope = (p2y - p1y) / (p2x - p1x)
        intercept = p1y - slope * p1x
        perp = -1.0 / slope
        sdiff = slope - perp
        corners = []
        for cr, cc in ((0, 0), (0, cols), (rows, 0), (rows, cols)):
            pli = cr - perp * cc
            cx = (pli - intercept) / sdiff
            cy = slope * cx - intercept
            corners.append((cx, cy))
        sx, sy = min(corners, key=lambda c: c[1])
        arr = ", ".join(dlit(v) for v in y)
        pli = f"(CAST(row AS DOUBLE) - {dlit(perp)} * CAST(col AS DOUBLE))"
        ix = f"(({pli} - {dlit(intercept)}) / {dlit(sdiff)})"
        iy = f"({dlit(slope)} * {ix} - {dlit(intercept)})"
        p = (f"LEAST(GREATEST(CAST(FLOOR(SQRT(({ix} - {dlit(sx)}) * ({ix} - {dlit(sx)}) "
             f"+ ({iy} - {dlit(sy)}) * ({iy} - {dlit(sy)}))) AS INT), 0), {diag - 1})")
        if duck:
            exprs.append(f"([{arr}])[{p} + 1]")
        else:
            exprs.append(f"ELEMENT_AT(ARRAY({arr}), {p} + 1)")
    return exprs, math.sqrt(iterations)


def turning_bands(spark, meta: GridMeta, range_dist: float = 100.0,
                  iterations: int = 8, seed: int = 42) -> DataFrame:
    """TurningBandsSimulation: sum of band contributions divided by
    sqrt(iterations). One pure-codegen projection per band."""
    exprs, rooted = turning_bands_exprs(meta, range_dist, iterations, seed)
    rows = spark.range(meta.rows).selectExpr("id AS row")
    cols = spark.range(meta.columns).selectExpr("id AS col")
    grid = rows.crossJoin(cols)
    total = " + ".join(f"({e})" for e in exprs)
    return grid.selectExpr("row", "col",
                           f"({total}) / ({rooted!r} + 0e0) AS value")


# Prewitt & Mendelsohn perimeter-estimator lookup (raster_perimeter.rs:
# let lut = [...] — the published 256-entry table indexed by the D8
# same-value bitmask, weights 2^n in D8 scan order)
_PERIMETER_LUT = [4.000000000,2.828427125,2.236067977,2.414213562,2.828427125,3.000000000,2.414213562,2.236067977,2.236067977,2.414213562,2.000000000,2.000000000,2.828427125,1.414213562,1.414213562,1.414213562,2.236067977,2.828427125,2.000000000,1.414213562,2.414213562,1.414213562,2.000000000,1.414213562,2.000000000,2.000000000,1.000000000,2.000000000,2.000000000,2.000000000,2.000000000,1.000000000,2.828427125,3.000000000,2.828427125,1.414213562,2.000000000,4.000000000,2.236067977,2.236067977,2.414213562,2.236067977,1.414213562,1.414213562,2.236067977,2.236067977,1.414213562,1.414213562,2.828427125,2.236067977,1.414213562,1.414213562,2.236067977,2.414213562,2.000000000,1.414213562,2.000000000,2.000000000,1.000000000,1.414213562,2.000000000,2.000000000,1.000000000,1.000000000,2.236067977,2.828427125,2.000000000,2.000000000,2.828427125,2.236067977,2.000000000,2.000000000,2.000000000,1.414213562,1.000000000,2.000000000,1.414213562,1.414213562,1.000000000,1.414213562,2.000000000,1.414213562,1.000000000,1.000000000,1.414213562,1.414213562,2.000000000,1.414213562,1.000000000,1.000000000,0.000000000,0.000000000,1.000000000,1.000000000,0.000000000,0.000000000,2.414213562,1.414213562,2.000000000,2.000000000,2.236067977,2.414213562,2.000000000,2.000000000,2.000000000,1.414213562,2.000000000,1.000000000,2.000000000,1.414213562,1.000000000,1.000000000,1.414213562,1.414213562,1.000000000,1.000000000,1.414213562,1.414213562,1.000000000,1.000000000,2.000000000,1.414213562,0.000000000,0.000000000,1.000000000,1.000000000,0.000000000,0.000000000,2.828427125,2.000000000,2.828427125,2.236067977,3.000000000,4.000000000,1.414213562,2.236067977,2.828427125,2.236067977,1.414213562,2.000000000,2.236067977,2.414213562,1.414213562,1.414213562,2.414213562,2.236067977,1.414213562,1.414213562,2.236067977,2.236067977,1.414213562,1.414213562,2.000000000,2.000000000,1.000000000,1.000000000,2.000000000,2.000000000,1.414213562,1.000000000,3.000000000,4.000000000,2.236067977,2.414213562,4.000000000,4.000000000,2.414213562,2.236067977,1.414213562,2.236067977,1.414213562,1.414213562,2.414213562,2.236067977,1.414213562,1.414213562,1.414213562,2.414213562,1.414213562,1.414213562,2.236067977,2.236067977,1.414213562,1.414213562,2.000000000,2.000000000,1.000000000,1.000000000,2.000000000,2.000000000,1.000000000,1.000000000,2.414213562,2.000000000,2.236067977,2.000000000,1.414213562,2.414213562,2.000000000,2.000000000,1.414213562,1.414213562,1.000000000,1.000000000,1.414213562,1.414213562,1.000000000,1.000000000,2.000000000,2.000000000,2.000000000,1.000000000,1.414213562,1.414213562,1.000000000,1.000000000,2.000000000,1.000000000,0.000000000,0.000000000,1.414213562,1.000000000,0.000000000,0.000000000,2.236067977,2.236067977,2.000000000,2.000000000,2.236067977,2.236067977,2.000000000,2.000000000,1.414213562,1.414213562,1.414213562,1.000000000,1.414213562,1.414213562,1.000000000,1.000000000,1.414213562,1.414213562,1.414213562,1.000000000,1.414213562,1.414213562,1.000000000,1.000000000,1.000000000,1.000000000,0.000000000,0.000000000,1.000000000,1.000000000,0.000000000,0.000000000]


def find_patch_edge_cells(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """FindPatchEdgeCells (gis_analysis/find_patch_edge_cells.rs): a
    cell keeps its patch value where ANY of its 8 neighbors (missing
    neighbors included — grid edges are patch edges) differs; interior
    cells emit 0."""
    from .hydro import focal_pivot3_raw

    cond = " OR ".join(
        f"COALESCE(zn_{i} <> zc, TRUE)" for i in range(8))
    return focal_pivot3_raw(cells).selectExpr(
        "row", "col",
        f"CASE WHEN {cond} THEN zc ELSE 0.0 END AS value")


def raster_perimeter(cells: DataFrame, meta: GridMeta) -> DataFrame:
    """RasterPerimeter (gis_analysis/raster_perimeter.rs): per raster
    class, the Prewitt-Mendelsohn perimeter estimate — sum over the
    class's cells of LUT[bitmask of same-valued D8 neighbors] times the
    (mean) grid resolution. Output (value, perimeter)."""
    from .hydro import focal_pivot3_raw

    res = (meta.resolution_x + meta.resolution_y) / 2.0
    idx = " + ".join(
        f"(CASE WHEN COALESCE(zn_{i} = zc, FALSE) THEN {1 << i} ELSE 0 END)"
        for i in range(8))
    arr = ", ".join(f"{v}e0" for v in _PERIMETER_LUT)
    return focal_pivot3_raw(cells).selectExpr(
        "zc AS value",
        f"ELEMENT_AT(ARRAY({arr}), ({idx}) + 1) * {res!r} AS __p"
    ).groupBy("value").agg(F.sum("__p").alias("perimeter"))


def filter_raster_features_by_area(cells: DataFrame, meta: GridMeta,
                                   threshold_cells: int,
                                   background: float = 0.0) -> DataFrame:
    """FilterRasterFeaturesByArea (gis_analysis/
    filter_raster_features_by_area.rs): connected patches (equal-value,
    8-connected) smaller than `threshold_cells` are replaced with the
    background value."""
    from .clump import clump as clump_op

    lbl = clump_op(cells, meta.columns, diag=True)
    sizes = lbl.groupBy("clump_id").agg(F.count(F.lit(1)).alias("__n"))
    return (lbl.join(sizes, "clump_id")
            .selectExpr("row", "col",
                        f"CASE WHEN __n < {int(threshold_cells)} "
                        f"THEN {float(background)!r} "
                        f"ELSE value END AS value"))


def rescale_value_range(cells: DataFrame, new_min: float,
                        new_max: float) -> DataFrame:
    """RescaleValueRange (math_stat_analysis/rescale_value_range.rs):
    new_min + (z - min) / (max - min) * (new_max - new_min)."""
    stats = cells.agg(F.min("value").alias("__mn"),
                      F.max("value").alias("__mx"))
    lo, hi = float(new_min), float(new_max)
    return cells.crossJoin(F.broadcast(stats)).selectExpr(
        "row", "col",
        f"CASE WHEN __mx > __mn THEN {lo!r} + (value - __mn) "
        f"/ (__mx - __mn) * ({hi!r} - {lo!r}) ELSE value END AS value")
