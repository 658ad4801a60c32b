"""Global image-enhancement operators — WBT's Image Enhancement toolbox.

Reference anchors (semantics transcribed, plans original):
- MinMaxContrastStretch: image_analysis/min_max_contrast_stretch.rs:30
  (z_out = floor((z - min)/(max - min) * tones), clamped to
  [0, tones-1]; :367-373)
- PercentageContrastStretch: percentage_contrast_stretch.rs:25-35
  (cutoffs at the clip% tails of the frequency distribution, then the
  same linear map)
- StandardDeviationContrastStretch: stdev_contrast_stretch.rs:311-318
  (cutoffs at mean +/- clip * stdev)
- SigmoidalContrastStretch: sigmoidal_contrast_stretch.rs:28-36,385-394
- GammaCorrection: gamma_correction.rs:279
- NormalizedDifferenceIndex: normalized_difference_index.rs:23
- DirectDecorrelationStretch: direct_decorrelation_stretch.rs:27-33
  (r_k = r - k * min(r, g, b))
- BalanceContrastEnhancement: balance_contrast_enhancement.rs (BCET
  parabolic mapping y = a(x - b)^2 + c, Liu 1991)
- HistogramMatching: histogram_matching.rs (CDF-to-CDF value mapping;
  this engine uses the exact empirical CDF with a nearest-rank rule
  rather than WBT's binned interpolation — selection-only, so results
  are bit-reproducible across engines)
- FlipImage: image_analysis/flip_image.rs
- ChangeVectorAnalysis: change_vector_analysis.rs (magnitude +
  sign-quadrant sector code)
- HistogramMatchingTwoImages: histogram_matching_two_images.rs (match
  image 1's CDF to image 2's — the two-raster form of the mapping)
- WriteFunctionMemoryInsertion: write_func_memory_insertion.rs
  (multi-date RGB change composite: date1->R, date2->G, date3-or-
  date2->B, each min-max stretched to 0..255 and packed RGBA)

Scale notes: every operator here is one map-side-partial aggregation
producing a 1-row (or tones-sized) stats table that is broadcast back
over the cell table — no unpartitioned windows, no driver collects.
Percentile cutoffs and CDF tables use the distributed per-value prefix
sums in plans/rank.py. Cell values in the parity fixtures are
integer-valued doubles, so SUM/COUNT moments are exact in any
accumulation order and every derived double is bit-identical to the
DuckDB oracle transcription.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.driver import local_frame
from ..plans.rank import ordered_prefix_sums


def _stretch_expr(minv: str, maxv: str, num_tones: int) -> str:
    """The shared WBT linear-stretch fold: saturate z into [minv, maxv],
    map to tone indices, floor, clamp (min_max_contrast_stretch.rs:367).
    Pure +-*/ and FLOOR — portable bit-exact SQL."""
    z = f"LEAST(GREATEST(value, {minv}), {maxv})"
    t = f"FLOOR(({z} - {minv}) / ({maxv} - {minv}) * {num_tones})"
    return f"LEAST(GREATEST({t}, 0.0), {num_tones - 1}.0)"


def min_max_contrast_stretch(cells: DataFrame, min_val: float | None = None,
                             max_val: float | None = None,
                             num_tones: int = 256) -> DataFrame:
    """MinMaxContrastStretch; cutoffs default to the data min/max."""
    if min_val is not None and max_val is not None:
        return cells.selectExpr(
            "row", "col",
            f"{_stretch_expr(repr(min_val), repr(max_val), num_tones)} AS value")
    stats = cells.agg(F.min("value").alias("__lo"), F.max("value").alias("__hi"))
    return cells.crossJoin(F.broadcast(stats)).selectExpr(
        "row", "col", f"{_stretch_expr('__lo', '__hi', num_tones)} AS value")


def percentage_contrast_stretch(cells: DataFrame, clip: float = 1.0,
                                tail: str = "both",
                                num_tones: int = 256) -> DataFrame:
    """PercentageContrastStretch: cutoffs are the values at the clip%
    tails of the exact frequency distribution (nearest-rank:
    min_val = smallest v with |{u <= v}| >= ceil(n * clip/100)).

    Distributed: per-value counts -> range-partitioned prefix sum over
    the distinct values -> two scalar cutoffs broadcast back.
    """
    n = cells.count()
    import math
    k = max(1, math.ceil(n * clip / 100.0))
    vc = cells.groupBy("value").agg(F.count(F.lit(1)).alias("__c"))
    cum = ordered_prefix_sums(vc, ["value"], ["__c"])
    lo_on = tail in ("both", "lower")
    hi_on = tail in ("both", "upper")
    cuts = cum.agg(
        F.expr(f"MIN(CASE WHEN __cum___c >= {k} THEN value END)" if lo_on
               else "MIN(value)").alias("__lo"),
        F.expr(f"MAX(CASE WHEN {n} - __cum___c + __c >= {k} THEN value END)" if hi_on
               else "MAX(value)").alias("__hi"),
    )
    return cells.crossJoin(F.broadcast(cuts)).selectExpr(
        "row", "col", f"{_stretch_expr('__lo', '__hi', num_tones)} AS value")


def stdev_contrast_stretch(cells: DataFrame, clip_stdev: float = 2.0,
                           num_tones: int = 256) -> DataFrame:
    """StandardDeviationContrastStretch: cutoffs mean -/+ clip*stdev
    (sample stdev from exact integer moments), clamped to the data
    range (stdev_contrast_stretch.rs:311-318 clamps to the valid
    display range; here that range is the data envelope)."""
    stats = cells.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("value").alias("__sx"),
        F.sum(F.expr("value * value")).alias("__sxx"),
        F.min("value").alias("__dlo"), F.max("value").alias("__dhi"))
    sd = "SQRT((__sxx - __sx * __sx / __n) / (__n - 1))"
    lo = f"GREATEST(__sx / __n - {clip_stdev!r} * {sd}, __dlo)"
    hi = f"LEAST(__sx / __n + {clip_stdev!r} * {sd}, __dhi)"
    return cells.crossJoin(F.broadcast(stats)).selectExpr(
        "row", "col", f"{_stretch_expr(f'({lo})', f'({hi})', num_tones)} AS value")


def sigmoidal_contrast_stretch(cells: DataFrame, cutoff: float = 0.0,
                               gain: float = 1.0,
                               num_tones: int = 256) -> DataFrame:
    """SigmoidalContrastStretch (sigmoidal_contrast_stretch.rs:385-394):
    z is min-max normalized to [0,1], pushed through the gain/cutoff
    sigmoid, rescaled by the (a, b) endpoints, then toned. EXP is
    engine-libm-dependent -> rows-only gate + numpy pytest parity."""
    import math
    a = 1.0 / (1.0 + math.exp(gain * cutoff))
    b = (1.0 / (1.0 + math.exp(gain * (cutoff - 1.0)))
         - 1.0 / (1.0 + math.exp(gain * cutoff)))
    stats = cells.agg(F.min("value").alias("__lo"), F.max("value").alias("__hi"))
    zn = "((value - __lo) / (__hi - __lo))"
    sig = f"((1.0 / (1.0 + EXP({gain!r} * ({cutoff!r} - {zn}))) - {a!r}) / {b!r})"
    t = f"LEAST(GREATEST({sig}, 0.0), 1.0) * {num_tones}"
    out = f"LEAST(FLOOR({t}), {num_tones - 1}.0)"
    return cells.crossJoin(F.broadcast(stats)).selectExpr(
        "row", "col", f"{out} AS value")


def gamma_correction(cells: DataFrame, gamma: float = 0.5) -> DataFrame:
    """GammaCorrection (gamma_correction.rs:279): min-max normalize,
    raise to gamma, rescale to the input range. POWER is libm-dependent
    -> rows-only gate + numpy pytest parity."""
    stats = cells.agg(F.min("value").alias("__lo"), F.max("value").alias("__hi"))
    zn = "((value - __lo) / (__hi - __lo))"
    return cells.crossJoin(F.broadcast(stats)).selectExpr(
        "row", "col",
        f"POWER({zn}, {gamma!r}) * (__hi - __lo) + __lo AS value")


def normalized_difference_index(a: DataFrame, b: DataFrame,
                                correction: float = 0.0) -> DataFrame:
    """NormalizedDifferenceIndex: (a - b) / (a + b + c) per cell."""
    return (
        a.select("row", "col", F.col("value").alias("__a"))
        .join(b.select("row", "col", F.col("value").alias("__b")), ["row", "col"])
        .selectExpr("row", "col",
                    f"(__a - __b) / (__a + __b + {correction!r}) AS value")
    )


def direct_decorrelation_stretch(r: DataFrame, g: DataFrame, b: DataFrame,
                                 k: float = 0.5) -> DataFrame:
    """DirectDecorrelationStretch: subtract k * min(r, g, b) from each
    band. Output: (row, col, r, g, b)."""
    j = (
        r.select("row", "col", F.col("value").alias("__r"))
        .join(g.select("row", "col", F.col("value").alias("__g")), ["row", "col"])
        .join(b.select("row", "col", F.col("value").alias("__b")), ["row", "col"])
    )
    m = "LEAST(__r, __g, __b)"
    return j.selectExpr("row", "col",
                        f"__r - {k!r} * {m} AS r",
                        f"__g - {k!r} * {m} AS g",
                        f"__b - {k!r} * {m} AS b")


def balance_contrast_enhancement(cells: DataFrame, band_mean: float = 100.0,
                                 out_min: float = 0.0,
                                 out_max: float = 255.0) -> DataFrame:
    """BalanceContrastEnhancement (BCET, Liu 1991; WBT
    balance_contrast_enhancement.rs): the unique parabola
    y = a(x - b)^2 + c that maps the input's (min l, mean-square s,
    max h) onto the output's (L, E, H), with c = L - a(l - b)^2 folded
    in. Closed-form coefficients from exact moments — portable
    arithmetic, oracle-gated."""
    stats = cells.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("value").alias("__sx"),
        F.sum(F.expr("value * value")).alias("__sxx"),
        F.min("value").alias("__l"), F.max("value").alias("__h"))
    L, H, E = repr(out_min), repr(out_max), repr(band_mean)
    e = "(__sx / __n)"
    s = "(__sxx / __n)"
    bb = (f"((__h * __h * ({E} - {L}) - {s} * ({H} - {L}) + __l * __l * ({H} - {E})) / "
          f"(2.0 * (__h * ({E} - {L}) - {e} * ({H} - {L}) + __l * ({H} - {E}))))")
    aa = f"(({H} - {L}) / ((__h - __l) * (__h + __l - 2.0 * {bb})))"
    cc = f"({L} - {aa} * (__l - {bb}) * (__l - {bb}))"
    return cells.crossJoin(F.broadcast(stats)).selectExpr(
        "row", "col", f"{aa} * (value - {bb}) * (value - {bb}) + {cc} AS value")


def histogram_matching(cells: DataFrame, ref: DataFrame) -> DataFrame:
    """HistogramMatching: map each value of `cells` to the smallest
    reference value whose CDF is >= the subject value's CDF
    (nearest-rank; WBT interpolates between histogram bins — this
    engine's exact-CDF rule is selection-only and bit-portable).

    Plan: two distributed per-value CDF tables (distinct-value sized,
    i.e. bounded by the tone count at scale), then an exact BUCKETED
    as-of join: the answering reference tone for a subject CDF value pa
    is the unique one with prev_pb < pa <= pb (the CDF is strictly
    increasing over distinct values), so each reference tone explodes
    to the CDF-grid buckets its (prev_pb, pb] interval covers and the
    match is an equi-join on bucket + the interval predicate — O(A + B)
    candidates instead of the former broadcast range-join's O(A x B)
    comparisons (quadratic in tone count: already 10^8 at 10^4 tones).
    No unpartitioned windows.
    """
    # one tagged union drives BOTH CDFs: one count action (2 rows) and
    # ONE ordered_prefix_sums pass (one ranged checkpoint + one offsets
    # collect) instead of two of each — the query is dominated by fixed
    # per-action orchestration, not data. Side 1's running sum includes
    # all of side 0's counts (= n_a, an exact integer), so subtracting
    # it reproduces the standalone reference cumsum bit-for-bit.
    sides = cells.selectExpr("value", "CAST(0 AS INT) AS __s").unionByName(
        ref.selectExpr("value", "CAST(1 AS INT) AS __s"))
    n_by = {r["__s"]: r["cnt"] for r in
            sides.groupBy("__s").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    n_a, n_b = n_by.get(0, 0), n_by.get(1, 0)
    vc = sides.groupBy("__s", "value").agg(F.count(F.lit(1)).alias("__c"))
    cum = ordered_prefix_sums(vc, ["__s", "value"], ["__c"])
    cuma = cum.where("__s = 0").selectExpr(
        "value AS __va", f"__cum___c / {n_a} AS __pa")
    # fixed bucket grid (was: a third action counting reference tones).
    # Candidates per subject stay ~1 + tones/grid; ref bucket fan-out is
    # ~grid + tones rows — both bounded at any tone count that fits a
    # broadcast mapping table.
    grid = 65536
    cumb = cum.where("__s = 1").selectExpr(
        "value AS __vb",
        f"(__cum___c - {n_a}) / {n_b} AS __pb",
        f"(__cum___c - __c - {n_a}) / {n_b} AS __prev")
    ref_buckets = cumb.selectExpr(
        "__vb", "__pb", "__prev",
        f"EXPLODE(SEQUENCE(CAST(FLOOR(__prev * {grid}) AS BIGINT), "
        f"CAST(FLOOR(__pb * {grid}) AS BIGINT))) AS __bk")
    subj = cuma.selectExpr(
        "__va", "__pa", f"CAST(FLOOR(__pa * {grid}) AS BIGINT) AS __bk")
    mapped = (
        subj.join(ref_buckets, "__bk")
        .where("__prev < __pa AND __pb >= __pa")
        .groupBy("__va").agg(F.min("__vb").alias("__out"))
    )
    return cells.join(F.broadcast(mapped), cells["value"] == F.col("__va")).select(
        "row", "col", F.col("__out").alias("value"))


def histogram_matching_two_images(image1: DataFrame,
                                  image2: DataFrame) -> DataFrame:
    """HistogramMatchingTwoImages
    (image_analysis/histogram_matching_two_images.rs): alter image 1's
    cumulative distribution to image 2's. Identical mapping machinery
    to histogram_matching — the reference splits the two-raster form
    into its own tool (HistogramMatching takes a pre-computed histogram
    file); this engine's reference CDF is always computed from a table,
    so the two-images form delegates directly."""
    return histogram_matching(image1, image2)


def write_function_memory_insertion(date1: DataFrame, date2: DataFrame,
                                    date3: DataFrame | None = None) -> DataFrame:
    """WriteFunctionMemoryInsertion
    (image_analysis/write_func_memory_insertion.rs): single-band
    multi-date change composite — date1 -> red, date2 -> green, date3
    (or date2 again when only two dates exist) -> blue; each band
    min-max stretched to 0..255, clamped, truncated, and packed as
    RGBA (alpha 255): value = a<<24 | b<<16 | g<<8 | r. The reference
    stretches against the rasters' display_min/max, which default to
    the band extremes — this engine uses the exact band min/max.

    Plan: three broadcast 1-row min/max aggregates over the equi-joined
    cell tables — no windows, no collects; the pack arithmetic is plain
    DOUBLE (max 2^32 < 2^53, exact)."""
    if date3 is None:
        date3 = date2
    j = (
        date1.select("row", "col", F.col("value").alias("__r"))
        .join(date2.select("row", "col", F.col("value").alias("__g")), ["row", "col"])
        .join(date3.select("row", "col", F.col("value").alias("__b")), ["row", "col"])
    )
    stats = j.agg(
        F.min("__r").alias("rmin"), F.max("__r").alias("rmax"),
        F.min("__g").alias("gmin"), F.max("__g").alias("gmax"),
        F.min("__b").alias("bmin"), F.max("__b").alias("bmax"))

    def band(v, lo, hi):
        # (v - min)/range * 255, clamped to [0, 255], truncated like the
        # reference's `as u32`; NULLIF keeps a constant band NULL-safe on
        # both engines instead of an ANSI divide-by-zero abort
        return (f"FLOOR(LEAST(GREATEST(({v} - {lo}) / NULLIF({hi} - {lo}, 0.0) "
                f"* 255e0, 0e0), 255e0))")

    return j.crossJoin(F.broadcast(stats)).selectExpr(
        "row", "col",
        f"4278190080e0 + {band('__b', 'bmin', 'bmax')} * 65536e0 "
        f"+ {band('__g', 'gmin', 'gmax')} * 256e0 "
        f"+ {band('__r', 'rmin', 'rmax')} AS value",
    )


def flip_image(cells: DataFrame, meta_rows: int, meta_cols: int,
               direction: str = "vertical") -> DataFrame:
    """FlipImage (image_analysis/flip_image.rs): vertical flips rows,
    horizontal flips columns, both flips both."""
    r = f"{meta_rows - 1} - row" if direction in ("vertical", "both") else "row"
    c = f"{meta_cols - 1} - col" if direction in ("horizontal", "both") else "col"
    return cells.selectExpr(f"{r} AS row", f"{c} AS col", "value")


def change_vector_analysis(a1: DataFrame, b1: DataFrame,
                           a2: DataFrame, b2: DataFrame) -> DataFrame:
    """ChangeVectorAnalysis (change_vector_analysis.rs) for two bands:
    magnitude = sqrt(d1^2 + d2^2) of the date1->date2 change vector and
    a sector code from the signs of the band deltas (band1 positive ->
    +1, band2 positive -> +2; 0..3)."""
    j = (
        a1.select("row", "col", F.col("value").alias("__a1"))
        .join(b1.select("row", "col", F.col("value").alias("__b1")), ["row", "col"])
        .join(a2.select("row", "col", F.col("value").alias("__a2")), ["row", "col"])
        .join(b2.select("row", "col", F.col("value").alias("__b2")), ["row", "col"])
    )
    return j.selectExpr(
        "row", "col",
        "SQRT((__a2 - __a1) * (__a2 - __a1) + (__b2 - __b1) * (__b2 - __b1)) AS magnitude",
        "CAST(CASE WHEN __a2 >= __a1 THEN 1 ELSE 0 END + "
        "CASE WHEN __b2 >= __b1 THEN 2 ELSE 0 END AS INT) AS sector",
    )


def pan_sharpen_brovey(r: DataFrame, g: DataFrame, b: DataFrame,
                       pan: DataFrame) -> DataFrame:
    """PanchromaticSharpening, Brovey method (image_analysis/
    pan_sharpening.rs): band_out = band * pan / mean(r, g, b).
    Output: (row, col, r, g, b)."""
    j = (
        r.select("row", "col", F.col("value").alias("__r"))
        .join(g.select("row", "col", F.col("value").alias("__g")), ["row", "col"])
        .join(b.select("row", "col", F.col("value").alias("__b")), ["row", "col"])
        .join(pan.select("row", "col", F.col("value").alias("__p")), ["row", "col"])
    )
    # TRY_DIVIDE: total under ANSI mode — an all-zero rgb pixel yields NULL
    # instead of raising DIVIDE_BY_ZERO
    m = "((__r + __g + __b) / 3.0)"
    return j.selectExpr("row", "col",
                        f"TRY_DIVIDE(__r * __p, {m}) AS r",
                        f"TRY_DIVIDE(__g * __p, {m}) AS g",
                        f"TRY_DIVIDE(__b * __p, {m}) AS b")


def vignetting_unscaled_expr(meta, pp_col: float, pp_row: float,
                             focal_length: float, image_width: float,
                             n: float) -> str:
    """The pass-1 expression of CorrectVignetting — portable SQL text
    (same string builds the DuckDB oracle)."""
    sf = image_width / meta.columns
    dist = (f"SQRT((CAST(row AS DOUBLE) - {float(pp_row)!r}) * "
            f"(CAST(row AS DOUBLE) - {float(pp_row)!r}) + "
            f"(CAST(col AS DOUBLE) - {float(pp_col)!r}) * "
            f"(CAST(col AS DOUBLE) - {float(pp_col)!r}))")
    return (f"value / POWER(COS(ATAN(({dist}) * {sf!r} "
            f"/ {float(focal_length)!r})), {float(n)!r})")


def correct_vignetting(cells: DataFrame, meta, pp_col: float, pp_row: float,
                       focal_length: float = 304.8,
                       image_width: float = 228.6,
                       n: float = 4.0) -> DataFrame:
    """CorrectVignetting (image_analysis/correct_vignetting.rs:330-420):
    z' = z / cos(atan(dist * scale / focal))^n with dist in cells from
    the principal point (pp_col, pp_row) and scale = image_width /
    columns, then the result range is mapped back onto the input range
    (loop 2 of 2): out = min_in + (z' - min_out) / range_out * range_in.
    Two map passes + one broadcast 1-row stats join."""
    u = cells.selectExpr(
        "row", "col", "value",
        f"{vignetting_unscaled_expr(meta, pp_col, pp_row, focal_length, image_width, n)} AS __u")
    stats = u.agg(F.min("value").alias("__min_in"),
                  F.max("value").alias("__max_in"),
                  F.min("__u").alias("__min_out"),
                  F.max("__u").alias("__max_out"))
    return u.crossJoin(F.broadcast(stats)).selectExpr(
        "row", "col",
        "CASE WHEN __max_out > __min_out THEN __min_in + (__u - __min_out) "
        "/ (__max_out - __min_out) * (__max_in - __min_in) ELSE __u END "
        "AS value")


def gaussian_ref_cdf(num_tones: int = 256) -> list[tuple]:
    """The reference Gaussian CDF table of gaussian_contrast_stretch.rs:
    x = -3 + a * 6/(tones-1), density phi(x), cumsum normalized. Rows
    (i, x, p, x_prev, p_prev) — built once in Python so the Spark plan
    and the DuckDB oracle embed the IDENTICAL doubles."""
    import math

    xs, ps = [], []
    for a in range(num_tones):
        x = -3.0 + a * (6.0 / (num_tones - 1.0))
        xs.append(x)
        ps.append((1.0 / math.sqrt(2.0 * math.pi)) * math.exp(-x * x / 2.0))
    for i in range(1, num_tones):
        ps[i] += ps[i - 1]
    total = ps[-1]
    ps = [p / total for p in ps]
    rows = []
    for i in range(num_tones):
        rows.append((i, xs[i], ps[i],
                     xs[i - 1] if i > 0 else xs[0],
                     ps[i - 1] if i > 0 else ps[0]))
    return rows


def gaussian_contrast_stretch(cells: DataFrame,
                              num_tones: int = 256) -> DataFrame:
    """GaussianContrastStretch (
    image_analysis/gaussian_contrast_stretch.rs): histogram the image into ceil(max(range, 2048)) bins, take
    each cell's empirical CDF value, and map it onto a discrete
    Gaussian reference CDF over x in [-3, 3] (num_tones steps) with
    linear interpolation between reference steps.

    Deviation: a cell whose CDF value reaches 1.0 has NO reference row
    with p > p_val; the reference's Rust loop leaves a stale x from the
    previous cell there (thread-order dependent) — this engine clamps
    those cells to x = +3.0.

    Plan: one stats broadcast, one distributed prefix-sum CDF, then the
    reference lookup runs over DISTINCT CDF values (bounded by the bin
    count, ~2048) instead of per cell — the former per-cell nested-loop
    join shuffled a 256x-the-raster intermediate into its min_by
    aggregation; cells pick up their mapped tone with one broadcast
    equi-join on the CDF value. Same doubles, same min_by selection."""
    import math

    spark = cells.sparkSession
    stats = cells.agg(F.min("value").alias("__mn"),
                      F.max("value").alias("__mx"),
                      F.count(F.lit(1)).alias("__n"))
    b = cells.crossJoin(F.broadcast(stats)).selectExpr(
        "row", "col", "__n",
        "CAST(CEIL(GREATEST(__mx - __mn, 2048.0)) AS BIGINT) AS __nb",
        "CASE WHEN __mx > __mn THEN LEAST(CAST((value - __mn) "
        "/ ((__mx - __mn) / CEIL(GREATEST(__mx - __mn, 2048.0))) AS BIGINT), "
        "CAST(CEIL(GREATEST(__mx - __mn, 2048.0)) AS BIGINT) - 1) "
        "ELSE 0 END AS __bin")
    hist = b.groupBy("__bin").agg(F.count(F.lit(1)).alias("__c"))
    cdf = ordered_prefix_sums(hist, ["__bin"], ["__c"])
    withp = (b.join(cdf.select("__bin", "__cum___c"), "__bin")
             .selectExpr("row", "col",
                         "CAST(__cum___c AS DOUBLE) / CAST(__n AS DOUBLE) AS __p"))
    ref = local_frame(
        spark, gaussian_ref_cdf(num_tones),
        "i int, x double, p double, x_prev double, p_prev double")
    pmap = (withp.select("__p").distinct()
            .join(F.broadcast(ref), F.col("p") > F.col("__p"), "left")
            .groupBy("__p")
            .agg(F.expr("MIN_BY(STRUCT(i, x, p, x_prev, p_prev), i)").alias("r")))
    return withp.join(F.broadcast(pmap), "__p").selectExpr(
        "row", "col",
        "CASE WHEN r IS NULL THEN 3.0 "
        "WHEN r.i > 0 AND r.p <> r.p_prev THEN r.x_prev "
        "+ (r.x - r.x_prev) * ((__p - r.p_prev) / (r.p - r.p_prev)) "
        "WHEN r.i > 0 THEN r.x_prev ELSE r.x END AS value")


def image_stack_profile(images: list[DataFrame], points: DataFrame,
                        meta) -> DataFrame:
    """ImageStackProfile (image_analysis/image_stack_profile.rs): the
    raster value of every stacked image at every point. Output
    (record_num, image_num, value); missing cells read nodata."""
    from functools import reduce

    from .raster import extract_values_at_points

    outs = []
    for i, img in enumerate(images):
        outs.append(
            extract_values_at_points(points, img, meta)
            .selectExpr("record_num", f"CAST({i + 1} AS INT) AS image_num",
                        "raster_value AS value"))
    return reduce(lambda a, b: a.unionByName(b), outs)
