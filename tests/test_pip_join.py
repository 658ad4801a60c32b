"""PIP join plans vs brute-force numpy oracle + span invariant."""

import re

import numpy as np
import pytest

from whitebox_tools_spark.functions import geometry as G
from whitebox_tools_spark.operators.pip_join import (
    clip_points,
    collect_polygons,
    erase_points,
    points_in_polygons,
    points_in_polygons_cellcover,
)
from whitebox_tools_spark.sources.docs import extract_points, spans_fingerprint, synth_docs
from whitebox_tools_spark.sources.fixtures import FIXTURE_POLYGONS, polygons_df


@pytest.fixture(scope="module")
def points(spark):
    rng = np.random.RandomState(11)
    xs = rng.uniform(0, 1000, 2000)
    ys = rng.uniform(0, 1000, 2000)
    return spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "record_num long, x double, y double",
    ).cache()


@pytest.fixture(scope="module")
def polys(spark):
    return polygons_df(spark)


def _oracle_pairs(points_rows, recs):
    px = np.array([r["x"] for r in points_rows])
    py = np.array([r["y"] for r in points_rows])
    ids = [r["record_num"] for r in points_rows]
    pairs = set()
    for rec in recs:
        mask = G.points_in_feature(px, py, rec.shells, rec.holes, rec.bbox)
        for i in np.nonzero(mask)[0]:
            pairs.add((ids[i], rec.polygon_id))
    return pairs


def test_tag_join_matches_oracle(spark, points, polys):
    recs = collect_polygons(polys)
    expected = _oracle_pairs(points.collect(), recs)
    got = {(r["record_num"], r["polygon_id"]) for r in points_in_polygons(points, polys).collect()}
    assert got == expected
    assert len(got) > 50  # sanity: fixture polygons actually contain points


def test_cellcover_plan_equals_broadcast_plan(spark, points, polys):
    a = {(r["record_num"], r["polygon_id"]) for r in points_in_polygons(points, polys).collect()}
    b = {
        (r["record_num"], r["polygon_id"])
        for r in points_in_polygons_cellcover(points, polys, radius=100.0).collect()
    }
    assert a == b


def test_clip_erase_partition(spark, points, polys):
    kept = clip_points(points, polys)
    erased = erase_points(points, polys)
    n = points.count()
    assert kept.count() + erased.count() == n
    kept_ids = {r["record_num"] for r in kept.collect()}
    erased_ids = {r["record_num"] for r in erased.collect()}
    assert not kept_ids & erased_ids


def test_hole_points_are_erased(spark, polys):
    # center of polygon 3's hole
    df = polys.sparkSession.createDataFrame(
        [(0, 650.0, 700.0), (1, 550.0, 550.0)], "record_num long, x double, y double"
    )
    kept = {r["record_num"] for r in clip_points(df, polys).collect()}
    assert kept == {1}


def test_span_invariant_through_pip(spark, polys):
    docs = synth_docs(spark, 200).cache()
    pts = extract_points(docs)
    tagged = points_in_polygons(pts, polys)
    # join tags back onto docs; spans must be byte-identical
    out = docs.join(tagged.select("doc_id", "polygon_id").distinct(), "doc_id", "left")
    before = {r["doc_id"]: r["spans_fp"] for r in spans_fingerprint(docs).collect()}
    after = {r["doc_id"]: r["spans_fp"] for r in spans_fingerprint(out).collect()}
    assert before == after


def _python_nodes(df) -> list[str]:
    """Python-worker operators (pandas/Arrow UDF exchanges) in the
    executed plan of an already-run frame."""
    tree = df._jdf.queryExecution().executedPlan().treeString()
    return re.findall(r"\b\w*(?:Pandas|Python|InArrow)\w*", tree)


def test_cellcover_refine_runs_in_jvm(spark, points, polys):
    from whitebox_tools_spark.operators.pip_join import clip_points_cellcover

    tagged = points_in_polygons_cellcover(points, polys, 50.0)
    base = {(r["record_num"], r["polygon_id"]) for r in tagged.collect()}
    ref = {(r["record_num"], r["polygon_id"])
           for r in points_in_polygons(points, polys).collect()}
    assert base == ref
    clipped = clip_points_cellcover(points, polys, 50.0, key=["record_num"])
    clipped.collect()
    for df in (tagged, clipped):
        assert _python_nodes(df) == []


def test_auto_dispatch_over_cap_layer(spark, points, polys, monkeypatch):
    """plan='auto' with a layer over MAX_DRIVER_POLYGONS must not
    collect: it falls through to the cell-cover plan and still matches
    the broadcast result."""
    import whitebox_tools_spark.operators.pip_join as PJ

    monkeypatch.setattr(PJ, "MAX_DRIVER_POLYGONS", 2)  # fixture has 5
    expected = {
        (r["record_num"], r["polygon_id"])
        for r in PJ.points_in_polygons_cellcover(points, polys, radius=100.0).collect()
    }
    got = {
        (r["record_num"], r["polygon_id"])
        for r in PJ.points_in_polygons(points, polys, plan="auto").collect()
    }
    assert got == expected
    with pytest.raises(ValueError, match="MAX_DRIVER_POLYGONS"):
        PJ.collect_polygons(polys)
    # explicit plan choice bypasses the cap (caller takes responsibility)
    assert len(PJ.collect_polygons(polys, max_rows=None)) == polys.count()


def test_clip_cellcover_matches_broadcast(spark, points, polys):
    from whitebox_tools_spark.operators.pip_join import clip_points_cellcover

    kept_b = {r["record_num"] for r in clip_points(points, polys).collect()}
    kept_c = {r["record_num"]
              for r in clip_points_cellcover(points, polys, 100.0,
                                             key=["record_num"]).collect()}
    erased_b = {r["record_num"] for r in erase_points(points, polys).collect()}
    erased_c = {r["record_num"]
                for r in clip_points_cellcover(points, polys, 100.0,
                                               key=["record_num"],
                                               erase=True).collect()}
    assert kept_c == kept_b
    assert erased_c == erased_b
