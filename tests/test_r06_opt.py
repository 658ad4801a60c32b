"""Round-6 optimization gates: internals changed for performance must
keep results identical, and the new safety knobs must actually bind.

- kNN bin-size invariance: radius is a pure search parameter; the ring
  guarantee keeps idw/nn_gridding exact for ANY bin size (r06 switched
  the registered queries to density-derived radii).
- bm25/tfidf restructure: per-row dl / map-side df equal the
  brute-force definitions.
- semdedup max_cluster_size: clusters above the cap generate no pairs
  (worst-case bound — r05 verdict ask #2); default keeps the exact set.
- transcode driver-egress cap raises past MAX_DRIVER_POINTS
  (r05 verdict ask #3).
- _emb_doubled emits exactly the unionByName rows.
- spread_narrow_scan sizes percent-encoded file: URIs.
"""

import pytest
from pyspark.sql import functions as F


def _pdf(df, keys):
    return df.toPandas().sort_values(keys).reset_index(drop=True)


def test_idw_radius_invariance(spark):
    import sys
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E
    from whitebox_tools_spark.operators import knn as K

    pts = E._points(spark, "/root/testdata/sf0.001")
    a = _pdf(K.idw_interpolation(pts, E._META40, k=4, weight=2.0,
                                 radius=60.0), ["row", "col"])
    b = _pdf(K.idw_interpolation(pts, E._META40, k=4, weight=2.0,
                                 extent_area=E._EXTENT_AREA), ["row", "col"])
    assert a.equals(b)


def test_nn_gridding_radius_invariance(spark):
    import sys
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E
    from whitebox_tools_spark.operators import knn as K

    pts = E._points(spark, "/root/testdata/sf0.001")
    a = _pdf(K.nearest_neighbour_gridding(pts, E._META40, exact=True,
                                          radius=60.0), ["row", "col"])
    b = _pdf(K.nearest_neighbour_gridding(pts, E._META40, exact=True,
                                          extent_area=E._EXTENT_AREA),
             ["row", "col"])
    assert a.equals(b)


def test_bm25_dl_and_df_equal_bruteforce(spark, sf_dir):
    """The restructured per-row dl / distinct-explode df must equal the
    tf-frame definitions they replaced."""
    from whitebox_tools_spark.operators.retrieval import (_term_freqs,
                                                          bm25_topk)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tf = _term_freqs(docs, "text", "doc_id")
    dl_ref = _pdf(tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")),
                  ["doc_id"])
    df_ref = _pdf(tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")),
                  ["term"])
    out = bm25_topk(docs, n_query_terms=5, k=3)
    got = _pdf(out.select("doc_id", "dl").distinct(), ["doc_id"])
    dl_map = dict(zip(dl_ref["doc_id"], dl_ref["dl"]))
    assert all(int(dl_map[d]) == int(v)
               for d, v in zip(got["doc_id"], got["dl"]))
    got_df = _pdf(out.select("term", "df").distinct(), ["term"])
    df_map = dict(zip(df_ref["term"], df_ref["df"]))
    assert all(int(df_map[t]) == int(v)
               for t, v in zip(got_df["term"], got_df["df"]))


def test_semdedup_max_cluster_size_cap(spark):
    from whitebox_tools_spark.operators.similarity import semdedup

    # 12 copies of one vector (one hot cluster) + 3 distinct singletons
    rows = [(i, [1.0] + [0.0] * 63) for i in range(12)]
    rows += [(100 + j, [0.0] * j + [1.0] + [0.0] * (63 - j))
             for j in range(1, 4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = semdedup(emb, threshold=0.98, num_centroids=4)
    capped = semdedup(emb, threshold=0.98, num_centroids=4,
                      max_cluster_size=8)
    # uncapped: the 12 copies form one component with a single keeper
    fp = _pdf(full, ["vec_id"])
    assert int(fp[fp.vec_id < 100].is_kept.sum()) == 1
    # capped: the hot cluster generates no pairs -> all singletons kept
    cp = _pdf(capped, ["vec_id"])
    assert int(cp[cp.vec_id < 100].is_kept.sum()) == 12
    # the singleton vectors are identical under both
    assert fp[fp.vec_id >= 100].equals(cp[cp.vec_id >= 100])


def test_transcode_egress_cap(spark, tmp_path, monkeypatch):
    from whitebox_tools_spark.sources import transcode as TC

    monkeypatch.setattr(TC, "MAX_DRIVER_POINTS", 3)
    csv = tmp_path / "pts.csv"
    csv.write_text("X,Y,Z,INTENSITY,CLASS,RETURN,NUM_RETURN,SCAN_ANGLE\n" +
                   "\n".join(f"{i}.0,{i}.0,{i}.0,1,2,1,1,0"
                             for i in range(6)) + "\n")
    with pytest.raises(ValueError, match="driver-egress cap"):
        TC.ascii_to_las(spark, str(csv), str(tmp_path / "o.las"))


def test_emb_doubled_equals_union(spark):
    import sys
    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    got = _pdf(E._emb_doubled(spark, sf), ["vec_id"])
    emb = E._emb(spark, sf).select("vec_id", "embedding")
    dups = emb.selectExpr(
        "vec_id + 100000 AS vec_id",
        "TRANSFORM(embedding, x -> CAST(x * CAST(0.5 AS FLOAT) AS FLOAT)) "
        "AS embedding")
    ref = _pdf(emb.unionByName(dups), ["vec_id"])
    got["embedding"] = got["embedding"].map(tuple)
    ref["embedding"] = ref["embedding"].map(tuple)
    assert got.equals(ref)


def test_spread_decodes_file_uri(spark, tmp_path):
    """inputFiles() returns percent-encoded file: URIs; a local scan in
    a directory whose name holds a space must still be sized and
    spread."""
    from whitebox_tools_spark.plans.spread import spread_narrow_scan

    path = str(tmp_path / "with space" / "pts.parquet")
    spark.range(10).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert any("%20" in f for f in df.inputFiles())
    out = spread_narrow_scan(df, parallelism=4)
    assert "Repartition" in out._jdf.queryExecution().logical().toString()
    assert sorted(r.id for r in out.collect()) == list(range(10))
