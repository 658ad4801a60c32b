"""Round-2 similarity/dedup gates: IVF recall, simhash64 banding
exactness, LSH-blocked embedding dedup recall + plan shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

import whitebox_tools_spark.operators.dedup as D
import whitebox_tools_spark.operators.similarity as S

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_ann_ivf_recall_gate(spark, emb):
    """IVF with the registered query params must reach >= 0.9 recall vs
    the exact top-k on the (adversarial, unclustered) fixture."""
    q = emb.where("vec_id % 10 = 0")
    exact = {(r["query_id"], r["target_id"])
             for r in S.ann_topk_exact_sql(q, emb, k=10).collect()}
    ivf = {(r["query_id"], r["target_id"])
           for r in S.ann_topk_ivf(q, emb, k=10, num_centroids=16, n_probe=12).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.9, recall


def test_ann_ivf_plan_is_bucketed(spark, emb):
    q = emb.where("vec_id % 10 = 0")
    plan = S.ann_topk_ivf(q, emb, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_ann_ivf_centroids_scale_with_corpus():
    """Auto-sized quantizer width grows ~sqrt(n) — a 10^12 corpus must
    never land on a fixture-scale 16-way shuffle."""
    assert S._auto_centroids(0) == 4
    assert S._auto_centroids(100) == 10
    assert S._auto_centroids(1_000_000) == 1000
    assert S._auto_centroids(10**12) == 1 << 16  # capped
    prev = 0
    for n in (10, 10**3, 10**6, 10**9, 10**12):
        cur = S._auto_centroids(n)
        assert cur >= prev
        prev = cur


def test_ann_ivf_auto_defaults_run(spark, emb):
    q = emb.where("vec_id % 50 = 0")
    out = S.ann_topk_ivf(q, emb, k=5)
    rows = out.groupBy("query_id").count().collect()
    assert rows and all(r["count"] <= 5 for r in rows)


def test_simhash64_banding_is_exact(spark, docs):
    """4x16-bit banding must return the IDENTICAL pair set as brute-force
    hamming <= 3 over the same 64-bit fingerprints (pigeonhole)."""
    got = {(r["id_a"], r["id_b"], r["hamming"])
           for r in D.simhash64_pairs(docs).collect()}
    import whitebox_tools_spark.functions.text as T

    s_th, _ = T.token_md5s_exprs("text")
    s_bands, _ = T.simhash64_band_exprs("text")
    sig = docs.selectExpr("doc_id AS id", f"{s_th} AS __th").selectExpr(
        "id", *[f"{s_bands[j]} AS b{j}" for j in range(4)]
    )
    a = sig.selectExpr("id AS id_a", *[f"b{j} AS a{j}" for j in range(4)])
    b = sig.selectExpr("id AS id_b", *[f"b{j} AS c{j}" for j in range(4)])
    ham = " + ".join(f"BIT_COUNT(CAST(a{j} AS BIGINT) ^ CAST(c{j} AS BIGINT))"
                     for j in range(4))
    brute = {(r["id_a"], r["id_b"], r["hamming"]) for r in
             a.crossJoin(b).where("id_a < id_b")
             .selectExpr("id_a", "id_b", f"CAST({ham} AS BIGINT) AS hamming")
             .where("hamming <= 3").collect()}
    assert got == brute
    assert brute, "fixture should contain near-dup docs"


def test_embedding_dups_blocked_recall_and_plan(spark, emb):
    """The LSH-blocked plan must find every injected scaled-copy pair
    (power-of-2 scaling -> identical bucket) with no cartesian join."""
    dups = emb.selectExpr(
        "vec_id + 100000 AS vec_id",
        "TRANSFORM(embedding, x -> CAST(x * CAST(0.5 AS FLOAT) AS FLOAT)) AS embedding",
    )
    u = emb.unionByName(dups)
    out = D.embedding_dup_pairs(u, threshold=0.98)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    n = emb.count()
    want = {(r["vec_id"], r["vec_id"] + 100000) for r in emb.select("vec_id").collect()}
    assert pairs == want
    assert len(pairs) == n


def test_collect_matrix_cap(spark, emb):
    with pytest.raises(ValueError, match="driver-collect cap"):
        S._collect_matrix(emb, "vec_id", "embedding", max_rows=10)


def test_ann_lsh_recall_gate_registered_params(spark, emb):
    """LSH with the REGISTERED query params (k=10, num_planes=8, 1-bit
    multiprobe) vs the exact top-10. The fixture embeddings are
    near-random 64-dim, the worst case for angular LSH: 8 planes +
    1-bit multiprobe visit 9/256 of bucket space, so the gate asserts
    clear (>2x) separation from random candidate sampling (9/256 ~
    0.035), not IVF-grade recall (that engine is ann_topk_ivf, gated
    >= 0.9; callers needing recall on unclustered data should use it)."""
    q = emb.where("vec_id % 10 = 0")
    exact = {(r["query_id"], r["target_id"])
             for r in S.ann_topk_exact_sql(q, emb, k=10).collect()}
    lsh = {(r["query_id"], r["target_id"])
           for r in S.ann_topk_lsh(q, emb, k=10, num_planes=8, dim=64).collect()}
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.08, recall


def test_minhash_hot_band_cap(spark, docs):
    """Capped bands drop boilerplate candidates but identical pairs
    still surface through their other (non-hot) bands; cap=inf equals
    the uncapped plan exactly."""
    base = {(r["id_a"], r["id_b"])
            for r in D.minhash_lsh_pairs(docs.limit(300)).collect()}
    capped_inf = {(r["id_a"], r["id_b"])
                  for r in D.minhash_lsh_pairs(docs.limit(300),
                                               max_band_size=10**9).collect()}
    assert capped_inf == base
    capped = {(r["id_a"], r["id_b"])
              for r in D.minhash_lsh_pairs(docs.limit(300),
                                           max_band_size=50).collect()}
    assert capped <= base


def test_embedding_dups_auto_planes(spark, emb):
    sub = emb.limit(400)
    rows = sub.collect()
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = [r["vec_id"] for r in rows]
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    want = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if S[i, j] >= 0.95:
                a, b = sorted((ids[i], ids[j]))
                want.add((a, b))
    auto = {(r["id_a"], r["id_b"])
            for r in D.embedding_dup_pairs(sub, num_planes=None,
                                           threshold=0.95).collect()}
    # auto-sized planes (ceil(log2 n)+2) keep full recall on the true pairs
    assert want <= auto, want - auto


def test_candidate_pairs_unique_without_dedup(spark, emb):
    """The sign-LSH / IVF candidate joins produce each pair at most once
    BY CONSTRUCTION (one bucket/centroid key per build row, distinct
    probe keys), so the plans carry no dropDuplicates shuffle. Pin the
    invariant: a future multi-key build side would silently duplicate
    output rows here."""
    sub = emb.limit(500)
    q = sub.where("vec_id % 10 = 0")
    for out, keys in (
        (D.embedding_dup_pairs(sub, threshold=0.5), ["id_a", "id_b"]),
        (S.ann_topk_lsh(q, sub, k=5), ["query_id", "target_id"]),
        (S.ann_topk_ivf(q, sub, k=5, num_centroids=8, n_probe=3),
         ["query_id", "target_id"]),
    ):
        n = out.count()
        assert out.select(*keys).distinct().count() == n


def test_ivfpq_recall_gate(spark, emb):
    """IVF-PQ with the registered query params must reach >= 0.9 recall
    vs the exact top-k (ADC shortlist 160 + exact re-rank; measured
    0.948 on this fixture — margin over the gate)."""
    q = emb.where("vec_id % 10 = 0")
    exact = {(r["query_id"], r["target_id"])
             for r in S.ann_topk_exact_sql(q, emb, k=10).collect()}
    pq = {(r["query_id"], r["target_id"])
          for r in S.ann_topk_ivfpq(q, emb, k=10, num_centroids=16,
                                    n_probe=12, m=16, n_codes=16,
                                    shortlist=160).collect()}
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.9, recall


def test_pq_encode_layout_independent(spark, emb):
    """Codes are a pure function of (corpus, seed): training + encoding
    over a different partition layout yields identical codes, and every
    code is in range."""
    books = S.pq_codebooks(emb, m=4, n_codes=8, dim=64, seed=42, iters=2)
    books2 = S.pq_codebooks(emb.repartition(7), m=4, n_codes=8, dim=64,
                            seed=42, iters=2)
    assert np.array_equal(books, books2)
    bc = spark.sparkContext.broadcast(books)
    a = sorted(map(tuple, S.pq_encode(emb, bc, 4).collect()))
    b = sorted(map(tuple, S.pq_encode(emb.repartition(5), bc, 4).collect()))
    assert a == b
    assert all(0 <= c < 8 for row in a for c in row[1:])


def test_pq_compression_shape(spark, emb):
    """The candidate rows of the IVF-PQ join carry codes, not vectors:
    the encode output schema is (id, m ints) — the 10^12-vector memory
    contract — and reconstruction error decreases with m (sanity that
    subspace training actually fits the data)."""
    n = emb.count()
    books8 = S.pq_codebooks(emb, m=8, n_codes=16, dim=64, seed=42)
    bc8 = spark.sparkContext.broadcast(books8)
    enc = S.pq_encode(emb, bc8, 8)
    assert enc.columns == ["vec_id"] + [f"code_{s}" for s in range(8)]
    assert enc.count() == n

    def recon_err(m, n_codes):
        books = S.pq_codebooks(emb, m=m, n_codes=n_codes, dim=64, seed=42)
        bc = spark.sparkContext.broadcast(books)
        rows = S.pq_encode(emb, bc, m).join(emb, "vec_id").collect()
        import numpy as np2
        err = 0.0
        for r in rows:
            v = np2.array(r["embedding"], dtype=np2.float64)
            v = v / max(np2.sqrt((v * v).sum()), 1e-12)
            rec = np2.concatenate([books[s][r[f"code_{s}"]] for s in range(m)])
            err += float(((v - rec) ** 2).sum())
        return err / len(rows)

    assert recon_err(16, 16) < recon_err(4, 16)


class TestSemDedup:
    def test_planted_duplicates_and_keeper_rule(self, spark):
        import numpy as np

        from whitebox_tools_spark.operators.similarity import semdedup

        rng = np.random.RandomState(5)
        base = [(i, [float(np.float32(v)) for v in rng.randn(64)])
                for i in range(120)]
        dups = [(i + 1000, [x * 0.5 for x in vec]) for i, vec in base
                if i % 3 == 0]
        emb = spark.createDataFrame(
            base + dups, "vec_id long, embedding array<double>")
        out = {r["vec_id"]: r for r in
               semdedup(emb, threshold=0.98, num_centroids=8).collect()}
        # totality: one verdict per input vector
        assert len(out) == len(base) + len(dups)
        for i, _ in base:
            if i % 3 == 0:
                a, b = out[i], out[i + 1000]
                # the exact scaled copy shares the cluster/component...
                assert a["cluster_id"] == b["cluster_id"] == min(i, i + 1000)
                assert a["centroid"] == b["centroid"]
                # ...and exactly one of the two survives
                assert a["is_kept"] + b["is_kept"] == 1
            else:
                # random gaussians are mutually far: singleton, kept
                assert out[i]["cluster_id"] == i and out[i]["is_kept"] == 1
        # keeper = lowest (rounded cent_sim, id) within each component
        comps = {}
        for r in out.values():
            comps.setdefault(r["cluster_id"], []).append(r)
        for members in comps.values():
            best = min(members, key=lambda r: (r["cent_sim"], r["vec_id"]))
            for r in members:
                assert r["is_kept"] == (1 if r is best else 0)


def test_ivfpq_rejects_duplicate_query_ids(spark, emb):
    """The query vectors are broadcast as a dict keyed by query id, so a
    repeated id would silently keep one vector: it must raise."""
    q = emb.where("vec_id % 10 = 0")
    dup = q.unionByName(q.limit(1))
    with pytest.raises(ValueError, match="unique"):
        S.ann_topk_ivfpq(dup, emb, k=5, num_centroids=8, n_probe=3, m=4,
                         n_codes=8, shortlist=20)
