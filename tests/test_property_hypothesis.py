"""Property-based gates (hypothesis) for semantics that have cheap
independent references: the strict-order fold kernels, the ExactSubstr
island merge, the deterministic sharder, the cell-cover PIP join and
connected components.
Spark-backed properties cap max_examples to keep the suite fast; the
numpy-kernel properties run at full default width."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from whitebox_tools_spark.operators import curation as C
from whitebox_tools_spark.operators import similarity as S

_mat = st.integers(min_value=1, max_value=12).flatmap(
    lambda n: st.integers(min_value=1, max_value=6).flatmap(
        lambda d: st.lists(
            st.lists(st.floats(min_value=-8, max_value=8,
                               allow_nan=False, allow_infinity=False,
                               width=32),
                     min_size=d, max_size=d),
            min_size=n, max_size=n)))


@given(_mat)
def test_fold_norms_matches_sequential_reference(rows):
    mat = np.array(rows, dtype=np.float64)
    got = S._fold_norms(mat)
    for i, row in enumerate(mat):
        acc = 0.0
        for j in range(len(row)):  # same j-ascending IEEE order
            acc += row[j] * row[j]
        assert got[i] == np.sqrt(acc)


@given(_mat, st.integers(min_value=1, max_value=5))
def test_fold_sub_dists_matches_sequential_reference(rows, c):
    mat = np.array(rows, dtype=np.float64)
    cent = mat[:c] + 0.5
    got = S._fold_sub_dists(mat, cent)
    for i in range(len(mat)):
        for k in range(len(cent)):
            acc = 0.0
            for j in range(mat.shape[1]):
                d = mat[i, j] - cent[k, j]
                acc += d * d
            assert got[i, k] == acc


def _brute_substring_spans(texts, k):
    """Independent reference: corpus-wide k-gram counts -> duplicated
    positions -> gap->k island merge."""
    grams = {}
    pos = {}
    for did, text in texts:
        toks = text.split()
        pos[did] = []
        for p in range(len(toks) - k + 1):
            g = " ".join(toks[p:p + k])
            grams[g] = grams.get(g, 0) + 1
            pos[did].append((p, g))
    out = []
    for did, plist in pos.items():
        dup = sorted(p for p, g in plist if grams[g] >= 2)
        start = prev = None
        for p in dup:
            if start is None:
                start = prev = p
            elif p - prev > k:
                out.append((did, start, prev + k - 1))
                start = prev = p
            else:
                prev = p
        if start is not None:
            out.append((did, start, prev + k - 1))
    return sorted(out)


_corpus = st.lists(
    st.lists(st.sampled_from("abcdefg"), min_size=1, max_size=12)
    .map(lambda ts: " ".join(ts)),
    min_size=1, max_size=6)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_corpus)
def test_substring_dup_matches_bruteforce(spark, texts):
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r.doc_id, r.span_start, r.span_end)
                 for r in C.substring_dup_spans(docs, k=2,
                                                min_count=2).collect())
    assert got == _brute_substring_spans(rows, k=2)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.integers(min_value=1, max_value=40),
       st.integers(min_value=1, max_value=5),
       st.integers(min_value=0, max_value=3))
def test_corpus_shard_total_and_dense(spark, n, shards, seed):
    docs = spark.range(n).withColumnRenamed("id", "doc_id")
    out = C.corpus_shard(docs, n_shards=shards, seed=seed).collect()
    assert len(out) == n  # total: every doc exactly once
    by_shard = {}
    for r in out:
        assert 0 <= r.shard_id < shards
        by_shard.setdefault(r.shard_id, []).append(r.position)
    for ps in by_shard.values():  # dense rank 0..len-1 per shard
        assert sorted(ps) == list(range(len(ps)))


_corpus = st.lists(
    st.lists(st.sampled_from("ab cd ee fg hi jk".split()),
             min_size=0, max_size=12).map(" ".join),
    min_size=1, max_size=10)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_corpus, st.integers(min_value=1, max_value=7))
def test_pack_sequences_tiles_any_corpus(spark, texts, seq_len):
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = C.pack_sequences(docs, seq_len=seq_len, n_shards=3,
                           seed=1).collect()
    # replicate SPLIT(TRIM(x), '\s+') exactly — empty string -> ['']
    import re as _re

    def spark_tokens(t):
        return _re.split(r"\s+", t.strip())

    total = sum(len(spark_tokens(t)) for t in texts)
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert sum(r.n_in_seq for rs in per_doc.values() for r in rs) == total
    per_seq = {}
    for r in out:
        per_seq[r.seq_id] = per_seq.get(r.seq_id, 0) + r.n_in_seq
    if per_seq:
        n_seq = max(per_seq) + 1
        assert set(per_seq) == set(range(n_seq))
        for sid, tot in per_seq.items():
            assert tot == seq_len or (sid == n_seq - 1 and 0 < tot <= seq_len)
    # pieces tile each doc contiguously
    for did, rs in per_doc.items():
        rs.sort(key=lambda r: r.doc_off)
        off = 0
        for r in rs:
            assert r.doc_off == off
            off += r.n_in_seq
        assert off == len(spark_tokens(texts[did]))


def _ref_bpe_merges(texts, n_merges):
    from collections import Counter
    vocab = Counter(w for t in texts for w in t.split() if w)
    seqs = {w: tuple(w) for w in vocab}
    merges = []
    for r in range(1, n_merges + 1):
        pc = Counter()
        for w, syms in seqs.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += vocab[w]
        if not pc:
            break
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        merges.append((r, a, b, a + b, c))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b); i += 2
                else:
                    out.append(syms[i]); i += 1
            seqs[w] = tuple(out)
    return merges


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.lists(st.sampled_from(["aba", "bab", "aa", "abab", "bb", "a"]),
             min_size=1, max_size=8).map(" ".join),
    min_size=1, max_size=6),
    st.integers(min_value=1, max_value=4))
def test_bpe_train_matches_reference_on_random_corpora(spark, texts, R):
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    _, merges = C.bpe_train(docs, n_merges=R)
    assert merges == _ref_bpe_merges(texts, R)


# --- retrieval: TF-IDF / BM25 on random corpora vs pure-Python refs ---

_rv_corpus = st.lists(
    st.lists(st.sampled_from(["ant", "bee", "cat", "dog", "elk", "fox"]),
             min_size=1, max_size=8).map(lambda ts: " ".join(ts)),
    min_size=2, max_size=8)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_rv_corpus)
def test_tfidf_topk_matches_reference(spark, texts):
    import math
    from collections import Counter

    from whitebox_tools_spark.operators import retrieval as RV

    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    out = sorted((r.doc_id, r.rank, r.term, r.tf, r.df)
                 for r in RV.tfidf_top_terms(docs, k=2).collect())
    tf = {i: Counter(t.split()) for i, t in enumerate(texts)}
    n = len(tf)
    df = Counter(t for c in tf.values() for t in c)
    want = []
    for i, c in tf.items():
        scored = sorted(
            ((c[t] * (math.log((n + 1) / (df[t] + 1)) + 1), t) for t in c),
            key=lambda x: (-round(x[0], 6), x[1]))
        want += [(i, rk, t, c[t], df[t])
                 for rk, (_s, t) in enumerate(scored[:2], start=1)]
    assert out == sorted(want)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_rv_corpus, st.integers(min_value=1, max_value=3))
def test_bm25_topk_matches_reference(spark, texts, k):
    import math
    from collections import Counter

    from whitebox_tools_spark.operators import retrieval as RV

    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")
    out = sorted((r.term, r.rank, r.doc_id)
                 for r in RV.bm25_topk(docs, n_query_terms=3, k=k,
                                       n_salt=4).collect())
    tf = {i: Counter(t.split()) for i, t in enumerate(texts)}
    n = len(tf)
    df = Counter(t for c in tf.values() for t in c)
    dl = {i: sum(c.values()) for i, c in tf.items()}
    avgdl = sum(dl.values()) / n
    qt = sorted(df, key=lambda t: (-df[t], t))[:3]
    want = []
    for t in qt:
        scored = sorted(
            ((math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
              * c[t] * 2.2 / (c[t] + 1.2 * (0.25 + 0.75 * dl[i] / avgdl)), i)
             for i, c in tf.items() if t in c),
            key=lambda x: (-round(x[0], 6), x[1]))
        want += [(t, rk, i) for rk, (_s, i) in enumerate(scored[:k], start=1)]
    assert out == sorted(want)


# rings on a 0.5 lattice, so the lattice points below land exactly on
# vertices, on edges and on bbox sides (the boundary-outside cases)
_half = st.integers(min_value=0, max_value=16).map(lambda v: v / 2.0)
_ring = st.lists(st.tuples(_half, _half), min_size=3, max_size=7).map(
    lambda vs: vs + [vs[0]])
_layer = st.lists(st.tuples(st.lists(_ring, min_size=1, max_size=2),
                            st.lists(_ring, min_size=0, max_size=2)),
                  min_size=1, max_size=3)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_layer, st.sampled_from([0.5, 1.5, 4.0]))
def test_cellcover_pip_matches_numpy_and_codegen(spark, layer, radius):
    from whitebox_tools_spark.functions import geometry as G
    from whitebox_tools_spark.operators import pip_join as PJ
    from whitebox_tools_spark.sources.fixtures import polygons_df

    polygons = polygons_df(spark, [
        {"polygon_id": pid, "name": str(pid),
         "parts": [{"is_hole": False, "ring": r} for r in shells]
         + [{"is_hole": True, "ring": r} for r in holes]}
        for pid, (shells, holes) in enumerate(layer, start=1)])
    grid = np.arange(-1, 18) / 2.0
    px, py = (a.ravel() for a in np.meshgrid(grid, grid))
    points = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(px, py))],
        "record_num long, x double, y double")
    want = set()
    for rec in PJ.collect_polygons(polygons):
        mask = G.points_in_feature(px, py, rec.shells, rec.holes, rec.bbox)
        want |= {(int(i), rec.polygon_id) for i in np.nonzero(mask)[0]}
    cover = {(r.record_num, r.polygon_id) for r in
             PJ.points_in_polygons_cellcover(points, polygons, radius).collect()}
    codegen = {(r.record_num, r.polygon_id) for r in
               PJ.points_in_polygons(points, polygons, plan="codegen").collect()}
    assert cover == want
    assert codegen == want


def _union_find_components(edges):
    """Reference: {node: smallest node of its component} by union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


_node = st.integers(min_value=0, max_value=19)
# random edges (self loops, repeats, one direction only) plus a path of
# 7+ nodes in shuffled id order, long enough for the round-3 jump
_graph = st.tuples(st.lists(st.tuples(_node, _node), max_size=16),
                   st.permutations(range(20)),
                   st.integers(min_value=7, max_value=14))


@pytest.mark.parametrize("ids", ["bigint", "struct"])
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_graph)
def test_connected_components_matches_union_find(spark, ids, graph):
    from whitebox_tools_spark.operators.clump import connected_components

    rand, perm, n = graph
    path = list(zip(perm[:n - 1], perm[1:n]))
    edges = rand + path + [path[0], path[1][::-1], (perm[0], perm[0])]
    if ids == "struct":
        # (kx, ky) order differs from the integer order of the same nodes
        node, schema = (lambda i: (i % 3, i // 3)), "struct<kx:long,ky:long>"
    else:
        node, schema = (lambda i: i), "long"
    df = spark.createDataFrame([(node(a), node(b)) for a, b in edges],
                               f"a {schema}, b {schema}")
    got = {(tuple(r["id"]) if ids == "struct" else r["id"]):
           (tuple(r["comp"]) if ids == "struct" else r["comp"])
           for r in connected_components(df, "cc property", 32).collect()}
    assert got == _union_find_components([(node(a), node(b)) for a, b in edges])


# targets on a 0.5 lattice: distance ties between targets, and k-th
# distances exactly on the stop bound reach * bin_size (bins 0.5, 1.0,
# 1.5); queries on the same lattice plus two in an empty region, so
# rings expand and bins come back empty
_lattice_pt = st.tuples(_half, _half)
_knn_input = st.tuples(
    st.lists(_lattice_pt, min_size=1, max_size=30, unique=True),
    st.lists(_lattice_pt, min_size=1, max_size=12),
    st.sampled_from([1.0, 2.0, 3.0]))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_knn_input)
def test_knn_joins_match_brute_force_and_wbt(spark, knn_input):
    from test_knn import _collect, brute_knn, numpy_wbt_knn

    from whitebox_tools_spark.operators.knn import knn_join_exact, knn_join_wbt

    tpts, qpts, radius = knn_input
    qpts = qpts + [(12.0, 12.0), (13.5, 9.5)]
    tx, ty = (np.array(a, dtype=float) for a in zip(*tpts))
    qx, qy = (np.array(a, dtype=float) for a in zip(*qpts))
    t = spark.createDataFrame([(i, float(a), float(b)) for i, (a, b) in enumerate(tpts)],
                              "target_id long, x double, y double")
    q = spark.createDataFrame([(i, float(a), float(b)) for i, (a, b) in enumerate(qpts)],
                              "query_id long, x double, y double")

    for k in (1, 4):
        assert _collect(knn_join_exact(q, t, k=k, radius=radius)) == \
            brute_knn(qx, qy, tx, ty, k)
        # WBT has no brute-force fallback to hide a lost candidate
        assert _collect(knn_join_wbt(q, t, k=k, radius=radius, max_rounds=12)) == \
            numpy_wbt_knn(qx, qy, tx, ty, k, radius, max_rounds=12)
