"""Approximate-nearest-neighbor search over embedding columns.

- ann_topk_bruteforce — exact top-k cosine, the correctness baseline.
  Physical plan: broadcast the (small) query block as a numpy matrix,
  stream target batches through mapInPandas doing one BLAS matmul per
  Arrow batch, emit per-(query, target) partial top-k, then one global
  top-k window. This is the scalable exact plan: 10^12 targets stream
  through executors; only k rows per query survive per batch.
- ann_topk_ivf — IVF-style bucketed ANN: coarse-quantize targets to the
  nearest of C centroids (deterministic k-means-- seeded from hashed
  sample), probe nprobe nearest centroids per query. The scale path.
- lsh_buckets — sign-LSH (random-hyperplane) bucketing with
  deterministic, seed-derived hyperplanes.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType


_MAX_DRIVER_VECTORS = 200_000  # ~100 MB of float64 at dim 64


def _collect_matrix(df: DataFrame, id_col: str, vec_col: str,
                    max_rows: int = _MAX_DRIVER_VECTORS) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side collect of a QUERY block — hard-capped so a mis-aimed
    call can't OOM the driver; the target side always streams."""
    capped = df.select(id_col, vec_col).limit(max_rows + 1).collect()
    if len(capped) > max_rows:
        raise ValueError(
            f"query block exceeds the {max_rows}-vector driver-collect cap; "
            f"split the queries or use the bucketed (IVF/LSH) engines"
        )
    ids = np.array([r[0] for r in capped], dtype=np.int64)
    mat = np.array([r[1] for r in capped], dtype=np.float64)
    return ids, mat


def ann_topk_bruteforce(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query over all targets.

    Output: (query_id, target_id, cosine, sim_rank), rank 1..k ordered by
    (-cosine, target_id). Self-matches (same id) are excluded.
    """
    q_ids, q_mat = _collect_matrix(queries, id_col, vec_col)
    q_norm = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    sc = targets.sparkSession.sparkContext
    bc = sc.broadcast((q_ids, q_norm))

    schema = StructType(
        [
            StructField("query_id", LongType(), False),
            StructField("target_id", LongType(), False),
            StructField("cosine", DoubleType(), False),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, qm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            t_ids = pdf[id_col].to_numpy(dtype=np.int64)
            t_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            t_mat = t_mat / np.linalg.norm(t_mat, axis=1, keepdims=True)
            sims = qm @ t_mat.T  # (Q, B)
            # per-batch partial top-k per query keeps the shuffle tiny
            kk = min(k + 1, sims.shape[1])
            idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            out_q, out_t, out_s = [], [], []
            for qi in range(sims.shape[0]):
                cols = idx[qi]
                out_q.extend([ids[qi]] * len(cols))
                out_t.extend(t_ids[cols])
                out_s.extend(sims[qi, cols])
            yield pd.DataFrame({"query_id": out_q, "target_id": out_t, "cosine": out_s})

    partial = targets.mapInPandas(score, schema=schema).where(
        F.col("query_id") != F.col("target_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "target_id")
    return (
        partial.withColumn("sim_rank", F.row_number().over(w))
        .where(F.col("sim_rank") <= k)
    )


def ann_topk_exact_sql(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine with fold-order arithmetic (the oracle-gated
    plan). The queries block is broadcast, targets stream; cosine is a
    left fold in element order — computed by the Arrow-batched
    _cosine_fold_udf, which replays the SQL ZIP_WITH/AGGREGATE fold's
    IEEE operation sequence exactly (verified bitwise vs the expression
    tree), so every double is reproducible bit-for-bit on any engine
    evaluating the same fold. Use ann_topk_bruteforce (BLAS batched)
    when raw throughput matters more than bit-parity.
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    t = targets.select(F.col(id_col).alias("target_id"), F.col(vec_col).alias("tv"))
    cand = (
        t.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("target_id"))
        .select("query_id", "target_id",
                _cosine_fold_udf("qv", "tv").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "target_id")
    return cand.withColumn("sim_rank", F.row_number().over(w)).where(F.col("sim_rank") <= k)


@F.pandas_udf(DoubleType())  # DataType instance: a DDL string would need a live SparkContext at import time
def _cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched exact cosine over two array columns.

    Replaces the former per-pair SQL ZIP_WITH/AGGREGATE folds in the
    LSH/IVF candidate scoring: higher-order functions run in the
    expression interpreter (no codegen), ~30x slower than one numpy
    einsum per Arrow batch. Used only on the recall-gated approximate
    engines — oracle-gated plans use _cosine_fold_udf below, which
    reproduces the SQL fold's operation order bitwise."""
    ma = np.array(list(a), dtype=np.float64)
    mb = np.array(list(b), dtype=np.float64)
    num = np.einsum("ij,ij->i", ma, mb)
    den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    return pd.Series(num / den)


@F.pandas_udf(DoubleType())
def _cosine_fold_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched cosine that is BIT-IDENTICAL to the SQL
    ZIP_WITH/AGGREGATE left fold (and DuckDB's list_reduce replay).

    Unlike _cosine_udf's einsum (pairwise/SIMD summation — differs from
    the fold in the last ulps), this accumulates dot and norms in strict
    element order with one vectorized `acc + x*y` per dimension: every
    intermediate is the same correctly-rounded IEEE double the SQL fold
    produces (the float32 -> float64 element cast is exact), so
    downstream threshold filters and rank orders match the interpreted
    fold exactly — at numpy speed instead of the expression
    interpreter's per-element lambda dispatch. Safe for oracle-gated
    plans (embedding_dup_pairs, ann_topk_exact_sql)."""
    if len(a) == 0:
        return pd.Series([], dtype=np.float64)
    ma = np.array(list(a), dtype=np.float64)
    mb = np.array(list(b), dtype=np.float64)
    n, d = ma.shape
    dot = np.zeros(n)
    na = np.zeros(n)
    nb = np.zeros(n)
    for j in range(d):
        ca, cb = ma[:, j], mb[:, j]
        dot += ca * cb
        na += ca * ca
        nb += cb * cb
    return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))


def lsh_buckets(
    df: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-LSH bucket id from deterministic hyperplanes.

    Hyperplane weights are seeded Gaussian draws
    (np.random.RandomState(seed).randn), captured as constants — the
    codes are deterministic for a fixed (seed, num_planes, dim). The
    per-plane dot runs as an Arrow-batched fold-order numpy kernel
    (acc + x_j * w_j in element order): bit-identical to the SQL
    ZIP_WITH/AGGREGATE fold it replaces (the float32 -> float64 cast is
    exact, each step is the same correctly-rounded IEEE op), so bucket
    codes — and therefore candidate sets — are unchanged, at numpy
    speed instead of num_planes interpreted lambdas per row.
    """
    rng = np.random.RandomState(seed)
    planes = rng.randn(num_planes, dim)
    weights = [1 << p for p in range(num_planes)]

    @F.pandas_udf(LongType())
    def code(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=np.int64)
        m = np.array(list(v), dtype=np.float64)
        n, d = m.shape
        out = np.zeros(n, dtype=np.int64)
        for p in range(num_planes):
            acc = np.zeros(n)
            for j in range(d):
                acc += m[:, j] * planes[p, j]
            out += np.where(acc > 0.0, weights[p], 0)
        return pd.Series(out)

    return df.withColumn("lsh_bucket", code(vec_col))


def ann_topk_lsh(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed ANN: candidates share the sign-LSH bucket; exact cosine +
    top-k within bucket. Recall < 1 by design (scale path); pair with
    multi-probe (flip one bit) for higher recall.

    The bucket join carries ONLY (id, bucket) keys — the multi-probe
    fan-out of the full float vector would dominate the shuffle at any
    real corpus size; vectors re-attach to the deduplicated candidate
    pairs by id (the embedding_dup_pairs shuffle discipline)."""
    qb = lsh_buckets(queries, num_planes, dim, vec_col=vec_col).select(
        F.col(id_col).alias("query_id"), "lsh_bucket"
    )
    # multi-probe: original bucket + 1-bit flips
    probes = qb.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.col("lsh_bucket"),
                *[F.expr(f"CAST(lsh_bucket AS BIGINT) ^ {1 << b}") for b in range(num_planes)],
            )
        ),
    ).drop("lsh_bucket")
    tb = lsh_buckets(targets, num_planes, dim, vec_col=vec_col).select(
        F.col(id_col).alias("target_id"),
        F.col("lsh_bucket").cast("bigint").alias("bucket"),
    )
    # pairs are unique by construction — each target carries exactly ONE
    # bucket code and the probe keys (own code + distinct 1-bit flips) are
    # pairwise distinct, so a (query, target) pair can match on at most one
    # bucket. No dedup shuffle needed over the candidate set.
    pairs = (
        probes.join(tb, "bucket")
        .where(F.col("query_id") != F.col("target_id"))
        .select("query_id", "target_id")
    )
    va = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    vb = targets.select(F.col(id_col).alias("target_id"), F.col(vec_col).alias("tv"))
    cand = (
        pairs.join(va, "query_id").join(vb, "target_id")
        .select("query_id", "target_id",
                # fold-order cosine (not einsum): bit-identical to the
                # DuckDB list_reduce replay, which lets the ann_lsh
                # driver query gate as a full oracle (codes are already
                # deterministic literal-plane folds) at the same speed
                _cosine_fold_udf("qv", "tv").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "target_id")
    return cand.withColumn("sim_rank", F.row_number().over(w)).where(F.col("sim_rank") <= k)


def _auto_centroids(n: int) -> int:
    """Auto-sized coarse-quantizer width: ~sqrt(n) centroids (inverted
    lists of ~sqrt(n) vectors each), floored at 4 and capped at 2^16.
    The cap bounds the driver-side Lloyd sample (num_centroids * 64
    rows) and the broadcast centroid matrix; past ~4B vectors raise it
    together with a sharded quantizer-training pass."""
    if n <= 0:
        return 4
    return int(min(max(4, round(math.sqrt(n))), 1 << 16))


def _fold_norms(mat: np.ndarray) -> np.ndarray:
    """Row norms accumulated in strict element order (the
    _cosine_fold_udf discipline): bit-identical to the SQL/DuckDB
    left-fold sqrt(sum(x_j^2))."""
    acc = np.zeros(len(mat))
    for j in range(mat.shape[1]):
        c = mat[:, j]
        acc += c * c
    return np.sqrt(acc)


def _fold_dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, d) x (m, d) -> (n, m) dot products accumulated in strict
    element order — each entry is the same correctly-rounded IEEE
    sequence a SQL/DuckDB left fold produces (BLAS matmul is not:
    blocked/pairwise summation differs in the last ulps)."""
    n, d = A.shape
    out = np.zeros((n, len(B)))
    for j in range(d):
        out += A[:, j][:, None] * B[:, j][None, :]
    return out


def _md5_sample(targets: DataFrame, n_sample: int, id_col: str,
                vec_col: str, seed: int,
                corpus_n: int | None) -> tuple[np.ndarray, np.ndarray]:
    """First n_sample rows of the MD5(seed:id) permutation — the shared
    deterministic trainer sample (hash-prefiltered at corpus scale so
    the orderBy never sorts the corpus)."""
    base = targets.select(id_col, vec_col)
    if corpus_n is not None and corpus_n > 4 * n_sample:
        # hash-filter down to ~2x the sample size BEFORE any ordering —
        # a WHERE over the scan, no O(n log n) global sort of the corpus;
        # the residual orderBy below ranks only the ~2*n_sample survivors
        k = max(1, corpus_n // (2 * n_sample))
        base = base.where(
            F.expr(f"PMOD(XXHASH64(CAST({id_col} AS STRING), "
                   f"{int(seed) + 7}), {k}) = 0"))
    sample = (
        base
        .orderBy(F.expr(f"MD5(CONCAT('{int(seed)}', ':', "
                        f"CAST({id_col} AS STRING)))"))
        .limit(n_sample)
    )
    return _collect_matrix(sample, id_col, vec_col)


def _coarse_centroids(targets: DataFrame, num_centroids: int, dim: int,
                      id_col: str, vec_col: str, seed: int = 42,
                      sample_per_centroid: int = 64, iters: int = 5,
                      corpus_n: int | None = None,
                      presample: tuple | None = None) -> np.ndarray:
    """Deterministic coarse quantizer, replayable end to end: the
    training sample is the first num_centroids*sample_per_centroid
    vectors of the MD5(seed:id) permutation (no RNG state, no scan
    order), the initial centroids are the first num_centroids of a
    second MD5(seed+1:id) permutation of that sample, and every Lloyd
    step runs in strict-element-order folds (_fold_dots / _fold_norms,
    sample-order member means, first-max assignment) — so the whole
    trainer is a deterministic function the DuckDB oracle re-executes
    bitwise. Driver sees only the bounded sample, never the corpus."""
    import hashlib

    n_sample = num_centroids * sample_per_centroid
    if presample is not None:
        # shared MD5-permutation prefix from the caller (ann_topk_ivfpq
        # collects ONE sample for both trainers — r06): the first
        # n_sample rows of the same total order ARE this trainer's
        # sample, so results are bit-identical.
        ids, mat = presample[0][:n_sample], presample[1][:n_sample]
    else:
        ids, mat = _md5_sample(targets, n_sample, id_col, vec_col, seed,
                               corpus_n)
    mat = mat / np.maximum(_fold_norms(mat), 1e-12)[:, None]
    init = np.argsort(np.array([
        hashlib.md5(f"{int(seed) + 1}:{i}".encode()).hexdigest()
        for i in ids]), kind="stable")[:min(num_centroids, len(mat))]
    cent = mat[init].copy()
    for _ in range(iters):
        sims = _fold_dots(mat, cent)
        assign = np.argmax(sims, axis=1)  # first-max: (sim DESC, c ASC)
        for c in range(len(cent)):
            members = mat[assign == c]  # sample order preserved
            if len(members):
                v = np.zeros(mat.shape[1])
                for row in members:  # strict sample-order fold
                    v += row
                v = v / float(len(members))
                cent[c] = v / max(float(_fold_norms(v[None, :])[0]), 1e-12)
    return cent


def _assign_centroids(df: DataFrame, cent_bc, n_probe: int, id_col: str,
                      vec_col: str, out_prefix: str,
                      emit_sim: bool = False) -> DataFrame:
    """mapInPandas BLAS pass: nearest n_probe centroid ids per vector.

    Emits ONLY (id, centroid) keys — the n_probe fan-out of the full
    float vector would dominate the inverted-list shuffle at corpus
    scale; callers re-attach vectors to the surviving candidate pairs.
    emit_sim=True adds the fold-order cosine to the assigned centroid
    (normalized-vector dot — the same double the DuckDB replay's dfold
    text produces), used by semdedup's keeper rule."""
    fields = [
        StructField(f"{out_prefix}_id", LongType(), False),
        StructField("centroid", IntegerType(), False),
    ]
    if emit_sim:
        fields.append(StructField("cent_sim", DoubleType(), False))
    schema = StructType(fields)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent = cent_bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            mat = mat / np.maximum(_fold_norms(mat), 1e-12)[:, None]
            # fold-order sims + stable argsort: ties rank (sim DESC,
            # centroid ASC) — the DuckDB replay's ROW_NUMBER order.
            # n_probe=1 (the corpus-side inverted-list pass — the big
            # side at scale) takes argmax: also first-max on ties, so
            # identical assignment at O(nC) instead of O(nC log C)
            sims = _fold_dots(mat, cent)
            if n_probe == 1:
                top = np.argmax(sims, axis=1)[:, None]
            else:
                top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            out = {
                f"{out_prefix}_id": np.repeat(pdf[id_col].to_numpy(dtype=np.int64), n_probe),
                "centroid": top.reshape(-1).astype(np.int32),
            }
            if emit_sim:
                out["cent_sim"] = np.take_along_axis(sims, top, axis=1).reshape(-1)
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(assign, schema=schema)


def ann_topk_ivf(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 10,
    num_centroids: int | None = None,
    n_probe: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF ANN — the bucketed scale engine promised by the module header.

    Plan: (1) deterministic coarse centroids from a seed-stable hash
    sample (driver sees only the bounded sample); (2) one BLAS
    mapInPandas pass assigns every TARGET to its 1 nearest centroid —
    the inverted lists, an equi-join key; (3) queries probe their
    n_probe nearest centroids; (4) centroid equi-join + exact cosine +
    per-query top-k. Shuffle key is the centroid id (C-way partition);
    nothing quadratic, nothing driver-sized. Recall is tuned by
    n_probe/num_centroids and pytest-gated >= 0.9 vs the exact oracle
    on the fixture.

    Defaults auto-size to the corpus: ~sqrt(n) centroids (so inverted
    lists stay ~sqrt(n) long at any scale — never a 16-way shuffle over
    10^12 vectors) and ~sqrt(num_centroids) probes. Clustered corpora
    keep good recall at that probe count; adversarially-uniform ones
    (like the random fixture) need an explicit higher n_probe, which is
    what the registered query passes."""
    n_corpus = None  # the corpus-count scan runs only when auto-sizing
    if num_centroids is None:
        n_corpus = targets.count()
        num_centroids = _auto_centroids(n_corpus)
    if n_probe is None:
        n_probe = max(4, round(math.sqrt(num_centroids)))
    n_probe = min(n_probe, num_centroids)
    cent = _coarse_centroids(targets, num_centroids, dim, id_col, vec_col,
                             seed, corpus_n=n_corpus)
    bc = targets.sparkSession.sparkContext.broadcast(cent)
    t_assign = _assign_centroids(targets, bc, 1, id_col, vec_col, "target")
    q_assign = _assign_centroids(queries, bc, n_probe, id_col, vec_col, "query")
    # pairs are unique by construction — each target sits in exactly ONE
    # inverted list (n_probe=1 on the target side) and a query's n_probe
    # centroid ids are distinct (argsort indices), so a (query, target)
    # pair can form on at most one centroid key. No dedup shuffle needed.
    pairs = (
        q_assign.join(t_assign, "centroid")
        .where(F.col("query_id") != F.col("target_id"))
        .select("query_id", "target_id")
    )
    va = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("queryv"))
    vb = targets.select(F.col(id_col).alias("target_id"), F.col(vec_col).alias("targetv"))
    cand = (
        pairs.join(va, "query_id").join(vb, "target_id")
        .select("query_id", "target_id",
                _cosine_fold_udf("queryv", "targetv").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "target_id")
    return cand.withColumn("sim_rank", F.row_number().over(w)).where(F.col("sim_rank") <= k)


# ---------------------------------------------------------------------------
# IVF-PQ: product quantization — the vector-COMPRESSION axis of the ANN
# scale story (Jegou, Douze, Schmid, "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011). At 10^12 vectors the inverted lists
# themselves can't hold float vectors (64 doubles = 512 B/vec -> 512 TB);
# PQ stores m one-byte codes (m=8 -> 8 B/vec, 64x smaller), scores
# candidates against a per-query lookup table (ADC), and re-ranks only a
# short exact list. Everything below is deterministic by the same
# discipline as the IVF coarse trainer (MD5-permuted samples, strict
# fold-order arithmetic, first-min tie-breaks), so codes are a pure
# function of (corpus, seed) and the encode stage carries a DuckDB
# oracle; only the RECALL of the search is approximate (pytest-gated).
# ---------------------------------------------------------------------------


def _fold_sub_dists(mat: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """(n, dsub) x (c, dsub) -> (n, c) squared Euclidean distances
    accumulated in strict element order: acc += (x_j - c_j)^2 over j —
    the same correctly-rounded IEEE sequence a SQL left fold produces."""
    out = np.zeros((len(mat), len(cent)))
    for j in range(mat.shape[1]):
        d = mat[:, j][:, None] - cent[:, j][None, :]
        out += d * d
    return out


def pq_codebooks(
    targets: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    iters: int = 3,
    sample_per_code: int = 64,
    corpus_n: int | None = None,
    presample: tuple | None = None,
) -> np.ndarray:
    """Deterministic per-subspace PQ codebooks, replayable end to end.

    The training sample is the first n_codes*sample_per_code vectors of
    the MD5(seed:id) permutation (hash-prefiltered at corpus scale, the
    _coarse_centroids discipline), L2-normalized with the fold norm;
    subspace s covers dims [s*dsub, (s+1)*dsub). Initial codes are the
    first n_codes of a second MD5(seed+1:id) permutation (shared across
    subspaces), and each Lloyd round assigns by strict-fold squared
    Euclidean distance with first-min ties (dist ASC, code ASC) and
    re-centers with sample-order member means (NO re-normalization —
    PQ centroids are subvector means, not unit vectors).

    Returns (m, n_codes, dsub) float64.
    """
    import hashlib

    if dim % m:
        raise ValueError("dim must be divisible by m")
    dsub = dim // m
    n_sample = n_codes * sample_per_code
    if presample is not None:
        ids, mat = presample[0][:n_sample], presample[1][:n_sample]
    else:
        ids, mat = _md5_sample(targets, n_sample, id_col, vec_col, seed,
                               corpus_n)
    mat = mat / np.maximum(_fold_norms(mat), 1e-12)[:, None]
    init = np.argsort(np.array([
        hashlib.md5(f"{int(seed) + 1}:{i}".encode()).hexdigest()
        for i in ids]), kind="stable")[:min(n_codes, len(mat))]
    books = np.zeros((m, n_codes, dsub))
    for s in range(m):
        sub = mat[:, s * dsub:(s + 1) * dsub]
        cent = sub[init].copy()
        for _ in range(iters):
            dists = _fold_sub_dists(sub, cent)
            assign = np.argmin(dists, axis=1)  # first-min: (d ASC, c ASC)
            for c in range(len(cent)):
                members = sub[assign == c]  # sample order preserved
                if len(members):
                    v = np.zeros(dsub)
                    for row in members:  # strict sample-order fold
                        v += row
                    cent[c] = v / float(len(members))
        books[s, :len(cent)] = cent
    return books


def pq_encode(
    vectors: DataFrame,
    books_bc,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
) -> DataFrame:
    """One Arrow pass: (id, code_0..code_{m-1}) — each code the
    first-min fold-distance assignment of the L2-normalized subvector.
    Pure per-row function of (vector, broadcast codebooks): layout- and
    batch-independent by construction."""
    fields = [StructField(out_id, LongType(), False)] + [
        StructField(f"code_{s}", IntegerType(), False) for s in range(m)
    ]
    schema = StructType(fields)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books = books_bc.value
        msub, _, dsub = books.shape
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            mat = mat / np.maximum(_fold_norms(mat), 1e-12)[:, None]
            out = {out_id: pdf[id_col].to_numpy(dtype=np.int64)}
            for s in range(msub):
                sub = mat[:, s * dsub:(s + 1) * dsub]
                dists = _fold_sub_dists(sub, books[s])
                out[f"code_{s}"] = np.argmin(dists, axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    return vectors.select(id_col, vec_col).mapInPandas(encode, schema=schema)


def ann_topk_ivfpq(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 10,
    num_centroids: int | None = None,
    n_probe: int | None = None,
    m: int = 8,
    n_codes: int = 16,
    shortlist: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    pq_iters: int = 3,
) -> DataFrame:
    """IVF-PQ ANN: coarse inverted lists (the ann_topk_ivf quantizer)
    whose entries are m-byte PQ codes instead of float vectors; probed
    candidates are scored by ADC — approx cosine = sum_s LUT_s[code_s]
    where LUT_s = dot(query_sub, codebook_s) — then only the per-query
    `shortlist` best approx candidates re-attach true vectors for an
    exact fold-cosine re-rank to top-k.

    Scale shape vs ann_topk_ivf: the candidate join moves (id, m codes)
    rows — 8 B of payload instead of 512 B of floats, the difference
    between an in-memory and a spilling shuffle at 10^12 vectors — and
    full vectors are touched only for shortlist*|Q| rows. Every stage is
    deterministic (fold arithmetic, first-min/first-max ties, ROW_NUMBER
    with id tie-breaks): layout-audit-clean; recall is the only
    approximation (pytest-gated vs the exact oracle).
    """
    spark = targets.sparkSession
    n_corpus = None
    if num_centroids is None:
        n_corpus = targets.count()
        num_centroids = _auto_centroids(n_corpus)
    if n_probe is None:
        n_probe = max(4, round(math.sqrt(num_centroids)))
    n_probe = min(n_probe, num_centroids)
    if shortlist is None:
        shortlist = 8 * k

    # ONE shared sample collect feeds both trainers when no hash
    # prefilter would fire (both use the same MD5(seed:id) permutation,
    # so each trainer's sample is a PREFIX of the shared one — bit-
    # identical); with a prefilter in play the filtered sets differ by
    # n_sample, so each trainer keeps its own collect (r06).
    n_cent_s = num_centroids * 64
    n_pq_s = n_codes * 64
    presample = None
    if n_corpus is None or n_corpus <= 4 * min(n_cent_s, n_pq_s):
        presample = _md5_sample(targets, max(n_cent_s, n_pq_s), id_col,
                                vec_col, seed, None)
    cent = _coarse_centroids(targets, num_centroids, dim, id_col, vec_col,
                             seed, corpus_n=n_corpus, presample=presample)
    cent_bc = spark.sparkContext.broadcast(cent)
    books = pq_codebooks(targets, m=m, n_codes=n_codes, dim=dim,
                         id_col=id_col, vec_col=vec_col, seed=seed,
                         iters=pq_iters, corpus_n=n_corpus,
                         presample=presample)
    books_bc = spark.sparkContext.broadcast(books)

    # ONE Arrow pass over the corpus computes both the inverted-list
    # assignment and the PQ codes (both are pure per-row functions of
    # the vector and the broadcast models) — formerly two full corpus
    # mapInPandas passes re-joined on target_id, i.e. one extra corpus
    # read + one corpus-sized shuffle join, both pure overhead at any
    # scale (r06 optimization; outputs bit-identical by construction).
    list_fields = [
        StructField("target_id", LongType(), False),
        StructField("centroid", IntegerType(), False),
    ] + [StructField(f"code_{s}", IntegerType(), False) for s in range(m)]
    list_schema = StructType(list_fields)

    def assign_encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cent_v = cent_bc.value
        books_v = books_bc.value
        msub, _, dsub = books_v.shape
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            mat = mat / np.maximum(_fold_norms(mat), 1e-12)[:, None]
            out = {"target_id": pdf[id_col].to_numpy(dtype=np.int64),
                   "centroid": np.argmax(_fold_dots(mat, cent_v),
                                         axis=1).astype(np.int32)}
            for s in range(msub):
                sub = mat[:, s * dsub:(s + 1) * dsub]
                out[f"code_{s}"] = np.argmin(
                    _fold_sub_dists(sub, books_v[s]), axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    lists = targets.select(id_col, vec_col).mapInPandas(
        assign_encode, schema=list_schema)  # (target_id, centroid, codes)
    q_assign = _assign_centroids(queries, cent_bc, n_probe, id_col, vec_col,
                                 "query")

    # ADC scoring: candidates carry codes only. The query vectors reach
    # the scorer as a SPARK BROADCAST keyed by query id (queries are the
    # bounded small side of any ANN search) instead of a join that
    # replicated the 64-float vector onto every candidate row — that
    # join multiplied the Arrow transfer by the inverted-list length
    # (guide §4: pass only the columns the function needs). Arithmetic
    # is unchanged: the same normalized query row feeds the same strict
    # fold, so approx scores are bit-identical.
    qv = queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("queryv"))
    try:
        qids_arr, qmat_arr = _collect_matrix(qv, "query_id", "queryv")
    except ValueError:
        # query side past the driver-collect cap: fall back to attaching
        # the query vector by join (the pre-r06 plan — more Arrow bytes
        # per candidate, but no driver bound); same arithmetic.
        qvec_bc = None
    else:
        # the broadcast dict is keyed by query id: a repeated id would
        # silently keep only its last vector
        if len(np.unique(qids_arr)) != len(qids_arr):
            raise ValueError(f"ann_topk_ivfpq: query {id_col} values must be unique")
        qvec_bc = spark.sparkContext.broadcast(
            {int(i): qmat_arr[j] for j, i in enumerate(qids_arr)})
    cand = (
        q_assign.join(lists, "centroid")
        .where(F.col("query_id") != F.col("target_id"))
    )
    if qvec_bc is None:
        cand = cand.join(qv, "query_id")
    code_cols = [f"code_{s}" for s in range(m)]
    schema = StructType([
        StructField("query_id", LongType(), False),
        StructField("target_id", LongType(), False),
        StructField("approx", DoubleType(), False),
    ])

    def adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        books_v = books_bc.value
        qvecs = qvec_bc.value if qvec_bc is not None else None
        msub, ncod, dsub = books_v.shape
        for pdf in batches:
            if pdf.empty:
                continue
            qids = pdf["query_id"].to_numpy(dtype=np.int64)
            if qvecs is not None:
                uq, inv = np.unique(qids, return_inverse=True)
                qmat = np.stack([qvecs[int(q)] for q in uq])
                qmat = (qmat / np.maximum(_fold_norms(qmat), 1e-12)[:, None])[inv]
            else:
                qmat = np.array(list(pdf["queryv"]), dtype=np.float64)
                qmat = qmat / np.maximum(_fold_norms(qmat), 1e-12)[:, None]
            # approx = sum_s fold-dot(q_sub, codebook_s[code_s]); the
            # per-subspace gather keeps one strict fold per (row, s)
            approx = np.zeros(len(pdf))
            for s in range(msub):
                qsub = qmat[:, s * dsub:(s + 1) * dsub]
                cb = books_v[s][pdf[f"code_{s}"].to_numpy()]
                acc = np.zeros(len(pdf))
                for j in range(dsub):  # strict element-order fold
                    acc += qsub[:, j] * cb[:, j]
                approx += acc
            out = pd.DataFrame({
                "query_id": qids,
                "target_id": pdf["target_id"].to_numpy(dtype=np.int64),
                "approx": approx,
            })
            # per-batch partial top-`shortlist` (the _salted_topk
            # phase-1 argument: any row in a query's global shortlist
            # is in its shortlist within every batch that holds it, so
            # the window below sees a superset of the true shortlist
            # and its output is unchanged) — the ADC-scored candidate
            # set is the big intermediate at scale, and this bounds the
            # shortlist exchange at shortlist x |batches| per query.
            out = out.sort_values(["query_id", "approx", "target_id"],
                                  ascending=[True, False, True])
            yield out.groupby("query_id", sort=False).head(shortlist)

    adc_cols = ["query_id", "target_id", *code_cols] + \
        (["queryv"] if qvec_bc is None else [])
    scored = cand.select(*adc_cols).mapInPandas(adc, schema=schema)
    ws = Window.partitionBy("query_id").orderBy(F.col("approx").desc(),
                                                "target_id")
    short = (
        scored.withColumn("adc_rank", F.row_number().over(ws))
        .where(F.col("adc_rank") <= shortlist)
        .select("query_id", "target_id")
    )
    vb = targets.select(F.col(id_col).alias("target_id"),
                        F.col(vec_col).alias("targetv"))
    exact = (
        short.join(qv, "query_id").join(vb, "target_id")
        .select("query_id", "target_id",
                _cosine_fold_udf("queryv", "targetv").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               "target_id")
    return exact.withColumn("sim_rank", F.row_number().over(w)) \
                .where(F.col("sim_rank") <= k)


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.98,
    num_centroids: int | None = None,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    exact_cosine: bool = True,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the corpus
    with the deterministic coarse k-means, find near-duplicate pairs
    WITHIN each cluster (exact fold-order cosine >= threshold), connect
    them into components, and keep ONE example per component — the
    paper's rule: the example with the LOWEST cosine to its cluster
    centroid (the least prototypical survives, preserving diversity).

    Scale shape: the trainer sees only an MD5-permuted bounded sample;
    assignment is one Arrow BLAS pass emitting (id, centroid, sim)
    keys; candidate pairs form by a self-equi-join on the centroid id
    (in-cluster only — with ~sqrt(n) auto-sized centroids a cluster
    holds ~sqrt(n) vectors, so pair mass is ~n^1.5 worst-case and AQE
    skew-splits hot clusters; the paper's config makes clusters O(1));
    the CC runs only over ids that appear in a dup pair
    (dedup.cluster_pairs). Every discrete decision replays in DuckDB
    (the ann_ivf trainer chain + the fold-cosine text), so the op is
    oracle-gated bit-exact.

    exact_cosine=False swaps the strict fold cosine for the BLAS
    einsum UDF on the pair-scoring stage — ~2x faster end-to-end and
    identical verdicts unless a pair sits within ~1e-12 of the
    threshold; the oracle-gated registry query keeps the exact fold.

    Output: (id_col, centroid, cent_sim ROUND 6, cluster_id, is_kept).
    """
    from .dedup import cluster_pairs

    n_corpus = None
    if num_centroids is None:
        n_corpus = embeddings.count()
        num_centroids = _auto_centroids(n_corpus)
    cent = _coarse_centroids(embeddings, num_centroids, dim, id_col, vec_col,
                             seed, corpus_n=n_corpus)
    bc = embeddings.sparkSession.sparkContext.broadcast(cent)
    asg = _assign_centroids(embeddings, bc, 1, id_col, vec_col, "v",
                            emit_sim=True).localCheckpoint(eager=True)
    # max_cluster_size: the hot-cluster cap (mirrors dedup's
    # max_band_size / ngram max_block_size — r05 verdict ask #2): a
    # cluster larger than the cap is EXCLUDED from pair generation (one
    # extra count agg), so an adversarial near-dup-heavy corpus cannot
    # go quadratic inside one cluster; its members keep singleton
    # verdicts. None (the default, and the registered oracle query)
    # keeps the exact candidate set.
    pair_src = asg
    if max_cluster_size is not None:
        ok = asg.groupBy("centroid").agg(F.count(F.lit(1)).alias("__n")) \
            .where(F.col("__n") <= max_cluster_size).select("centroid")
        pair_src = asg.join(ok, "centroid", "leftsemi")
    pairs = (
        pair_src.selectExpr("v_id AS id_a", "centroid")
        .join(pair_src.selectExpr("v_id AS id_b", "centroid"), "centroid")
        .where("id_a < id_b")
        .select("id_a", "id_b")
    )
    va = embeddings.selectExpr(f"{id_col} AS id_a", f"{vec_col} AS av")
    vb = embeddings.selectExpr(f"{id_col} AS id_b", f"{vec_col} AS bv")
    dups = (
        pairs.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b",
                (_cosine_fold_udf if exact_cosine else _cosine_udf)(
                    "av", "bv").alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b")
    )
    ids = embeddings.select(id_col)
    comp = cluster_pairs(ids, dups, id_col=id_col).select(
        F.col(id_col).alias("v_id"), "cluster_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.expr("ROUND(cent_sim, 6)"), F.col("v_id"))
    return (
        asg.join(comp, "v_id")
        .withColumn("is_kept",
                    (F.row_number().over(w) == 1).cast("bigint"))
        .selectExpr(f"v_id AS {id_col}", "CAST(centroid AS INT) AS centroid",
                    "ROUND(cent_sim, 6) AS cent_sim", "cluster_id", "is_kept")
    )
