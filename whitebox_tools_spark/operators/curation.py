"""Corpus-curation operators for large-scale training-data pipelines.

Beyond dedup (operators/dedup.py) and per-doc text scoring
(functions/text.py), a production curation run needs:

- contamination_check  benchmark n-gram overlap between an eval set and
                       the training corpus (the "did the test set leak
                       into training" gate every data release runs)
- repetition_stats     Gopher-style repetition signals (duplicate
                       n-gram fraction, top-bigram coverage, unique
                       token fraction) used as quality filters
- chunk_documents      fixed token-window chunking with overlap (the
                       standard pre-tokenizer packing step)
- source_quota         per-source (per-host) document caps with a
                       deterministic hash priority — the anti-boilerplate
                       sampling stage
- media_exact_dedup    exact dedup of interleaved media payloads by
                       content digest (binary column, not text)

Scale shape:
- contamination: the eval n-gram set is tiny relative to the corpus
  (benchmarks are ~10^5 docs vs 10^12 training docs) -> distinct eval
  grams BROADCAST to the training side; the per-doc hit counts are
  map-side partial aggregations on doc_id. No corpus-sized shuffle.
- repetition: distinct counts run as per-row ARRAY_DISTINCT (codegen,
  zero shuffle); only the top-bigram count needs an explode + groupBy,
  keyed (doc_id, gram) — uniformly distributed, partial-agg friendly.
- chunking: pure per-row explode (codegen SLICE), no shuffle at all.
- source_quota: two-phase — a count aggregate splits sources into
  under-cap (kept wholesale, NO sort) and over-cap (windowed top-cap);
  at 10^12 docs only the hot hosts pay the per-source sort, and the
  count frame is tiny -> broadcast. A single giant host is the skew
  case: the window sorts one partition per source, which AQE cannot
  split — for pathological hosts pre-filter with an approximate hash
  threshold (cap/count quantile over the md5 key) before the exact
  window; the fixture-scale plan keeps the exact two-phase form.
- media dedup: one groupBy on a 16-byte digest of the payload — the
  digest is computed next to the scan so full binaries never shuffle.

All outputs are integer counts or integer-ratio doubles over md5 keys,
so every operator carries an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..plans.driver import local_frame

# bpe_train's local-rounds dispatch threshold: vocabs at or below this
# train on the driver (bit-identical integer/string rounds, no per-round
# job round-trips); larger vocabs use the distributed rounds. ~50 B/row
# bounds the collect at ~10 MB.
_MAX_DRIVER_VOCAB = 200_000


def contamination_check(
    docs: DataFrame,
    eval_pred: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-training-doc benchmark contamination: the fraction of the
    doc's distinct word n-grams that appear anywhere in the eval set.

    `eval_pred` is a SQL predicate selecting the eval/benchmark rows of
    `docs`; all other rows are the training side. Real releases use
    n = 13 exact-match grams (the GPT-3/PaLM convention); the fixture
    vocabulary is tiny so the gated query pins n=3 to exercise hits.

    Output: (id_col, n_grams, n_hit, contamination) for every training
    doc, zero-filled when nothing overlaps. Docs shorter than n tokens
    have no n-grams and are absent from the output (both engines).
    """
    s_grams = T.shingles_expr(text_col, n)[0]
    grams = docs.selectExpr(id_col, f"{eval_pred} AS __is_eval",
                            f"{s_grams} AS __grams")
    exploded = grams.select(id_col, "__is_eval",
                            F.explode("__grams").alias("__g"))
    # distinct per side; md5 keeps the join key short (grams can be long)
    eval_grams = (
        exploded.where("__is_eval").select(F.md5(F.col("__g")).alias("__h")).distinct()
    )
    train = (
        exploded.where("NOT __is_eval")
        .select(id_col, F.md5(F.col("__g")).alias("__h"))
        .distinct()
    )
    # one corpus pass: broadcast-left-join marks hits, a single aggregate
    # produces totals and hit counts together (COUNT(col) skips nulls)
    marked = train.join(
        F.broadcast(eval_grams.withColumn("__hit", F.lit(1))), "__h", "left"
    )
    out = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("__hit").alias("n_hit"),
    )
    return out.select(
        id_col,
        "n_grams",
        "n_hit",
        (F.col("n_hit").cast("double") / F.col("n_grams").cast("double")
         ).alias("contamination"),
    )


def contamination_oracle_sql(
    eval_pred: str, table: str = "documents",
    text_col: str = "text", id_col: str = "doc_id", n: int = 3,
) -> str:
    """Exact DuckDB restatement of contamination_check."""
    d_grams = T.shingles_expr(text_col, n)[1]
    return f"""
WITH g AS (
  SELECT {id_col}, ({eval_pred}) AS is_eval, unnest({d_grams}) AS gram
  FROM {table}
),
ev AS (SELECT DISTINCT md5(gram) AS h FROM g WHERE is_eval),
tr AS (SELECT DISTINCT {id_col}, md5(gram) AS h FROM g WHERE NOT is_eval),
tot AS (SELECT {id_col}, COUNT(*) AS n_grams FROM tr GROUP BY 1),
hit AS (
  SELECT {id_col}, COUNT(*) AS n_hit FROM tr
  WHERE h IN (SELECT h FROM ev) GROUP BY 1
)
SELECT tot.{id_col}, n_grams, COALESCE(n_hit, 0) AS n_hit,
       CAST(COALESCE(n_hit, 0) AS DOUBLE) / CAST(n_grams AS DOUBLE)
         AS contamination
FROM tot LEFT JOIN hit USING ({id_col})
"""


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    - n_tokens             whitespace token count
    - unique_token_frac    distinct tokens / tokens
    - dup_bigram_frac      1 - distinct bigrams / bigrams
    - dup_trigram_frac     1 - distinct trigrams / trigrams
    - top_bigram_frac      tokens covered by the most frequent bigram
                           (2 * max count / n_tokens)

    Rae et al. 2021 (Gopher) filter on exactly these statistics; they
    are pure integer-count ratios, so the DuckDB replay is bit-exact.
    Distinct counts are per-row ARRAY_DISTINCT (no shuffle); only the
    top-bigram max needs an explode + (doc_id, gram) groupBy.
    """
    s_toks = T.tokens_expr(text_col)[0]
    s_g2 = T.shingles_expr(text_col, 2)[0]
    s_g3 = T.shingles_expr(text_col, 3)[0]
    base = docs.selectExpr(
        id_col,
        f"SIZE({s_toks}) AS __nt",
        f"SIZE(ARRAY_DISTINCT({s_toks})) AS __ut",
        f"SIZE({s_g2}) AS __n2",
        f"SIZE(ARRAY_DISTINCT({s_g2})) AS __d2",
        f"SIZE({s_g3}) AS __n3",
        f"SIZE(ARRAY_DISTINCT({s_g3})) AS __d3",
    )
    top2 = (
        docs.selectExpr(id_col, f"EXPLODE({s_g2}) AS __g")
        .groupBy(id_col, "__g").agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col).agg(F.max("__c").alias("__m2"))
    )
    out = base.join(top2, id_col, "left").na.fill({"__m2": 0})
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    # NULLIF guards: a doc shorter than the gram length has zero grams;
    # the fraction is NULL on both engines (Spark 0.0/0.0 would be NaN,
    # DuckDB NULL — NULLIF makes them agree)
    nz = lambda c: F.expr(f"CAST(NULLIF({c}, 0) AS DOUBLE)")  # noqa: E731
    return out.select(
        id_col,
        F.col("__nt").cast("long").alias("n_tokens"),
        (dbl("__ut") / nz("__nt")).alias("unique_token_frac"),
        (F.lit(1.0) - dbl("__d2") / nz("__n2")).alias("dup_bigram_frac"),
        (F.lit(1.0) - dbl("__d3") / nz("__n3")).alias("dup_trigram_frac"),
        (F.lit(2.0) * dbl("__m2") / nz("__nt")).alias("top_bigram_frac"),
    )


def repetition_oracle_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    d_toks = T.tokens_expr(text_col)[1]
    d_g2 = T.shingles_expr(text_col, 2)[1]
    d_g3 = T.shingles_expr(text_col, 3)[1]
    return f"""
WITH base AS (
  SELECT {id_col},
         len({d_toks}) AS nt,
         len(list_distinct({d_toks})) AS ut,
         len({d_g2}) AS n2, len(list_distinct({d_g2})) AS d2,
         len({d_g3}) AS n3, len(list_distinct({d_g3})) AS d3
  FROM {table}
),
top2 AS (
  SELECT {id_col}, MAX(c) AS m2 FROM (
    SELECT {id_col}, gram, COUNT(*) AS c
    FROM (SELECT {id_col}, unnest({d_g2}) AS gram FROM {table})
    GROUP BY 1, 2
  ) GROUP BY 1
)
SELECT base.{id_col}, nt AS n_tokens,
       CAST(ut AS DOUBLE) / CAST(NULLIF(nt, 0) AS DOUBLE) AS unique_token_frac,
       1.0 - CAST(d2 AS DOUBLE) / CAST(NULLIF(n2, 0) AS DOUBLE) AS dup_bigram_frac,
       1.0 - CAST(d3 AS DOUBLE) / CAST(NULLIF(n3, 0) AS DOUBLE) AS dup_trigram_frac,
       2.0 * CAST(COALESCE(m2, 0) AS DOUBLE) / CAST(NULLIF(nt, 0) AS DOUBLE)
         AS top_bigram_frac
FROM base LEFT JOIN top2 USING ({id_col})
"""


def chunk_documents(
    docs: DataFrame,
    window: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed token-window chunking with overlap (window - stride tokens
    shared between consecutive chunks) — the packing step that precedes
    tokenization in a training pipeline.

    One row per chunk: (id_col, chunk_idx, n_chunk_tokens, chunk). The
    final chunk is the (possibly shorter) tail; chunk starts are
    0, stride, 2*stride, ... < n_tokens. Pure per-row codegen (SEQUENCE
    + SLICE + posexplode) — zero shuffle, linear in corpus tokens.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    if stride > window:
        raise ValueError(
            "stride > window leaves uncovered token gaps between chunks"
        )
    s_toks = T.tokens_expr(text_col)[0]
    toks = docs.selectExpr(id_col, f"{s_toks} AS __t")
    starts = toks.selectExpr(
        id_col, "__t",
        f"SEQUENCE(0, SIZE(__t) - 1, {stride}) AS __starts",
    )
    exploded = starts.select(
        id_col, "__t", F.posexplode("__starts").alias("chunk_idx", "__s")
    )
    return exploded.selectExpr(
        id_col,
        "CAST(chunk_idx AS BIGINT) AS chunk_idx",
        f"CAST(SIZE(SLICE(__t, __s + 1, {window})) AS BIGINT) AS n_chunk_tokens",
        f"ARRAY_JOIN(SLICE(__t, __s + 1, {window}), ' ') AS chunk",
    )


def chunk_oracle_sql(
    window: int = 32, stride: int = 24, table: str = "documents",
    text_col: str = "text", id_col: str = "doc_id",
) -> str:
    d_toks = T.tokens_expr(text_col)[1]
    return f"""
WITH t AS (SELECT {id_col}, {d_toks} AS toks FROM {table}),
s AS (SELECT {id_col}, toks, unnest(range(0, len(toks), {stride})) AS st FROM t)
SELECT {id_col}, st // {stride} AS chunk_idx,
       len(list_slice(toks, st + 1, st + {window})) AS n_chunk_tokens,
       array_to_string(list_slice(toks, st + 1, st + {window}), ' ') AS chunk
FROM s
"""


def source_quota(
    docs: DataFrame,
    cap: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most `cap` documents per source (per host / domain), the
    anti-boilerplate sampling stage of a curation funnel. Selection is a
    deterministic hash priority — md5 of the id, ties on the id — so the
    kept set is reproducible and unbiased by ingest order.

    Two-phase plan (see module docstring): sources under the cap keep
    every row WITHOUT sorting; only over-cap sources run the per-source
    window. Output: (id_col, source_col), the kept set.
    """
    # null-safe join (<=>): a NULL source is its own quota group, same
    # as the window oracle's NULL partition — a plain equi-join would
    # silently drop every NULL-source row from the kept set
    counts = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n"))
    d = docs.select(id_col, source_col).alias("__d")
    c = F.broadcast(counts).alias("__c")
    tagged = d.join(
        c, F.expr(f"__d.{source_col} <=> __c.{source_col}")
    ).select(f"__d.{id_col}", f"__d.{source_col}", "__c.__n")
    under = tagged.where(F.col("__n") <= cap).select(id_col, source_col)
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    over = (
        tagged.where(F.col("__n") > cap)
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= cap)
        .select(id_col, source_col)
    )
    return under.unionByName(over)


def source_quota_oracle_sql(
    cap: int, table: str = "documents",
    source_col: str = "source", id_col: str = "doc_id",
) -> str:
    return f"""
SELECT {id_col}, {source_col} FROM (
  SELECT {id_col}, {source_col},
         ROW_NUMBER() OVER (
           PARTITION BY {source_col}
           ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}
         ) AS r
  FROM {table}
) WHERE r <= {cap}
"""


def scrub_text_spans(docs: DataFrame, spans_col: str = "spans") -> DataFrame:
    """PII-scrub the text of kind='text' spans of an interleaved
    document, IN PLACE in the span sequence — every other field (kind,
    media_ref, offset) and every non-text span pass through bit-exact,
    and the array order is untouched (TRANSFORM is positional). This is
    the span-sequence-equality contract: transforms may rewrite a
    span's payload but never reorder, drop, or retype spans.

    Pure per-row codegen (one TRANSFORM lambda, no shuffle, no Python).
    pytest gates the invariant with sources.docs.spans_fingerprint over
    the (kind, media_ref, offset) projection before vs after.
    """
    scrub = T.pii_scrub_exprs("s.text")["clean"][0]
    return docs.withColumn(
        spans_col,
        F.expr(
            f"TRANSFORM({spans_col}, s -> STRUCT("
            f"s.kind AS kind, "
            f"CASE WHEN s.kind = 'text' THEN {scrub} ELSE s.text END AS text, "
            f"s.media_ref AS media_ref, s.offset AS offset))"
        ),
    )


def media_exact_dedup(
    media: DataFrame, bytes_col: str = "media_bytes", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup of interleaved media payloads by content digest.

    The digest is computed adjacent to the scan so the binary payloads
    never shuffle — only (digest, id, length) rows move. Output: one row
    per distinct payload with the keeper id (min), copy count, and the
    payload size.
    """
    return (
        media.select(
            F.md5(F.col(bytes_col)).alias("media_md5"),
            F.col(id_col),
            F.length(F.col(bytes_col)).cast("long").alias("n_bytes"),
        )
        .groupBy("media_md5")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_bytes").alias("n_bytes"),
        )
    )


def _hash24_exprs(id_expr: str, seed: int) -> tuple[str, str]:
    """24-bit hash from the first 6 hex digits of md5(id ':' seed) —
    engine-portable (same INSTR/strpos digit arithmetic both sides),
    uniform by md5 construction. Value range [0, 16^6)."""
    out = []
    for duck in (False, True):
        md5 = ("md5" if duck else "MD5") + (
            f"(concat(CAST({id_expr} AS VARCHAR), ':{seed}'))"
            if duck
            else f"(CONCAT(CAST({id_expr} AS STRING), ':{seed}'))"
        )
        ds = [T._hex_digit(md5, i + 1, duck) for i in range(6)]
        acc = ds[0]
        for d in ds[1:]:
            acc = f"({acc} * 16 + {d})"
        out.append(f"CAST({acc} AS BIGINT)")
    return out[0], out[1]


def corpus_sample(
    docs: DataFrame,
    rate_ppm: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic corpus sampling: keep a document iff its 24-bit
    md5 hash key falls under rate_ppm/10^6 of the key space. The kept
    set is a pure function of (id, seed) — reproducible across runs,
    clusters, and engines; changing the seed draws an independent
    sample; a resumed or re-partitioned job keeps EXACTLY the same
    rows (unlike df.sample, whose per-partition RNG changes with the
    split layout — useless as a lineage-stable curation stage).

    Scale shape: one codegen filter next to the scan, zero shuffle,
    no corpus-sized state. The integer cross-multiplication
    (key * 10^6 < rate_ppm * 16^6) stays exact in int64.
    Output: (id_col, sample_key) for the kept rows.
    """
    if not 0 <= rate_ppm <= 1_000_000:
        raise ValueError("rate_ppm must be in [0, 1000000]")
    s_h, _ = _hash24_exprs(id_col, seed)
    return docs.selectExpr(id_col, f"{s_h} AS sample_key").where(
        f"sample_key * 1000000 < CAST({rate_ppm} AS BIGINT) * 16777216"
    )


def corpus_sample_oracle_sql(
    rate_ppm: int, table: str = "documents",
    id_col: str = "doc_id", seed: int = 0,
) -> str:
    _, d_h = _hash24_exprs(id_col, seed)
    return (
        f"SELECT {id_col}, {d_h} AS sample_key FROM {table} "
        f"WHERE {d_h} * 1000000 < CAST({rate_ppm} AS BIGINT) * 16777216"
    )


def span_stats(
    docs: DataFrame, spans_col: str = "spans", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document composition stats over an interleaved span array:
    span counts by kind, text payload size, a BPE token budget over the
    text spans (counted per span, so media boundaries never merge
    adjacent text), and an offsets-monotonic flag (the span-sequence
    order invariant, checkable per row without a shuffle).

    Everything is one codegen projection over the array — no explode,
    no shuffle, linear in total spans. The spans payload is read, never
    rewritten.
    """
    s = spans_col
    bpe = T.bpe_token_count_expr("x.text")[0]
    return docs.selectExpr(
        id_col,
        f"CAST(SIZE({s}) AS BIGINT) AS n_spans",
        f"CAST(SIZE(FILTER({s}, x -> x.kind = 'text')) AS BIGINT) AS n_text",
        f"CAST(SIZE(FILTER({s}, x -> x.kind = 'media')) AS BIGINT) AS n_media",
        f"AGGREGATE({s}, CAST(0 AS BIGINT), (a, x) -> a + "
        f"CASE WHEN x.kind = 'text' THEN CAST(LENGTH(x.text) AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END) AS text_chars",
        f"AGGREGATE({s}, CAST(0 AS BIGINT), (a, x) -> a + "
        f"CASE WHEN x.kind = 'text' THEN CAST({bpe} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END) AS bpe_tokens",
        f"AGGREGATE({s}, "
        f"STRUCT(TRUE AS ok, CAST(-2147483648 AS INT) AS prev), "
        f"(a, x) -> STRUCT((a.ok AND x.offset >= a.prev) AS ok, "
        f"x.offset AS prev), a -> a.ok) AS offsets_monotonic",
    )


def chunk_spans(
    docs: DataFrame,
    window: int = 32,
    stride: int = 24,
    spans_col: str = "spans",
    id_col: str = "doc_id",
) -> DataFrame:
    """Interleaved-aware chunking: each text span chunks into fixed
    token windows INDEPENDENTLY (a chunk never crosses a media or point
    span — the packing rule for interleaved training sequences), while
    non-text spans pass through as single pieces in sequence position.

    Output one row per piece: (id, span_offset, piece_idx, kind,
    n_tokens, payload) where payload is the chunk text for text spans,
    the media_ref for media spans, and the raw payload otherwise.
    Ordering by (span_offset, piece_idx) reconstructs the document's
    span sequence with text expanded — the span-sequence contract holds
    on the (kind, span_offset) projection.

    Pure per-row codegen (posexplode + SEQUENCE/SLICE), zero shuffle.
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    if stride > window:
        raise ValueError(
            "stride > window leaves uncovered token gaps between chunks"
        )
    s_toks = T.tokens_expr("s.text")[0]
    ex = docs.select(
        id_col, F.posexplode(spans_col).alias("__pos", "s")
    ).selectExpr(
        id_col,
        "s.kind AS kind",
        "s.offset AS span_offset",
        "s.media_ref AS media_ref",
        "s.text AS __text",
        # zero-token text spans (empty / whitespace) still emit one
        # empty piece, keeping the span sequence total
        f"CASE WHEN s.kind = 'text' AND LENGTH(TRIM(s.text)) > 0 "
        f"THEN {s_toks} ELSE CAST(ARRAY() AS ARRAY<STRING>) END AS __toks",
    )
    starts = ex.selectExpr(
        id_col, "kind", "span_offset", "media_ref", "__toks",
        f"CASE WHEN kind = 'text' AND SIZE(__toks) > 0 "
        f"THEN SEQUENCE(0, SIZE(__toks) - 1, {stride}) "
        f"ELSE ARRAY(0) END AS __starts",
        "__text",
    )
    pieces = starts.select(
        id_col, "kind", "span_offset", "media_ref", "__toks", "__text",
        F.posexplode("__starts").alias("piece_idx", "__s"),
    )
    return pieces.selectExpr(
        id_col,
        "CAST(span_offset AS INT) AS span_offset",
        "CAST(piece_idx AS BIGINT) AS piece_idx",
        "kind",
        f"CASE WHEN kind = 'text' "
        f"THEN CAST(SIZE(SLICE(__toks, __s + 1, {window})) AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END AS n_tokens",
        f"CASE WHEN kind = 'text' "
        f"THEN ARRAY_JOIN(SLICE(__toks, __s + 1, {window}), ' ') "
        f"WHEN kind = 'media' THEN media_ref "
        f"ELSE __text END AS payload",
    )


def substring_dup_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring-duplication spans (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better"
    ExactSubstr pass, re-expressed relationally): find every maximal
    token range of a document that is covered by word k-grams occurring
    at least `min_count` times ANYWHERE in the corpus (other docs or
    repeats within the same doc). Downstream curation cuts these spans
    out of the training text instead of dropping whole near-dup docs.

    The suffix-array construction of the paper is a single-machine
    algorithm; the relational restatement is: (1) explode k-gram start
    positions, (2) one count aggregate keyed on the gram's md5 keeps
    grams with corpus frequency >= min_count, (3) an equi-join marks the
    duplicated positions, (4) a per-doc window merges overlapping /
    adjacent gram ranges (gap > k breaks the island) into maximal spans.
    Two ranges [p, p+k-1], [q, q+k-1] with q - p <= k are contiguous
    duplicated text, so islands reproduce the paper's maximal-match
    spans for match lengths >= k.

    Scale shape: the explode is linear in corpus tokens; the frequency
    count is a map-side-combinable groupBy on a uniform md5 key; the
    membership join is key-only (positions carry (id, pos, hash) — no
    text moves); boilerplate grams with 10^9 occurrences are exactly the
    AQE skew-join case and only inflate the join fan-out by their true
    duplicated-position count (output-bounded, never quadratic — unlike
    pair generation there is no candidate cross product). The island
    window sorts per doc (bounded by doc length).

    Output: (id_col, span_start, span_end, n_tokens, n_dup_grams) with
    0-based inclusive token indices — all integers, bit-exact oracle.
    """
    if k < 2:
        raise ValueError("k must be >= 2 (unigram dup spans are noise)")
    if min_count < 2:
        raise ValueError("min_count < 2 would mark every position")
    s_grams = T.shingles_expr(text_col, k)[0]
    pos = (
        docs.selectExpr(id_col, f"{s_grams} AS __g")
        .select(id_col, F.posexplode("__g").alias("__pos", "__gram"))
        .select(id_col, F.col("__pos"), F.md5(F.col("__gram")).alias("__h"))
    )
    dup_hashes = (
        pos.groupBy("__h").count()
        .where(F.col("count") >= min_count)
        .select("__h")
    )
    marked = pos.join(dup_hashes, "__h").select(id_col, "__pos")
    w = Window.partitionBy(id_col).orderBy("__pos")
    islands = marked.select(
        id_col,
        "__pos",
        F.sum(
            F.when(
                F.lag("__pos").over(w).isNull()
                | (F.col("__pos") - F.lag("__pos").over(w) > k),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).over(w).alias("__island"),
    )
    return islands.groupBy(id_col, "__island").agg(
        F.min("__pos").cast("bigint").alias("span_start"),
        (F.max("__pos") + F.lit(k - 1)).cast("bigint").alias("span_end"),
        (F.max("__pos") + F.lit(k) - F.min("__pos")).cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_dup_grams"),
    ).drop("__island")


def substring_dup_oracle_sql(
    k: int = 8,
    min_count: int = 2,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of substring_dup_spans — identical gram text
    (shared shingles_expr), md5 keys, window island merge; every output
    column is an integer so equality is exact."""
    d_grams = T.shingles_expr(text_col, k)[1]
    return f"""
WITH g AS (SELECT {id_col}, {d_grams} AS gr FROM {table}),
p0 AS (SELECT {id_col}, unnest(list_transform(range(1, len(gr) + 1),
         i -> struct_pack(pos := i - 1, h := md5(gr[i])))) AS u FROM g),
p AS (SELECT {id_col}, u.pos AS pos, u.h AS h FROM p0),
c AS (SELECT h FROM p GROUP BY h HAVING COUNT(*) >= {min_count}),
d AS (SELECT p.{id_col}, p.pos FROM p JOIN c USING (h)),
w AS (SELECT {id_col}, pos,
        CASE WHEN lag(pos) OVER (PARTITION BY {id_col} ORDER BY pos) IS NULL
             OR pos - lag(pos) OVER (PARTITION BY {id_col} ORDER BY pos) > {k}
             THEN 1 ELSE 0 END AS brk FROM d),
i AS (SELECT {id_col}, pos,
        SUM(brk) OVER (PARTITION BY {id_col} ORDER BY pos) AS island FROM w)
SELECT {id_col},
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {k} - 1 AS BIGINT) AS span_end,
       CAST(MAX(pos) + {k} - MIN(pos) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_dup_grams
FROM i GROUP BY {id_col}, island
"""


def domain_mix_weights(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    max_weight: float | None = None,
) -> DataFrame:
    """Per-source sampling weights to rebalance a pretraining mixture
    toward a uniform token budget per domain (the static form of the
    Pile / DoReMi domain-mixing stage): a source holding share s of the
    corpus tokens gets weight (1/n_sources)/s, so weighted sampling
    draws equal expected tokens from every source. `max_weight` caps
    the upsampling of tiny domains (the usual <= N-epoch rule).

    Scale shape: ONE corpus scan — a map-side-combinable
    groupBy(source) over codegen token counts; the corpus-wide totals
    come from a global window over the per-source frame (bounded by the
    domain count, ~10^2..10^6 rows — never corpus-sized), not a second
    aggregate branch that would re-scan the corpus. Integer counts; the
    shares/weights are fixed-order double expressions (bit-exact vs the
    oracle).

    Output: (source, n_docs, n_tokens, token_share, mix_weight).
    """
    bpe = T.bpe_token_count_expr(text_col)[0]
    per_source = (
        docs.selectExpr(source_col, f"CAST({bpe} AS BIGINT) AS __bpe")
        .groupBy(source_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__bpe").alias("n_tokens"),
        )
    )
    wall = Window.partitionBy()
    totals = per_source.select(
        "*",
        F.count(F.lit(1)).over(wall).alias("__n_src"),
        F.sum("n_tokens").over(wall).alias("__tot"),
    )
    cap = (
        ""
        if max_weight is None
        else f"LEAST(CAST({max_weight!r} AS DOUBLE), "
    )
    cap_close = "" if max_weight is None else ")"
    return totals.selectExpr(
        source_col,
        "n_docs",
        "n_tokens",
        "CAST(n_tokens AS DOUBLE) / CAST(__tot AS DOUBLE) AS token_share",
        f"{cap}(1.0 / CAST(__n_src AS DOUBLE)) / "
        f"(CAST(n_tokens AS DOUBLE) / CAST(__tot AS DOUBLE)){cap_close} AS mix_weight",
    )


def domain_mix_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    source_col: str = "source",
    max_weight: float | None = None,
) -> str:
    from ..functions.text import bpe_token_count_expr

    d_bpe = bpe_token_count_expr(text_col)[1]
    wexpr = (
        f"(1.0 / CAST(n_src AS DOUBLE)) / "
        f"(CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE))"
    )
    if max_weight is not None:
        wexpr = f"LEAST(CAST({max_weight!r} AS DOUBLE), {wexpr})"
    return f"""
WITH per AS (SELECT {source_col}, {d_bpe} AS bpe FROM {table}),
s AS (SELECT {source_col}, COUNT(*) AS n_docs,
        CAST(SUM(bpe) AS BIGINT) AS n_tokens FROM per GROUP BY {source_col}),
t AS (SELECT COUNT(*) AS n_src, CAST(SUM(n_tokens) AS BIGINT) AS tot FROM s)
SELECT {source_col}, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS token_share,
       {wexpr} AS mix_weight
FROM s, t
"""


def corpus_shard(
    docs: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-shard
    writes: every document gets a (shard_id, position) that is a pure
    function of (id, seed) — NOT of partition layout, cluster size, or
    ingest order. Re-running, resuming, or re-partitioning the job
    reproduces byte-identical shards (df.repartition + monotonically_
    increasing_id, the naive approach, is layout-dependent twice over).

    shard_id = hash mod n_shards; position = rank of the doc's 24-bit
    md5 key within its shard (ties broken by id, so the order is total
    even on hash collisions). The hash is uniform, so shards are
    balanced to ~Binomial(n/n_shards) — no hot shard, no salt needed.

    Scale shape: ONE shuffle keyed on shard_id (uniform by md5) + a
    per-shard sort for the rank — exactly the work a shard writer must
    do anyway; there is no global total-order sort. At 10^12 docs pick
    n_shards >> cores so AQE keeps shard tasks small.

    Output: (id_col, shard_id, position) — all integers, exact oracle.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    s_h, _ = _hash24_exprs(id_col, seed)
    keyed = docs.selectExpr(
        id_col,
        f"PMOD({s_h}, {n_shards}) AS shard_id",
        f"{s_h} AS __k",
    )
    w = Window.partitionBy("shard_id").orderBy("__k", id_col)
    return keyed.select(
        id_col,
        F.col("shard_id").cast("bigint").alias("shard_id"),
        (F.row_number().over(w) - 1).cast("bigint").alias("position"),
    )


def corpus_shard_oracle_sql(
    n_shards: int,
    table: str = "documents",
    id_col: str = "doc_id",
    seed: int = 0,
) -> str:
    _, d_h = _hash24_exprs(id_col, seed)
    return f"""
WITH keyed AS (SELECT {id_col}, {d_h} % {n_shards} AS shard_id,
                      {d_h} AS k FROM {table})
SELECT {id_col}, CAST(shard_id AS BIGINT) AS shard_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY k, {id_col})
            - 1 AS BIGINT) AS position
FROM keyed
"""


def scrub_dup_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The CUT stage of ExactSubstr dedup (Lee et al. 2021 remove
    duplicated substrings from the training text, keeping one
    occurrence): every corpus-duplicated k-gram keeps its CANONICAL
    occurrence — the corpus-wide first by (doc id, position), a total
    deterministic order — and every other occurrence's token range is
    removed from its document. Output text re-joins the surviving
    tokens with single spaces (whitespace is normalized by design —
    the tokenizer downstream never sees the difference).

    Plan: one window over the gram-hash partition yields both the
    corpus frequency and the canonical rank (one uniform md5-keyed
    shuffle — no groupBy + join back); non-canonical duplicated
    positions aggregate into a per-doc removal-interval list; one
    codegen projection rebuilds the text (token index survives iff no
    interval covers it — EXISTS over the doc's intervals, order-free,
    so the collected list order never affects the output).

    Output: (id_col, n_tokens, n_removed, clean_text) — integers + a
    string rebuilt from integer decisions: exact oracle.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    if min_count < 2:
        raise ValueError("min_count < 2 would mark every position")
    s_grams = T.shingles_expr(text_col, k)[0]
    pos = (
        docs.selectExpr(id_col, f"{s_grams} AS __g")
        .select(id_col, F.posexplode("__g").alias("__pos", "__gram"))
        .select(id_col, "__pos", F.md5(F.col("__gram")).alias("__h"))
    )
    wh = Window.partitionBy("__h")
    who = Window.partitionBy("__h").orderBy(id_col, "__pos")
    marked = (
        pos.select(
            id_col, "__pos",
            F.count(F.lit(1)).over(wh).alias("__n"),
            F.row_number().over(who).alias("__rk"),
        )
        .where((F.col("__n") >= min_count) & (F.col("__rk") > 1))
    )
    iv = marked.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("__pos").alias("s"),
                     (F.col("__pos") + F.lit(k - 1)).alias("e"))
        ).alias("__iv")
    )
    s_toks = T.tokens_expr(text_col)[0]
    joined = docs.join(iv, id_col, "left")
    kept = (
        "TRANSFORM(ARRAY({toks}), __tk -> CASE WHEN __iv IS NULL THEN __tk "
        "ELSE TRANSFORM(FILTER(SEQUENCE(0, SIZE(__tk) - 1), "
        "i -> NOT EXISTS(__iv, v -> i >= v.s AND i <= v.e)), "
        "i -> ELEMENT_AT(__tk, i + 1)) END)[0]"
    ).format(toks=s_toks)
    return joined.selectExpr(
        id_col,
        f"CAST(SIZE({s_toks}) AS BIGINT) AS n_tokens",
        f"CAST(SIZE({s_toks}) - SIZE({kept}) AS BIGINT) AS n_removed",
        f"ARRAY_JOIN({kept}, ' ') AS clean_text",
    )


def scrub_dup_oracle_sql(
    k: int = 8,
    min_count: int = 2,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    d_grams = T.shingles_expr(text_col, k)[1]
    d_toks = T.tokens_expr(text_col)[1]
    return f"""
WITH g AS (SELECT {id_col}, {d_grams} AS gr FROM {table}),
p0 AS (SELECT {id_col}, unnest(list_transform(range(1, len(gr) + 1),
         i -> struct_pack(pos := i - 1, h := md5(gr[i])))) AS u FROM g),
p AS (SELECT {id_col}, u.pos AS pos, u.h AS h FROM p0),
m AS (SELECT {id_col}, pos FROM (
        SELECT {id_col}, pos,
               COUNT(*) OVER (PARTITION BY h) AS n,
               ROW_NUMBER() OVER (PARTITION BY h
                                  ORDER BY {id_col}, pos) AS rk
        FROM p) WHERE n >= {min_count} AND rk > 1),
iv AS (SELECT {id_col}, list(struct_pack(s := pos, e := pos + {k} - 1))
         AS ivl FROM m GROUP BY {id_col}),
j AS (SELECT d.{id_col}, {d_toks} AS tk, iv.ivl
        FROM {table} d LEFT JOIN iv USING ({id_col})),
r AS (SELECT {id_col}, tk,
        CASE WHEN ivl IS NULL THEN tk
        ELSE list_transform(list_filter(range(0, len(tk)),
               i -> len(list_filter(ivl,
                        v -> i >= v.s AND i <= v.e)) = 0),
               i -> tk[i + 1]) END AS kept
      FROM j)
SELECT {id_col},
       CAST(len(tk) AS BIGINT) AS n_tokens,
       CAST(len(tk) - len(kept) AS BIGINT) AS n_removed,
       COALESCE(list_aggregate(kept, 'string_agg', ' '), '') AS clean_text
FROM r
"""


def pack_sequences(
    docs: DataFrame,
    seq_len: int = 64,
    n_shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Cross-document sequence packing — the GPT-pretraining step that
    concatenates the corpus in a deterministic order and slices it into
    fixed `seq_len`-token training sequences (docs split across
    sequence boundaries; no padding except the final tail). Output is
    the packing PLAN: one row per (sequence, document) overlap,
    (seq_id, id_col, doc_off, seq_off, n_in_seq) — enough to
    materialize any sequence's text with a single uniform groupBy on
    seq_id downstream.

    The global order is (md5-24bit(id:seed), id) — a pure function of
    (corpus, seed), so the packing is byte-identical across partition
    layouts, resumes, cluster sizes, AND the n_shards knob: shards are
    RANGE blocks of the hash space (shard = k div ceil(16^6/n_shards)),
    so ordering by (shard, k, id) == ordering by (k, id) and n_shards
    is pure parallelism, not semantics.

    Scale shape (distributed prefix sum, the classic two-phase scan):
    ONE uniform md5-keyed shuffle partitions docs into hash-range
    shards; a per-shard window accumulates local token prefixes; shard
    TOTALS (n_shards rows) get their own n_shards-row running sum and
    broadcast-join back as shard base offsets. No global sort, no
    driver collect — at 10^12 docs pick n_shards >> cores so each
    shard's window sort stays in memory. A document's global token
    offset then yields its covered sequence ids in closed form, and the
    per-(doc, seq) rows are a codegen SEQUENCE explode.
    """
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    blk = -((-(16 ** 6)) // n_shards)  # ceil(16^6 / n_shards)
    s_h, _ = _hash24_exprs(id_col, seed)
    s_toks = T.tokens_expr(text_col)[0]
    keyed = docs.selectExpr(
        id_col,
        f"{s_h} AS __k",
        f"CAST({s_h} DIV {blk} AS INT) AS __shard",
        f"CAST(SIZE({s_toks}) AS BIGINT) AS __n",
    )
    w_local = (
        Window.partitionBy("__shard").orderBy("__k", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = keyed.withColumn(
        "__pre", F.coalesce(F.sum("__n").over(w_local), F.lit(0))
    )
    # Counting pass of the two-phase scan: shard totals via map-side
    # partial aggregation (n_shards partial rows per task — the corpus
    # never shuffles for this branch; the cost is one extra scan +
    # tokenize, the standard count-then-place trade). The base running
    # sum below is over n_shards rows, not the corpus.
    totals = keyed.groupBy("__shard").agg(F.sum("__n").alias("__tot"))
    w_base = (
        Window.orderBy("__shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = totals.select(
        "__shard", F.coalesce(F.sum("__tot").over(w_base), F.lit(0)).alias("__base")
    )
    placed = (
        local.join(F.broadcast(bases), "__shard")
        .where(F.col("__n") > 0)
        .selectExpr(id_col, "__n", "(__base + __pre) AS __start")
    )
    exploded = placed.select(
        id_col, "__n", "__start",
        F.explode(F.expr(
            f"SEQUENCE(__start DIV {seq_len}, "
            f"(__start + __n - 1) DIV {seq_len})"
        )).alias("__seq"),
    )
    return exploded.selectExpr(
        "CAST(__seq AS BIGINT) AS seq_id",
        id_col,
        f"CAST(GREATEST(__start, __seq * {seq_len}) - __start "
        f"AS BIGINT) AS doc_off",
        f"CAST(GREATEST(__start, __seq * {seq_len}) - __seq * {seq_len} "
        f"AS BIGINT) AS seq_off",
        f"CAST(LEAST(__start + __n, (__seq + 1) * {seq_len}) "
        f"- GREATEST(__start, __seq * {seq_len}) AS BIGINT) AS n_in_seq",
    )


def pack_sequences_oracle_sql(
    seq_len: int = 64,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> str:
    """Oracle replays the same packing with a plain global window over
    (k, id) — the shard blocks are hash-range-monotone, so the two
    orders are identical by construction."""
    _, d_h = _hash24_exprs(id_col, seed)
    d_toks = T.tokens_expr(text_col)[1]
    return f"""
WITH t AS (SELECT {id_col}, {d_h} AS k,
                  CAST(len({d_toks}) AS BIGINT) AS n FROM {table}),
o AS (SELECT {id_col}, n,
             CAST(COALESCE(SUM(n) OVER (ORDER BY k, {id_col}
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS strt
      FROM t),
e AS (SELECT {id_col}, n, strt,
             unnest(range(strt // {seq_len},
                          (strt + n - 1) // {seq_len} + 1)) AS seq
      FROM o WHERE n > 0)
SELECT CAST(seq AS BIGINT) AS seq_id, {id_col},
       CAST(GREATEST(strt, seq * {seq_len}) - strt AS BIGINT) AS doc_off,
       CAST(GREATEST(strt, seq * {seq_len}) - seq * {seq_len} AS BIGINT)
         AS seq_off,
       CAST(LEAST(strt + n, (seq + 1) * {seq_len})
            - GREATEST(strt, seq * {seq_len}) AS BIGINT) AS n_in_seq
FROM e
"""


def pack_sequences_text(
    docs: DataFrame,
    seq_len: int = 64,
    n_shards: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Materialize the packed training sequences: each `seq_len`-token
    sequence's text, assembled from the pack_sequences plan (same
    deterministic order, same seed => same packing). Output one row per
    sequence: (seq_id, n_tokens, seq_text).

    Scale shape: the plan join back to documents is a uniform equi-join
    on the doc id (each doc contributes ceil(n/seq_len)+1 pieces); the
    assembly is ONE uniform groupBy on seq_id — collect the (seq_off,
    piece) structs, array_sort, join. Each group holds <= seq_len
    tokens, so state per key is bounded by the sequence length, never
    by document size."""
    plan = pack_sequences(docs, seq_len=seq_len, n_shards=n_shards,
                          text_col=text_col, id_col=id_col, seed=seed)
    s_toks = T.tokens_expr(text_col)[0]
    toks = docs.selectExpr(id_col, f"{s_toks} AS __t")
    pieces = plan.join(toks, id_col).selectExpr(
        "seq_id", "seq_off", "n_in_seq",
        "ARRAY_JOIN(SLICE(__t, CAST(doc_off + 1 AS INT), "
        "CAST(n_in_seq AS INT)), ' ') AS __piece",
    )
    return (
        pieces.groupBy("seq_id")
        .agg(
            F.sum("n_in_seq").cast("bigint").alias("n_tokens"),
            F.array_sort(
                F.collect_list(F.struct(F.col("seq_off"), F.col("__piece")))
            ).alias("__ps"),
        )
        .selectExpr(
            "seq_id", "n_tokens",
            "ARRAY_JOIN(TRANSFORM(__ps, p -> p.__piece), ' ') AS seq_text",
        )
    )


def pack_sequences_text_oracle_sql(
    seq_len: int = 64,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
) -> str:
    plan = pack_sequences_oracle_sql(seq_len=seq_len, table=table,
                                     text_col=text_col, id_col=id_col,
                                     seed=seed)
    d_toks = T.tokens_expr(text_col)[1]
    return f"""
WITH plan AS ({plan}),
pieces AS (
  SELECT p.seq_id, p.seq_off, p.n_in_seq,
         array_to_string(list_slice({d_toks}, CAST(p.doc_off + 1 AS INT),
           CAST(p.doc_off + p.n_in_seq AS INT)), ' ') AS piece
  FROM plan p JOIN {table} d USING ({id_col}))
SELECT seq_id, CAST(SUM(n_in_seq) AS BIGINT) AS n_tokens,
       string_agg(piece, ' ' ORDER BY seq_off) AS seq_text
FROM pieces GROUP BY seq_id
"""


def lm_bigram_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style language-model quality filter (Wenzek et al. 2020
    use an LM trained on a trusted corpus and keep low-perplexity
    documents): an add-one-smoothed BIGRAM model is trained on the
    corpus itself and every document is scored by its cross-entropy in
    bits, H = -(1/B) * sum log2 P(w2|w1) with
    P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V). High H = improbable
    word transitions = boilerplate / gibberish; the filter keeps the
    low tail. Documents with fewer than 2 tokens have no bigrams and
    are omitted.

    Scale shape: training is two map-side-partial aggregations (per-doc
    bigram multiset, then global bigram counts — the second agg runs
    over the already-collapsed per-doc frame, not raw positions);
    prefix counts reduce the bigram table once more; scoring is one
    equi-join of per-doc bigram counts to the model keyed on the bigram
    (hot bigrams — 'of the' — are a 1-row build side per key, the shape
    AQE skew-join splits for free) and one groupBy on the doc id. The
    vocabulary size V is the only scalar collect.

    Output: (id_col, n_bigrams, h_bits) with h_bits = ROUND(..., 4) —
    the aggregate-float discipline every oracle-gated double uses.
    """
    s_toks = T.tokens_expr(text_col)[0]
    toks = docs.selectExpr(id_col, f"{s_toks} AS __t")
    bs_expr = ("TRANSFORM(SLICE(__t, 1, SIZE(__t) - 1), "
               "(w, i) -> STRUCT(w AS w1, ELEMENT_AT(__t, i + 2) AS w2)) "
               "AS __bs")
    big = (
        toks.selectExpr(id_col, bs_expr)
        .select(id_col, F.explode("__bs").alias("__b"))
        .groupBy(id_col, "__b")
        .agg(F.count(F.lit(1)).alias("__dc"))
    )
    # r06 restructure: model/prefix aggregate straight off the bigram
    # explode (map-side partial collapses to ~|bigram vocab| rows per
    # task BEFORE the exchange) instead of re-keying the per-doc `big`
    # frame — AQE in Spark 4.1 does not reuse the (doc, bigram)
    # exchange across branches (event-log verified), so each re-key was
    # a full extra corpus pass. All-integer counts: bit-equal results.
    grams = toks.selectExpr(id_col, bs_expr).select(F.explode("__bs").alias("__b"))
    model = grams.groupBy("__b").agg(F.count(F.lit(1)).alias("__c12"))
    prefix = grams.groupBy(F.col("__b.w1").alias("__w1")).agg(
        F.count(F.lit(1)).alias("__c1"))
    # vocabulary size rides along as a broadcast 1-row frame — no
    # driver collect, the whole op stays ONE action (resume-friendly)
    vocab = toks.select(F.explode("__t").alias("__w")).agg(
        F.countDistinct("__w").cast("double").alias("__v"))
    scored = (
        big.join(model, "__b")
        .join(prefix, big["__b"].w1 == F.col("__w1"))
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.sum("__dc").cast("bigint").alias("n_bigrams"),
            (-F.sum(
                F.col("__dc")
                * F.log2((F.col("__c12") + F.lit(1.0))
                         / (F.col("__c1") + F.col("__v")))
            ) / F.sum("__dc")).alias("__h"),
        )
        .selectExpr(id_col, "n_bigrams", "ROUND(__h, 4) AS h_bits")
    )
    return scored


def lm_bigram_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    d_toks = T.tokens_expr(text_col)[1]
    return f"""
WITH t AS (SELECT {id_col}, {d_toks} AS tk FROM {table}),
b AS (SELECT {id_col}, u.w1 AS w1, u.w2 AS w2, COUNT(*) AS dc
      FROM (SELECT {id_col},
                   unnest(list_transform(range(1, len(tk)),
                     i -> struct_pack(w1 := tk[i], w2 := tk[i + 1]))) AS u
            FROM t) GROUP BY 1, 2, 3),
m AS (SELECT w1, w2, SUM(dc) AS c12 FROM b GROUP BY 1, 2),
pr AS (SELECT w1, SUM(c12) AS c1 FROM m GROUP BY 1),
vv AS (SELECT COUNT(DISTINCT w) AS v FROM (SELECT unnest(tk) AS w FROM t))
SELECT b.{id_col},
       CAST(SUM(b.dc) AS BIGINT) AS n_bigrams,
       ROUND(-SUM(b.dc * log2((m.c12 + 1.0) / (pr.c1 + vv.v)))
             / SUM(b.dc), 4) AS h_bits
FROM b JOIN m USING (w1, w2) JOIN pr USING (w1) CROSS JOIN vv
GROUP BY 1
"""


def _bpe_wrap_exprs(word: str) -> tuple[str, str]:
    """Wrapped-symbol representation '<c1><c2>...' of a word, Spark and
    DuckDB dialects. Each symbol carries its own '<'/'>' delimiters so
    a merge is a plain left-to-right non-overlapping REPLACE of
    '<a><b>' with '<ab>' — REPLACE semantics are identical in both
    engines AND identical to the greedy left-to-right merge fold of
    reference BPE ('aaaa' with pair (a,a) -> two merges, 'aaa' -> one).
    Precondition: text must not contain '<' or '>' (tokenizer training
    runs on pre-normalized text; the fixture alphabet is [a-z0-9 ])."""
    s = (f"ARRAY_JOIN(TRANSFORM(SEQUENCE(1, LENGTH({word})), "
         f"i -> CONCAT('<', SUBSTR({word}, i, 1), '>')), '')")
    d = (f"array_to_string(list_transform(range(1, length({word}) + 1), "
         f"i -> concat('<', {word}[i], '>')), '')")
    return s, d


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Distributed BPE tokenizer training (Sennrich et al. 2016): learn
    `n_merges` byte-pair merges from the corpus. Returns (merges_df,
    merges_list): one row per round — (round, left, right, merged,
    pair_count) — and the same as a Python list for bpe_encode.

    The classic trainer shape: the corpus compresses to a WORD-
    FREQUENCY table first (one uniform corpus groupBy — the only
    corpus-sized operation), and every merge round then runs on the
    vocabulary, not the corpus: adjacent-pair counts weighted by word
    frequency (map-side partial agg over vocab rows), a deterministic
    argmax (max count, ties broken lexicographically on the pair), and
    a REPLACE of the winning pair in the vocabulary strings. The
    per-round argmax is ONE 2-string scalar collect — the irreducible
    sequential dependency of BPE; everything else stays distributed.
    At 10^12 docs the vocab is ~10^7-10^8 rows, so rounds are cheap;
    the merged-vocab lineage grows one projection per round
    (localCheckpoint every ~32 rounds for long trainings).

    Deterministic: pure function of (corpus, n_merges). Stops early if
    no pair occurs twice. Exact oracle: the DuckDB replay unrolls the
    same rounds as a CTE chain (bpe_train_oracle_sql).
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    s_toks = T.tokens_expr(text_col)[0]
    wrap_s, _ = _bpe_wrap_exprs("__w")
    vocab = (
        docs.selectExpr(f"EXPLODE({s_toks}) AS __w")
        .where("LENGTH(__w) > 0")
        .groupBy("__w").agg(F.count(F.lit(1)).alias("__wc"))
        .selectExpr(f"{wrap_s} AS __seq", "__wc")
        # pin the vocab: without this every round's argmax re-runs the
        # corpus scan + groupBy (round r costs r extra corpus passes);
        # with it the corpus is read ONCE and all rounds run on the
        # materialized vocab (localCheckpoint, not session cache — same
        # convention as dedup.py's signature frames)
        .localCheckpoint()
    )
    # capped local fast path (r06): the merge rounds are pure
    # integer/string arithmetic over the word-frequency vocab — pair
    # counts are integer sums, the argmax is (count DESC, a ASC, b ASC),
    # the merge is the same left-to-right non-overlapping REPLACE — so a
    # small vocab trains on the driver with BIT-IDENTICAL merges while
    # skipping n_merges job round-trips. Above the cap the distributed
    # rounds below run unchanged (the 10^7-row real-tokenizer regime;
    # at ~50 B/row the cap bounds the collect at ~10 MB).
    if vocab.count() <= _MAX_DRIVER_VOCAB:
        rows = [(r["__seq"], int(r["__wc"])) for r in vocab.collect()]
        merges = []
        for r in range(1, n_merges + 1):
            counts: dict = {}
            for seq, wc in rows:
                ss = seq[1:-1].split("><")
                for i in range(len(ss) - 1):
                    k = (ss[i], ss[i + 1])
                    counts[k] = counts.get(k, 0) + wc
            if not counts:
                break
            (a, b), c = min(counts.items(),
                            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            if c < 2:
                break
            merges.append((r, a, b, a + b, int(c)))
            pat, rep = f"<{a}><{b}>", f"<{a}{b}>"
            rows = [(seq.replace(pat, rep), wc) for seq, wc in rows]
        spark = docs.sparkSession
        mdf = local_frame(
            spark, merges,
            "round BIGINT, left STRING, right STRING, merged STRING, "
            "pair_count BIGINT")
        return mdf, merges
    merges = []
    for r in range(1, n_merges + 1):
        pairs = (
            vocab.selectExpr(
                "__wc",
                "SPLIT(SUBSTR(__seq, 2, LENGTH(__seq) - 2), '><') AS __ss",
            )
            .where("SIZE(__ss) > 1")
            .selectExpr(
                "__wc",
                "EXPLODE(TRANSFORM(SEQUENCE(1, SIZE(__ss) - 1), "
                "i -> STRUCT(ELEMENT_AT(__ss, i) AS a, "
                "ELEMENT_AT(__ss, i + 1) AS b))) AS __p",
            )
            .groupBy("__p").agg(F.sum("__wc").alias("__c"))
        )
        top = pairs.orderBy(F.desc("__c"), F.asc("__p.a"), F.asc("__p.b")) \
            .limit(1).collect()
        if not top or top[0]["__c"] < 2:
            break
        a, b, c = top[0]["__p"]["a"], top[0]["__p"]["b"], int(top[0]["__c"])
        merges.append((r, a, b, a + b, c))
        pat, rep = f"<{a}><{b}>", f"<{a}{b}>"
        # escape for the Spark string-literal dialect (backslash and
        # quote) — a token containing either would otherwise inject into
        # the REPLACE literal (the bm25_query ADVICE class; the driver
        # fast path's str.replace needs no escaping)
        esc = lambda s: s.replace("\\", "\\\\").replace("'", "\\'")
        vocab = vocab.selectExpr(
            f"REPLACE(__seq, '{esc(pat)}', '{esc(rep)}') AS __seq", "__wc")
        # real tokenizers run 10^4+ merges: re-pin every 32 rounds so
        # the REPLACE lineage (and its per-round recompute) stays bounded
        if r % 32 == 0:
            vocab = vocab.localCheckpoint()
    spark = docs.sparkSession
    mdf = local_frame(
        spark, merges,
        "round BIGINT, left STRING, right STRING, merged STRING, "
        "pair_count BIGINT")
    return mdf, merges


def bpe_train_oracle_sql(
    n_merges: int = 8,
    table: str = "documents",
    text_col: str = "text",
) -> str:
    """Unrolled DuckDB replay: w0 = word-frequency vocab in the wrapped
    representation; per round r, p{r} = weighted pair counts, m{r} =
    deterministic argmax, w{r} = vocab with the winning pair REPLACEd
    (scalar subqueries into m{r}). Merge semantics match the operator
    exactly because both engines run the same wrapped-symbol REPLACE."""
    d_toks = T.tokens_expr(text_col)[1]
    _, wrap_d = _bpe_wrap_exprs("w")
    ctes = [
        f"""w0 AS MATERIALIZED (
  SELECT {wrap_d} AS seq, cnt FROM (
    SELECT w, COUNT(*) AS cnt FROM
      (SELECT unnest({d_toks}) AS w FROM {table})
    WHERE length(w) > 0 GROUP BY w))"""
    ]
    sel = []
    for r in range(1, n_merges + 1):
        prev = f"w{r-1}"
        ctes.append(f"""s{r} AS MATERIALIZED (
  SELECT cnt, string_split(substr(seq, 2, length(seq) - 2), '><') AS ss
  FROM {prev} WHERE length(seq) > length(replace(seq, '><', '')) ),
p{r} AS MATERIALIZED (
  SELECT u.a AS a, u.b AS b, SUM(cnt) AS c FROM (
    SELECT cnt, unnest(list_transform(range(1, len(ss)),
      i -> struct_pack(a := ss[i], b := ss[i + 1]))) AS u
    FROM s{r}) GROUP BY 1, 2),
m{r} AS MATERIALIZED (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
w{r} AS MATERIALIZED (
  SELECT replace(seq, '<' || (SELECT a FROM m{r}) || '><' ||
                      (SELECT b FROM m{r}) || '>',
                 '<' || (SELECT a FROM m{r}) ||
                        (SELECT b FROM m{r}) || '>') AS seq, cnt
  FROM {prev})""")
        sel.append(
            f"SELECT {r} AS round, a AS \"left\", b AS \"right\", "
            f"a || b AS merged, CAST(c AS BIGINT) AS pair_count FROM m{r}")
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(sel)
            + "\nORDER BY round")


def bpe_encode(
    docs: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply learned BPE merges to the corpus: per document, the
    whitespace-token count and the BPE symbol count after running the
    merge chain in learned order. Merges ride into the expression as
    LITERALS (they are the broadcast-side of tokenization), so the
    whole encode is one codegen projection — zero shuffle, linear
    corpus scan; exactly how a production encoder ships its merge
    table to executors.

    Output: (id_col, n_tokens, n_symbols) — integers, exact oracle.
    """
    s_toks = T.tokens_expr(text_col)[0]
    wrap_s, _ = _bpe_wrap_exprs("__w")
    seq = wrap_s
    for _, a, b, _m, _c in merges:
        seq = f"REPLACE({seq}, '<{a}><{b}>', '<{a}{b}>')"
    # symbols in a wrapped string = occurrences of '><' + 1 (non-empty)
    n_sym = (f"CASE WHEN LENGTH(__w) = 0 THEN 0 ELSE "
             f"CAST((LENGTH({seq}) - LENGTH(REPLACE({seq}, '><', ''))) "
             f"/ 2 AS BIGINT) + 1 END")
    return (
        docs.selectExpr(id_col, f"{s_toks} AS __ts")
        .selectExpr(
            id_col,
            "CAST(SIZE(FILTER(__ts, t -> LENGTH(t) > 0)) AS BIGINT) "
            "AS n_tokens",
            f"CAST(AGGREGATE(__ts, 0L, (acc, __w) -> acc + {n_sym}) "
            f"AS BIGINT) AS n_symbols",
        )
    )


def bpe_encode_oracle_sql(
    n_merges: int = 8,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Replays encode with merges re-derived by the training CTE chain
    (scalar subqueries m1..mR), so operator and oracle provably apply
    the same merge table."""
    d_toks = T.tokens_expr(text_col)[1]
    _, wrap_d = _bpe_wrap_exprs("w")
    seq = wrap_d
    for r in range(1, n_merges + 1):
        seq = (f"replace({seq}, '<' || (SELECT a FROM m{r}) || '><' || "
               f"(SELECT b FROM m{r}) || '>', "
               f"'<' || (SELECT a FROM m{r}) || (SELECT b FROM m{r}) || '>')")
    n_sym = (f"CASE WHEN length(w) = 0 THEN 0 ELSE "
             f"CAST((length({seq}) - length(replace({seq}, '><', ''))) "
             f"/ 2 AS BIGINT) + 1 END")
    train_ctes = bpe_train_oracle_sql(n_merges, table, text_col)
    cte_block = train_ctes[len("WITH "):train_ctes.index("\nSELECT 1 AS round")]
    return f"""WITH {cte_block},
tok AS (SELECT {id_col}, unnest({d_toks}) AS w FROM {table})
SELECT {id_col},
       CAST(COUNT(*) FILTER (WHERE length(w) > 0) AS BIGINT) AS n_tokens,
       CAST(SUM({n_sym}) AS BIGINT) AS n_symbols
FROM tok GROUP BY 1"""


def temperature_mix_weights(
    docs: DataFrame,
    alpha: float = 0.3,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Temperature-based domain sampling (the XLM-R / mT5 multilingual
    rule): source s with token share p_s is sampled with probability
    q_s = p_s^alpha / sum_t p_t^alpha. alpha = 1 keeps the natural
    mixture, alpha -> 0 approaches uniform; 0.3 is the published XLM-R
    setting. Complements domain_mix_weights (the uniform-budget form).

    Scale shape: identical to domain_mix_weights — ONE corpus scan into
    the per-source frame, then windows over domain-count rows. POWER is
    transcendental, so the outputs carry ROUND(., 4) per the
    aggregate-float discipline (the normalizing sum's row order is
    engine-dependent too).

    Output: (source, n_tokens, token_share, temp_prob, upsample) with
    token_share/temp_prob/upsample rounded; upsample = q_s / p_s is the
    per-source repetition factor the sampler applies.
    """
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    bpe = T.bpe_token_count_expr(text_col)[0]
    per_source = (
        docs.selectExpr(source_col, f"CAST({bpe} AS BIGINT) AS __bpe")
        .groupBy(source_col)
        .agg(F.sum("__bpe").alias("n_tokens"))
    )
    wall = Window.partitionBy()
    share = "CAST(n_tokens AS DOUBLE) / CAST(__tot AS DOUBLE)"
    return (
        per_source
        .select("*", F.sum("n_tokens").over(wall).alias("__tot"))
        .selectExpr(source_col, "n_tokens", f"{share} AS __p",
                    f"POWER({share}, {alpha!r}) AS __pa")
        .select("*", F.sum("__pa").over(wall).alias("__z"))
        .selectExpr(
            source_col,
            "n_tokens",
            "ROUND(__p, 4) AS token_share",
            "ROUND(__pa / __z, 4) AS temp_prob",
            "ROUND((__pa / __z) / __p, 4) AS upsample",
        )
    )


def temperature_mix_oracle_sql(
    alpha: float = 0.3,
    table: str = "documents",
    text_col: str = "text",
    source_col: str = "source",
) -> str:
    bpe = T.bpe_token_count_expr(text_col)[1]
    share = "CAST(n_tokens AS DOUBLE) / CAST(tot AS DOUBLE)"
    return f"""
WITH s AS (SELECT {source_col}, SUM(CAST({bpe} AS BIGINT)) AS n_tokens
           FROM {table} GROUP BY 1),
t AS (SELECT {source_col}, n_tokens,
             SUM(n_tokens) OVER () AS tot FROM s),
p AS (SELECT {source_col}, n_tokens, {share} AS p,
             POWER({share}, {alpha!r}) AS pa FROM t),
z AS (SELECT {source_col}, n_tokens, p, pa, SUM(pa) OVER () AS zz FROM p)
SELECT {source_col}, n_tokens,
       ROUND(p, 4) AS token_share,
       ROUND(pa / zz, 4) AS temp_prob,
       ROUND((pa / zz) / p, 4) AS upsample
FROM z
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling"): bag-of-hashed-ngram models for a
# target domain and the raw corpus; each doc scores the log importance
# ratio log p_target(doc) - log q_raw(doc) under add-one smoothing, and
# resampling keeps docs proportionally. Features are the paper's hashed
# unigrams+bigrams; the hash is the parity md5-derived 16-bit bucket
# (functions/text.token_hash16_expr — 65,536 buckets, identical in both
# engines).

_DSIR_B = 65536


def _dsir_term_expr() -> str:
    """Shared Spark/DuckDB text; reads dc, __tc (nullable), __rc,
    __tt, __rt."""
    return (
        "CAST(dc AS DOUBLE) * "
        f"(LN((CAST(COALESCE(__tc, 0) AS DOUBLE) + 1.0) / "
        f"(CAST(__tt AS DOUBLE) + {_DSIR_B}.0)) - "
        f"LN((CAST(__rc AS DOUBLE) + 1.0) / "
        f"(CAST(__rt AS DOUBLE) + {_DSIR_B}.0)))"
    )


_DSIR_GRAMS_SPARK = (
    "CONCAT(__t, TRANSFORM(SLICE(__t, 1, SIZE(__t) - 1), "
    "(w, i) -> CONCAT(w, ' ', ELEMENT_AT(__t, i + 2))))"
)


def dsir_weights(
    docs: DataFrame,
    target_pred: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc DSIR log importance weight: sum over the doc's hashed
    unigram+bigram buckets of dc * (ln p_target(b) - ln q_raw(b)),
    p/q add-one-smoothed bucket frequencies fitted on the target
    subset (rows matching `target_pred`) and the whole corpus.

    Scale shape: one gram explode + groupBy (id, bucket) — lazy, the
    three consumers share the shuffle via ReusedExchange; BOTH models
    reduce that frame to <= 65,536 rows -> broadcast joins (the model
    side never shuffles the corpus); totals ride as broadcast 1-row
    frames — no driver collect anywhere. Docs with no tokens are
    omitted (no grams — the lm contract).

    Output: (id_col, n_grams, log_w) with log_w = ROUND(sum, 4) per
    the aggregate-float discipline.
    """
    s_toks = T.tokens_expr(text_col)[0]
    g = (
        docs.selectExpr(id_col, f"{s_toks} AS __t")
        .selectExpr(id_col, f"EXPLODE({_DSIR_GRAMS_SPARK}) AS __g")
        .where("__g <> ''")
    )
    bucket = T.token_hash16_expr("__g", duck=False)
    # db feeds three consumers; left lazy — the identical shuffle
    # subtree is deduplicated by ReusedExchange (a pin measured slower
    # on the corpus-sized twin frames in retrieval.py)
    db = (g.selectExpr(id_col, f"{bucket} AS __b")
          .groupBy(id_col, "__b").agg(F.count(F.lit(1)).alias("dc")))
    tcf = db.where(target_pred).groupBy("__b").agg(F.sum("dc").alias("__tc"))
    rcf = db.groupBy("__b").agg(F.sum("dc").alias("__rc"))
    tt = tcf.agg(F.coalesce(F.sum("__tc"), F.lit(0)).alias("__tt"))
    rt = rcf.agg(F.coalesce(F.sum("__rc"), F.lit(0)).alias("__rt"))
    return (
        db.join(F.broadcast(tcf), "__b", "left")
        .join(F.broadcast(rcf), "__b")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(rt))
        .groupBy(id_col)
        .agg(F.sum("dc").cast("bigint").alias("n_grams"),
             F.expr(f"ROUND(SUM({_dsir_term_expr()}), 4)").alias("log_w"))
    )


def dsir_oracle_sql(
    target_pred: str,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    d_toks = T.tokens_expr(text_col)[1]
    bucket = T.token_hash16_expr("__g", duck=True)
    return f"""
WITH t AS (SELECT {id_col}, {d_toks} AS tk FROM {table}),
g AS (SELECT {id_col}, unnest(list_concat(tk, list_transform(
        range(1, len(tk)), i -> concat(tk[i], ' ', tk[i + 1])))) AS __g
      FROM t),
db AS (SELECT {id_col}, {bucket} AS __b, COUNT(*) AS dc
       FROM g WHERE __g <> '' GROUP BY 1, 2),
tcf AS (SELECT __b, SUM(dc) AS __tc FROM db WHERE {target_pred} GROUP BY 1),
rcf AS (SELECT __b, SUM(dc) AS __rc FROM db GROUP BY 1),
tt AS (SELECT COALESCE(SUM(__tc), 0) AS __tt FROM tcf),
rt AS (SELECT COALESCE(SUM(__rc), 0) AS __rt FROM rcf)
SELECT db.{id_col}, CAST(SUM(dc) AS BIGINT) AS n_grams,
       ROUND(SUM({_dsir_term_expr()}), 4) AS log_w
FROM db LEFT JOIN tcf USING (__b) JOIN rcf USING (__b)
CROSS JOIN tt CROSS JOIN rt
GROUP BY 1
"""
