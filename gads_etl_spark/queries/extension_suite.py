"""LLM training-data pipeline queries over documents + embeddings.

The driver north-star extension (BASELINE.json; SURVEY.md §7.2 step 6) —
not present in the reference. Oracle-checked where DuckDB can express the
semantics (exact/bow dedup, shingle Jaccard, text stats, language heuristic,
brute-force cosine top-k, embedding stats, multimodal manifest); the LSH
operators (MinHash bands, SimHash, hyperplane ANN) are rows-only here and
invariant-tested in tests/test_extension_ops.py (recall vs brute force,
candidate ⊆ bound, no all-pairs blowup).

Float discipline: any *aggregated* double goes through integer micro-units
(``CAST(round(x * 1e6) AS BIGINT)``) so sums are order-independent and both
engines agree exactly; per-row doubles are single-expression arithmetic on
identical inputs, which is already deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gads_etl_spark.catalog import load_table
from gads_etl_spark.operators import dedup as D
from gads_etl_spark.operators import multimodal as MM
from gads_etl_spark.operators import similarity as S
from gads_etl_spark.queries.registry import register

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "ext_exact_dedup",
    oracle="""
    SELECT doc_id, content_hash, n_copies FROM (
        SELECT doc_id, md5(text) AS content_hash,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
               count(*) OVER (PARTITION BY md5(text)) AS n_copies
        FROM documents
    ) WHERE rn = 1
    """,
    tags=("extension", "dedup"),
)
def ext_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text), survivor = min doc_id.

    One shuffle on a 16-byte hash — the canonical first pass of any
    training-data dedup pipeline.
    """
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(docs).select("doc_id", "content_hash", "n_copies")


@register(
    "ext_bow_dedup",
    oracle="""
    SELECT doc_id, fingerprint, n_copies FROM (
        SELECT doc_id, fp AS fingerprint,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn,
               count(*) OVER (PARTITION BY fp) AS n_copies
        FROM (
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp
            FROM documents
        )
    ) WHERE rn = 1
    """,
    tags=("extension", "dedup"),
)
def ext_bow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive dedup: fingerprint = md5 of the sorted distinct
    token set, catching reshuffled copies. Same hash-groupBy scale shape
    as exact dedup."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        docs.withColumn("fingerprint", D.bow_fingerprint(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("fingerprint")))
        .where(F.col("rn") == 1)
        .select("doc_id", "fingerprint", "n_copies")
    )


@register(
    "ext_shingle_jaccard",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i+1] || ' ' ||
                        string_split(text, ' ')[i+2]
               )) AS sh
        FROM documents
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7
    """,
    tags=("extension", "dedup", "join"),
)
def ext_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram shingle Jaccard ≥ 0.7, blocked by source.

    Pairs only form within a blocking key (equi-join), bounding the
    quadratic term per block — the scale-safe shape; the unblocked path is
    MinHash-LSH (ext_minhash_candidates)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.shingle_jaccard_pairs(docs, block_col="source", threshold=0.7)


def _doc_id_offset(docs) -> int:
    """Collision-free id offset for planted-duplicate oracles:
    max(doc_id) + 1, a driver scalar. The old fixed +100000 offset
    silently COLLIDED with real doc ids once the corpus passed 100k
    documents — at the sf10 tier (500k docs) the planted-pair filter
    started matching (real, real) id pairs and the sf10 sweep caught 5
    phantom rows. The oracle mirrors it as a subquery, so the planted
    ids stay disjoint from the corpus at every tier by construction."""
    return docs.agg(F.max("doc_id")).first()[0] + 1


@register(
    "ext_minhash_candidates",
    oracle="""
    SELECT doc_id AS a_id,
           doc_id + (SELECT max(doc_id) + 1 FROM documents) AS b_id
    FROM documents WHERE doc_id < 30
    """,
    tags=("extension", "dedup", "lsh"),
)
def ext_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (32 hashes, 8 bands of 4) over the
    corpus plus 30 injected exact duplicates (max(doc_id)+1-offset
    copies of the first 30 documents), restricted to the injected
    (original, copy) pairs.

    The restriction makes the oracle EXACT rather than approximate:
    identical text → identical shingle set → identical minhash signature
    → identical band keys, so the band equi-join recalls an exact
    duplicate with probability 1 under any hash seeds — while the full
    candidate set is seed-dependent and stays invariant-tested
    (tests/test_extension_ops.py: high-Jaccard recall, candidate count
    ≪ n²). The whole pipeline — shingle → minhash → band → self-join —
    still executes over the full corpus; only the verified projection is
    narrowed.
    """
    docs = load_table(spark, sf_dir, "documents")
    off = _doc_id_offset(docs)
    copies = docs.where(F.col("doc_id") < 30).withColumn(
        "doc_id", F.col("doc_id") + off
    )
    pairs = D.minhash_candidate_pairs(docs.unionByName(copies),
                                      num_hashes=32, bands=8)
    return pairs.where(F.col("b_id") == F.col("a_id") + off)


@register(
    "ext_incremental_dedup",
    oracle="""
    SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS new_id,
           doc_id AS match_id
    FROM documents WHERE doc_id < 30
    """,
    tags=("extension", "dedup", "lsh", "incremental"),
)
def ext_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup: a new batch checked against a PRECOMPUTED
    corpus band index (operators/dedup.py::incremental_minhash_candidates)
    — corpus text is never re-shingled, only its persisted band keys are
    equi-joined.

    Exact derived oracle via the planted-duplicate technique: the new
    batch is 30 exact copies (ids offset by max(doc_id)+1, collision-free
    at every tier) of the first 30 corpus
    docs; identical text ⇒ identical signature ⇒ every band collides, so
    each copy matches its original through the index with probability 1
    under any seed. The whole pipeline (index over the full corpus, batch
    signatures, both joins) executes; only the verified projection is
    narrowed — same pattern as ext_minhash_candidates.
    """
    docs = load_table(spark, sf_dir, "documents")
    off = _doc_id_offset(docs)
    index = D.minhash_band_keys(docs)
    batch = docs.where(F.col("doc_id") < 30).withColumn(
        "doc_id", F.col("doc_id") + off
    )
    hits = D.incremental_minhash_candidates(batch, index)
    return hits.where(
        (F.col("match_origin") == "index")
        & (F.col("match_id") == F.col("new_id") - off)
    ).select("new_id", "match_id")


@register(
    "ext_simhash",
    oracle="""
    SELECT doc_id, CAST(0 AS BIGINT) AS hamming_to_copy
    FROM documents WHERE doc_id < 30
    """,
    tags=("extension", "dedup", "lsh"),
)
def ext_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints with an exact derived oracle: each of
    30 injected exact duplicates (ids offset by max(doc_id)+1, see
    _doc_id_offset) must land at hamming distance 0 from its original —
    identical token multisets give bitwise-identical bit-sum vectors and
    therefore identical fingerprints, deterministically, under any
    partitioning (per-bit sums are order-independent integer adds).

    Fingerprints are computed for the WHOLE corpus (the full explode +
    64-conditional-sum groupBy runs); near-dup hamming behavior on
    non-identical docs stays invariant-tested in
    tests/test_extension_ops.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    off = _doc_id_offset(docs)
    copies = docs.where(F.col("doc_id") < 30).withColumn(
        "doc_id", F.col("doc_id") + off
    )
    fp = D.simhash(docs.unionByName(copies))
    orig = fp.where(F.col("doc_id") < off).select(
        "doc_id", F.col("simhash").alias("fp_a")
    )
    copy = fp.where(F.col("doc_id") >= off).select(
        (F.col("doc_id") - off).alias("doc_id"),
        F.col("simhash").alias("fp_b"),
    )
    return orig.join(copy, "doc_id").select(
        "doc_id",
        F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
        .cast("long").alias("hamming_to_copy"),
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "ext_token_stats",
    oracle="""
    SELECT doc_id, lang, source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')) AS distinct_ratio,
           CAST(len(replace(text, ' ', '')) AS DOUBLE)
             / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
    """,
    tags=("extension", "text"),
)
def ext_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + lexical-diversity stats per document — whitespace
    tokens, distinct ratio (type-token ratio), mean token length. All
    JVM-side array functions; no UDFs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = D.tokens(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    return docs.select(
        "doc_id", "lang", "source",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        (n_distinct.cast("double") / n_tokens).alias("distinct_ratio"),
        (F.length(F.regexp_replace("text", " ", "")).cast("double") / n_tokens)
        .alias("avg_token_len"),
    )


_STOPWORDS = ("the", "a", "data", "table", "row")


@register(
    "ext_quality_score",
    oracle=f"""
    SELECT doc_id,
           n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
           CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
           0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
             + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens)
             + 0.2 * least(n_tokens / 64.0, 1.0) AS quality
    FROM (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> w IN {_STOPWORDS!r})) AS BIGINT) AS n_stop
        FROM documents
    )
    """,
    tags=("extension", "text"),
)
def ext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: stopword ratio, lexical diversity, and a
    length saturation term combined into one score — the shape of the
    cheap quality filters used before expensive model-based scoring."""
    docs = load_table(spark, sf_dir, "documents")
    toks = D.tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w))).cast("long")
    stop_ratio = n_stop.cast("double") / n_tokens
    distinct_ratio = n_distinct.cast("double") / n_tokens
    quality = (
        F.lit(0.5) * distinct_ratio
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.2) * F.least(n_tokens / F.lit(64.0), F.lit(1.0))
    )
    return docs.select(
        "doc_id", n_tokens.alias("n_tokens"), stop_ratio.alias("stop_ratio"),
        distinct_ratio.alias("distinct_ratio"), quality.alias("quality"),
    )


#: (lang, marker-bigram) pairs for the character-n-gram language heuristic.
_LANG_MARKERS = (("en", "th"), ("de", "ch"), ("es", "ll"), ("fr", "ou"))


@register(
    "ext_lang_guess",
    oracle="""
    SELECT doc_id, lang,
           s_en, s_de, s_es, s_fr,
           CASE greatest(s_en, s_de, s_es, s_fr)
                WHEN s_en THEN 'en' WHEN s_de THEN 'de'
                WHEN s_es THEN 'es' ELSE 'fr' END AS lang_guess
    FROM (
        SELECT doc_id, lang,
               CAST((len(text) - len(replace(text, 'th', ''))) / 2 AS BIGINT) AS s_en,
               CAST((len(text) - len(replace(text, 'ch', ''))) / 2 AS BIGINT) AS s_de,
               CAST((len(text) - len(replace(text, 'll', ''))) / 2 AS BIGINT) AS s_es,
               CAST((len(text) - len(replace(text, 'ou', ''))) / 2 AS BIGINT) AS s_fr
        FROM documents
    )
    """,
    tags=("extension", "text"),
)
def ext_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by character-bigram frequency scores with a fixed
    greatest-first tiebreak (en > de > es > fr). The marker bigrams are a
    toy profile — the operator shape (n-gram count scores → argmax) is the
    real n-gram language-ID dataflow, entirely JVM-side."""
    docs = load_table(spark, sf_dir, "documents")

    def score(bigram: str) -> F.Column:
        return (
            (F.length("text") - F.length(F.regexp_replace("text", bigram, ""))) / 2
        ).cast("long")

    scores = {lang: score(bg) for lang, bg in _LANG_MARKERS}
    best = F.greatest(*scores.values())
    guess = F.when(best == scores["en"], "en").when(best == scores["de"], "de") \
        .when(best == scores["es"], "es").otherwise("fr")
    return docs.select(
        "doc_id", "lang",
        *[c.alias(f"s_{lang}") for lang, c in scores.items()],
        guess.alias("lang_guess"),
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_COS_SQL = """
    round(
      list_reduce(list_transform(generate_series(1, 64),
                                 i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
                  (acc, x) -> acc + x)
      / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                                         i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)),
                          (acc, x) -> acc + x))
         * sqrt(list_reduce(list_transform(generate_series(1, 64),
                                           i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
                            (acc, x) -> acc + x))), 6)
"""


@register(
    "ext_knn_bruteforce",
    oracle=f"""
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_COS_SQL} AS cos_sim,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_COS_SQL} DESC, c.vec_id) AS rank
        FROM embeddings q JOIN embeddings c ON c.vec_id >= 10
        WHERE q.vec_id < 10
    ) WHERE rank <= 5
    """,
    tags=("extension", "similarity"),
)
def ext_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors over the corpus — the
    brute-force ANN baseline. The query side broadcasts; the corpus side
    never shuffles; top-k is a per-query window."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk_bruteforce(
        corpus=emb.where(F.col("vec_id") >= 10),
        queries=emb.where(F.col("vec_id") < 10),
        k=5,
    )


#: Derived oracle shared by the two ANN queries: with an exact copy of
#: each query vector injected into the corpus at vec_id + max(vec_id)+1
#: (collision-free at every tier — a fixed offset collided with real
#: vec_ids once the embedding table passed 100k rows), the
#: rank-1 neighbour of every query is provably its copy — cosine of
#: identical vectors rounds to exactly 1.0 while the fixture's natural
#: max pairwise cosine is ~0.6, and an identical vector always shares the
#: query's LSH buckets (identical sign pattern) / probed IVF cell
#: (identical centroid distances, deterministic tie-break) — so the
#: rank-1 projection is seed- and clustering-invariant.
_ANN_EXACT_HIT_SQL = """
    SELECT vec_id AS query_id,
           vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS neighbor_id,
           1 AS rank, 1.0 AS cos_sim
    FROM embeddings WHERE vec_id < 10
"""


def _ann_corpus_with_planted_hits(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    off = emb.agg(F.max("vec_id")).first()[0] + 1  # see _doc_id_offset
    queries = emb.where(F.col("vec_id") < 10)
    copies = queries.withColumn("vec_id", F.col("vec_id") + off)
    corpus = emb.where(F.col("vec_id") >= 10).unionByName(copies)
    return corpus, queries


@register("ext_knn_lsh", oracle=_ANN_EXACT_HIT_SQL,
          tags=("extension", "similarity", "lsh"))
def ext_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-5 via random-hyperplane LSH banding (16
    planes, 8 bands of 2), over the corpus plus an injected exact copy of
    each query vector; the verified projection is the rank-1 row per
    query, which must be the planted copy (see _ANN_EXACT_HIT_SQL). The
    full bucket → band-join → window machinery runs over the whole
    corpus; recall on the natural (unplanted) neighbours stays asserted
    in tests/test_extension_ops.py (≈0.98 vs brute force at sf0.001)."""
    corpus, queries = _ann_corpus_with_planted_hits(spark, sf_dir)
    return S.lsh_topk(corpus=corpus, queries=queries, k=5).where(F.col("rank") == 1)


@register("ext_knn_ivf", oracle=_ANN_EXACT_HIT_SQL,
          tags=("extension", "similarity", "ivf"))
def ext_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-5 via IVF partitioning (sampled-fit KMeans
    cells, 4-probe), over the corpus plus an injected exact copy of each
    query vector; the verified projection is the rank-1 row per query,
    which must be the planted copy regardless of the clustering outcome —
    the copy's nearest cell IS the query's nearest cell (identical
    distances, deterministic tie-break), so it is always probed. Recall
    on natural neighbours stays asserted in tests/test_extension_ops.py."""
    corpus, queries = _ann_corpus_with_planted_hits(spark, sf_dir)
    return S.ivf_topk(corpus=corpus, queries=queries, k=5).where(F.col("rank") == 1)


@register("ext_knn_pq", oracle=_ANN_EXACT_HIT_SQL,
          tags=("extension", "similarity", "pq"))
def ext_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-5 via product quantization (8 subspaces x
    16 centroids, ADC lookup-table scoring, exact-cosine re-rank of the
    top-50 pool), over the corpus plus an injected exact copy of each
    query vector. The verified projection is the rank-1 row per query,
    which must be the planted copy for ANY codebooks: the copy's code in
    each subspace is by construction the argmin centroid for the query's
    own subvector, so it attains the global minimum ADC, the min-ADC tie
    clause keeps it in the re-rank pool, and exact re-rank puts its 1.0
    cosine first (natural max cosine < 0.9, fixture-canary-pinned).
    Recall on natural neighbours is asserted in tests/test_extension_ops.py."""
    corpus, queries = _ann_corpus_with_planted_hits(spark, sf_dir)
    books = S.pq_train_codebooks(corpus)
    return S.pq_topk(corpus=corpus, queries=queries, codebooks=books,
                     k=5).where(F.col("rank") == 1)


@register("ext_knn_ivfpq", oracle=_ANN_EXACT_HIT_SQL,
          tags=("extension", "similarity", "ivf", "pq"))
def ext_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-5 via the composed IVF-PQ index (16 cells
    4-probed for candidate pruning; 8×16 PQ codebooks for ADC scoring of
    the candidates; exact-cosine re-rank of the top-50 pool), over the
    corpus plus an injected exact copy of each query vector. The verified
    projection is the rank-1 row per query, which must be the planted
    copy under ANY clustering and ANY codebooks — the copy shares the
    query's nearest (always-probed) cell by deterministic tie-break, and
    attains the global minimum ADC because its per-subspace code is the
    argmin centroid for the query's own subvector; the min-ADC tie clause
    keeps it in the re-rank pool. Recall on natural neighbours is
    asserted in tests/test_extension_ops.py."""
    corpus, queries = _ann_corpus_with_planted_hits(spark, sf_dir)
    return S.ivfpq_topk(corpus=corpus, queries=queries,
                        k=5).where(F.col("rank") == 1)


@register("ext_knn_ivfpq_res", oracle=_ANN_EXACT_HIT_SQL,
          tags=("extension", "similarity", "ivf", "pq"))
def ext_knn_ivfpq_res(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-5 via RESIDUAL IVF-PQ (IVFADC, Jégou et
    al. 2011 §V): PQ codes the residual x − centroid(cell(x)) instead of
    the raw vector, spending the same 8×16 code budget on a tighter
    distribution for better ADC fidelity at identical index size; each
    probed (query, cell) pair gets its own lookup table from the query's
    residual w.r.t. that cell. Runs over the corpus plus an injected
    exact copy of each query vector; the verified projection is the
    rank-1 row per query, which must be the planted copy under ANY
    clustering and ANY codebooks — the copy shares the query's nearest
    (always-probed) cell, its residual there EQUALS the query's, so it
    attains the minimum ADC within that (query, cell) group, and the
    pool's per-cell min-ADC tie clause (ADC values aren't comparable
    across cells' different LUTs) makes eviction impossible. Recall ≥
    the raw-vector ivfpq on the fixture is asserted in
    tests/test_extension_ops.py."""
    corpus, queries = _ann_corpus_with_planted_hits(spark, sf_dir)
    return S.ivfpq_residual_topk(corpus=corpus, queries=queries,
                                 k=5).where(F.col("rank") == 1)


@register(
    "ext_regex_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT)
             AS n_regex_tokens,
           CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_bpe_estimate
    FROM documents
    """,
    tags=("extension", "text"),
)
def ext_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, tokenizer-style: a BPE-ish pre-tokenizer regex
    (letter runs / digit runs / other symbols) plus the chars/4 BPE size
    heuristic — both as JVM expressions, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)"))
        .cast("long").alias("n_regex_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("long").alias("n_bpe_estimate"),
    )


@register(
    "ext_embedding_stats",
    oracle="""
    SELECT label,
           count(*) AS n,
           CAST(sum(CAST(round(sqrt(list_reduce(
                 list_transform(generate_series(1, 64),
                                i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                 (acc, x) -> acc + x)) * 1000000) AS BIGINT)) AS DOUBLE) / (count(*) * 1e6)
             AS avg_norm,
           CAST(sum(CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT)) AS DOUBLE)
             / (count(*) * 1e6) AS avg_dim0
    FROM embeddings GROUP BY label
    """,
    tags=("extension", "similarity", "agg"),
)
def ext_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding statistics. Aggregated doubles go through
    integer micro-units so the sum is order-independent — the same
    discipline as the decimal-exact money sums, applied to vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(S._dot(v, v))
    norm_micros = F.round(norm * 1_000_000).cast("long")
    dim0_micros = F.round(F.element_at(v, 1) * 1_000_000).cast("long")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(norm_micros).cast("double") / (F.count(F.lit(1)) * F.lit(1e6))).alias("avg_norm"),
        (F.sum(dim0_micros).cast("double") / (F.count(F.lit(1)) * F.lit(1e6))).alias("avg_dim0"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "ext_winnow_fingerprint",
    oracle="""
    WITH g AS (
        SELECT doc_id, t.i,
               md5(substring(text, CAST(t.i AS INT), 4)) AS h,
               greatest(length(text) - 3, 1) AS ng
        FROM documents,
             LATERAL unnest(generate_series(
                 1, greatest(length(text) - 3, 1))) AS t(i)
    ), w AS (
        -- min over the 4-gram window [i, i+3]; the slice truncates at
        -- the list tail exactly like a window frame at partition end
        SELECT doc_id, i, ng,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                   AS wmin
        FROM g
    ), fp AS (
        SELECT DISTINCT doc_id, wmin FROM w
        WHERE i <= greatest(ng - 3, 1)
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fingerprints,
           min(wmin) AS min_fp, max(wmin) AS max_fp
    FROM fp GROUP BY doc_id
    """,
    tags=("extension", "text", "fingerprint"),
)
def ext_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting by winnowing (Schleimer et
    al., SIGMOD 2003 — public method): hash every character 4-gram, then
    keep the minimum hash of each sliding window of 4 — the classic
    near-copy-detection fingerprint set whose size is ~|doc|/w yet is
    position-robust (an edit only perturbs nearby windows).

    Map-only (no shuffle beyond the fixture spread), so at 100 TB this
    still runs entirely map-side. Round 17: the per-gram md5 expression
    work moved into the Arrow-vectorized
    ``operators.dedup.winnow_fingerprints`` (guide §4.2) — the old
    interpreted ``transform(sequence(...))`` paid ~6.6 µs per gram and
    re-hashed every repeated gram (302M grams / ~2000 CPU-s at the 100x
    tier); the operator md5s each DISTINCT gram once per Arrow batch and
    does the window minima as int64 rank comparisons. Hashes stay md5
    hex strings ordered lexicographically so DuckDB's ``list_min``
    agrees exactly; the oracle mirrors the construction 1:1, and
    ``tests/test_extension_ops.py::TestWinnowFingerprints`` pins the
    operator against the round-16 expression form.
    """
    from gads_etl_spark.operators.dedup import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs)


@register(
    "ext_text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS text_clean,
           regexp_replace(lower(text), '[^a-z ]', '', 'g') AS text_alpha,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS clean_hash
    FROM documents
    """,
    tags=("extension", "text", "cleaning"),
)
def ext_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text cleaning/normalization — the stage before any dedup or
    quality pass: lowercase, whitespace collapse, alpha-only projection,
    and the canonical hash computed from the cleaned form (so dedup keys
    ignore case/spacing noise). Pure JVM regexp expressions."""
    docs = load_table(spark, sf_dir, "documents")
    clean = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return docs.select(
        "doc_id",
        clean.alias("text_clean"),
        F.regexp_replace(F.lower("text"), "[^a-z ]", "").alias("text_alpha"),
        F.md5(clean).alias("clean_hash"),
    )


_PAIR_COS_SQL = """
    round(
      list_reduce(list_transform(generate_series(1, 64),
                                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                  (acc, x) -> acc + x)
      / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                                         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)),
                          (acc, x) -> acc + x))
         * sqrt(list_reduce(list_transform(generate_series(1, 64),
                                           i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                            (acc, x) -> acc + x))), 6)
"""


@register(
    "ext_embedding_neardup",
    oracle=f"""
    SELECT label, a_id, b_id, cos_sim FROM (
        SELECT a.label AS label, a.vec_id AS a_id, b.vec_id AS b_id,
               {_PAIR_COS_SQL} AS cos_sim,
               row_number() OVER (PARTITION BY a.label
                                  ORDER BY {_PAIR_COS_SQL} DESC, a.vec_id, b.vec_id) AS rn
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
    ) WHERE rn = 1
    """,
    tags=("extension", "dedup", "similarity"),
)
def ext_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection, blocked by label: the
    most-similar pair within each block. Pairs form only inside a
    blocking key (equi-join), bounding the quadratic term per block —
    identical dataflow to a thresholded near-dup pass (this fixture's
    vectors have no pairs above any dedup threshold, so the query
    surfaces the argmax pair instead of an empty set).

    Round 15: the plan moved verbatim into
    operators/similarity.py:blocked_neardup_best_pair, which adds the
    default-on pair budget (fixed-cardinality labels ⇒ Σ|block|² grows
    quadratically in the corpus; past the budget the operator raises
    naming semantic_dedup / the ANN ladder instead of silently running
    an unbounded all-pairs). The default budget clears the proven sf100
    parity run (~2e9 pairs), so this query's committed evidence remains
    reproducible under defaults."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.blocked_neardup_best_pair(
        emb, label_col="label", id_col="vec_id", vec_col="embedding")


@register(
    "ext_multimodal_manifest",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text) AS payload_sha256
    FROM documents
    """,
    tags=("extension", "multimodal"),
)
def ext_multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload manifest: byte length + content digest per payload —
    the typed-metadata half of a media column (payload stays opaque)."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.as_binary_payload(docs).select("doc_id", "byte_len", "payload_sha256")


@register(
    "ext_multimodal_frames",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               least(3, greatest(octet_length(encode(text)) // 256, 1)) AS n
        FROM documents
    )
    SELECT doc_id,
           CAST((u.i - 1) * 4 AS BIGINT) AS frame_idx,
           CAST(8 AS INT) AS height,
           CAST(8 AS INT) AS width,
           CAST(64 AS INT) AS frame_bytes
    FROM t, unnest(generate_series(1, CAST(t.n AS BIGINT))) AS u(i)
    """,
    tags=("extension", "multimodal", "pandas-udf"),
)
def ext_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: each binary payload fans out into ≤3 fixed-size
    frames (video frame-sample / resize plumbing; stubbed kernels).
    The fan-out arithmetic (frame count, stride, padded frame size) is
    fully determined by the payload byte length, so the oracle re-derives
    the exact row set from octet_length — verifying the mapInPandas 1→N
    expansion end-to-end. Kernel determinism is separately pinned in
    tests/test_extension_ops.py."""
    docs = load_table(spark, sf_dir, "documents")
    frames = MM.sample_frames(MM.as_binary_payload(docs))
    return frames.select("doc_id", "frame_idx", "height", "width",
                         F.length("frame").alias("frame_bytes"))


@register(
    "ext_multimodal_decode",
    oracle="""
    WITH c AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS byte_len,
               list_transform(generate_series(1, length(text)),
                              i -> ascii(text[i]) % 8) AS m
        FROM documents
    )
    SELECT doc_id, byte_len,
           CAST(len(list_filter(m, x -> x = 0)) AS BIGINT) AS b0,
           CAST(len(list_filter(m, x -> x = 1)) AS BIGINT) AS b1,
           CAST(len(list_filter(m, x -> x = 2)) AS BIGINT) AS b2,
           CAST(len(list_filter(m, x -> x = 3)) AS BIGINT) AS b3,
           CAST(len(list_filter(m, x -> x = 4)) AS BIGINT) AS b4,
           CAST(len(list_filter(m, x -> x = 5)) AS BIGINT) AS b5,
           CAST(len(list_filter(m, x -> x = 6)) AS BIGINT) AS b6,
           CAST(len(list_filter(m, x -> x = 7)) AS BIGINT) AS b7
    FROM c
    """,
    tags=("extension", "multimodal", "pandas-udf"),
)
def ext_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode of binary payloads via mapInPandas, verified
    by an EXACT oracle: the stub kernel's feature vector is the byte-mod-8
    histogram normalized by length (operators/multimodal.py::_decode_stub),
    so multiplying each rounded feature back by byte_len recovers the
    integer bucket counts exactly (rounding error < 0.5 for any document
    under ~1M bytes; fixture max is 577 and all text is ASCII, so DuckDB's
    per-character ascii()%8 histogram is the same quantity).

    The full Arrow path still runs — payload cast, mapInPandas batching,
    the Python decode kernel — and the oracle pins its output end-to-end;
    batch shape/schema invariants stay in tests/test_extension_ops.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    decoded = MM.decode_features(MM.as_binary_payload(docs))
    return decoded.select(
        "doc_id", "byte_len",
        *[
            F.round(F.element_at("features", k + 1) * F.col("byte_len"))
            .cast("long").alias(f"b{k}")
            for k in range(8)
        ],
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components over candidate pairs)
# ---------------------------------------------------------------------------

#: Shared CTE: undirected near-dup edges (3-gram Jaccard >= 0.7, blocked by
#: source) + min-label reachability — the SQL mirror of
#: operators/graph.py:connected_components for the oracle side.
_COMPONENTS_CTE = """
    WITH t AS (
        SELECT doc_id, source,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i+1] || ' ' ||
                        string_split(text, ' ')[i+2]
               )) AS sh
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.7
    ),
    edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION
        SELECT b_id, a_id FROM pairs
    ),
    reach(node, root) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
        SELECT node, min(root) AS component FROM reach GROUP BY node
    )
"""


@register(
    "ext_dup_clusters",
    oracle=f"""
    {_COMPONENTS_CTE.replace('WITH t AS', 'WITH RECURSIVE t AS', 1)}
    SELECT CAST(node AS BIGINT) AS doc_id,
           CAST(component AS BIGINT) AS component
    FROM comp ORDER BY doc_id
    """,
    tags=("extension", "dedup", "graph", "iterative"),
)
def ext_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: candidate pairs → connected components.

    Pairwise similarity alone over-keeps chained duplicates (A~B, B~C but
    A≁C must still collapse to one cluster). Components run as min-label
    propagation (operators/graph.py) — a per-round shuffle join that
    converges in diameter rounds, lineage-truncated between rounds. The
    oracle states the same fixpoint as a recursive CTE.
    """
    from gads_etl_spark.operators import graph as G

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.shingle_jaccard_pairs(docs, block_col="source", threshold=0.7)
    comps = G.connected_components(pairs.select("a_id", "b_id"),
                                   src="a_id", dst="b_id")
    return comps.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("component"),
    ).orderBy("doc_id")


@register(
    "ext_cluster_dedup",
    oracle=f"""
    {_COMPONENTS_CTE.replace('WITH t AS', 'WITH RECURSIVE t AS', 1)}
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
    ORDER BY doc_id
    """,
    tags=("extension", "dedup", "graph"),
)
def ext_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus after cluster-level dedup: one canonical doc per near-dup
    cluster (min doc_id) plus all never-paired docs — the end-to-end
    "dedupe the corpus" operator an LLM pipeline actually runs.
    """
    from gads_etl_spark.operators import graph as G

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.shingle_jaccard_pairs(docs, block_col="source", threshold=0.7)
    comps = G.connected_components(pairs.select("a_id", "b_id"),
                                   src="a_id", dst="b_id")
    return (
        G.cluster_survivors(docs, comps, id_col="doc_id")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Deterministic sampling / splitting / packing (reproducible training data)
# ---------------------------------------------------------------------------


@register(
    "ext_hash_sample",
    oracle="""
    SELECT doc_id, lang, source FROM documents
    WHERE substring(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
    ORDER BY doc_id
    """,
    tags=("extension", "sampling"),
)
def ext_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25% corpus sample by content hash (operators/sampling.py).

    Unlike ``df.sample``, membership is a pure function of doc_id:
    stable across runs, cluster sizes, and partition layouts — the only
    sampling discipline that keeps a published training set reproducible.
    No shuffle; the predicate sits on the scan.
    """
    from gads_etl_spark.operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    return (
        SA.deterministic_sample(docs, "doc_id", 0.25)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "ext_temperature_mix",
    oracle="""
    WITH stats AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_s,
             CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w_s
      FROM documents GROUP BY lang
    ), totals AS (
      SELECT CAST(sum(n_s) AS BIGINT) AS n, CAST(sum(w_s) AS BIGINT) AS w
      FROM stats
    ), th AS (
      SELECT lang, n_s,
             CAST(least((CAST(65536 AS HUGEINT) * 25 * n * w_s)
                        // (CAST(100 AS HUGEINT) * w * n_s),
                        CAST(65535 AS HUGEINT)) AS BIGINT) AS threshold
      FROM stats CROSS JOIN totals
    )
    SELECT d.lang, th.n_s AS n_docs, th.threshold,
           CAST(count(*) AS BIGINT) AS n_sampled
    FROM documents d JOIN th USING (lang)
    WHERE substring(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 4)
          < printf('%04x', th.threshold)
    GROUP BY d.lang, th.n_s, th.threshold
    """,
    tags=("extension", "sampling", "mixture"),
)
def ext_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced (α=0.5) mixture sampling across languages —
    the multilingual data-mixing rebalance (operators/sampling.py::
    temperature_mixture_sample): the dominant language is down-sampled
    and the small ones up-weighted relative to proportional sampling,
    with every threshold an exact integer both engines derive
    identically (isqrt weights, integer division, md5-prefix
    membership). Output is the per-language audit row: corpus count,
    realized hex-bucket threshold, sampled count."""
    from gads_etl_spark.operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"))
    sampled = SA.temperature_mixture_sample(docs, source_col="lang")
    return (
        sampled.groupBy("lang", "threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))
        .join(F.broadcast(counts), "lang")
        .select("lang", "n_docs", "threshold", "n_sampled")
    )


@register(
    "ext_split_assign",
    oracle="""
    SELECT split, lang, count(*) AS n FROM (
        SELECT lang,
               CASE WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                    THEN 'train'
                    WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ) GROUP BY split, lang
    ORDER BY split, lang
    """,
    tags=("extension", "sampling"),
)
def ext_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by hash-range cuts, audited as
    counts per (split, language). A document's split never changes as the
    corpus grows — the reproducibility property random splits lack.
    """
    from gads_etl_spark.operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    return (
        SA.train_val_test_split(docs, "doc_id", train=0.8, val=0.1)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("split", "lang")
    )


@register(
    "ext_stratified_sample",
    oracle="""
    SELECT source, count(*) AS n FROM documents
    WHERE (source = 'src0'
           AND substring(md5('strata' || CAST(doc_id AS VARCHAR)), 1, 4) < 'g')
       OR (source = 'src1'
           AND substring(md5('strata' || CAST(doc_id AS VARCHAR)), 1, 4) < '8000')
       OR (source NOT IN ('src0', 'src1')
           AND substring(md5('strata' || CAST(doc_id AS VARCHAR)), 1, 4) < '1999')
    GROUP BY source ORDER BY source
    """,
    tags=("extension", "sampling"),
)
def ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling mix in one pass: keep src0 whole, half of
    src1, 10% of everything else — the "downweight boilerplate, keep
    rare quality sources" move, still shuffle-free and reproducible.
    """
    from gads_etl_spark.operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    return (
        SA.stratified_hash_sample(
            docs, "doc_id", "source",
            rates={"src0": 1.0, "src1": 0.5}, default_rate=0.1,
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("source")
    )


@register(
    "ext_pack_bins",
    oracle="""
    WITH toks AS (
        SELECT source, doc_id,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT source, doc_id, n_tokens,
               CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                               ROWS UNBOUNDED PRECEDING)
                           - n_tokens) / 2000.0) AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT source, bin_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY source, bin_id
    ORDER BY source, bin_id
    """,
    tags=("extension", "packing", "window"),
)
def ext_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign docs to ≈2000-token training bins.

    Greedy packing is sequential; the distributed form is exclusive-
    cumsum binning per source partition (operators/sampling.py:
    pack_sequences) — one shuffle on source, bins never span partitions,
    packing parallelizes across sources. Audited at bin granularity.
    """
    from gads_etl_spark.operators import sampling as SA
    from gads_etl_spark.operators.dedup import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    packed = SA.pack_sequences(docs, "n_tokens", budget=2000,
                               partition_col="source", order_col="doc_id")
    return (
        packed.groupBy("source", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").cast("bigint").alias("bin_tokens"))
        .orderBy("source", "bin_id")
    )


@register(
    "ext_embedding_centroids",
    oracle="""
    SELECT label, dim,
           CAST(sum(CAST(round(CAST(val AS DOUBLE) * 1e6) AS BIGINT))
                AS DOUBLE) / 1e6 / count(*) AS centroid
    FROM (
        SELECT label,
               unnest(range(1, len(embedding) + 1)) AS dim,
               unnest(embedding) AS val
        FROM embeddings
    )
    GROUP BY label, dim
    ORDER BY label, dim
    """,
    tags=("extension", "embedding", "agg"),
)
def ext_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class centroid vectors: posexplode the embedding array, one
    grouped aggregation over (label, dimension).

    The building block of prototype classifiers and KMeans E-steps. At
    100 TB this is a single shuffle of |labels| × dim partial sums
    (map-side combine collapses rows before the exchange); values sum in
    integer micro-units so the centroid is bit-identical on any cluster
    (a float sum would depend on the reduction order).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .select("label", (F.col("pos") + 1).alias("dim"),
                F.round(F.col("val").cast("double") * 1e6).cast("bigint").alias("micro"))
        .groupBy("label", "dim")
        .agg((F.sum("micro").cast("double") / 1e6 / F.count(F.lit(1))).alias("centroid"))
        .orderBy("label", "dim")
    )


@register(
    "ext_nearest_centroid",
    oracle="""
    WITH unn AS (
        SELECT label,
               unnest(range(1, len(embedding) + 1)) AS dim,
               unnest(embedding) AS val
        FROM embeddings
    ),
    cent AS (
        SELECT label AS c_label, dim,
               CAST(sum(CAST(round(CAST(val AS DOUBLE) * 1e6) AS BIGINT))
                    AS DOUBLE) / 1e6 / count(*) AS centroid
        FROM unn GROUP BY label, dim
    ),
    cvec AS (
        SELECT c_label, list(centroid ORDER BY dim) AS c_vec
        FROM cent GROUP BY c_label
    ),
    scored AS (
        SELECT e.vec_id, e.label, c.c_label,
               round(
                 list_reduce(list_transform(generate_series(1, 64),
                     i -> CAST(e.embedding[i] AS DOUBLE) * c.c_vec[i]),
                     (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                        (acc, x) -> acc + x))
                    * sqrt(list_reduce(list_transform(generate_series(1, 64),
                        i -> c.c_vec[i] * c.c_vec[i]),
                        (acc, x) -> acc + x))), 6) AS cos
        FROM embeddings e CROSS JOIN cvec c
    )
    SELECT label, c_label AS assigned, count(*) AS n FROM (
        SELECT vec_id, label, c_label,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, c_label) AS rn
        FROM scored
    ) WHERE rn = 1
    GROUP BY label, c_label
    ORDER BY label, assigned
    """,
    tags=("extension", "embedding", "similarity"),
)
def ext_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification audit (confusion counts).

    Class centroids build with exact micro-unit sums (one shuffle of
    |labels| × dim rows); the centroid table is bounded (classes × dim),
    so it broadcasts — the corpus side streams through map tasks with no
    shuffle, exactly the KNN-bruteforce shape. Scores round to 6 decimals
    with a label tiebreak so the argmax is engine-independent.
    """
    from pyspark.sql.window import Window

    from gads_etl_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .select("label", (F.col("pos") + 1).alias("dim"),
                F.round(F.col("val").cast("double") * 1e6).cast("bigint").alias("micro"))
        .groupBy("label", "dim")
        .agg((F.sum("micro").cast("double") / 1e6 / F.count(F.lit(1))).alias("centroid"))
        .groupBy("label")
        .agg(F.transform(F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
                         lambda s: s["centroid"]).alias("c_vec"))
        .select(F.col("label").alias("c_label"), "c_vec")
    )
    scored = (
        emb.select("vec_id", "label",
                   F.col("embedding").cast("array<double>").alias("v"))
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "label", "c_label",
                F.round(cosine(F.col("v"), F.col("c_vec")), 6).alias("cos"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("c_label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("label", F.col("c_label").alias("assigned"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "assigned")
    )


@register(
    "ext_tfidf_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, score, rank FROM (
        SELECT doc_id, term, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, term) AS rank
        FROM scored
    ) WHERE rank <= 3
    ORDER BY doc_id, rank
    """,
    tags=("extension", "text", "tfidf"),
)
def ext_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic keyword extractor.

    Term frequencies combine map-side before the (doc, term) shuffle;
    document frequencies are a second aggregate over distinct (term, doc)
    — at corpus scale both shuffles are on term-ish keys and the score
    join is a plain shuffled equi-join on term (the vocabulary is too
    big to broadcast; AQE may still choose to). The corpus size joins in
    as a 1-row broadcast. Scores round to 6 decimals with a term
    tiebreak so ranking is engine-independent.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(D.tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
                    6).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .orderBy("doc_id", "rank")
    )


@register(
    "ext_chunk_docs",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
        SELECT doc_id, unnest(generate_series(1, len(t), 20)) AS start, t
        FROM toks
    )
    SELECT doc_id,
           CAST((start - 1) / 20 AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(t, start, start + 29)) AS BIGINT) AS n_chunk_tokens,
           array_to_string(list_slice(t, start, start + 29), ' ') AS chunk_text
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
    tags=("extension", "text", "chunking"),
)
def ext_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split documents into overlapping token windows (size 30, stride
    20) — context-window chunking for embedding/training.

    A 1-to-N fan-out done entirely with JVM array functions: sequence of
    chunk starts → explode → slice. No shuffle at all until a downstream
    op needs one; at 100 TB this is a pure map stage whose output feeds
    the embedding/packing steps.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = D.tokens(F.col("text"))
    return (
        docs.select("doc_id", t.alias("t"))
        .select("doc_id", "t",
                F.explode(F.sequence(F.lit(1), F.size("t"), F.lit(20))).alias("start"))
        .select(
            "doc_id",
            ((F.col("start") - 1) / 20).cast("bigint").alias("chunk_idx"),
            F.size(F.slice(F.col("t"), F.col("start"), 30)).cast("bigint")
            .alias("n_chunk_tokens"),
            F.concat_ws(" ", F.slice(F.col("t"), F.col("start"), 30))
            .alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "ext_curation_pipeline",
    oracle="""
    WITH dedup AS (
        SELECT doc_id, lang, source, text FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(text)
                                         ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1
    ),
    quality AS (
        SELECT doc_id, lang, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM dedup
        WHERE len(string_split(text, ' ')) >= 30
    ),
    split AS (
        SELECT *,
               CASE WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                    THEN 'train'
                    WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM quality
    ),
    sampled AS (
        SELECT * FROM split
        WHERE split <> 'train'
           OR substring(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 4) < 'c000'
    )
    SELECT s.doc_id, s.lang, s.source, s.n_tokens, s.split,
           (e.vec_id IS NOT NULL) AS has_embedding
    FROM sampled s LEFT JOIN embeddings e ON e.vec_id = s.doc_id
    ORDER BY s.doc_id
    """,
    tags=("extension", "pipeline", "composite"),
)
def ext_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation in one declarative plan: exact dedup →
    length filter → split assignment → 75% downsample of train →
    embedding-coverage join.

    The point is composition: each stage is the already-tested operator,
    and because everything stays declarative Catalyst fuses the dedup
    window, filters, and hash predicates into a handful of stages — the
    scans prune to referenced columns and the only shuffles are the dedup
    hash and the final join. This is the query a user actually ships.
    """
    from gads_etl_spark.operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id")
    deduped = D.exact_dedup(docs)
    quality = (
        deduped.withColumn("n_tokens", F.size(D.tokens(F.col("text"))).cast("bigint"))
        .where(F.col("n_tokens") >= 30)
    )
    split = SA.train_val_test_split(quality, "doc_id", train=0.8, val=0.1)
    sampled = split.where(
        (F.col("split") != "train")
        | (F.substring(F.md5(F.concat(F.lit("sample"), F.col("doc_id").cast("string"))),
                       1, 4) < F.lit("c000"))
    )
    return (
        sampled.join(emb, sampled.doc_id == emb.vec_id, "left")
        .select("doc_id", "lang", "source", "n_tokens", "split",
                F.col("vec_id").isNotNull().alias("has_embedding"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Corpus quality: PII redaction, decontamination, repetition, domain mixing
# ---------------------------------------------------------------------------

_GRAM4 = " || ' ' || ".join(f"string_split(text, ' ')[i+{j}]" for j in range(4))


@register(
    "ext_pii_redact",
    oracle="""
    WITH injected AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 7 = 0 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now' ELSE '' END
               || CASE WHEN doc_id % 11 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
               || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789' ELSE '' END
               || CASE WHEN doc_id % 17 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
               AS text
        FROM documents
    ),
    red AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                   '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '[PHONE]', 'g'),
                   '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g'),
                   '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g') AS clean_text
        FROM injected
    )
    SELECT doc_id, clean_text,
           CAST((len(clean_text) - len(replace(clean_text, '[EMAIL]', ''))) / 7 AS BIGINT) AS n_email,
           CAST((len(clean_text) - len(replace(clean_text, '[PHONE]', ''))) / 7 AS BIGINT) AS n_phone,
           CAST((len(clean_text) - len(replace(clean_text, '[SSN]', ''))) / 5 AS BIGINT) AS n_ssn,
           CAST((len(clean_text) - len(replace(clean_text, '[IP]', ''))) / 4 AS BIGINT) AS n_ip,
           ((len(clean_text) - len(replace(clean_text, '[EMAIL]', ''))) / 7
            + (len(clean_text) - len(replace(clean_text, '[PHONE]', ''))) / 7
            + (len(clean_text) - len(replace(clean_text, '[SSN]', ''))) / 5
            + (len(clean_text) - len(replace(clean_text, '[IP]', ''))) / 4) > 0 AS pii_found
    FROM red
    """,
    tags=("extension", "quality"),
)
def ext_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: scrub emails/phones/SSNs/IPv4s to typed placeholders.

    The fixture text is PII-free word salad, so the query first injects
    deterministic synthetic PII keyed off doc_id (so the redactor is
    actually exercised, and the oracle can state the same injection), then
    runs the ordered regexp_replace chain from operators.quality. Pure
    per-row codegen'd expression work — the pass streams over any corpus
    size with zero shuffle.
    """
    from gads_etl_spark.operators import quality as Q

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(did % 7 == 0, F.concat(
                F.lit(" reach user"), did.cast("string"),
                F.lit("@mail.example.com now"))).otherwise(""),
            F.when(did % 11 == 0, F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"), F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(""),
            F.when(did % 13 == 0, F.lit(" ssn 123-45-6789")).otherwise(""),
            F.when(did % 17 == 0, F.concat(
                F.lit(" host 10.0."), (did % 256).cast("string"),
                F.lit("."), ((did * 7) % 256).cast("string"))).otherwise(""),
        ),
    )
    return Q.redact_pii(injected).select(
        "doc_id", "clean_text", "n_email", "n_phone", "n_ssn", "n_ip", "pii_found"
    )


@register(
    "ext_decontaminate",
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 3, 0)),
                   i -> {_GRAM4}
               )) AS grams
        FROM documents
    ),
    e AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
    t AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0)
    SELECT t.doc_id, CAST(count(DISTINCT t.gram) AS BIGINT) AS n_overlap
    FROM t JOIN e USING (gram)
    GROUP BY t.doc_id
    """,
    tags=("extension", "quality", "join"),
)
def ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 4-gram
    with the eval set (here: every 97th doc stands in for the benchmark;
    4 because the fixture salad only repeats short windows — production
    decontamination uses 8-13-gram windows, same plan).

    Scale shape: the eval side's distinct hashed n-grams BROADCAST (eval
    suites are bounded); the 100 TB train side is never shuffled — each
    scan task probes the broadcast set and only matches reach the tiny
    per-doc aggregation. Matches land on exact duplicates and any salad
    that happens to repeat an 8-token window.
    """
    from gads_etl_spark.operators import quality as Q

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return Q.ngram_contamination(train, eval_df, n=4)


@register(
    "ext_repetition_filter",
    oracle="""
    WITH raw2 AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, greatest(len(string_split(text, ' ')) - 1, 0)),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
               )) AS gram
        FROM documents
    ),
    per_gram AS (SELECT doc_id, gram, count(*) AS c FROM raw2 GROUP BY doc_id, gram),
    per_doc AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
               CAST(max(c) AS BIGINT) AS top_2gram_count
        FROM per_gram GROUP BY doc_id
    ),
    base AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
        FROM documents
    )
    SELECT b.doc_id, b.n_tokens,
           coalesce(p.n_2grams, 0) AS n_2grams,
           coalesce(p.top_2gram_count, 0) AS top_2gram_count,
           1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens AS dup_word_frac,
           CAST(coalesce(p.top_2gram_count, 0) AS DOUBLE)
             / nullif(coalesce(p.n_2grams, 0), 0) AS top_2gram_frac,
           (1.0 - CAST(b.n_distinct AS DOUBLE) / b.n_tokens) > 0.72
             OR (CAST(coalesce(p.top_2gram_count, 0) AS DOUBLE)
                 / nullif(coalesce(p.n_2grams, 0), 0)) > 0.05 AS is_repetitive
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """,
    tags=("extension", "quality"),
)
def ext_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics: duplicate-word fraction and the
    share of 2-gram mass taken by the most frequent 2-gram, plus the
    filter verdict. Explode + two-level aggregation (map-side combine on
    (doc_id, gram)) — the scale shape; no per-row O(d^2) scans.
    """
    from gads_etl_spark.operators import quality as Q

    docs = load_table(spark, sf_dir, "documents")
    stats = Q.repetition_stats(docs)
    return stats.withColumn(
        "is_repetitive",
        (F.col("dup_word_frac") > 0.72) | (F.col("top_2gram_frac") > 0.05),
    )


@register(
    "ext_domain_mix",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS nt FROM documents
    ),
    tot AS (SELECT CAST(sum(nt) AS BIGINT) AS total_tokens FROM tok),
    strata AS (
        SELECT source, CAST(sum(nt) AS BIGINT) AS stratum_tokens
        FROM tok GROUP BY source
    ),
    rates AS (
        SELECT source, stratum_tokens,
               CAST(least(1000000, floor(
                   (CASE source WHEN 'src0' THEN 300000 WHEN 'src1' THEN 200000
                                WHEN 'src2' THEN 100000 WHEN 'src3' THEN 100000
                                ELSE 25000 END)
                   * floor(total_tokens * 30 / 100) / stratum_tokens)) AS BIGINT)
               AS rate_micro
        FROM strata, tot
    ),
    kept AS (
        SELECT t.doc_id, t.source, t.nt, r.stratum_tokens, r.rate_micro
        FROM tok t JOIN rates r USING (source)
        WHERE substring(md5('mix' || CAST(t.doc_id AS VARCHAR)), 1, 4)
              < CASE WHEN r.rate_micro >= 1000000 THEN 'g'
                     ELSE printf('%04x', CAST(floor(r.rate_micro * 65536 / 1000000) AS BIGINT)) END
    )
    SELECT source, stratum_tokens, rate_micro,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(nt) AS BIGINT) AS tokens_kept
    FROM kept GROUP BY source, stratum_tokens, rate_micro
    """,
    tags=("extension", "quality", "sampling"),
)
def ext_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained domain mixing: resample the corpus so each
    source contributes its target share of a 30%-of-corpus token budget.

    Per-source keep rates come from ONE aggregation (integer micro-unit
    arithmetic, so both engines agree bit-for-bit), broadcast back onto
    the corpus; the keep decision is the shuffle-free md5-prefix
    threshold. Reports the per-source mix actually achieved.
    """
    from gads_etl_spark.operators import quality as Q

    docs = load_table(spark, sf_dir, "documents")
    kept = Q.mix_to_budget(
        docs,
        weights_micro={"src0": 300_000, "src1": 200_000,
                       "src2": 100_000, "src3": 100_000},
        budget_pct=30,
        default_weight_micro=25_000,
    )
    return kept.groupBy("source", "stratum_tokens", "rate_micro").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.size(D.tokens(F.col("text"))).cast("long")).alias("tokens_kept"),
    )


@register(
    "ext_embedding_quantize",
    oracle="""
    WITH s AS (
        SELECT vec_id, label, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127
                 AS scale
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, label, embedding, scale,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) AS qv
        FROM s
    )
    SELECT vec_id, label,
           round(scale, 6) AS scale6,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_min(qv) AS BIGINT) AS q_min,
           CAST(list_max(qv) AS BIGINT) AS q_max,
           round(
             list_reduce(list_transform(generate_series(1, 64),
                         i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)),
                         (acc, x) -> acc + x)
             / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                         i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
                         (acc, x) -> acc + x))
                * sqrt(list_reduce(list_transform(generate_series(1, 64),
                         i -> CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)),
                         (acc, x) -> acc + x))), 6) AS cos_fid
    FROM q
    """,
    tags=("extension", "similarity", "quantization"),
)
def ext_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization with per-vector fidelity report.

    Emits the quantization summary (scale, int8 value bounds/sum — which
    pin every quantized component through the sum) and the cosine between
    each original vector and its quantized form (≈1.0: int8 is enough for
    cosine ANN). The storage story is the point: 4 bytes/dim → 1, so the
    100 TB ANN corpus broadcast/shuffle volume drops 4×.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    quant = S.quantize_int8(emb)
    v = F.col("embedding").cast("array<double>")

    # LET-BIND the quantized vector: q_vec is a derived column, and
    # CollapseProject inlines its (interpreted, CSE-less) HOF definition
    # into every one of the six consumers below — six quantization
    # passes per row. Binding it as a lambda variable via a
    # single-element transform evaluates it exactly once per row (same
    # idiom as operators/similarity.py:quantize_int8).
    def _report(q):
        qd = F.transform(q, lambda x: x.cast("double"))
        dot = F.aggregate(F.zip_with(v, qd, lambda a, b: a * b),
                          F.lit(0.0), lambda acc, x: acc + x)
        nv = F.sqrt(F.aggregate(F.zip_with(v, v, lambda a, b: a * b),
                                F.lit(0.0), lambda acc, x: acc + x))
        nq = F.sqrt(F.aggregate(F.zip_with(qd, qd, lambda a, b: a * b),
                                F.lit(0.0), lambda acc, x: acc + x))
        return F.struct(
            F.aggregate(q, F.lit(0).cast("long"),
                        lambda acc, x: acc + x.cast("long")).alias("q_sum"),
            F.array_min(q).cast("long").alias("q_min"),
            F.array_max(q).cast("long").alias("q_max"),
            F.round(dot / (nv * nq), 6).alias("cos_fid"),
        )

    # explode (a Generate node, not a projection) materializes the
    # 1-element report as a real output attribute: field extraction
    # below references the attribute instead of re-inlining the
    # computation per field (GetStructField cannot simplify through the
    # lambda boundary, so a plain projection would evaluate the report
    # four times). No shuffle; the generator is 1:1 by construction.
    return quant.select(
        "vec_id", "label",
        F.round(F.col("q_scale"), 6).alias("scale6"),
        F.explode(F.transform(F.array(F.col("q_vec")), _report)).alias("_r"),
    ).select(
        "vec_id", "label", "scale6",
        F.col("_r.q_sum").alias("q_sum"),
        F.col("_r.q_min").alias("q_min"),
        F.col("_r.q_max").alias("q_max"),
        F.col("_r.cos_fid").alias("cos_fid"),
    )


@register(
    "ext_knn_quantized",
    oracle="""
    WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127
                 AS scale
        FROM embeddings WHERE vec_id >= 10
    ),
    c AS (
        SELECT vec_id,
               list_transform(
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)),
                   v -> v * scale) AS emb
        FROM s
    ),
    q AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings WHERE vec_id < 10
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(
                 list_reduce(list_transform(generate_series(1, 64),
                             i -> q.emb[i] * c.emb[i]), (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                             i -> q.emb[i] * q.emb[i]), (acc, x) -> acc + x))
                    * sqrt(list_reduce(list_transform(generate_series(1, 64),
                             i -> c.emb[i] * c.emb[i]), (acc, x) -> acc + x))), 6)
                 AS cos_sim,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 round(
                   list_reduce(list_transform(generate_series(1, 64),
                               i -> q.emb[i] * c.emb[i]), (acc, x) -> acc + x)
                   / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                               i -> q.emb[i] * q.emb[i]), (acc, x) -> acc + x))
                      * sqrt(list_reduce(list_transform(generate_series(1, 64),
                               i -> c.emb[i] * c.emb[i]), (acc, x) -> acc + x))), 6)
                 DESC, c.vec_id) AS rank
        FROM q JOIN c ON true
    ) WHERE rank <= 5
    """,
    tags=("extension", "similarity", "quantization"),
)
def ext_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine over the INT8-QUANTIZED corpus: quantize,
    dequantize on the fly (q * scale), then the same broadcast-query
    brute-force scan as ext_knn_bruteforce. The point of the oracle here
    is that quantization is deterministic arithmetic, not a model — both
    engines derive identical int8 codes and identical dequantized
    scores. At 100 TB this scan reads 1 byte/dim instead of 4.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 10)
    queries = emb.where(F.col("vec_id") < 10)
    deq = S.quantize_int8(corpus).select(
        "vec_id",
        F.transform("q_vec", lambda x: x.cast("double") * F.col("q_scale"))
        .alias("embedding"),
    )
    return S.cosine_topk_bruteforce(corpus=deq, queries=queries, k=5)


@register(
    "ext_semantic_dedup",
    oracle="""
    SELECT CAST(vec_id + (SELECT max(vec_id) + 1 FROM embeddings)
                AS BIGINT) AS dropped_id
    FROM embeddings WHERE vec_id < 50
    """,
    tags=("extension", "dedup", "embedding"),
)
def ext_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-blocked semantic near-dup pruning) on a corpus
    with 50 injected exact duplicates (ids offset by max(vec_id)+1,
    collision-free at every tier) of the
    first 50 vectors. Returns the dropped ids.

    The oracle is exact, not approximate: the fixture's natural max
    pairwise cosine is ~0.6 at every SF while the threshold is 0.9, so
    only (source, copy) pairs qualify — and identical vectors always
    share a KMeans cell (identical centroid distances, deterministic
    tie-break), so the dropped set is exactly the injected copies at ANY
    clustering outcome. Clustering can only miss pairs, never invent
    them, which makes the result seed/partitioning-invariant.

    n_clusters grows ~sqrt(N) exactly as the operator docstring
    prescribes for scale: within-cell comparison cost is sum(|cell|^2)
    ~= N^2 / n_clusters, so sqrt-scaling keeps it ~N^1.5 instead of N^2
    (fixed 16 cells measured 2.5e9 cosines at the 100x tier — the
    round-12 sweep deferral). Because the dropped set is clustering-
    invariant (above), the tier-dependent cluster count cannot change a
    single output row.
    """
    import math

    from gads_etl_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    mx, n = emb.agg(F.max("vec_id"), F.count(F.lit(1))).first()
    off = mx + 1  # see _doc_id_offset
    copies = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + off).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.select("vec_id", "embedding", "label").unionByName(copies)
    survivors = semantic_dedup(corpus, threshold=0.9,
                               n_clusters=max(16, math.isqrt(n)))
    return (
        corpus.select("vec_id")
        .join(survivors.select("vec_id"), "vec_id", "left_anti")
        .select(F.col("vec_id").alias("dropped_id"))
    )


@register(
    "ext_fuzzy_match",
    oracle="""
    SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_type = b.p_type
     AND a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
     AND levenshtein(a.p_name, b.p_name) <= 2
    """,
    tags=("extension", "dedup", "fuzzy"),
)
def ext_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity matching over part names: within each
    (p_type, p_brand) block, every (a, b) pair whose names are ≤2
    Levenshtein edits apart ("red bolt" ~ "red bolts"). Equi-join on the
    composite block key + length lower-bound prefilter — never an
    all-pairs cross product; the two-column key is the hot-block
    mitigation the operator docstring prescribes (p_type alone leaves
    ~3k-row blocks at sf0.1 → ~1M output pairs; adding p_brand cuts
    block occupancy 25×). Spark and DuckDB agree exactly on the
    Levenshtein metric.
    """
    from gads_etl_spark.operators.dedup import blocked_edit_distance_pairs

    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pid"), "p_name", "p_type", "p_brand"
    )
    return blocked_edit_distance_pairs(
        part, block_cols=["p_type", "p_brand"], id_col="pid",
        name_col="p_name", max_dist=2,
    ).select(
        F.col("a_id").alias("a_id"),
        F.col("b_id").alias("b_id"),
        "edit_dist",
    )


@register(
    "ext_fuzzy_passjoin",
    oracle="""
    SELECT a.p_partkey AS a_id, b.p_partkey AS b_id,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_type = b.p_type
     AND a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
     AND levenshtein(a.p_name, b.p_name) <= 2
    """,
    tags=("extension", "dedup", "fuzzy"),
)
def ext_fuzzy_passjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same fuzzy entity match as ``ext_fuzzy_match`` (identical
    oracle, identical result set), computed by PassJoin segment
    filtering instead of per-block quadratic comparison: every name
    splits into 3 even segments; a pair within 2 edits must agree
    exactly on one aligned segment, so candidates come from an equi-join
    on (block, len, seg_idx, seg) keys — shuffle LINEAR in the corpus.
    This is the 100 TB path: the sf0.1→sf1 scaling run measured the
    blocked variant going quadratic once its fixed-cardinality block
    keys saturated (SCALING.md), while segment keys scale with the data.
    """
    from gads_etl_spark.operators.dedup import edit_distance_pairs_passjoin

    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pid"), "p_name", "p_type", "p_brand"
    )
    return edit_distance_pairs_passjoin(
        part, block_cols=["p_type", "p_brand"], id_col="pid",
        name_col="p_name", max_dist=2,
    )


@register(
    "ext_tfidf_cosine",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
      HAVING count(*) <= greatest(
        -- floor(), not a bare CAST: DuckDB's decimal->BIGINT cast rounds
        -- to nearest, while the engine truncates (int(max_df_frac * N) in
        -- dedup.py) -- on doc counts not divisible by 10 the two cutoffs
        -- would differ by one and any term on the boundary breaks parity.
        50, CAST(floor(0.1 * (SELECT count(*) FROM documents)) AS BIGINT))
    ), n AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
    ), w0 AS (
      SELECT tf.doc_id, tf.term, dfq.df,
             CAST(round(tf.tf * ln(n.n / dfq.df) * 1000) AS BIGINT) AS wq
      FROM tf JOIN dfq USING (term) CROSS JOIN n
    ), w AS (
      SELECT doc_id, term, wq,
             sum(wq * wq) OVER (PARTITION BY doc_id ORDER BY df ASC, term ASC
                                ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING) AS sfx,
             sum(wq * wq) OVER (PARTITION BY doc_id) AS ssq
      FROM w0
    ), cand AS (
      SELECT DISTINCT least(p.doc_id, q.doc_id) AS a_id,
                      greatest(p.doc_id, q.doc_id) AS b_id
      FROM w p JOIN w q ON p.term = q.term AND p.doc_id <> q.doc_id
      WHERE p.sfx * 1000 > 600 * p.ssq
    ), dots AS (
      SELECT c.a_id, c.b_id, a.ssq AS ssq_a, b.ssq AS ssq_b,
             sum(a.wq * b.wq) AS dot
      FROM cand c
      JOIN w a ON a.doc_id = c.a_id
      JOIN w b ON b.doc_id = c.b_id AND b.term = a.term
      GROUP BY c.a_id, c.b_id, a.ssq, b.ssq
    )
    SELECT a_id, b_id,
           round(dot / (sqrt(ssq_a) * sqrt(ssq_b)), 6) AS cos_sim
    FROM dots
    WHERE round(dot / (sqrt(ssq_a) * sqrt(ssq_b)), 6) >= 0.6
    """,
    tags=("extension", "dedup", "similarity"),
)
def ext_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs (threshold 0.6) via an
    inverted index with PREFIX FILTERING — the weighted
    lexical-similarity family between bag-of-words fingerprints and
    embedding cosine. Candidates come only from each document's rarest
    terms (the prefix whose remaining normalized mass exceeds the
    threshold — lossless above it), so frequent terms never form
    quadratic hot keys; integer-quantized weights make every sum exact,
    so Spark and DuckDB agree bit-for-bit where float summation order
    would diverge. The oracle mirrors the identical prefix rule.
    """
    from gads_etl_spark.operators.dedup import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(
        docs, threshold=0.6, max_df=50
    ).select("a_id", "b_id", "cos_sim")


@register(
    "ext_sorted_neighborhood",
    oracle="""
    WITH r AS (
      SELECT p_partkey AS id, p_name,
             row_number() OVER (ORDER BY p_name, p_partkey) - 1 AS rk
      FROM part
    ),
    gaps AS (SELECT unnest(ARRAY[1, 2, 3]) AS g)
    SELECT a.id AS a_id, b.id AS b_id,
           CAST(g AS INT) AS rank_gap,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM gaps CROSS JOIN r a JOIN r b ON b.rk = a.rk + g
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
    tags=("extension", "dedup", "fuzzy"),
)
def ext_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood fuzzy matching (Hernández & Stolfo 1995):
    sort all parts by name, compare each row only to the next 3 in sort
    order, keep pairs within 2 edits. The THIRD candidate-generation
    family next to key blocking (ext_fuzzy_match) and segment indexing
    (ext_fuzzy_passjoin) — a name sort puts near-duplicates adjacent
    even when they disagree on every categorical attribute a blocker
    would key on, at a fixed 2·window candidate budget per row. The
    global rank is partition-invariant (range exchange + driver
    prefix-sum, no single-partition window), so the candidate set —
    and this result — is deterministic at any parallelism.
    """
    from gads_etl_spark.operators.dedup import sorted_neighborhood_pairs

    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pid"), "p_name"
    )
    cands = sorted_neighborhood_pairs(
        part, sort_cols=["p_name"], window=4, id_col="pid"
    )
    named = part.select(F.col("pid"), F.col("p_name"))
    return (
        cands
        .join(named.select(F.col("pid").alias("a_id"),
                           F.col("p_name").alias("_an")), "a_id")
        .join(named.select(F.col("pid").alias("b_id"),
                           F.col("p_name").alias("_bn")), "b_id")
        .where(F.levenshtein("_an", "_bn") <= 2)
        .select(
            "a_id", "b_id", "rank_gap",
            F.levenshtein("_an", "_bn").cast("int").alias("edit_dist"),
        )
    )


@register(
    "ext_dup_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), g AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(t, i, i + 7), ' ') AS gram
      FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)
    ), d AS (
      SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ), h AS (
      SELECT doc_id, pos, pos + 7 AS e FROM g JOIN d USING (gram)
    ), m AS (
      SELECT doc_id, pos, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM h
    ), i AS (
      SELECT doc_id, pos, e,
             sum(CASE WHEN prev_max IS NULL OR pos > prev_max + 1
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM m
    )
    SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end,
           CAST(count(*) AS BIGINT) AS n_dup_grams
    FROM i GROUP BY doc_id, island
    """,
    tags=("extension", "dedup", "spans"),
)
def ext_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate spans: per document, the maximal token
    spans covered by 8-grams that appear in >= 2 distinct documents —
    the boilerplate detector that doc-level dedup can't express. A
    broadcast set of duplicated 8-grams (built at call time from
    per-batch partials) + a per-document gaps-and-islands merge; the
    gram key is the raw token string, so both engines state the
    identical construction."""
    from gads_etl_spark.operators.dedup import duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_spans(docs, k=8, min_docs=2)


@register(
    "ext_strip_dup_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), g AS (
      SELECT doc_id, i AS pos,
             array_to_string(list_slice(t, i, i + 7), ' ') AS gram
      FROM toks, LATERAL unnest(generate_series(1, greatest(len(t) - 7, 0))) AS u(i)
    ), d AS (
      SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ), h AS (
      SELECT doc_id, pos, pos + 7 AS e FROM g JOIN d USING (gram)
    ), m AS (
      SELECT doc_id, pos, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max
      FROM h
    ), isl AS (
      SELECT doc_id, pos, e,
             sum(CASE WHEN prev_max IS NULL OR pos > prev_max + 1
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM m
    ), spans AS (
      SELECT doc_id, min(pos) AS span_start, max(e) AS span_end
      FROM isl GROUP BY doc_id, island
    ), tok AS (
      SELECT doc_id, i AS pos, t[i] AS tok
      FROM toks, LATERAL unnest(generate_series(1, len(t))) AS u(i)
    ), keepers AS (
      SELECT tok.doc_id, pos, tok FROM tok
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = tok.doc_id
          AND pos BETWEEN s.span_start AND s.span_end)
    ), agg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM keepers GROUP BY doc_id
    )
    SELECT dd.doc_id, coalesce(agg.clean_text, '') AS clean_text,
           CAST(len(string_split(dd.text, ' ')) - coalesce(agg.n_kept, 0)
                AS BIGINT) AS n_removed_tokens
    FROM documents dd LEFT JOIN agg USING (doc_id)
    """,
    tags=("extension", "dedup", "spans"),
)
def ext_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect cross-document duplicated 8-gram spans, then CUT them from
    every document — detect + remove, the full substring-dedup pass. The
    duplicated 8-gram set is built once (one gram shuffle, at call time);
    detection and the cut share one per-document Arrow pass, with no
    join back."""
    from gads_etl_spark.operators.dedup import strip_duplicated_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return strip_duplicated_spans(docs, k=8, min_docs=2).select(
        "doc_id", "clean_text", "n_removed_tokens"
    )


@register(
    "ext_corpus_prep",
    oracle="""
    WITH dedup AS (
      SELECT doc_id, text, lang FROM (
        SELECT doc_id, text, lang,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ), scored AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             0.5 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / len(string_split(text, ' ')))
             + 0.3 * (1.0 - CAST(len(list_filter(string_split(text, ' '),
                          w -> w IN ('the', 'a', 'data', 'table', 'row'))) AS DOUBLE)
                    / len(string_split(text, ' ')))
             + 0.2 * least(len(string_split(text, ' ')) / 64.0, 1.0) AS quality
      FROM dedup
    ), kept AS (
      SELECT * FROM scored WHERE quality >= 0.62
    ), assigned AS (
      SELECT *,
             CASE WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                  THEN 'train'
                  WHEN substring(md5('split' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM kept
    )
    SELECT split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(CAST(floor(quality * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
             AS quality_micro_sum
    FROM assigned GROUP BY split, lang
    """,
    tags=("extension", "pipeline", "capstone"),
)
def ext_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone corpus-prep pipeline — the chained shape a training-data
    run actually executes: exact dedup -> heuristic quality filter ->
    reproducible hash split -> per-(split, lang) audit. One query, four
    stages, each individually oracle-checked elsewhere; this checks the
    COMPOSITION (survivor sets, filter boundaries, and split membership
    all have to agree between engines for the final counts to match).
    Quality averages travel as integer micro-units so the aggregate is
    order-independent.
    """
    from gads_etl_spark.operators import sampling as SA
    from gads_etl_spark.operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    survivors = exact_dedup(docs).select("doc_id", "text", "lang")
    toks = D.tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w))).cast("long")
    quality = (
        F.lit(0.5) * (n_distinct.cast("double") / n_tokens)
        + F.lit(0.3) * (F.lit(1.0) - n_stop.cast("double") / n_tokens)
        + F.lit(0.2) * F.least(n_tokens / F.lit(64.0), F.lit(1.0))
    )
    scored = survivors.select(
        "doc_id", "lang", n_tokens.alias("n_tokens"), quality.alias("quality")
    ).where(F.col("quality") >= 0.62)
    assigned = SA.train_val_test_split(scored, "doc_id", train=0.8, val=0.1)
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.floor(F.col("quality") * 1000000 + F.lit(0.5)).cast("long"))
        .cast("long").alias("quality_micro_sum"),
    )


# ---------------------------------------------------------------------------
# Snapshot diffing (CDC)
# ---------------------------------------------------------------------------


@register(
    "ext_snapshot_diff",
    oracle="""
    WITH old_snap AS (
        SELECT doc_id, text FROM documents
    ), new_snap AS (
        SELECT doc_id,
               CASE WHEN doc_id % 89 = 0 THEN text || ' [rev2]' ELSE text END AS text
        FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id, 'new ' || text AS text
        FROM documents WHERE doc_id % 101 = 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM old_snap o FULL OUTER JOIN new_snap n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.text IS DISTINCT FROM n.text
    """,
    tags=("extension", "cdc"),
)
def ext_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two corpus snapshots: classify every key as
    added / removed / changed (unchanged keys are never materialized).

    The "new" snapshot is derived deterministically from the fixture
    (drop doc_id%97==0, revise doc_id%89==0, add a shifted copy of
    doc_id%101==0), so the oracle can rebuild the identical pair of
    snapshots in SQL. Spark classifies via 64-bit content fingerprints
    (constant-width shuffle regardless of document size); the oracle
    compares text values directly — identical classification absent an
    xxhash64 collision, the standard fingerprint-CDC trade
    (operators/cdc.py module docstring).
    """
    from gads_etl_spark.operators import cdc as C

    docs = load_table(spark, sf_dir, "documents")
    old = docs.select("doc_id", "text")
    surviving = docs.where(F.col("doc_id") % 97 != 0)
    revised = surviving.select(
        "doc_id",
        F.when(F.col("doc_id") % 89 == 0,
               F.concat(F.col("text"), F.lit(" [rev2]")))
        .otherwise(F.col("text")).alias("text"),
    )
    added = docs.where(F.col("doc_id") % 101 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.concat(F.lit("new "), F.col("text")).alias("text"),
    )
    new = revised.unionByName(added)
    return C.snapshot_diff(old, new, ["doc_id"], compare_cols=["text"])


# ---------------------------------------------------------------------------
# Data-quality constraint suite
# ---------------------------------------------------------------------------


@register(
    "ext_dq_checks",
    oracle="""
    SELECT 'not_null(text)' AS check, CAST(count(*) FILTER (WHERE text IS NULL) AS BIGINT) AS n_violations FROM documents
    UNION ALL
    SELECT 'in_set(lang)', CAST(count(*) FILTER (WHERE lang IS NULL OR lang NOT IN ('en','es')) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'in_range(n_chars)', CAST(count(*) FILTER (WHERE n_chars IS NULL OR n_chars < 0 OR n_chars > 300) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'n_chars_consistent', CAST(count(*) FILTER (WHERE n_chars IS DISTINCT FROM length(text)) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'matches(source)', CAST(count(*) FILTER (WHERE source IS NULL OR NOT regexp_matches(source, '^src[0-9]+$')) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'unique(doc_id)', CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) FROM documents
    UNION ALL
    SELECT 'ref(o_custkey)', CAST(count(*) AS BIGINT) FROM orders
    WHERE o_custkey IS NOT NULL
      AND o_custkey NOT IN (SELECT c_custkey FROM customer)
    """,
    tags=("extension", "quality"),
)
def ext_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality suite (operators/dq.py).

    Five row-level constraints compile into ONE conditional-sum aggregate
    over a single documents scan; key uniqueness adds one partial-agg
    shuffle; referential integrity (orders→customer) one broadcast anti
    join. Violation counts are exact on both engines. The in_set/in_range
    bands are deliberately tight so the fixture yields nonzero violation
    counts — a suite that can only ever report zeros tests nothing.
    """
    from gads_etl_spark.operators import dq

    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    doc_checks = [
        dq.not_null("text"),
        dq.in_set("lang", ("en", "es")),
        dq.in_range("n_chars", 0, 300),
        dq.custom("n_chars_consistent",
                  F.col("n_chars").eqNullSafe(F.length(F.col("text")))),
        dq.matches("source", r"^src[0-9]+$"),
        dq.unique("doc_id"),
    ]
    order_checks = [
        dq.ref_integrity(["o_custkey"], customer, ["c_custkey"]),
    ]
    doc_r = dq.run_checks(docs, doc_checks)
    ord_r = dq.run_checks(orders, order_checks)
    return doc_r.unionByName(ord_r)


@register(
    "ext_profile_columns",
    oracle="""
    SELECT 'doc_id' AS column, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(doc_id) AS BIGINT) AS n_null,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_value,
           CAST(max(doc_id) AS VARCHAR) AS max_value FROM documents
    UNION ALL
    SELECT 'lang', CAST(count(*) AS BIGINT), CAST(count(*) - count(lang) AS BIGINT),
           CAST(count(DISTINCT lang) AS BIGINT), min(lang), max(lang) FROM documents
    UNION ALL
    SELECT 'source', CAST(count(*) AS BIGINT), CAST(count(*) - count(source) AS BIGINT),
           CAST(count(DISTINCT source) AS BIGINT), min(source), max(source) FROM documents
    UNION ALL
    SELECT 'n_chars', CAST(count(*) AS BIGINT), CAST(count(*) - count(n_chars) AS BIGINT),
           CAST(count(DISTINCT n_chars) AS BIGINT),
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents
    """,
    tags=("extension", "quality"),
)
def ext_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler (operators/dq.py::profile_columns) in
    exact-distinct mode so DuckDB can reproduce the numbers; the engine
    default is HLL approx (single partial-agg pass, no Expand) for
    corpus-scale tables. String-typed min/max keeps the output schema
    uniform; profiled columns here are bigint/varchar so both engines
    render identical strings.
    """
    from gads_etl_spark.operators import dq

    docs = load_table(spark, sf_dir, "documents")
    return dq.profile_columns(
        docs, ["doc_id", "lang", "source", "n_chars"], exact_distinct=True)


@register(
    "ext_build_vocab",
    oracle="""
    SELECT token,
           CAST(row_number() OVER (ORDER BY n_occurrences DESC, token ASC) - 1 AS BIGINT)
               AS token_id,
           n_docs, n_occurrences
    FROM (
        SELECT token,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_occurrences
        FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
            FROM documents
        ) WHERE token <> ''
        GROUP BY token
    ) WHERE n_occurrences >= 5
    """,
    tags=("extension", "text"),
)
def ext_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary with dense contiguous token ids
    (operators/vocab.py). The oracle is the single-window row_number
    formulation; the engine assigns the SAME ids via range partitioning
    + per-partition offsets + an Arrow mapInPandas counter, so no task
    ever windows the whole vocabulary — the difference between a
    tokenizer-prep job that runs at 100 TB and one that pins a single
    executor.
    """
    from gads_etl_spark.operators import vocab as V

    docs = load_table(spark, sf_dir, "documents")
    return V.build_vocab(docs, min_count=5)


#: Shared DuckDB oracle prefix: min_count=5 vocabulary, positional token
#: explode, and per-document encoded id lists — the encode/pack oracles
#: state their results over this one definition.
_ENCODE_CTE = """\
    WITH vocab AS (
        SELECT token,
               CAST(row_number() OVER (ORDER BY n_occurrences DESC, token ASC) - 1 AS BIGINT)
                   AS token_id
        FROM (
            SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
            FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
            WHERE token <> '' GROUP BY token
        ) WHERE n_occurrences >= 5
    ), exploded AS (
        SELECT doc_id, t.pos, t.token
        FROM documents,
             LATERAL (SELECT unnest(string_split(lower(text), ' ')) AS token,
                             generate_subscripts(string_split(lower(text), ' '), 1) AS pos) t
        WHERE t.token <> ''
    ), enc AS (
        SELECT e.doc_id, list(COALESCE(v.token_id, -1) ORDER BY e.pos) AS token_ids
        FROM exploded e LEFT JOIN vocab v ON e.token = v.token
        GROUP BY e.doc_id
    )"""


@register(
    "ext_encode_docs",
    oracle=_ENCODE_CTE + """
    SELECT doc_id, array_to_string(token_ids, ' ') AS token_ids FROM enc
    """,
    tags=("extension", "text"),
)
def ext_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encoding against the built vocabulary: every document as
    its ordered token-id sequence, OOV = -1. The broadcast vocab join
    leaves exactly one exchange (the per-document re-assembly groupBy);
    order is restored by a map-side array_sort over (pos, id) structs,
    not a window. The id sequence is emitted space-joined: registered
    query outputs stay scalar so the driver's value compare is
    representation-independent (array columns round-trip as numpy vs
    list depending on the session's Arrow conf).
    """
    from gads_etl_spark.operators import vocab as V

    docs = load_table(spark, sf_dir, "documents")
    voc = V.build_vocab(docs, min_count=5)
    return V.encode_docs(docs, voc).select(
        "doc_id", F.array_join("token_ids", " ").alias("token_ids"))


@register(
    "ext_block_pack",
    oracle=_ENCODE_CTE + """
    , sh AS (
        SELECT doc_id % 4 AS shard, doc_id, token_ids,
               CAST(len(token_ids) AS BIGINT) AS l
        FROM enc WHERE len(token_ids) > 0
    ), cum AS (
        SELECT *, COALESCE(SUM(l) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
        FROM sh
    ), spans AS (
        SELECT shard, doc_id, token_ids, l, s,
               unnest(generate_series(CAST(floor(s / 64) AS BIGINT),
                                      CAST(floor((s + l - 1) / 64) AS BIGINT))) AS block_id
        FROM cum
    ), frags AS (
        SELECT shard, block_id,
               GREATEST(s, block_id * 64) AS lo,
               LEAST(s + l, (block_id + 1) * 64) AS hi,
               token_ids, s
        FROM spans
    )
    SELECT shard, block_id,
           array_to_string(
               flatten(list(token_ids[CAST(lo - s + 1 AS BIGINT):CAST(hi - s AS BIGINT)]
                            ORDER BY lo)), ' ') AS token_ids,
           CAST(SUM(hi - lo) AS BIGINT) AS n_tokens
    FROM frags GROUP BY shard, block_id
    """,
    tags=("extension", "packing"),
)
def ext_block_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style training-block construction end to end: build the
    vocabulary, encode every document, then cut each shard's
    concatenated id stream into contiguous 64-token blocks (documents
    split across boundaries). Shard = doc_id % 4 so the oracle can
    reproduce the sharding arithmetically; production uses a hash shard
    expression with n_shards sized to the cluster.
    """
    from gads_etl_spark.operators import sampling as SA
    from gads_etl_spark.operators import vocab as V

    docs = load_table(spark, sf_dir, "documents")
    voc = V.build_vocab(docs, min_count=5)
    enc = V.encode_docs(docs, voc).withColumn(
        "shard", (F.col("doc_id") % 4).cast("long"))
    packed = SA.block_pack(enc, block_size=64, shard_col="shard")
    # scalar output convention: see ext_encode_docs docstring
    return packed.select(
        "shard", "block_id",
        F.array_join("token_ids", " ").alias("token_ids"), "n_tokens")


@register(
    "ext_pps_sample",
    oracle="""
    WITH tot AS (SELECT CAST(sum(n_chars) AS DOUBLE) AS w FROM documents)
    SELECT doc_id, n_chars,
           least(1.0, 300.0 * CAST(n_chars AS DOUBLE) / tot.w) AS inclusion_p
    FROM documents, tot
    WHERE least(1.0, 300.0 * CAST(n_chars AS DOUBLE) / tot.w) >= 1.0
       OR substr(md5('pps' || CAST(doc_id AS VARCHAR)), 1, 12)
          < printf('%012x',
                   CAST(floor(least(1.0, 300.0 * CAST(n_chars AS DOUBLE) / tot.w)
                              * 281474976710656.0) AS BIGINT))
    """,
    tags=("extension", "sampling"),
)
def ext_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted Poisson PPS subsample (expected 300 docs, weight
    = n_chars; long documents cap at p=1, exercising the cap branch).
    Inclusion is pure integer/hex arithmetic both engines compute
    bit-identically — no seeded RNG, no transcendental functions.
    """
    from gads_etl_spark.operators import sampling as SA

    docs = load_table(spark, sf_dir, "documents")
    return SA.pps_sample(docs, 300, "n_chars", "doc_id").select(
        "doc_id", "n_chars", "inclusion_p")


@register(
    "ext_cluster_best_dedup",
    oracle=f"""
    {_COMPONENTS_CTE.replace('WITH t AS', 'WITH RECURSIVE t AS', 1)}
    , members AS (
        SELECT d.doc_id, d.lang, d.source, d.n_chars, c.component
        FROM documents d JOIN comp c ON d.doc_id = c.node
    ), best AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY component
                                      ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM members
        ) WHERE rn = 1
    )
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id IN (SELECT doc_id FROM best)
       OR doc_id NOT IN (SELECT node FROM comp)
    ORDER BY doc_id
    """,
    tags=("extension", "dedup", "graph"),
)
def ext_cluster_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster dedup keeping the BEST member per duplicate cluster
    (longest text, id tiebreak) instead of the min-id canonical —
    the curation policy that retains the most complete copy. Same
    candidate→verify→components pipeline as ext_cluster_dedup; only the
    survivor selection differs (graph.cluster_survivors_by)."""
    from gads_etl_spark.operators import graph as G

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.shingle_jaccard_pairs(docs, block_col="source", threshold=0.7)
    comps = G.connected_components(pairs.select("a_id", "b_id"),
                                   src="a_id", dst="b_id")
    return G.cluster_survivors_by(
        docs.select("doc_id", "lang", "source", "n_chars"), comps,
        [F.desc("n_chars"), F.asc("doc_id")],
    ).orderBy("doc_id")


@register(
    "ext_balanced_sample",
    oracle="""
    SELECT vec_id, label FROM (
        SELECT vec_id, label,
               row_number() OVER (
                   PARTITION BY label
                   ORDER BY md5('balance' || CAST(vec_id AS VARCHAR)) ASC,
                            vec_id ASC
               ) AS rn
        FROM embeddings
    ) WHERE rn <= 30
    """,
    tags=("extension", "sampling"),
)
def ext_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling of the embeddings table: 30 vectors
    per label in content-hash order (operators/sampling.py::
    balanced_sample) — deterministic on any layout, no RNG; groups
    below the target keep all rows."""
    from gads_etl_spark.operators import sampling as SA

    emb = load_table(spark, sf_dir, "embeddings")
    return SA.balanced_sample(emb, "label", 30, "vec_id").select(
        "vec_id", "label")


@register(
    "ext_curation_funnel",
    oracle="""
    WITH s0 AS (
        SELECT * FROM documents
    ), s1 AS (
        SELECT * FROM s0 WHERE doc_id IN (
            SELECT doc_id FROM (
                SELECT doc_id, row_number() OVER (
                    PARTITION BY md5(text) ORDER BY doc_id) AS rn
                FROM s0
            ) WHERE rn = 1
        )
    ), s2 AS (
        SELECT * FROM s1 WHERE lang IN ('en', 'es')
    ), s3 AS (
        SELECT * FROM s2 WHERE length(text) BETWEEN 100 AND 2147483647
    )
    SELECT 'input' AS step, CAST((SELECT count(*) FROM s0) AS BIGINT) AS rows_out
    UNION ALL SELECT '0:exact_dedup', CAST((SELECT count(*) FROM s1) AS BIGINT)
    UNION ALL SELECT '1:lang_filter', CAST((SELECT count(*) FROM s2) AS BIGINT)
    UNION ALL SELECT '2:length_range', CAST((SELECT count(*) FROM s3) AS BIGINT)
    """,
    tags=("extension", "quality", "pipeline"),
)
def ext_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit form of the curation funnel: surviving row count after each
    declared step (dedup → lang → length), as a queryable result. The
    production path measures the same numbers with Observations during
    ONE pass (pipeline/curation.py — pytest ties the two together); this
    registered form states each prefix as its own aggregate so DuckDB
    can verify every stage count exactly.
    """
    from gads_etl_spark.pipeline.curation import STEP_KINDS, CurationStep

    docs = load_table(spark, sf_dir, "documents")
    steps = [
        CurationStep("exact_dedup"),
        CurationStep("lang_filter", {"allowed": ["en", "es"]}),
        CurationStep("length_range", {"min_chars": 100}),
    ]
    stages = [("input", docs)]
    df = docs
    for i, st in enumerate(steps):
        df = STEP_KINDS[st.kind](df, **st.params)
        stages.append((f"{i}:{st.kind}", df))
    counts = [
        d.agg(F.count(F.lit(1)).cast("long").alias("rows_out"))
        .select(F.lit(name).alias("step"), "rows_out")
        for name, d in stages
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


@register(
    "ext_trigram_typicality",
    oracle="""
    WITH tri AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, greatest(length(text) - 2, 0)),
                   i -> substring(lower(text), i, 3)))) AS g
        FROM documents
    ), freq AS (
        SELECT g FROM tri GROUP BY g HAVING count(*) >= 50
    )
    SELECT tri.doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(count(freq.g) AS BIGINT) AS n_typical
    FROM tri LEFT JOIN freq ON tri.g = freq.g
    GROUP BY tri.doc_id
    """,
    tags=("extension", "text", "quality"),
)
def ext_trigram_typicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-typicality scoring: how much of a document's distinct
    character-trigram set appears widely (≥50 docs-occurrences) across
    the corpus — a language-model-free perplexity proxy (out-of-domain
    or garbled text has low typical-trigram coverage). Integer outputs
    (counts, not ratios) keep the oracle hash exact.

    Scale shape: the trigram relation feeds two consumers (the
    frequent-set aggregate and the join probe), and each consumer
    RECOMPUTES it — two pipelined scan+explode stages, zero
    materialization. Through round 13 it was instead localCheckpointed
    ("scan once"); that was the measured cause of the one above-linear
    bench row (15.36× for 10× data, sf1→sf10): localCheckpoint stores
    DESERIALIZED rows, and the ~1.6B-row (doc_id, gram) relation at the
    100× tier is tens of GB of Java objects — past the storage
    fraction, so it evicts to disk and GC-thrashes, while at sf1 the
    ~160M rows still fit. Recompute has no such cliff: both explodes
    stream straight into partial aggregates (the probe side collapses
    per doc_id map-side after its broadcast join), so the cost is 2×
    one scan stage's CPU at ANY scale — strictly linear, and cheaper
    in wall than materialize-once everywhere past the cliff
    (root-caused round 14: DIAG_trigram_variants.json, SCALING.md). The
    frequent set is bounded (≤ |alphabet|³ grams) and broadcastable at
    any corpus size; then one equi-join back, one per-doc aggregate.
    """
    from gads_etl_spark.operators.quality import trigram_typicality

    # Round 17 (guide §4.2): the two exploded expression passes (one
    # interpreted substring per trigram position, one row per distinct
    # trigram — ~300M rows per pass at the 100x tier, 82s) moved into
    # operators/quality.py:trigram_typicality — two Arrow passes that
    # count distinct trigrams as vectorized uint32 codes and never
    # materialize a per-trigram relation. The frequent-set pass runs
    # eagerly at call time (a bounded ≤|alphabet|³ collect, the ANN
    # ladder's construction-time pattern). Value-identical across every
    # edge of the old semantics (ADVICE-r16 length bound included) —
    # pinned by TestTrigramTypicality's differential and the oracle.
    docs = load_table(spark, sf_dir, "documents")
    return trigram_typicality(docs, min_df=50)


@register(
    "ext_cluster_sizes",
    oracle=f"""
    {_COMPONENTS_CTE.replace('WITH t AS', 'WITH RECURSIVE t AS', 1)}
    , sizes AS (
        SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
        FROM comp GROUP BY component
    )
    SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size
    """,
    tags=("extension", "dedup", "graph"),
)
def ext_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the corpus-health view of
    dedup (a long tail of pairs is normal; a giant cluster means
    boilerplate or a crawler loop). Same candidate→components pipeline;
    one extra tiny aggregate over the component map."""
    from gads_etl_spark.operators import graph as G

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.shingle_jaccard_pairs(docs, block_col="source", threshold=0.7)
    comps = G.connected_components(pairs.select("a_id", "b_id"),
                                   src="a_id", dst="b_id")
    sizes = comps.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )


@register(
    "ext_simhash_radius",
    oracle="""
    SELECT doc_id,
           doc_id + (SELECT max(doc_id) + 1 FROM documents) AS copy_id,
           CAST(0 AS BIGINT) AS hamming
    FROM documents WHERE doc_id < 30
    """,
    tags=("extension", "dedup", "lsh"),
)
def ext_simhash_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-distance SimHash join (hamming ≤ 3) with the planted-copy
    derived oracle: the full chunk-blocked pipeline runs over corpus +
    30 exact copies, and every (original, copy) pair MUST surface at
    hamming 0 — pigeonhole blocking is lossless, so recovery is
    guaranteed under any seed or partitioning. Natural near-dup pairs
    are excluded from the registered result (not SQL-derivable) and stay
    invariant-tested in tests/test_extension_ops.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    off = _doc_id_offset(docs)
    copies = docs.where(F.col("doc_id") < 30).withColumn(
        "doc_id", F.col("doc_id") + off)
    pairs = D.simhash_radius_pairs(docs.unionByName(copies), radius=3)
    return pairs.where(
        (F.col("b_id") - F.col("a_id") == off) & (F.col("a_id") < 30)
    ).select(F.col("a_id").alias("doc_id"),
             F.col("b_id").alias("copy_id"), "hamming")


@register(
    "ext_source_scorecard",
    oracle="""
    WITH marked AS (
        SELECT source, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dup_docs,
           CAST(min(length(text)) AS BIGINT) AS min_chars,
           CAST(max(length(text)) AS BIGINT) AS max_chars
    FROM marked GROUP BY source
    """,
    tags=("extension", "quality", "agg"),
)
def ext_source_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus scorecard: document and token volumes, exact
    duplicate burden (non-survivor count under min-id dedup), and length
    bounds — the table a curation run consults to decide which sources
    to downweight (`mix_to_budget`) or drop. All-integer outputs; one
    dedup-marking window plus one rollup bounded by |sources|.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    marked = docs.select(
        "source", "text",
        F.size(D.tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.row_number().over(w).alias("rn"),
    )
    return marked.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).cast("long")
        .alias("n_dup_docs"),
        F.min(F.length("text")).cast("long").alias("min_chars"),
        F.max(F.length("text")).cast("long").alias("max_chars"),
    )


@register(
    "ext_lang_confusion",
    oracle="""
    WITH guessed AS (
        SELECT lang,
               CASE greatest(s_en, s_de, s_es, s_fr)
                    WHEN s_en THEN 'en' WHEN s_de THEN 'de'
                    WHEN s_es THEN 'es' ELSE 'fr' END AS lang_guess
        FROM (
            SELECT lang,
                   CAST((len(text) - len(replace(text, 'th', ''))) / 2 AS BIGINT) AS s_en,
                   CAST((len(text) - len(replace(text, 'ch', ''))) / 2 AS BIGINT) AS s_de,
                   CAST((len(text) - len(replace(text, 'll', ''))) / 2 AS BIGINT) AS s_es,
                   CAST((len(text) - len(replace(text, 'ou', ''))) / 2 AS BIGINT) AS s_fr
            FROM documents
        )
    )
    SELECT lang AS true_lang, lang_guess, CAST(count(*) AS BIGINT) AS n_docs
    FROM guessed GROUP BY lang, lang_guess
    """,
    tags=("extension", "text", "agg"),
)
def ext_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language-ID heuristic against the
    labelled lang column — the evaluation view that tells a curation run
    whether a classifier is good enough to route on (per-pair error
    counts, not just accuracy). One rollup over the per-doc guesses,
    bounded by |langs|²."""
    guessed = ext_lang_guess(spark, sf_dir)
    return guessed.groupBy(
        F.col("lang").alias("true_lang"), "lang_guess"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


@register(
    "ext_bm25_search",
    oracle="""
    WITH q(term) AS (VALUES ('hash'), ('join'), ('filter')),
    dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      WHERE term IN (SELECT term FROM q)
      GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), scores AS (
      SELECT tf.doc_id,
             CAST(round(
               ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
               * 1000000) AS BIGINT) AS s_micro
      FROM tf
      JOIN dfq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    ), ranked AS (
      SELECT doc_id, sum(s_micro) AS sm FROM scores GROUP BY doc_id
      ORDER BY sm DESC, doc_id ASC LIMIT 20
    )
    SELECT doc_id, round(CAST(sm AS DOUBLE) / 1000000, 6) AS bm25
    FROM ranked
    """,
    tags=("extension", "text", "search"),
)
def ext_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Lucene formulation, k1=1.2,
    b=0.75): top-20 documents for the query "hash join filter" — the
    search capability next to the similarity self-joins: score docs
    against a QUERY, not against each other.

    Scale shape: the postings scan filters to the query's terms at the
    source (an IN predicate over a handful of literals — pushdown-able,
    the inverted-index probe of a search engine), df for those terms is
    one tiny aggregate, corpus stats (N, avgdl) are two scalars a real
    deployment precomputes, and the final ranking is a TakeOrdered over
    per-doc sums. Per-term scores are quantized to micro-integers
    BEFORE summing, and the top-20 orders by the exact integer sum
    (doc_id tiebreak), so ranking and scores agree with the oracle
    bit-for-bit — float summation order never enters.
    """
    from gads_etl_spark.operators.retrieval import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return (
        bm25_scores(docs, ["hash", "join", "filter"])
        .orderBy(F.desc("sm"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id",
                F.round(F.col("sm").cast("double") / 1_000_000, 6)
                .alias("bm25"))
    )


@register(
    "ext_bm25_multi",
    oracle="""
    WITH q(query_id, term) AS (
      VALUES ('q_hash','hash'), ('q_hash','join'), ('q_hash','filter'),
             ('q_sort','sort'), ('q_sort','merge'), ('q_sort','order'),
             ('q_stream','stream'), ('q_stream','window'),
             ('q_stream','batch'), ('q_stream','spark')
    ), dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      WHERE term IN (SELECT DISTINCT term FROM q)
      GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), per_term AS (
      SELECT tf.doc_id, tf.term,
             CAST(round(
               ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
               * 1000000) AS BIGINT) AS s_micro
      FROM tf
      JOIN dfq USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
    ), persum AS (
      SELECT q.query_id, p.doc_id, sum(p.s_micro) AS sm
      FROM per_term p JOIN q USING (term)
      GROUP BY q.query_id, p.doc_id
    ), ranked AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY sm DESC, doc_id) AS BIGINT)
               AS rank,
             sm
      FROM persum
    )
    SELECT query_id, doc_id, rank,
           round(CAST(sm AS DOUBLE) / 1000000, 6) AS bm25
    FROM ranked WHERE rank <= 10
    """,
    tags=("extension", "text", "search"),
)
def ext_bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-driven BM25: a query RELATION (query_id, term) scored
    against the corpus in one pass, per-query top-10 — the batch
    retrieval shape a data-mining pipeline runs (N topics at once),
    generalizing ext_bm25_search's single hardcoded query.

    Scale shape: one postings scan filtered to the union of all query
    terms at the source; per-(doc, term) scores computed once and
    fanned out to queries by a broadcast join with the tiny query
    relation; per-query ranking is ONE window partitioned by query_id
    (WindowGroupLimit pushes the rank≤10 cutoff below the sort). Adding
    a query adds broadcast fan-out, never another corpus scan. Micro-int
    quantization before summing keeps both engines bit-identical.
    """
    from pyspark.sql.window import Window

    from gads_etl_spark.operators.retrieval import bm25_scores_multi

    docs = load_table(spark, sf_dir, "documents")
    queries_rel = spark.createDataFrame(
        [("q_hash", t) for t in ("hash", "join", "filter")]
        + [("q_sort", t) for t in ("sort", "merge", "order")]
        + [("q_stream", t) for t in ("stream", "window", "batch", "spark")],
        "query_id string, term string")
    sm = bm25_scores_multi(docs, queries_rel)
    w = Window.partitionBy("query_id").orderBy(F.desc("sm"), F.asc("doc_id"))
    return (
        sm.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 10)
        .select("query_id", "doc_id", "rank",
                F.round(F.col("sm").cast("double") / 1_000_000, 6)
                .alias("bm25"))
    )


@register(
    "ext_hybrid_search",
    oracle="""
    WITH q(term) AS (VALUES ('hash'), ('join'), ('filter')),
    dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      WHERE term IN (SELECT term FROM q)
      GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), bmscore AS (
      SELECT tf.doc_id,
             sum(CAST(round(
               ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))
               * 1000000) AS BIGINT)) AS sm
      FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
      CROSS JOIN stats GROUP BY tf.doc_id
    ), lex AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY sm DESC, doc_id)
                          AS BIGINT) AS rank
      FROM bmscore ORDER BY sm DESC, doc_id LIMIT 50
    ), qvec AS (
      SELECT embedding FROM embeddings WHERE vec_id = 0
    ), cos AS (
      SELECT c.vec_id AS doc_id,
             round(
               list_reduce(list_transform(generate_series(1, 64),
                 i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
                 (acc, x) -> acc + x)
               / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                    i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)),
                    (acc, x) -> acc + x))
                  * sqrt(list_reduce(list_transform(generate_series(1, 64),
                      i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)),
                      (acc, x) -> acc + x))), 6) AS cs
      FROM embeddings c CROSS JOIN qvec q
    ), vec AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY cs DESC, doc_id)
                          AS BIGINT) AS rank
      FROM cos ORDER BY cs DESC, doc_id LIMIT 50
    ), fused AS (
      SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
             COALESCE(CAST(round(1e9 / (60 + lex.rank)) AS BIGINT), 0)
             + COALESCE(CAST(round(1e9 / (60 + vec.rank)) AS BIGINT), 0)
               AS rrf_nano,
             COALESCE(lex.rank, 0) AS rank_lex,
             COALESCE(vec.rank, 0) AS rank_vec
      FROM lex FULL JOIN vec ON lex.doc_id = vec.doc_id
    )
    SELECT doc_id, rrf_nano, rank_lex, rank_vec
    FROM fused ORDER BY rrf_nano DESC, doc_id LIMIT 20
    """,
    tags=("extension", "search", "fusion"),
)
def ext_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-50 and dense cosine top-50
    (query vector = embedding 0) fused by Reciprocal Rank Fusion
    (operators/retrieval.py::rrf_fuse, k=60) — the standard way a
    training-data pipeline mines a corpus with both signals, surfacing
    documents either signal alone would miss. rank 0 = absent from that
    list (explicit sentinel, not NULL). Scores are nano-int sums, so
    ordering is engine-exact.

    Scale shape: each leg is the already-audited retrieval shape (BM25's
    term-filtered postings; a broadcast query vector against a corpus
    that never shuffles) cut to k rows by a distributed TakeOrdered —
    the fusion join then touches ≤ 2k rows total, nothing corpus-sized.
    """
    from gads_etl_spark.operators.retrieval import (
        bm25_scores, ranked_topk, rrf_fuse)
    from gads_etl_spark.operators.similarity import cosine

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = ranked_topk(
        bm25_scores(docs, ["hash", "join", "filter"]), "sm", k=50)
    qvec = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("q_vec"))
    scored = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("c_vec"),
    ).crossJoin(F.broadcast(qvec)).select(
        "doc_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cs"),
    )
    vec = ranked_topk(scored, "cs", k=50)
    return (
        rrf_fuse({"lex": lex, "vec": vec}, k=60)
        .orderBy(F.desc("rrf_nano"), F.asc("doc_id"))
        .limit(20)
    )
