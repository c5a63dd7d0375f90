"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with a *broadcast* query side — the
fact-side embedding table is scanned once, never shuffled, and the top-k
per query is a window over (query, score). Scale path: random-hyperplane
LSH — bucket the corpus by sign pattern, equi-join query buckets, rank
within candidates only.

All arithmetic is double-precision, sequential-fold dot products, so the
DuckDB oracle (list_reduce, same fold order) matches bit-for-bit.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gads_etl_spark.operators.util import spread


def _dot(a: F.Column, b: F.Column) -> F.Column:
    """Sequential left-fold dot product (deterministic IEEE order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: F.Column, b: F.Column) -> F.Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbours of each query vector.

    ``broadcast(queries)`` × corpus: the corpus (the 100 TB side) streams
    through map tasks; only |queries| × k rows survive the window. Rank is
    on the score rounded to 6 decimals with id tiebreak, so ordering is
    stable under float noise and engine-independent.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    )
    c = spread(corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    ))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def blocked_neardup_best_pair(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: int = 8,
    pair_budget: int | None = 4_000_000_000,
) -> DataFrame:
    """Most-cosine-similar pair of embeddings within each blocking key —
    the argmax form of a thresholded within-block near-dup pass.

    This operator is DELIBERATELY quadratic within a block (every
    within-label pair is scored exactly once); it is correct and
    parity-proven to the 1000x tier, but its cost is Σ|block|², so it is
    only the right tool while blocks are bounded. ``pair_budget``
    enforces that boundary (round-15; previously the when-to-switch
    lesson lived only in SCALING.md): one tiny per-label count aggregate
    — an EAGER job per call, re-running the upstream plan of ``df``
    once before the join itself does — estimates the pair count and
    raises
    :class:`~gads_etl_spark.operators.dedup.CandidateBudgetExceeded`
    naming the scale twins — :func:`semantic_dedup` (KMeans-cell-blocked
    near-dup, ~N^1.5) or the ANN ladder (:func:`ivf_topk` /
    :func:`ivfpq_topk`) — instead of silently burning a cluster on an
    unbounded all-pairs. The default budget (4e9) sits above the proven
    sf100 parity run (~2e9 scored pairs) so every committed evidence
    point stays reproducible under defaults; ``pair_budget=None``
    waives the guard.

    Plan shape (unchanged from the parity-proven query):
    - Salted block join: |label| is typically a handful, so an unsalted
      equi-join scores every within-label pair in |label| tasks no
      matter the cluster width (AQE skew splitting keys off INPUT sizes
      — the blow-up is inside the join). Salting the probe side by
      id % salt and replicating the build side spreads scoring across
      |label|·salt tasks; each pair still joins exactly once.
    - Per-label argmax as a streaming ``max_by`` aggregate, NOT a
      row_number window: the window would shuffle and SORT the full
      scored relation into |label| partitions (measured round 13:
      multi-hour at the 100x tier); max_by reduces map-side to one
      candidate per (task, label).
    """
    t = spread(df.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("e"),
    ))
    if pair_budget is not None:
        from gads_etl_spark.operators.dedup import CandidateBudgetExceeded

        est = (t.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
               .agg(F.sum(F.expr("n * (n - 1) div 2")))
               .collect()[0][0]) or 0
        if est > pair_budget:
            raise CandidateBudgetExceeded(
                f"blocked_neardup_best_pair: {est:,} within-block pairs "
                f"exceeds the budget of {pair_budget:,}. Blocks grow "
                f"with the corpus when the blocking key has fixed "
                f"cardinality, so this all-pairs shape is past its "
                f"domain — use semantic_dedup (cluster-blocked near-dup) "
                f"or the ANN ladder (ivf_topk/ivfpq_topk), re-block on a "
                f"finer key, or pass pair_budget=None to force the run.")
    a = t.select("label", F.col("vec_id").alias("a_id"),
                 F.col("e").alias("a_e"))
    b = t.select("label", F.col("vec_id").alias("b_id"),
                 F.col("e").alias("b_e"))
    # Salt on a HASH of the id, not the id itself: pmod over a raw id
    # column requires it to be numeric (a string id_col failed with an
    # opaque AnalysisException) and inherits any skew in the id space;
    # xxhash64 works for any orderable id type and spreads uniformly.
    a_s = a.withColumn("_salt", F.pmod(F.xxhash64("a_id"), F.lit(salt)))
    b_s = b.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    pairs = (a_s.join(b_s, ["label", "_salt"])
             .where(F.col("a_id") < F.col("b_id")))
    scored = pairs.select(
        "label", "a_id", "b_id",
        F.round(cosine(F.col("a_e"), F.col("b_e")), 6).alias("cos_sim"),
    )
    # min_by over (-cos_sim, a_id, b_id) ≡ "highest score, then lowest
    # a_id, then lowest b_id" — phrased so the ID tiebreak is a NATIVE
    # ascending comparison (the previous max_by negated the ids, which
    # required them numeric; string ids threw NumberFormatException).
    best = F.min_by(
        F.struct("cos_sim", "a_id", "b_id"),
        F.struct(-F.col("cos_sim"), F.col("a_id"), F.col("b_id")),
    )
    return (
        scored.groupBy("label").agg(best.alias("_b"))
        .select("label", F.col("_b.a_id").alias("a_id"),
                F.col("_b.b_id").alias("b_id"),
                F.col("_b.cos_sim").alias("cos_sim"))
    )


def fit_ivf_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    train_fraction: float = 0.25,
    max_iter: int = 5,
    id_col: str = "vec_id",
    sample_cap: int = 2048,
) -> list[list[float]]:
    """Fit IVF cell centroids driver-side on a bounded, layout-invariant
    sample — the ``pq_train_codebooks`` pattern. Centroid quality only
    shifts which cells candidates land in (recall headroom, never
    correctness — every ANN oracle here is planted-copy invariant under
    ANY clustering), so the fit does not deserve distributed iteration:
    the previous ``pyspark.ml`` KMeans re-scanned its ``train_fraction``
    sample once per iteration PLUS the k-means|| init passes — at 100 TB
    and the default 0.25 fraction that is several 25 TB scans for a
    16-row result — and locally its ~10 scheduled jobs were over half of
    every ivf/ivfpq query's wall (measured r16: ext_knn_ivf 1.34s → 0.64s
    isolated). Now: membership by content hash (``deterministic_sample``
    — stable under any partitioning or cluster size), collected rows
    sorted by (hash, id) and truncated to ``sample_cap``, then seeded
    numpy Lloyd iterations on the ≤``sample_cap``×dim matrix — training
    cost is CONSTANT in corpus size, one collect job total, and the
    centroids are bit-identical on any layout. Returns plain python
    lists so the index can be persisted/shipped without a model object.
    """
    from gads_etl_spark.operators.sampling import deterministic_sample

    salt = f"ivf{seed}"
    rows = (
        deterministic_sample(corpus, id_col, train_fraction, salt=salt)
        .select(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))
                  ).alias("_h"),
            F.col(id_col).cast("string").alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"))
        # TakeOrdered, not collect-then-truncate: each task keeps at
        # most sample_cap rows and the driver merges, so the transfer
        # is bounded at ANY corpus size while the selected rows — the
        # sample_cap smallest by (md5(salt||id), id), a total order —
        # are identical on any layout.
        .orderBy("_h", "_id").limit(sample_cap)
        .collect()
    )
    x = np.array([r._v for r in rows], dtype=np.float64)
    rng = np.random.RandomState(seed)
    init = rng.permutation(len(x))[:n_clusters]
    cents = x[init].copy()
    # GEMM distance form (round-17): |x-c|² = |x|² - 2x·C + |c|². The
    # previous broadcast form materialized an (n, k, d) float64 cube —
    # 469 MB per iteration at sample_cap=2048, k=447 (semantic_dedup's
    # sqrt(N) cell count at the 100x tier), measured 9-12s of pure
    # driver allocation; the GEMM peak is the (n, k) matrix. argmin ties
    # can land differently than the cube form's in the last ulp, which
    # only moves WHICH clustering is produced — every consumer's result
    # is clustering-invariant (see docstring).
    x_sq = (x * x).sum(axis=1)[:, None]
    for _ in range(max_iter):
        d2 = x_sq - 2.0 * (x @ cents.T) + (cents * cents).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents.tolist()


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
    id_alias: str | None = None,
    vec_alias: str | None = None,
) -> DataFrame:
    """Assign each vector its ``n_probe`` nearest cells — one map-side
    expression pass, ZERO shuffle: the centroid distances are a literal
    expression array (``_centroid_d2s_sql``), the probe set is
    ``slice(sort_array(zip(d2, cell)), 1, n_probe)`` (struct sort —
    deterministic d2-then-cell tiebreak), exploded. The previous
    formulation (crossJoin(centroids) + per-id row_number window)
    shuffled |rows| x n_clusters and is exactly what this replaces.
    """
    id_alias = id_alias or id_col
    vec_alias = vec_alias or "_v"
    k = len(centroids)
    d2s = _centroid_d2s_sql(f"cast(`{vec_col}` as array<double>)", 0,
                            len(centroids[0]), centroids)
    probe = (
        f"explode(slice(sort_array(zip_with({d2s}, sequence(0, {k - 1}), "
        f"(d_, c_) -> struct(d_ AS d2, c_ AS cell))), 1, {n_probe}))"
    )
    return df.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).cast("array<double>").alias(vec_alias),
        F.expr(probe).alias("_pc"),
    ).select(id_alias, vec_alias, F.col("_pc.cell").alias("cell"))


def ivf_query(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
) -> DataFrame:
    """Query a prebuilt IVF index: ``assigned`` is the (id, vec, cell)
    corpus assignment — typically read back from parquet written once at
    index-build time (partition or bucket it by ``cell`` and the
    candidate equi-join needs no corpus-side shuffle). Queries probe
    their ``n_probe`` nearest cells and score only those vectors.
    """
    if "neighbor_id" in assigned.columns:  # pre-aliased by the caller
        c = assigned.select("neighbor_id", F.col("c_vec"), "cell")
    else:  # default ivf_assign output: (id_col, _v, cell)
        c = assigned.select(F.col(id_col).alias("neighbor_id"),
                            F.col("_v").alias("c_vec"), "cell")
    q = ivf_assign(queries, centroids, id_col=id_col, vec_col=vec_col,
                   n_probe=n_probe, id_alias="query_id", vec_alias="q_vec")
    scored = c.join(F.broadcast(q), "cell").select(
        "query_id", "neighbor_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train_fraction: float = 0.25,
    max_iter: int = 5,
) -> DataFrame:
    """Approximate top-k cosine via IVF (inverted-file) partitioning.

    KMeans centroids partition the corpus (each vector lives in exactly
    one cell); each query probes its ``n_probe`` nearest cells and scores
    only those vectors. Composition of the index-once/query-many pieces:
    ``fit_ivf_centroids`` (sampled fit) + ``ivf_assign`` (map-side
    expression argmin, no shuffle) + ``ivf_query`` (cell equi-join with
    the query side broadcast) — the classic IVF trade: recall grows with
    n_probe, cost with |cell| x n_probe instead of |corpus|.
    """
    centroids = fit_ivf_centroids(corpus, vec_col, n_clusters, seed,
                                  train_fraction, max_iter, id_col=id_col)
    assigned = ivf_assign(spread(corpus), centroids, id_col=id_col,
                          vec_col=vec_col, n_probe=1,
                          id_alias="neighbor_id", vec_alias="c_vec")
    return ivf_query(
        assigned.select("neighbor_id", F.col("c_vec"), "cell"),
        queries, centroids, k=k, id_col=id_col, vec_col=vec_col,
        n_probe=n_probe,
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    train_fraction: float = 0.25,
    max_iter: int = 5,
) -> DataFrame:
    """SemDeDup: cluster-blocked semantic near-duplicate pruning
    (Abbas et al. 2023, arXiv:2303.09540 — public method).

    KMeans cells block the candidate space; within each cell a vector is
    dropped when a LOWER-id cell-mate has cosine >= threshold (greedy
    keep-lowest-id, the standard SemDeDup simplification). Returns the
    surviving corpus rows unchanged.

    Clustering can only MISS pairs, never invent them — cosine does not
    depend on the cell — so false drops are impossible at any clustering,
    and identical vectors always land in the same cell (identical
    centroid distances, deterministic tie-break), so exact duplicates are
    always caught.

    At 100 TB: cost is sum(|cell|^2) instead of |corpus|^2 — grow
    n_clusters ~ sqrt(N) to keep cells bounded; the pair stage shuffles
    the corpus ONCE on the cell id, and the centroid table stays
    driver-tiny. Round-17 rebuild, measured stage by stage (guide
    §1.2/§4.2 — the distributed algorithm first, then batch-native
    per-task work):

    - **Fit**: driver-side Lloyd (:func:`fit_ivf_centroids`) — the
      previous ``pyspark.ml`` KMeans re-scanned its ``train_fraction``
      sample once per k-means|| init round and per iteration; with
      ``n_clusters ~ sqrt(N)`` (447 at the 100x tier) that fit WAS the
      operator's scale wall. One bounded collect, constant in corpus
      size.
    - **Assignment**: one vectorized Arrow batch pass (`pandas_udf`) —
      ``argmin_c(|x|² - 2x·C + |c|²)`` as a numpy matvec against the
      centroid matrix built once per task (guide §4.5). The expression
      argmin of :func:`ivf_assign` is right for the ANN ladder's fixed
      k=16, but it is interpreted per (row, centroid, dim) and k grows
      with sqrt(N) here — measured ~1 ms/row at k=44, i.e. minutes at
      the 100x tier for work numpy does in a second. Ties break to the
      lowest cell index (numpy argmin first-match), so identical
      vectors still always share a cell — the only property
      correctness needs (see above).
    - **Pair scan**: ``groupBy(cell).applyInPandas`` — per cell, rows
      sort by id, normalize once, and a chunked GEMM finds every id
      with a lower-id cosine>=threshold witness. The previous
      self-join-on-cell shuffled the vector payload TWICE (both legs)
      and evaluated three interpreted O(dim) folds per PAIR — ~17G
      interpreted ops at the 100x tier; the GEMM form ships each row
      once and runs the quadratic term as native BLAS, chunked to
      bound memory on a skewed cell.

    Numeric note: cosine here is computed in float64 BLAS instead of
    the sequential-fold SQL expression; values can differ in the last
    ulp. The operator's contract (SemDeDup pruning) and every
    registered oracle are invariant to that: planted exact duplicates
    score ~1.0 and natural pairs sit far from any sane threshold —
    pairs AT the threshold boundary were never stable under clustering
    choice to begin with. The reference has no embedding operators
    (SURVEY.md: extension mandate).
    """
    from pyspark.sql.types import StructField, StructType

    centroids = fit_ivf_centroids(corpus, vec_col, n_clusters, seed,
                                  train_fraction, max_iter, id_col=id_col)
    cmat = np.asarray(centroids, dtype=np.float64)
    neg2ct = -2.0 * cmat.T  # built once per task (iterator form, §4.5)
    c_sq = (cmat * cmat).sum(axis=1)

    @F.pandas_udf("int")
    def _cell(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for v in batches:
            x = np.stack(v.to_numpy()).astype(np.float64, copy=False)
            # |x-c|² argmin == (-2x·C + |c|²) argmin; |x|² is constant
            # per row and cannot move the argmin.
            d2 = x @ neg2ct + c_sq
            yield pd.Series(d2.argmin(axis=1).astype("int32"))

    id_field = corpus.schema[id_col]
    # spread(): the assignment GEMM is CPU-bound and the local fixture
    # arrives as one parquet split — without it the whole corpus rides
    # ONE Arrow task (measured 5-6s of the sf10 wall); a 100 TB scan
    # already yields enough splits, where spread() is a no-op.
    cells = spread(corpus.select(
        F.col(id_col).alias("_sd_id"),
        F.col(vec_col).cast("array<double>").alias("_sd_v"),
    )).withColumn("cell", _cell("_sd_v"))

    out_schema = StructType([StructField(id_col, id_field.dataType, True)])

    def _dropped_in_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("_sd_id", kind="mergesort")
        ids = pdf["_sd_id"].to_numpy()
        x = np.stack(pdf["_sd_v"].to_numpy()).astype(np.float64, copy=False)
        nrm = np.sqrt((x * x).sum(axis=1))
        nrm[nrm == 0.0] = 1.0  # zero vectors: cosine undefined -> never >= t
        r = x / nrm[:, None]
        m = len(ids)
        dropped = np.zeros(m, dtype=bool)
        chunk = max(1, 8_388_608 // max(m, 1))  # ~64MB of float64 per GEMM
        for j0 in range(0, m, chunk):
            j1 = min(j0 + chunk, m)
            if j0 == 0 and j1 == 1:
                continue
            s = r[: j1 - 1] @ r[j0:j1].T  # rows i < j1-1, cols j0..j1-1
            for j in range(max(j0, 1), j1):
                if (s[: j, j - j0] >= threshold).any():
                    dropped[j] = True
        return pd.DataFrame({id_col: ids[dropped]})

    dropped = cells.groupBy("cell").applyInPandas(_dropped_in_cell, out_schema)
    return corpus.join(dropped, id_col, "left_anti")


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_col: str = "q_vec",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Per-vector symmetric int8 quantization of an embedding column.

    ``scale = max(|v|)/127``; ``q[i] = floor(v[i]/scale + 0.5)`` (explicit
    round-half-up, so the arithmetic is a pure double expression both
    engines state identically). Values land in [-127, 127] by
    construction — at rest they pack into 1 byte/dim, a 4× memory cut
    for ANN candidate scoring, with the scan-level win that a 100 TB
    float corpus becomes 25 TB of shuffle/broadcast traffic. Scoring
    against quantized vectors dequantizes on the fly (multiply by
    ``scale``); recall loss is negligible for cosine top-k (asserted in
    tests). Zero vectors quantize to all-zero with scale 0.

    Per-row expression work only — no shuffle, no UDF.

    The scale is LET-BOUND via a single-element ``transform`` before the
    per-element lambda uses it. Referencing the ``array_max`` expression
    directly inside the element lambda re-evaluates it PER ELEMENT —
    higher-order functions are interpreted (no codegen, no
    subexpression elimination) and ``CollapseProject`` re-inlines any
    intermediate column — making quantization O(dim²) per row; measured
    at the 100x tier this was ~10s for 200k×64 vectors before the
    binding (round 13). A lambda variable is bound once per row, so the
    pass is O(dim).
    """
    v = F.col(vec_col).cast("array<double>")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax / F.lit(127.0)
    q = F.get(
        F.transform(
            F.array(scale),
            lambda s: F.when(s == 0.0, F.transform(v, lambda x: F.lit(0)))
            .otherwise(F.transform(
                v, lambda x: F.floor(x / s + F.lit(0.5)).cast("int"))),
        ),
        F.lit(0),
    )
    return df.withColumn(q_col, q).withColumn(scale_col, scale)


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    sample_rate: float = 0.5,
    sample_cap: int = 2048,
    n_iter: int = 10,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al. 2011, public
    method): the vector is split into ``m`` subvectors and each subspace
    gets its own ``k``-centroid codebook, so a vector stores as ``m``
    small codes (m bytes at k<=256) instead of ``dim`` floats.

    The fit runs driver-side (numpy Lloyd iterations) on a bounded,
    LAYOUT-INVARIANT sample: membership is decided by content hash
    (``deterministic_sample``), the collected rows are sorted by
    (hash, id) and truncated to ``sample_cap``, so the codebooks are
    bit-identical under any partitioning or cluster size. At 100 TB the
    sample stays ``sample_cap`` rows — training cost is constant while
    encoding/search remain fully distributed. Codebook quality only
    moves recall headroom, never correctness: the ADC minimality
    argument in ``pq_topk`` holds for ANY codebooks.
    """
    from gads_etl_spark.operators.sampling import deterministic_sample

    if k > 256:
        raise ValueError("pq codebooks cap at 256 centroids (1 byte/code)")
    salt = f"pq{seed}"
    rows = (
        deterministic_sample(corpus, id_col, sample_rate, salt=salt)
        .select(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))
                  ).alias("_h"),
            F.col(id_col).cast("string").alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"))
        # TakeOrdered replaces the old collect-then-truncate (round-16):
        # the engine-side md5 is bit-identical to the hashlib sort key
        # the truncation used, so the selected sample — the sample_cap
        # smallest rows by (md5(salt||id), id) — is EXACTLY the one the
        # old code picked (codebooks unchanged), but the driver now
        # receives <= sample_cap rows instead of sample_rate * |corpus|
        # (an unbounded collect — a driver OOM waiting at the 100 TB
        # tier, where 0.5 * corpus is half the corpus).
        .orderBy("_h", "_id").limit(sample_cap)
        .collect()
    )
    x = np.array([r._v for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    codebooks: list[list[list[float]]] = []
    for s in range(m):
        xs = x[:, s * d:(s + 1) * d]
        rng = np.random.RandomState(seed + s)
        init = rng.permutation(len(xs))[:k]
        cents = xs[init].copy()
        for _ in range(n_iter):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        codebooks.append(cents.tolist())
    return codebooks


def _centroid_d2s_sql(vec_sql: str, offset0: int, d: int,
                      codebook: list[list[float]]) -> str:
    """SQL text for the array of squared distances from the subvector at
    0-based ``offset0`` to every centroid of one codebook.

    Why SQL text and not Column-API expressions — both alternatives were
    measured and rejected:
    - Column-API ``transform(codebook_literal, c -> aggregate(...))``:
      nesting aggregate(zip_with(..)) inside another higher-order
      function's PYTHON lambda makes Spark mis-resolve the shared
      auto-generated lambda-variable names (wrong bindings / NULLs past
      the subvector length). SQL text declares explicit distinct
      variable names per nesting level, which resolves correctly.
    - Flat scalar unrolling (one (centroid, dim) term each, no HOFs):
      correct but the k*m*d-node expression tree makes driver-side
      analysis the bottleneck (~9s per query at m=8,k=16,d=8). The SQL
      HOF tree is ~k*m nodes smaller and analyzes in milliseconds; the
      interpreted-HOF execution cost is noise next to it.

    The constant itself is embedded as ``from_json('<json>',
    'array<array<double>>')`` rather than a per-element
    ``array(array(...))`` literal (round-16): the k*d element literals
    were the remaining tree mass — every eager analysis pass (each
    ``withColumn``/``select`` on the classic API re-analyzes the whole
    accumulated plan) walked thousands of Literal nodes, putting
    ~45 ms per DataFrame call of pure driver time on these queries.
    ``from_json`` of a string literal is foldable, so ConstantFolding
    collapses it to the IDENTICAL single array literal at optimization
    (verified in the formatted plan) — 2 tree nodes instead of k*d,
    zero per-row cost, and values bit-exact because repr(float) →
    JSON double round-trips exactly (shortest-repr IEEE 754 both ways).
    """
    cb = ("from_json('["
          + ",".join("[" + ",".join(repr(float(x)) for x in c) + "]"
                     for c in codebook)
          + "]', 'array<array<double>>')")
    return (
        f"transform({cb}, c_ -> aggregate("
        f"zip_with(slice({vec_sql}, {offset0 + 1}, {d}), c_, "
        f"(u_, w_) -> (u_ - w_) * (u_ - w_)), "
        f"cast(0.0 as double), (acc_, x_) -> acc_ + x_))"
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to their per-subspace nearest-centroid codes.

    Pure JVM expression work per row — the codebooks are literal arrays,
    the argmin is ``array_position(d2s, array_min(d2s))`` (first-match,
    so d2 ties break to the lowest centroid index deterministically).
    Zero shuffle, zero UDF; at rest the codes are ``m`` bytes/vector vs
    ``4*dim`` for float32 — a 32x memory cut at dim=64/m=8.
    """
    m = len(codebooks)
    d = len(codebooks[0][0])
    vec_sql = f"cast(`{vec_col}` as array<double>)"
    # Materialize each subspace's distance array once (a stacked
    # projection the optimizer collapses), then take the argmin —
    # referencing the transform twice inside array_position(array_min(..))
    # would double the analysis tree. ONE withColumns pass, not m
    # chained withColumn calls (round-16): every eager DataFrame op
    # re-analyzes the whole accumulated plan, so the chain paid m
    # analysis walks over a plan already carrying the big d2s HOF trees
    # — measured 0.45s → 0.27s of pure driver time per pq_encode call
    # at m=8. Values are bit-identical (same expressions, one Project).
    names = [f"__pq_d2s{s}" for s in range(m)]
    out = df.withColumns({
        n: F.expr(_centroid_d2s_sql(vec_sql, s * d, d, codebooks[s]))
        for s, n in enumerate(names)
    })
    code = F.array(*[
        (F.array_position(F.col(n), F.array_min(F.col(n))) - 1).cast("int")
        for n in names
    ])
    return out.withColumn(code_col, code).drop(*names)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via product quantization with exact
    re-ranking — the memory-bound ANN scale path: the scan side carries
    ``m`` byte-codes per vector instead of the full float vector.

    Three stages, none of which shuffles the corpus:
    1. Encode the corpus to codes (map-only; in production the codes are
       precomputed and the original vectors stay in cold storage).
    2. ADC scoring: each query precomputes a lookup table
       ``lut[s][c] = d2(q_s, centroid_c)`` ONCE (array-of-arrays column
       on the broadcast query side); a corpus row's distance is then
       just ``sum_s lut[s][code_s]`` — m array lookups per row, no
       float-vector arithmetic in the 100 TB scan.
    3. Exact re-rank: the ADC top-``rerank`` pool per query (plus every
       row tied at the minimum ADC) fetches original vectors via a
       broadcast semi-join (|queries| * rerank rows — driver-tiny) and
       reorders by exact cosine.

    Derived-oracle guarantee (any codebooks): an exact copy of a query
    attains the GLOBAL minimum ADC — its code in each subspace is by
    construction the argmin centroid for the query's own subvector, so
    ``ADC(q, copy) = sum_s min_c lut[s][c] <= ADC(q, x)`` for every x.
    The min-ADC tie clause below makes eviction from the pool impossible,
    so after exact re-rank the copy is rank-1 (natural cosine is pinned
    < 0.9 by the fixture canary; the copy scores 1.0).
    """
    m = len(codebooks)
    c_codes = pq_encode(
        spread(corpus.select(F.col(id_col).alias("neighbor_id"),
                             F.col(vec_col).alias(vec_col))),
        codebooks, vec_col=vec_col,
    ).select("neighbor_id", "pq_code")

    d = len(codebooks[0][0])
    vec_sql = f"cast(`{vec_col}` as array<double>)"
    lut = F.array(*[
        F.expr(_centroid_d2s_sql(vec_sql, s * d, d, codebooks[s]))
        for s in range(m)
    ])
    q = queries.select(F.col(id_col).alias("query_id"), lut.alias("lut"))

    adc = F.aggregate(
        F.zip_with(F.col("lut"), F.col("pq_code"),
                   lambda l, c: F.element_at(l, c + F.lit(1))),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    w_all = Window.partitionBy("query_id")
    pool = (
        c_codes.crossJoin(F.broadcast(q))
        .withColumn("adc", adc)
        .withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("_min_adc", F.min("adc").over(w_all))
        .where((F.col("_rn") <= rerank) | (F.col("adc") == F.col("_min_adc")))
        .select("query_id", "neighbor_id")
    )

    c_vec = corpus.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).cast("array<double>").alias("c_vec"))
    q_vec = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).cast("array<double>").alias("q_vec"))
    scored = (
        c_vec.join(F.broadcast(pool), "neighbor_id")
        .join(F.broadcast(q_vec), "query_id")
        .select("query_id", "neighbor_id",
                F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train_fraction: float = 0.25,
    max_iter: int = 5,
    codebooks: list[list[list[float]]] | None = None,
    m: int = 8,
    pq_k: int = 16,
) -> DataFrame:
    """IVF-PQ: the full ANN memory ladder in one index — IVF cells prune
    the candidate space, PQ byte codes score the survivors (ADC lookup
    tables), exact cosine re-ranks the pool. The standard composition
    (Jégou et al. 2011, public method) of the two structures this module
    already ships separately.

    Cost shape at 100 TB, per query: |cell| * n_probe candidate rows
    (not |corpus|), each carrying ``m`` bytes of code (not ``dim``
    floats) — IVF cuts the row count, PQ cuts the row width, and the
    corpus never shuffles: index build is map-only (expression argmin
    cell assignment + expression PQ encode, both persistable), candidate
    selection is a cell equi-join against the broadcast query side, and
    the re-rank pool is |queries| * rerank rows.

    Derived-oracle guarantee (any clustering AND any codebooks — the two
    arguments compose): an exact copy of a query assigns to the query's
    own nearest cell (identical centroid distances, deterministic
    tie-break), so it is always among the probed candidates; its PQ code
    per subspace is the argmin centroid for the query's own subvector,
    so it attains the GLOBAL minimum ADC — minimal within any candidate
    set containing it; the min-ADC tie clause makes pool eviction
    impossible; exact re-rank then puts its 1.0 cosine at rank 1.
    """
    centroids = fit_ivf_centroids(corpus, vec_col, n_clusters, seed,
                                  train_fraction, max_iter, id_col=id_col)
    if codebooks is None:
        codebooks = pq_train_codebooks(corpus, id_col=id_col,
                                       vec_col=vec_col, m=m, k=pq_k,
                                       seed=seed)
    m_ = len(codebooks)
    d = len(codebooks[0][0])

    # Corpus index: ONE map-only pass — nearest cell + PQ codes. In
    # production this is written once (partitioned by cell) and reused.
    assigned = ivf_assign(spread(corpus), centroids, id_col=id_col,
                          vec_col=vec_col, n_probe=1,
                          id_alias="neighbor_id", vec_alias="c_vec")
    c_codes = pq_encode(assigned, codebooks, vec_col="c_vec").select(
        "neighbor_id", "cell", "pq_code")

    # Query side: n_probe nearest cells + the per-query ADC lookup table.
    q = ivf_assign(queries, centroids, id_col=id_col, vec_col=vec_col,
                   n_probe=n_probe, id_alias="query_id",
                   vec_alias="q_vec").select(
        "query_id", "cell",
        F.array(*[
            F.expr(_centroid_d2s_sql("q_vec", s * d, d, codebooks[s]))
            for s in range(m_)
        ]).alias("lut"),
    )

    # ADC scoring rides the cell equi-join: m byte-lookups per candidate.
    adc = F.aggregate(
        F.zip_with(F.col("lut"), F.col("pq_code"),
                   lambda l, c: F.element_at(l, c + F.lit(1))),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.asc("adc"),
                                                    F.asc("neighbor_id"))
    w_all = Window.partitionBy("query_id")
    pool = (
        c_codes.join(F.broadcast(q), "cell")
        .withColumn("adc", adc)
        .withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("_min_adc", F.min("adc").over(w_all))
        .where((F.col("_rn") <= rerank) | (F.col("adc") == F.col("_min_adc")))
        .select("query_id", "neighbor_id")
    )

    c_vec = corpus.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).cast("array<double>").alias("c_vec"))
    q_vec = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).cast("array<double>").alias("q_vec"))
    scored = (
        c_vec.join(F.broadcast(pool), "neighbor_id")
        .join(F.broadcast(q_vec), "query_id")
        .select("query_id", "neighbor_id",
                F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train_fraction: float = 0.25,
    max_iter: int = 5,
    m: int = 8,
    pq_k: int = 16,
) -> DataFrame:
    """Residual IVF-PQ — standard IVFADC (Jégou et al. 2011 §V, public
    method): PQ encodes the RESIDUAL ``r = x − centroid(cell(x))``
    instead of the raw vector. Residuals concentrate near the origin
    with far less variance than raw vectors, so the same ``m × pq_k``
    code budget spends its centroids on a tighter distribution — better
    ADC fidelity (hence recall) at identical index size than
    ``ivfpq_topk``'s raw-vector encoding.

    Same cost shape as ``ivfpq_topk`` (the corpus never shuffles): index
    build is one map-only pass (cell argmin + residual subtraction +
    PQ-encode, all literal-expression work); each probed (query, cell)
    pair carries its OWN ADC lookup table built from the query's
    residual w.r.t. that cell's centroid (the per-cell LUT is the price
    of residual coding — n_probe LUTs per query instead of one, each
    m × pq_k doubles on the broadcast side); candidate scoring rides the
    cell equi-join at m byte-lookups per row.

    Laziness contract (ADVICE r16): unlike its siblings this function
    is EAGER — the two ``localCheckpoint()`` calls below run the index
    and LUT jobs at call time, not at first action, and pin
    non-replicated executor-local blocks that are not unpersisted here
    (a long-lived session that calls this repeatedly accumulates them
    until the ContextCleaner collects the dropped references; in
    cluster mode executor loss makes the truncated lineage
    unrecoverable). That trade was measured as the right one for this
    one family member (see the inline comment); callers needing a lazy
    or fault-tolerant plan should persist the (cell, code) index to a
    table and join against that instead.

    Derived-oracle guarantee (ANY clustering and ANY codebooks): an
    exact copy of a query assigns to the query's nearest cell
    (identical centroid distances, deterministic tie-break), which is
    always probed; the copy's residual in that cell EQUALS the query's
    residual there, so its per-subspace code is the argmin centroid for
    the query's own residual subvector and it attains the minimum ADC
    within that (query, cell) group. ADC values are NOT comparable
    across cells (different LUTs), so the pool keeps per-(query, cell)
    min-ADC ties — eviction of the copy is impossible regardless of
    what other cells score — and exact re-rank puts its 1.0 cosine at
    rank 1.
    """
    centroids = fit_ivf_centroids(corpus, vec_col, n_clusters, seed,
                                  train_fraction, max_iter, id_col=id_col)
    # Foldable from_json constant, not a per-element array literal —
    # same rationale and bit-exactness argument as _centroid_d2s_sql.
    cents = ("from_json('["
             + ",".join("[" + ",".join(repr(float(x)) for x in c) + "]"
                        for c in centroids)
             + "]', 'array<array<double>>')")

    def residual(vec: str) -> F.Column:
        return F.expr(f"zip_with({vec}, element_at({cents}, cell + 1), "
                      "(v_, c_) -> v_ - c_)")

    # Corpus index: ONE map-only pass — nearest cell, residual, PQ codes
    # of the residual. Persistable, partitioned by cell, in production.
    assigned = ivf_assign(spread(corpus), centroids, id_col=id_col,
                          vec_col=vec_col, n_probe=1,
                          id_alias="neighbor_id", vec_alias="c_vec")
    res = assigned.withColumn("r_vec", residual("c_vec"))
    codebooks = pq_train_codebooks(res, id_col="neighbor_id",
                                   vec_col="r_vec", m=m, k=pq_k, seed=seed)
    m_ = len(codebooks)
    d = len(codebooks[0][0])
    # Eager checkpoints (round-16): c_codes IS the persistable IVFADC
    # index — written once, queried many times in production — and
    # locally the checkpoint truncates the plan every downstream eager
    # op re-analyzes. The residual variant is the ONE family member
    # where this is a measured win (isolated fresh-JVM 4.79s → 2.85s):
    # its subtrees are the family's biggest (every d2s/LUT tree carries
    # the cell-centroid from_json constant through the residual
    # zip_with, and pq_train re-derives the residual plan for its
    # sample), so ~10 downstream analysis passes dominate. pq_topk /
    # ivfpq_topk were measured with the same checkpoints and got
    # SLOWER (two extra blocking jobs outweigh their smaller trees'
    # analysis savings) — deliberately left un-checkpointed. Narrow
    # rows only (id, cell, m byte-codes), never the raw vectors.
    c_codes = pq_encode(res, codebooks, vec_col="r_vec").select(
        "neighbor_id", "cell", "pq_code").localCheckpoint()

    # Query side: one row per probed (query, cell), each with the LUT of
    # the query's residual w.r.t. THAT cell — the IVFADC per-cell table.
    q = (
        ivf_assign(queries, centroids, id_col=id_col, vec_col=vec_col,
                   n_probe=n_probe, id_alias="query_id", vec_alias="q_vec")
        .withColumn("q_res", residual("q_vec"))
        .select(
            "query_id", "cell",
            F.array(*[
                F.expr(_centroid_d2s_sql("q_res", s * d, d, codebooks[s]))
                for s in range(m_)
            ]).alias("lut"),
        )
        .localCheckpoint()
    )

    adc = F.aggregate(
        F.zip_with(F.col("lut"), F.col("pq_code"),
                   lambda l, c: F.element_at(l, c + F.lit(1))),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.asc("adc"),
                                                    F.asc("neighbor_id"))
    w_cell = Window.partitionBy("query_id", "cell")
    pool = (
        c_codes.join(F.broadcast(q), "cell")
        .withColumn("adc", adc)
        .withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("_min_cell_adc", F.min("adc").over(w_cell))
        .where((F.col("_rn") <= rerank)
               | (F.col("adc") == F.col("_min_cell_adc")))
        .select("query_id", "neighbor_id")
    )

    c_vec = corpus.select(F.col(id_col).alias("neighbor_id"),
                          F.col(vec_col).cast("array<double>").alias("c_vec"))
    q_vec = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).cast("array<double>").alias("q_vec"))
    scored = (
        c_vec.join(F.broadcast(pool), "neighbor_id")
        .join(F.broadcast(q_vec), "query_id")
        .select("query_id", "neighbor_id",
                F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                               F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def random_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).round(6).tolist()


def _bucket(vec: F.Column, planes: list[list[float]], band: range) -> F.Column:
    """Sign pattern of the given plane band as a small integer bucket id."""
    bucket = F.lit(0)
    for j in band:
        plane = F.array(*[F.lit(float(v)) for v in planes[j]])
        bit = F.when(_dot(vec, plane) > 0, 1).otherwise(0)
        bucket = bucket * 2 + bit
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k cosine via random-hyperplane LSH banding.

    Corpus vectors are bucketed by the sign pattern of ``n_planes``
    hyperplane projections, split into ``bands`` bands; a query only
    scores corpus vectors sharing at least one band bucket. The join is a
    plain equi-join on (band, bucket) — candidate count is bucket-bounded,
    never |corpus| × |queries|. Recall rises with ``bands`` (multi-probe).
    """
    planes = random_hyperplanes(dim, n_planes, seed)
    per_band = n_planes // bands

    def banded(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        rows = df.select(
            F.col(id_col).alias(id_alias), v.alias(vec_alias),
            *[
                _bucket(v, planes, range(b * per_band, (b + 1) * per_band)).alias(f"bk{b}")
                for b in range(bands)
            ],
        )
        buckets = F.array(*[
            F.struct(F.lit(b).alias("band"), F.col(f"bk{b}").alias("bucket"))
            for b in range(bands)
        ])
        return rows.select(
            id_alias, vec_alias, F.explode(buckets).alias("bb")
        ).select(id_alias, vec_alias, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    c = banded(corpus, "neighbor_id", "c_vec")
    q = banded(queries, "query_id", "q_vec")
    candidates = (
        c.join(F.broadcast(q), ["band", "bucket"])
        .select("query_id", "neighbor_id", "q_vec", "c_vec")
        .distinct()
    )
    scored = candidates.select(
        "query_id", "neighbor_id",
        F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )
