"""Deduplication operators: exact, bag-of-words, MinHash-LSH, SimHash.

Design rules for 100 TB:
- Never all-pairs. Candidate generation is always a *bucket equi-join*
  (LSH band buckets, blocking keys), so the shuffle is on content-derived
  keys and the pair count is bounded by bucket sizes, not n².
- Per-gram and per-pair work runs on whole Arrow batches in one Python
  pass per partition, never a per-row UDF; everything else is JVM-side.
- Deterministic: hash seeds are fixed, survivors are chosen by min(id), so
  reruns (and the correctness oracle) agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gads_etl_spark.operators.util import frequent_grams, spread


def tokens(text: F.Column) -> F.Column:
    """Whitespace tokenization (documents fixture is single-spaced)."""
    return F.split(text, r"\s+")


class CandidateBudgetExceeded(RuntimeError):
    """A quadratic-candidate recall oracle was pointed at a corpus too
    large for its pair join.

    The two deliberately-quadratic operators
    (:func:`blocked_edit_distance_pairs`, :func:`tfidf_cosine_pairs`)
    exist as RECALL ORACLES — exhaustive within their blocking/prefix
    rule, used to certify the linear-scale twins on corpora small enough
    to enumerate. Their candidate counts grow ~quadratically in hot
    block/posting sizes (measured: 9.2x / 7.3x wall at 10x data,
    SCALING.md round-10), so at a large enough corpus they blow up
    SILENTLY — the exact failure mode the sf10 amplifier-wrap bug
    produced by accident. This guard makes the boundary enforced
    instead of documented: one cheap aggregate estimates the candidate
    count before the pair join and raises, naming the linear twin to
    use instead. Pass ``candidate_budget=None`` to waive it (scale
    probes that deliberately measure the quadratic do this)."""


def _check_candidate_budget(estimate: int, budget: int | None,
                            op: str, twin: str) -> None:
    if budget is not None and estimate > budget:
        raise CandidateBudgetExceeded(
            f"{op}: estimated {estimate:,} candidate pairs exceeds the "
            f"budget of {budget:,}. This operator is an exhaustive "
            f"recall oracle whose pair count grows quadratically in hot "
            f"blocks/terms; at this corpus size use its linear-scale "
            f"twin {twin} instead, or pass candidate_budget=None / a "
            f"larger budget to force the quadratic run.")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash; survivor = smallest id per hash.

    The hash-groupBy form: one shuffle on the 128-bit content hash. At
    100 TB group by ``md5(text)`` (16 bytes) instead of the full text to
    keep shuffle rows small.
    """
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("content_hash")))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def bow_fingerprint(text: F.Column) -> F.Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set. Catches shuffled/reordered copies that exact hashing misses.
    """
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


def shingles(text: F.Column, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles as an array<string> column.

    Built by zipping n shifted slices of the token array — and the token
    array itself is LET-BOUND via a 1-element ``transform`` (round-17,
    the quantize_int8 binding trick): the whole expression lives under
    higher-order functions, which are interpreted with no subexpression
    elimination, so referencing ``tokens(text)`` from each of the n
    slices plus the length gate re-ran the split regex n+1 times per
    row (measured ~25% of the 100x-tier shingle stage). A lambda
    variable binds once per row. (The index-lambda formulation
    ``transform(sequence, i -> element_at(toks, i+j))`` is worse still —
    it re-evaluates the split per ELEMENT — measured ~10× slower on
    100-token docs.)
    """
    def _sh(toks: F.Column) -> F.Column:
        k = F.size(toks) - (n - 1)
        zipped = F.arrays_zip(
            *[F.slice(toks, j + 1, F.greatest(k, F.lit(0))) for j in range(n)])
        sh = F.transform(
            zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)]))
        return (F.when(k <= 0, F.array().cast("array<string>"))
                .otherwise(F.array_distinct(sh)))

    return F.get(F.transform(F.array(tokens(text)), _sh), F.lit(0))


def shingle_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Blocked pairwise n-gram Jaccard similarity (a_id < b_id).

    Pairs are only formed *within a blocking key*, so the quadratic term
    is bounded per block — the scale-safe shape of pairwise similarity.
    For unblocked corpora use ``minhash_candidate_pairs``.

    Round-17 verify stage (guide §2.3/§4.2/§8): the previous self-join
    on the block key shuffled the shingle-array payload TWICE (one leg
    each side) and ran ``array_intersect`` on every size-compatible
    pair — 21.9M candidate pairs / 2.6G string hash+compare ops at the
    100x tier, ~2/3 of the five dup-cluster queries' walls. Now each
    doc ships ONCE (groupBy the block) into a per-block
    ``applyInPandas`` that:

    - factorizes the block's shingle strings to integer ids (block-
      local exact mapping — no hash-collision semantics),
    - generates candidates with a PREFIX FILTER (Chaudhuri/Bayardo,
      the tfidf_cosine operator's discipline): docs sort their tokens
      by (block df asc, token id asc); if jaccard(A,B) >= t then
      |A∩B| >= ceil(t*|A|), so A's prefix of its (|A| - ceil(t*|A|) +
      1) rarest tokens must intersect B — an inverted index over
      prefixes probed by full token sets yields a candidate SUPERSET
      of every qualifying pair (the prefix length is computed with a
      truncated — never rounded-up — required overlap, so float noise
      can only lengthen prefixes, never lose a pair). Unrelated docs
      share mostly-common tokens, which the df ordering pushes out of
      every prefix: measured candidates drop ~50x on the Heaps-law
      fixture,
    - verifies every candidate with the EXACT set intersection and
      emits ``inter / (|A| + |B| - inter)`` as float64 — the identical
      IEEE-754 value the old ``array_intersect`` expression produced
      (integer inputs are exact in double; one division) — filtered at
      the same threshold. Results are bit-identical by construction;
      the sf0.01/sf0.1 oracles and the brute-force differential test
      certify it.

    The size prefilter (jaccard <= min(|A|,|B|)/max(|A|,|B|)) survives
    as a cheap candidate-level skip. NULL blocks and NULL ids never
    paired under the old equi-join/comparison semantics and are
    filtered identically here.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    t = spread(
        df.select(F.col(id_col), F.col(block_col).alias("_block"),
                  F.col(text_col))
        .where(F.col(block_col).isNotNull() & F.col(id_col).isNotNull())
    ).select(
        F.col(id_col), F.col("_block"),
        shingles(F.col(text_col), n).alias("_sh"),
    )
    id_t = df.schema[id_col].dataType
    out_schema = StructType([
        StructField("a_id", id_t, True),
        StructField("b_id", id_t, True),
        StructField("jaccard", DoubleType(), True),
    ])
    thr = float(threshold)

    def _block_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        raw_ids = pdf[id_col].tolist()
        raw_shs = pdf["_sh"].tolist()
        docs = [(i, s) for i, s in zip(raw_ids, raw_shs)
                if s is not None and len(s) > 0]
        if len(docs) < 2:
            return pd.DataFrame({"a_id": [], "b_id": [], "jaccard": []}
                                ).astype({"jaccard": "float64"})
        docs.sort(key=lambda d: d[0])  # id order == Spark's < on int/str
        tok_ids: dict = {}
        tsets = []
        for _, sh in docs:
            row = []
            for s in sh:
                tid = tok_ids.get(s)
                if tid is None:
                    tid = len(tok_ids)
                    tok_ids[s] = tid
                row.append(tid)
            tsets.append(row)
        dfreq = np.zeros(len(tok_ids), dtype=np.int64)
        for row in tsets:
            for tid in row:
                dfreq[tid] += 1
        # prefix postings: token -> docs holding it among their rarest
        # (|x| - trunc(t*|x|) + 1) tokens; probe with FULL sets below.
        postings: dict = {}
        order_key = [sorted(row, key=lambda c: (dfreq[c], c))
                     for row in tsets]
        for di, row in enumerate(order_key):
            p = len(row) - int(thr * len(row)) + 1
            for tid in row[:p]:
                postings.setdefault(tid, []).append(di)
        sets = [frozenset(row) for row in tsets]
        out_a, out_b, out_j = [], [], []
        for dj, row in enumerate(order_key):
            nb = len(row)
            cands = set()
            for tid in row:
                for di in postings.get(tid, ()):
                    if di != dj:
                        cands.add(di)
            for di in cands:
                if di > dj or docs[di][0] == docs[dj][0]:
                    continue  # emit each unordered pair once, from its
                    # higher-id probe side (di < dj == id order); equal
                    # ids never paired (the old strict < semantics)
                na = len(order_key[di])
                if min(na, nb) / max(na, nb) < thr:
                    continue
                inter = len(sets[di] & sets[dj])
                jac = inter / (na + nb - inter)
                if jac >= thr:
                    out_a.append(docs[di][0])
                    out_b.append(docs[dj][0])
                    out_j.append(jac)
        return pd.DataFrame({"a_id": out_a, "b_id": out_b,
                             "jaccard": np.asarray(out_j, dtype=np.float64)})

    return t.groupBy("_block").applyInPandas(_block_pairs, out_schema)


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing fingerprint summary (Schleimer et al., SIGMOD 2003):
    md5 every character 4-gram, keep the minimum hash of each sliding
    window of 4 gram-hashes, and emit per document the distinct-minima
    count plus the lexicographic min/max fingerprint.

    Map-only (no shuffle): one Arrow pass per partition. Round 17
    (guide §4.2 / §1.2): the previous all-expression form evaluated
    ``md5(substring(text, i, 4))`` under an interpreted higher-order
    ``transform`` — ~6.6 µs per gram, ~2000 CPU-seconds for the 100x
    tier's 302M grams — and re-hashed every repeated gram. This path
    dedups the grams of a whole Arrow batch FIRST (a synthetic corpus
    repeats most 4-grams thousands of times), runs md5 once per
    distinct gram (cached across batches per task), and does the
    window minima as vectorized int64 rank comparisons.

    Value-identical by construction, not by accident:

    - grams: ASCII docs slice bytes (1 byte == 1 char); non-ASCII docs
      take a per-character Python path, so ``substring``'s character
      semantics are preserved exactly. Docs shorter than 4 chars form
      the single truncated gram ``substring(text, 1, 4) == text``.
    - ordering: fingerprints compare as md5 HEX strings; hex encoding
      is byte-monotonic, so comparing 16-byte digests (as int64 ranks
      of their sorted order) is the identical total order.
    - windows: ``greatest(ng - 3, 1)`` windows, the last ones truncated
      at the array tail exactly like ``slice(g, j, 4)``.
    - distinctness: counts DISTINCT DIGESTS, which equals the old
      ``array_distinct`` of hex strings unless two distinct 4-char
      grams md5-collide (none known; the oracle would catch it).

    NULL text yields ``(1, NULL, NULL)``, mirroring the expression form
    exactly: ``greatest(length(NULL) - 3, 1)`` is 1 (greatest SKIPS
    nulls), so the gram array is ``[NULL]``, whose distinct window-min
    set has size 1 with NULL min/max.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    id_t = df.schema[id_col].dataType
    out_schema = StructType([
        StructField(id_col, id_t, True),
        StructField("n_fingerprints", LongType(), True),
        StructField("min_fp", StringType(), True),
        StructField("max_fp", StringType(), True),
    ])
    cache_cap = 1 << 20  # distinct-gram digest cache bound per task

    def _window_min(p: "np.ndarray") -> "np.ndarray":
        # min over [j, j+3] for the greatest(len-3, 1) window starts;
        # the tail windows of the short case truncate like slice().
        if p.size >= 4:
            return np.minimum(np.minimum(p[:-3], p[1:-2]),
                              np.minimum(p[2:-1], p[3:]))
        return p.min(keepdims=True)

    def _winnow(batches):
        cache: dict = {}

        def _digest(g: bytes) -> bytes:
            d = cache.get(g)
            if d is None:
                d = hashlib.md5(g).digest()
                if len(cache) < cache_cap:
                    cache[g] = d
            return d

        for pdf in batches:
            ids = pdf[id_col].tolist()
            texts = pdf[text_col].tolist()
            n_rows = len(ids)
            ns: list = [None] * n_rows
            mins: list = [None] * n_rows
            maxs: list = [None] * n_rows
            fast_rows: list = []   # ASCII, len >= 4: batch-vector lane
            bufs: list = []
            for r, tx in enumerate(texts):
                if tx is None:
                    ns[r] = 1  # [NULL] gram: distinct size 1, NULL min/max
                    continue
                if len(tx) < 4:
                    h = hashlib.md5(tx.encode("utf-8")).hexdigest()
                    ns[r], mins[r], maxs[r] = 1, h, h
                elif tx.isascii():
                    fast_rows.append(r)
                    bufs.append(tx.encode("ascii"))
                else:
                    # per-character lane: substring() slices CHARACTERS
                    digs = [_digest(tx[i:i + 4].encode("utf-8"))
                            for i in range(len(tx) - 3)]
                    uniq = sorted(set(digs))
                    rank = {d: i for i, d in enumerate(uniq)}
                    p = np.fromiter((rank[d] for d in digs), np.int64,
                                    count=len(digs))
                    fps = np.unique(_window_min(p))
                    ns[r] = int(fps.size)
                    mins[r] = uniq[fps[0]].hex()
                    maxs[r] = uniq[fps[-1]].hex()
            if fast_rows:
                lens = np.fromiter((len(b) for b in bufs), np.int64,
                                   count=len(bufs))
                offs = np.zeros(len(bufs) + 1, dtype=np.int64)
                np.cumsum(lens, out=offs[1:])
                buf = np.frombuffer(b"".join(bufs), dtype=np.uint8)
                # valid 4-gram start positions never cross a doc boundary
                idx = np.concatenate([
                    np.arange(offs[i], offs[i] + lens[i] - 3)
                    for i in range(len(bufs))])
                wsel = np.ascontiguousarray(sliding_window_view(buf, 4)[idx])
                u32 = wsel.view(np.uint32).ravel()
                # dedup grams across the BATCH; md5 only distinct ones.
                # factorize = one hash-table pass (measured 6x faster
                # than sort-based np.unique at ~1k distinct / 1.5M total)
                codes, uq = pd.factorize(u32)
                uq = np.ascontiguousarray(uq)
                raw = uq.view(np.uint8).reshape(-1, 4)  # round-trips byte order
                digs = np.empty((uq.size, 16), dtype=np.uint8)
                for i in range(uq.size):
                    digs[i] = np.frombuffer(_digest(raw[i].tobytes()), np.uint8)
                # int64 rank per digest == the hex-string total order
                sorter = np.argsort(digs.view("S16").ravel(), kind="stable")
                rank = np.empty(uq.size, dtype=np.int64)
                rank[sorter] = np.arange(uq.size)
                dig_sorted = digs[sorter]
                pr_all = rank[codes]
                pos = 0
                for i, r in enumerate(fast_rows):
                    ng = int(lens[i]) - 3
                    p = pr_all[pos:pos + ng]
                    pos += ng
                    fps = np.unique(_window_min(p))
                    ns[r] = int(fps.size)
                    mins[r] = dig_sorted[fps[0]].tobytes().hex()
                    maxs[r] = dig_sorted[fps[-1]].tobytes().hex()
            yield pd.DataFrame({
                id_col: ids,
                "n_fingerprints": pd.Series(ns, dtype=object),
                "min_fp": pd.Series(mins, dtype=object),
                "max_fp": pd.Series(maxs, dtype=object),
            })

    return (spread(df.select(id_col, text_col))
            .mapInPandas(_winnow, out_schema))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures: (id, sig: array<long>[num_hashes]).

    shingle → explode → ONE base xxhash64 per shingle → ``num_hashes``
    derived hashes as aggregate expressions ``min(xxhash64(h, i))`` in a
    single groupBy(id). Row count stays Σ|shingles| — the naive
    seed-cross-join shape multiplies rows by num_hashes for no reason
    (measured 8.1s → 1.3s at sf0.1 for the candidate query).
    """
    # Shingling is CPU-bound and explodes rows; a compact input (one
    # parquet file) would otherwise run it in a single task. Spread the
    # *input* across cores before the expansion (no-op when the scan
    # already yields enough splits).
    hashed = spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("sh"),
    ).select(id_col, F.xxhash64("sh").alias("h"))
    mins = [F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"_m{i}")
            for i in range(num_hashes)]
    wide = hashed.groupBy(id_col).agg(*mins)
    return wide.select(
        id_col,
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("sig"),
    )


def _band_structs(sig, num_hashes: int, bands: int) -> F.Column:
    """array<struct<band,band_key>> from a signature column — shared by
    the batch and stateless formulations so their band keys are
    bit-identical."""
    r = num_hashes // bands
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *[F.element_at(sig, b * r + j + 1)
                                     for j in range(r)])).alias("band_key"),
        )
        for b in range(bands)
    ])


def minhash_band_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH band-key table ``(id, band, band_key)`` — bands rows per doc.

    This IS the persistable dedup index: store it partitioned/bucketed by
    ``(band, band_key)`` and incoming batches dedup against the corpus by
    equi-join (``incremental_minhash_candidates``) without ever touching
    corpus text again.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    return sigs.select(
        F.col(id_col),
        F.explode(_band_structs(F.col("sig"), num_hashes, bands)).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"),
             F.col("bb.band_key").alias("band_key"))


def minhash_band_keys_stateless(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Band keys computed entirely map-side — the STREAMING formulation.

    Same values, bit-for-bit, as ``minhash_band_keys`` (asserted in
    tests/test_extension_ops.py): the signature is built per row with
    higher-order array functions (``array_min(transform(...))``) instead
    of explode + groupBy, so there is no aggregation, no shuffle, and no
    state — the only shape a streaming append pipeline can use (a groupBy
    on a stream forces update mode plus watermark-bounded state).

    Cost note (measured at sf0.1, 32 hashes): ~40% slower per byte than
    the batch formulation, because higher-order functions are interpreted
    while the explode path is codegen'd with map-side partial
    aggregation. Batch pipelines should keep ``minhash_band_keys``; this
    variant exists for streams, where the alternative is not a slower
    plan but no plan.
    """
    base = df.select(
        F.col(id_col),
        F.transform(shingles(F.col(text_col), shingle_n),
                    lambda s: F.xxhash64(s)).alias("_h"),
    ).where(F.size("_h") > 0)  # matches batch: shingle-less docs emit nothing
    sig = F.array(*[
        F.array_min(F.transform("_h", lambda h: F.xxhash64(h, F.lit(i))))
        for i in range(num_hashes)
    ])
    return base.select(
        F.col(id_col),
        F.explode(_band_structs(sig, num_hashes, bands)).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"),
             F.col("bb.band_key").alias("band_key"))


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    ``num_hashes`` minhashes split into ``bands`` bands of r = n/bands
    values; band key = hash of the band's slice of the signature.
    Candidates are generated by a *self equi-join on (band, band_key)* —
    the only pairs materialized are same-bucket pairs, which is what makes
    MinHash-LSH tractable where all-pairs Jaccard is not. Probability a
    pair with Jaccard s collides: 1 - (1 - s^r)^bands.
    """
    band_keys = minhash_band_keys(df, id_col, text_col, num_hashes, bands,
                                  shingle_n)
    a = band_keys.select(F.col(id_col).alias("a_id"), "band", "band_key")
    b = band_keys.select(F.col(id_col).alias("b_id"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def incremental_minhash_candidates(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Dedup an incoming batch against a PRECOMPUTED corpus band index.

    The ingestion-time shape of MinHash-LSH: the 100 TB corpus's band
    keys (``minhash_band_keys``) are computed once and persisted; each
    new batch shingles/hashes only its own documents and discovers
    duplicates by equi-joining its band keys against the index — corpus
    text is never re-read, never re-shingled, never re-shuffled. With the
    index bucketed on ``(band, band_key)`` the join is index-side
    shuffle-free; the new batch (small by definition) broadcasts or
    shuffles cheaply.

    Returns ``(new_id, match_id, match_origin)`` where origin is
    ``'index'`` (duplicate of an already-ingested doc) or ``'batch'``
    (duplicate within the incoming batch itself — both members reported
    once, smaller id as match). Union of the two is exactly the pairs
    involving a new doc that full-corpus ``minhash_candidate_pairs``
    would emit (equivalence-tested in tests/test_extension_ops.py).
    """
    new_keys = minhash_band_keys(new_docs, id_col, text_col, num_hashes,
                                 bands, shingle_n)
    vs_index = (
        new_keys.select(F.col(id_col).alias("new_id"), "band", "band_key")
        .join(index.select(F.col(id_col).alias("match_id"), "band", "band_key"),
              ["band", "band_key"])
        .select("new_id", "match_id")
        .distinct()
        .withColumn("match_origin", F.lit("index"))
    )
    a = new_keys.select(F.col(id_col).alias("new_id"), "band", "band_key")
    b = new_keys.select(F.col(id_col).alias("match_id"), "band", "band_key")
    vs_batch = (
        a.join(b, ["band", "band_key"])
        .where(F.col("match_id") < F.col("new_id"))
        .select("new_id", "match_id")
        .distinct()
        .withColumn("match_origin", F.lit("batch"))
    )
    return vs_index.unionByName(vs_batch)


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 64) -> DataFrame:
    """SimHash: 64-bit locality-sensitive fingerprint per document.

    Explode tokens, hash each, then for every bit position sum +1/−1 over
    the document's token hashes; the sign pattern is the fingerprint. One
    explode + one groupBy(id) with 64 conditional sums — all JVM-side.
    Near-duplicates = small hamming distance (``bit_count(a ^ b)``).
    """
    tok = spread(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    h = F.xxhash64("tok")
    bit_sums = [
        F.sum(F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    fingerprint = None
    for j in range(bits):
        bit = F.when(F.col(f"b{j}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << j).cast("long") if j < 63 else F.when(
            F.col(f"b{j}") > 0, F.lit(-(1 << 63)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return agg.select(id_col, fingerprint.alias("simhash"))


def blocked_edit_distance_pairs(
    df: DataFrame,
    block_cols: list[str],
    id_col: str = "doc_id",
    name_col: str = "name",
    max_dist: int = 2,
    candidate_budget: int | None = 500_000_000,
) -> DataFrame:
    """Blocked fuzzy entity matching: pairs (a_id < b_id) within the same
    blocking key whose names are within ``max_dist`` Levenshtein edits.

    Classic record-linkage shape (Fellegi-Sunter blocking): the blocking
    key bounds the quadratic term per block, the edit-distance predicate
    is the residual filter on the equi-join — never an all-pairs cross
    product. Blocking trades recall for scale by construction: a pair
    split across blocks is not compared (pick block keys the match
    invariant preserves — e.g. an exact attribute equality the fuzz
    never crosses). The reference has no fuzzy matching (its keys are
    exact composites, reference src/gads_etl/keys.py).

    The length constraint is part of the BLOCKING KEY, not just a
    residual filter: |len(a) − len(b)| ≤ max_dist is a Levenshtein lower
    bound, so lengths are bucketed at width ``max_dist`` and a matching
    pair can only span the same or adjacent buckets. The probe side
    claims its own bucket and the one below, which makes every matching
    pair meet on EXACTLY one join key (same-bucket pairs are ordered by
    id; cross-bucket pairs meet once by construction) — lossless, no
    post-join dedup. This matters because categorical block keys have
    FIXED cardinality: at growing corpus size their blocks grow linearly
    and the per-block quadratic work grows as corpus², which the sf1
    scaling run measured as a 17× wall-time step for a 10× data step
    before length bucketing entered the key (Σ|block|² with |block| ∝
    corpus/|keys|). Length buckets scale the key space WITH the data, so
    block occupancy — and the quadratic term — stays bounded.

    This is the RECALL ORACLE of the edit-distance family — exhaustive
    within its blocking rule. ``candidate_budget`` bounds Σ|block|²
    (an upper-bound estimate of the pair-join's candidate stream,
    computed as one cheap count-aggregate before the join); above it,
    :class:`CandidateBudgetExceeded` points at
    :func:`edit_distance_pairs_passjoin`, the corpus-linear twin with
    the identical result set. The default clears the sf1 sweep fixture
    (Σ|block|² = 1.17e8 measured) with 4x headroom and trips at the
    sf10 tier (1.17e10) — the decade where the measured 9.2x-per-10x
    wall growth stops being a slow query and becomes a hung cluster.
    """
    width = max(max_dist, 1)
    base = df.select(
        F.col(id_col), F.col(name_col).alias("_nm"),
        F.length(name_col).alias("_ln"), *block_cols,
    ).withColumn("_bk", (F.col("_ln") / width).cast("int"))
    if candidate_budget is not None:
        est = (base.groupBy(*block_cols, "_bk").count()
               .agg(F.sum(F.col("count") * F.col("count"))).first()[0]) or 0
        # Each probe row joins its own bucket and the adjacent one, so
        # the true candidate count is < 2·Σ|block|²; the un-doubled sum
        # is the documented estimate (same growth rate, simpler to
        # reason about against the measured tier numbers).
        _check_candidate_budget(int(est), candidate_budget,
                                "blocked_edit_distance_pairs",
                                "edit_distance_pairs_passjoin")
    a = base.select(
        F.col(id_col).alias("a_id"), F.col("_nm").alias("a_nm"),
        F.col("_ln").alias("a_ln"), F.col("_bk").alias("a_bk"), *block_cols,
    )
    b = base.select(
        F.col(id_col).alias("b_id"), F.col("_nm").alias("b_nm"),
        F.col("_ln").alias("b_ln"), F.col("_bk").alias("b_bk"),
        F.explode(F.array(F.col("_bk"), F.col("_bk") - 1)).alias("a_bk"),
        *block_cols,
    )
    return (
        a.join(b, [*block_cols, "a_bk"])
        .where(
            # Same-bucket pairs arrive in both id orders (keep one);
            # cross-bucket pairs arrive exactly once (keep it as-is).
            ((F.col("b_bk") != F.col("a_bk")) | (F.col("a_id") < F.col("b_id")))
            & (F.col("a_id") != F.col("b_id"))
            & (F.abs(F.col("a_ln") - F.col("b_ln")) <= max_dist)
            & (F.levenshtein("a_nm", "b_nm") <= max_dist)
        )
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
            F.levenshtein("a_nm", "b_nm").cast("int").alias("edit_dist"),
        )
    )


def edit_distance_pairs_passjoin(
    df: DataFrame,
    block_cols: list[str],
    id_col: str = "doc_id",
    name_col: str = "name",
    max_dist: int = 2,
    candidate_budget: int | str | None = "auto",
) -> DataFrame:
    """Exact edit-distance similarity self-join via PassJoin segment
    filtering (Li, Deng, Wang, Feng, ICDE 2011 — public method): the
    scale path that replaces per-block quadratic comparison.

    Pigeonhole: split every name into ``max_dist + 1`` even segments;
    ``max_dist`` edits can touch at most ``max_dist`` segments, so a
    matching pair agrees EXACTLY on at least one segment, shifted by at
    most ``max_dist`` positions (net indels before it). The index side
    emits its segments as keys ``(len, seg_idx, seg)``; the probe side
    emits, for every source length within ``max_dist`` of its own and
    every segment index, the substrings at the segment's position ± the
    shift bound. Candidates are the equi-join on
    ``block_cols + (len, seg_idx, seg)``; Levenshtein verifies them.

    Cost: O(max_dist³) short probe keys per row — the shuffle is LINEAR
    in the corpus, and the quadratic term is gone entirely: only rows
    sharing an aligned segment ever meet. This is what makes fuzzy
    matching survive fixed-cardinality block keys (a categorical block
    grows linearly with the corpus, so Σ|block|² grows quadratically —
    the sf0.1→sf1 run measured blocked comparison at ~15× wall for 10×
    data; PassJoin holds ~linear).

    ONE-SIDED convention (the paper's): every row indexes its segments,
    but a row probes only index lengths ≤ its own (``dl ∈ [-tau, 0]``),
    and equal-length pairs orient by id — so each matching pair meets in
    exactly one orientation instead of two. This halves the probe keys
    (at tau=2: 8 shift-pruned keys per segment index vs 17 two-sided)
    and halves the candidate stream feeding the dedup. Empty strings are
    always on the INDEX side of their pairs (length 0 ≤ everything), so
    the orientation never discards a pair's only surviving direction —
    the failure mode the seeded brute-force equivalence test caught in
    the symmetric variant's id-filter. Output ids are normalized to
    ``a_id < b_id`` regardless of which side was shorter.

    Segments of strings shorter than ``max_dist + 1`` can be empty;
    empty-segment keys are kept (dropping them would break the
    pigeonhole for short strings) — they only group same-length rows
    within a block, bounded by the residual Levenshtein check.
    """
    tau = max_dist
    nseg = tau + 1

    def st(l: str, i: str) -> str:
        # 0-based start of segment i in a length-l string (even split).
        return f"cast(({l}) * ({i}) / {nseg} as int)"

    base = df.select(
        F.col(id_col), F.col(name_col).alias("_nm"),
        F.length(name_col).alias("_ln"), *block_cols,
    )
    idx_keys = (
        f"transform(sequence(0, {tau}), i -> struct(_ln AS l, i AS i, "
        f"substring(_nm, {st('_ln', 'i')} + 1, "
        f"{st('_ln', 'i + 1')} - {st('_ln', 'i')}) AS seg))"
    )
    # Length-aware shift pruning (PassJoin §4.2): aligning index segment
    # i at shift d splits the edit budget into a prefix part (>= |d|
    # edits) and a suffix part (>= |dl + d| edits, the suffix length
    # difference), so only shifts with |d| + |dl + d| <= tau can belong
    # to a pair within tau edits — ~half the probe keys of the naive
    # |d| <= tau window (e.g. dl=0 admits 3 shifts, not 5, at tau=2).
    # The admissible (dl, d) shift pairs are DATA-INDEPENDENT (length
    # delta dl ∈ [-tau, 0] one-sided; shift pruning |d| + |dl + d| ≤ tau
    # splits the edit budget between prefix and suffix, PassJoin §4.2),
    # so the probe-key list unrolls into ONE flat literal array instead
    # of four nested lambda layers. This matters for wall time, not just
    # style: higher-order functions (transform/filter/flatten) evaluate
    # INTERPRETED per element in Spark, and the nested form recomputed
    # the segment-boundary floors for every shift — measured 2.9s of the
    # query's 4.1s at sf0.1 in key generation alone. Unrolled, i and dl
    # are literals, so Catalyst constant-folds the boundary arithmetic.
    # _ln + dl >= 0 (not 1): an EMPTY index string still emits its
    # (0, i, '') segment keys, and the probe must reach them.
    shift_pairs = [(dl, d)
                   for dl in range(-tau, 1)
                   for d in range(-tau, tau + 1)
                   if abs(d) + abs(dl + d) <= tau]
    entries = []
    for i in range(nseg):
        for dl, d in shift_pairs:
            s0 = st(f"_ln + {dl}", str(i))
            s1 = st(f"_ln + {dl}", str(i + 1))
            entries.append(
                f"named_struct('l', _ln + {dl}, 'i', {i}, 'seg', "
                f"CASE WHEN _ln + {dl} >= 0 AND {s0} + {d} >= 0 "
                f"AND {s0} + {d} + ({s1} - {s0}) <= _ln "
                f"THEN substring(_nm, {s0} + {d} + 1, {s1} - {s0}) "
                f"ELSE NULL END)")
    probe_keys = (
        f"array_distinct(filter(array({', '.join(entries)}), "
        f"s_ -> s_.seg IS NOT NULL))"
    )
    idx = base.select(
        F.col(id_col).alias("a_id"), F.col("_nm").alias("a_nm"), *block_cols,
        F.explode(F.expr(idx_keys)).alias("_k"),
    ).select("a_id", "a_nm", *block_cols,
             F.col("_k.l").alias("l"), F.col("_k.i").alias("i"),
             F.col("_k.seg").alias("seg"))
    probe = base.select(
        F.col(id_col).alias("b_id"), F.col("_nm").alias("b_nm"),
        F.col("_ln").alias("b_ln"), *block_cols,
        F.explode(F.expr(probe_keys)).alias("_k"),
    ).select("b_id", "b_nm", "b_ln", *block_cols,
             F.col("_k.l").alias("l"), F.col("_k.i").alias("i"),
             F.col("_k.seg").alias("seg"))
    # Verify BEFORE deduplicating: a pair can agree on several segment
    # keys, so the candidate stream carries duplicates — but Levenshtein
    # on a duplicate is cheap map-side work (≤ nseg·shifts ≈ 8 repeats,
    # short strings), while a pre-verify distinct would shuffle the FULL
    # candidate stream with both name strings attached. Verifying first
    # shrinks the dedup shuffle to the matched id-pairs (three narrow
    # columns), orders of magnitude smaller than the candidate stream.
    # shuffle_hash pin, build on the index side (nseg keys/row vs
    # the probe's ~8): BOTH sides of the segment join grow linearly
    # with the corpus, so a broadcast is never the right strategy at
    # scale — yet AQE converts to one the moment a side's COMPRESSED
    # shuffle bytes dip under the adaptive threshold, and the hash
    # relation it then builds is ~20x larger than those bytes
    # (measured at the 100x tier: the 6M-row index side read as
    # <64MB post-shuffle and the broadcast build OOMed the driver).
    # Pinned, the join is per-partition build + stream at any scale.
    if candidate_budget is not None:
        # Signature-saturation guard (round 14, measured; DEFAULT-ON
        # since round 15): PassJoin is candidate-LINEAR only while
        # segment-key diversity grows with the corpus. On the 1000x
        # fixture the ciphered vocabulary's segments collide across
        # copies and the candidate stream grew 60x for 10x data
        # (155M -> 9.3B; per-row candidates fit c0 + k*copies —
        # DIAG_passjoin_growth.json) while output stayed linear.
        # The estimate is one keyed count-join, measured at ~40% of the
        # query's executor run time at sf0.1 (PROFILE_sf0.1.json
        # ext_fuzzy_passjoin: its collectToPython execution against
        # the join's save, 2.3 of 5.9 s) — the price of saturation
        # arriving as a NAMED error with the re-blocking remedy
        # instead of a silently quadratic-in-disguise join.
        # candidate_budget=None waives it (deliberate saturation
        # probes); an int overrides "auto".
        #
        # "auto" (the default) budgets 200 candidates per corpus row,
        # floored at 1M so toy fixtures never trip it: the linear
        # regime measured ~26 candidates/row on the 100x part fixture,
        # so 200x headroom only trips once signatures genuinely
        # saturate (the sf100 fixture ran ~465/row — 9.3B over 20M
        # rows — and SHOULD be stopped).
        #
        # Shape (round-16): ONE union + groupBy pass, not two keyed
        # aggregates joined. The previous est job shuffled idx and
        # probe into separate per-key counts and equi-joined them on
        # the 5-column key — three exchanges and a join whose fixed
        # cost was ~40% of the whole operator's sf0.1 wall (measured:
        # 4.35s with the estimate vs 2.58s without). Tagging the legs
        # and aggregating once computes the identical Σ_g ni_g·np_g
        # (groups present on one side contribute ni·0 = 0, exactly the
        # inner join's omission), and the corpus-row count the "auto"
        # budget needs rides the SAME aggregate as Σ ni / nseg (idx
        # emits exactly nseg segment rows per corpus row) — one
        # exchange, one action, no Observation, no separate count().
        keys = [*block_cols, "l", "i", "seg"]
        tagged = (idx.select(*keys, F.lit(1).alias("_t"))
                  .unionByName(probe.select(*keys, F.lit(0).alias("_t"))))
        est, n_idx = (
            tagged.groupBy(*keys)
            .agg(F.sum("_t").alias("_ni"),
                 F.sum(1 - F.col("_t")).alias("_np"))
            .agg(F.sum(F.col("_ni") * F.col("_np")),
                 F.sum("_ni")).collect()[0])
        if candidate_budget == "auto":
            candidate_budget = max(1_000_000,
                                   200 * (int(n_idx or 0) // nseg))
        if est is not None and est > candidate_budget:
            raise CandidateBudgetExceeded(
                f"edit_distance_pairs_passjoin: estimated {est:,} "
                f"segment-join candidates exceeds the budget of "
                f"{candidate_budget:,}. Segment-key groups are "
                f"saturating (bounded name vocabulary / colliding "
                f"signatures), so the candidate stream is growing "
                f"super-linearly in the corpus. Raise the budget to "
                f"force the run, or re-block (finer block_cols) to "
                f"restore signature diversity.")
    return (
        idx.hint("shuffle_hash").join(probe, [*block_cols, "l", "i", "seg"])
        # Orientation: strictly-shorter index rows pair unconditionally
        # (the probe never looks upward, so the pair meets only here);
        # equal-length pairs orient by id. Also excludes self-pairs.
        .where((F.col("l") < F.col("b_ln"))
               | (F.col("a_id") < F.col("b_id")))
        .where(F.levenshtein("a_nm", "b_nm") <= max_dist)
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
            F.levenshtein("a_nm", "b_nm").cast("int").alias("edit_dist"),
        )
        .distinct()
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    max_df: int = 50,
    max_df_frac: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
    quant: int = 1000,
    candidate_budget: int | None = 200_000_000,
) -> DataFrame:
    """Sparse lexical near-dup pairs by TF-IDF cosine over an inverted
    index — the bag-of-WEIGHTED-words family between exact bag-of-words
    fingerprints (order-insensitive but all-or-nothing) and embedding
    cosine (dense, model-dependent): two documents score high when they
    share RARE vocabulary, regardless of word order.

    Semantics (mirrored exactly by the oracle): tf = term count per doc,
    terms with document frequency > max(``max_df``, ``max_df_frac``·N)
    are dropped (stopword cut), weight = tf · ln(N/df) quantized to
    ``quant`` integer steps, cosine = integer dot / (‖a‖·‖b‖) over the
    pruned term space, rounded to 6dp. Integer weights make every sum
    exact and order-independent, so Spark and the SQL oracle agree
    bit-for-bit where float summation would diverge by partitioning.

    Scale shape — PREFIX FILTERING (Bayardo et al., WWW 2007), not a
    bare postings self-join: per document, terms are ordered by
    (df asc, term asc) and a term is in the document's PREFIX while the
    normalized squared weight remaining from it onward exceeds the
    threshold (integer test: suffix_ssq · tq > threshold·tq · ssq with
    tq = round(threshold·quant)). If two documents share NO term from
    either prefix, every shared term lies in both ≤-threshold-mass
    suffixes, so cos ≤ ‖a_suf‖·‖b_suf‖ ≤ threshold — candidate
    generation over prefix terms alone is LOSSLESS above the threshold
    (only exact-boundary pairs are at risk, and the oracle mirrors the
    identical rule either way). The join therefore runs on each doc's
    RAREST terms — exactly the terms with small postings lists — while
    frequent terms (the quadratic hot keys of a naive postings join,
    measured as a timeout at sf1) never generate candidates; the full
    dot product is then computed only for candidate pairs. A plain
    df-capped self-join was tried first: Σ df² under a corpus-relative
    cap grows quadratically with the corpus.
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"))
    n_docs = df.count()
    dfreq = (
        tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
        .where(F.col("df") <= max(max_df, int(max_df_frac * n_docs)))
    )
    w = tf.join(dfreq, "term").select(
        "_id", "term", "df",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
                * quant).cast("long").alias("wq"),
    )
    # Suffix squared mass from each term onward, in (df asc, term asc)
    # order — integer-exact, deterministic at any partitioning.
    sfx = Window.partitionBy("_id").orderBy(
        F.asc("df"), F.asc("term")
    ).rowsBetween(Window.currentRow, Window.unboundedFollowing)
    tot = Window.partitionBy("_id")
    tq = int(round(threshold * quant))
    w = (
        w.withColumn("_sfx", F.sum(F.col("wq") * F.col("wq")).over(sfx))
        .withColumn("ssq", F.sum(F.col("wq") * F.col("wq")).over(tot))
        .withColumn("_pfx", F.col("_sfx") * quant > F.lit(tq) * F.col("ssq"))
        # The weighted index feeds FOUR branches (prefix postings, full
        # postings, and both dot-product sides); without pinning it the
        # tokenize→tf→df-join→window pipeline re-executes per branch
        # (~6s per pass on the 200k-doc Zipf probe; the verify fan-out
        # dominates total wall either way). At 100 TB this IS the
        # index-build/probe split — the weighted postings are the
        # persistable artifact.
        .localCheckpoint(eager=False)
    )
    if candidate_budget is not None:
        # Σ_term prefix(t)·postings(t) — the exact size of the candidate
        # join's output stream, one aggregate over the checkpointed
        # postings (which the first action materializes anyway, so the
        # guard doubles as the checkpoint warmup). Measured: 6.25e2 at
        # 500 docs, 6.25e4 at 5k, 4.28e6 at 50k (sf1 sweep fixture —
        # ~68x per data decade, the documented superlinear growth); the
        # default budget clears sf1 with ~50x headroom and trips around
        # the next decade, where this recall oracle must hand off to
        # its scale twins (MinHash-LSH / SimHash).
        est = (w.groupBy("term").agg(
                   F.count(F.lit(1)).alias("_n"),
                   F.sum(F.when(F.col("_pfx"), 1).otherwise(0)).alias("_np"))
               .agg(F.sum(F.col("_n") * F.col("_np"))).first()[0]) or 0
        _check_candidate_budget(int(est), candidate_budget,
                                "tfidf_cosine_pairs",
                                "minhash_candidate_pairs")
    pfx = w.where("_pfx").select(
        F.col("_id").alias("p_id"), "term")
    full = w.select(F.col("_id").alias("q_id"), "term")
    cand = (
        # shuffle_hash pins on every join whose sides BOTH scale with
        # the corpus (here all branches descend from the checkpointed
        # `w`, whose plan node keeps the size estimate of the subtree
        # it replaced — the same stale-stats broadcast trap that OOMed
        # PassJoin and PageRank at the larger tiers). Build sides are
        # per-partition slices, bounded at any corpus size.
        pfx.hint("shuffle_hash").join(full, "term")
        .where(F.col("p_id") != F.col("q_id"))
        .select(F.least("p_id", "q_id").alias("a_id"),
                F.greatest("p_id", "q_id").alias("b_id"))
        .distinct()
    )
    wa = w.select(F.col("_id").alias("a_id"), "term",
                  F.col("wq").alias("wa"), F.col("ssq").alias("ssq_a"))
    wb = w.select(F.col("_id").alias("b_id"), "term",
                  F.col("wq").alias("wb"), F.col("ssq").alias("ssq_b"))
    return (
        # Build side = the POSTINGS (wa/wb, corpus-linear, bounded per
        # partition), never the candidate-pair relation: cand is the
        # one relation here documented to grow superlinearly, and a
        # per-partition shuffle-hash build map doesn't spill — a hot
        # a_id partition of cand as build side could OOM an executor at
        # a tier the corpus-linear build survives.
        cand.join(wa.hint("shuffle_hash"), "a_id")
        .join(wb.hint("shuffle_hash"), ["b_id", "term"])
        .groupBy("a_id", "b_id", "ssq_a", "ssq_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
        .select(
            "a_id", "b_id",
            F.round(F.col("dot") /
                    (F.sqrt(F.col("ssq_a")) * F.sqrt(F.col("ssq_b"))),
                    6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )

def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_cols: list[str],
    window: int,
    id_col: str = "doc_id",
    n_parts: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernández & Stolfo,
    SIGMOD 1995 — the classic record-linkage method): globally sort by
    ``sort_cols``, then emit every pair whose ranks are within
    ``window`` of each other. Complementary to key blocking: a good sort
    key (e.g. the name itself) puts near-duplicates adjacent even when
    they disagree on every categorical attribute a blocker would key on.
    Returns (a_id, b_id, rank_gap) with a_id the LOWER-ranked row and
    0 < rank_gap < window; callers verify candidates with whatever
    similarity predicate the linkage needs.

    Spark shape: the global rank comes from ``assign_dense_ranks``
    (range exchange + N-scalar driver prefix-sum — no single-partition
    window), and neighbors are found by an EQUI-join on rank buckets of
    width ``window``: a pair within the window spans at most adjacent
    buckets, so the higher-ranked probe side claims its own bucket and
    the one below and every pair meets on exactly one key. Cost is one
    range exchange + one bucket-key shuffle, ≤ 2·window candidates per
    row — linear in the corpus at fixed window, no quadratic term
    anywhere. The tiebreak on ``id_col`` makes the rank (and thus the
    candidate set) deterministic and partition-invariant.
    """
    from gads_etl_spark.operators.vocab import assign_dense_ranks

    # Rank only (id, sort keys): assign_dense_ranks pins its ranged
    # layout with an eager localCheckpoint, and at corpus scale that
    # materialization must be narrow, not carry every payload column.
    ranked = assign_dense_ranks(
        df.select(id_col, *sort_cols), [*sort_cols, id_col],
        id_name="_rank", n_parts=n_parts,
    ).select(F.col(id_col), F.col("_rank"),
             (F.col("_rank") / window).cast("long").alias("_bk"))
    a = ranked.select(
        F.col(id_col).alias("a_id"), F.col("_rank").alias("a_rank"),
        F.col("_bk").alias("_jk"),
    )
    b = ranked.select(
        F.col(id_col).alias("b_id"), F.col("_rank").alias("b_rank"),
        F.explode(F.array(F.col("_bk"), F.col("_bk") - 1)).alias("_jk"),
    )
    return (
        a.join(b, "_jk")
        .where((F.col("b_rank") > F.col("a_rank"))
               & (F.col("b_rank") - F.col("a_rank") < window))
        .select(
            "a_id", "b_id",
            (F.col("b_rank") - F.col("a_rank")).cast("int").alias("rank_gap"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level duplicate detection (the span granularity of Lee
    et al. 2022, arXiv:2107.06499 — public method): find, per document,
    the maximal token spans covered by k-grams that occur in at least
    ``min_docs`` distinct documents. Doc-level dedup misses boilerplate
    shared across otherwise-distinct pages; this finds the boilerplate
    itself.

    Suffix arrays are the single-node formulation; the distributed
    equivalent here is two Arrow passes, never quadratic, never a join:
    1. ``util.frequent_grams`` (one action at call time) counts, per
       k-gram, the documents containing it from per-batch partials and
       broadcasts the grams in >= ``min_docs`` documents;
    2. the returned per-document pass probes each k-gram position and
       merges the hit windows ``[pos, pos + k - 1]`` by gaps and islands
       (a new island starts when ``pos > prev_max + 1``).
    The gram is the raw token string (Spark's ``split(text, '\\s+')``,
    whose ``\\s`` is ASCII-only), as the DuckDB oracle states it, and
    counts are exact. ``id_col`` is a key; a NULL id is probed but not
    counted, as ``count(DISTINCT id)`` does.

    Returns (id, span_start, span_end, n_dup_grams) with 1-based
    INCLUSIVE token indices; adjacent/overlapping covered intervals merge.
    """
    return _dup_span_pass(df, id_col, text_col, k, min_docs, None)


def strip_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Cut the tokens that ``duplicated_spans`` (same arguments) finds
    covered from each document, in the same per-document pass — the
    removal half of substring-level dedup (Lee et al. 2022). Boilerplate
    is cut everywhere it appears: spans are cross-doc boilerplate, so no
    occurrence is canonical.

    Returns the input's columns plus ``out_col`` (the kept tokens joined
    by one space; NULL for NULL text) and ``n_removed_tokens``. A
    document with a NULL id is never cut.
    """
    return _dup_span_pass(df, id_col, text_col, k, min_docs, out_col)


def _dup_span_pass(df: DataFrame, id_col: str, text_col: str, k: int,
                   min_docs: int, out_col: str | None) -> DataFrame:
    import re
    from collections import Counter

    import pyarrow as pa
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    ws = re.compile(r"\s+", re.ASCII)

    def _grams(text: str) -> tuple[list, list]:
        t = ws.split(text)
        return t, [" ".join(t[i:i + k]) for i in range(len(t) - k + 1)]

    def _partials(b):
        c: Counter = Counter()
        for i, text in zip(b.column(0).is_valid().to_pylist(),
                           b.column(1).to_pylist()):
            if i and text is not None:
                c.update(set(_grams(text)[1]))
        return list(c), list(c.values())

    pairs = df.select(id_col, text_col)
    bc = frequent_grams(pairs, _partials, min_docs)

    def _islands(text: str, dup) -> tuple[list, list]:
        toks, grams = _grams(text)
        spans: list = []  # [start, end, n_dup_grams]
        for p in (p for p, g in enumerate(grams, 1) if g in dup):
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1:] = [p + k - 1, spans[-1][2] + 1]
            else:
                spans.append([p, p + k - 1, 1])
        return toks, spans

    def _cut(text: str, dup) -> tuple:
        toks, spans = _islands(text, dup)
        kept = toks
        for s, e, _ in reversed(spans):
            kept = kept[:s - 1] + kept[e:]
        return " ".join(kept), len(toks) - len(kept)

    def _spans(batches):
        for b in batches:
            idx, cols = [], ([], [], [])
            for r, text in enumerate(b.column(1).to_pylist()):
                for span in _islands(text, bc.value)[1] if text is not None else ():
                    idx.append(r)
                    for c, v in zip(cols, span):
                        c.append(v)
            yield pa.RecordBatch.from_arrays(
                [b.column(0).take(pa.array(idx, pa.int64()))]
                + [pa.array(c, pa.int64()) for c in cols],
                names=[id_col, "span_start", "span_end", "n_dup_grams"])

    def _strip(batches):
        for b in batches:
            out = [(None, None) if text is None else _cut(text, bc.value if i else ())
                   for i, text in zip(b.column(id_col).is_valid().to_pylist(),
                                      b.column(text_col).to_pylist())]
            yield pa.RecordBatch.from_arrays(
                b.columns + [pa.array([c for c, _ in out], pa.string()),
                             pa.array([n for _, n in out], pa.int64())],
                names=b.schema.names + [out_col, "n_removed_tokens"])

    if out_col is None:
        return pairs.mapInArrow(_spans, StructType([df.schema[id_col]] + [
            StructField(c, LongType())
            for c in ("span_start", "span_end", "n_dup_grams")]))
    return df.mapInArrow(_strip, StructType(
        df.schema.fields + [StructField(out_col, StringType()),
                            StructField("n_removed_tokens", LongType())]))


def simhash_radius_pairs(docs: DataFrame, radius: int = 3,
                         id_col: str = "doc_id") -> DataFrame:
    """All document pairs within ``radius`` SimHash hamming distance —
    a bounded-distance similarity join, NOT all-pairs: the 64-bit
    fingerprint splits into ``radius + 1`` chunks, and by pigeonhole two
    signatures within the radius agree on at least one whole chunk, so
    candidates come from equi-joins on (chunk index, chunk value) and
    only candidates pay the popcount verification. Returns
    (a_id, b_id, hamming) with a_id < b_id, exact w.r.t. the criterion
    (the blocking is lossless, unlike probabilistic bands).

    Scale shape: one signature pass (simhash), one explode to
    ``radius + 1`` rows each, one equi-join per shared chunk bucket, and
    a distinct to collapse pairs matching in several chunks. Chunk
    buckets are 2^(64/(radius+1)) wide — 65k values at radius 3 — so
    bucket skew mirrors signature skew, which near-uniform hashing keeps
    flat.
    """
    n_chunks = radius + 1
    bits = 64 // n_chunks
    fp = simhash(docs, id_col=id_col).select(id_col, "simhash")
    def chunk_val(i: int):
        shifted = F.shiftrightunsigned(F.col("simhash"), i * bits)
        if bits >= 64:  # radius 0: the "chunk" is the whole signature
            return shifted
        return shifted.bitwiseAND(F.lit((1 << bits) - 1))

    chunk = F.explode(F.array(*[
        F.struct(F.lit(i).alias("ci"), chunk_val(i).alias("cv"))
        for i in range(n_chunks)
    ])).alias("c")
    chunked = fp.select(F.col(id_col), F.col("simhash"), chunk).select(
        id_col, "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a = chunked.select(F.col(id_col).alias("a_id"),
                       F.col("simhash").alias("fp_a"), "ci", "cv")
    b = chunked.select(F.col(id_col).alias("b_id"),
                       F.col("simhash").alias("fp_b"), "ci", "cv")
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long")
    # Verify BEFORE deduplicating (the passjoin lesson): popcount is
    # per-row map work, so filtering to hamming <= radius first shrinks
    # the distinct's exchange to the MATCHED pairs instead of the whole
    # candidate stream (a pair matching in several chunks deduplicates
    # identically either side of the filter — hamming is a function of
    # the row, so filter∘distinct ≡ distinct∘filter).
    return (
        a.join(b, ["ci", "cv"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", hamming.alias("hamming"))
        .where(F.col("hamming") <= radius)
        .distinct()
    )
