"""Corpus-quality operators: PII redaction, benchmark decontamination,
repetition filtering, and budget-constrained domain mixing.

These are the curation passes a training-data pipeline runs between raw
ingestion and tokenization. Design rules for 100 TB:

- **Redaction is pure per-row expression work** — a fixed chain of
  ``regexp_replace`` calls that stays inside whole-stage codegen; no
  shuffle, no UDF, applies streaming-style to any partition count.
- **Decontamination joins on hashed n-grams, never on text.** The eval
  (benchmark) side is bounded — thousands of documents — so its distinct
  n-gram set broadcasts; the train side never shuffles at all. Flagging
  100 TB of training docs is then one broadcast semi-join per scan.
- **Repetition stats shuffle on (doc_id, gram)** — the explode + two-level
  aggregation shape with map-side partial aggregation, not a per-row
  O(d²) higher-order-function scan.
- **Domain mixing computes per-source rates with integer arithmetic**
  (micro-units, floor division) so the keep/drop decision is bit-identical
  across engines, runs, and partitionings — required when the sampled
  corpus is a published artifact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gads_etl_spark.operators.dedup import shingles, tokens

#: Redaction patterns, applied IN ORDER (phone before SSN so the 3-3-4
#: digit shape is consumed before the 3-2-4 pattern runs; email first so
#: user@host digits never feed the numeric patterns; IP last). Patterns
#: restrict to the Java-regex ∩ RE2 common subset so the DuckDB oracle can
#: state the identical expressions.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def redact_pii(df: DataFrame, text_col: str = "text",
               out_col: str = "clean_text") -> DataFrame:
    """Scrub emails / phone numbers / SSNs / IPv4s to typed placeholders.

    One ``regexp_replace`` chain per row — codegen'd, shuffle-free, and
    order-deterministic. Adds ``n_<kind>`` counts per pattern (derived
    from placeholder occurrences, so they count what was *actually*
    redacted) and a ``pii_found`` flag.
    """
    clean = F.col(text_col)
    for _, pattern, tag in PII_PATTERNS:
        clean = F.regexp_replace(clean, pattern, tag)
    out = df.withColumn(out_col, clean)
    total = F.lit(0)
    for kind, _, tag in PII_PATTERNS:
        n = (
            (F.length(out_col) - F.length(F.replace(F.col(out_col), F.lit(tag))))
            / F.lit(len(tag))
        ).cast("long")
        out = out.withColumn(f"n_{kind}", n)
        total = total + F.col(f"n_{kind}")
    return out.withColumn("pii_found", total > 0)


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flag training documents sharing any word ``n``-gram with an eval set.

    The standard benchmark-decontamination pass: a training doc that
    contains any length-``n`` token window from a held-out benchmark is
    contaminated and must be dropped before training.

    Scale shape: the eval n-gram set is ``distinct`` and *broadcast* —
    benchmarks are bounded (10³–10⁵ docs) while the train side is the
    100 TB corpus, so the join must never shuffle the big side. Grams are
    compared by md5 (16 bytes), not raw text, keeping the broadcast table
    small. Returns ``(doc_id, n_overlap)`` for contaminated docs only.
    """
    eval_grams = (
        eval_df.select(F.explode(shingles(F.col(text_col), n)).alias("gram"))
        .select(F.md5("gram").alias("gram_hash"))
        .distinct()
    )
    train_grams = train.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("gram")
    ).select(id_col, F.md5("gram").alias("gram_hash"))
    return (
        train_grams.join(F.broadcast(eval_grams), "gram_hash")
        .groupBy(id_col)
        .agg(F.count_distinct("gram_hash").alias("n_overlap"))
    )


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher-style repetition metrics per document.

    - ``dup_word_frac``: fraction of token occurrences that are repeats
      (1 − type/token ratio) — per-row array math, no shuffle.
    - ``top_2gram_frac``: share of 2-gram occurrences taken by the most
      frequent 2-gram — explode → count by (doc, gram) → max/sum per doc.
      Two-level aggregation with map-side combine; the shuffle key is
      (doc_id, gram) so hot documents don't skew a single reducer.

    Heavily repetitive documents (boilerplate, keyword stuffing, decoding
    loops) score high on both and get filtered before training.
    """
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    # shingles() distincts; for counts we need raw occurrences — rebuild
    # non-distinct 2-grams by zipping the token array with its shift.
    toks_col = tokens(F.col(text_col))
    raw2 = df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(toks_col) < 2, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.arrays_zip(
                        F.slice(toks_col, 1, F.size(toks_col) - 1),
                        F.slice(toks_col, 2, F.size(toks_col) - 1),
                    ),
                    lambda s: F.concat_ws(" ", s["0"], s["1"]),
                )
            )
        ).alias("gram"),
    )
    per_gram = raw2.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    per_doc = per_gram.groupBy(id_col).agg(
        F.sum("c").alias("n_2grams"), F.max("c").alias("top_2gram_count")
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_2grams", F.lit(0)).alias("n_2grams"),
            F.coalesce("top_2gram_count", F.lit(0)).alias("top_2gram_count"),
            (F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens"))
            .alias("dup_word_frac"),
            (F.col("top_2gram_count").cast("double")
             / F.nullif(F.col("n_2grams"), F.lit(0)).cast("double"))
            .alias("top_2gram_frac"),
        )
    )


def trigram_typicality(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", min_df: int = 50) -> DataFrame:
    """Per-document trigram typicality: how many of a doc's DISTINCT
    lowercased character trigrams appear in at least ``min_df``
    documents corpus-wide — the cheap fluency/quality signal (a doc of
    rare trigrams is mojibake, code, or another language).

    Two corpus passes, both Arrow-vectorized (the expression form they
    replaced took 82 s at the 100x tier):

    1. **Doc-frequency pass** (runs EAGERLY at call time — the
       frequent-set aggregation is a bounded action, the same
       construction-time eagerness as the ANN ladder's centroid fit):
       per Arrow batch, each doc's distinct trigrams are computed as
       vectorized uint32 codes (ASCII lane) and counted with one
       ``np.unique`` per batch; ``util.frequent_grams`` has Spark sum
       the per-batch partials per gram and broadcasts the
       ``>= min_df`` survivors — a BOUNDED set (≤ |alphabet|³,
       independent of corpus size).
    2. **Per-doc pass**: the returned (lazy) plan — one ``mapInArrow``
       emitting ``(id, n_trigrams, n_typical)`` via a sorted-array
       membership probe against the broadcast frequent set.

    Value-identical to the expression form it replaced, pinned by a
    differential test across every edge the old semantics had:
    lowercase happens in the JVM (``lower(text)`` is computed Spark-side
    and only SLICED in Python, so engine case-mapping is identical by
    construction); the position bound stays on ``length(text)`` — the
    ORIGINAL length — while slices come from the lowered text (ADVICE
    r16; 'İ' lowercases to two codepoints); docs with
    ``length(text) <= 2`` emit the single gram ``substring(lower(text),
    1, 3)`` (Spark's ``sequence(1, 0)`` is ``[1, 0]`` and positions 0/1
    slice identically — measured); NULL text emits one NULL gram
    (n_trigrams 1, n_typical 0); non-ASCII docs slice by CHARACTER in a
    Python lane.
    """
    from collections import Counter

    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    from gads_etl_spark.operators.util import frequent_grams, spread

    t = spread(df.select(
        F.col(id_col),
        F.lower(F.col(text_col)).alias("_lt"),
        F.length(F.col(text_col)).alias("_lo"),
    ))

    def _doc_grams(lt, lo):
        """(codes, strings): per-doc distinct trigrams — uint32 codes
        for the full-window ASCII lane, strings otherwise."""
        bound = max(int(lo) - 2, 0)
        if bound == 0:
            return None, {lt[0:3]}
        if lt.isascii() and len(lt) == lo:  # every window is 3 full chars
            b = np.frombuffer(lt.encode("ascii"), dtype=np.uint8).astype(np.uint32)
            return np.unique((b[:-2] << 16) | (b[1:-1] << 8) | b[2:]), None
        return None, {lt[i:i + 3] for i in range(bound)}

    def _partials(b):
        code_runs: list = []
        slow: Counter = Counter()
        for lt, lo in zip(b.column("_lt").to_pylist(),
                          b.column("_lo").to_pylist()):
            if lt is None:
                continue  # NULL grams never join
            codes, strs = _doc_grams(lt, lo)
            if codes is not None:
                code_runs.append(codes)
            else:
                slow.update(strs)
        gs, ns = list(slow), list(slow.values())
        if code_runs:
            uq, cnt = np.unique(np.concatenate(code_runs), return_counts=True)
            gs.extend(chr(c >> 16) + chr((c >> 8) & 0xFF) + chr(c & 0xFF)
                      for c in uq.tolist())
            ns.extend(cnt.tolist())
        return gs, ns

    def _pack(fset):
        return np.sort(np.fromiter(
            ((ord(g[0]) << 16) | (ord(g[1]) << 8) | ord(g[2])
             for g in fset if len(g) == 3 and g.isascii()),
            dtype=np.uint32)), fset

    bc = frequent_grams(t, _partials, min_df, _pack)

    def _count(lt, lo, fc, fs) -> tuple[int, int]:
        if lt is None:
            return 1, 0  # the single NULL gram row
        codes, strs = _doc_grams(lt, lo)
        if codes is None:
            return len(strs), len(strs & fs)
        idx = np.searchsorted(fc, codes)
        idx[idx == fc.size] = 0
        return int(codes.size), int((fc[idx] == codes).sum()) if fc.size else 0

    def _doc_counts(batches):
        fc, fs = bc.value
        for b in batches:
            out = [_count(lt, lo, fc, fs) for lt, lo in
                   zip(b.column("_lt").to_pylist(), b.column("_lo").to_pylist())]
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pa.array([n for n, _ in out], pa.int64()),
                 pa.array([n for _, n in out], pa.int64())],
                names=[id_col, "n_trigrams", "n_typical"])

    return t.mapInArrow(_doc_counts, StructType([t.schema[id_col]] + [
        StructField(c, LongType()) for c in ("n_trigrams", "n_typical")]))


def mix_to_budget(
    df: DataFrame,
    weights_micro: dict[str, int],
    budget_pct: int,
    default_weight_micro: int = 0,
    strata_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix",
) -> DataFrame:
    """Resample the corpus toward a target domain mixture under a token
    budget.

    ``weights_micro[s] / 1e6`` is the share of the budget domain ``s``
    should contribute; the budget is ``budget_pct``% of total corpus
    tokens. Per-stratum keep rate::

        rate_micro(s) = min(1e6, weight_micro(s) * budget_tokens
                                  // stratum_tokens(s))

    All integer arithmetic (micro-units + floor division), so the rate —
    and therefore each document's hash-threshold keep decision — is
    bit-identical across engines and runs. Oversubscribed domains
    (weight asks for more tokens than exist) clamp to keeping everything,
    mirroring epoch-upsampling decisions made elsewhere.

    Scale shape: one aggregation over (stratum) → a tiny rates table
    (bounded by #domains) broadcast back onto the corpus; the keep
    predicate is the same shuffle-free md5-prefix threshold as
    ``sampling.deterministic_sample``. Returns the kept rows with
    ``rate_micro`` attached.
    """
    n_tokens = F.size(tokens(F.col(text_col))).cast("long")
    toks = df.select(F.col(strata_col), n_tokens.alias("_nt"))
    strata = toks.groupBy(strata_col).agg(F.sum("_nt").alias("stratum_tokens"))
    total = toks.agg(F.sum("_nt").alias("total_tokens"))
    weight = F.lit(default_weight_micro)
    for s, w in sorted(weights_micro.items()):
        weight = F.when(F.col(strata_col) == s, F.lit(w)).otherwise(weight)
    budget_tokens = F.floor(F.col("total_tokens") * budget_pct / 100).cast("long")
    rates = (
        strata.crossJoin(F.broadcast(total))
        .select(
            strata_col,
            "stratum_tokens",
            F.least(
                F.lit(1_000_000).cast("long"),
                F.floor(weight.cast("long") * budget_tokens / F.col("stratum_tokens")).cast("long"),
            ).alias("rate_micro"),
        )
    )
    prefix = F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 4
    )
    bucket = F.floor(F.col("rate_micro") * 65536 / 1_000_000).cast("long")
    threshold = F.when(F.col("rate_micro") >= 1_000_000, F.lit("g")).otherwise(
        F.format_string("%04x", bucket)
    )
    return (
        df.join(F.broadcast(rates), strata_col)
        .where(prefix < threshold)
    )
