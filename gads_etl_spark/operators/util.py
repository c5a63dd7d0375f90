"""Shared operator helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Spread an under-partitioned input across the cluster — and ONLY then.

    The local fixtures arrive as one compact parquet file, which would run
    a CPU-bound expansion stage (shingling, hashing, pair scoring) in a
    single task; repartitioning fixes that. But a blanket
    ``repartition(defaultParallelism)`` is wrong at scale: a 100 TB scan
    already yields ~maxPartitionBytes-sized splits, and the unconditional
    version shuffles the entire input to gain nothing. So shuffle only
    when the incoming partition count is below the cluster's parallelism.

    Meant for SCAN-LEVEL inputs (all current call sites are projections
    over a table scan). The ``df.rdd`` probe is plain plan conversion for
    exchange-free plans, but under AQE it MATERIALIZES the query stages of
    any plan that contains a shuffle — i.e. it would run the upstream jobs
    twice. That misuse is guarded here, not just documented: when the
    physical plan already contains an Exchange the probe is skipped and
    the input is returned untouched — a shuffled plan already has
    cluster-width parallelism, so there is nothing for ``spread`` to fix
    and everything for it to break.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def frequent_grams(df: DataFrame, batch_partials, min_docs: int,
                   pack=lambda grams: grams):
    """Broadcast the grams that occur in at least ``min_docs`` documents:
    the shared first pass of the Arrow gram operators (one Spark action).

    ``batch_partials(batch)`` maps one Arrow record batch of ``df`` to
    ``(grams, counts)``, each gram's count of documents in the batch (a
    document counts once per distinct gram). Spark sums the partials per
    gram; the grams reaching ``min_docs`` return as Arrow and go to the
    executors as one broadcast of ``pack(frozenset_of_grams)``. Grams
    are the caller's strings, so membership is exact.
    """
    import pyarrow as pa
    from pyspark.sql import functions as F

    def _emit(batches):
        for b in batches:
            g, n = batch_partials(b)
            yield pa.RecordBatch.from_arrays(
                [pa.array(g, pa.string()), pa.array(n, pa.int64())], ["g", "n"])

    freq = (
        df.mapInArrow(_emit, "g string, n long")
        .groupBy("g").agg(F.sum("n").alias("n"))
        .where(F.col("n") >= int(min_docs)).select("g").toArrow()
    )
    grams = frozenset(freq.column(0).to_pylist())
    return df.sparkSession.sparkContext.broadcast(pack(grams))
