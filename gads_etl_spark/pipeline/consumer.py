"""Consumer read path: pointer-governed visibility + per-partition preview.

Contract parity (reference docs/consumer_contract.md:9-17,
consumer_preview.py): consumers NEVER scan the raw zone blindly — the
published pointer set defines exactly which ``(logical key, run_id)``
directories are visible; everything else (unsealed attempts, superseded
runs, failed partitions) does not exist for a reader.

Scale shape: the pointer set is collected (one row per logical
partition) and exactly its ``(key, run_id)`` directories are listed and
read — superseded runs, unsealed attempts and any bad file outside the
published set are never opened.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gads_etl_spark.pipeline.keys import LOGICAL_KEY, PartitionKey
from gads_etl_spark.pipeline.pointer_store import PointerStore
from gads_etl_spark.pipeline.raw_sink import RawZone


def read_published(raw: RawZone, pointers: PointerStore) -> DataFrame:
    """All consumer-visible rows: the published ``(key, run_id)``
    directories, read the way ``validate_batch`` reads its targets
    (``RawZone.read_partitions``). The payload schema is inferred from
    those directories only, so a malformed superseded payload cannot fail
    a consumer read, and the cost follows the published set, not the
    zone's history. A published partition with no directory in ``raw``
    (e.g. a curated zone that has not staged it) contributes no rows.
    """
    published = pointers.read().select(*LOGICAL_KEY, "run_id").collect()
    return raw.read_partitions([(PartitionKey.of(r), r["run_id"]) for r in published])


def preview(raw: RawZone, pointers: PointerStore, sample_rows: int = 5,
            order_col: str | None = None) -> DataFrame:
    """O6: first N rows of each published partition.

    The reference takes storage-order heads (consumer_preview.py:39-42)
    but declares row order unstable (spec.md:41); distributed preview
    therefore orders by an explicit surrogate (``order_col``, else a
    deterministic per-partition file/offset surrogate) and takes
    ``row_number() <= N`` per logical partition.
    """
    df = read_published(raw, pointers)
    surrogate = F.col(order_col) if order_col else F.monotonically_increasing_id()
    w = Window.partitionBy(*LOGICAL_KEY, "run_id").orderBy(surrogate)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= sample_rows)
        .drop("_rn")
    )
