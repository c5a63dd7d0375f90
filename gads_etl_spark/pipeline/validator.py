"""Validation + authority selection: the state machine's only success path.

Contract parity (reference src/gads_etl/validator.py):

- Count check (A9, validator.py:43-52): re-count the sealed partition and
  compare against the manifest's ``record_count``; mismatch ⇒ failed.
- Success transition with authority retention (M3, validator.py:56-86,
  118-121): if the ledger already holds a *newer* run_id (lexicographically
  greater — run_ids are ISO-ms timestamps so lexicographic == chronological)
  the existing authority is retained — current_run_id, record_count AND
  schema_version all stay with the retained run (validator.py:66-69); the
  attempt still counts.
- Failure transition (M4, validator.py:88-104): keep previous authority and
  record_count, record the error, increment attempts.
- Attempt counting (M8, validator.py:83,101): +1 per validation attempt,
  monotone, never reset.

Scale design: the reference validates one partition per call — two point
lookups and a ledger write each (fine for one process, a driver bottleneck
at 10M partitions). ``validate_batch`` validates N partitions in ONE job:
count all requested partitions with a single partition-discovery scan,
join manifest + previous state, fold multi-run request batches with a
window, and commit ONE state MERGE. ``validate_partition`` is the
single-key wrapper kept for API parity.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from gads_etl_spark.pipeline.keys import LOGICAL_KEY, PartitionKey
from gads_etl_spark.pipeline.raw_sink import RawZone
from gads_etl_spark.pipeline.state_store import STATE_SCHEMA, StateStore

_REQ = [*LOGICAL_KEY, "run_id", "schema_version"]


def _now():
    return datetime.now(timezone.utc).replace(tzinfo=None)


def validate_batch(raw: RawZone, states: StateStore, requests: DataFrame) -> DataFrame:
    """Validate a batch of sealed partitions and MERGE outcomes into state.

    ``requests``: columns (source, customer_id, query_name, logical_date,
    run_id, schema_version). Multiple run_ids for one logical key fold as
    if validated sequentially in run_id order. Returns the merged rows.
    """
    # Identical duplicate requests would double-count attempts and emit
    # duplicate outcome rows; a batch is a *set* of attempts.
    requests = requests.select(*_REQ).distinct()

    # One distributed count over ONLY the requested (key, run_id)
    # directories: its cost follows the batch, not the zone's history, and
    # a bad file in another run cannot block it. The empty read schema
    # skips schema inference; every row is still parsed (FAILFAST).
    targets = [(PartitionKey.of(r), r["run_id"])
               for r in requests.select(*LOGICAL_KEY, "run_id").collect()]
    actual = (
        raw.read_partitions(targets, schema=T.StructType([]))
        .groupBy(*LOGICAL_KEY, "run_id")
        .agg(F.count(F.lit(1)).alias("actual_count"))
    )
    manifest = raw.manifest().select(
        *LOGICAL_KEY, "run_id", F.col("record_count").alias("expected_count")
    )
    checked = (
        requests
        .join(manifest, [*LOGICAL_KEY, "run_id"], "left")
        .join(actual, [*LOGICAL_KEY, "run_id"], "left")
        .withColumn(
            "ok",
            F.col("expected_count").isNotNull()
            & (F.coalesce(F.col("actual_count"), F.lit(0)) == F.col("expected_count")),
        )
        .withColumn(
            "attempt_error",
            F.when(F.col("expected_count").isNull(),
                   F.concat(F.lit("no manifest row for run_id="), F.col("run_id")))
            .when(~F.col("ok"),
                  F.concat(F.lit("record_count mismatch: payload="),
                           F.coalesce(F.col("actual_count"), F.lit(0)).cast("string"),
                           F.lit(" metadata="), F.col("expected_count").cast("string"))),
        )
    )

    # Fold multi-run batches per logical key as sequential validation in
    # run_id order: final status = last attempt's outcome; the successful
    # authority candidate = max successful run_id in the batch.
    w = Window.partitionBy(*LOGICAL_KEY)
    folded = (
        checked
        .withColumn("_last_run", F.max("run_id").over(w))
        .withColumn("_n_attempts", F.count(F.lit(1)).over(w))
        .withColumn("_best_ok_run",
                    F.max(F.when(F.col("ok"), F.col("run_id"))).over(w))
        .withColumn("_best_ok_count",
                    F.max(F.when(F.col("ok"),
                                 F.struct("run_id", "expected_count", "schema_version"))).over(w))
        .where(F.col("run_id") == F.col("_last_run"))
    )

    prev = states.read().select(
        *LOGICAL_KEY,
        F.col("status").alias("prev_status"),
        F.col("current_run_id").alias("prev_run_id"),
        F.col("schema_version").alias("prev_schema_version"),
        F.col("record_count").alias("prev_record_count"),
        F.col("attempt_count").alias("prev_attempts"),
    )
    joined = folded.join(prev, list(LOGICAL_KEY), "left")

    keep_prev = F.col("prev_run_id").isNotNull() & (
        F.col("_best_ok_run").isNull() | (F.col("prev_run_id") > F.col("_best_ok_run"))
    )
    new_rows = joined.select(
        *LOGICAL_KEY,
        F.when(F.col("ok"), F.lit("success")).otherwise(F.lit("failed")).alias("status"),
        # Authority: greatest of previous authority and best successful run
        # of this batch (M3); failures never change authority (M4).
        F.when(keep_prev, F.col("prev_run_id"))
        .otherwise(F.col("_best_ok_run")).alias("current_run_id"),
        F.when(keep_prev, F.col("prev_schema_version"))
        .otherwise(F.col("_best_ok_count.schema_version")).alias("schema_version"),
        F.when(keep_prev, F.col("prev_record_count"))
        .otherwise(F.col("_best_ok_count.expected_count")).alias("record_count"),
        F.lit(_now()).alias("updated_at"),
        F.when(~F.col("ok"), F.col("attempt_error")).alias("error_message"),
        (F.coalesce(F.col("prev_attempts"), F.lit(0)) + F.col("_n_attempts"))
        .cast("int").alias("attempt_count"),
    )
    # Materialize once: the outcome rows are one per validated partition
    # (a job batch, not the whole ledger), and upsert would otherwise
    # re-execute the raw-zone count scan for each of its two actions.
    out = raw.spark.createDataFrame(new_rows.collect(), STATE_SCHEMA)
    states.upsert(out)
    return out


def validate_partition(
    raw: RawZone,
    states: StateStore,
    key: PartitionKey,
    run_id: str,
    schema_version: str = "v1",
) -> dict:
    """Single-partition wrapper over ``validate_batch`` (reference API
    shape, validator.py:23-54). Returns the new state row as a dict."""
    req = raw.spark.createDataFrame(
        [{**key.as_dict(), "run_id": run_id, "schema_version": schema_version}]
    )
    rows = validate_batch(raw, states, req).collect()
    return rows[0].asDict()
