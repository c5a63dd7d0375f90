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
at 10M partitions). ``validate_batch`` validates N partitions with three
reads of just the batch: one grouped count over the requested
directories, their manifest rows and the keys' previous ledger rows. A
batch is one sync's partitions, so those rows and the outcome fold
(multi-run batches folded per key) live on the driver, and the outcome
is ONE state MERGE. ``validate_partition`` is the single-key wrapper
kept for API parity.
"""

from __future__ import annotations

from collections import defaultdict
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from gads_etl_spark.pipeline.frames import local_frame
from gads_etl_spark.pipeline.keys import LOGICAL_KEY, PartitionKey
from gads_etl_spark.pipeline.raw_sink import MANIFEST_SCHEMA, RawZone
from gads_etl_spark.pipeline.state_store import STATE_SCHEMA, StateStore

#: One validation request: a sealed partition's key, run_id and version.
REQUEST_SCHEMA = T.StructType(
    [MANIFEST_SCHEMA[c] for c in (*LOGICAL_KEY, "run_id", "schema_version")])


def validate_batch(raw: RawZone, states: StateStore, requests: DataFrame) -> DataFrame:
    """Validate a batch of sealed partitions and MERGE outcomes into state.

    ``requests``: columns (source, customer_id, query_name, logical_date,
    run_id, schema_version). Multiple run_ids for one logical key fold as
    if validated sequentially in run_id order. Returns the merged rows.
    """
    # Identical duplicate requests would double-count attempts and emit
    # duplicate outcome rows; a batch is a *set* of attempts.
    reqs = list(dict.fromkeys(
        tuple(r) for r in requests.select(*REQUEST_SCHEMA.fieldNames()).collect()))
    attempts = [(PartitionKey(*r[:4]), r[4], r[5]) for r in reqs]
    targets = list(dict.fromkeys((key, run_id) for key, run_id, _ in attempts))

    # Three reads of ONLY the batch: the payload counts of the requested
    # (key, run_id) directories (so a bad file in another run cannot block
    # them; every row is parsed, FAILFAST), their manifest rows and the
    # keys' previous ledger rows.
    actual = raw.count_partitions(targets)
    expected: dict[tuple, list[int]] = defaultdict(list)
    for r in (raw.manifest().join(_frame(raw, targets, [*LOGICAL_KEY, "run_id"]),
                                  [*LOGICAL_KEY, "run_id"], "left_semi")
              .select(*LOGICAL_KEY, "run_id", "record_count").collect()):
        expected[(PartitionKey.of(r), r["run_id"])].append(r["record_count"])
    prev: dict[PartitionKey, list] = defaultdict(list)
    for r in (states.read().join(_frame(raw, [(k,) for k, _ in targets], LOGICAL_KEY),
                                 list(LOGICAL_KEY), "left_semi")
              .select(*LOGICAL_KEY, "current_run_id", "schema_version",
                      "record_count", "attempt_count").collect()):
        prev[PartitionKey.of(r)].append(r)

    # One checked attempt per (request, manifest row): a request without
    # a manifest row fails, so does a payload count off the manifest's.
    checked: dict[PartitionKey, list[tuple]] = defaultdict(list)
    for key, run_id, version in attempts:
        n = actual.get((key, run_id), 0)
        for want in expected.get((key, run_id), [None]):
            if want is None:
                error = f"no manifest row for run_id={run_id}"
            elif n != want:
                error = f"record_count mismatch: payload={n} metadata={want}"
            else:
                error = None
            checked[key].append((run_id, version, want, error))

    # Fold each logical key's attempts as sequential validation in run_id
    # order: final status = last attempt's outcome; the authority
    # candidate = the successful attempt with the greatest run_id, unless
    # the ledger already holds a newer one (M3); failures never change
    # authority (M4); every attempt counts (M8).
    now = datetime.now(timezone.utc)
    rows = []
    for key, tries in checked.items():
        last = max(run_id for run_id, *_ in tries)
        # (run_id, schema_version, record_count) of the greatest successful
        # attempt: the batch's authority candidate.
        best = max(((run_id, version, want) for run_id, version, want, error in tries
                    if error is None), key=lambda a: (a[0], a[2], a[1]),
                   default=(None, None, None))
        for error in (error for run_id, _, _, error in tries if run_id == last):
            for p in prev.get(key) or [None]:
                authority = best
                if p is not None and p["current_run_id"] is not None and (
                        best[0] is None or p["current_run_id"] > best[0]):
                    authority = (p["current_run_id"], p["schema_version"], p["record_count"])
                rows.append({
                    **key.as_dict(),
                    "status": "failed" if error else "success",
                    **dict(zip(("current_run_id", "schema_version", "record_count"), authority)),
                    "updated_at": now,
                    "error_message": error,
                    "attempt_count": ((p and p["attempt_count"]) or 0) + len(tries),
                })
    # The outcome rows are one per validated partition (a job batch, not
    # the whole ledger): a local frame, so the MERGE and the caller's
    # actions over them run in the JVM alone.
    out = local_frame(raw.spark, rows, STATE_SCHEMA)
    states.upsert(out)
    return out


def _frame(raw: RawZone, rows: list[tuple], cols) -> DataFrame:
    """The distinct ``(key, …)`` tuples of ``rows`` as a local frame with
    the manifest's types for ``cols``."""
    flat = {(*k.as_dict().values(), *rest) for k, *rest in rows}
    return local_frame(raw.spark, [dict(zip(cols, r)) for r in flat],
                       T.StructType([MANIFEST_SCHEMA[c] for c in cols]))


def validate_partition(
    raw: RawZone,
    states: StateStore,
    key: PartitionKey,
    run_id: str,
    schema_version: str = "v1",
) -> dict:
    """Single-partition wrapper over ``validate_batch`` (reference API
    shape, validator.py:23-54). Returns the new state row as a dict."""
    req = local_frame(raw.spark, [{**key.as_dict(), "run_id": run_id,
                                   "schema_version": schema_version}], REQUEST_SCHEMA)
    rows = validate_batch(raw, states, req).collect()
    return rows[0].asDict()
