"""Warehouse loader: reconcile state→pointers, publish, demote.

Contract parity (reference src/gads_etl/warehouse/loader.py:44-132,
docs/warehouse_semantics.md):

- Reconcile (J1, loader.py:51-91): LEFT join of ``status=success`` states
  (with a non-null ``current_run_id`` — loader.py:61-63) against warehouse
  pointers on the 4-part logical key; classify each state row as
  ``load`` (no pointer), ``replace`` (pointer at a different run_id) or
  no-op (pointer already current).
- Demote (J2, loader.py:92-107): pointers whose key is NOT in the success
  set are deleted — an anti-join, not a per-row lookup.
- Publish (loader.py:109-123): upsert one pointer row per load/replace
  target with ``loaded_at = now``; the pointer swap is the consumer-visible
  atomic publish point (docs/warehouse_semantics.md:18-25,62).

Scale notes: the reference loops state rows one pointer lookup at a time;
here reconciliation is ONE left join + ONE anti-join regardless of
partition count. Both control tables are tiny relative to data (~1 row per
logical partition), so at 10M partitions this is still a single small
shuffle — or a broadcast join if one side fits.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gads_etl_spark.pipeline.frames import local_frame
from gads_etl_spark.pipeline.keys import LOGICAL_KEY
from gads_etl_spark.pipeline.pointer_store import POINTER_SCHEMA, PointerStore
from gads_etl_spark.pipeline.state_store import STATE_SCHEMA, StateStore

#: A load or replace target: the logical key and the run to publish.
TARGET_SCHEMA = T.StructType(
    [STATE_SCHEMA[c] for c in (*LOGICAL_KEY, "current_run_id", "schema_version")])


@dataclass(frozen=True)
class ReconciliationPlan:
    """Immutable reconciliation outcome (reference loader.py:23-29).

    ``load``/``replace`` carry the logical key + target run_id/schema_version;
    ``demote`` carries the stale pointer rows. ``sizes`` are their row
    counts, taken when the plan was materialized.
    """

    load: DataFrame
    replace: DataFrame
    demote: DataFrame
    sizes: dict[str, int]

    def counts(self) -> dict[str, int]:
        return dict(self.sizes)


def classify_targets(success_states: DataFrame, pointers: DataFrame) -> DataFrame:
    """J1: left-join classify success states against pointers.

    Returns the state columns + pointer run_id + an ``action`` column in
    {'load', 'replace', 'noop'} (reference loader.py:86-91).
    """
    states = success_states.where(F.col("current_run_id").isNotNull())
    ptr = pointers.select(
        *LOGICAL_KEY, F.col("run_id").alias("pointer_run_id")
    )
    joined = states.join(ptr, list(LOGICAL_KEY), "left")
    return joined.withColumn(
        "action",
        F.when(F.col("pointer_run_id").isNull(), F.lit("load"))
        .when(F.col("pointer_run_id") != F.col("current_run_id"), F.lit("replace"))
        .otherwise(F.lit("noop")),
    )


def demotion_targets(success_states: DataFrame, pointers: DataFrame) -> DataFrame:
    """J2: pointers whose logical key has no successful state (anti-join)."""
    success_keys = (
        success_states.where(F.col("current_run_id").isNotNull())
        .select(*LOGICAL_KEY)
        .distinct()
    )
    return pointers.join(success_keys, list(LOGICAL_KEY), "left_anti")


class WarehouseLoader:
    """Reconcile → publish → demote (reference loader.py:32-132)."""

    def __init__(self, states: StateStore, pointers: PointerStore):
        self._states = states
        self._pointers = pointers

    def reconcile(self) -> ReconciliationPlan:
        """Build the plan without mutating anything (dry-run friendly).

        The non-noop delta and the demote set are what this sync changes,
        not the ledger: each comes to the driver ONCE, as Arrow, and the
        plan holds them as local frames with their sizes counted there.
        Staging, publishing and ``counts()`` then read a fixed snapshot
        instead of re-running the joins, and the plan stays what it was
        when reconciled even after pointers move.
        """
        success = self._states.read().where(F.col("status") == "success")
        ptrs = self._pointers.read()
        delta = (
            classify_targets(success, ptrs)
            .where(F.col("action") != "noop")
            .select(*TARGET_SCHEMA.fieldNames(), "action")
            .toArrow()
        )
        demote = demotion_targets(success, ptrs).select(*POINTER_SCHEMA.fieldNames()).toArrow()
        spark = self._states.spark
        actions = Counter(delta.column("action").to_pylist())

        def targets(action: str) -> DataFrame:
            rows = delta.filter(pc.equal(delta["action"], action)).drop_columns("action")
            return local_frame(spark, rows, TARGET_SCHEMA)

        return ReconciliationPlan(
            load=targets("load"),
            replace=targets("replace"),
            demote=local_frame(spark, demote, POINTER_SCHEMA),
            sizes={"load": actions["load"], "replace": actions["replace"],
                   "demote": demote.num_rows},
        )

    def run(self, plan: ReconciliationPlan | None = None) -> ReconciliationPlan:
        """Reconcile, then publish load+replace targets and demote stale
        pointers (reference loader.py:44-49). Plan DataFrames are computed
        against the pre-mutation snapshot, mirroring the reference.
        Pass ``plan`` to publish a plan already reconciled (and staged)
        by the caller instead of recomputing it."""
        plan = plan or self.reconcile()
        self._publish(plan)
        self._demote(plan)
        return plan

    def _publish(self, plan: ReconciliationPlan) -> None:
        now = datetime.now(timezone.utc)
        targets = plan.load.unionByName(plan.replace)
        updates = targets.select(
            *LOGICAL_KEY,
            F.col("current_run_id").alias("run_id"),
            F.coalesce(F.col("schema_version"), F.lit("")).alias("schema_version"),
            F.lit(now).alias("loaded_at"),
        )
        # Skip the commit entirely when there is nothing to publish: a
        # pointer-table rewrite is cheap but not free, and no-op loads are
        # the common case in steady state.
        if not plan.sizes["load"] + plan.sizes["replace"]:
            return
        self._pointers.upsert(
            updates.select([f.name for f in POINTER_SCHEMA.fields])
        )

    def _demote(self, plan: ReconciliationPlan) -> None:
        if not plan.sizes["demote"]:
            return
        self._pointers.delete(plan.demote.select(*LOGICAL_KEY))
