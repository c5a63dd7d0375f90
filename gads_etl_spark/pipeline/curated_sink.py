"""Curated zone: staged columnar copies published by pointer swap.

Contract parity (reference src/gads_etl/warehouse/curated_sink.py:35-74,
docs/warehouse_semantics.md:18-25):

- Staging writes curated data under ``(logical key, run_id)`` exactly like
  the raw zone (same seal contract, re-finalize refused) — but columnar
  parquet, because the curated zone is the analytics read path.
- Staging is invisible: consumers resolve through pointers, and the
  pointer swap happens only after the staged partition is sealed
  (stage → swap → read, never a mixed run_id — warehouse_semantics:39-43).

``materialize_plan`` is the data half of warehouse loading the reference
leaves as a placeholder (loader.py:33): copy every load/replace target
raw → curated before ``WarehouseLoader`` publishes its pointers.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gads_etl_spark.pipeline.keys import LAYOUT, PartitionKey
from gads_etl_spark.pipeline.raw_sink import RawZone


class CuratedZone(RawZone):
    """A RawZone fixed to parquet — identical seal/immutability contract,
    columnar storage (the raw zone is row-shaped JSONL like the
    reference; curated is the columnar analytics copy)."""

    def __init__(self, spark, root: str):
        super().__init__(spark, root, data_format="parquet")


def materialize_plan(raw: RawZone, curated: CuratedZone, plan,
                     checks: list | None = None) -> int:
    """Copy every load/replace target raw → curated; returns the number
    of partitions staged. Already-staged (key, run_id) partitions are
    skipped, so reruns converge. One query at a time (payload schemas
    differ), all its targets together: one read, one ``partitionBy``
    parquet write, one count, one ``seal_many``.

    ``checks`` (operators/dq.py constraints) gate the PAYLOAD the way
    count validation gates the ledger: evaluated per logical partition in
    one aggregate before anything is written. A violating partition
    stages nothing (no debris, no pointer ever observes it), the clean
    ones stage, then ``DataQualityError`` names every violation.

    Every target must be a sealed raw partition: one that is missing or
    unsealed (unsealed ⇒ invisible) raises ``FileNotFoundError`` before
    anything is staged, so it is never published as an empty partition.
    """
    by_query: dict[str, dict] = {}
    for t in plan.load.unionByName(plan.replace).collect():
        key, run_id = PartitionKey.of(t), t["current_run_id"]
        if not curated.is_sealed(key, run_id):
            if not raw.is_sealed(key, run_id):
                raise FileNotFoundError(
                    f"raw partition {key} run_id={run_id} is not sealed; nothing to stage")
            by_query.setdefault(key.query_name, {})[key, run_id] = t["schema_version"] or "v1"
    staged, violations = 0, []
    for group in by_query.values():
        df = raw.read_partitions(group)
        if checks:
            from gads_etl_spark.operators import dq

            bad = (dq.run_checks_by(df, checks, list(LAYOUT))
                   .where(F.col("n_violations") > 0).collect())
            violations += [f"{PartitionKey.of(r)} run_id={r['run_id']}: {r['check']}: "
                           f"{r['n_violations']} violations" for r in bad]
            for r in bad:
                group.pop((PartitionKey.of(r), r["run_id"]), None)
            if bad:
                df = raw.read_partitions(group)
        if group:
            staged += len(curated.write_partitions(df, [
                {**key.as_dict(), "run_id": run_id, "schema_version": version}
                for (key, run_id), version in group.items()
            ]))
    if violations:
        raise dq.DataQualityError("; ".join(violations))
    return staged
