"""Daily pipeline runner: the reference's `gads-etl daily` end to end.

Orchestrates (reference src/gads_etl/pipeline.py:138-185, cli.py:40-45):

1. one ``run_id`` per execution (fences every write),
2. the planned (query × customer) extractions for the target date
   (``plan_daily_runs``), grouped by (query, window): ONE
   ``extract_partition`` pass per group writes every customer's partition
   (the reference calls the API once per customer and date),
3. ONE batch validation job for all extracted partitions (the reference
   validates per-partition; see validator.py scale notes),
4. ONE warehouse reconciliation, whose plan drives staging of the curated
   copies, the pointer publish and the reported counts.

Per-run failures are contained per partition (partial-failure
accounting, docs/control_plane.md:39-43): an extraction error marks the
partitions of that (query, window) group failed in the run report and
the rest proceed.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date

from pyspark.sql import DataFrame, SparkSession

from gads_etl_spark.pipeline.config import PipelineConfig, plan_daily_runs
from gads_etl_spark.pipeline.curated_sink import CuratedZone, materialize_plan
from gads_etl_spark.pipeline.extract import extract_partition
from gads_etl_spark.pipeline.frames import local_frame
from gads_etl_spark.pipeline.keys import PartitionKey, new_run_id
from gads_etl_spark.pipeline.loader import WarehouseLoader
from gads_etl_spark.pipeline.pointer_store import PointerStore
from gads_etl_spark.pipeline.raw_sink import RawZone
from gads_etl_spark.pipeline.state_store import StateStore
from gads_etl_spark.pipeline.validator import REQUEST_SCHEMA, validate_batch


@dataclass
class RunReport:
    run_id: str
    extracted: list[PartitionKey] = field(default_factory=list)
    extract_errors: dict[PartitionKey, str] = field(default_factory=dict)
    validated_success: int = 0
    validated_failed: int = 0
    staged: int = 0
    published: dict[str, int] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.extract_errors and self.validated_failed == 0


def run_daily(
    spark: SparkSession,
    config: PipelineConfig,
    sources: dict[str, DataFrame],
    raw: RawZone,
    states: StateStore,
    pointers: PointerStore,
    target_date: date,
    curated: CuratedZone | None = None,
    run_id: str | None = None,
    dq_checks: list | None = None,
    lookback_days: int | None = None,
) -> RunReport:
    """One daily sync: extract (one pass per query and window) → validate
    (one batch) → reconcile once → stage → publish.

    ``sources`` maps query entity → source DataFrame (the fixture stand-in
    for the live connector; a real deployment plugs a DataSource here).
    ``dq_checks`` (operators/dq.py constraints) gate each curated staging
    copy — a violating partition stages nothing and fails the run loudly.
    ``lookback_days`` overrides the config's daily lookback — the
    reference's catch-up mode is exactly a daily sync with the lookback
    widened to the catch-up window (pipeline.py:179-185), so
    ``run_daily(..., lookback_days=window)`` IS historical_catch_up: each
    target-date partition holds the rows of ``[target − lookback,
    target]``.
    """
    report = RunReport(run_id=run_id or new_run_id())
    groups: dict[tuple, list[PartitionKey]] = {}
    for r in plan_daily_runs(config, target_date, lookback_days=lookback_days):
        groups.setdefault((r.query_name, r.window_start, r.window_end), []).append(
            PartitionKey(config.source, r.customer_id, r.query_name, r.logical_date))

    for (query_name, start, end), keys in groups.items():
        qdef = config.query(query_name)
        try:
            extract_partition(sources[qdef.entity], raw, qdef, keys, report.run_id,
                              start, end)
            report.extracted.extend(keys)
        except Exception as exc:  # partial-failure accounting per group
            report.extract_errors.update(dict.fromkeys(keys, str(exc)))

    if report.extracted:
        requests = local_frame(
            spark, [{**k.as_dict(), "run_id": report.run_id, "schema_version": "v1"}
                    for k in report.extracted], REQUEST_SCHEMA)
        statuses = [r["status"] for r in validate_batch(raw, states, requests).collect()]
        report.validated_success = statuses.count("success")
        report.validated_failed = statuses.count("failed")

    loader = WarehouseLoader(states, pointers)
    plan = loader.reconcile()
    if curated is not None:
        report.staged = materialize_plan(raw, curated, plan, checks=dq_checks)
    loader.run(plan)
    report.published = plan.counts()
    return report
