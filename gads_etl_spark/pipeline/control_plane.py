"""Control plane: retry, mark-terminal, backfill — with safety rails.

Contract parity (reference src/gads_etl/cli.py and docs/control_plane.md):

- retry (M5, cli.py:138-232): failed → pending; ``[terminal]`` errors are
  blocked unless ``clear_terminal``; preserves run_id/record_count/attempts.
- mark-terminal (M6, cli.py:493-577): prepend ``[terminal] `` to
  error_message, idempotent (cli.py:667-674); status stays failed.
- backfill enqueue (M7, cli.py:580-664): insert pending rows over a date
  range; existing rows are skipped unless ``force_pending``.
- Safety rails (§2.8): ``dry_run`` plans without mutating; unfiltered mass
  mutation refused without ``force`` (cli.py:169-171,523-525); batches over
  the confirmation thresholds (20 partitions / 100 dates, cli.py:36-37)
  refused without ``force``.

The reference loops one upsert per row; every operation here is one
DataFrame transform + ONE ledger MERGE, whatever the batch size.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gads_etl_spark.pipeline.state_store import STATE_SCHEMA, StateStore

RETRY_THRESHOLD = 20
BACKFILL_THRESHOLD = 100
TERMINAL_MARKER = "[terminal]"
DEFAULT_SOURCE = "google_ads"


class UnfilteredMutationError(RuntimeError):
    """Mass mutation without filters requires force (cli.py:169-171)."""


class ThresholdExceededError(RuntimeError):
    """Batch larger than the confirmation threshold requires force."""


@dataclass(frozen=True)
class PlanResult:
    """What a control-plane operation did (or would do, under dry_run)."""

    eligible: int
    skipped: int
    executed: bool

    def as_dict(self) -> dict:
        return {"eligible": self.eligible, "skipped": self.skipped,
                "executed": self.executed}


def terminal_message(error: F.Column) -> F.Column:
    """Idempotent ``[terminal]`` prepend (reference cli.py:667-674)."""
    base = F.coalesce(error, F.lit(""))
    return (
        F.when(base.contains(TERMINAL_MARKER), error)
        .when(base != "", F.concat(F.lit(TERMINAL_MARKER + " "), error))
        .otherwise(F.lit(TERMINAL_MARKER))
    )


class ControlPlane:
    def __init__(self, states: StateStore):
        self._states = states

    # -- shared filter plumbing (P3/P4, state_store.py:84-100) ------------

    def _failed_selection(self, customer_id, query_name, since, until, force) -> DataFrame:
        if all(v is None for v in (customer_id, query_name, since, until)) and not force:
            raise UnfilteredMutationError(
                "refusing to mutate every failed partition without force; "
                "provide filters or pass force=True"
            )
        df = self._states.read().where(F.col("status") == "failed")
        if customer_id is not None:
            df = df.where(F.col("customer_id") == customer_id)
        if query_name is not None:
            df = df.where(F.col("query_name") == query_name)
        if since is not None:
            df = df.where(F.col("logical_date") >= F.lit(since))
        if until is not None:
            df = df.where(F.col("logical_date") <= F.lit(until))
        return df

    @staticmethod
    def _guard_threshold(n: int, threshold: int, force: bool, what: str) -> None:
        if n > threshold and not force:
            raise ThresholdExceededError(
                f"{what} would touch {n} partitions (> {threshold}); pass force=True"
            )

    # -- M5: retry --------------------------------------------------------

    def retry(
        self,
        customer_id: str | None = None,
        query_name: str | None = None,
        since: date | None = None,
        until: date | None = None,
        dry_run: bool = False,
        force: bool = False,
        clear_terminal: bool = False,
    ) -> PlanResult:
        """Requeue failed partitions as pending. Terminal partitions are
        blocked unless ``clear_terminal`` (which also clears the message).
        Authority fields and attempt_count are preserved (cli.py:206-219).
        """
        failed = self._failed_selection(customer_id, query_name, since, until, force)
        is_terminal = F.coalesce(F.col("error_message"), F.lit("")).contains(TERMINAL_MARKER)
        eligible = failed if clear_terminal else failed.where(~is_terminal)
        blocked = 0 if clear_terminal else failed.where(is_terminal).count()
        n = eligible.count()
        self._guard_threshold(n, RETRY_THRESHOLD, force, "retry")
        if not dry_run and n:
            updates = eligible.select(
                *[f.name for f in STATE_SCHEMA.fields if f.name not in
                  ("status", "updated_at", "error_message")],
                F.lit("pending").alias("status"),
                F.lit(datetime.now(timezone.utc)).alias("updated_at"),
                (F.lit(None).cast("string") if clear_terminal
                 else F.col("error_message")).alias("error_message"),
            )
            self._states.upsert(updates)
        return PlanResult(eligible=n, skipped=blocked, executed=not dry_run and n > 0)

    # -- M6: mark-terminal ------------------------------------------------

    def mark_terminal(
        self,
        customer_id: str | None = None,
        query_name: str | None = None,
        since: date | None = None,
        until: date | None = None,
        dry_run: bool = False,
        force: bool = False,
    ) -> PlanResult:
        """Mark failed partitions terminal (no automatic retries). Already-
        terminal rows are skipped; the transform itself is idempotent."""
        failed = self._failed_selection(customer_id, query_name, since, until, force)
        is_terminal = F.coalesce(F.col("error_message"), F.lit("")).contains(TERMINAL_MARKER)
        candidates = failed.where(~is_terminal)
        already = failed.where(is_terminal).count()
        n = candidates.count()
        self._guard_threshold(n, RETRY_THRESHOLD, force, "mark-terminal")
        if not dry_run and n:
            updates = candidates.select(
                *[f.name for f in STATE_SCHEMA.fields if f.name not in
                  ("updated_at", "error_message")],
                F.lit(datetime.now(timezone.utc)).alias("updated_at"),
                terminal_message(F.col("error_message")).alias("error_message"),
            )
            self._states.upsert(updates)
        return PlanResult(eligible=n, skipped=already, executed=not dry_run and n > 0)

    # -- M7: backfill enqueue ---------------------------------------------

    def backfill(
        self,
        customer_id: str,
        query_name: str,
        since: date,
        until: date,
        dry_run: bool = False,
        force_pending: bool = False,
        force: bool = False,
        source: str = DEFAULT_SOURCE,
    ) -> PlanResult:
        """Enqueue a date range as pending: calendar ``sequence`` +
        anti-join against existing rows (or all rows with force_pending,
        which re-pends existing partitions preserving their run_id/
        attempts — reference cli.py:620-655)."""
        if since > until:
            raise ValueError("since must be <= until")
        spark = self._states.spark
        n_dates = (until - since).days + 1
        self._guard_threshold(n_dates, BACKFILL_THRESHOLD, force, "backfill")

        calendar = spark.range(1).select(
            F.explode(F.sequence(F.lit(since), F.lit(until), F.expr("INTERVAL 1 DAY")))
            .alias("logical_date")
        ).select(
            F.lit(source).alias("source"),
            F.lit(customer_id).alias("customer_id"),
            F.lit(query_name).alias("query_name"),
            "logical_date",
        )
        existing = self._states.read().where(
            (F.col("source") == source)
            & (F.col("customer_id") == customer_id)
            & (F.col("query_name") == query_name)
            & F.col("logical_date").between(F.lit(since), F.lit(until))
        )
        key_cols = ["source", "customer_id", "query_name", "logical_date"]
        if force_pending:
            # Existing rows re-pend keeping run_id/schema/count/attempts.
            targets = calendar.join(
                existing.select(*key_cols, "current_run_id", "schema_version",
                                "record_count", "attempt_count"),
                key_cols, "left",
            )
            skipped = 0
        else:
            targets = calendar.join(existing.select(*key_cols), key_cols, "left_anti") \
                .select(*key_cols,
                        F.lit(None).cast("string").alias("current_run_id"),
                        F.lit(None).cast("string").alias("schema_version"),
                        F.lit(None).cast("long").alias("record_count"),
                        F.lit(None).cast("int").alias("attempt_count"))
            skipped = existing.count()
        updates = targets.select(
            *key_cols,
            F.lit("pending").alias("status"),
            "current_run_id", "schema_version", "record_count",
            F.lit(datetime.now(timezone.utc)).alias("updated_at"),
            F.lit(None).cast("string").alias("error_message"),
            F.coalesce(F.col("attempt_count"), F.lit(0)).alias("attempt_count"),
        )
        n = updates.count()
        if not dry_run and n:
            self._states.upsert(updates)
        return PlanResult(eligible=n, skipped=skipped, executed=not dry_run and n > 0)
