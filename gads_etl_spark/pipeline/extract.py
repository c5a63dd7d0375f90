"""Extraction job: config-driven nested flatten + provenance + raw write.

Contract parity (reference src/gads_etl/pipeline.py):

- P1 nested-path projection (pipeline.py:99-105): config lists dot-paths
  (``campaign.id``); each flattens to snake_case (``campaign_id``). A
  missing path fails the job (AnalysisException ↔ the reference's
  AttributeError crash, spec.md:42 — schema drift is fail-fast).
- S2 pushdown (pipeline.py:92-97): the filters are
  ``date_column BETWEEN window_start AND window_end`` and
  ``customer IN (planned customers)`` plus the projection — all reach the
  source scan via Catalyst (PushedFilters / ReadSchema), exactly what the
  reference pushes into GAQL.
- P2 provenance (pipeline.py:106): ``__query_name`` literal on every row.

The reference (pipeline.py:38-78) writes one partition per API call; here
one call extracts every planned customer of a (query, window) in ONE pass:
one ``partitionBy`` write over the five layout columns, row counts from
one re-read of the written directories, one ``seal_many``.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gads_etl_spark.pipeline.keys import PartitionKey
from gads_etl_spark.pipeline.raw_sink import RawZone


@dataclass(frozen=True)
class QueryDefinition:
    """Declarative query spec (reference config.py:16-20 / YAML)."""

    name: str
    entity: str
    date_column: str
    fields: tuple[str, ...]

    def flat_name(self, field: str) -> str:
        return field.replace(".", "_")

    @property
    def customer_path(self) -> str:
        """The source path raw partitions are keyed by: the configured
        field that flattens to ``customer_id`` (GAQL's ``customer.id``),
        else the source's own ``customer_id`` column."""
        for f in self.fields:
            if self.flat_name(f) == "customer_id":
                return f
        return "customer_id"


def extract_partition(
    source: DataFrame,
    raw: RawZone,
    qdef: QueryDefinition,
    keys: list[PartitionKey],
    run_id: str,
    window_start: date,
    window_end: date,
    schema_version: str = "v1",
) -> list[dict]:
    """Extract the partitions ``keys`` (one query, one logical date, any
    number of customers) from the ``[window_start, window_end]`` window in
    one pass; returns their manifest rows. A planned customer without
    rows in the window gets a sealed empty partition.

    The customer column becomes the ``customer_id`` partition column
    (its string form), so every partition holds only its customer's rows.
    """
    ((source_name, query_name, logical_date),) = {
        (k.source, k.query_name, k.logical_date) for k in keys}
    customer = F.col(qdef.customer_path).cast("string")
    layout = {
        "source": F.lit(source_name), "customer_id": customer,
        "query_name": F.lit(query_name), "logical_date": F.lit(logical_date.isoformat()),
        "run_id": F.lit(run_id),
    }
    payload = [F.col(f).alias(qdef.flat_name(f)) for f in qdef.fields
               if qdef.flat_name(f) != "customer_id"]
    rows = (
        source
        .where(F.col(qdef.date_column).between(F.lit(window_start), F.lit(window_end))
               & customer.isin(sorted({k.customer_id for k in keys})))
        .select(*payload, F.lit(qdef.name).alias("__query_name"),
                *[c.alias(n) for n, c in layout.items()])
    )
    signature = f"SELECT {', '.join(qdef.fields)} FROM {qdef.entity}"
    return raw.write_partitions(rows, [
        {**k.as_dict(), "run_id": run_id, "schema_version": schema_version,
         "query_signature": signature}
        for k in keys
    ])
