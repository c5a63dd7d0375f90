"""Logical partition key — the unit of idempotency, retry and visibility.

Reference: docs/state_store_contract.md:6-14 — every raw/curated partition,
state row and warehouse pointer is keyed by
``(source, customer_id, query_name, logical_date)``; ``run_id`` fences
individual attempts (reference src/gads_etl/run_context.py:8-26).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date, datetime, timezone

LOGICAL_KEY = ("source", "customer_id", "query_name", "logical_date")
#: The hive directory levels of a raw/curated partition, outermost first.
LAYOUT = (*LOGICAL_KEY, "run_id")

#: What Spark's ``ExternalCatalogUtils.escapePathName`` escapes.
_ESCAPED = frozenset([chr(c) for c in range(1, 0x20)] + list("\"#%'*/:=?\\\x7f{[]^"))


def escape_path_name(value: str) -> str:
    """Escape a partition value as Spark's ``partitionBy`` writer does (a
    run_id's ``:`` becomes ``%3A``); discovery reads the value back."""
    return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in value)


@dataclass(frozen=True)
class PartitionKey:
    source: str
    customer_id: str
    query_name: str
    logical_date: date

    @classmethod
    def of(cls, row) -> "PartitionKey":
        """The key of any row or dict carrying the four key columns."""
        return cls(row["source"], row["customer_id"], row["query_name"],
                   row["logical_date"])

    def as_dict(self) -> dict:
        return {
            "source": self.source,
            "customer_id": self.customer_id,
            "query_name": self.query_name,
            "logical_date": self.logical_date,
        }

    def relative_path(self) -> str:
        """Hive-style directory path (reference docs/raw_sink_contract.md:15-27),
        values escaped like Spark's own partitioned writes."""
        values = (self.source, self.customer_id, self.query_name,
                  self.logical_date.isoformat())
        return "/".join(f"{k}={escape_path_name(v)}" for k, v in zip(LOGICAL_KEY, values))


def new_run_id(now: datetime | None = None) -> str:
    """ISO-8601 UTC millisecond run_id; lexicographic order == time order.

    Reference: src/gads_etl/run_context.py:8-14 (ms precision, ``Z`` suffix,
    compared lexicographically by the validator at validator.py:118-121).
    """
    now = now or datetime.now(timezone.utc)
    return now.strftime("%Y-%m-%dT%H:%M:%S.") + f"{now.microsecond // 1000:03d}Z"
