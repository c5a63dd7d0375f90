"""End-to-end pipeline: extract → seal → validate → load → consume.

The full reference lifecycle (SURVEY.md §3 E1-E3) on Spark primitives,
from a nested source to a consumer-visible result governed by pointers.
"""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gads_etl_spark.pipeline import (
    PartitionKey,
    PointerStore,
    RawZone,
    StateStore,
    WarehouseLoader,
)
from gads_etl_spark.pipeline.consumer import preview, read_published
from gads_etl_spark.pipeline.extract import QueryDefinition, extract_partition
from gads_etl_spark.pipeline.validator import validate_partition

QDEF = QueryDefinition(
    name="campaign_stats",
    entity="campaign",
    date_column="segments.date",
    fields=("customer.id", "campaign.id", "campaign.name", "segments.date",
            "metrics.clicks", "metrics.cost_micros"),
)


def _nested_source(spark):
    """Proto-shaped nested rows (reference pipeline.py:99-105 walks
    row.campaign.id attribute chains)."""
    rows = [
        Row(customer=Row(id="123"), campaign=Row(id=c, name=f"camp-{c}"),
            segments=Row(date=d),
            metrics=Row(clicks=c * 10 + i, cost_micros=c * 1000 + i))
        for i, d in enumerate(["2024-01-01", "2024-01-02"])
        for c in (1, 2, 3)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture
def stores(spark, tmp_path):
    return (
        RawZone(spark, str(tmp_path / "raw")),
        StateStore(spark, str(tmp_path / "state")),
        PointerStore(spark, str(tmp_path / "ptr")),
    )


def _key(d):
    return PartitionKey("google_ads", "123", "campaign_stats", d)


def _extract(source, raw, qdef, d, run_id):
    """One day's partition of customer 123."""
    (meta,) = extract_partition(source, raw, qdef, [_key(d)], run_id, d, d)
    return meta


def test_full_lifecycle(spark, stores):
    raw, states, pointers = stores
    source = _nested_source(spark)

    # E1: extract both days under one run, sealed metadata-last.
    for d in (date(2024, 1, 1), date(2024, 1, 2)):
        meta = _extract(source, raw, QDEF, d, "run-a")
        assert meta["record_count"] == 3

    # Flattened payload: dot-paths became snake_case + provenance column,
    # plus the partition's layout columns.
    payload = raw.read_partition(_key(date(2024, 1, 1)), "run-a")
    assert set(payload.columns) == {
        "campaign_id", "campaign_name", "segments_date",
        "metrics_clicks", "metrics_cost_micros", "__query_name",
        "source", "customer_id", "query_name", "logical_date", "run_id",
    }
    assert payload.select("__query_name").distinct().collect()[0][0] == "campaign_stats"

    # Validate (A9 + M3) → state success.
    for d in (date(2024, 1, 1), date(2024, 1, 2)):
        row = validate_partition(raw, states, _key(d), "run-a")
        assert row["status"] == "success"

    # E2: reconcile + publish pointers.
    plan = WarehouseLoader(states, pointers).run()
    assert plan.counts() == {"load": 2, "replace": 0, "demote": 0}

    # E3: consumer sees exactly the published rows.
    visible = read_published(raw, pointers)
    assert visible.count() == 6
    assert visible.agg(F.sum("metrics_clicks")).collect()[0][0] == sum(
        c * 10 + i for i in (0, 1) for c in (1, 2, 3)
    )

    # Preview: head-N per published partition (O6).
    p = preview(raw, pointers, sample_rows=2, order_col="campaign_id")
    assert p.count() == 4  # 2 rows × 2 partitions
    assert {r.campaign_id for r in p.collect()} == {1, 2}


def test_superseding_run_replaces_and_old_rows_invisible(spark, stores):
    raw, states, pointers = stores
    source = _nested_source(spark)
    k = _key(date(2024, 1, 1))

    _extract(source, raw, QDEF, k.logical_date, "run-a")
    validate_partition(raw, states, k, "run-a")
    WarehouseLoader(states, pointers).run()

    # Second attempt with fewer rows (source drift) under a newer run.
    smaller = source.where(F.col("campaign.id") < 3)
    _extract(smaller, raw, QDEF, k.logical_date, "run-b")
    validate_partition(raw, states, k, "run-b")
    plan = WarehouseLoader(states, pointers).run()
    assert plan.counts() == {"load": 0, "replace": 1, "demote": 0}

    visible = read_published(raw, pointers)
    # Only run-b rows (2), never a mix of run_ids (warehouse_semantics:39-43)
    assert visible.count() == 2
    assert visible.select("campaign_id").distinct().count() == 2


def test_read_published_ignores_malformed_superseded_payload(spark, stores):
    raw, states, pointers = stores
    source = _nested_source(spark)
    k = _key(date(2024, 1, 1))
    _extract(source, raw, QDEF, k.logical_date, "run-a")
    with open(raw.partition_path(k, "run-a") + "/part-bad.json", "w") as fh:
        fh.write("{not json\n")
    _extract(source, raw, QDEF, k.logical_date, "run-b")
    validate_partition(raw, states, k, "run-b")
    WarehouseLoader(states, pointers).run()

    visible = read_published(raw, pointers)
    assert visible.count() == 3
    assert {r.run_id for r in visible.select("run_id").collect()} == {"run-b"}
    assert preview(raw, pointers, sample_rows=1).count() == 1


def test_missing_config_field_fails_fast(spark, stores):
    raw, _, _ = stores
    bad = QueryDefinition("q", "campaign", "segments.date",
                          ("customer.id", "campaign.id", "campaign.nonexistent"))
    with pytest.raises(Exception) as exc:
        _extract(_nested_source(spark), raw, bad, date(2024, 1, 1), "run-x")
    assert "nonexistent" in str(exc.value)
