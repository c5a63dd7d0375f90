"""Daily runner E2E: config-driven extract → batch validate → publish."""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gads_etl_spark.pipeline import PartitionKey, PointerStore, RawZone, StateStore
from gads_etl_spark.pipeline.config import load_config
from gads_etl_spark.pipeline.consumer import read_published
from gads_etl_spark.pipeline.curated_sink import CuratedZone
from gads_etl_spark.pipeline.runner import run_daily

YAML = """
source: google_ads
customer_ids: "123, 456"
lookback_days_daily: 0
queries:
  - name: campaign_stats
    entity: campaign
    date_column: segments.date
    fields: [customer.id, campaign.id, segments.date, metrics.clicks]
"""

TARGET = date(2024, 1, 2)
DAYS = ("2023-12-31", "2024-01-01", "2024-01-02")


def _campaign_source(spark):
    """One shared source for every customer: 2 campaigns × 3 days each,
    clicks tagged by customer so a misplaced row is visible."""
    rows = [
        Row(customer=Row(id=cust), campaign=Row(id=c), segments=Row(date=d),
            metrics=Row(clicks=int(cust) * 100 + c))
        for cust in ("123", "456")
        for d in DAYS
        for c in (1, 2)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture
def env(spark, tmp_path):
    return dict(
        spark=spark,
        config=load_config(YAML),
        sources={"campaign": _campaign_source(spark)},
        raw=RawZone(spark, str(tmp_path / "raw")),
        states=StateStore(spark, str(tmp_path / "state")),
        pointers=PointerStore(spark, str(tmp_path / "ptr")),
        curated=CuratedZone(spark, str(tmp_path / "curated")),
    )


def _per_customer(df):
    return {
        r["customer_id"]: (r["n"], r["days"], sorted(r["clicks"]))
        for r in df.groupBy("customer_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("segments_date").alias("days"),
            F.collect_set("metrics_clicks").alias("clicks"),
        ).collect()
    }


def test_daily_run_end_to_end(env):
    report = run_daily(**env, target_date=TARGET)

    assert report.ok
    assert len(report.extracted) == 2  # 1 query × 2 customers
    assert report.validated_success == 2
    assert report.staged == 2
    assert report.published == {"load": 2, "replace": 0, "demote": 0}

    # Each customer partition holds exactly its own target-date rows.
    visible = read_published(env["curated"], env["pointers"])
    assert _per_customer(visible) == {
        "123": (2, 1, [12301, 12302]),
        "456": (2, 1, [45601, 45602]),
    }
    assert visible.select("segments_date").distinct().collect()[0][0] == "2024-01-02"
    sealed = {r["customer_id"]: r["record_count"] for r in env["raw"].manifest().collect()}
    assert sealed == {"123": 2, "456": 2}


def test_catch_up_window_reaches_the_filter(env):
    """``lookback_days=k`` extracts k+1 days into each partition."""
    report = run_daily(**env, target_date=TARGET, lookback_days=2)

    assert report.ok and report.published == {"load": 2, "replace": 0, "demote": 0}
    visible = read_published(env["curated"], env["pointers"])
    assert _per_customer(visible) == {
        "123": (6, 3, [12301, 12302]),
        "456": (6, 3, [45601, 45602]),
    }
    assert {r["logical_date"] for r in visible.select("logical_date").distinct().collect()} \
        == {TARGET}


def test_customer_id_field_is_the_partition_column(env):
    """A configured field flattening to ``customer_id`` (GAQL's
    ``customer.id``) is the partition column itself: no name collision,
    and reads return it with its string values."""
    report = run_daily(**env, target_date=TARGET)

    assert report.ok and report.staged == 2
    key = PartitionKey("google_ads", "456", "campaign_stats", TARGET)
    part = env["raw"].read_partition(key, report.run_id)
    assert dict(part.dtypes)["customer_id"] == "string"
    assert {r["customer_id"] for r in part.collect()} == {"456"}
    assert part.count() == 2
    visible = read_published(env["curated"], env["pointers"])
    assert _per_customer(visible)["123"] == (2, 1, [12301, 12302])


def test_customer_without_rows_publishes_an_empty_partition(env):
    """A planned customer with no rows in the window seals a 0-row
    partition that validates, stages and publishes."""
    config = load_config(YAML.replace('"123, 456"', '"123, 456, 789"'))
    report = run_daily(**{**env, "config": config}, target_date=TARGET)

    assert report.ok
    assert len(report.extracted) == 3
    assert report.validated_success == 3
    assert report.staged == 3
    assert report.published == {"load": 3, "replace": 0, "demote": 0}
    key = PartitionKey("google_ads", "789", "campaign_stats", TARGET)
    assert env["raw"].read_partition(key, report.run_id).count() == 0
    assert env["curated"].read_partition(key, report.run_id).count() == 0
    assert read_published(env["curated"], env["pointers"]).count() == 4


def test_rerun_same_day_replaces_with_new_run(env):
    first = run_daily(**env, target_date=TARGET, run_id="2024-01-02T01:00:00.000Z")
    second = run_daily(**env, target_date=TARGET, run_id="2024-01-02T02:00:00.000Z")

    assert first.ok and second.ok
    assert second.published == {"load": 0, "replace": 2, "demote": 0}
    ptr_runs = {r.run_id for r in env["pointers"].read().collect()}
    assert ptr_runs == {"2024-01-02T02:00:00.000Z"}
    visible = read_published(env["curated"], env["pointers"])
    assert visible.count() == 4
    assert {r.run_id for r in visible.select("run_id").distinct().collect()} \
        == {"2024-01-02T02:00:00.000Z"}


def test_missing_entity_is_partial_failure(env):
    env = dict(env)
    env["sources"] = {}  # connector down for every partition
    report = run_daily(**env, target_date=TARGET)
    assert not report.ok
    assert len(report.extract_errors) == 2
    assert report.published == {"load": 0, "replace": 0, "demote": 0}
