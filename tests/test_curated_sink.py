"""Curated-zone staging + publish ordering tests (S11,
reference curated_sink.py:35-74, warehouse_semantics.md:18-43)."""

from __future__ import annotations

import os
from datetime import date

import pytest
from pyspark.sql import functions as F

from gads_etl_spark.pipeline import (
    PartitionKey,
    PointerStore,
    RawZone,
    StateStore,
    WarehouseLoader,
)
from gads_etl_spark.pipeline.consumer import read_published
from gads_etl_spark.pipeline.curated_sink import CuratedZone, materialize_plan
from gads_etl_spark.pipeline.raw_sink import SealedPartitionError
from gads_etl_spark.pipeline.validator import validate_partition

KEY = PartitionKey("google_ads", "123", "campaign_stats", date(2024, 1, 1))


@pytest.fixture
def zones(spark, tmp_path):
    return (
        RawZone(spark, str(tmp_path / "raw")),
        CuratedZone(spark, str(tmp_path / "curated")),
        StateStore(spark, str(tmp_path / "state")),
        PointerStore(spark, str(tmp_path / "ptr")),
    )


def _payload(spark, n=4):
    return spark.range(n).select(
        F.col("id").alias("campaign_id"), (F.col("id") * 3).alias("clicks"))


def test_stage_then_publish_then_read(spark, zones):
    raw, curated, states, pointers = zones
    raw.write_partition(_payload(spark), KEY, "run-a")
    validate_partition(raw, states, KEY, "run-a")

    loader = WarehouseLoader(states, pointers)
    plan = loader.reconcile()
    staged = materialize_plan(raw, curated, plan)
    assert staged == 1
    # Staged but not yet published → consumers see nothing.
    assert read_published(curated, pointers).count() == 0

    loader.run()
    visible = read_published(curated, pointers)
    assert visible.count() == 4
    # Columnar copy preserves values.
    assert visible.agg(F.sum("clicks")).collect()[0][0] == 18


def test_restage_is_idempotent_and_refuses_mutation(spark, zones):
    raw, curated, states, pointers = zones
    raw.write_partition(_payload(spark), KEY, "run-a")
    validate_partition(raw, states, KEY, "run-a")
    plan = WarehouseLoader(states, pointers).reconcile()

    assert materialize_plan(raw, curated, plan) == 1
    assert materialize_plan(raw, curated, plan) == 0  # rerun converges
    with pytest.raises(SealedPartitionError):
        curated.write_partition(_payload(spark), KEY, "run-a")


def test_partition_pruning_on_lake_reads(spark, zones):
    """A logical_date filter over the zone must become a PartitionFilter
    (directory pruning), not a post-scan row filter — at 100 TB this is
    the difference between touching one partition and listing them all."""
    raw, _, _, _ = zones
    for d in (1, 2, 3):
        raw.write_partition(_payload(spark),
                            PartitionKey("google_ads", "123", "campaign_stats",
                                         date(2024, 1, d)), "run-a")
    import io
    from contextlib import redirect_stdout

    df = raw.read_all().where(F.col("logical_date") == "2024-01-02")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "2024-01-02" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert df.count() == 4


def test_replace_stages_new_run_only(spark, zones):
    raw, curated, states, pointers = zones
    loader = WarehouseLoader(states, pointers)

    raw.write_partition(_payload(spark, 4), KEY, "run-a")
    validate_partition(raw, states, KEY, "run-a")
    materialize_plan(raw, curated, loader.reconcile())
    loader.run()

    raw.write_partition(_payload(spark, 2), KEY, "run-b")
    validate_partition(raw, states, KEY, "run-b")
    plan = loader.reconcile()
    assert materialize_plan(raw, curated, plan) == 1
    loader.run()

    visible = read_published(curated, pointers)
    assert visible.count() == 2  # only run-b, no mixed run_ids


def test_unsealed_raw_target_fails_staging(spark, zones):
    """A validated partition whose raw directory is not where the seal
    check looks (here: moved to the unescaped run_id directory older
    layouts used) fails staging loudly instead of staging and publishing
    0 rows."""
    raw, curated, states, pointers = zones
    run_id = "2024-01-01T00:00:00.000Z"
    raw.write_partition(_payload(spark), KEY, run_id)
    validate_partition(raw, states, KEY, run_id)
    path = raw.partition_path(KEY, run_id)
    os.rename(path, path.replace("%3A", ":"))

    loader = WarehouseLoader(states, pointers)
    with pytest.raises(FileNotFoundError, match="not sealed"):
        materialize_plan(raw, curated, loader.reconcile())
    assert curated.manifest().count() == 0
    assert read_published(curated, pointers).count() == 0


def test_dq_gate_blocks_staging(spark, zones):
    """Checks run per logical partition before anything is written: a
    violating partition stages NOTHING — no unsealed debris, absent from
    the curated zone entirely — while a clean one stages, and the error
    names the violation."""
    from gads_etl_spark.operators import dq

    raw, curated, states, pointers = zones
    bad_key = PartitionKey("google_ads", "456", "campaign_stats", date(2024, 1, 1))
    raw.write_partition(_payload(spark), KEY, "run-dq")
    raw.write_partition(spark.createDataFrame(
        [(1, 5), (None, 7)], "campaign_id long, clicks long"), bad_key, "run-dq")
    for k in (KEY, bad_key):
        validate_partition(raw, states, k, "run-dq")
    plan = WarehouseLoader(states, pointers).reconcile()
    checks = [dq.not_null("campaign_id"), dq.unique("campaign_id")]

    with pytest.raises(dq.DataQualityError, match=r"not_null\(campaign_id\): 1 violations"):
        materialize_plan(raw, curated, plan, checks=checks)
    assert not curated.is_sealed(bad_key, "run-dq")
    assert not os.path.exists(curated.partition_path(bad_key, "run-dq"))
    assert curated.manifest().count() == 1
    assert curated.is_sealed(KEY, "run-dq")
    assert curated.read_partition(KEY, "run-dq").count() == 4
