"""Set-based extraction: all customers of a (query, window) in one
partitionBy job, in the same directory layout as single-partition writes."""

from __future__ import annotations

import os
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
from gads_etl_spark.pipeline.consumer import read_published
from gads_etl_spark.pipeline.extract import QueryDefinition, extract_partition
from gads_etl_spark.pipeline.keys import escape_path_name, new_run_id
from gads_etl_spark.pipeline.validator import validate_batch

QDEF = QueryDefinition(
    name="campaign_stats", entity="campaign", date_column="segments.date",
    fields=("customer.id", "campaign.id", "segments.date", "metrics.clicks"),
)

DAY = date(2024, 1, 5)
N_CUSTOMERS = 40


def _source(spark):
    rows = [
        Row(customer=Row(id=c), campaign=Row(id=c * 100 + i),
            segments=Row(date=DAY.isoformat()),
            metrics=Row(clicks=i))
        for c in range(N_CUSTOMERS) for i in range(3)
    ]
    return spark.createDataFrame(rows)


def _keys(n=N_CUSTOMERS):
    return [PartitionKey("google_ads", str(c), "campaign_stats", DAY) for c in range(n)]


def test_bulk_extract_validate_publish(spark, tmp_path):
    raw = RawZone(spark, str(tmp_path / "raw"))
    states = StateStore(spark, str(tmp_path / "state"))
    pointers = PointerStore(spark, str(tmp_path / "ptr"))

    metas = extract_partition(_source(spark), raw, QDEF, _keys(), "run-a", DAY, DAY)
    assert len(metas) == N_CUSTOMERS
    assert all(m["record_count"] == 3 for m in metas)

    # Every partition is sealed, individually readable, and holds only
    # its own customer's rows.
    key = PartitionKey("google_ads", "7", "campaign_stats", DAY)
    assert raw.is_sealed(key, "run-a")
    part = raw.read_partition(key, "run-a")
    assert part.count() == 3
    assert set(part.columns) >= {"campaign_id", "metrics_clicks", "__query_name"}
    assert {r["customer_id"] for r in part.collect()} == {"7"}

    requests = spark.createDataFrame([
        {"source": m["source"], "customer_id": m["customer_id"],
         "query_name": m["query_name"], "logical_date": m["logical_date"],
         "run_id": m["run_id"], "schema_version": m["schema_version"]}
        for m in metas
    ])
    outcome = validate_batch(raw, states, requests)
    assert outcome.where(F.col("status") == "success").count() == N_CUSTOMERS

    plan = WarehouseLoader(states, pointers).run()
    assert plan.counts()["load"] == N_CUSTOMERS
    assert read_published(raw, pointers).count() == N_CUSTOMERS * 3


def test_bulk_rerun_blocked_by_seal(spark, tmp_path):
    raw = RawZone(spark, str(tmp_path / "raw"))
    extract_partition(_source(spark), raw, QDEF, _keys(), "run-a", DAY, DAY)
    from gads_etl_spark.pipeline.raw_sink import SealedPartitionError

    with pytest.raises(SealedPartitionError):
        extract_partition(_source(spark), raw, QDEF, _keys(), "run-a", DAY, DAY)


def test_real_run_id_layout_is_shared_by_both_writers(spark, tmp_path):
    """A real run_id carries ``:``, which Spark's partitionBy escapes as
    ``%3A``: the batch writer and the single-partition writer must both
    land in that directory, where the seal check and reads look."""
    raw = RawZone(spark, str(tmp_path / "raw"))
    run_id = new_run_id()
    assert ":" in run_id
    metas = extract_partition(_source(spark), raw, QDEF, _keys(2), run_id, DAY, DAY)
    assert [m["record_count"] for m in metas] == [3, 3]

    single = PartitionKey("google_ads", "single", "campaign_stats", DAY)
    raw.write_partition(spark.range(4).withColumnRenamed("id", "campaign_id"),
                        single, run_id)

    for key, n in ((_keys(2)[1], 3), (single, 4)):
        path = raw.partition_path(key, run_id)
        assert path.endswith("run_id=" + run_id.replace(":", "%3A"))
        assert raw.is_sealed(key, run_id)
        part = raw.read_partition(key, run_id)
        assert part.count() == n
        assert {r["run_id"] for r in part.select("run_id").collect()} == {run_id}
    on_disk = os.listdir(str(tmp_path / "raw" / "source=google_ads" / "customer_id=1"
                             / "query_name=campaign_stats" / f"logical_date={DAY}"))
    assert on_disk == ["run_id=" + escape_path_name(run_id)]


def test_escaping_matches_spark(spark):
    jvm_escape = spark._jvm.org.apache.spark.sql.catalyst.catalog \
        .ExternalCatalogUtils.escapePathName
    probe = "".join(chr(c) for c in range(1, 128)) + "é"
    assert escape_path_name(probe) == jvm_escape(probe)
