"""Control-plane frames built from driver rows (pipeline/frames.py).

Pins the mechanism: driver-held control rows and the empty control tables
plan as a ``LocalTableScan``, never an RDD of pickled rows whose every
action starts Python workers; the values round-trip as the row path
stored them; and every control-plane timestamp is the right instant on a
host whose local zone is not UTC.
"""

from __future__ import annotations

import time
from datetime import date, datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from gads_etl_spark.pipeline import (
    ControlPlane,
    PartitionKey,
    PointerStore,
    RawZone,
    StateStore,
    WarehouseLoader,
)
from gads_etl_spark.pipeline.frames import local_frame
from gads_etl_spark.pipeline.raw_sink import MANIFEST_SCHEMA
from gads_etl_spark.pipeline.state_store import STATE_SCHEMA
from gads_etl_spark.pipeline.validator import (
    REQUEST_SCHEMA,
    validate_batch,
    validate_partition,
)

KEY = PartitionKey("google_ads", "0123", "campaign_stats", date(2024, 1, 1))


def _assert_local(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan


@pytest.fixture
def stores(spark, tmp_path):
    return (RawZone(spark, str(tmp_path / "raw")),
            StateStore(spark, str(tmp_path / "state")),
            PointerStore(spark, str(tmp_path / "ptr")))


def _manifest_row(run_id, count, **extra):
    return {**KEY.as_dict(), "run_id": run_id, "schema_version": "v1",
            "extracted_at": datetime(2024, 1, 2, 3, 4, 5, 678000, tzinfo=timezone.utc),
            "record_count": count, **extra}


class TestPlanShape:
    def test_helper_plans_as_local_table_scan(self, spark):
        _assert_local(local_frame(spark, [_manifest_row("r1", 2)], MANIFEST_SCHEMA))
        _assert_local(local_frame(spark, [], MANIFEST_SCHEMA))

    def test_empty_control_tables_are_local(self, stores):
        raw, states, pointers = stores
        for df in (raw.manifest(), states.read(), pointers.read(),
                   raw.read_partitions([])):
            _assert_local(df)
            assert df.count() == 0
        assert raw.manifest().schema == MANIFEST_SCHEMA
        assert states.read().schema == STATE_SCHEMA

    def test_validator_outcome_is_local(self, spark, stores):
        raw, states, _ = stores
        raw.write_partition(spark.range(3).withColumnRenamed("id", "x"), KEY, "run-a")
        req = local_frame(spark, [{**KEY.as_dict(), "run_id": "run-a",
                                   "schema_version": "v1"}], REQUEST_SCHEMA)
        _assert_local(validate_batch(raw, states, req))

    def test_null_in_required_field_refused(self, spark):
        with pytest.raises(ValueError, match="run_id"):
            local_frame(spark, [_manifest_row(None, 1)], MANIFEST_SCHEMA)


class TestRoundTrip:
    def test_seal_rows_match_row_path(self, spark, stores):
        raw, _, _ = stores
        rows = [_manifest_row("r1", 2**40, api_version="v17"),
                _manifest_row("r2", 0, query_signature="sig")]
        raw.seal_many(rows)
        stored = sorted(raw.manifest().collect())
        assert stored == sorted(spark.createDataFrame(rows, MANIFEST_SCHEMA).collect())
        assert stored[0]["logical_date"] == date(2024, 1, 1)
        assert stored[0]["record_count"] == 2**40
        assert stored[1]["api_version"] is None
        assert raw.manifest().select(F.col("extracted_at").cast("string")).first()[0] \
            == "2024-01-02 03:04:05.678"

    def test_validator_outcomes(self, spark, stores):
        raw, states, _ = stores
        raw.write_partition(spark.range(4).withColumnRenamed("id", "x"), KEY, "run-a")
        other = PartitionKey(KEY.source, KEY.customer_id, KEY.query_name, date(2024, 1, 2))
        raw.seal(_manifest_row("run-b", 7, logical_date=other.logical_date))
        ok = validate_partition(raw, states, KEY, "run-a")
        bad = validate_partition(raw, states, other, "run-b")
        assert ok["status"] == "success" and ok["error_message"] is None
        assert ok["record_count"] == 4
        assert ok["logical_date"] == date(2024, 1, 1) and ok["attempt_count"] == 1
        assert bad["status"] == "failed" and bad["current_run_id"] is None
        assert bad["error_message"] == "record_count mismatch: payload=0 metadata=7"
        ledger = {r["logical_date"]: r.asDict() for r in states.read().collect()}
        assert ledger[KEY.logical_date] == ok and ledger[other.logical_date] == bad


class TestMerge:
    def test_one_key_merge_writes_one_file(self, spark, stores, tmp_path):
        """A MERGE reads its batch once and writes one task per touched
        bucket: a one-key upsert adds one parquet file, and every other
        bucket is carried over by reference."""
        _, states, _ = stores
        rows = [{**KEY.as_dict(), "customer_id": str(c), "status": "pending",
                 "updated_at": datetime(2024, 1, 1, tzinfo=timezone.utc)} for c in range(40)]
        states.upsert(local_frame(spark, rows, STATE_SCHEMA))
        before = states._table._current_manifest()["buckets"]
        files = set((tmp_path / "state").rglob("*.parquet"))
        states.upsert(states.read().where(F.col("customer_id") == "7")
                      .withColumn("status", F.lit("success")))
        after = states._table._current_manifest()["buckets"]
        assert len(set((tmp_path / "state").rglob("*.parquet")) - files) == 1
        assert sum(before[b] != after[b] for b in before) == 1
        got = {r["customer_id"]: r["status"] for r in states.read().collect()}
        assert got["7"] == "success" and len(got) == 40
        assert sum(s == "pending" for s in got.values()) == 39

    def test_bad_status_refused_before_writing(self, spark, stores, tmp_path):
        _, states, _ = stores
        row = {**KEY.as_dict(), "status": "done",
               "updated_at": datetime(2024, 1, 1, tzinfo=timezone.utc)}
        with pytest.raises(ValueError, match="status must be one of"):
            states.upsert(local_frame(spark, [row], STATE_SCHEMA))
        assert states._table._current_manifest() is None
        assert not list((tmp_path / "state").rglob("*.parquet"))


@pytest.fixture
def new_york(monkeypatch):
    """Run the driver's Python process in a zone that is not UTC (the
    Spark session's own zone stays UTC)."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_timestamps_are_utc_instants_on_non_utc_host(spark, stores, new_york):
    raw, states, pointers = stores
    before = datetime.now(timezone.utc).replace(tzinfo=None) - timedelta(seconds=1)
    raw.write_partition(spark.range(2).withColumnRenamed("id", "x"), KEY, "run-a")
    validate_partition(raw, states, KEY, "run-a")
    WarehouseLoader(states, pointers).run()
    ControlPlane(states).backfill(KEY.customer_id, KEY.query_name,
                                  date(2024, 1, 2), date(2024, 1, 2))
    after = datetime.now(timezone.utc).replace(tzinfo=None) + timedelta(seconds=1)

    # Compared as strings in the UTC session: collect() would convert to
    # the process's local zone and hide the shift.
    stored = [
        *raw.manifest().select(F.col("extracted_at").cast("string")).collect(),
        *states.read().select(F.col("updated_at").cast("string")).collect(),
        *pointers.read().select(F.col("loaded_at").cast("string")).collect(),
    ]
    assert len(stored) == 4
    for (value,) in stored:
        assert before <= datetime.fromisoformat(value) <= after, (value, before, after)
