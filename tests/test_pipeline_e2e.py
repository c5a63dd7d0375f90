"""Raw zone + batch validator contract tests.

Pins the locked invariants (SURVEY.md §5 adopt list): metadata-last seal,
overwrite refusal, batch count validation, authority retention M3
(including schema_version), failure transition M4, attempt counting M8,
and the one-commit property of batch validation.
"""

from __future__ import annotations

from datetime import date

import pytest
from pyspark.sql import functions as F

from gads_etl_spark.pipeline import PartitionKey, RawZone, StateStore
from gads_etl_spark.pipeline.raw_sink import SealedPartitionError
from gads_etl_spark.pipeline.validator import validate_batch, validate_partition

KEY = PartitionKey("google_ads", "123", "campaign_stats", date(2024, 1, 1))


def _payload(spark, n=5, seed=0):
    return spark.range(n).select(
        (F.col("id") + seed).alias("campaign_id"),
        (F.col("id") * 10).alias("clicks"),
    )


@pytest.fixture
def zone(spark, tmp_path):
    return RawZone(spark, str(tmp_path / "raw"))


@pytest.fixture
def states(spark, tmp_path):
    return StateStore(spark, str(tmp_path / "state"))


class TestRawZoneSeal:
    def test_write_then_seal_then_visible(self, spark, zone):
        meta = zone.write_partition(_payload(spark), KEY, "run-a")
        assert meta["record_count"] == 5
        assert zone.is_sealed(KEY, "run-a")
        assert zone.read_partition(KEY, "run-a").count() == 5
        assert zone.manifest().count() == 1

    def test_overwrite_refused(self, spark, zone):
        zone.write_partition(_payload(spark), KEY, "run-a")
        with pytest.raises(SealedPartitionError):
            zone.write_partition(_payload(spark), KEY, "run-a")
        with pytest.raises(SealedPartitionError):
            zone.seal({**KEY.as_dict(), "run_id": "run-a",
                       "extracted_at": None, "schema_version": "v1",
                       "record_count": 5, "api_version": None,
                       "query_signature": None})

    def test_unsealed_invisible(self, spark, zone):
        with pytest.raises(FileNotFoundError):
            zone.read_partition(KEY, "run-missing")

    def test_batch_seal_appends_one_manifest_file(self, spark, zone, tmp_path):
        import os

        from gads_etl_spark.pipeline.keys import new_run_id

        metas = []
        for d in (1, 2, 3, 4):
            k = PartitionKey("google_ads", "123", "campaign_stats", date(2024, 2, d))
            path = zone.partition_path(k, "run-b")
            _payload(spark).write.json(path)
            metas.append({**k.as_dict(), "run_id": "run-b",
                          "extracted_at": __import__("datetime").datetime(2024, 2, d),
                          "schema_version": "v1", "record_count": 5,
                          "api_version": None, "query_signature": None})
        zone.seal_many(metas)
        manifest_files = [f for f in os.listdir(f"{zone.root}/_manifest")
                          if f.endswith(".parquet")]
        assert len(manifest_files) == 1
        assert zone.manifest().count() == 4
        assert new_run_id() > "2024"  # sanity: run_ids sort lexicographically

    def test_run_id_discovery_via_manifest(self, spark, zone):
        zone.write_partition(_payload(spark), KEY, "run-b")
        zone.write_partition(_payload(spark), KEY, "run-a")
        assert zone.list_run_ids(KEY) == ["run-a", "run-b"]


class TestValidator:
    def test_success_sets_authority(self, spark, zone, states):
        zone.write_partition(_payload(spark), KEY, "run-a")
        row = validate_partition(zone, states, KEY, "run-a")
        assert row["status"] == "success"
        assert row["current_run_id"] == "run-a"
        assert row["record_count"] == 5
        assert row["attempt_count"] == 1

    def test_old_run_finishing_late_keeps_new_authority(self, spark, zone, states):
        """M3: lexicographically older run validated after a newer one —
        authority (run, count, schema_version) stays with the newer run,
        the attempt still counts (reference validator.py:56-86)."""
        zone.write_partition(_payload(spark, 7), KEY, "run-b", schema_version="v2")
        zone.write_partition(_payload(spark, 5), KEY, "run-a", schema_version="v1")
        validate_partition(zone, states, KEY, "run-b", schema_version="v2")
        row = validate_partition(zone, states, KEY, "run-a", schema_version="v1")
        assert row["status"] == "success"
        assert row["current_run_id"] == "run-b"
        assert row["record_count"] == 7
        assert row["schema_version"] == "v2"
        assert row["attempt_count"] == 2

    def test_count_mismatch_fails_and_keeps_authority(self, spark, zone, states):
        zone.write_partition(_payload(spark), KEY, "run-a")
        validate_partition(zone, states, KEY, "run-a")
        # Corrupt a later attempt: seal claims 99 rows but payload has 5.
        path = zone.partition_path(KEY, "run-b")
        _payload(spark).write.json(path)
        zone.seal({**KEY.as_dict(), "run_id": "run-b",
                   "extracted_at": __import__("datetime").datetime(2024, 1, 2),
                   "schema_version": "v1", "record_count": 99,
                   "api_version": None, "query_signature": None})
        row = validate_partition(zone, states, KEY, "run-b")
        assert row["status"] == "failed"
        assert "record_count mismatch" in row["error_message"]
        assert row["current_run_id"] == "run-a"  # M4 keeps authority
        assert row["attempt_count"] == 2

    def test_missing_seal_fails(self, spark, zone, states):
        row = validate_partition(zone, states, KEY, "run-ghost")
        assert row["status"] == "failed"
        assert "no manifest row" in row["error_message"]

    def test_batch_validates_many_in_one_commit(self, spark, zone, states):
        """N partitions validate with ONE ledger commit (the reference
        loops one partition per call — a driver bottleneck at scale)."""
        keys = [
            PartitionKey("google_ads", str(c), "campaign_stats", date(2024, 3, 1 + d))
            for c in range(5) for d in range(4)
        ]
        metas = []
        for i, k in enumerate(keys):
            path = zone.partition_path(k, "run-a")
            _payload(spark, n=3 + i % 3).write.json(path)
            metas.append({**k.as_dict(), "run_id": "run-a",
                          "extracted_at": __import__("datetime").datetime(2024, 3, 1),
                          "schema_version": "v1", "record_count": 3 + i % 3,
                          "api_version": None, "query_signature": None})
        zone.seal_many(metas)
        versions_before = states._table._current_version()
        requests = spark.createDataFrame(
            [{**k.as_dict(), "run_id": "run-a", "schema_version": "v1"} for k in keys]
        )
        out = validate_batch(zone, states, requests)
        assert out.count() == 20
        assert states.read().where(F.col("status") == "success").count() == 20
        # exactly one new committed version
        assert states._table._current_version() != versions_before

    def test_validation_reads_only_requested_partitions(self, spark, zone, states):
        """A malformed payload in an older run's directory must not block
        validating a new run: the count opens only the requested
        partitions' directories, not the whole zone's history."""
        zone.write_partition(_payload(spark), KEY, "run-a")
        old_dir = zone.partition_path(KEY, "run-a")
        with open(f"{old_dir}/part-corrupt.json", "w") as fh:
            fh.write("{not json\n")
        zone.write_partition(_payload(spark, 7), KEY, "run-b")

        row = validate_partition(zone, states, KEY, "run-b")
        assert row["status"] == "success"
        assert row["record_count"] == 7
        # ...while the corrupt partition itself still fails loudly.
        with pytest.raises(Exception, match="FAILFAST|Malformed"):
            validate_partition(zone, states, KEY, "run-a")

    def test_batch_folds_failed_last_attempt(self, spark, zone, states):
        """One batch holding a clean run, a newer run whose payload is off
        its manifest count and an unsealed run for another key: the key's
        last attempt decides its status, the clean run holds authority,
        every attempt counts, and the unsealed run fails alone."""
        zone.write_partition(_payload(spark, 5), KEY, "run-a")
        _payload(spark, 5).write.json(zone.partition_path(KEY, "run-b"))
        zone.seal({**KEY.as_dict(), "run_id": "run-b",
                   "extracted_at": __import__("datetime").datetime(2024, 1, 2),
                   "schema_version": "v2", "record_count": 6,
                   "api_version": None, "query_signature": None})
        other = PartitionKey(KEY.source, KEY.customer_id, KEY.query_name, date(2024, 1, 2))
        requests = spark.createDataFrame([
            {**KEY.as_dict(), "run_id": "run-a", "schema_version": "v1"},
            {**KEY.as_dict(), "run_id": "run-b", "schema_version": "v2"},
            {**KEY.as_dict(), "run_id": "run-b", "schema_version": "v2"},
            {**other.as_dict(), "run_id": "run-a", "schema_version": "v1"},
        ])
        out = {r["logical_date"]: r.asDict() for r in validate_batch(zone, states, requests).collect()}
        row = out[KEY.logical_date]
        assert row["status"] == "failed"
        assert row["error_message"] == "record_count mismatch: payload=5 metadata=6"
        assert (row["current_run_id"], row["schema_version"], row["record_count"]) == ("run-a", "v1", 5)
        assert row["attempt_count"] == 2  # the duplicate request is one attempt
        ghost = out[other.logical_date]
        assert ghost["status"] == "failed" and ghost["current_run_id"] is None
        assert ghost["error_message"] == "no manifest row for run_id=run-a"
        assert sorted(r["status"] for r in states.read().collect()) == ["failed", "failed"]

    def test_batch_equals_sequential(self, spark, zone, states, tmp_path):
        """Folding property: validating [run-a, run-b] in one batch equals
        validating them one at a time (authority, attempts, status)."""
        zone.write_partition(_payload(spark, 5), KEY, "run-a")
        zone.write_partition(_payload(spark, 7), KEY, "run-b", schema_version="v2")

        seq_states = StateStore(spark, str(tmp_path / "seq"))
        validate_partition(zone, seq_states, KEY, "run-a")
        seq = validate_partition(zone, seq_states, KEY, "run-b", schema_version="v2")

        requests = spark.createDataFrame([
            {**KEY.as_dict(), "run_id": "run-a", "schema_version": "v1"},
            {**KEY.as_dict(), "run_id": "run-b", "schema_version": "v2"},
        ])
        batch = validate_batch(zone, states, requests).collect()[0].asDict()
        for f in ("status", "current_run_id", "schema_version", "record_count", "attempt_count"):
            assert batch[f] == seq[f], f
