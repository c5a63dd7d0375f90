"""Tests for the Python DataSource connector (gads_fixture format)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gads_etl_spark.sources.ads_source import (
    AdsFixtureDataSource,
    AdsFixtureReader,
    _CustomerDay,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(AdsFixtureDataSource)
    return spark


def _read(spark, **opts):
    base = dict(customers="111,222,333", start_date="2024-01-01",
                end_date="2024-01-05", rows_per_day="120")
    base.update({k: str(v) for k, v in opts.items()})
    r = spark.read.format("gads_fixture")
    for k, v in base.items():
        r = r.option(k, v)
    return r.load()


class TestAdsSource:
    def test_row_counts_and_schema(self, registered):
        df = _read(registered)
        assert df.count() == 3 * 5 * 120  # customers × days × rows_per_day
        assert [f.name for f in df.schema.fields] == [
            "customer_id", "segments_date", "campaign_id",
            "clicks", "impressions", "cost_micros",
        ]

    def test_one_partition_per_customer_day(self, registered):
        df = _read(registered)
        # The partition grid is the parallelism unit — 3 customers × 5
        # days must become 15 independent input partitions.
        assert df.rdd.getNumPartitions() == 15

    def test_deterministic_across_reads(self, registered):
        a = sorted(map(tuple, _read(registered).collect()))
        b = sorted(map(tuple, _read(registered).collect()))
        assert a == b

    def test_customer_filter_prunes_partitions(self, registered):
        df = _read(registered).where(F.col("customer_id") == "222")
        assert df.count() == 5 * 120
        assert set(r.customer_id for r in df.select("customer_id").distinct().collect()) == {"222"}

    def test_post_scan_filter_still_correct(self, registered):
        # A non-pushable predicate must still be applied by Spark.
        df = _read(registered).where(F.col("clicks") > 500)
        rows = df.collect()
        assert 0 < len(rows) < 3 * 5 * 120
        assert all(r.clicks > 500 for r in rows)

    def test_pushdown_prunes_reader_state(self):
        r = AdsFixtureReader({"customers": "111,222,333",
                              "start_date": "2024-01-01",
                              "end_date": "2024-01-05"})
        from pyspark.sql.datasource import EqualTo, GreaterThan

        leftover = list(r.pushFilters([
            EqualTo(("customer_id",), "222"),
            GreaterThan(("clicks",), 10),
        ]))
        assert r.customers == ["222"]
        assert len(leftover) == 1  # clicks filter handed back to Spark
        assert len(r.partitions()) == 5

    def test_date_pushdown_narrows_to_one_day(self, registered):
        df = _read(registered).where(F.col("segments_date") == "2024-01-03")
        assert df.count() == 3 * 120
        assert df.rdd.getNumPartitions() == 3  # pruned to one day per customer

    def test_unknown_customer_pushdown_yields_no_rows(self, registered):
        # Equality on a customer NOT in the configured list empties the
        # partition grid; the scan must return 0 rows, not crash on a
        # None sentinel partition.
        df = _read(registered).where(F.col("customer_id") == "999")
        assert df.count() == 0
        df_in = _read(registered).where(F.col("customer_id").isin("998", "999"))
        assert df_in.count() == 0

    def test_out_of_range_date_pushdown_yields_no_rows(self, registered):
        # A pushed filter may only narrow: equality on a date OUTSIDE the
        # configured [start_date, end_date] must return the same thing the
        # unpushed plan would — zero rows — not synthesize days the
        # unfiltered load() never contains.
        df = _read(registered).where(F.col("segments_date") == "2023-12-25")
        assert df.count() == 0

    def test_out_of_range_date_pushdown_empties_partition_grid(self):
        import datetime as dt

        from pyspark.sql.datasource import EqualTo

        r = AdsFixtureReader({"customers": "111,222",
                              "start_date": "2024-01-01",
                              "end_date": "2024-01-05"})
        leftover = list(r.pushFilters([
            EqualTo(("segments_date",), dt.date(2024, 2, 1)),
        ]))
        assert leftover == []  # filter accepted (consumed) ...
        # ... by pruning to a single sentinel partition (never an empty
        # list: PySpark converts [] to [None] and still runs read(None))
        # whose read yields no rows.
        parts = r.partitions()
        assert len(parts) == 1
        assert list(r.read(parts[0])) == []
        assert list(r.read(None)) == []  # defensive: None partition is empty too

    def test_paging_covers_all_rows_without_dup(self):
        from gads_etl_spark.sources.ads_source import PAGE_SIZE, _pages

        pages = list(_pages("111", "2024-01-01", 120))
        assert [len(p) for p in pages] == [PAGE_SIZE, PAGE_SIZE, 20]
        flat = [t for p in pages for t in p]
        assert len(set(flat)) == 120

    def test_missing_customers_option_fails_fast(self, registered):
        with pytest.raises(Exception, match="customers"):
            registered.read.format("gads_fixture").load().count()


class TestAdsSourceStreaming:
    def test_one_day_per_microbatch_equals_batch(self, registered, tmp_path):
        stream = (
            registered.readStream.format("gads_fixture")
            .option("customers", "111,222")
            .option("start_date", "2024-01-01")
            .option("end_date", "2024-01-03")
            .option("rows_per_day", "40")
            .load()
        )
        # Default micro-batch trigger (not availableNow: that snapshots
        # the end offset at start, which for an incremental source is
        # just the first prefetched day); processAllAvailable cycles
        # until the reader reports no new offset.
        q = (
            stream.writeStream.format("memory").queryName("ads_ingest")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = registered.table("ads_ingest")
        # 2 customers × 3 days × 40 rows, one day per micro-batch.
        assert got.count() == 2 * 3 * 40
        days = sorted(r.segments_date.isoformat()
                      for r in got.select("segments_date").distinct().collect())
        assert days == ["2024-01-01", "2024-01-02", "2024-01-03"]
        # Stream rows == batch rows for the same window (shared transport).
        batch = _read(registered, customers="111,222", rows_per_day=40,
                      start_date="2024-01-01", end_date="2024-01-03")
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))

    def test_restart_resumes_from_checkpoint(self, registered, tmp_path):
        # File sink + checkpoint: the offset (last ingested day) lives in
        # the checkpoint, so a restart with a wider window ingests ONLY
        # the new days — no re-extraction, no duplicates.
        ckpt = str(tmp_path / "ckpt2")
        out = str(tmp_path / "ingested")

        def run(end_date):
            stream = (
                registered.readStream.format("gads_fixture")
                .option("customers", "111")
                .option("start_date", "2024-01-01")
                .option("end_date", end_date)
                .option("rows_per_day", "10")
                .load()
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.processAllAvailable()
            q.stop()

        run("2024-01-02")   # ingests days 1-2
        first = registered.read.parquet(out)
        assert first.count() == 2 * 10
        run("2024-01-04")   # restart: only days 3-4 are new
        rows = registered.read.parquet(out).collect()
        assert len(rows) == 4 * 10  # resumed, not re-ingested
        days = sorted(set(r.segments_date.isoformat() for r in rows))
        assert days == ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]


class TestConnectorToPipeline:
    def test_connector_feeds_full_pipeline(self, registered, tmp_path):
        """API connector → set-based extract → raw seal → validate → publish →
        consumer read: the reference's whole daily flow with the source
        swapped from parquet fixtures to the DataSource connector."""
        from datetime import date

        from gads_etl_spark.pipeline import (
            PartitionKey, PointerStore, RawZone, StateStore, WarehouseLoader,
        )
        from gads_etl_spark.pipeline.consumer import read_published
        from gads_etl_spark.pipeline.extract import QueryDefinition, extract_partition
        from gads_etl_spark.pipeline.validator import validate_batch

        day = date(2024, 3, 2)
        source = (
            registered.read.format("gads_fixture")
            .option("customers", "901,902,903")
            .option("start_date", "2024-03-01")
            .option("end_date", "2024-03-03")
            .option("rows_per_day", "25")
            .load()
        )
        # The API's customer_id field is the partition column itself.
        qdef = QueryDefinition(
            name="campaign_stats", entity="campaign",
            date_column="segments_date",
            fields=("campaign_id", "customer_id", "segments_date",
                    "clicks", "cost_micros"),
        )
        raw = RawZone(registered, str(tmp_path / "raw"))
        states = StateStore(registered, str(tmp_path / "state"))
        pointers = PointerStore(registered, str(tmp_path / "ptr"))

        keys = [PartitionKey("google_ads", c, "campaign_stats", day)
                for c in ("901", "902", "903")]
        metas = extract_partition(source, raw, qdef, keys, "run-api", day, day)
        assert len(metas) == 3                      # one partition per customer
        assert all(m["record_count"] == 25 for m in metas)  # one day's rows only

        requests = registered.createDataFrame([
            {"source": m["source"], "customer_id": m["customer_id"],
             "query_name": m["query_name"], "logical_date": m["logical_date"],
             "run_id": m["run_id"], "schema_version": m["schema_version"]}
            for m in metas
        ])
        outcome = validate_batch(raw, states, requests)
        assert outcome.where(F.col("status") == "success").count() == 3

        plan = WarehouseLoader(states, pointers).run()
        assert plan.counts()["load"] == 3
        published = read_published(raw, pointers)
        assert published.count() == 3 * 25
        # Published rows carry provenance and only the extracted day.
        assert set(r["__query_name"] for r in
                   published.select("__query_name").distinct().collect()) == {"campaign_stats"}
