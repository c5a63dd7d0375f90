"""CLI surface tests: each command drives the batch primitives and prints."""

from __future__ import annotations

import json
from datetime import date, datetime

import pytest

from gads_etl_spark.cli import main
from gads_etl_spark.pipeline import StateStore
from gads_etl_spark.pipeline.state_store import STATE_SCHEMA


@pytest.fixture
def roots(spark, tmp_path):
    states = StateStore(spark, str(tmp_path / "state"))
    states.upsert(spark.createDataFrame([
        {"source": "google_ads", "customer_id": "1",
         "query_name": "campaign_stats", "logical_date": date(2024, 1, d),
         "status": s, "current_run_id": "run-a", "schema_version": "v1",
         "record_count": 10, "updated_at": datetime(2024, 3, 1),
         "error_message": e, "attempt_count": 2}
        for d, s, e in ((1, "failed", "boom"), (2, "success", None),
                        (3, "pending", None))
    ], STATE_SCHEMA))
    return ["--state-root", str(tmp_path / "state"),
            "--pointer-root", str(tmp_path / "ptr"),
            "--raw-root", str(tmp_path / "raw")]


def test_inspect_filters_and_json(roots, capsys):
    assert main([*roots, "--json", "state-inspect", "--status", "failed"]) == 0
    out = capsys.readouterr().out
    assert out.startswith("1 partition state record(s)")
    rows = json.loads(out.splitlines()[1])
    assert rows[0]["error_message"] == "boom"


def test_retry_then_observe(roots, capsys):
    assert main([*roots, "state-retry", "--customer-id", "1"]) == 0
    assert json.loads(capsys.readouterr().out)["eligible"] == 1
    assert main([*roots, "observe-state"]) == 0
    out = capsys.readouterr().out
    assert "pending: 2" in out and "failed: 0" in out


def test_unfiltered_retry_exits_nonzero(roots, capsys):
    assert main([*roots, "state-retry"]) == 1
    assert "force" in capsys.readouterr().err


def test_backfill_and_freshness(roots, capsys):
    assert main([*roots, "state-backfill", "--customer-id", "1",
                 "--query-name", "campaign_stats",
                 "--since", "2024-01-01", "--until", "2024-01-05"]) == 0
    assert json.loads(capsys.readouterr().out)["eligible"] == 2
    assert main([*roots, "observe-freshness"]) == 0
    out = capsys.readouterr().out
    assert "google_ads / campaign_stats" in out
    assert "total_successful_partitions: 1" in out


def test_observe_retries(roots, capsys):
    assert main([*roots, "observe-retries"]) == 0
    out = capsys.readouterr().out
    assert "failed partitions: 1" in out
    assert "retryable failed partitions: 1" in out
    assert "1-2: 3" in out


def test_warehouse_load_prints_plan(roots, capsys):
    assert main([*roots, "warehouse-load"]) == 0
    assert "loads=1 replacements=0 demotions=0" in capsys.readouterr().out


def test_dq_check_pass_and_fail(spark, tmp_path, capsys):
    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "en", 10), (2, "xx", -3), (2, "en", 5)],
        "id int, lang string, n int",
    ).write.parquet(path)
    base = ["--json", "dq-check", "--table", path]
    # failing suite → exit 1, violation counts in the JSON
    rc = main([*base,
               "--check", "not_null:id",
               "--check", "unique:id",
               "--check", "in_set:lang:en|fr",
               "--check", "in_range:n:0:100"])
    assert rc == 1
    out = capsys.readouterr().out
    rows = {r["check"]: r["n_violations"] for r in json.loads(out.splitlines()[0])}
    assert rows == {"not_null(id)": 0, "unique(id)": 1,
                    "in_set(lang)": 1, "in_range(n)": 1}
    # passing suite → exit 0
    assert main([*base, "--check", "not_null:id"]) == 0


def test_dq_check_bad_kind_exits(spark, tmp_path):
    path = str(tmp_path / "t2")
    spark.range(1).write.parquet(path)
    with pytest.raises(SystemExit):
        main(["dq-check", "--table", path, "--check", "nope:id"])


def test_dq_profile(spark, tmp_path, capsys):
    path = str(tmp_path / "prof")
    spark.createDataFrame(
        [(1, "en"), (2, None), (2, "fr")], "id int, lang string",
    ).write.parquet(path)
    assert main(["--json", "dq-profile", "--table", path, "--exact"]) == 0
    rows = {r["column"]: r for r in json.loads(capsys.readouterr().out.splitlines()[0])}
    assert rows["id"]["n_distinct"] == 2 and rows["lang"]["n_null"] == 1
    # column subset
    assert main(["--json", "dq-profile", "--table", path,
                 "--columns", "id", "--exact"]) == 0
    rows = json.loads(capsys.readouterr().out.splitlines()[0])
    assert [r["column"] for r in rows] == ["id"]


def test_state_vacuum(roots, spark, capsys):
    from gads_etl_spark.pipeline import StateStore

    # pile up versions beyond the keep horizon
    store = StateStore(spark, dict(zip(roots[::2], roots[1::2]))["--state-root"])
    base = store.read()
    for _ in range(3):
        store.commit(base)
    assert main([*roots, "state-vacuum", "--keep", "2"]) == 0
    out = capsys.readouterr().out
    assert "vacuumed" in out and "kept newest 2" in out


def test_corpus_diff(spark, tmp_path, capsys):
    old_p, new_p = str(tmp_path / "old"), str(tmp_path / "new")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string").write.parquet(old_p)
    spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "k int, v string").write.parquet(new_p)
    out_p = str(tmp_path / "delta")
    assert main(["--json", "corpus-diff", "--old", old_p, "--new", new_p,
                 "--key", "k", "--out", out_p]) == 0
    rows = {r["change"]: r["n_keys"]
            for r in json.loads(capsys.readouterr().out.splitlines()[0])}
    assert rows == {"added": 1, "removed": 1, "changed": 1}
    written = {(r.k, r.change) for r in spark.read.parquet(out_p).collect()}
    assert written == {(4, "added"), (3, "removed"), (2, "changed")}


def test_stream_state_command(spark, tmp_path, capsys):
    from gads_etl_spark.streaming.jobs import dedup_stream, read_events_stream

    src = tmp_path / "cli-st-src"
    src.mkdir()
    with open(src / "f0.json", "w") as f:
        for i in range(4):
            f.write(json.dumps({
                "event_id": i, "ts": f"2024-01-01 0{i}:00:00", "user_id": 1,
                "event_type": "click", "value": 1.0, "props": "{}"}) + "\n")
    ck = str(tmp_path / "cli-st-ck")
    q = (dedup_stream(read_events_stream(spark, str(src)))
         .writeStream.format("memory").queryName("t_cli_state")
         .option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    q.processAllAvailable()
    q.stop()
    assert main(["--json", "stream-state", "--checkpoint", ck]) == 0
    out = capsys.readouterr().out
    assert "state row(s)" in out
    rows = json.loads(out.splitlines()[-1])
    assert sum(r["n_state_rows"] for r in rows) >= 1


def test_curate_command(spark, tmp_path, capsys):
    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"body text {i % 5} tail", ["en", "zh"][i % 2])
         for i in range(40)],
        "doc_id long, text string, lang string").write.parquet(inp)
    cfg = tmp_path / "curate.yaml"
    cfg.write_text(
        "curation:\n  steps:\n"
        "    - kind: exact_dedup\n"
        "    - kind: lang_filter\n      allowed: [en]\n")
    out = str(tmp_path / "curated")
    assert main(["--json", "curate", "--config", str(cfg),
                 "--input", inp, "--output", out]) == 0
    printed = capsys.readouterr().out
    funnel = json.loads(printed.splitlines()[0])
    assert [f["step"] for f in funnel] == ["input", "0:exact_dedup", "1:lang_filter"]
    assert funnel[0]["rows_out"] == 40
    written = spark.read.parquet(out)
    assert written.count() == funnel[-1]["rows_out"] > 0
    assert set(r["lang"] for r in written.select("lang").distinct().collect()) == {"en"}


class TestParseCheckValidation:
    @pytest.mark.parametrize("spec", [
        "in_range:col:5",            # missing hi bound
        "in_range:a:b:c:d",          # a ':' too many (colon in a name)
        "in_set:col",                # no value list
        "matches:col",               # no regex
        "not_null:",                 # no column
        "bogus:col",                 # unknown kind
    ])
    def test_malformed_specs_exit_with_usage(self, spec):
        from gads_etl_spark.cli import _parse_check

        with pytest.raises(SystemExit, match="check"):
            _parse_check(spec)

    def test_wellformed_specs_parse(self):
        from gads_etl_spark.cli import _parse_check

        for spec in ["not_null:id", "unique:a+b", "in_set:lang:en|es",
                     "in_range:n:1:10", "matches:name:^x"]:
            assert _parse_check(spec) is not None


class TestDailyAndCatchUp:
    """`daily` / `catch-up` — the reference's primary entry points
    (reference src/gads_etl/cli.py:40-57) bound to the CLI."""

    YAML = """
source: google_ads
customer_ids: "123"
queries:
  - name: campaign_stats
    entity: campaign
    date_column: segments.date
    fields: [customer.id, campaign.id, segments.date, metrics.clicks]
"""

    @pytest.fixture
    def sync_env(self, spark, tmp_path):
        from pyspark.sql import Row

        (tmp_path / "cfg.yaml").write_text(self.YAML)
        rows = [Row(customer=Row(id="123"), campaign=Row(id=c), segments=Row(date=d),
                    metrics=Row(clicks=c * 10))
                for d in ("2024-01-01", "2024-01-02") for c in (1, 2)]
        spark.createDataFrame(rows).write.parquet(
            str(tmp_path / "srcs" / "campaign.parquet"))
        return ["--state-root", str(tmp_path / "state"),
                "--pointer-root", str(tmp_path / "ptr"),
                "--raw-root", str(tmp_path / "raw"),
                "--json",
                ], ["--config", str(tmp_path / "cfg.yaml"),
                    "--sources-root", str(tmp_path / "srcs")]

    def test_daily_end_to_end(self, sync_env, capsys):
        roots, sync = sync_env
        assert main([*roots, "daily", *sync, "--date", "2024-01-02"]) == 0
        out = json.loads(capsys.readouterr().out)
        assert out["ok"] and out["extracted"] == 1
        assert out["validated_success"] == 1 and out["published"]["load"] == 1

    def test_catch_up_widens_the_window(self, sync_env, capsys):
        roots, sync = sync_env
        assert main([*roots, "catch-up", *sync, "--end", "2024-01-02",
                     "--days", "30"]) == 0
        out = json.loads(capsys.readouterr().out)
        assert out["ok"] and out["extracted"] == 1

    def test_connector_down_is_partial_failure_not_crash(
            self, sync_env, capsys, tmp_path):
        roots, _ = sync_env
        assert main([*roots, "daily",
                     "--config", str(tmp_path / "cfg.yaml"),
                     "--sources-root", str(tmp_path / "nonexistent"),
                     "--date", "2024-01-02"]) == 1
        out = json.loads(capsys.readouterr().out)
        assert not out["ok"] and out["extract_errors"]
        # The read failure's CAUSE is surfaced in its own field, keyed
        # by entity name — separate from the run/partition-keyed
        # extract_errors namespace (a corrupt parquet must be
        # distinguishable from an absent source).
        assert out["source_read_errors"].get("campaign")

    def test_catch_up_days_defaults_to_config_window(
            self, sync_env, capsys, tmp_path):
        # Reference parity: omitting --days falls back to the config's
        # catch_up_window_days (reference pipeline.py:181).
        (tmp_path / "cfg.yaml").write_text(
            self.YAML + "catch_up_window_days: 30\n")
        roots, sync = sync_env
        assert main([*roots, "catch-up", *sync, "--end", "2024-01-02"]) == 0
        out = json.loads(capsys.readouterr().out)
        assert out["ok"] and out["extracted"] == 1
