"""Config loading + run planning parity tests (reference config.py,
pipeline.py:164-185)."""

from __future__ import annotations

from datetime import date

import pytest

from gads_etl_spark.pipeline.config import (
    interpolate_env,
    load_config,
    plan_catch_up_runs,
    plan_daily_runs,
)

YAML = """
source: google_ads
customer_ids: "123-456-7890, 987"
lookback_days_daily: 2
queries:
  - name: campaign_stats
    entity: campaign
    date_column: segments.date
    fields: [campaign.id, campaign.name, segments.date, metrics.clicks]
  - name: ad_group_stats
    entity: ad_group
    date_column: segments.date
    fields: [ad_group.id, segments.date, metrics.impressions]
"""


class TestConfig:
    def test_load_and_normalize(self):
        cfg = load_config(YAML)
        assert cfg.customer_ids == ("1234567890", "987")  # hyphens stripped
        q = cfg.query("campaign_stats")
        assert q.entity == "campaign"
        assert q.flat_name("campaign.id") == "campaign_id"

    def test_customer_path(self):
        # The source's customer_id column, or a field flattening to it.
        q = load_config(YAML).query("campaign_stats")
        assert q.customer_path == "customer_id"
        assert type(q)(q.name, q.entity, q.date_column,
                       ("customer.id", *q.fields)).customer_path == "customer.id"

    def test_missing_key_fails_fast(self):
        with pytest.raises(ValueError, match="missing required key"):
            load_config("queries:\n  - name: x\n    entity: y\n"
                        "    date_column: d\n    fields: [a]\n")

    def test_env_interpolation(self, monkeypatch):
        monkeypatch.setenv("GADS_CUSTOMER", "42")
        cfg = load_config(YAML.replace('"123-456-7890, 987"', '"${GADS_CUSTOMER}"'))
        assert cfg.customer_ids == ("42",)
        assert interpolate_env("${MISSING_VAR:-fallback}") == "fallback"
        with pytest.raises(KeyError):
            interpolate_env("${DEFINITELY_NOT_SET_VAR_XYZ}")


class TestRunPlanning:
    def test_daily_plan_is_queries_times_customers(self):
        cfg = load_config(YAML)
        runs = plan_daily_runs(cfg, date(2024, 5, 10))
        assert len(runs) == 4  # 2 queries × 2 customers
        r = runs[0]
        assert r.logical_date == date(2024, 5, 10)
        assert r.window_start == date(2024, 5, 8)  # lookback 2
        assert r.window_end == date(2024, 5, 10)
        assert {x.query_name for x in runs} == {"campaign_stats", "ad_group_stats"}
        assert {x.customer_id for x in runs} == {"1234567890", "987"}

    def test_catch_up_widens_window(self):
        cfg = load_config(YAML)
        runs = plan_catch_up_runs(cfg, end=date(2024, 5, 10), days=30)
        assert all(r.window_start == date(2024, 4, 10) for r in runs)
        assert all(r.logical_date == date(2024, 5, 10) for r in runs)

    def test_catch_up_days_defaults_to_config_window(self):
        # Reference parity: `window = days or config.catch_up_window_days`
        # (reference pipeline.py:181, config.py:69 default 30).
        cfg = load_config(YAML)
        assert cfg.catch_up_window_days == 30
        runs = plan_catch_up_runs(cfg, end=date(2024, 5, 10))
        assert all(r.window_start == date(2024, 4, 10) for r in runs)
        cfg2 = load_config(YAML + "catch_up_window_days: 7\n")
        runs2 = plan_catch_up_runs(cfg2, end=date(2024, 5, 10))
        assert all(r.window_start == date(2024, 5, 3) for r in runs2)
