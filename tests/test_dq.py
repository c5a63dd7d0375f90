"""Declarative data-quality checks: violation semantics (especially
nulls), single-scan batching of row checks, and the gate form."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gads_etl_spark.operators import dq


@pytest.fixture()
def frame(spark):
    return spark.createDataFrame(
        [
            (1, "en", 10),
            (2, "en", -5),     # range violation
            (3, None, 20),     # null lang: not_null + in_set violations
            (4, "xx", 30),     # domain violation
            (4, "en", 40),     # duplicate id
            (None, "en", 50),  # null id: excluded from unique, hits not_null(id)
        ],
        "id int, lang string, n int",
    )


def _result(df, checks):
    return {r["check"]: r["n_violations"] for r in dq.run_checks(df, checks).collect()}


class TestRowChecks:
    def test_violation_counts(self, frame):
        got = _result(frame, [
            dq.not_null("id"),
            dq.not_null("lang"),
            dq.in_set("lang", ("en", "fr")),
            dq.in_range("n", 0, 100),
            dq.custom("n_even", F.col("n") % 2 == 0),
        ])
        assert got == {
            "not_null(id)": 1,
            "not_null(lang)": 1,
            "in_set(lang)": 2,      # null AND out-of-domain both count
            "in_range(n)": 1,
            "n_even": 1,  # -5 % 2 == -1 in Spark (dividend sign)
        }

    def test_matches_null_counts_as_violation(self, spark):
        df = spark.createDataFrame([("a1",), (None,), ("zz",)], "s string")
        got = _result(df, [dq.matches("s", r"^[a-z][0-9]$")])
        assert got == {"matches(s)": 2}

    def test_row_checks_share_one_scan(self, frame):
        """N row checks must compile to ONE aggregate over ONE scan —
        the plan contains a single scan of the input."""
        out = dq.run_checks(frame, [
            dq.not_null("id"), dq.in_set("lang", ("en",)), dq.in_range("n", 0, 9),
        ])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan ExistingRDD") == 1

    def test_declaration_order_preserved(self, frame):
        checks = [dq.in_range("n", 0, 100), dq.not_null("id"), dq.unique("id")]
        names = [r["check"] for r in dq.run_checks(frame, checks).collect()]
        assert names == ["in_range(n)", "not_null(id)", "unique(id)"]


class TestKeyChecks:
    def test_unique_counts_extra_rows(self, frame):
        # ids: 1,2,3,4,4,NULL → count(*)=6, count(distinct id)=4 (null
        # excluded by SQL) → 2 "extra" rows; not_null(id) covers the null.
        assert _result(frame, [dq.unique("id")]) == {"unique(id)": 2}

    def test_unique_composite(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (1, "b"), (1, "a")], "k int, s string")
        assert _result(df, [dq.unique("k", "s")]) == {"unique(k,s)": 1}

    def test_ref_integrity(self, spark):
        fact = spark.createDataFrame([(1,), (2,), (9,), (None,)], "fk int")
        dim = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
        got = _result(fact, [dq.ref_integrity(["fk"], dim, ["pk"])])
        assert got == {"ref(fk)": 1}  # 9 is orphaned; NULL fk is skipped

    def test_ref_broadcasts_dim(self, spark):
        fact = spark.createDataFrame([(1,)], "fk int")
        dim = spark.createDataFrame([(1,)], "pk int")
        check = dq.ref_integrity(["fk"], dim, ["pk"])
        plan = dq.run_checks(fact, [check])._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


class TestProfiler:
    def test_exact_profile_values(self, frame):
        rows = {r["column"]: r for r in
                dq.profile_columns(frame, exact_distinct=True).collect()}
        assert set(rows) == {"id", "lang", "n"}
        rid = rows["id"]
        assert (rid["n_rows"], rid["n_null"], rid["n_distinct"]) == (6, 1, 4)
        assert (rid["min_value"], rid["max_value"]) == ("1", "4")
        assert rows["lang"]["n_distinct"] == 2  # en, xx (null excluded)

    def test_approx_profile_single_scan_no_expand(self, frame):
        out = dq.profile_columns(frame)  # HLL mode
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan ExistingRDD") == 1
        assert "Expand" not in plan  # exact multi-distinct would add one

    def test_no_columns_raises(self, spark):
        df = spark.createDataFrame([(1,)], "x int")
        with pytest.raises(ValueError, match="no columns"):
            dq.profile_columns(df, [])


class TestGate:
    def test_assert_passes_clean(self, spark):
        df = spark.createDataFrame([(1,)], "id int")
        dq.assert_checks(df, [dq.not_null("id"), dq.unique("id")])

    def test_assert_raises_with_summary(self, frame):
        with pytest.raises(dq.DataQualityError, match=r"not_null\(id\): 1"):
            dq.assert_checks(frame, [dq.not_null("id"), dq.unique("id")])

    def test_empty_checks(self, frame):
        assert dq.run_checks(frame, []).count() == 0


class TestEmptyInput:
    def test_row_checks_report_zero_not_null_on_empty_frame(self, spark):
        # sum over zero rows is NULL in SQL; persisted metric rows (and
        # any JSON consumer) must see 0 violations, not null.
        empty = spark.createDataFrame([], "id int, lang string")
        got = _result(empty, [dq.not_null("id"), dq.in_set("lang", ("en",))])
        assert got == {"not_null(id)": 0, "in_set(lang)": 0}
        assert all(v is not None for v in got.values())


class TestPerGroupChecks:
    def test_grouped_counts_equal_per_group_run_checks(self, spark, frame):
        """``run_checks_by`` in one grouped aggregate gives, for each
        group, exactly what ``run_checks`` gives on that group's rows."""
        dim = spark.createDataFrame([(1,), (2,), (3,)], "pk int")
        checks = [
            dq.not_null("id"), dq.in_set("lang", ("en", "fr")),
            dq.in_range("n", 0, 100), dq.unique("id"),
            dq.ref_integrity(["id"], dim, ["pk"]),
        ]
        grouped = frame.withColumn("g", (F.col("n") > 15).cast("int"))
        got = {(r["g"], r["check"]): r["n_violations"]
               for r in dq.run_checks_by(grouped, checks, ["g"]).collect()}
        want = {(g, c): n for g in (0, 1)
                for c, n in _result(grouped.where(F.col("g") == g), checks).items()}
        assert got == want
        assert got[(1, "ref(id)")] == 2  # ids 4 and 4 are orphans; null id is not
