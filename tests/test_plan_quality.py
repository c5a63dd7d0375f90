"""Plan-quality gates: the properties that decide 100 TB behavior.

Correctness says the numbers match; these tests pin the *plan shape*:
filters reach the parquet scan (PushedFilters), projections prune the
read schema (ReadSchema), anti/semi joins stay joins, and no sf-scaled
table carries an explicit broadcast hint (AQE may still choose to
broadcast at small scale — that's fine and size-aware; a hard-coded hint
is what breaks at 100×).
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from gads_etl_spark.queries import REGISTRY

SF = "/root/testdata/sf0.01"


def _formatted_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _logical_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    return df._jdf.queryExecution().analyzed().toString()


class TestPushdownAndPruning:
    def test_q06_filters_reach_scan(self, spark):
        plan = _formatted_plan(spark, "q06_forecast_revenue")
        pushed = re.search(r"PushedFilters: \[(.*?)\]", plan)
        assert pushed, plan
        assert "l_shipdate" in pushed.group(1)
        assert "l_discount" in pushed.group(1)
        assert "l_quantity" in pushed.group(1)

    def test_q06_reads_only_needed_columns(self, spark):
        plan = _formatted_plan(spark, "q06_forecast_revenue")
        schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert schema, plan
        cols = {c.split(":")[0] for c in schema.group(1).split(",") if c}
        assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}

    def test_q01_prunes_to_agg_inputs(self, spark):
        plan = _formatted_plan(spark, "q01_pricing_summary")
        schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        cols = {c.split(":")[0] for c in schema.group(1).split(",") if c}
        assert cols == {
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_shipdate",
        }

    def test_wholestage_codegen_active(self, spark):
        """Executed plan carries `*(n)` codegen-stage markers — the agg
        pipeline runs inside WholeStageCodegen, not interpreted."""
        df = REGISTRY["q01_pricing_summary"].fn(spark, SF)
        df.collect()  # let AQE finalize the executed plan
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in executed, executed


class TestJoinStrategy:
    #: Queries whose join inputs include sf-scaled tables; their LOGICAL
    #: plans must not force a broadcast on those tables.
    SF_SCALED_QUERIES = (
        "q03_shipping_priority", "q05_regional_revenue", "q10_returned_items",
        "q14_promo_revenue", "q18_large_orders", "q19_bracket_filter",
        "q07_volume_shipping",
    )

    def test_no_broadcast_hints_on_scaled_tables(self, spark):
        for name in self.SF_SCALED_QUERIES:
            logical = _logical_plan(spark, name)
            hints = re.findall(r"UnresolvedHint|ResolvedHint.*?BROADCAST.*", logical)
            for h in hints:
                # Hints are only legitimate on the bounded dims or 1-row
                # scalar subqueries — those plans mention nation/region
                # or an aggregated single-row relation.
                assert re.search(r"n_nationkey|r_regionkey|sn_key|cn_key|\bv#", h), (
                    f"{name}: broadcast hint on a scale-growing input: {h}"
                )

    def test_q04_uses_semi_join(self, spark):
        plan = _formatted_plan(spark, "q04_order_priority")
        assert "LeftSemi" in plan

    def test_q22_uses_anti_join(self, spark):
        plan = _formatted_plan(spark, "q22_idle_customers")
        assert "LeftAnti" in plan

    def test_q18_preaggregates_before_join(self, spark):
        """The quantity aggregate must consume the lineitem scan directly
        (below the joins): node (1) scans lineitem and node (3) is already
        a HashAggregate — the join inputs are pre-shrunk order totals."""
        plan = _formatted_plan(spark, "q18_large_orders")
        scan1 = re.search(r"\(1\) Scan parquet.*?(?=\n\(2\))", plan, re.S)
        assert scan1 and "lineitem.parquet" in scan1.group(0), plan
        assert "(3) HashAggregate" in plan, plan


class TestControlTablePlans:
    def test_reconcile_is_single_left_join(self, spark):
        plan = _formatted_plan(spark, "pq_reconcile_classify")
        assert len(re.findall(r"Join LeftOuter|LeftOuter", plan)) >= 1

    def test_gap_detection_uses_window(self, spark):
        plan = _formatted_plan(spark, "obs_date_gaps")
        assert "Window" in plan
        assert "LeftAnti" in plan


@pytest.fixture(autouse=True)
def _quiet(spark):
    spark.sparkContext.setLogLevel("ERROR")
    yield


class TestRound3Plans:
    def test_q21_single_scan_no_expand(self, spark):
        # Round-12 formulation: the EXISTS/NOT-EXISTS pair folds into
        # one groupBy(l_orderkey) pass — exactly ONE lineitem scan
        # (the old semi+anti formulation scanned it 3x and was the one
        # above-linear probe at the 100x tier), no countDistinct
        # Expand, orders still a semi join, never a correlated re-scan.
        plan = _formatted_plan(spark, "q21_waiting_suppliers")
        assert plan.count("lineitem.parquet") == 1, plan
        assert "Expand" not in plan, plan
        assert "LeftSemi" in plan, plan
        assert "CartesianProduct" not in plan

    def test_q02_extremum_is_window_not_selfjoin(self, spark):
        # The correlated-min resolves as one window over the aggregate;
        # the only joins are the dimension decorations (3 of them).
        plan = _formatted_plan(spark, "q02_min_cost_supplier")
        assert "Window" in plan, plan
        # Count physical join *nodes* (detail headers), not mentions.
        assert len(re.findall(r"\(\d+\) \w*Join", plan)) <= 3, plan

    def test_asof_attribution_no_nested_loop(self, spark):
        plan = _formatted_plan(spark, "ev_asof_attribution")
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan
        assert "Window" in plan

    def test_interval_join_is_equi_on_bucket(self, spark):
        # The range predicate must ride an equi-join (hash/merge), never
        # a nested loop over events × intervals.
        plan = _formatted_plan(spark, "ev_error_bursts")
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan

    def test_pagerank_iterations_are_equi_joins(self, spark):
        # Two un-checkpointed power iterations: every join is hash/merge
        # (rank redistribute = equi-join on src), each iteration's real
        # exchange is the groupBy(node); no nested loop anywhere, and no
        # plan blowup beyond the expected per-iteration node exchanges.
        from pyspark.sql import functions as F

        from gads_etl_spark.operators.graph import pagerank

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        pairs = (
            li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
            .select(F.explode("ps").alias("src"), "ps")
            .select("src", F.explode("ps").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).cast("long").alias("w"))
        )
        pr = pagerank(pairs, weight="w", iterations=2, checkpoint=False)
        plan = pr._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert len(re.findall(r"Exchange hashpartitioning\(node", plan)) == 2, plan
        # The rank redistribute is a SHUFFLE-hash join with the rank side
        # as build — the edge list must never become a broadcast build
        # (a localCheckpoint-ed edge relation keeps its pre-checkpoint
        # size estimate; at the 10x tier the planner broadcast 24M edge
        # rows off a 24MB estimate and OOMed the driver).
        assert "BroadcastHashJoin" not in plan, plan
        # Two shuffle-hash joins per iteration since round 15 — the |E|
        # rank-redistribute plus the |V|-vs-|V| outw re-attach (out-
        # weights ride the rank side now; the edge list carries three
        # columns and no window) — MINUS the last iteration's re-attach,
        # which round 16's LEFT-join form lets Catalyst eliminate
        # outright: outw_n's keys are unique (it is a groupBy(src)
        # aggregate) and the final projection reads no outw column, so
        # the terminal left outer join cannot change cardinality and is
        # pruned from the plan. 2 iterations → 2 edge joins + 1 live
        # re-attach = 3. The re-attach must NOT cost an extra node
        # exchange — the alias src→node propagates the aggregate's
        # partitioning — which the ==2 node-exchange pin above enforces.
        assert len(re.findall(r"ShuffledHashJoin", plan)) == 3, plan
        # The surviving re-attach is LEFT OUTER (sink retention under
        # out-of-contract asymmetric input — graph.py round-16); the
        # rank-redistribute joins stay inner.
        assert len(re.findall(r"ShuffledHashJoin.*LeftOuter", plan)) == 1, plan

    def test_tfidf_builds_on_postings_never_candidates(self, spark):
        # All three tfidf joins are pinned shuffle-hash (both sides
        # corpus-scaled, broadcast trap closed) AND the build side is
        # always a POSTINGS relation: prefix postings for the candidate
        # join (BuildLeft), wa/wb for the two dot-product joins
        # (BuildRight). The candidate-pair relation is the one input
        # documented to grow superlinearly — as a non-spilling SHJ
        # build map a hot a_id partition of it could OOM an executor
        # at a tier the corpus-linear builds survive (ADVICE r10).
        from gads_etl_spark.queries import REGISTRY

        df = REGISTRY["ext_tfidf_cosine"].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        assert len(re.findall(r"ShuffledHashJoin", plan)) == 3, plan
        # candidate gen: pfx (left) builds
        assert re.search(
            r"ShuffledHashJoin \[term#\d+\], \[term#\d+\], Inner, BuildLeft",
            plan), plan
        # dot-product joins: wa / wb (right) build
        assert re.search(
            r"ShuffledHashJoin \[a_id#\d+L\], \[a_id#\d+L\], Inner, "
            r"BuildRight", plan), plan
        assert re.search(
            r"ShuffledHashJoin \[b_id#\d+L, term#\d+\], "
            r"\[b_id#\d+L, term#\d+\], Inner, BuildRight", plan), plan

    def test_hash_sample_filter_reaches_scan_stage(self, spark):
        # The sampling predicate sits directly on the scan (no shuffle
        # below it); the only Exchange is the final presentation sort.
        plan = _formatted_plan(spark, "ext_hash_sample")
        assert re.search(r"Filter \(\d+\)\s*\n\s*\+- Scan parquet", plan), plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan

    def test_nearest_centroid_broadcasts_bounded_side(self, spark):
        # The centroid table (|classes| × dim) broadcasts; the corpus
        # side must not shuffle for the scoring join.
        plan = _formatted_plan(spark, "ext_nearest_centroid")
        assert "BroadcastExchange" in plan, plan

    def test_pii_redact_is_shuffle_free(self, spark):
        # Redaction is per-row expression work: no Exchange anywhere.
        plan = _formatted_plan(spark, "ext_pii_redact")
        assert "Exchange" not in plan, plan
        assert "* Project" in plan  # '*' = inside whole-stage codegen

    def test_decontaminate_broadcasts_eval_grams(self, spark):
        # The bounded eval n-gram set broadcasts; the train corpus must
        # not shuffle to meet it (the only shuffle is the tiny per-doc
        # overlap aggregation after the join).
        plan = _formatted_plan(spark, "ext_decontaminate")
        assert "BroadcastExchange" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_trigram_lowercases_in_the_jvm(self, spark):
        # Round-17: the trigram passes are Arrow-vectorized, but the
        # case-mapping must stay ENGINE-IDENTICAL — lower(text) is
        # computed Spark-side and only sliced in Python. Pin that the
        # plan's projection carries lower(text) and length(text) into
        # the Arrow pass (the ADVICE-r16 original-length bound).
        plan = _formatted_plan(spark, "ext_trigram_typicality")
        assert "lower(text" in plan, plan
        assert "length(text" in plan, plan
        assert "MapInArrow" in plan, plan

    def test_winnow_map_stage_is_spread(self, spark):
        # Round-16: the winnow operator is pure per-row md5 expression
        # work and the fixture arrives as one parquet split — without a
        # spread every gram of every document hashes in a single task.
        # Pin the scan-parallelism exchange ahead of the gram projection.
        # spread() deliberately no-ops when the scan already yields >=
        # defaultParallelism splits (ADVICE r16): mirror that gate so
        # the pin tests the code, not the runner's core count.
        from gads_etl_spark.queries import REGISTRY
        from tests.conftest import SF_ORACLE

        docs_parts = (
            spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
            .rdd.getNumPartitions()
        )
        if docs_parts >= spark.sparkContext.defaultParallelism:
            pytest.skip("scan already spread wider than defaultParallelism")
        plan = _formatted_plan(spark, "ext_winnow_fingerprint")
        assert "RoundRobinPartitioning" in plan, plan

    def test_winnow_is_one_arrow_pass(self, spark):
        # Round-17: the gram hashing moved into one Arrow-vectorized
        # map pass (distinct-gram md5, int-rank window minima) — pin
        # that the plan stays a single MapInPandas with no shuffle
        # beyond the fixture spread and no row-at-a-time Python.
        import re

        plan = _formatted_plan(spark, "ext_winnow_fingerprint")
        # "(n) Op" detail entries appear once per physical node
        assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
        assert "BatchEvalPython" not in plan, plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan

    def test_trigram_typicality_recomputes_not_materializes(self, spark):
        # Round-13 materialized the per-trigram relation (localCheckpoint,
        # "scan once"); that was the measured cause of the register's one
        # above-linear bench row — ~1.6B deserialized rows blow the
        # storage fraction at the 100x tier (DIAG_trigram_variants.json,
        # round 14). Round-17's Arrow form keeps the lesson: the returned
        # plan is ONE fresh parquet scan into the per-doc Arrow pass (the
        # frequent-set pass already ran eagerly over its own scan) —
        # no per-trigram relation is ever materialized or cached.
        plan = _formatted_plan(spark, "ext_trigram_typicality")
        # formatted plans print each node twice (tree + detail block);
        # count the numbered detail headers, one per physical scan.
        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
        assert "ExistingRDD" not in plan, plan
        assert "InMemoryTableScan" not in plan, plan

    def test_domain_mix_broadcasts_rates(self, spark):
        # The per-source rates table (bounded by #domains) broadcasts
        # back onto the corpus — the corpus never shuffles for the join.
        plan = _formatted_plan(spark, "ext_domain_mix")
        assert "BroadcastExchange" in plan, plan


class TestFunnelPlan:
    def test_funnel_shuffles_once_on_user(self, spark):
        # Three chained conditional window-mins share one
        # partitionBy(user_id) Exchange; the per-user fold reuses that
        # partitioning, so besides it only the tiny cohort_date
        # aggregation exchanges. At most 2 shuffles total.
        plan = _formatted_plan(spark, "ev_funnel_cohorts")
        import re as _re
        n_exchange = len(_re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchange <= 2, plan
        assert plan.count("Window") >= 1, plan


class TestScd2Plan:
    def test_scd2_single_exchange(self, spark):
        # Change-flag window, running-sum window, run aggregate, and
        # valid_to lead are all keyed by user_id: one hashpartitioning
        # Exchange serves the whole pipeline, and the run aggregate
        # still gets a map-side partial.
        plan = _formatted_plan(spark, "ev_scd2_history")
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
        assert "partial_min" in plan, plan


class TestTopKPlans:
    @pytest.mark.parametrize("name", [
        "ext_knn_bruteforce", "ext_knn_lsh", "ext_knn_ivf",
        "ext_knn_quantized", "ext_knn_ivfpq",
    ])
    def test_ann_topk_is_window_group_limited(self, spark, name):
        # InferWindowGroupLimit (Spark 3.5+) keeps only top-k rows per
        # query map-side BEFORE the exchange; without it the rank<=k
        # filter shuffles |corpus|×|queries| scored rows and collapses
        # them onto |queries| reducers. This is the property that makes
        # broadcast-side top-k viable at 100 TB — pin it.
        plan = _formatted_plan(spark, name)
        assert "WindowGroupLimit" in plan, (name, plan)


class TestTwoPhaseSessionPlan:
    def test_phase1_exchange_key_carries_time_bucket(self, spark):
        # The whole point of the two-phase plan: the session aggregation's
        # shuffle key is (user_id, __bucket), never user_id alone — that
        # is what spreads a hot user across one task per day. Pin the
        # physical exchange so a refactor can't silently collapse it back
        # into the straggler shape.
        df = REGISTRY["ev_sessionization_twophase"].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"hashpartitioning\(user_id#\d+L?, __bucket", plan), plan


class TestRuntimeBloomFilter:
    """Runtime row-level filtering for large-large joins: when a join's
    creation side is selectively filtered, Spark can build a bloom filter
    over its join keys and push a might_contain predicate into the other
    side's scan — the built-in semi-join reduction that matters when BOTH
    sides are too big to broadcast (at 100 TB the default thresholds,
    creation side <= 10 MB / application scan >= 10 GB, enable this
    exactly where it pays; locally we relax them to prove the injection).
    """

    def _with_conf(self, spark, pairs):
        saved = {k: spark.conf.get(k) for k in pairs}
        for k, v in pairs.items():
            spark.conf.set(k, v)
        return saved

    def test_bloom_injected_and_result_identical(self, spark):
        from pyspark.sql import functions as F

        from gads_etl_spark.catalog import load_table

        relaxed = {
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        saved = self._with_conf(spark, relaxed)
        try:
            li = load_table(spark, SF, "lineitem")
            orders = load_table(spark, SF, "orders").where(
                F.col("o_orderpriority") == "1-URGENT"
            )
            j = (
                li.join(orders, li.l_orderkey == orders.o_orderkey)
                .groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            plan = j._jdf.queryExecution().optimizedPlan().toString()
            assert "might_contain" in plan, "bloom filter not injected"
            with_bloom = j.collect()

            spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
            without_bloom = j.collect()
            assert sorted(map(tuple, with_bloom)) == sorted(map(tuple, without_bloom))
        finally:
            spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
            for k, v in saved.items():
                spark.conf.set(k, v)

    def test_bloom_not_injected_for_broadcastable_join(self, spark):
        """With broadcast available the bloom rewrite must stay out of the
        way — a broadcast hash join already prunes at the probe side."""
        from pyspark.sql import functions as F

        from gads_etl_spark.catalog import load_table

        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select("l_quantity")
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" not in plan


class TestPassJoinPlan:
    def test_passjoin_is_equi_join_only(self, spark):
        # Candidates must come from the segment-key equi-join — never an
        # all-pairs path. The shuffle carries exploded segment keys, so
        # it is linear in the corpus (x the O(tau^2) key constant).
        plan = _formatted_plan(spark, "ext_fuzzy_passjoin")
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan

    def test_blocked_fuzzy_is_equi_join_only(self, spark):
        plan = _formatted_plan(spark, "ext_fuzzy_match")
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
