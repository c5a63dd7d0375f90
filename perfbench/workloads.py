"""The benchmark's workloads: each sets itself up, runs whole timed passes
and checks every pass's outputs outside the timed region.

- ``text_dedup``: the nine text-dedup/quality/vocab queries of
  ``queries/extension_suite.py`` over a seeded corpus. Most of the time
  goes to ``operators/`` in Arrow/pandas Python workers.
- ``pipeline_daily``: ``pipeline/runner.py:run_daily`` over the
  ``gads_fixture`` DataSource, one load sync then a same-day rerun
  (a replace) from empty roots. Write-heavy: per-partition Spark jobs,
  JSON writes and state MERGEs. Warmed up in set-up by one such pass for
  one other customer.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass

from perfbench import datagen

TEXT_QUERIES = (
    "ext_dup_spans", "ext_strip_dup_spans", "ext_tfidf_terms",
    "ext_winnow_fingerprint", "ext_trigram_typicality",
    "ext_minhash_candidates", "ext_shingle_jaccard", "ext_build_vocab",
    "ext_encode_docs",
)

#: Inputs per scale: ``full`` is the measured size, ``toy`` the self-test's.
SIZES = {
    "full": {"docs": 2000, "warm_docs": 500, "customers": 2, "rows_per_day": None},
    "toy": {"docs": 300, "warm_docs": 100, "customers": 2, "rows_per_day": 10},
}


@dataclass
class PassResult:
    wall_s: float
    ops: int


def _group(spark, name: str) -> None:
    spark.sparkContext.setJobGroup(name, name)


def _jobs(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# -- text_dedup ------------------------------------------------------------


class TextDedup:
    def __init__(self, data_dir: str, seed: int, size: dict, plant_wrong: bool):
        self.sf_dir = datagen.write_documents(
            os.path.join(data_dir, f"docs-{size['docs']}-seed{seed}"), seed, size["docs"])
        self.warm_dir = datagen.write_documents(
            os.path.join(data_dir, f"docs-{size['warm_docs']}-warm"), 0, size["warm_docs"])
        # The seed also permutes the query order within a pass.
        import numpy as np

        order = np.random.default_rng([seed, 3]).permutation(len(TEXT_QUERIES))
        self.order = [TEXT_QUERIES[i] for i in order]
        self.plant_wrong = plant_wrong
        self.results: list[dict] = []
        self.checked = 0

    def bind(self, spark, work_dir: str) -> None:
        from gads_etl_spark.queries import REGISTRY

        self.spark = spark
        self.registry = REGISTRY

    def warm_up(self) -> None:
        for name in TEXT_QUERIES:
            _group(self.spark, f"w:{name}")
            self.registry[name].fn(self.spark, self.warm_dir).toPandas()

    def run_pass(self, tag: str) -> PassResult:
        out: dict[str, dict] = {}
        t0 = time.perf_counter()
        for name in self.order:
            q0 = time.perf_counter()
            try:
                _group(self.spark, f"{tag}:{name}:build")
                df = self.registry[name].fn(self.spark, self.sf_dir)
                built = time.perf_counter()
                _group(self.spark, f"{tag}:{name}:run")
                pdf = df.toPandas()
                err = None
            except Exception as exc:  # a failing query counts as failed
                built, pdf, err = time.perf_counter(), None, f"{type(exc).__name__}: {exc}"
            out[name] = {
                "wall_s": time.perf_counter() - q0, "build_s": built - q0,
                "eager_jobs": _jobs(self.spark, f"{tag}:{name}:build"),
                "pdf": pdf, "error": err,
            }
        wall = time.perf_counter() - t0
        self.results.append(out)
        return PassResult(wall, len(self.order))

    def check(self) -> tuple[int, list[str]]:
        """Compare each pass's results not yet checked with the DuckDB
        oracle; returns (failed operations, messages)."""
        from gads_etl_spark.oracle import canonical_rows

        failed, msgs = 0, []
        expected = self._expected()
        for i, out in enumerate(self.results[self.checked:], self.checked):
            for name, r in out.items():
                if r["error"] is not None:
                    failed += 1
                    msgs.append(f"{name}: {r['error'][:300]}")
                    continue
                pdf = r["pdf"]
                if self.plant_wrong and i == 0 and name == self.order[0]:
                    pdf = pdf.iloc[:-1]
                cols, rows = expected[name]
                got = canonical_rows(pdf)
                if sorted(pdf.columns) != cols or got != rows:
                    failed += 1
                    msgs.append(f"{name}: mismatch (spark {len(got)} rows, "
                                f"oracle {len(rows)} rows)")
                r["pdf"] = None
        self.checked = len(self.results)
        return failed, msgs

    def _expected(self) -> dict:
        """Oracle answers, cached next to the generated corpus."""
        import duckdb

        from gads_etl_spark.catalog import table_path
        from gads_etl_spark.oracle import canonical_rows

        path = os.path.join(self.sf_dir, "expected.json")
        if os.path.exists(path):
            with open(path) as fh:
                return {k: (v[0], [tuple(r) for r in v[1]]) for k, v in json.load(fh).items()}
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        f"'{table_path(self.sf_dir, 'documents')}')")
            exp = {}
            for name in TEXT_QUERIES:
                pdf = con.execute(self.registry[name].oracle).fetchdf()
                exp[name] = (sorted(pdf.columns), canonical_rows(pdf))
        finally:
            con.close()
        tmp = path + f".{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(exp, fh)
        os.replace(tmp, path)
        return exp

    def layers(self, first: int) -> dict[str, float]:
        """Per-query medians over the passes from index ``first`` on."""
        passes = self.results[first:]
        out: dict[str, float] = {}
        build, eager = 0.0, 0
        for name in TEXT_QUERIES:
            out[f"queries.{name}.wall_s"] = statistics.median(
                r[name]["wall_s"] for r in passes)
            build += statistics.median(r[name]["build_s"] for r in passes)
            eager += passes[-1][name]["eager_jobs"]
        out["queries.build_s"] = build
        out["queries.eager_jobs"] = eager
        return out


# -- pipeline_daily --------------------------------------------------------


class PipelineDaily:
    FIELDS = ("customer_id", "segments_date", "campaign_id", "clicks",
              "impressions", "cost_micros")

    def __init__(self, data_dir: str, seed: int, size: dict, plant_wrong: bool):
        # One id more than the pass syncs: the last one is the warm-up's.
        ids, self.target = datagen.pipeline_inputs(seed, size["customers"] + 1)
        self.customers, self.warm_customer = ids[:-1], ids[-1]
        self.rows_per_day = size["rows_per_day"]
        self.plant_wrong = plant_wrong
        self.runs: list[dict] = []
        self.checked = 0
        self.tally = {"rows": 0, "misplaced": 0, "days": 0, "parts": 0}

    def bind(self, spark, work_dir: str) -> None:
        from gads_etl_spark.sources.ads_source import AdsFixtureDataSource

        spark.dataSource.register(AdsFixtureDataSource)
        self.spark = spark
        self.work_dir = work_dir
        self.config, self.source = self._inputs(self.customers)

    def _inputs(self, customers: list[str]):
        from datetime import timedelta

        from gads_etl_spark.pipeline.config import PipelineConfig
        from gads_etl_spark.pipeline.extract import QueryDefinition

        q = QueryDefinition(name="campaign_stats", entity="campaign",
                            date_column="segments_date", fields=self.FIELDS)
        config = PipelineConfig(source="google_ads", customer_ids=tuple(customers),
                                queries=(q,))
        start = self.target - timedelta(days=config.lookback_days_daily)
        reader = (self.spark.read.format("gads_fixture")
                  .option("customers", ",".join(customers))
                  .option("start_date", start.isoformat())
                  .option("end_date", self.target.isoformat()))
        if self.rows_per_day is not None:
            reader = reader.option("rows_per_day", str(self.rows_per_day))
        return config, reader.load()

    def warm_up(self) -> None:
        """One pass for one customer outside the timed set, in its own
        roots: the session's first jobs, code paths and Python workers are
        paid for here, not in the timed passes."""
        config, source = self._inputs([self.warm_customer])
        _group(self.spark, "w:pipeline")
        self._sync(config, source, os.path.join(self.work_dir, "w-pipeline"))

    def _sync(self, config, source, root: str) -> tuple[tuple, list]:
        """The load sync, then the same-day rerun, from empty roots."""
        from gads_etl_spark.pipeline import PointerStore, RawZone, StateStore
        from gads_etl_spark.pipeline.curated_sink import CuratedZone
        from gads_etl_spark.pipeline.runner import run_daily

        stores = (RawZone(self.spark, f"{root}/raw"), StateStore(self.spark, f"{root}/state"),
                  PointerStore(self.spark, f"{root}/ptr"),
                  CuratedZone(self.spark, f"{root}/curated"))
        reports = []
        for _ in range(2):
            try:
                reports.append(run_daily(self.spark, config, {"campaign": source},
                                         *stores[:3], self.target, curated=stores[3]))
            except Exception as exc:  # the whole call's partitions fail
                reports.append(exc)
        return stores, reports

    def run_pass(self, tag: str) -> PassResult:
        group = f"{tag}:pipeline:{len(self.runs)}"
        root = os.path.join(self.work_dir, group.replace(":", "-"))
        _group(self.spark, group)
        t0 = time.perf_counter()
        stores, reports = self._sync(self.config, self.source, root)
        wall = time.perf_counter() - t0
        self.runs.append({"root": root, "stores": stores, "reports": reports,
                          "jobs": _jobs(self.spark, group)})
        return PassResult(wall, 2 * len(self.customers))

    def check(self) -> tuple[int, list[str]]:
        """Report, publish and row-count checks of the passes not yet
        checked. The runner's known defects (other customers' rows in a
        partition, one day where the lookback window is the contract) are
        folded into counts, never into failures."""
        from pyspark.sql import functions as F

        from gads_etl_spark.pipeline.consumer import read_published
        from gads_etl_spark.pipeline.keys import LOGICAL_KEY, PartitionKey

        customers = self.config.customer_ids
        planned = len(customers)
        failed, msgs = 0, []
        tally = self.tally
        _group(self.spark, "c:pipeline")
        for run in self.runs[self.checked:]:
            raw, _, pointers, _ = run["stores"]
            # A failed operation is one planned partition sync, (sync, customer),
            # counted once however many checks it fails.
            bad: set[tuple[int, str]] = set()
            for i, rep in enumerate(run["reports"]):
                ops = {(i, c) for c in customers}
                want = ({"load": planned, "replace": 0, "demote": 0} if i == 0
                        else {"load": 0, "replace": planned, "demote": 0})
                if isinstance(rep, Exception):
                    bad |= ops
                    msgs.append(f"run_daily raised {type(rep).__name__}: {str(rep)[:300]}")
                    continue
                ok = (rep.ok and len(rep.extracted) == planned
                      and rep.validated_success == planned and rep.published == want
                      and rep.staged == planned)
                if not ok:
                    # Extract errors name their partitions; any other
                    # shortfall fails the whole sync.
                    errs = {(i, k.customer_id) for k in rep.extract_errors}
                    bad |= errs if errs and not rep.validated_failed else ops
                    msgs.append(f"run {i}: ok={rep.ok} extracted={len(rep.extracted)} "
                                f"validated={rep.validated_success}/{rep.validated_failed} "
                                f"published={rep.published} staged={rep.staged}")
            last = run["reports"][-1]
            if isinstance(last, Exception):
                failed += len(bad)
                continue
            ptrs = pointers.read().collect()
            if len(ptrs) != planned or any(p["run_id"] != last.run_id for p in ptrs):
                bad |= {(1, c) for c in customers}
                msgs.append("rerun did not replace every pointer")
            sealed = (raw.manifest().join(pointers.read().select(*LOGICAL_KEY, "run_id"),
                                          [*LOGICAL_KEY, "run_id"], "left_semi")
                      .agg(F.sum("record_count")).collect()[0][0]) or 0
            published = read_published(raw, pointers).count()
            if self.plant_wrong:
                published += 1
            if published != sealed:
                bad |= {(i, c) for i in range(2) for c in customers}
                msgs.append(f"published rows {published} != sealed record_count sum {sealed}")
            failed += len(bad)
            for p in ptrs:
                key = PartitionKey(p["source"], p["customer_id"], p["query_name"],
                                   p["logical_date"])
                agg = raw.read_partition(key, p["run_id"]).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum((F.col("customer_id") != key.customer_id).cast("int")).alias("bad"),
                    F.countDistinct("segments_date").alias("days"),
                ).collect()[0]
                tally["rows"] += agg["n"]
                tally["misplaced"] += agg["bad"] or 0
                tally["days"] += agg["days"]
                tally["parts"] += 1
        self.checked = len(self.runs)
        rows, parts = tally["rows"], tally["parts"]
        self.defects = {
            "pipeline.misplaced_rows": tally["misplaced"] / max(1, len(self.runs)),
            "pipeline.days_per_partition": tally["days"] / parts if parts else 0.0,
            "pipeline.useful_row_frac": (rows - tally["misplaced"]) / rows if rows else 0.0,
        }
        return failed, msgs

    def layers(self, first: int) -> dict[str, float]:
        """Per-pass job, file and byte counts of the passes from index
        ``first`` on, plus the defect counts folded by ``check``."""
        runs = self.runs[first:]
        files = size = 0
        for run in runs:
            for dirpath, _, names in os.walk(run["root"]):
                for n in names:
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        jobs = sum(r["jobs"] for r in runs) / len(runs)
        partitions = 2 * len(self.config.customer_ids)
        return {
            "pipeline.partitions": float(partitions),
            "pipeline.spark_jobs": jobs,
            "pipeline.jobs_per_partition": jobs / partitions,
            "pipeline.files_written": files / len(runs),
            "pipeline.bytes_written_mb": size / len(runs) / (1024 * 1024),
            **self.defects,
        }


WORKLOADS = {"text_dedup": TextDedup, "pipeline_daily": PipelineDaily}
