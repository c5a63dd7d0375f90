"""Fixture-schema canary (VERDICT r4 postmortem).

Round 4 lost 12 queries, the bench artifact, and 17 tests to ONE silent
fixture regeneration (events.ts: timestamp[ns] → timestamp[us]). This
canary pins the post-catalog schema of every table at sf0.001 so the
next regeneration fails here in seconds with a readable message — one
assert naming the table and the drifted column — instead of 17 cascading
stack traces.

If this test fails after a driver-side fixture refresh: the FIXTURE
changed, not the code. Update the expectation below AND check that
`catalog.load_table` still normalizes the new physical type (events.ts
especially — see `_load_events`' dtype dispatch).
"""

from __future__ import annotations

import pytest

from gads_etl_spark.catalog import TABLES, load_table

SF_DIR = "/root/testdata/sf0.001"

#: Expected (column, dtype) per table AFTER catalog normalization —
#: i.e., what every downstream query is entitled to assume.
EXPECTED = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"),
               ("n_regionkey", "int")],
    "customer": [("c_custkey", "bigint"), ("c_name", "string"),
                 ("c_nationkey", "int"), ("c_acctbal", "double"),
                 ("c_mktsegment", "string")],
    "supplier": [("s_suppkey", "bigint"), ("s_name", "string"),
                 ("s_nationkey", "int"), ("s_acctbal", "double")],
    "part": [("p_partkey", "bigint"), ("p_name", "string"),
             ("p_brand", "string"), ("p_type", "string"),
             ("p_size", "int"), ("p_retailprice", "double")],
    "orders": [("o_orderkey", "bigint"), ("o_custkey", "bigint"),
               ("o_orderstatus", "string"), ("o_totalprice", "double"),
               ("o_orderdate", "timestamp_ntz"),
               ("o_orderpriority", "string")],
    "lineitem": [("l_orderkey", "bigint"), ("l_partkey", "bigint"),
                 ("l_suppkey", "bigint"), ("l_linenumber", "int"),
                 ("l_quantity", "double"), ("l_extendedprice", "double"),
                 ("l_discount", "double"), ("l_tax", "double"),
                 ("l_returnflag", "string"), ("l_linestatus", "string"),
                 ("l_shipdate", "timestamp_ntz")],
    # events.ts MUST come out as tz-aware 'timestamp' whatever the
    # parquet vintage — that normalization is the whole point of
    # _load_events.
    "events": [("event_id", "bigint"), ("ts", "timestamp"),
               ("user_id", "bigint"), ("event_type", "string"),
               ("value", "double"), ("props", "string")],
    "documents": [("doc_id", "bigint"), ("text", "string"),
                  ("lang", "string"), ("source", "string"),
                  ("n_chars", "bigint")],
    "embeddings": [("vec_id", "bigint"), ("embedding", "array<float>"),
                   ("label", "int")],
}


def test_expectation_covers_every_catalog_table():
    assert set(EXPECTED) == set(TABLES)


@pytest.mark.parametrize("table", sorted(TABLES))
def test_fixture_schema_unchanged(spark, table):
    got = load_table(spark, SF_DIR, table).dtypes
    assert got == EXPECTED[table], (
        f"FIXTURE DRIFT in {table!r}: catalog now yields {got}, expected "
        f"{EXPECTED[table]}. The driver likely regenerated "
        f"/root/testdata — verify catalog normalization still applies "
        f"(see test module docstring) and update EXPECTED."
    )


def test_events_loads_at_every_sf(spark):
    # The r4 breakage was sf-independent, but cheap to pin all three.
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        df = load_table(spark, f"/root/testdata/{sf}", "events")
        assert dict(df.dtypes)["ts"] == "timestamp", sf


class TestSchemaMemo:
    """load_table infers a fixture file's schema once per session and
    file version: a repeat load submits no Spark job, a rewritten file is
    inferred again."""

    @staticmethod
    def _write(path, cols):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.table(cols), path)

    @staticmethod
    def _jobs(spark, group, fn):
        spark.sparkContext.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return out, len(spark.sparkContext.statusTracker()
                        .getJobIdsForGroup(group))

    def test_repeat_load_runs_no_job(self, spark, tmp_path):
        self._write(tmp_path / "documents.parquet",
                    {"doc_id": [1, 2], "text": ["a b", "c d"]})
        _, first = self._jobs(spark, "memo:first",
                              lambda: load_table(spark, str(tmp_path), "documents"))
        df, again = self._jobs(spark, "memo:again",
                               lambda: load_table(spark, str(tmp_path), "documents"))
        assert first >= 1 and again == 0
        assert df.dtypes == [("doc_id", "bigint"), ("text", "string")]
        assert sorted(df.collect()) == [(1, "a b"), (2, "c d")]

    def test_rewritten_file_is_inferred_again(self, spark, tmp_path):
        path = tmp_path / "documents.parquet"
        self._write(path, {"doc_id": [1], "text": ["a"]})
        load_table(spark, str(tmp_path), "documents")
        self._write(path, {"doc_id": [1], "text": ["a"], "lang": ["en"]})
        df, jobs = self._jobs(spark, "memo:rewritten",
                              lambda: load_table(spark, str(tmp_path), "documents"))
        assert jobs >= 1
        assert df.columns == ["doc_id", "text", "lang"]
        assert df.collect() == [(1, "a", "en")]


#: The oracles these assumptions protect are verified at sf0.01 (driver)
#: and sf0.1 (judge sweep), so the canary must cover every sf — a drift
#: in only one fixture dir would otherwise surface as an opaque oracle
#: hash mismatch there while the canary stayed green.
ALL_SF_DIRS = [f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1")]


@pytest.mark.parametrize("sf_dir", ALL_SF_DIRS)
class TestDerivedOracleAssumptions:
    """The planted-duplicate / certificate oracles rest on data properties
    of the fixtures; pin them here so a regeneration that silently breaks
    an assumption fails with the assumption's name, not an opaque oracle
    hash mismatch.
    """

    def test_documents_are_ascii(self, spark, sf_dir):
        # ext_multimodal_decode's oracle equates DuckDB's per-character
        # ascii()%8 histogram with the UDF's per-byte histogram — valid
        # only while every document is pure ASCII (1 byte == 1 char).
        from pyspark.sql import functions as F

        docs = load_table(spark, sf_dir, "documents")
        non_ascii = docs.where(
            F.octet_length("text") != F.length("text")
        ).count()
        assert non_ascii == 0, (
            f"{sf_dir}: documents.text is no longer ASCII-only; the "
            "ext_multimodal_decode oracle's ascii()%8 histogram no longer "
            "equals the UDF's byte histogram"
        )

    def test_first_docs_have_enough_tokens(self, spark, sf_dir):
        # The minhash/simhash planted-duplicate oracles inject copies of
        # doc_id < 30; a doc with < 3 tokens produces no 3-gram shingles
        # (no signature row) and the planted pair would silently vanish.
        from pyspark.sql import functions as F

        docs = load_table(spark, sf_dir, "documents")
        thin = docs.where(F.col("doc_id") < 30).where(
            F.size(F.split(F.col("text"), " ")) < 3
        ).count()
        assert thin == 0, (
            f"{sf_dir}: a doc_id<30 document has <3 tokens — planted "
            "minhash pairs would vanish"
        )

    def test_natural_cosine_stays_below_planted_hit(self, spark, sf_dir):
        # The ANN rank-1 oracles require the planted copy (cos == 1.0) to
        # outrank every natural neighbour; semantic-dedup's threshold
        # (0.9) must also exceed the natural max. Fixture vectors are
        # random-ish (~0.6 max): assert a wide margin. Computed
        # driver-side (round-17): the all-pairs Spark HOF join spent
        # 50s of suite wall at sf0.1 on a 2000x64 matrix numpy handles
        # in milliseconds; the property asserted (max natural pairwise
        # cosine, any float noise dwarfed by the 0.3 margin) is the
        # same.
        import numpy as np
        from pyspark.sql import functions as F

        emb = load_table(spark, sf_dir, "embeddings").select(
            F.col("embedding").cast("array<double>").alias("e")
        )
        x = np.array([r.e for r in emb.collect()], dtype=np.float64)
        nrm = np.linalg.norm(x, axis=1)
        nrm[nrm == 0.0] = 1.0
        r = x / nrm[:, None]
        max_cos = -1.0
        for j0 in range(1, len(r), 512):
            j1 = min(j0 + 512, len(r))
            s = r[: j1 - 1] @ r[j0:j1].T
            for j in range(j0, j1):
                m = s[: j, j - j0].max()
                if m > max_cos:
                    max_cos = m
        assert max_cos < 0.9, (
            f"{sf_dir}: natural max pairwise cosine {max_cos:.3f} >= 0.9 — "
            "the planted-hit ANN oracles and the semantic-dedup exact "
            "oracle are no longer guaranteed"
        )
