"""Fixture catalog: load the driver-provided TPC-H-ish parquet tables.

Mirrors the reference's state-first consumer contract in spirit: consumers
never blindly scan, they resolve tables through a catalog
(reference: docs/consumer_contract.md:9-17). Here the catalog is the sf
directory; at 100 TB it would be a metastore, but the access pattern
(schema-checked parquet scans with pushdown) is identical.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: Per session, the schema Spark inferred for each fixture file, keyed by
#: (path, size, mtime_ns): inference runs a footer-reading Spark job
#: (~85 ms per call), a read with the schema given runs none. A rewritten
#: file changes its key and is inferred again.
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = \
    weakref.WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Resolve a fixture table to a schema-normalized DataFrame.

    API-boundary side effect: loading ``events`` pins the SESSION-wide
    confs ``spark.sql.session.timeZone=UTC`` and
    ``spark.sql.legacy.parquet.nanosAsLong=true`` (see ``_load_events``
    for why) — a caller-provided session deliberately running in another
    timezone is flipped to UTC for all subsequent queries, with a warning.
    Sessions built by ``gads_etl_spark.session.get_session`` are already
    UTC, so the warning only fires for foreign sessions.

    Other tables reuse the schema this session inferred for the same
    file version (``_SCHEMAS``), so only a file's first load runs Spark's
    footer-reading job.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    path = table_path(sf_dir, name)
    try:
        st = os.stat(path)
    except OSError:  # not a local file: no memo, Spark reports the error
        return spark.read.parquet(path)
    memo = _SCHEMAS.setdefault(spark, {})
    key = (path, st.st_size, st.st_mtime_ns)
    if key in memo:
        return spark.read.schema(memo[key]).parquet(path)
    df = spark.read.parquet(path)
    memo[key] = df.schema
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events.parquet, normalizing ``ts`` to TimestampType regardless of
    the fixture vintage.

    The driver has shipped this fixture with three physical types so far:
    TIMESTAMP(NANOS) (Spark reads it as long under the legacy conf),
    TIMESTAMP(MICROS) without tz (Spark reads TIMESTAMP_NTZ), and plain
    TIMESTAMP. Dispatch on the dtype Spark actually read instead of assuming
    one vintage, so a silent fixture regeneration can't break every
    event-time query again. Session tz is UTC, so casting NTZ->timestamp
    matches DuckDB's naive read bit-for-bit.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The NTZ branch below interprets naive micros in the SESSION zone;
    # only UTC matches the DuckDB oracle's naive read (and the reference's
    # UTC normalization), so pin it here rather than trusting the caller's
    # session — both confs are runtime-settable. Loud, not silent: a
    # caller who intentionally runs non-UTC must know their session
    # changed (documented at the load_table API boundary too).
    if spark.conf.get("spark.sql.session.timeZone", "UTC") != "UTC":
        import warnings

        warnings.warn(
            "load_table('events') pins spark.sql.session.timeZone=UTC for "
            "the whole session (was "
            f"{spark.conf.get('spark.sql.session.timeZone')!r}); event-time "
            "semantics require UTC", stacklevel=3)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(table_path(sf_dir, "events"))
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        # nanos-as-long vintage: truncate to micros (same truncation DuckDB applies)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if isinstance(ts_type, TimestampType):
        return df
    raise TypeError(f"events.ts has unsupported parquet type {ts_type}")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (for the Spark SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
