"""Raw zone: immutable, hive-partitioned attempt storage with a manifest seal.

Contract parity (reference docs/raw_sink_contract.md, raw_sink_local.py,
raw_sink_object.py):

- One directory per ``(logical key, run_id)`` holding the payload; the
  partition becomes *visible and immutable* only when it is sealed
  (metadata-last — reference docs/storage_realism.md:35-40,
  raw_sink_local.py:44-48).
- Writing or sealing an already-sealed partition raises (overwrite refusal —
  reference raw_sink_local.py:34-36, docs/raw_sink_contract.md:48-51).
- run_id discovery goes through the manifest table, never a recursive
  directory listing — at 100 TB, listing a prefix with millions of objects
  is the classic S3 anti-pattern; a parquet manifest scan is one job
  (reference's delimiter-listing S8, raw_sink_object.py:72-88, upgraded).

The seal is two artifacts written in order:
1. ``_SEALED.json`` inside the partition directory — the metadata-last
   marker. ``is_sealed`` checks THIS single path: O(1) per check, no
   manifest scan per write (a full-manifest read per write is an O(n)
   listing storm at millions of partitions).
2. A row appended to the ``_manifest`` parquet table — the queryable
   index used by validators/loaders. ``seal_many`` appends one file per
   *batch*, not per partition, so manifest file count tracks job count.
   The batch's rows are an Arrow-backed local frame (``frames.py``), so
   the append is one JVM-only write task, no Python worker.

Scale notes: a batch of partitions is ONE ``partitionBy`` job, with
Spark's own escaped directory names (a run_id's ``:`` is ``%3A``); the
committer (task temp → rename) keeps partial attempts invisible even
before the seal. Reads open only the directories asked for. Works on any
Hadoop filesystem (file://, s3a://, ...).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import AnalysisException

from gads_etl_spark.pipeline import fsutil
from gads_etl_spark.pipeline.frames import local_frame
from gads_etl_spark.pipeline.keys import LAYOUT, PartitionKey, escape_path_name

MANIFEST_SCHEMA = T.StructType([
    T.StructField("source", T.StringType(), False),
    T.StructField("customer_id", T.StringType(), False),
    T.StructField("query_name", T.StringType(), False),
    T.StructField("logical_date", T.DateType(), False),
    T.StructField("run_id", T.StringType(), False),
    T.StructField("extracted_at", T.TimestampType(), False),
    T.StructField("schema_version", T.StringType(), False),
    T.StructField("record_count", T.LongType(), False),
    T.StructField("api_version", T.StringType(), True),
    T.StructField("query_signature", T.StringType(), True),
])

SEAL_MARKER = "_SEALED.json"

#: The layout columns as every read returns them.
LAYOUT_SCHEMA = T.StructType([MANIFEST_SCHEMA[c] for c in LAYOUT])


class SealedPartitionError(RuntimeError):
    """Raised on any attempt to mutate a sealed partition."""


def create_raw_zone(spark: SparkSession, root: str | None = None,
                    data_format: str | None = None) -> "RawZone":
    """S9 backend factory (reference raw_sink_factory.py:13-33): the
    storage backend is pure configuration — a ``file://`` root for local,
    ``s3a://`` (or any Hadoop FS URI) for object storage; no code change,
    because every filesystem touch goes through the Hadoop FS API."""
    root = root or os.environ.get("GADS_ETL_RAW_ROOT", "file:///tmp/gads_etl_raw")
    fmt = data_format or os.environ.get("GADS_ETL_RAW_FORMAT", "json")
    if fmt not in RAW_FORMATS:
        raise ValueError(
            f"unsupported raw format {fmt!r} ({'|'.join(RAW_FORMATS)})"
        )
    return RawZone(spark, root, fmt)


#: Payload formats the raw zone can write/read. json mirrors the
#: reference's JSONL payloads (raw_sink.py:70-88); parquet and orc are
#: the columnar options for deployments that skip the JSON hop — both
#: ship in stock Spark (no external jar) and both carry their own schema,
#: so FAILFAST-style schema enforcement comes from the reader-supplied
#: schema rather than a parse mode.
RAW_FORMATS = ("json", "parquet", "orc")


class RawZone:
    def __init__(self, spark: SparkSession, root: str, data_format: str = "json"):
        self.spark = spark
        self.root = root.rstrip("/")
        self.data_format = data_format
        self._manifest_dir = f"{self.root}/_manifest"

    # -- filesystem (Hadoop FS API: file://, s3a://, ... all work) --------

    def _fs(self, path: str):
        return fsutil.get_fs(self.spark, path)

    def _path_exists(self, path: str) -> bool:
        return fsutil.exists(self.spark, path)

    def _write_file_atomic(self, path: str, content: str) -> None:
        """Write via temp + rename — the metadata-last atomicity trick."""
        fsutil.write_text_atomic(self.spark, path, content)

    # -- manifest ---------------------------------------------------------

    def manifest(self) -> DataFrame:
        """All sealed partitions. Empty DataFrame only when the manifest
        has never been written; real I/O errors propagate (a swallowed
        read failure would make ``is_sealed`` return False and break the
        immutability contract — reference raw_sink_local.py:34-36)."""
        if not self._path_exists(self._manifest_dir):
            return local_frame(self.spark, [], MANIFEST_SCHEMA)
        try:
            return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self._manifest_dir)
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" in str(exc):
                return local_frame(self.spark, [], MANIFEST_SCHEMA)
            raise

    def _marker_path(self, key: PartitionKey, run_id: str) -> str:
        return os.path.join(self.partition_path(key, run_id), SEAL_MARKER)

    def is_sealed(self, key: PartitionKey, run_id: str) -> bool:
        """O(1): existence of the partition's own seal marker — no
        manifest scan, no directory listing."""
        return self._path_exists(self._marker_path(key, run_id))

    # -- write path -------------------------------------------------------

    def partition_path(self, key: PartitionKey, run_id: str) -> str:
        """The directory Spark's ``partitionBy`` writes for (key, run_id)."""
        return f"{self.root}/{key.relative_path()}/run_id={escape_path_name(run_id)}"

    def write_partition(
        self,
        df: DataFrame,
        key: PartitionKey,
        run_id: str,
        schema_version: str = "v1",
        api_version: str | None = None,
        query_signature: str | None = None,
    ) -> dict:
        """``write_partitions`` for one partition; returns its manifest row."""
        meta = {**key.as_dict(), "run_id": run_id, "schema_version": schema_version,
                "api_version": api_version, "query_signature": query_signature}
        layout = df.withColumns({c: F.lit(str(v)) for c, v in meta.items() if c in LAYOUT})
        return self.write_partitions(layout, [meta])[0]

    def write_partitions(self, df: DataFrame, metas: list[dict]) -> list[dict]:
        """Write the partitions ``metas`` names (layout values +
        ``schema_version``) in ONE ``partitionBy`` pass of ``df`` (payload
        + the five layout columns, every row in a named partition), then
        seal them in one ``seal_many``; a named partition without rows
        seals with ``record_count`` 0. Returns the manifest rows.

        Refuses before writing when a target is sealed or holds an
        unsealed attempt. Counts come from one grouped re-read of just the
        written directories: a nondeterministic input can never seal a
        count that disagrees with the payload the validator re-counts
        (A9), and a partially-visible write is caught too. One writer per
        zone at a time: appends commit through the root's ``_temporary``.
        """
        targets = [(PartitionKey.of(m), m["run_id"]) for m in metas]
        for key, run_id in targets:
            if self.is_sealed(key, run_id):
                raise SealedPartitionError(
                    f"partition {key} run_id={run_id} is sealed; raw partitions are immutable")
            if self._path_exists(self.partition_path(key, run_id)):
                raise FileExistsError(f"partition {key} run_id={run_id} holds an unsealed attempt")
        # Layout columns only: no payload to write, every target is empty.
        if any(c not in LAYOUT for c in df.columns):
            df.write.mode("append").partitionBy(*LAYOUT).format(self.data_format).save(self.root)
        counts = self.count_partitions(targets)
        extracted_at = datetime.now(timezone.utc)
        sealed = [{"api_version": None, "query_signature": None, **m,
                   "extracted_at": extracted_at, "record_count": counts.get(t, 0)}
                  for m, t in zip(metas, targets)]
        self.seal_many(sealed)
        return sealed

    def seal(self, meta: dict) -> None:
        """Seal one partition (marker first, then manifest row)."""
        self.seal_many([meta])

    def seal_many(self, metas: list[dict]) -> None:
        """Batch seal: one marker per partition + ONE manifest append for
        the whole batch (manifest file count stays proportional to jobs,
        not partitions — the small-files fix). The rows go through Arrow
        (``local_frame``), so the append is a one-task JVM write with no
        Python worker. ``extracted_at`` is an instant: pass it tz-aware
        (a naive value is read as UTC)."""
        if not metas:
            return
        markers = {}
        for meta in metas:
            key = PartitionKey.of(meta)
            marker = self._marker_path(key, meta["run_id"])
            if self._path_exists(marker):
                raise SealedPartitionError(
                    f"partition {key} run_id={meta['run_id']} is already sealed"
                )
            markers[marker] = meta
        for marker, meta in markers.items():
            self._write_file_atomic(marker, json.dumps({k: str(v) for k, v in meta.items()}))
        rows = local_frame(self.spark, metas, MANIFEST_SCHEMA)
        rows.coalesce(1).write.mode("append").parquet(self._manifest_dir)

    def compact_manifest(self) -> int:
        """Rewrite the manifest directory into a single file (returns the
        file count before compaction).

        Append-only manifests accumulate one file per seal batch; a
        long-running deployment compacts periodically so manifest reads
        stay one-task. Single-writer discipline (only the sealing process
        writes the manifest — same rule as the reference's state store,
        docs/state_store_contract.md:32-33) makes the swap safe: write
        compacted data aside, then replace the directory.
        """
        fs, hdir = self._fs(self._manifest_dir)
        if not fs.exists(hdir):
            return 0
        before = sum(1 for f in fs.listStatus(hdir)
                     if f.getPath().getName().endswith(".parquet"))
        if before <= 1:
            return before
        rows = self.manifest()
        tmp = self._manifest_dir + ".compact"
        rows.coalesce(1).write.mode("overwrite").parquet(tmp)
        old = self._manifest_dir + ".old"
        jvm = self.spark._jvm
        fs.rename(hdir, jvm.org.apache.hadoop.fs.Path(old))
        fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), hdir)
        fs.delete(jvm.org.apache.hadoop.fs.Path(old), True)
        return before

    # -- read path --------------------------------------------------------

    def read_partition(self, key: PartitionKey, run_id: str,
                       schema: T.StructType | None = None) -> DataFrame:
        """One sealed partition: payload plus the five layout columns."""
        if not self.is_sealed(key, run_id):
            raise FileNotFoundError(
                f"partition {key} run_id={run_id} is not sealed (unsealed ⇒ invisible)"
            )
        return self.read_partitions([(key, run_id)], schema)

    def read_partitions(self, targets, schema: T.StructType | None = None) -> DataFrame:
        """Rows of the given ``(key, run_id)`` partitions: payload plus the
        five layout columns. Only those directories are listed and opened
        (absent ones contribute nothing), so neither the zone's history
        nor a bad file outside them affects the read."""
        paths = [self.partition_path(k, r) for k, r in targets]
        return self._read([p for p in paths if self._path_exists(p)], schema)

    def count_partitions(self, targets) -> dict[tuple[PartitionKey, str], int]:
        """Row counts of the given ``(key, run_id)`` partitions from one
        grouped read of just their directories; an absent or empty one
        has no entry. The empty read schema skips inference, yet every
        JSON row is parsed (FAILFAST), so a malformed line fails the
        count."""
        rows = (self.read_partitions(targets, schema=T.StructType([]))
                .groupBy(*LAYOUT).count().collect())
        return {(PartitionKey.of(r), r["run_id"]): r["count"] for r in rows}

    def read_all(self, schema: T.StructType | None = None) -> DataFrame:
        """Read the whole zone with hive partition discovery (payload +
        the five layout columns)."""
        return self._read([self.root] if self._path_exists(self.root) else [], schema)

    def _read(self, paths: list[str], schema: T.StructType | None) -> DataFrame:
        """Layout columns come back as written (customer ``0123`` stays
        ``"0123"``): the read schema is the payload's, given or inferred
        once, plus ``LAYOUT_SCHEMA``, and Spark types partition columns
        from a user schema instead of inferring them."""
        if schema is None and paths:
            try:
                schema = self._reader().load(paths).schema
            except AnalysisException as exc:
                # Only empty partitions: no file to take a schema from.
                if "UNABLE_TO_INFER_SCHEMA" not in str(exc):
                    raise
        payload = [f for f in (schema.fields if schema else []) if f.name not in LAYOUT]
        full = T.StructType([*payload, *LAYOUT_SCHEMA.fields])
        if not paths:
            return local_frame(self.spark, [], full)
        return self._reader().schema(full).load(paths)

    def _reader(self):
        reader = self.spark.read.format(self.data_format).option("basePath", self.root)
        if self.data_format == "json":
            reader = reader.option("mode", "FAILFAST")
        return reader

    def list_run_ids(self, key: PartitionKey) -> list[str]:
        """Sorted run_ids of a logical partition, from the manifest (S8)."""
        rows = (
            self.manifest()
            .where(
                (F.col("source") == key.source)
                & (F.col("customer_id") == key.customer_id)
                & (F.col("query_name") == key.query_name)
                & (F.col("logical_date") == F.lit(key.logical_date))
            )
            .select(F.sort_array(F.collect_set("run_id")).alias("run_ids"))
            .collect()
        )
        return rows[0]["run_ids"] if rows else []
