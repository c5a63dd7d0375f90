"""PartitionState ledger: tri-state control table with MERGE semantics.

Contract parity (reference src/gads_etl/state_store.py:44-57,
docs/state_store_contract.md):

- One row per logical partition; status ∈ {pending, success, failed};
  *absence of a row means implicit pending* (contract line 14) — callers
  anti-join an expected-partition universe to find implicit pendings.
- Upsert = ``INSERT ... ON CONFLICT DO UPDATE`` (state_store.py:123-163);
  here a MERGE: union current+updates, keep the update row per key.
- Single-writer discipline (only validators/control-plane write —
  docs/state_store_contract.md:32-33), preserved as a documented invariant.

Storage is a hash-bucketed, versioned parquet table with an atomically
swapped CURRENT pointer — the same metadata-last publish trick as the raw
zone, applied to a control table. This is deliberately Delta-shaped: each
commit writes a version *manifest* (bucket → file path), and a MERGE
rewrites ONLY the buckets containing touched keys, carrying the untouched
buckets over by reference. On a cluster with Delta available, ``MERGE
INTO`` replaces this layer one-for-one. At the reference's projected scale
(~10M logical partitions at 100 TB) a validator batch touching a few
hundred keys rewrites O(|Δ| + |table|/n_buckets) rows across a handful of
parallel tasks — not the whole table through one task.

Every filesystem touch goes through the Hadoop FS API (``fsutil``), so a
``viewfs://``, ``hdfs://`` or ``s3a://`` root works exactly like a local
path — the control plane can live on the same shared storage as the data.

Operator note — control-root filesystem choice: commit exclusivity comes
from ``fsutil.publish_text_claim``, which is truly arbitrated only on
filesystems with a fail-on-existing claim primitive: HDFS (rename returns
false when the destination exists) or ``file://`` (hard-link EEXIST). On
filesystems whose rename OVERWRITES the destination (raw local under a
viewfs mount; rename-emulating object stores), two CONCURRENT publishers
can both believe they committed — the loser's manifest is silently
replaced in the rename→read-back gap, and the read-back defense only
narrows that window (fsutil.py:133-147). Run concurrent control-plane
writers only against HDFS-like or file:// control roots; elsewhere the
documented single-writer discipline (docs/state_store_contract.md:32-33)
is load-bearing, not advisory.
"""

from __future__ import annotations

import json
import uuid
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from gads_etl_spark.pipeline import fsutil, spark_hash
from gads_etl_spark.pipeline.frames import local_frame
from gads_etl_spark.pipeline.keys import LOGICAL_KEY

STATE_SCHEMA = T.StructType([
    T.StructField("source", T.StringType(), False),
    T.StructField("customer_id", T.StringType(), False),
    T.StructField("query_name", T.StringType(), False),
    T.StructField("logical_date", T.DateType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("current_run_id", T.StringType(), True),
    T.StructField("schema_version", T.StringType(), True),
    T.StructField("record_count", T.LongType(), True),
    T.StructField("updated_at", T.TimestampType(), False),
    T.StructField("error_message", T.StringType(), True),
    T.StructField("attempt_count", T.IntegerType(), True),
])

VALID_STATUSES = ("pending", "success", "failed")


def merge_upsert(current: DataFrame, updates: DataFrame,
                 key_cols: tuple[str, ...]) -> DataFrame:
    """Relational MERGE: updates win over current on key collision.

    Implemented as union + row_number over (key ORDER BY priority) — one
    shuffle on the key, no driver-side loop, scales to any table size.
    """
    cur = current.withColumn("_prio", F.lit(1))
    upd = updates.select(*current.columns).withColumn("_prio", F.lit(0))
    w = Window.partitionBy(*key_cols).orderBy("_prio")
    return (
        cur.unionByName(upd)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_prio", "_rn")
    )


#: Directory-name prefix for bucket partitions. Deliberately NOT
#: underscore-prefixed: Hadoop readers hide `_`-prefixed paths.
_BUCKET_COL = "bucket"


class ConcurrentCommitError(RuntimeError):
    """Another commit claimed this table's next sequence number first.

    Not merely optimistic detection: the commit record IS the manifest
    file, named by bare sequence number and published atomically WITH its
    full content (temp-sibling write, then a fail-on-existing move — hard
    link on local, no-overwrite rename on HDFS). Of two writers racing
    from the same parent the filesystem admits exactly one, even when
    interleaved at any point — including a writer paused anywhere inside
    its publish, because the destination never exists without its full
    payload. Single-writer remains the operating contract
    (docs/state_store_contract.md:32-33); this makes violations loud
    instead of silently losing an update."""


class _VersionedTable:
    """Hash-bucketed parquet versions committed via create-exclusive.

    Layout under ``root`` (any Hadoop FS URI):

    - ``_versions/v_<seq>.json`` — one manifest per commit, named by the
      bare zero-padded sequence number:
      ``{"version", "seq", "parent", "buckets": {"<k>": "<dir uri>"}}``.
      Lexicographic manifest-name order == commit order.
    - ``data/<version>-<token>/bucket=<k>/`` — parquet written by ONE
      commit attempt (token uniquifies racing attempts, so losers never
      collide on a data path). A manifest may reference bucket dirs of
      OLDER versions: that is the carry-over that makes MERGE O(touched
      buckets). Unreferenced data dirs (crashed/losing attempts) are
      garbage-collected by ``vacuum``.
    - ``CURRENT`` — advisory cache of the live version name for humans
      and debugging; readers derive truth from the manifest listing.

    Commit protocol: a version is committed iff its manifest file exists
    AND parses as JSON. The manifest is published via
    ``fsutil.publish_text_claim`` — the full payload is written to a
    uniquified temp sibling, then moved onto the seq-named destination
    with fail-on-existing semantics (hard link on local, no-overwrite
    rename on HDFS). The filesystem serializes two writers racing to the
    same seq, so the loser fails with ``ConcurrentCommitError`` before
    any reader could observe it — and because the claim and the content
    land in one atomic move, a manifest can never be observed empty or
    partial, even while its writer is mid-publish. A crashed publish
    leaves at most a ``*.tmp-*`` sibling (ignored by readers, aged out by
    ``vacuum``), never a corpse at the final path; the corpse-reclaim
    path below survives only as defense-in-depth for manifests damaged by
    outside interference, and is safe precisely because exists ⟹
    full-content: an unparseable final manifest cannot be a live writer's
    in-flight publish.
    """

    def __init__(self, spark: SparkSession, root: str, schema: T.StructType,
                 key_cols: tuple[str, ...] | None = None, n_buckets: int = 16):
        self.spark = spark
        self.root = root.rstrip("/")
        self.schema = schema
        self.key_cols = tuple(key_cols) if key_cols else None
        self.n_buckets = n_buckets if key_cols else 1
        if _BUCKET_COL in schema.fieldNames():
            raise ValueError(f"schema may not contain a {_BUCKET_COL!r} column")
        #: Per-instance memo of PARSED manifests. Safe because a committed
        #: manifest is immutable (atomic publish-with-content; only vacuum
        #: deletes, which also invalidates). Turns the O(#versions)
        #: read_text round-trips of history()/vacuum/current-derivation
        #: into one listing + cache hits.
        self._manifest_memo: dict[str, dict] = {}
        fsutil.mkdirs(spark, self.root)

    # -- pointer + manifests ---------------------------------------------

    @property
    def _pointer(self) -> str:
        return f"{self.root}/CURRENT"

    @property
    def _versions_dir(self) -> str:
        return f"{self.root}/_versions"

    def _manifest_names(self) -> list[str]:
        """All manifest file stems (committed or corpse), seq order."""
        return sorted(
            name[: -len(".json")]
            for name in fsutil.list_names(self.spark, self._versions_dir)
            if name.endswith(".json")
        )

    def _try_manifest(self, version: str) -> dict | None:
        """Parsed manifest, or None when absent/unparseable (not
        committed). Parses are memoized per instance — a committed
        manifest is immutable, so a cache hit skips the filesystem
        round-trip; only successful parses are cached (an unparseable or
        absent path may legitimately become a real manifest later)."""
        memo = self._manifest_memo.get(version)
        if memo is not None:
            return memo
        text = fsutil.read_text(
            self.spark, f"{self._versions_dir}/{version}.json")
        if text is None:
            return None
        try:
            manifest = json.loads(text)
        except ValueError:
            return None
        self._manifest_memo[version] = manifest
        return manifest

    def _manifest(self, version: str) -> dict:
        manifest = self._try_manifest(version)
        if manifest is None:
            raise KeyError(f"unknown or uncommitted version {version!r}")
        return manifest

    def _current_manifest(self) -> dict | None:
        """Highest committed (= parseable) manifest; the listing is the
        source of truth, the CURRENT pointer file is only a cache."""
        for version in reversed(self._manifest_names()):
            manifest = self._try_manifest(version)
            if manifest is not None:
                return manifest
        return None

    def _current_version(self) -> str | None:
        manifest = self._current_manifest()
        return manifest["version"] if manifest else None

    def _next_version(self, parent: dict | None) -> str:
        seq = (parent["seq"] + 1) if parent else 1
        return f"v_{seq:010d}"

    def _publish(self, version: str, parent: dict | None,
                 buckets: dict[str, str]) -> None:
        """Commit by exclusive-creating the seq-named manifest.

        The early staleness check gives a cheap, well-messaged failure
        when the table visibly advanced; the atomic publish-with-content
        move is the authoritative serializer — it wins even for
        interleavings the check cannot see, because only one writer can
        land ``_versions/<version>.json``, and the payload arrives in the
        same filesystem operation as the claim (no empty-file window). An
        unparseable occupant can therefore only be outside damage, never
        a live writer mid-publish, so reclaiming its seq (delete, retry
        the claim) is race-free."""
        live = self._current_version()
        expected = parent["version"] if parent else None
        if live != expected:
            raise ConcurrentCommitError(
                f"table at {self.root} moved from {expected!r} to {live!r} "
                "during a read-modify-write commit; re-read and retry"
            )
        manifest = {
            "version": version,
            "seq": (parent["seq"] + 1) if parent else 1,
            "parent": parent["version"] if parent else None,
            "buckets": buckets,
        }
        path = f"{self._versions_dir}/{version}.json"
        payload = json.dumps(manifest, sort_keys=True)
        try:
            fsutil.publish_text_claim(self.spark, path, payload)
        except FileExistsError:
            if self._try_manifest(version) is not None:
                raise ConcurrentCommitError(
                    f"version {version!r} at {self.root} was committed by "
                    "another writer; re-read and retry"
                ) from None
            # Corpse reclaim (defense-in-depth): the occupant cannot be a
            # live writer's in-flight publish — publish lands content
            # atomically with the claim — so an unparseable file is dead.
            fsutil.delete(self.spark, path, recursive=False)
            try:
                fsutil.publish_text_claim(self.spark, path, payload)
            except FileExistsError:
                raise ConcurrentCommitError(
                    f"version {version!r} at {self.root} was claimed while "
                    "reclaiming a damaged manifest; re-read and retry"
                ) from None
        self._manifest_memo[version] = manifest
        fsutil.write_text_atomic(self.spark, self._pointer, version)

    # -- bucketing --------------------------------------------------------

    def _bucket_expr(self):
        if self.key_cols is None:
            return F.lit(0)
        # Murmur3 via F.hash: deterministic across sessions/partitionings,
        # evaluated JVM-side.
        return F.pmod(F.hash(*self.key_cols), F.lit(self.n_buckets))

    def _snapshot(self, df: DataFrame,
                  schema: T.StructType) -> tuple[pa.Table, list[int]]:
        """``df``'s ``schema`` columns on the driver as Arrow, plus the
        buckets its keys fall in, from one job. Only for Δ-sized control
        batches (validator outcomes, publish and demote sets): every later
        step of a MERGE or delete reads this snapshot as a local frame,
        so the batch's lineage runs once and the bucket probe costs no
        job of its own."""
        rows = df.select(*schema.fieldNames(), self._bucket_expr().alias(_BUCKET_COL)).toArrow()
        touched = sorted(set(rows.column(_BUCKET_COL).to_pylist()))  # ≤ n_buckets
        return rows.drop_columns(_BUCKET_COL), touched

    def _key_schema(self) -> T.StructType:
        return T.StructType([self.schema[c] for c in self.key_cols])

    def _touched_buckets(self, df: DataFrame) -> list[int]:
        return self._snapshot(df, self._key_schema())[1]

    def _write_buckets(self, df: DataFrame, version: str,
                       width: int | None = None) -> dict[str, str]:
        """Write ``df`` hash-partitioned by bucket; return bucket → dir.

        One shuffle with bounded width (``width`` tasks, n_buckets by
        default; a MERGE passes its touched-bucket count, so a one-key
        batch is one write task, not n_buckets) replaces the old
        ``coalesce(1)`` single-task rewrite; the hive-style ``bucket=``
        write yields at most a few files per bucket. The data dir carries
        a per-attempt token: two writers racing to the same version write
        disjoint dirs, and the losing attempt's dir — referenced by no
        manifest — is garbage-collected by ``vacuum``.
        """
        data_dir = f"{self.root}/data/{version}-{uuid.uuid4().hex[:6]}"
        (
            df.select([f.name for f in self.schema.fields])
            .withColumn(_BUCKET_COL, self._bucket_expr())
            .repartition(width or self.n_buckets, _BUCKET_COL)
            .write.partitionBy(_BUCKET_COL)
            .parquet(data_dir)
        )
        out: dict[str, str] = {}
        for name in fsutil.list_names(self.spark, data_dir):
            if name.startswith(f"{_BUCKET_COL}="):
                out[name.split("=", 1)[1]] = f"{data_dir}/{name}"
        return out

    def _read_paths(self, paths: list[str]) -> DataFrame:
        if not paths:
            return local_frame(self.spark, [], self.schema)
        return self.spark.read.schema(self.schema).parquet(*paths)

    # -- public API -------------------------------------------------------

    def read(self) -> DataFrame:
        manifest = self._current_manifest()
        return self._read_paths(list(manifest["buckets"].values()) if manifest else [])

    def read_bucket_for(self, key_values: tuple) -> DataFrame:
        """Read ONLY the bucket that can contain ``key_values`` — the
        point-lookup path. A fleet-sized ledger (10M rows) makes a
        full-scan-then-filter lookup O(|table|); hashing the key to its
        bucket first reads O(|table|/n_buckets) — measured 2.2x faster
        at 10M rows / 64 buckets on local[32] (SCALING.md round-12
        state-ledger probe; the win is larger on a cluster, where the
        full scan schedules n_buckets tasks across executors while the
        pruned path reads one file).

        The literals are cast to the key columns' declared types before
        hashing: Murmur3 over a string ``'2024-01-01'`` and over the
        DATE it denotes differ, and a silent type mismatch here would
        prune to the WRONG bucket — returning "absent" for a present
        key. Callers still filter the returned bucket by the full key
        (hash collisions share buckets by design).
        """
        if self.key_cols is None:
            return self.read()
        manifest = self._current_manifest()
        if manifest is None:
            return self._read_paths([])
        types = {f.name: f.dataType for f in self.schema.fields}
        dtypes = tuple(types[c] for c in self.key_cols)
        # Driver-side Murmur3 (spark_hash.py, property-pinned against the
        # engine expression) — no Spark job per lookup. Keys outside the
        # implemented type subset evaluate engine-side instead: the two
        # routes are hash-identical by test, never by assumption.
        b = spark_hash.bucket_for(tuple(key_values), dtypes, self.n_buckets)
        if b is None:
            lits = [F.lit(v).cast(types[c])
                    for c, v in zip(self.key_cols, key_values)]
            b = self.spark.range(1).select(
                F.pmod(F.hash(*lits), F.lit(self.n_buckets)).alias("b")
            ).collect()[0]["b"]
        path = manifest["buckets"].get(str(b))
        # A bucket that currently holds no rows at all has no path.
        return self._read_paths([path] if path else [])

    def commit(self, df: DataFrame) -> None:
        """Full-table replace: write every bucket fresh, swap the pointer.

        Readers see either the old or the new version — never a partial
        table (the control-plane analogue of the metadata-last seal).
        Old versions stay on disk until ``vacuum`` — free time travel
        for audits of control-table transitions.
        """
        parent = self._current_manifest()
        version = self._next_version(parent)
        buckets = self._write_buckets(df, version)
        self._publish(version, parent, buckets)

    def merge(self, updates: DataFrame,
              check: Callable[[pa.Table], None] | None = None) -> None:
        """MERGE touching only buckets that contain updated keys — O(Δ).

        Buckets without any updated key are carried into the new manifest
        by reference: their files are not read, not rewritten, not moved.
        The updates (often a validator join) are Δ-sized by contract and
        come to the driver once (``_snapshot``); ``check`` vets those rows
        before anything is written.
        """
        if self.key_cols is None:
            raise ValueError("merge requires key_cols")
        rows, touched = self._snapshot(updates, self.schema)
        if check is not None:
            check(rows)
        updates = local_frame(self.spark, rows, self.schema)
        parent = self._current_manifest()
        version = self._next_version(parent)
        if parent is None or not parent["buckets"]:
            self._publish(version, parent,
                          self._write_buckets(updates, version, len(touched)))
            return
        buckets = dict(parent["buckets"])
        current = self._read_paths(
            [buckets[str(k)] for k in touched if str(k) in buckets]
        )
        merged = merge_upsert(current, updates, self.key_cols)
        buckets.update(self._write_buckets(merged, version, len(touched)))
        self._publish(version, parent, buckets)

    def delete_keys(self, keys: DataFrame) -> None:
        """Anti-join delete touching only buckets containing the keys."""
        if self.key_cols is None:
            raise ValueError("delete_keys requires key_cols")
        parent = self._current_manifest()
        if parent is None or not parent["buckets"]:
            return
        rows, touched = self._snapshot(keys, self._key_schema())
        buckets = dict(parent["buckets"])
        touched_present = [k for k in touched if str(k) in buckets]
        if not touched_present:
            return
        current = self._read_paths([buckets[str(k)] for k in touched_present])
        remaining = current.join(
            local_frame(self.spark, rows, self._key_schema()).distinct(),
            list(self.key_cols), "left_anti",
        )
        version = self._next_version(parent)
        rewritten = self._write_buckets(remaining, version, len(touched_present))
        for k in touched_present:
            if str(k) in rewritten:
                buckets[str(k)] = rewritten[str(k)]
            else:
                buckets.pop(str(k))  # every row of the bucket was deleted
        self._publish(version, parent, buckets)

    def history(self) -> list[str]:
        """Committed versions, oldest first (zero-padded seq in the name).

        Corpses (unparseable manifests from crashed writers) are excluded:
        a version exists iff its manifest parses."""
        return [v for v in self._manifest_names()
                if self._try_manifest(v) is not None]

    def read_version(self, version: str) -> DataFrame:
        """Time travel: read a specific committed version."""
        manifest = self._manifest(version)
        return self._read_paths(list(manifest["buckets"].values()))

    #: Default GC grace period for data dirs referenced by no manifest.
    #: A commit writes its data dir BEFORE publishing its manifest, so an
    #: unreferenced dir is an expected transient state of a live commit,
    #: not an anomaly — Delta-style tombstone retention keeps a vacuum
    #: overlapping an in-flight commit from collecting the attempt's data
    #: out from under its about-to-land manifest.
    GC_RETENTION_MS = 60 * 60 * 1000

    def vacuum(self, keep: int = 5,
               retention_ms: int | None = None) -> int:
        """Drop all but the newest ``keep`` versions (never the current).

        A data directory survives as long as ANY kept manifest still
        references one of its buckets (carry-over means old commits' files
        can back newer manifests). Unreferenced data dirs — crashed or
        losing attempts, but also *live commits between data write and
        manifest publish* — are age-gated: only dirs whose modification
        time is older than ``retention_ms`` (default
        ``GC_RETENTION_MS``, 1h) are collected, so a vacuum running
        concurrently with a commit cannot GC the attempt's buckets before
        its manifest lands. Pass ``retention_ms=0`` only when no commit
        can be in flight (tests, offline maintenance). Returns the number
        of versions removed.
        """
        if retention_ms is None:
            retention_ms = self.GC_RETENTION_MS
        hist = self.history()
        current = self._current_version()
        drop = [v for v in hist[:-keep] if v != current] if len(hist) > keep else []
        kept = [v for v in hist if v not in drop]
        referenced: set[str] = set()
        for v in kept:
            for path in self._manifest(v)["buckets"].values():
                # .../data/<version>/bucket=<k> → <version>
                referenced.add(path.rstrip("/").split("/")[-2])
        import time

        cutoff = int(time.time() * 1000) - retention_ms
        for name in fsutil.list_names(self.spark, f"{self.root}/data"):
            if name in referenced:
                continue
            path = f"{self.root}/data/{name}"
            mtime = fsutil.modification_time_ms(self.spark, path)
            if mtime is not None and mtime > cutoff:
                continue  # young enough to be a live commit's attempt
            fsutil.delete(self.spark, path)
        for name in fsutil.list_names(self.spark, self._versions_dir):
            # Crashed publishes leave *.tmp-* siblings; same age gate.
            if ".tmp-" in name:
                path = f"{self._versions_dir}/{name}"
                mtime = fsutil.modification_time_ms(self.spark, path)
                if mtime is None or mtime <= cutoff:
                    fsutil.delete(self.spark, path, recursive=False)
        for v in drop:
            fsutil.delete(self.spark, f"{self._versions_dir}/{v}.json")
            self._manifest_memo.pop(v, None)
        return len(drop)


def _check_statuses(rows: pa.Table) -> None:
    if not set(rows.column("status").to_pylist()) <= set(VALID_STATUSES):
        raise ValueError(f"status must be one of {VALID_STATUSES}")


class StateStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self._table = _VersionedTable(spark, root, STATE_SCHEMA,
                                      key_cols=LOGICAL_KEY)

    def read(self) -> DataFrame:
        return self._table.read()

    def upsert(self, updates: DataFrame) -> None:
        """MERGE updates into the ledger (M1 — state_store.py:123-163).
        Only buckets containing updated keys are rewritten."""
        self._table.merge(updates, check=_check_statuses)

    def commit(self, full_state: DataFrame) -> None:
        """Replace the whole ledger (control-plane bulk transitions)."""
        self._table.commit(full_state)

    def get(self, key) -> dict | None:
        """Composite-key point lookup (P5 — state_store.py:61-73).

        Bucket-pruned: hashes the key to its bucket and reads only that
        bucket's files — O(|table|/n_buckets), not a ledger scan."""
        rows = (
            self._table.read_bucket_for(
                (key.source, key.customer_id, key.query_name,
                 key.logical_date))
            .where(
                (F.col("source") == key.source)
                & (F.col("customer_id") == key.customer_id)
                & (F.col("query_name") == key.query_name)
                & (F.col("logical_date") == F.lit(key.logical_date))
            )
            .collect()
        )
        return rows[0].asDict() if rows else None

    def list_states(
        self,
        status: str | None = None,
        customer_id: str | None = None,
        query_name: str | None = None,
        since=None,
        until=None,
        limit: int | None = None,
    ) -> DataFrame:
        """Filtered listing, newest first (P3/P4/O1/O2 —
        state_store.py:75-121: dynamic WHERE + ORDER BY updated_at DESC)."""
        df = self.read()
        if status is not None:
            df = df.where(F.col("status") == status)
        if customer_id is not None:
            df = df.where(F.col("customer_id") == customer_id)
        if query_name is not None:
            df = df.where(F.col("query_name") == query_name)
        if since is not None:
            df = df.where(F.col("logical_date") >= F.lit(since))
        if until is not None:
            df = df.where(F.col("logical_date") <= F.lit(until))
        df = df.orderBy(F.desc("updated_at"))
        if limit is not None:
            df = df.limit(limit)
        return df
