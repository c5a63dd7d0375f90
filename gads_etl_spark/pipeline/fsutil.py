"""Hadoop FileSystem helpers shared by every control-plane storage layer.

All control/metadata I/O (raw-zone seals, state/pointer CURRENT swaps,
version manifests) must go through the Hadoop FS API so the SAME code runs
on ``file://``, ``viewfs://``, ``hdfs://`` and ``s3a://`` roots — a Python
``open()``/``os.replace`` shortcut silently confines a component to the
driver's local disk, which is exactly the portability gap the reference's
SQLite ledger has (reference src/gads_etl/state_store.py:40-59) and this
engine must not reproduce.

Every helper takes ``(spark, path)`` and resolves the filesystem from the
path's scheme against the session's Hadoop configuration, so mount tables
(viewfs) and per-bucket credentials (s3a) behave exactly as they would for
Spark's own readers and writers.
"""

from __future__ import annotations

import uuid
import weakref

#: SparkContext → (Hadoop ``Path`` class, the context's live Hadoop
#: configuration). Resolving either costs Py4J round trips (one per
#: package segment for the class), and every helper below needs both.
_HADOOP: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def get_fs(spark, path: str):
    """Resolve ``(FileSystem, Path)`` for a URI or local path."""
    sc = spark.sparkContext
    hadoop = _HADOOP.get(sc)
    if hadoop is None:
        hadoop = _HADOOP[sc] = (sc._jvm.org.apache.hadoop.fs.Path,
                                sc._jsc.hadoopConfiguration())
    path_class, conf = hadoop
    hpath = path_class(path)
    return hpath.getFileSystem(conf), hpath


def exists(spark, path: str) -> bool:
    fs, hpath = get_fs(spark, path)
    return fs.exists(hpath)


def mkdirs(spark, path: str) -> None:
    fs, hpath = get_fs(spark, path)
    fs.mkdirs(hpath)


def delete(spark, path: str, recursive: bool = True) -> bool:
    fs, hpath = get_fs(spark, path)
    return fs.delete(hpath, recursive)


def list_names(spark, path: str) -> list[str]:
    """Child entry names of a directory ([] when it does not exist)."""
    fs, hpath = get_fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [status.getPath().getName() for status in fs.listStatus(hpath)]


def read_text(spark, path: str) -> str | None:
    """Full contents of a small text file, or None when absent.

    Meant for pointers and manifests (tens of bytes to a few KB) — data
    files always go through Spark readers.
    """
    fs, hpath = get_fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        # commons-io ships on Spark's classpath; one call reads the stream
        # without a per-byte Py4J round trip.
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def publish_text_claim(spark, path: str, content: str) -> None:
    """Atomically publish a small text file WITH its full content, failing
    with ``FileExistsError`` when the destination already exists.

    This is the commit primitive for the versioned-table protocol. Unlike
    a create-exclusive-then-write sequence (which leaves a window
    where the destination exists with zero/partial bytes), the payload is
    first written completely to a uniquified temp sibling and then moved
    onto the destination with no-overwrite semantics — so the claim and
    the content land together. A reader or racing writer can never observe
    the destination half-written: destination-exists ⟹ full content
    present.

    Scheme-specific move:

    - ``hdfs://`` (and other Hadoop FSes with HDFS rename semantics):
      ``FileSystem.rename(tmp, dst)`` — the namenode arbitrates; the
      rename is atomic and returns false when ``dst`` exists, so of two
      racers exactly one wins.
    - ``file://`` / bare local paths: POSIX ``rename(2)`` silently
      overwrites, so a hard link (``os.link``) provides the atomic
      fail-on-existing claim instead; the kernel arbitrates via EEXIST.
    """
    fs, hpath = get_fs(spark, path)
    uri = fs.makeQualified(hpath).toUri()
    if uri.getScheme() in (None, "file"):
        import os

        dst = uri.getPath()
        tmp = f"{dst}.tmp-{uuid.uuid4().hex[:8]}"
        # Hadoop's create() makes parent dirs implicitly; match that.
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        with open(tmp, "w", encoding="utf-8") as handle:
            handle.write(content)
            handle.flush()
            os.fsync(handle.fileno())
        try:
            os.link(tmp, dst)
        except FileExistsError:
            raise FileExistsError(path) from None
        finally:
            os.unlink(tmp)
        return
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}.tmp-{uuid.uuid4().hex[:8]}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    # Existence precheck: on HDFS it is merely a fast-fail (the rename
    # below is the arbitrated claim), but on filesystems whose rename
    # OVERWRITES an existing destination (raw local under a viewfs
    # mount) it is what makes the SEQUENTIAL collision case exact — a
    # stale writer must raise, never clobber a committed manifest.
    if fs.exists(hpath):
        fs.delete(tmp, False)
        raise FileExistsError(path)
    if not fs.rename(tmp, hpath):
        fs.delete(tmp, False)
        raise FileExistsError(path)
    # Defense-in-depth for filesystems whose rename OVERWRITES an
    # existing destination (raw local FS under a viewfs mount; HDFS
    # returns false instead, arbitrated by the namenode, and needs no
    # check): read back and require our own payload, so a writer whose
    # manifest was clobbered before its read-back raises instead of
    # reporting a commit that is not on disk. This narrows the
    # lost-update window on such filesystems to the rename→read-back
    # gap — it cannot close it (an overwriting rename admits no true
    # exclusive claim) — at the cost of one sub-KB read per commit.
    # Production deployments should put control roots on a filesystem
    # with non-overwriting rename (HDFS) or hard links (file://).
    if read_text(spark, path) != content:
        raise FileExistsError(path)


def modification_time_ms(spark, path: str) -> int | None:
    """Filesystem modification time of ``path`` in epoch millis, or None
    when the path does not exist. Used by age-gated garbage collection."""
    fs, hpath = get_fs(spark, path)
    if not fs.exists(hpath):
        return None
    return fs.getFileStatus(hpath).getModificationTime()


def write_text_atomic(spark, path: str, content: str) -> None:
    """Create-then-rename publish of a small text file.

    The temp name is uniquified so concurrent writers on an FS with
    fail-on-existing-destination rename semantics (HDFS) cannot collide on
    the temp path. If the destination already exists and the filesystem
    refuses to clobber it on rename, fall back to delete-then-rename —
    acceptable under the single-writer discipline every control table here
    documents (reference docs/state_store_contract.md:32-33).
    """
    fs, hpath = get_fs(spark, path)
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(f"{path}.tmp-{uuid.uuid4().hex[:8]}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(tmp, hpath):
        fs.delete(hpath, False)
        if not fs.rename(tmp, hpath):
            raise IOError(f"atomic publish failed for {path}")
