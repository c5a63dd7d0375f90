"""SparkSession factory with scale-oriented defaults.

Tuned for correctness on local[32] while keeping every knob one a real
1000-executor cluster would also want: AQE (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for the few pandas-UDF paths, UTC
session time (the reference normalizes everything to UTC —
reference: src/gads_etl/run_context.py:8-14, config/google_apis.yaml:2).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Default -Xmx for the single local JVM: half of physical RAM,
    capped at 31g (the compressed-oops cliff — see _SCALE_DEFAULTS
    comment), floored at 2g. Reads /proc/meminfo (Linux harness);
    elsewhere falls back to POSIX sysconf for total RAM, and only if
    BOTH probes fail uses a conservative 4g (never the 31g cap — a
    16 GB laptop must not get -Xmx31g). SPARK_GRAFT_DRIVER_MEM is the
    override everywhere."""
    total_g = None
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_g = int(line.split()[1]) // (1024 * 1024)
                    break
    except OSError:
        pass
    if total_g is None:
        try:  # macOS/BSD: no /proc, but sysconf still reports RAM
            total_g = (os.sysconf("SC_PHYS_PAGES")
                       * os.sysconf("SC_PAGE_SIZE")) // (1024 ** 3)
        except (ValueError, OSError, AttributeError):
            pass
    if total_g is None:
        return "4g"
    return f"{max(2, min(31, total_g // 2))}g"


#: Defaults chosen for 100 TB thinking, not just the local harness:
#: - AQE on: runtime shuffle-partition coalescing + skew-join handling.
#: - autoBroadcastJoinThreshold raised: dimension tables (region/nation/
#:   customer at warehouse scale the control tables) should broadcast.
#: - shuffle.partitions sized to cores locally; on a cluster this is
#:   overridden per-job (or left to AQE's coalescing with a high initial).
_SCALE_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    # Let Python DataSource connectors (sources/ads_source.py) receive
    # pushed filters for partition pruning.
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Streaming state on RocksDB, not the default HDFS-backed provider:
    # the default holds EVERY state row (sessions, dedup keys, join
    # buffers) in executor heap — the first OOM at 100 TB event scale.
    # RocksDB keeps state on local disk with a block cache, and changelog
    # checkpointing uploads per-batch deltas instead of full snapshots.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
        "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    # local[N] puts driver AND all executor threads in ONE JVM, so this
    # is the whole cluster's memory. 8g (the old default) was fine up to
    # the 10x tier but dies at 100x: 32 concurrent tasks sharing 8g
    # exhausted the heap materializing a 240M-row window+checkpoint
    # (GCLocker allocation-retry death spiral, SparkContext shutdown).
    # 31g, NOT 32g: at -Xmx >= 32 GiB HotSpot disables compressed oops
    # (8-byte object pointers everywhere) — measured +18% on the
    # sub-second headline queries at 32g vs 8g, half of it recovered by
    # stepping just under the cliff (SCALING.md round-11). Capacity is
    # identical for the sf10 tier. Capped at ~half of physical RAM so
    # small hosts aren't OS-OOM-killed by a default tuned for the
    # 128 GiB harness; env-overridable either way.
    "spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
    # Managed-table warehouse (bucketed tables, operators/layout.py);
    # kept out of the repo tree locally, set to the lake root on a cluster.
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/gads_etl_spark_warehouse"),
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def run_context(spark: SparkSession) -> dict:
    """What a timing taken on ``spark`` depends on besides the code:
    local cores, the master string and the shuffle partition count."""
    return {
        "cpus": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }


def get_session(app_name: str = "gads_etl_spark", cpus: int | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults."""
    n = cpus or default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(f"local[{n}]")
    conf = dict(_SCALE_DEFAULTS)
    # 4x cores by default (round 15; SPARK_GRAFT_SHUFFLE_PARTITIONS
    # still overrides). Cores-sized (the old default) was right up to
    # the 100x tier, but the sf100 probes measured its failure mode
    # (round 14): with 32 partitions over 600M-row shuffles, each
    # concurrent per-partition hash/sort working set (q18's ~4.7M-group
    # aggregate map, passjoin's ~2M-row SHJ build) crosses the
    # execution-memory spill cliff, turning at-linear plans into
    # 11-20x-per-decade rows; DIAG_sf100_partitions.json measured
    # -25%/-31% on q18/ext_block_pack at 128 partitions. 4x over-
    # partitioning is free at the small tiers because AQE partition
    # coalescing (enabled above) merges post-shuffle partitions back to
    # the advisory size at runtime — the same reason a real cluster
    # sets a high initial and lets AQE right-size per stage.
    conf["spark.sql.shuffle.partitions"] = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(4 * n))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
