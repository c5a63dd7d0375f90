"""Tracing from outside the program: spans around public calls, and
Spark's own event log folded into per-layer totals.

Spans are kept in memory. Each records (name, start, end, parent); a
layer's self time is its duration minus the time covered by its child
spans. Wrappers are installed by patching the module attributes the
pipeline runner looks up at call time, and removed again afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict


class SpanRecorder:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int | None]] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, start, _, p = self.spans[idx]
            self.spans[idx] = (n, start, time.perf_counter(), p)

    def self_times(self) -> dict[str, float]:
        child = defaultdict(float)
        for name, start, end, parent in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _) in enumerate(self.spans):
            out[name] += (end - start) - child[i]
        return dict(out)


#: (module or class path, attribute) -> span name. ``run_daily`` looks
#: its helpers up in the runner module's namespace, so those are patched
#: there; methods are patched on their classes.
PIPELINE_SPANS = (
    ("gads_etl_spark.pipeline.runner", "extract_partition", "extract"),
    ("gads_etl_spark.pipeline.runner", "validate_batch", "validate"),
    ("gads_etl_spark.pipeline.runner", "materialize_plan", "stage"),
    ("gads_etl_spark.pipeline.raw_sink:RawZone", "write_partition", "raw_write"),
    ("gads_etl_spark.pipeline.loader:WarehouseLoader", "reconcile", "reconcile"),
    ("gads_etl_spark.pipeline.loader:WarehouseLoader", "run", "publish"),
    ("gads_etl_spark.pipeline.loader:ReconciliationPlan", "counts", "publish"),
    ("gads_etl_spark.pipeline.state_store:StateStore", "upsert", "state_merge"),
    ("gads_etl_spark.pipeline.pointer_store:PointerStore", "upsert", "state_merge"),
    ("gads_etl_spark.pipeline.pointer_store:PointerStore", "delete", "state_merge"),
)


def _resolve(path: str):
    import importlib

    mod, _, cls = path.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


def _wrap(fn, name: str, rec: SpanRecorder):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        # Curated staging writes go through the inherited RawZone method;
        # they are part of the stage span, not of the raw write.
        if name == "raw_write" and type(args[0]).__name__ == "CuratedZone":
            return fn(*args, **kwargs)
        with rec.span(name):
            return fn(*args, **kwargs)

    return wrapper


@contextlib.contextmanager
def pipeline_spans(rec: SpanRecorder):
    """Install the pipeline span wrappers for the duration of the block."""
    saved = []
    try:
        for path, attr, name in PIPELINE_SPANS:
            owner = _resolve(path)
            original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            saved.append((owner, attr, original))
            setattr(owner, attr, _wrap(original, name, rec))
        yield rec
    finally:
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)


# -- Spark event log -------------------------------------------------------

_MB = 1024 * 1024


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Plain uncompressed single-file event log (Spark 4 defaults to a
    rolling zstd directory)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _zero() -> dict[str, float]:
    return defaultdict(float)


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Fold every finished event log under ``log_dir`` into totals per
    job group: jobs, stages, tasks, executor/GC/CPU seconds, shuffle,
    spill, input/output MB and Python worker exchange MB."""
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(_zero)
    for path in glob.glob(os.path.join(log_dir, "*")):
        if path.endswith(".inprogress"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    totals[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    totals[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    t = totals[stage_group.get(ev.get("Stage ID"), "")]
                    _fold_task(t, ev)
    return totals


def _fold_task(t: dict[str, float], ev: dict) -> None:
    t["tasks"] += 1
    m = ev.get("Task Metrics") or {}
    t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
    t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    t["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
    t["spill_mem_mb"] += m.get("Memory Bytes Spilled", 0) / _MB
    t["spill_disk_mb"] += m.get("Disk Bytes Spilled", 0) / _MB
    sr = m.get("Shuffle Read Metrics") or {}
    t["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
    sw = m.get("Shuffle Write Metrics") or {}
    t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / _MB
    im = m.get("Input Metrics") or {}
    t["input_mb"] += im.get("Bytes Read", 0) / _MB
    t["rows_scanned"] += im.get("Records Read", 0)
    om = m.get("Output Metrics") or {}
    t["output_mb"] += om.get("Bytes Written", 0) / _MB
    t["rows_written"] += om.get("Records Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name") or ""
        if "Python workers" in name and isinstance(acc.get("Update"), (int, str)):
            key = "python_sent_mb" if "sent to" in name else "python_returned_mb"
            t[key] += int(acc["Update"]) / _MB


def sum_groups(totals: dict[str, dict[str, float]], prefix: str) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for group, vals in totals.items():
        if group.startswith(prefix):
            for k, v in vals.items():
                out[k] += v
    return out
