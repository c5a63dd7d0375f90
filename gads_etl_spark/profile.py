"""Per-stage profile of registered queries, folded from Spark's event log.

    python -m gads_etl_spark.profile SF_DIR NAME...

Each query runs once as a warm-up (job group ``w:<name>``) and once
profiled (group ``<name>``), both into the noop sink as ``bench.py``
times them. The session's event log is then folded into
``PROFILE_<tier>.json`` in the current directory: per query its wall,
its SQL executions (the action that ran each one: ``localCheckpoint``,
``collectToPython``, ``save``...) and, per stage, tasks, executor run
and JVM GC milliseconds, shuffle MB written and disk MB spilled.

Stages are attributed through the job that submitted them, never by
name: under AQE every stage is named after the same
``CompletableFuture`` callsite. Stages of jobs outside any SQL
execution (such as ``spark.read.parquet``'s schema read) form one
execution with ``id`` and ``action`` null.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

_MB = 1024 * 1024
METRICS = ("tasks", "run_ms", "gc_ms", "shuffle_write_mb", "spill_disk_mb")


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf that writes one plain JSON-lines event log file per
    application into ``log_dir`` (Spark 4's default is a rolling zstd
    directory)."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def fold(log_dir: str) -> dict[str, dict]:
    """Fold every finished event log under ``log_dir`` into, per job
    group, ``{executions: [{id, action, stages: [...]}], totals}``.
    A stage belongs to the first job that lists it (later jobs that list
    it skip it), and through that job to a group and a SQL execution."""
    stage_owner: dict[int, tuple[str, int | None]] = {}
    actions: dict[int, str] = {}
    stages: dict[tuple[str, int | None], dict[int, dict]] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if path.endswith(".inprogress"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    owner = (props.get("spark.jobGroup.id") or "",
                             None if ex is None else int(ex))
                    for sid in ev.get("Stage IDs", []):
                        stage_owner.setdefault(sid, owner)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    head = (ev.get("details") or "").split("\n", 1)[0]
                    name = head.split("(", 1)[0].rsplit(".", 1)[-1]
                    # a Scala closure: $anonfun$collectAsArrowToPython$1$adapted
                    actions[ev["executionId"]] = (name.split("$")[2]
                                                  if name.startswith("$anonfun$") else name)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    by_id = stages.setdefault(stage_owner.get(sid, ("", None)), {})
                    st = by_id.setdefault(sid, dict.fromkeys(METRICS, 0))
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    st["spill_disk_mb"] += m.get("Disk Bytes Spilled", 0)
    out: dict[str, dict] = {}
    # Executions in the order their first task ended: a group's actions
    # run one after another on the driver, so this is the order they ran.
    for (group, ex), by_id in stages.items():
        rows = [{"id": sid, **st, "shuffle_write_mb": round(st["shuffle_write_mb"] / _MB, 3),
                 "spill_disk_mb": round(st["spill_disk_mb"] / _MB, 3)}
                for sid, st in sorted(by_id.items())]
        q = out.setdefault(group, {"executions": []})
        q["executions"].append({"id": ex, "action": actions.get(ex), "stages": rows})
    for q in out.values():
        rows = [s for e in q["executions"] for s in e["stages"]]
        q["totals"] = {k: round(sum(s[k] for s in rows), 3) for k in METRICS}
    return out


def main(argv: list[str]) -> None:
    if len(argv) < 2:
        sys.exit("usage: python -m gads_etl_spark.profile SF_DIR NAME...")
    sf_dir, names = argv[0], argv[1:]
    from gads_etl_spark.queries import REGISTRY
    from gads_etl_spark.session import get_session, run_context

    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")
    log_dir = tempfile.mkdtemp(prefix="gads_profile_")
    try:
        spark = get_session("gads-etl-spark-profile", extra_conf=event_log_conf(log_dir))
        spark.sparkContext.setLogLevel("ERROR")
        context = run_context(spark)
        walls = {}
        for name in names:
            for group in (f"w:{name}", name):
                spark.sparkContext.setJobGroup(group, group)
                t0 = time.perf_counter()
                REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                walls[name] = round(time.perf_counter() - t0, 3)  # the profiled run's, last
        spark.stop()  # closes the log: a running application's file ends in .inprogress
        groups = fold(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    tier = os.path.basename(os.path.normpath(sf_dir))
    doc = {"tier": tier, "context": context,
           "protocol": "1 warm-up then 1 profiled run per query, noop sink",
           "queries": {n: {"wall_s": walls[n], **groups.get(
               n, {"executions": [], "totals": dict.fromkeys(METRICS, 0)})} for n in names}}
    with open(f"PROFILE_{tier}.json", "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    print(json.dumps({n: {"wall_s": q["wall_s"], **q["totals"]} for n, q in doc["queries"].items()}))


if __name__ == "__main__":
    main(sys.argv[1:])
