"""The event-log stage profiler (gads_etl_spark/profile.py): the fold on a
synthetic log, one real run of the entry point, and the committed profile."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from gads_etl_spark.profile import METRICS, fold
from tests.conftest import SF_SMOKE

REPO = Path(__file__).resolve().parent.parent
_MB = 1024 * 1024


def _job(job_id, stages, group, execution):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group,
                           "spark.sql.execution.id": str(execution)}}


def _task(stage, run_ms, gc_ms=0, shuffle=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                             "Disk Bytes Spilled": spill,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def _sql_start(execution, method):
    return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": execution,
            "details": f"org.apache.spark.sql.classic.Dataset.{method}(Dataset.scala:1)\n"
                       "java.base/jdk.internal.reflect.NativeMethodAccessorImpl.invoke0"}


def _write_log(path, events):
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def _assert_totals_are_stage_sums(q):
    stages = [s for e in q["executions"] for s in e["stages"]]
    for k in METRICS:
        assert q["totals"][k] == pytest.approx(sum(s[k] for s in stages), abs=1e-6), k


def test_fold_groups_aqe_stages_by_execution(tmp_path):
    _write_log(tmp_path / "local-1", [
        _sql_start(3, "collectToPython"),
        _job(0, [0], "w:q", 3),
        _task(0, 50),
        _sql_start(4, "localCheckpoint"),
        # AQE submits each query stage as its own job of one execution;
        # the second job lists the first's stage again and skips it.
        _job(1, [1], "q", 4),
        _job(2, [1, 2], "q", 4),
        _task(1, 100, gc_ms=5, shuffle=2 * _MB),
        _task(1, 300, shuffle=_MB),
        _task(2, 40, spill=_MB // 2),
        _sql_start(5, "save"),
        _job(3, [3], "q", 5),
        _task(3, 7),
    ])
    # A running application's log: never read, its counts would double.
    _write_log(tmp_path / "local-2.inprogress", [_job(9, [9], "q", 4), _task(9, 10_000)])

    out = fold(str(tmp_path))

    assert set(out) == {"q", "w:q"}
    q = out["q"]
    assert [(e["id"], e["action"]) for e in q["executions"]] == [
        (4, "localCheckpoint"), (5, "save")]
    ckpt = q["executions"][0]["stages"]
    assert [s["id"] for s in ckpt] == [1, 2]
    assert ckpt[0] == {"id": 1, "tasks": 2, "run_ms": 400, "gc_ms": 5,
                       "shuffle_write_mb": 3.0, "spill_disk_mb": 0.0}
    assert ckpt[1]["spill_disk_mb"] == 0.5
    assert q["totals"] == {"tasks": 4, "run_ms": 447, "gc_ms": 5,
                           "shuffle_write_mb": 3.0, "spill_disk_mb": 0.5}
    _assert_totals_are_stage_sums(q)
    assert out["w:q"]["executions"][0]["action"] == "collectToPython"


def test_fold_names_closure_actions_by_their_method(tmp_path):
    _write_log(tmp_path / "local-1", [
        _sql_start(1, "$anonfun$collectAsArrowToPython$1$adapted"),
        _job(0, [0], "q", 1),
        _task(0, 5),
    ])
    assert fold(str(tmp_path))["q"]["executions"][0]["action"] == "collectAsArrowToPython"


def test_entry_point_writes_profile(tmp_path):
    env = {**os.environ, "PYTHONPATH": str(REPO), "SPARK_GRAFT_CPUS": "2",
           "SPARK_GRAFT_DRIVER_MEM": "1g"}
    run = subprocess.run(
        [sys.executable, "-m", "gads_etl_spark.profile", SF_SMOKE, "q01_pricing_summary"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert run.returncode == 0, run.stderr[-2000:]
    doc = json.loads((tmp_path / f"PROFILE_{os.path.basename(SF_SMOKE)}.json").read_text())
    ctx = doc["context"]
    assert ctx["cpus"] == 2 and ctx["master"] == "local[2]"
    assert isinstance(ctx["shuffle_partitions"], int) and ctx["shuffle_partitions"] > 0
    q = doc["queries"]["q01_pricing_summary"]
    assert q["wall_s"] > 0
    assert "save" in [e["action"] for e in q["executions"]]
    assert q["totals"]["tasks"] > 0
    _assert_totals_are_stage_sums(q)


def test_committed_profile():
    doc = json.loads((REPO / "PROFILE_sf0.1.json").read_text())
    for q in doc["queries"].values():
        _assert_totals_are_stage_sums(q)
    actions = [e["action"] for e in doc["queries"]["ext_pagerank"]["executions"] if e["action"]]
    # Derivation checkpoint, stats collect, iteration checkpoints, final save.
    assert actions[:2] == ["localCheckpoint", "collectToPython"] and actions[-1] == "save"
    assert set(actions[2:-1]) == {"localCheckpoint"}
