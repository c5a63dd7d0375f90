"""Toy-scale self-test of the benchmark (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Checks that every workload runs with and without tracing, that each
prints exactly the metric names BENCHMARK.json declares for that mode,
that a planted wrong answer is reported as a failure, and that the
benchmark exits non-zero without a result where the program is absent.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "1", "--scale", "toy"]


def run(cwd: str, *extra: str) -> tuple[int, dict | None]:
    p = subprocess.run([*RUN, *extra], cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if p.returncode != 0 and result is None:
        sys.stderr.write(p.stderr[-2000:])
    return p.returncode, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {0: {m["name"] for m in bench["end_to_end"]},
                1: {m["name"] for m in bench["per_layer"]}}
    problems = []
    for w in (w["name"] for w in bench["workloads"]):
        for tr in (0, 1):
            rc, res = run(ROOT, "--workload", w, "--trace", str(tr))
            if rc != 0 or res is None:
                problems.append(f"{w} trace={tr}: exit {rc}, no result")
                continue
            before = len(problems)
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={tr}: correct={res['correct']} failed={res['failed']}")
            if set(res["metrics"]) != declared[tr]:
                problems.append(f"{w} trace={tr}: metric names differ from BENCHMARK.json: "
                                f"{sorted(set(res['metrics']) ^ declared[tr])}")
            if len(problems) == before:
                print(f"ok: {w} trace={tr}: attempted={res['attempted']}, metric names match")
        rc, res = run(ROOT, "--workload", w, "--trace", "0", "--plant-wrong")
        if res is None or res["correct"] or res["failed"] < 1:
            problems.append(f"{w}: planted wrong answer not caught ({res and res['failed']})")
        else:
            print(f"ok: {w} planted wrong answer caught, failed={res['failed']}")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res = run(bare, "--workload", bench["workloads"][0]["name"], "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or res is not None:
        problems.append(f"without the program: exit {rc}, result {res}")
    else:
        print(f"ok: without the program the benchmark exits {rc} with no result")

    for p in problems:
        print("FAIL:", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
