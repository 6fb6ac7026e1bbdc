"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py [workload ...]    # default: etl_load curation

For each workload it makes two traced runs of one seed and asserts that:

- the command leaves no process behind: no JVM, PySpark daemon or Python
  worker it started is alive after it exits;
- the result line has exactly the contract's keys and every ``per_layer``
  metric of ``BENCHMARK.json``;
- every timed operation has a layer record of the pinned schema;
- the deterministic counters (jobs, stages, tasks, records read and
  records written, per operation and phase) are identical in both runs.

It also asserts that the benchmark fails, without a result line, in a
directory holding only ``BENCHMARK.json`` and ``perfbench/``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from layers import PHASE_COUNTERS, SPAN_COUNTERS  # noqa: E402
from run import WORK  # noqa: E402

SEED = 11
RECORD_KEYS = {"op", "name", "ok", "files_written", "build", "exec", "layers"}
DETERMINISTIC = ("jobs", "stages", "tasks", "records_read", "records_written")


def benchmark_processes() -> list[int]:
    """Live processes started by any benchmark run of this checkout: the
    worker and everything it started inherit the index-cache variable
    that ``run.py`` points into the work directory."""
    marker = f"SPARK_GRAFT_IVF_CACHE={WORK}".encode()
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/environ", "rb") as f:
                    if marker in f.read():
                        pids.append(int(entry))
            except OSError:
                continue
    return pids


def traced_run(workload: str) -> tuple[dict, list[dict]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", "3", "--trace", "1"]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    out, _ = proc.communicate(timeout=600)
    assert proc.returncode == 0, f"{workload}: exit {proc.returncode}"
    assert not benchmark_processes(), f"{workload}: processes outlived the command"
    result = json.loads(out.strip().splitlines()[-1])
    with open(os.path.join(WORK, "results", f"{workload}-seed{SEED}-trace1.json")) as f:
        records = json.load(f)["layer_records"]
    return result, records


def check_result(result: dict, records: list[dict]) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in bench["per_layer"]}
    assert len(records) == result["attempted"] >= 1
    for rec in records:
        assert set(rec) == RECORD_KEYS, rec.keys()
        for phase in ("build", "exec"):
            assert set(rec[phase]) == set(PHASE_COUNTERS), rec[phase].keys()
        for span in rec["layers"].values():
            assert set(span) == set(SPAN_COUNTERS)


def counters(records: list[dict]) -> list[tuple]:
    return [
        (rec["name"], phase, tuple(rec[phase][k] for k in DETERMINISTIC))
        for rec in records
        for phase in ("build", "exec")
    ]


def test_workload(workload: str) -> None:
    first, rec1 = traced_run(workload)
    check_result(first, rec1)
    second, rec2 = traced_run(workload)
    check_result(second, rec2)
    diff = [(a, b) for a, b in zip(counters(rec1), counters(rec2)) if a != b]
    assert not diff, f"deterministic counters differ between runs: {diff}"
    print(f"ok {workload}: {len(rec1)} layer records, counters identical")


def test_bare_directory() -> None:
    """Only BENCHMARK.json and perfbench/: must fail without a result."""
    bare = os.path.join(WORK, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "warehouse", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
    print("ok bare directory: exit", proc.returncode)


if __name__ == "__main__":
    test_bare_directory()
    for name in sys.argv[1:] or ["etl_load", "curation"]:
        test_workload(name)
