"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 15 --trace 0

Prepares the seeded inputs and their expected outputs (cached per seed under
``.perfbench/`` at the repository root, never timed), then runs the workload
in a child process (``perfbench/worker.py``) that leads its own session and
process group, and kills whatever of that session is left when it ends or
times out. ``--trace 0`` reports the end-to-end metrics. ``--trace 1``
reports the per-layer metrics of a traced session, next to the untraced
measurement of the same seed (made first unless this checkout has it).
The last line of standard output is the JSON result; the full report,
with one layer record per operation, goes to ``.perfbench/results/``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# Children must end this long after the command started, which leaves
# room for the cleanup within the 180 s a run may take.
CHILD_TIMEOUT_S = 165.0
# Spark cores: two, leaving the host's other cores to the driver thread,
# the JIT and GC threads and the Python workers. On a shared 4-vCPU host
# local[2] ran the etl_load pass as fast as local[4] and lost less to
# simulated CPU steal (README.md, "Why two cores").
CORES = min(2, os.cpu_count() or 1)

sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)


def prepare(workload: str, seed: int) -> tuple[str, str, dict]:
    """Inputs directory, expectations file and input stats for ``seed``."""
    import inputs
    import oracle
    from workloads import INPUT_KIND, WORKLOADS

    kind = INPUT_KIND[workload]
    in_dir = os.path.join(WORK, "inputs", f"{kind}-{seed}")
    stats_path = os.path.join(in_dir, "stats.json")
    if not os.path.exists(stats_path):
        shutil.rmtree(in_dir, ignore_errors=True)
        write = inputs.write_lake if kind == "lake" else inputs.write_sparkify
        stats = write(in_dir, seed)
        with open(stats_path, "w") as f:
            json.dump(stats, f)
    with open(stats_path) as f:
        stats = json.load(f)
    expected_path = os.path.join(in_dir, f"expected-{workload}.json")
    if not os.path.exists(expected_path):
        if kind == "lake":
            expected = oracle.lake_expectations(in_dir, WORKLOADS[workload])
        else:
            expected = {"run_pipeline": oracle.sparkify_expectations(in_dir)}
        with open(expected_path, "w") as f:
            json.dump(expected, f)
    return in_dir, expected_path, stats


def session_members(sid: int) -> list[int]:
    """Live processes of session ``sid`` (the worker and all it started,
    including PySpark's daemon, which moves to its own process group)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(entry))
    return pids


def stop_session(sid: int, grace_s: float = 10.0) -> None:
    """Wait up to ``grace_s`` for session ``sid`` to exit, then SIGKILL
    what is left and wait until it is gone."""
    deadline = time.time() + grace_s
    while session_members(sid) and time.time() < deadline:
        time.sleep(0.2)
    while members := session_members(sid):
        for pid in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def run_worker(args, in_dir: str, expected_path: str, run_dir: str, trace: int, deadline: float) -> dict:
    """Run the workload in a child session; return its report."""
    tag = f"trace{trace}"
    out = os.path.join(run_dir, f"{tag}.json")
    dirs = {d: os.path.join(run_dir, tag, d) for d in ("tmp", "local", "ivf", "bm25")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = dict(
        os.environ,
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        # fresh saved-index roots: set-up builds and publishes them
        SPARK_GRAFT_IVF_CACHE=dirs["ivf"],
        SPARK_GRAFT_BM25_CACHE=dirs["bm25"],
        SPARK_GRAFT_CPUS=str(CORES),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--inputs", in_dir,
        "--expected", expected_path,
        "--seconds", str(args.seconds),
        "--trace", str(trace),
        "--work", os.path.join(run_dir, tag),
        "--out", out,
    ]
    log_path = os.path.join(run_dir, f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=log, start_new_session=True, cwd=ROOT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            print(f"worker timed out ({tag})", file=sys.stderr)
        finally:
            killed = proc.poll() is None
            if killed:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            stop_session(proc.pid, grace_s=0.0 if killed else 10.0)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"worker failed ({tag}, exit {proc.returncode})")
    with open(out) as f:
        return json.load(f)


def tail(times: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples). When that percentile would not be above
    the median (20 samples or fewer), the maximum."""
    s = sorted(times)
    n = len(s)
    if n <= 20:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def per_op_median(timed: list[dict], key: str) -> dict[str, float]:
    """Each operation's median of ``key`` over the run's passes."""
    by_op: dict[str, list[float]] = {}
    for r in timed:
        by_op.setdefault(r["name"], []).append(r[key])
    return {name: statistics.median(v) for name, v in by_op.items()}


def end_to_end(report: dict) -> tuple[dict, dict]:
    times = [r["t_s"] for r in report["timed"]]
    failed = sum(not r["ok"] for r in report["timed"])
    tail_s, tail_pct, n = tail(times)
    metrics = {
        "setup_s": report["setup_s"],
        "wall_s": sum(per_op_median(report["timed"], "t_s").values()),
        "op_p50_s": statistics.median(times),
        "op_tail_s": tail_s,
        "ok_ops_frac": (len(times) - failed) / len(times),
    }
    info = {
        "op_tail": f"p{tail_pct:.1f} of {n} operation times ({n - 1 if n <= 20 else 10} beyond it)",
        "failed_ops_frac": failed / len(times),
        "passes": len(report["pass_s"]),
        "steal_frac": report["steal_frac"],
    }
    return metrics, info


def per_layer(untraced: dict, traced: dict, stats: dict, names: list[str]) -> dict:
    """Workload totals of the traced run's layer records."""
    recs = traced["records"]

    def total(phase: str, key: str) -> float:
        return sum(r[phase][key] for r in recs)

    def both(key: str) -> float:
        return total("build", key) + total("exec", key)

    def span(layer: str, key: str) -> float:
        return sum(r["layers"].get(layer, {}).get(key, 0) for r in recs)

    wall = sum(traced["pass_s"])
    exec_s = total("exec", "s")
    input_bytes = sum(t["bytes"] for t in stats.values())
    m = {
        "session.start_s": traced["start_s"],
        "session.warmup_s": traced["warmup_s"],
        "session.jvm_hwm_mb": traced["jvm_hwm_mb"],
        "sources.load_calls": span("sources", "calls"),
        "sources.load_s": span("sources", "s"),
        "sources.load_jobs": span("sources", "jobs"),
        "sources.bytes_read": both("bytes_read"),
        "sources.records_read": both("records_read"),
        "sources.read_amplification": both("bytes_read") / input_bytes,
        "queries.build_s": total("build", "s"),
        "queries.build_jobs": total("build", "jobs"),
        "queries.build_stages": total("build", "stages"),
        "queries.build_share": total("build", "s") / wall,
        "exec.s": exec_s,
        "exec.core_busy": total("exec", "task_run_ms") / (1000 * exec_s * traced["cores"]),
        "functions.py_bytes_sent": both("py_bytes_sent"),
        "functions.py_bytes_recv": both("py_bytes_recv"),
        "functions.py_boot_ms": both("py_boot_ms"),
        "functions.py_init_ms": both("py_init_ms"),
        "functions.py_run_ms": both("py_run_ms"),
        "sinks.write_s": span("sinks", "s"),
        "sinks.bytes_written": both("bytes_written"),
        "sinks.records_written": both("records_written"),
        "sinks.files_written": sum(r.get("files_written", 0) for r in recs),
        "index.build_s": traced["index_build_s"],
        "index.warm_frac": (
            sum(s == "warm" for s in traced["index_state"].values()) / len(traced["index_state"])
            if traced["index_state"]
            else 0.0
        ),
        "trace.overhead_frac": wall / statistics.median(untraced["pass_s"]) - 1,
    }
    for key in ("jobs", "stages", "tasks", "failed_tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
                "shuffle_write_b", "shuffle_read_b", "shuffle_fetch_wait_ms", "spill_mem_b",
                "spill_disk_b"):
        m[f"exec.{key}"] = total("exec", key)
    # operators.<module>.*: every module the wrappers saw, zero for the rest
    for name in names:
        if name.startswith("operators.") and name not in m:
            layer, _, key = name.rpartition(".")
            if key == "exec_s":
                m[name] = sum(r["exec"]["s"] for r in recs if layer in r["layers"])
            else:
                m[name] = span(layer, {"calls": "calls", "build_s": "s", "build_jobs": "jobs"}[key])
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if not os.path.isdir(os.path.join(ROOT, "etl_s3_to_redshift_spark")):
        print("the etl_s3_to_redshift_spark package is not in this checkout", file=sys.stderr)
        return 2

    # a signal from outside stops the child session through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    in_dir, expected_path, stats = prepare(args.workload, args.seed)
    print(f"inputs {in_dir}: " + json.dumps(stats))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    deadline = t_start + CHILD_TIMEOUT_S
    results = os.path.join(WORK, "results")
    untraced_path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace0.json")
    # a traced run reuses the untraced measurement of this seed, if any
    reuse = bool(args.trace) and os.path.exists(untraced_path)
    try:
        if reuse:
            with open(untraced_path) as f:
                untraced = json.load(f)["untraced"]
        else:
            untraced = run_worker(args, in_dir, expected_path, run_dir, 0, deadline)
        traced = run_worker(args, in_dir, expected_path, run_dir, 1, deadline) if args.trace else None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, info = end_to_end(untraced)
    report = {"workload": args.workload, "seed": args.seed, "inputs": stats,
              "end_to_end": e2e, **info, "untraced": untraced}
    os.makedirs(results, exist_ok=True)
    if not reuse:
        with open(untraced_path, "w") as f:
            json.dump(report, f, indent=1)
    measured = traced if args.trace else untraced
    failing = {n: why for n, why in measured["checks"].items() if why}
    failing.update({r["name"]: r["error"] for r in measured["timed"] if r["error"]})
    print(f"rows-only checks: {measured['rows_only']}")
    print(f"index state at first timed op: {json.dumps(measured['index_state'])}")
    print(f"failed ops: {json.dumps(failing)}")
    print(f"op_tail_s is the {info['op_tail']}; failed_ops_frac {info['failed_ops_frac']:.4f}; "
          f"{info['passes']} timed passes; host CPU steal {info['steal_frac']:.1%} while timing")
    print("end-to-end: " + json.dumps({k: round(v, 4) for k, v in e2e.items()}))

    if args.trace:
        names = [m["name"] for m in bench["per_layer"]]
        layer = per_layer(untraced, traced, stats, names)
        report.update(per_layer=layer, layer_records=traced["records"])
        with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace1.json"), "w") as f:
            json.dump(report, f, indent=1)
        metric_defs, values = bench["per_layer"], layer
    else:
        metric_defs, values = bench["end_to_end"], e2e

    failed = sum(not r["ok"] for r in measured["timed"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(measured["timed"]),
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metric_defs},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
