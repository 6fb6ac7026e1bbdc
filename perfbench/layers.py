"""Traced runs: per-operation layer records measured from outside the package.

Three things, all from the benchmark's own files:

- an uncompressed Spark event log under ``SPARK_LOCAL_DIRS``
  (``spark_conf``);
- a job group per operation and phase, ``op<i>|build`` and ``op<i>|exec``
  (``Tracer.phase_begin``);
- wrappers around the package's public layer functions (``Tracer.install``):
  ``sources.tables.load_table``, ``sources.json_source.read_*_json``,
  ``sources.sinks.write_parquet`` and every public function of every
  ``operators`` module.

After the session stops, ``Tracer.records`` joins the wrapper spans with the
log's ``JobStart``/``TaskEnd`` events into one layer record per operation.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import sys
import time
from collections import defaultdict

PACKAGE = "etl_s3_to_redshift_spark"

# Counters summed from TaskEnd events, per phase of an operation.
TASK_COUNTERS = (
    "tasks",
    "failed_tasks",
    "task_run_ms",
    "task_cpu_ms",
    "gc_ms",
    "shuffle_write_b",
    "shuffle_read_b",
    "shuffle_fetch_wait_ms",
    "spill_mem_b",
    "spill_disk_b",
    "bytes_read",
    "records_read",
    "bytes_written",
    "records_written",
    "py_bytes_sent",
    "py_bytes_recv",
    "py_boot_ms",
    "py_init_ms",
    "py_run_ms",
)
# Spark 4.1's SQL metrics of the Python runners, as named in the log.
_PY_METRICS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_recv",
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}
PHASE_COUNTERS = ("s", "jobs", "stages") + TASK_COUNTERS
SPAN_COUNTERS = ("calls", "s", "jobs")

# Wrapped layers other than the operator modules: layer -> (module, names).
_LAYER_FUNCTIONS = {
    "sources": [
        (f"{PACKAGE}.sources.tables", ["load_table"]),
        (f"{PACKAGE}.sources.json_source", ["read_events_json", "read_songs_json"]),
    ],
    "sinks": [(f"{PACKAGE}.sources.sinks", ["write_parquet"])],
}


def spark_conf(log_dir: str) -> dict[str, str]:
    """Session conf for an uncompressed, single-file event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def operator_modules() -> list[str]:
    """Every module of the ``operators`` package, by short name."""
    pkg = importlib.import_module(f"{PACKAGE}.operators")
    return sorted(m.name for m in pkgutil.iter_modules(pkg.__path__))


class Tracer:
    """Records wrapper spans and job groups; builds layer records."""

    def __init__(self, spark_context, log_dir: str):
        self.sc = spark_context
        self.log_dir = log_dir
        self.op: int | None = None
        self.phase: str | None = None
        # (op, phase, layer, start_ms, end_ms); only the outermost call per
        # layer is kept, so a layer's time is never counted twice
        self.spans: list[tuple[int, str, str, float, float]] = []
        self._active: dict[str, int] = defaultdict(int)

    # -- wrappers ----------------------------------------------------------

    def install(self) -> None:
        """Replace each traced function by a timing wrapper, in its own
        module and in every package module that imported it by name."""
        targets = []
        for layer, entries in _LAYER_FUNCTIONS.items():
            for modname, names in entries:
                mod = importlib.import_module(modname)
                targets += [(layer, mod, name) for name in names]
        for short in operator_modules():
            mod = importlib.import_module(f"{PACKAGE}.operators.{short}")
            for name, obj in vars(mod).items():
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                ):
                    targets.append((f"operators.{short}", mod, name))
        replaced = {}
        for layer, mod, name in targets:
            fn = getattr(mod, name)
            wrapper = self._wrap(layer, fn)
            # same __module__/__qualname__ as the original, so cloudpickle
            # ships it by reference and workers run the unwrapped function
            setattr(mod, name, wrapper)
            replaced[id(fn)] = wrapper
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PACKAGE):
                for name, obj in list(vars(mod).items()):
                    if id(obj) in replaced and not name.startswith("__"):
                        setattr(mod, name, replaced[id(obj)])

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if self.op is None or self._active[layer]:
                return fn(*args, **kwargs)
            self._active[layer] += 1
            start = time.time() * 1000
            try:
                return fn(*args, **kwargs)
            finally:
                self._active[layer] -= 1
                self.spans.append((self.op, self.phase, layer, start, time.time() * 1000))

        return wrapper

    # -- operation phases --------------------------------------------------

    def phase_begin(self, op: int | None, phase: str) -> None:
        """Tag the following jobs with ``op<i>|<phase>``, or with just
        ``<phase>`` outside the timed operations."""
        self.op, self.phase = op, phase
        group = phase if op is None else f"op{op}|{phase}"
        self.sc.setJobGroup(group, group)

    # -- event log ---------------------------------------------------------

    def _events(self):
        for path in sorted(glob.glob(os.path.join(self.log_dir, "*"))):
            if os.path.isfile(path):
                with open(path) as f:
                    for line in f:
                        yield json.loads(line)

    def records(self, ops: list[dict]) -> list[dict]:
        """One layer record per timed operation.

        ``ops`` holds the timed operations in order, each with ``name``,
        ``build_s``, ``exec_s``, ``ok`` and, for written outputs,
        ``files_written``; the result adds per-phase task counters and
        per-layer spans."""
        job_group: dict[int, str] = {}
        job_time: dict[int, float] = {}
        stage_group: dict[int, str] = {}
        stages_run: dict[str, set] = defaultdict(set)
        counters: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for ev in self._events():
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[ev["Job ID"]] = group
                job_time[ev["Job ID"]] = ev["Submission Time"]
                counters[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "")
                stages_run[group].add(ev["Stage ID"])
                _add_task(counters[group], ev)
        for group, sids in stages_run.items():
            counters[group]["stages"] = len(sids)

        # submission times of each operation's jobs, both phases
        jobs_at: dict[int, list[float]] = defaultdict(list)
        for jid, group in job_group.items():
            if group.startswith("op"):
                jobs_at[int(group[2:].split("|")[0])].append(job_time[jid])

        out = []
        for i, op in enumerate(ops):
            rec = {
                "op": i,
                "name": op["name"],
                "ok": op["ok"],
                "files_written": op.get("files_written", 0),
            }
            for phase in ("build", "exec"):
                c = counters.get(f"op{i}|{phase}", {})
                rec[phase] = {k: c.get(k, 0) for k in PHASE_COUNTERS}
                rec[phase]["s"] = op[f"{phase}_s"]
            layers: dict[str, dict[str, float]] = {}
            for sop, phase, layer, start, end in self.spans:
                if sop != i:
                    continue
                span = layers.setdefault(layer, {k: 0 for k in SPAN_COUNTERS})
                span["calls"] += 1
                span["s"] += (end - start) / 1000
                span["jobs"] += sum(1 for t in jobs_at[i] if start <= t <= end)
            rec["layers"] = layers
            out.append(rec)
        return out


def _add_task(c: dict[str, float], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    c["tasks"] += 1
    c["failed_tasks"] += 1 if info.get("Failed") or info.get("Killed") else 0
    c["task_run_ms"] += m.get("Executor Run Time", 0)
    c["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    c["gc_ms"] += m.get("JVM GC Time", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
    c["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["shuffle_fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    c["spill_mem_b"] += m.get("Memory Bytes Spilled", 0)
    c["spill_disk_b"] += m.get("Disk Bytes Spilled", 0)
    inp = m.get("Input Metrics") or {}
    outp = m.get("Output Metrics") or {}
    c["bytes_read"] += inp.get("Bytes Read", 0)
    c["records_read"] += inp.get("Records Read", 0)
    c["bytes_written"] += outp.get("Bytes Written", 0)
    c["records_written"] += outp.get("Records Written", 0)
    for acc in info.get("Accumulables") or []:
        key = _PY_METRICS.get(acc.get("Name"))
        if key is not None:
            c[key] += float(acc.get("Update") or 0)
