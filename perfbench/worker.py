"""Run one workload in one Spark session and write its raw measurements.

Started by ``perfbench/run.py`` in its own process group, with inputs and
expected outputs already prepared. In order:

1. session start (``get_spark`` on ``local[<cores>]``);
2. warm-up: every operation once, its output checked against the
   expectation (this also builds and publishes the saved indexes on the
   fresh index roots the parent set), then at least one more untimed
   pass, and more until the warm-up has lasted ``--seconds``;
3. timed passes: every operation in order; another pass starts only if it
   should end within ``--seconds`` (a traced run makes exactly one pass);
4. ``spark.stop()``, always.

Writes one JSON document to ``--out``; ``run.py`` turns it into metrics.
"""

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
import layers  # noqa: E402
from workloads import INPUT_KIND, WORKLOADS  # noqa: E402

# An operation still running after this long is cancelled and counted failed.
OP_TIMEOUT_S = 60.0

# Saved-index receipts, as each query's own reuse check reads them:
# (cache root env var, path suffix, receipt) with "snapshot" meaning the
# SnapshotIndex pointer (queries_ops11._saved_ivf_index / _saved_bm25_path)
# and "_SUCCESS" the staged minhash table (queries_data._staged_minhash_path).
INDEX_RECEIPTS = {
    "sim_ann_ivf_saved": [("SPARK_GRAFT_IVF_CACHE", "", "snapshot")],
    "text_bm25_topk_staged": [("SPARK_GRAFT_BM25_CACHE", "", "snapshot")],
    "sim_hybrid_rrf_staged": [
        ("SPARK_GRAFT_IVF_CACHE", "", "snapshot"),
        ("SPARK_GRAFT_BM25_CACHE", "", "snapshot"),
    ],
    "dedup_minhash_staged": [("SPARK_GRAFT_IVF_CACHE", "_minhash", "_SUCCESS")],
}


def index_warm(name: str, lake_dir: str) -> bool | None:
    """Whether every saved index ``name`` reads is published (None when
    the query reads none)."""
    from etl_s3_to_redshift_spark.operators.table_commit import SnapshotIndex

    receipts = INDEX_RECEIPTS.get(name)
    if receipts is None:
        return None
    key = hashlib.sha1(os.path.abspath(lake_dir).encode()).hexdigest()[:16]
    for env, suffix, receipt in receipts:
        base = os.path.join(os.environ[env], key + suffix)
        if receipt == "snapshot":
            if not SnapshotIndex(base).exists():
                return False
        elif not os.path.exists(os.path.join(base, receipt)):
            return False
    return True


class Workload:
    """The operations of one workload, bound to a session and its inputs."""

    def __init__(self, spark, name: str, input_dir: str, out_root: str):
        from etl_s3_to_redshift_spark.queries import REGISTRY, _load_extensions

        _load_extensions()
        self.spark = spark
        self.name = name
        self.ops = WORKLOADS[name]
        self.registry = REGISTRY
        self.input_dir = input_dir
        self.out_root = out_root

    def build(self, op: str):
        """The driver's plan build: a lazy DataFrame, or None for
        ``run_pipeline``, which builds and writes in one call."""
        if INPUT_KIND[self.name] == "sparkify":
            return None
        return self.registry[op].spark(self.spark, self.input_dir)

    def execute(self, op: str, df, out_dir: str) -> None:
        if df is not None:
            df.write.format("noop").mode("overwrite").save()
            return
        from etl_s3_to_redshift_spark.plans.star_schema import run_pipeline

        run_pipeline(
            self.spark,
            os.path.join(self.input_dir, "events.json"),
            os.path.join(self.input_dir, "songs.json"),
            out_dir,
        )

    def result(self, df, out_dir: str) -> dict[str, dict]:
        """Output expectations for checking: per query, or per table."""
        if df is not None:
            return {"": oracle.expectation(df.toPandas())}
        return {
            table: oracle.expectation(pdf) for table, pdf in self._tables(out_dir).items()
        }

    def fingerprint(self, out_dir: str) -> dict[str, list[int]]:
        """Row count and order-insensitive row-hash sum per written table:
        a cheap equality test between two outputs of the same engine."""
        import pandas as pd

        return {
            table: [len(pdf), int(pd.util.hash_pandas_object(pdf, index=False).sum())]
            for table, pdf in self._tables(out_dir).items()
        }

    @staticmethod
    def _tables(out_dir: str):
        import pandas as pd

        return {
            table: pd.read_parquet(os.path.join(out_dir, table))
            for table in sorted(os.listdir(out_dir))
            if os.path.isdir(os.path.join(out_dir, table))
        }


def check(expected: dict, got: dict[str, dict]) -> str | None:
    """Compare a result to its expectations; None means correct."""
    if set(got) == {""}:
        return oracle.verdict(expected, got[""])
    if set(got) != set(expected):
        return f"tables differ: expected {sorted(expected)}, got {sorted(got)}"
    for table, exp in expected.items():
        why = oracle.verdict(exp, got[table])
        if why:
            return f"{table}: {why}"
    return None


def jvm_hwm_mb(spark) -> float:
    """Peak resident set of the driver JVM, from /proc (0 if unreadable)."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_with_timeout(spark, fn):
    """Call ``fn``; cancel all Spark jobs if it outlives OP_TIMEOUT_S."""
    timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    try:
        return fn()
    finally:
        timer.cancel()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from etl_s3_to_redshift_spark.session import default_parallelism, get_spark

    with open(args.expected) as f:
        expected = json.load(f)
    cores = default_parallelism()
    conf = {
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    log_dir = os.path.join(os.environ["SPARK_LOCAL_DIRS"], "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(layers.spark_conf(log_dir))

    t0 = time.time()
    spark = get_spark(f"perfbench-{args.workload}", cpus=cores, driver_memory="2g", extra_conf=conf)
    report: dict = {"workload": args.workload, "cores": cores, "start_s": time.time() - t0}
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = None
        if args.trace:
            tracer = layers.Tracer(spark.sparkContext, log_dir)
            tracer.install()
        work = Workload(spark, args.workload, args.inputs, os.path.join(args.work, "out"))
        report.update(measure(spark, work, expected, args, tracer))
        report["jvm_hwm_mb"] = jvm_hwm_mb(spark)
    finally:
        spark.stop()
    if tracer is not None:
        report["records"] = tracer.records(report["timed"])
    with open(args.out, "w") as f:
        json.dump(report, f)
    return 0


def measure(spark, work: Workload, expected: dict, args, tracer) -> dict:
    def phase(op_index, name):
        if tracer is not None:
            tracer.phase_begin(op_index, name)

    # -- warm-up and output checks (part of setup_s) -----------------------
    t_warm = time.time()
    checks: dict[str, str | None] = {}
    warm_times: dict[str, float] = {}
    reference: dict[str, dict] = {}
    index_build_s = 0.0
    for name in work.ops:
        out_dir = os.path.join(work.out_root, "warmup")
        cold = index_warm(name, args.inputs) is False
        phase(None, "warmup")
        t = time.time()
        try:
            df = work.build(name)
            if df is None:  # run_pipeline writes; its output is read back
                run_with_timeout(spark, lambda: work.execute(name, None, out_dir))
            got = run_with_timeout(spark, lambda: work.result(df, out_dir))
            checks[name] = check(expected[name], got)
            if df is None:
                reference[name] = work.fingerprint(out_dir)
        except Exception:  # a failing operation is reported, not fatal
            checks[name] = "raised: " + traceback.format_exc(limit=3)
        warm_times[name] = time.time() - t
        if cold and index_warm(name, args.inputs):
            index_build_s += warm_times[name]
        spark.catalog.clearCache()
        shutil.rmtree(out_dir, ignore_errors=True)
    # one more untimed pass, and more until warm-up has lasted as long as
    # the timed region will, so the JIT has settled on every operation
    warm_passes = 1
    while warm_passes < 2 or time.time() - t_warm < args.seconds:
        warm_passes += 1
        for name in work.ops:
            out_dir = os.path.join(work.out_root, "warmup")
            try:
                run_with_timeout(spark, lambda: work.execute(name, work.build(name), out_dir))
            except Exception:  # already reported by the checking pass
                pass
            spark.catalog.clearCache()
            shutil.rmtree(out_dir, ignore_errors=True)
    warmup_s = time.time() - t_warm
    index_state = {
        name: "warm" if state else "cold"
        for name in work.ops
        if (state := index_warm(name, args.inputs)) is not None
    }

    # -- timed passes --------------------------------------------------------
    gc.collect()
    ticks_first = cpu_ticks()
    t_first = time.time()
    timed: list[dict] = []
    passes: list[float] = []
    while True:
        pass_start = None
        for name in work.ops:
            i = len(timed)
            rec = {"name": name, "pass": len(passes), "ok": checks[name] is None, "error": None}
            rec["out_dir"] = os.path.join(work.out_root, f"op{i}")
            phase(i, "build")
            t = t_built = time.time()
            pass_start = pass_start or t
            try:
                df = work.build(name)
                t_built = time.time()
                phase(i, "exec")
                run_with_timeout(spark, lambda: work.execute(name, df, rec["out_dir"]))
            except Exception:
                rec["ok"] = False
                rec["error"] = traceback.format_exc(limit=3)
            t_end = time.time()
            rec.update(build_s=t_built - t, exec_s=t_end - t_built, t_s=t_end - t)
            phase(None, "untimed")
            spark.catalog.clearCache()
            # let the ContextCleaner reap this op's broadcasts and shuffles
            # now, not during the next op (as bench.py does between queries)
            gc.collect()
            timed.append(rec)
        # first operation's start to last operation's end
        passes.append(t_end - pass_start)
        # whole passes, until the run has lasted --seconds
        if args.trace or time.time() - t_first >= args.seconds:
            break
    timed_s = time.time() - t_first
    steal, total = (b - a for a, b in zip(ticks_first, cpu_ticks()))

    # Written outputs of timed ops must equal the checked warm-up output
    # (same inputs, same plan); compared after the clock stopped.
    for rec in timed:
        out_dir = rec.pop("out_dir")
        if os.path.isdir(out_dir):
            rec["files_written"] = sum(
                f.endswith(".parquet") for _, _, files in os.walk(out_dir) for f in files
            )
        if rec["ok"] and rec["name"] in reference:
            if work.fingerprint(out_dir) != reference[rec["name"]]:
                rec["ok"], rec["error"] = False, "output differs from the checked warm-up output"
        shutil.rmtree(out_dir, ignore_errors=True)
    return {
        "setup_s": t_first - T_PROCESS,
        "warmup_s": warmup_s,
        "warmup_op_s": warm_times,
        "index_build_s": index_build_s,
        "index_state": index_state,
        "checks": checks,
        "rows_only": sorted(n for n in work.ops if "rows_only" in expected[n]),
        "timed": timed,
        "pass_s": passes,
        "timed_s": timed_s,
        # CPU time the hypervisor gave to other guests while timing
        "steal_frac": steal / total if total else 0.0,
    }


if __name__ == "__main__":
    sys.exit(main())
