#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_sql_llm --seed 1 --seconds 25 --trace 0

Run from the repository root. One client drives the engine in a closed loop
on ``local[nproc]``: the next operation is sent only after the previous one
returned. The run generates its inputs from ``--seed``, sets up a Spark
session (``session.get_spark``) and the workload's views, tables and index,
measures a fixed number of whole decks of operations (``--seconds`` over
``DECK_S``), checks every output against DuckDB or an exact reference, and
prints a report line followed by the result as the last line of standard
output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on spans,
the py4j counter, per-operation job tags and the Spark event log, and
reports the per-layer metrics. Every file the run writes lives under
``.perfbench_runs/`` in the working directory; the run directory is removed
at the end, except the traced run's span JSON. The exit code is 0 whenever
the result line is printed (``correct`` says whether every output check
passed, and each failed check is also printed to standard error), and
non-zero when the run could not produce a result, e.g. when the engine
package is not importable.
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
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the workload's views or fixture table are set up this many times, each into
# fresh directories, and ``setup_s`` takes the median
SETUP_REPEATS = 3
# Nominal seconds of one deck on the measuring VM (4 vCPU): two decks took
# 15-25 s in the baseline runs and 28-36 s when the VM ran 1.7 times slower.
# A run measures round(--seconds / DECK_S) whole decks, so every run holds
# the same operations, however fast the host is that day; a run that stopped
# at a deadline would measure fewer and colder operations on a slow host.
DECK_S = 12.5


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of the whole machine so far: stolen ticks
    are those the hypervisor gave to other guests while a CPU had work."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def probe_s() -> float:
    """Seconds of a fixed pure-Python loop: how fast the host ran this
    process at that moment (the report records it before and after the
    timed phase, to tell a slow host from a slow engine)."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_bytes(path: str, data_only: bool | None = None) -> int:
    """Bytes of the file ``path`` or of the regular files under it;
    ``data_only`` True counts parquet files only, False everything else."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            if data_only is None or data_only == name.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total


def git_commit(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(root, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return "unknown"


def isolate(run_dir: str) -> dict[str, str]:
    """Pin the engine to the machine's CPUs and this run directory; returns
    the session config that keeps Spark's own files inside the run."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_MEM=f"{min(2048, mem_mb // 4)}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # Python workers import the engine too
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


class Ctx:
    """What an operation needs: the session, tracer, run and data dirs."""

    def __init__(self, spark, tracer, run_dir, data_dir, table_rows):
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.data_dir = data_dir
        self.table_rows = table_rows
        self.duck = None


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it: the 11th-largest latency. Below 21 samples that
    percentile is under the median, so the tail is the maximum."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def end_to_end(setup_s, done, latencies, elapsed, rss) -> dict[str, float]:
    value, _ = tail(latencies)
    return {
        "setup_s": setup_s,
        "ops_per_s": len(done) / elapsed,
        "rows_per_s": sum(op.rows for op in done) / elapsed,
        "latency_p50_s": statistics.median(latencies),
        "latency_tail_s": value,
        # the deck order is fixed, so this is the same operation type on every seed
        "cold_op_s": done[0].latency,
        "peak_rss_mb": rss,
    }


def per_layer(tracer, wl, done, log_dir) -> dict[str, float]:
    from perfbench.tracing import event_log_metrics, median_or_zero
    from perfbench.workloads import WRITE_KINDS

    def med(name):
        return median_or_zero(tracer.layer_s.get(name, []))

    m = {
        "session.get_spark_s": median_or_zero(tracer.setup_s.get("session.get_spark", [])),
        "catalog.register_views_s": median_or_zero(tracer.setup_s.get("catalog.register_views", [])),
    }
    for name in ("query_to_csv", "read_csv", "csv_to_table"):
        m[f"operators.etl.{name}_s"] = med(f"operators.etl.{name}")
    exports = [op for op in done if op.kind == "query_to_csv" and op.failure is None]
    rows = sum(op.rows for op in exports)
    m["operators.etl.csv_bytes_per_row"] = (
        sum(tree_bytes(op.params["path"]) for op in exports) / rows if rows else 0.0
    )
    m["queries.build_s"] = med("queries.build")
    m["queries.action_s"] = med("queries.action")
    m.update(tracer.op_metrics())
    m.update(event_log_metrics(log_dir, len(done)))
    for name in ("commit", "merge", "delete_mor", "update_where", "read", "scan", "compact"):
        m[f"operators.snapshots.{name}_s"] = med(f"operators.snapshots.{name}")
    writes = [op for op in done if op.kind in WRITE_KINDS and op.failure is None]
    user_bytes = sum(op.rows for op in writes) * wl.row_bytes
    m["operators.snapshots.write_amp"] = (
        sum(op.params.get("data_bytes", 0) for op in writes) / user_bytes if user_bytes else 0.0
    )
    m["operators.snapshots.metadata_bytes_per_commit"] = (
        sum(op.params.get("meta_bytes", 0) for op in writes) / len(writes) if writes else 0.0
    )
    latest = [op.latency for op in done if op.kind == "read_latest"]
    k = -(-len(latest) // 10)
    m["operators.snapshots.read_growth"] = (
        statistics.fmean(latest[-k:]) / statistics.fmean(latest[:k]) if latest else 0.0
    )
    m["operators.snapshots.space_amp"] = wl.space_amp
    m["sources.snapshot_batch.register_s"] = med("sources.snapshot_batch.register")
    m["sources.snapshot_batch.sql_s"] = med("sources.snapshot_batch.sql")
    m["operators.sql_dml.exec_s"] = med("operators.sql_dml.exec")
    m["operators.dedup.minhash_s"] = med("operators.dedup.minhash")
    m["operators.dedup.simhash_s"] = med("operators.dedup.simhash")
    dd = [len(op.result) for op in done if op.kind in ("minhash", "simhash") and op.result is not None]
    m["operators.dedup.pairs"] = statistics.fmean(dd) if dd else 0.0
    m["operators.similarity.build_s"] = median_or_zero(tracer.setup_s.get("operators.similarity.build", []))
    m["operators.similarity.search_s"] = med("operators.similarity.search")
    m["operators.similarity.recall_at_k"] = wl.recall_at_k or 0.0
    return m


def shutdown(spark) -> None:
    """Stop the session, then the JVM the session started, and wait for it;
    the JVM is stopped even when the session cannot be (a broken gateway)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def stop_children(grace_s: float = 30.0) -> None:
    """Terminate and reap every process this one started and has not
    stopped. A run that ends while the session starts (SIGTERM in
    ``get_spark``) leaves a JVM whose gateway waits forever for its client;
    this is what stops it."""
    me = str(os.getpid())
    kids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[1] == me:
                    kids.append(int(pid))
        except OSError:
            pass
    for pid in kids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + grace_s
    for pid in kids:
        try:
            while os.waitpid(pid, os.WNOHANG) == (0, 0):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
                    break
                time.sleep(0.1)
        except ChildProcessError:  # already reaped
            pass


def run(args) -> int:
    from perfbench import datagen, oracle
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, WRITE_KINDS

    runs = os.path.join(os.getcwd(), ".perfbench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir)
    conf = isolate(run_dir)
    tracer = Tracer(enabled=bool(args.trace))
    log_dir = os.path.join(run_dir, "eventlog")
    if tracer.enabled:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    spark = None
    try:
        from airflow_postgres_csv_spark.session import get_spark

        data_dir = os.path.join(run_dir, "data")
        table_rows = datagen.generate(data_dir, args.seed)
        spark = tracer.layer("session.get_spark", get_spark, app_name="perfbench", extra_conf=conf)
        tracer.attach(spark)
        ctx = Ctx(spark, tracer, run_dir, data_dir, table_rows)
        wl = WORKLOADS[args.workload](args.seed)
        wl.inputs(ctx)
        session_s = process_age_s()
        setups = []
        for attempt in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup(ctx, attempt)
            setups.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(setups)

        done, latencies = [], []
        root = wl.root
        probe_before = probe_s()
        ticks0 = cpu_ticks()
        t_begin = time.perf_counter()
        for _ in range(max(1, round(args.seconds / DECK_S))):
            for op in wl.deck():
                traced_write = tracer.enabled and root and op.kind in WRITE_KINDS
                if traced_write:
                    before = tree_bytes(root, True), tree_bytes(root, False)
                with tracer.op(len(done), op.kind):
                    t0 = time.perf_counter()
                    try:
                        op.run(ctx)
                    except Exception as e:  # a failed operation is counted, not fatal
                        op.failure = f"raised {type(e).__name__}: {str(e)[:300]}"
                    op.latency = time.perf_counter() - t0
                if traced_write:
                    op.params["data_bytes"] = tree_bytes(root, True) - before[0]
                    op.params["meta_bytes"] = tree_bytes(root, False) - before[1]
                done.append(op)
                latencies.append(op.latency)
        elapsed = time.perf_counter() - t_begin
        busy, stolen = (b - a for a, b in zip(ticks0, cpu_ticks()))
        probe_after = probe_s()

        rss_py, rss_jvm = peak_rss_mb("self"), peak_rss_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        rss = rss_py + rss_jvm
        ctx.duck = oracle.connect(data_dir)
        run_failures = wl.check(ctx, done)
        check_s = time.perf_counter() - t_begin - elapsed
        if tracer.enabled:
            wl.trace_summary(ctx)
        failed_ops = [op for op in done if op.failure]
        for op in failed_ops:
            print(f"FAILED op {op.kind}: {op.failure}", file=sys.stderr)
        for msg in run_failures:
            print(f"FAILED check: {msg}", file=sys.stderr)
        e2e = end_to_end(setup_s, done, latencies, elapsed, rss)
        n_failed = min(len(done), len(failed_ops) + len(run_failures))
        tail_value, tail_pct = tail(latencies)
        kinds = sorted({op.kind for op in done})
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": {
                "nproc": len(os.sched_getaffinity(0)),
                "loadavg": os.getloadavg(),
                "commit": git_commit(ROOT),
                "spark": spark.version,
                "python": sys.version.split()[0],
                "spark_graft_mem": os.environ["SPARK_GRAFT_MEM"],
                # share of the CPU time demanded in the timed phase that the
                # hypervisor took away
                "steal_share": stolen / (busy + stolen) if busy + stolen else 0.0,
                "probe_s": [probe_before, probe_after],
            },
            "end_to_end": e2e,
            "ops_failed_frac": n_failed / len(done),
            "peak_rss_mb_by_process": {"python": rss_py, "jvm": rss_jvm},
            "latency_tail": {"percentile": tail_pct, "value_s": tail_value, "samples": len(latencies)},
            "ops": {k: {"n": sum(op.kind == k for op in done),
                        "median_s": statistics.median(op.latency for op in done if op.kind == k)}
                    for k in kinds},
            "recall_at_k": wl.recall_at_k,
            "sequence": [[op.kind, round(op.latency, 4)] for op in done],
            "failures": [f"{op.kind}: {op.failure}" for op in failed_ops] + run_failures,
            "phase_s": {"session": session_s, "setups": setups, "timed": elapsed, "check": check_s},
        }
        # stopping the session flushes the event log the per-layer metrics read
        t_stop = time.perf_counter()
        shutdown(spark)
        spark = None
        report["phase_s"]["shutdown"] = time.perf_counter() - t_stop
        if tracer.enabled:
            metrics = per_layer(tracer, wl, done, log_dir)
            spans_path = os.path.join(runs, f"spans-{args.workload}-s{args.seed}.json")
            tracer.write_spans(spans_path)
            report["per_layer"] = metrics
            report["spans"] = spans_path
            units = {m["name"]: m["unit"] for m in _bench_spec()["per_layer"]}
        else:
            metrics = e2e
            units = {m["name"]: m["unit"] for m in _bench_spec()["end_to_end"]}
        print("perfbench-report " + json.dumps(report), flush=True)
        correct = n_failed == 0
        result = {
            "correct": correct,
            "attempted": len(done),
            "failed": n_failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                shutdown(spark)
        finally:
            stop_children()
            shutil.rmtree(run_dir, ignore_errors=True)


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import airflow_postgres_csv_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
