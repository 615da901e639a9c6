"""Repository benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload etl_monthly --seed 1 --seconds 16 --trace 0

Run from the repository root.  The engine is imported from the package
directory beside ``perfbench/``; everything a run writes (warehouse,
checkpoints, Derby log, Spark scratch, temp files) goes to a temporary
directory under the root that is removed before exit.

The last stdout line is the result: ``correct``, ``attempted``, ``failed``
and ``metrics``.  With ``--trace 0`` the metrics are the end-to-end ones
of BENCHMARK.json; with ``--trace 1`` the per-layer ones.  The line
before it, ``detail {...}``, holds the workload's own figures, the Spark
counts per operation, the noise record and, when traced, the per-layer
times and the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from statistics import median

sys.dont_write_bytecode = True  # leave no __pycache__ in the tree

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "glue_etl_nyc_yellow_taxi_analysis_spark"
TIME_LIMIT_S = 150  # a run that has not finished by then is abandoned
# environment that would point the engine away from the run's own
# session and embedded warehouse
SCRUB_ENV = ("SPARK_MASTER", "SG_WH_CONFIG", "SG_WH_URL", "SG_WH_USER",
             "SG_WH_PASSWORD", "SG_WH_DRIVER", "SPARK_GRAFT_DRIVER_MEM")


class Context:
    """What a workload needs from the harness."""

    def __init__(self, spark, work, warehouse, seed, size, tracer):
        self.spark = spark
        self.work = work
        self.warehouse = warehouse
        self.seed = seed
        self.size = size
        self.tracer = tracer


def workloads():
    from bi import BiAdhoc
    from etl import EtlMonthly

    return {w.name: w for w in (EtlMonthly, BiAdhoc)}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: small inputs for the benchmark's self-tests")
    return p.parse_args(argv)


def start_session(work: str):
    from glue_etl_nyc_yellow_taxi_analysis_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    # a heap that grows on demand grows with GC timing: its peak RSS
    # spread 6-22 % between seeds.  A committed heap (-Xms = -Xmx) keeps
    # the RSS steady, so it shows memory outside the heap; heap use is
    # the traced run's jvm.heap_peak_mb.  A tenth of the usual JIT
    # thresholds compiles within a run's warm-up what a long-running
    # driver would have compiled; with the defaults, operations kept
    # getting faster through the whole timed loop
    java_opts = ("-Xms2g -XX:CompileThresholdScaling=0.1"
                 f" -Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}")
    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        warehouse_dir=os.path.join(work, "warehouse"),
        extra_conf={
            # the engine's default driver heap is 8g; 2g is ample for the
            # benchmark's inputs and keeps a run small on a shared host
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(args, work: str) -> tuple[dict, dict]:
    import counters
    from spans import Tracer

    sampler = counters.NoiseSampler().start()
    tracer = Tracer(enabled=False)
    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        ctx = Context(spark, work, os.path.join(work, "warehouse"),
                      args.seed, args.size, tracer)
        wl = workloads()[args.workload](ctx)
        pid = counters.jvm_pid(spark)
        t = time.perf_counter()
        state = wl.setup()
        # the JIT keeps speeding operations up long after the set-up;
        # warm-up operations keep most of that trend out of the timed
        # loop.  Only the warm-up may use several clients, to get through
        # more operations in the same time
        warm = wl.warmup(state)
        pool = ThreadPoolExecutor(wl.warmup_clients)
        try:
            list(pool.map(lambda prepared: wl.op(state, prepared), warm))
        finally:
            pool.shutdown(cancel_futures=True)
        workload_setup_s = time.perf_counter() - t

        spark_counts = counters.SparkCounters(spark)
        records = []
        deadline = time.monotonic() + args.seconds
        # a traced run needs one traced and one untraced cycle
        min_ops = wl.cycle * (2 if args.trace else 1)
        i = 0
        # the loop stops on a cycle boundary, so every operation is in a
        # whole cycle
        while time.monotonic() < deadline or i % wl.cycle or i < min_ops:
            # traced runs trace whole cycles in turn: each template is
            # traced as often as not, and the traced cycles against the
            # untraced ones give the tracing overhead
            tracer.enabled = bool(args.trace) and (i // wl.cycle) % 2 == 0
            tracer.op = i
            prepared = wl.prepare_op(state, i)
            spark_counts.mark()
            c0 = counters.process_cpu_s(pid)
            try:
                rec = wl.op(state, prepared)
                rec["cpu_s"] = counters.process_cpu_s(pid) - c0
                rec["error"] = None
            except Exception:  # a failed operation is counted, the run goes on
                rec = {"latency_s": None, "error": traceback.format_exc(limit=3)}
            rec["traced"] = tracer.enabled
            rec["spark"] = spark_counts.since_mark()
            records.append(rec)
            i += 1
        tracer.enabled = False

        done = [r for r in records if r["error"] is None]
        checks = wl.check(state, done)
        for r, ok in zip(done, checks):
            r["ok"] = ok
        failed = sum(1 for r in records if not r.get("ok"))
        rss = counters.peak_rss_mb(pid)
        heap = counters.heap_peak_mb(spark)
        wl.teardown(state)
    finally:
        stop_session(spark)
    noise = sampler.stop()

    good = good_cycles(records, wl.cycle)
    ok = [r for c in good for r in c]
    end_to_end = {
        "setup_s": (session_s + workload_setup_s, "s"),
        "op_p50_ms": (kind_p50_ms(good), "ms"),
        "ops_per_s": (len(ok) / sum(r["latency_s"] for r in ok) if ok else None, "1/s"),
        "jvm_peak_rss_mb": (rss, "MB"),
    }
    first = records[: wl.cycle]
    per_op = [{k: r["spark"][k] for k in ("jobs", "stages", "tasks")} for r in records]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "session_start_s": session_s,
        "workload_setup_s": workload_setup_s,
        "op_latencies_ms": [r["latency_s"] * 1e3 for r in done],
        "op_cpu_ms": [r["cpu_s"] * 1e3 for r in done],
        "workload_metrics": wl.summary(ok) if ok else None,
        "spark_counts_first_cycle": {k: sum(r["spark"][k] for r in first)
                                     for k in ("jobs", "stages", "tasks")},
        "spark_counts_per_op": per_op,
        "errors": [r["error"] for r in records if r["error"]][:3],
        "noise": noise,
    }
    result = {
        "correct": failed == 0 and bool(good),
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()},
    }
    if args.trace:
        per_layer, layer_detail = layer_metrics(good, first, session_s, heap, tracer)
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
        detail["end_to_end"] = {k: v for k, (v, _) in end_to_end.items()}
        detail.update(layer_detail)
    return result, detail


def good_cycles(records: list[dict], cycle: int) -> list[list[dict]]:
    """The records cut into cycles by operation index, keeping only the
    cycles whose every operation ran and passed its check."""
    cycles = [records[k:k + cycle] for k in range(0, len(records), cycle)]
    return [c for c in cycles if all(r.get("ok") for r in c)]


def kind_p50_ms(good: list[list[dict]]) -> float | None:
    """Median latency of each kind of operation (a position in the cycle:
    bi_adhoc's templates differ in cost, and a median over single queries
    would jump between their clusters), averaged over the kinds, in ms."""
    if not good:
        return None
    kinds = list(zip(*good))
    return sum(median(r["latency_s"] for r in k) for k in kinds) / len(kinds) * 1e3


def _p50(values):
    """Median, or None when there is nothing to take it of."""
    return median(values) if values else None


def _mean_latency(cycle):
    return sum(r["latency_s"] for r in cycle) / len(cycle)


def _med(records, key):
    """Median of a record field; None where the workload has no such step."""
    return _p50([r[key] for r in records if r.get(key) is not None])


def layer_metrics(good, first, session_s, heap_mb, tracer):
    """Per-layer metrics of a traced run over its good cycles, plus the
    module times that only one workload exercises (those go to the detail
    record)."""
    traced = [_mean_latency(c) for c in good if c[0]["traced"]]
    untraced = [_mean_latency(c) for c in good if not c[0]["traced"]]
    overhead = (median(traced) / median(untraced) - 1) * 100 if traced and untraced else None
    done = [r for c in good for r in c]
    spark = [r["spark"] for r in done]
    cpus = len(os.sched_getaffinity(0))

    def first_sum(key, spark_counter=False):
        """Exact count over the first cycle of operations."""
        return sum((r["spark"] if spark_counter else r).get(key) or 0 for r in first)

    per_layer = {
        "session.start_s": (session_s, "s"),
        "spark.executor_run_s": (_p50([s["executor_run_s"] for s in spark]), "s"),
        "spark.executor_cpu_s": (_p50([s["executor_cpu_s"] for s in spark]), "s"),
        "trace.overhead_pct": (overhead, "%"),
        "spark.jobs": (first_sum("jobs", spark_counter=True), "count"),
        "spark.stages": (first_sum("stages", spark_counter=True), "count"),
        "spark.tasks": (first_sum("tasks", spark_counter=True), "count"),
        "spark.input_bytes": (first_sum("input_bytes", spark_counter=True), "bytes"),
        "spark.shuffle_write_bytes": (first_sum("shuffle_write_bytes", spark_counter=True), "bytes"),
        "spark.spill_bytes": (first_sum("spill_bytes", spark_counter=True), "bytes"),
        "catalog.files_written": (first_sum("files_written"), "count"),
        "catalog.bytes_written": (first_sum("bytes_written"), "bytes"),
        "catalog.files_read": (first_sum("files_read"), "count"),
        "catalog.bytes_read": (first_sum("bytes_read"), "bytes"),
        "streaming.batches": (first_sum("batches"), "count"),
        "warehouse.exists_calls": (first_sum("exists_calls"), "count"),
        "jvm.heap_peak_mb": (heap_mb, "MB"),
    }
    module_times = {
        "spark.gc_s": _p50([s["gc_s"] for s in spark]),
        # executor task time over the cores' wall time: how much of an
        # operation keeps the executors busy, the rest being driver-side
        # planning, scheduling and I/O set-up
        "spark.executor_busy_share": _p50([r["spark"]["executor_run_s"] / (r["latency_s"] * cpus)
                                           for r in done]),
        "streaming.drain_s": _med(done, "ingest_s"),
        "streaming.pre_file_s": _med(done, "pre_file_s"),
        "streaming.query_planning_ms": _med(done, "query_planning_ms"),
        "streaming.add_batch_ms": _med(done, "add_batch_ms"),
        "plans.star.file_build_s": _med(done, "file_build_s"),
        "warehouse.load_s": _med(done, "load_s"),
        "warehouse.exists_s": _med(done, "exists_s"),
        "warehouse.append_s": _med(done, "append_s"),
        "warehouse.rows_per_s": _med(done, "warehouse_rows_per_s"),
        "sql.analyze_ms": _med(done, "analyze_ms"),
        "sql.plan_ms": _med(done, "plan_ms"),
        "sql.exec_ms": _med(done, "exec_ms"),
    }
    traced_ops = sum(1 for r in done if r["traced"]) or 1
    by_span = tracer.self_times(by="span")
    traced_s = sum(by_span.values()) or 1.0
    layer_detail = {
        "module_times": module_times,
        "self_s_per_traced_op": {k: v / traced_ops for k, v in tracer.self_times().items()},
        # share of the traced operations' time spent in each span itself
        "self_share_by_span": {k: v / traced_s for k, v in sorted(by_span.items())},
        "trace_overhead": {"traced_cycles": len(traced), "untraced_cycles": len(untraced),
                           "traced_p50_ms": _p50([t * 1e3 for t in traced]),
                           "untraced_p50_ms": _p50([t * 1e3 for t in untraced])},
        "spans": tracer.export(),
    }
    return per_layer, layer_detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.workload not in workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(TIME_LIMIT_S)
    for k in SCRUB_ENV:
        os.environ.pop(k, None)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"  # for Spark's Python workers
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    cwd = os.getcwd()
    os.chdir(work)  # derby.log and any stray relative path land here
    try:
        result, detail = run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        signal.alarm(0)
    print("detail " + json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
