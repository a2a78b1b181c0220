"""Benchmark entry point: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload tpch_x10 --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
and cached under ``.perfbench_cache/`` (generation is never timed). The
last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the spans to ``.perfbench_out/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")

#: tpch_x10 input: the reference tables at this scale factor, fact
#: tables drawn as TPCH_REPLICAS independent replicas (lineitem 120k rows)
TPCH_BASE_SF = 0.002
TPCH_REPLICAS = 10
CPUS = len(os.sched_getaffinity(0))  # local[$(nproc)]
DRIVER_MEMORY = "3g"

WORKLOADS = ("tpch_x10", "stream_zscore")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
}

PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "session.first_action_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.jvm_gc_s": "s",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.python_rows": "count",
    "operators.python_bytes": "bytes",
    "operators.release_cached_s": "s",
    "tables.scan_s": "s",
    "tables.scan_bytes": "bytes",
    "tables.scan_rows": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.rows_per_batch": "count",
    "streaming.backlog_files_max": "count",
    "streaming.gen_lateness_max_s": "s",
    "streaming.processed_per_committed": "ratio",
    "recovery.restarts": "count",
    "recovery.replayed_batches": "count",
    "recovery.recovery_s": "s",
    "manifest_table.append_s": "s",
    "manifest_table.files_written": "count",
    "manifest_table.skipped_replays": "count",
    "trace.latency_p50_s": "s",
    "trace.throughput_per_s": "1/s",
    "trace.collect_s": "s",
}


def _prepare_env() -> dict:
    """Keep every file the engine writes inside the checkout and size
    the Spark driver heap for a shared host. Must run before the JVM
    starts."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    # Python workers import the engine and the benchmark modules
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}


def tpch_inputs(seed: int) -> str:
    """The seed's tpch_x10 tables, generated once, then reused."""
    import gen

    d = os.path.join(CACHE, "inputs", f"tpch_x10-seed{seed}")
    if not os.path.isdir(d):
        part = f"{d}.{os.getpid()}.part"
        shutil.rmtree(part, ignore_errors=True)
        gen.tpch_tables(part, seed, TPCH_BASE_SF, TPCH_REPLICAS)
        os.replace(part, d)
    return d


def setup_session(conf: dict, tracer):
    """``get_spark`` plus a first action, in a fresh process: this starts
    the JVM. Returns the session and the two times."""
    from flink_anomaly_spark.session import get_spark

    with tracer.span("session.setup", "setup"):
        t0 = time.perf_counter()
        with tracer.span("session.get_spark", "setup"):
            spark = get_spark("perfbench", cpus=CPUS, extra_conf=conf)
        t1 = time.perf_counter()
        with tracer.span("session.first_action", "setup"):
            spark.range(1000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
    return spark, (t1 - t0, t2 - t1)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs: on a virtual machine,
    the share stolen by the hypervisor explains slow runs."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def peak_rss_mb(spark) -> float:
    from metrics import vm_hwm_mb

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(int(jvm_pid))


def become_subreaper() -> None:
    """Have orphaned descendants reparented to this process rather than to
    init, so :func:`reap_descendants` can wait for them. The JVM launcher
    leaves such orphans: the shell that ``spark-class`` forks to build the
    ``java`` command line stays a zombie child of the JVM until it exits."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == me:
                kids.append(int(d))
    return kids


def reap_descendants(grace_s: float = 20.0) -> None:
    """Wait until every child and orphaned descendant has exited and is
    reaped; kill those still running after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return  # none left
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.02)


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import flink_anomaly_spark  # noqa: F401  fail fast outside a checkout

    from metrics import Tracer

    conf = _prepare_env()
    if workload == "tpch_x10":
        data_dir = tpch_inputs(seed)
    tracer = Tracer(trace)
    spark = None
    try:
        spark, (get_spark_s, first_action_s) = setup_session(conf, tracer)
        steal0, total0 = cpu_ticks()
        if workload == "tpch_x10":
            import batch

            res = batch.run(spark, data_dir, batch.TPCH_QUERIES, seed, seconds, tracer, os.path.join(CACHE, "tmp"), CPUS)
        else:
            import stream

            res = stream.StreamRun(spark, os.path.join(CACHE, "stream-work"), seed, seconds, tracer).run()
        rss = peak_rss_mb(spark)
    finally:
        shutdown(spark)
    steal1, total1 = cpu_ticks()

    res["setup_s"] = get_spark_s + first_action_s
    res["latency_p50_s"], res["latency_tail_s"] = res["latency"]["p50"], res["latency"]["tail"]
    if trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(res["layers"])
        layers["process.peak_rss_mb"] = rss
        layers["session.get_spark_s"] = get_spark_s
        layers["session.first_action_s"] = first_action_s
        if workload == "stream_zscore":
            layers["plans.build_s"] = sum(s.end - s.start for s in tracer.spans if s.name == "streaming.start")
        layers["trace.latency_p50_s"] = res["latency_p50_s"]
        layers["trace.throughput_per_s"] = res["throughput_per_s"]
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{workload}-seed{seed}.json"), "w") as fh:
            json.dump({"workload": workload, "seed": seed, "spans": tracer.to_json(), "layers": layers}, fh)
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(res[k]), "unit": u} for k, u in END_TO_END.items()}
    info = {k: res[k] for k in ("check", "latency", "per_query_s") if k in res}
    info["cpu_steal_frac"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    print(json.dumps({"workload": workload, "seed": seed, "info": info}))
    return {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    become_subreaper()
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        reap_descendants()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
