#!/usr/bin/env python3
"""Benchmark of the delivery engine: one named workload, one seed.

    python3 perfbench/run.py --workload delivery-trickle --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The program is imported from that
checkout; when it is missing the command exits with code 2 and prints
no result.  Everything the run writes lands under ``.perfbench/`` in
the checkout: the catalog tables (generated once), a scratch directory
removed at the end, and a per-run JSON record under ``results/``.

Standard output ends with one JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off; with ``--trace 1`` the Spark event log is switched on and
the metrics are the per-layer ones.  A failed correctness check prints
``"correct": false`` and exits with code 1.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("delivery-trickle", "catalog")
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "sweep_cpu_s": "s",
    "heap_live_mb": "MB",
}


def layer_unit(name: str) -> str:
    for suffix, unit in (
        ("_ms", "ms"), ("_mb", "MB"), ("bytes", "bytes"), ("_pct", "%"), ("_s", "s")
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer_names() -> tuple[str, ...]:
    import workloads

    return (
        *workloads.PER_LAYER,
        "wall.sweep_s",
        "wall.unit_p50_ms",
        "wall.unit_geomean_ms",
        "wall.unit_tail_ms",
        "trace.sweep_cpu_s",
        "mem.peak_rss_mb",
        "host.steal_pct",
        "host.iowait_pct",
        "host.busy_pct",
    )


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _program_present() -> bool:
    sys.path.insert(0, ROOT)
    try:
        import aws_dla_kinesis_delivery_stream_example_spark.session  # noqa: F401
        import tests.oracle_utils  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return False
    return True


def _isolate(run_dir: str) -> dict:
    """Keep every file Spark, RocksDB and the program write in this run's
    scratch directory inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.chdir(run_dir)
    return {
        # Compiler threads that outlive their work let the benchmark
        # leave JIT compilation out of a pass's CPU (measure.jit_cpu_s).
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
    }


def _event_log_conf(run_dir: str) -> dict:
    d = os.path.join(run_dir, "eventlog")
    os.makedirs(d, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{d}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # make sure nothing outlives the run
                proc.kill()
                proc.wait(timeout=30)


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    import measure

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return None
    for pid in measure.descendants(proc.pid):
        if measure.process_name(pid) == "java":
            return pid
    return None


def _settled_heap_mb(spark, rounds: int = 6) -> float:
    """JVM heap in use after a Python GC and then ``rounds`` full JVM
    GCs half a second apart.  The Python GC lets py4j release the JVM
    objects that dead Python frames still pin.  A JVM GC only queues
    unreachable RDDs, shuffles and broadcasts for Spark's
    ContextCleaner; what the cleaner then releases is freed by a later
    GC."""
    gc.collect()
    jvm = spark._jvm
    for _ in range(rounds):
        time.sleep(0.5)
        jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / 2**20


def main(argv=None) -> int:
    args = parse_args(argv)
    # A terminated run still stops its JVM (the ``finally`` below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not _program_present():
        return 2
    import datagen
    import measure

    cpu0 = measure.cpu_row()
    base = os.path.join(ROOT, ".perfbench")
    t_build = time.perf_counter()
    tables = datagen.write_tables(os.path.join(base, "tables-sf0.1"))
    build_s = time.perf_counter() - t_build
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _isolate(run_dir)
    if args.trace:
        conf.update(_event_log_conf(run_dir))
    spark = None
    try:
        from aws_dla_kinesis_delivery_stream_example_spark.session import get_spark

        import workloads
        from probes import ProgressRecorder

        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - _T0 - build_s
        recorder = ProgressRecorder()
        spark.streams.addListener(recorder)
        jvm = _jvm_pid()
        if args.workload == "catalog":
            w = workloads.Catalog(
                spark, run_dir, args.seed, args.seconds, recorder, tables, bool(args.trace), jvm
            )
        else:
            w = workloads.Delivery(spark, run_dir, args.seed, args.seconds, recorder, jvm)
        prep_s = [w.prepare() for _ in range(SETUP_REPS)]
        t_warm = time.perf_counter()
        w.warm()
        warm_s = time.perf_counter() - t_warm

        t_measure = time.perf_counter()
        w.measure()
        measure_s = time.perf_counter() - t_measure

        e2e = w.end_to_end()
        units = e2e["units_ms"]
        tail_ms, tail_pct, n_units = measure.tail(units)
        rss_kb = measure.vm_hwm_kb() + measure.vm_hwm_kb(jvm)
        values = {
            "setup_s": session_s + measure.median(prep_s) + warm_s,
            "sweep_cpu_s": measure.median(w.passes.cpu_s),
            "heap_live_mb": _settled_heap_mb(spark),
        }
        wall = {
            "wall.sweep_s": e2e["sweep_s"],
            "wall.unit_p50_ms": measure.median(units),
            "wall.unit_geomean_ms": measure.geomean(units),
            "wall.unit_tail_ms": tail_ms,
        }
        peak_rss_mb = rss_kb / 1024.0
        t_check = time.perf_counter()
        check = w.check()
        check_s = time.perf_counter() - t_check
        if args.trace:
            layers = dict.fromkeys(per_layer_names(), 0.0)
            layers.update(w.per_layer())
            layers.update(wall)
            layers["mem.peak_rss_mb"] = peak_rss_mb
            layers["trace.sweep_cpu_s"] = values["sweep_cpu_s"]
            layers["session.start_ms"] = session_s * 1e3
            layers["sources.warm_ms" if args.workload == "catalog" else "sources.generate_ms"] = (
                measure.median(prep_s) * 1e3
            )
        _stop_jvm(spark)
        spark = None
        if args.trace:
            logs = os.listdir(os.path.join(run_dir, "eventlog"))
            events = measure.read_event_log(os.path.join(run_dir, "eventlog", logs[0]))
            layers.update(measure.scheduler_ledger(events, w.windows_ms()))
            layers["trace.invariant_violations"] += layers["spark.late_jobs"]
            if layers["delivery.flushes"]:
                layers["spark.jobs_per_flush"] = layers["spark.jobs"] / layers["delivery.flushes"]
        canary = measure.host_canary(cpu0, measure.cpu_row())
    finally:
        try:
            if spark is not None:
                _stop_jvm(spark)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)

    correct = check.failed == 0
    if args.trace:
        layers.update({f"host.{k}": v for k, v in canary.items()})
        metrics = {k: {"value": layers[k], "unit": layer_unit(k)} for k in per_layer_names()}
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "phases_s": {
            "session": session_s,
            "prepare": prep_s,
            "warm": warm_s,
            "measure": measure_s,
            "pass_cpu": w.passes.cpu_s,
            "pass_jit": w.passes.jit_s,
            "check": check_s,
            "total": time.perf_counter() - _T0,
        },
        "end_to_end": values,
        "wall": wall,
        "peak_rss_mb": peak_rss_mb,
        "tail": {"percentile": tail_pct, "units": n_units},
        "units_ms": units,
        "calls": w.detail(),
        "host_canary": canary,
        "problems": check.problems[:20],
        "metrics": metrics,
    }
    if "rec_per_s" in e2e:
        record["wall"]["wall.rec_per_s"] = e2e["rec_per_s"]
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print(
        f"perfbench: {args.workload} measured {measure_s:.1f} s in {len(w.passes.cpu_s)} passes; "
        + ", ".join(f"{k} {v:.4g}" for k, v in record["wall"].items())
        + f" (tail = p{tail_pct:.0f} of {n_units} units); host {json.dumps(canary)}; "
        f"problems {check.problems[:5]}"
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": check.attempted,
                "failed": check.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
