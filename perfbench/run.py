"""Benchmark of the CDC export jobs and the operator headliners, by layer.

Run from the repository root:

    python3 perfbench/run.py --workload export_poll --seed 1 --seconds 24 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

* ``export_poll``: one consumer alternates incremental and delta jobs over
  a seeded change feed; every fourth poll finds no new batch.
* ``operator_headliners``: passes over a set of registry headliners on the
  fixed sf0.01 tables under ``perfbench/data``.

Two more workloads run by hand. They are left out of BENCHMARK.json because
their runs do not fit its time budget: ``export_full`` (one client,
back-to-back full exports of a 1M-row table) and ``export_fanout`` (the
change feed read by 4 consumers on 4 threads that share one SparkSession and
one WatermarkStore).

``--seconds`` sets the measured work: each workload runs as many operations
as take that long on the reference host (see ``workloads.py``). Spark runs
at ``local[2]``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
same workload runs with spans around each layer's public calls and the
metrics are per layer (see ``tracing.py``). Tracing overhead is the traced
``trace.op_p50_s`` minus the untraced ``op_p50_s``. A failed output check
makes the exit code 1. All files go under ``perfbench/.work``, which is
removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

from tracing import Tracer, median, self_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# Two task slots on a 4-vCPU host leave the driver's JVM and Python threads
# a core each. With four slots those threads queue behind the tasks, the host
# takes more CPU time away from the guest, and export_poll jobs ran slower
# and spread wider from run to run (see BASELINE.md).
SLOTS = 2
MASTER = f"local[{SLOTS}]"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}


def per_layer_units(headliners) -> dict[str, str]:
    units = {
        "session.start_s": "s",
        "datagen.users_s": "s",
        "datagen.rows": "count",
        "jobs.self_s": "s",
        "exports.full_s": "s",
        "exports.incremental_s": "s",
        "exports.delta_s": "s",
        "exports.spark_jobs": "count",
        "state.get_s": "s",
        "state.upsert_s": "s",
        "state.upsert_tail_s": "s",
        "state.get_spark_jobs": "count",
        "state.upsert_spark_jobs": "count",
        "state.snapshot_dirs": "count",
        "state.disk_bytes": "B",
        "sink.write_s": "s",
        "sink.spark_jobs": "count",
        "sink.rows": "count",
        "sink.bytes": "B",
        "spark.jobs": "count/op",
        "spark.stages": "count/op",
        "spark.tasks": "count/op",
        "spark.executor_run_s": "s/op",
        "spark.executor_cpu_s": "s/op",
        "spark.shuffle_read_bytes": "B/op",
        "spark.shuffle_write_bytes": "B/op",
        "spark.spill_bytes": "B/op",
        "spark.gc_s": "s/op",
        "trace.op_p50_s": "s",
    }
    for q in headliners:
        units[f"query.{q}.build_s"] = "s"
        units[f"query.{q}.exec_s"] = "s"
    return units


def start_spark(tracer):
    from cdc_export_system_spark import session

    if tracer:
        tracer.wrap(session, "get_spark", "session.get_spark")
    spark = session.get_spark(
        app_name="perfbench",
        master=MASTER,
        shuffle_partitions=SLOTS,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Duser.timezone=UTC -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage in the status store for the counters
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except FileNotFoundError:
            continue  # the thread ended meanwhile
    return out


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait until they end."""
    proc = spark.sparkContext._gateway.proc
    workers = _children(proc.pid)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — any failure to exit cleanly ends in a kill
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def instrument(tracer) -> None:
    """Spans around each layer's public calls, at the names callers use."""
    from cdc_export_system_spark import datagen
    from cdc_export_system_spark.cdc import exports, jobs
    from cdc_export_system_spark.state.watermark import WatermarkStore

    def sink_facts(span, args, rows):
        path = args[1]
        span.result["rows"] = rows
        span.result["bytes"] = os.path.getsize(path) if os.path.isfile(path) else 0

    tracer.wrap(datagen, "write_users", "datagen.write_users")
    tracer.wrap(jobs, "start_export_job", "jobs.start_export_job")
    for kind in ("full", "incremental", "delta"):
        tracer.wrap(exports, f"run_{kind}_export", f"exports.{kind}")
    tracer.wrap(exports, "write_users_csv", "sink.write", after=sink_facts)
    tracer.wrap(WatermarkStore, "get", "state.get")
    tracer.wrap(WatermarkStore, "upsert", "state.upsert")


def end_to_end(b, rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": b.setup_s,
        "op_p50_s": b.op_p50(),
        "ops_per_s": len(b.latencies) / b.measured_s,
        "rows_per_s": b.rows / sum(b.latencies),
        "peak_rss_mb": rss_mb,
    }


def per_layer(b, tracer, headliners) -> dict[str, float]:
    tracer.collect_spark()
    spans = tracer.spans
    kids: dict[int, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    measured = [s for s in spans if s.phase == "measure"]

    def named(name, pool=measured):
        return [s for s in pool if s.name == name]

    def self_med(name):
        return median(self_seconds(s, kids.get(s.id, [])) for s in named(name))

    exports = [s for s in measured if s.name.startswith("exports.")]
    upserts = named("state.upsert")
    totals = tracer.stage_totals(measured)
    ops = max(len(b.latencies), 1)
    m = {
        "session.start_s": sum(s.seconds for s in named("session.get_spark", spans)),
        "datagen.users_s": sum(s.seconds for s in named("datagen.write_users", spans)),
        "datagen.rows": b.facts.get("datagen.rows", 0),
        "jobs.self_s": self_med("jobs.start_export_job"),
        "exports.full_s": self_med("exports.full"),
        "exports.incremental_s": self_med("exports.incremental"),
        "exports.delta_s": self_med("exports.delta"),
        "exports.spark_jobs": median(s.jobs for s in exports),
        "state.get_s": median(s.seconds for s in named("state.get")),
        "state.upsert_s": median(s.seconds for s in upserts),
        "state.upsert_tail_s": max((s.seconds for s in upserts), default=0.0),
        "state.get_spark_jobs": median(s.jobs for s in named("state.get")),
        "state.upsert_spark_jobs": median(s.jobs for s in upserts),
        "state.snapshot_dirs": b.facts.get("state.snapshot_dirs", 0),
        "state.disk_bytes": b.facts.get("state.disk_bytes", 0),
        "sink.write_s": median(s.seconds for s in named("sink.write")),
        "sink.spark_jobs": median(s.jobs for s in named("sink.write")),
        "sink.rows": median(s.result["rows"] for s in named("sink.write")),
        "sink.bytes": median(s.result["bytes"] for s in named("sink.write")),
        "spark.jobs": sum(s.jobs for s in measured) / ops,
        "spark.stages": totals.stages / ops,
        "spark.tasks": totals.tasks / ops,
        "spark.executor_run_s": totals.run_s / ops,
        "spark.executor_cpu_s": totals.cpu_s / ops,
        "spark.shuffle_read_bytes": totals.shuffle_read_bytes / ops,
        "spark.shuffle_write_bytes": totals.shuffle_write_bytes / ops,
        "spark.spill_bytes": totals.spill_bytes / ops,
        "spark.gc_s": totals.gc_s / ops,
        "trace.op_p50_s": b.op_p50(),
    }
    for q in headliners:
        m[f"query.{q}.build_s"] = median(s.seconds for s in named(f"query.{q}.build"))
        m[f"query.{q}.exec_s"] = median(s.seconds for s in named(f"query.{q}.exec"))
    return m


def main(argv=None) -> int:
    t0 = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    os.environ["TZ"] = "UTC"  # Spark collects timestamps in the process zone
    time.tzset()
    sys.path.insert(0, ROOT)
    import workloads  # imports the engine; fails outside a checkout of the repo

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    load1 = os.getloadavg()[0]
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")

    tracer = Tracer() if args.trace else None
    b = workloads.Bench(args.workload, args.seed, args.seconds, WORK, tracer, t0)
    try:
        spark = start_spark(tracer)
        try:
            if tracer:
                tracer.sc = spark.sparkContext
                instrument(tracer)
            workloads.WORKLOADS[args.workload](b, spark)
            steal = b.steal_share()
            rss_parts = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)}
            rss_mb = sum(rss_parts.values())
            if tracer:
                headliners = workloads.HEADLINERS
                metrics = per_layer(b, tracer, headliners)
                units = per_layer_units(headliners)
                spans = [
                    {"id": s.id, "parent": s.parent, "trace": s.trace, "name": s.name, "phase": s.phase,
                     "start": s.start - t0, "end": s.end - t0, "spark_jobs": s.jobs}
                    for s in tracer.spans
                ]
            else:
                metrics, units = end_to_end(b, rss_mb), END_TO_END
            spark_version = spark.version
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "master": MASTER,
        "spark": spark_version,
        "load1_at_start": load1,
        "latencies_s": [round(x, 3) for x in b.latencies],
        "measured_s": b.measured_s,
        "cpu_steal_share": steal,
        "peak_rss_mb": rss_parts,
    }
    if tracer:
        print(json.dumps({"spans": spans}))
    print(json.dumps({"context": context}))
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if b.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
