"""The benchmark's workloads and the checks of their outputs.

Every workload is a closed loop: a caller sends its next request only after
the previous reply. Each one sets up its inputs from the seed, calls
``Bench.begin_measure`` and runs a fixed number of operations: as many as
take ``--seconds`` on the reference host of BASELINE.md. The work is fixed
rather than timed so that two versions of the program run the same sequence
of operations; with a timed loop, a job that ends just before or just after
the deadline changes how many samples a run takes and how far into the JVM's
warm-up they reach. Appends of change batches and output checks run outside
the timed region; a failed check counts the operation as failed.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from datetime import date, datetime

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.dataset as pds

from cdc_export_system_spark import datagen
from cdc_export_system_spark.cdc import jobs
from cdc_export_system_spark.schemas import DELTA_EXPORT_COLUMNS, EXPORT_COLUMNS
from cdc_export_system_spark.state.watermark import WatermarkStore

from feed import ChangeFeed

FULL_ROWS = 1_000_000
FEED_BASE_ROWS = 100_000
CONSUMERS = 4
# One registry headliner per module family the operator layer spans. All 31
# take ~21 s a pass after a cold pass twice as long: too much for one run.
HEADLINERS = (
    "agg_quantiles_distributed",  # operators/aggregates
    "dedup_minhash_lsh",  # dedup/minhash
    "ml_kfold_cv",  # ml/supervised
    "tpch_q1",  # operators/tpch, scan-bound control
)
# Measured seconds per unit of work on the reference host, which turn
# --seconds into a number of units.
FULL_JOB_S = 6.0
POLL_CYCLE_S = 8.0
HEADLINER_PASS_S = 2.4
HEADLINER_WARMUP_PASSES = 3  # after the cold oracle pass
HEADLINER_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def cpu_ticks() -> list[int]:
    """The host's CPU time counters since boot (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Bench:
    """State of one benchmark run: samples, checks and per-layer facts."""

    def __init__(self, workload: str, seed: int, seconds: int, work_dir: str, tracer, t0: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.tracer = tracer
        self.t0 = t0
        self.setup_s = 0.0
        self.latencies: list[float] = []  # measured operations, seconds each
        self.rows = 0  # rows the measured operations produced
        self.measured_s = 0.0  # measured wall time, appends and checks excluded
        self.attempted = 0
        self.failed = 0
        self.facts: dict[str, float] = {}  # per-layer facts the workload knows
        self.query_s: dict[str, list[float]] = {}  # headliner build + execute, per query
        self.cpu_at_measure: list[int] = []

    def op_p50(self) -> float:
        """Median operation latency; for headliner passes, the sum over
        queries of each one's median, which one slow pass moves less."""
        if self.query_s:
            return sum(statistics.median(v) for v in self.query_s.values())
        return statistics.median(self.latencies)

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def units(self, nominal_s: float) -> int:
        return max(1, round(self.seconds / nominal_s))

    def begin_measure(self) -> None:
        self.setup_s = time.perf_counter() - self.t0
        self.cpu_at_measure = cpu_ticks()
        if self.tracer:
            self.tracer.phase = "measure"

    def steal_share(self) -> float:
        """Share of the host's CPU time taken by the hypervisor for other
        guests since the measured phase began: a noisy-host indicator."""
        delta = [b - a for a, b in zip(self.cpu_at_measure, cpu_ticks())]
        return delta[7] / max(sum(delta[:8]), 1)

    def record(self, seconds: float, rows: int) -> None:
        self.latencies.append(seconds)
        self.rows += rows

    def check(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"FAILED {what}: {'; '.join(problems)}", flush=True)


# -- CSV checks ------------------------------------------------------------


def _read_csv(path: str, columns: list[str], problems: list[str]):
    with open(path, encoding="utf-8") as f:
        header = f.readline().rstrip("\n")
    if header != ",".join(columns):
        problems.append(f"header {header!r}")
    opts = pcsv.ConvertOptions(column_types={c: "string" for c in columns})
    return pcsv.read_csv(path, convert_options=opts)


def _is_sorted(col) -> bool:
    if len(col) < 2:
        return True
    return pc.all(pc.less_equal(col.slice(0, len(col) - 1), col.slice(1))).as_py()


def _check_export(path: str, res: dict, rows: int, op_counts: dict | None, problems: list[str]) -> None:
    """An export file holds exactly ``rows`` data rows ordered by
    ``updated_at``; a delta file also has ``op_counts`` operations; an
    incremental or full file holds live rows only; no rows means no file."""
    if res["rowsExported"] != rows:
        problems.append(f"rowsExported {res['rowsExported']} != {rows}")
    if rows == 0:
        if os.path.exists(path):
            problems.append("empty export left a file")
        return
    if not os.path.isfile(path):
        problems.append("no file")
        return
    columns = DELTA_EXPORT_COLUMNS if op_counts is not None else EXPORT_COLUMNS
    table = _read_csv(path, columns, problems)
    if table.num_rows != rows:
        problems.append(f"{table.num_rows} data lines != {rows}")
    if not _is_sorted(table["updated_at"]):
        problems.append("not ordered by updated_at")
    if op_counts is None:
        if pc.any(pc.equal(table["is_deleted"], "True")).as_py():
            problems.append("deleted rows exported")
    else:
        got = {d["values"]: d["counts"] for d in pc.value_counts(table["operation"]).to_pylist()}
        if got != {k: v for k, v in op_counts.items() if v}:
            problems.append(f"operations {got} != {op_counts}")
    os.remove(path)


def _watermarks(store: WatermarkStore) -> dict[str, datetime]:
    """Every consumer's committed watermark, read in one pass."""
    return {r["consumer_id"]: r["last_exported_at"] for r in store.snapshot().collect()}


def _check_watermark(got: datetime | None, want: datetime, problems: list[str]) -> None:
    if got != want:
        problems.append(f"watermark {got} != {want}")


def state_facts(b: Bench, state_dir: str) -> None:
    versions = os.path.join(state_dir, "versions")
    b.facts["state.snapshot_dirs"] = len(os.listdir(versions))
    b.facts["state.disk_bytes"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(state_dir) for f in files
    )


# -- export_full -------------------------------------------------------------


def _live_oracle(table_dir: str) -> tuple[int, datetime]:
    """Live-row count and their max(updated_at), read with pyarrow."""
    t = pds.dataset(table_dir, format="parquet", partitioning="hive").to_table(
        columns=["updated_at", "is_deleted"], filter=~pds.field("is_deleted")
    )
    return t.num_rows, pc.max(t["updated_at"]).as_py().replace(tzinfo=None)


def export_full(b: Bench, spark) -> None:
    table, out, state = b.path("users"), b.path("out"), b.path("state")
    datagen.write_users(datagen.generate_users(spark, FULL_ROWS, seed=b.seed, num_partitions=4), table)
    b.facts["datagen.rows"] = FULL_ROWS
    live, max_live = _live_oracle(table)
    store = WatermarkStore(spark, state)
    users = datagen.read_users(spark, table)
    # warm-up: the first full export of a JVM costs 1.5x a warm one
    jobs.start_export_job(users, store, "full", "warmup", out, filename="warmup.csv")
    os.remove(os.path.join(out, "warmup.csv"))
    b.begin_measure()
    for n in range(b.units(FULL_JOB_S)):
        name = f"full_{n}.csv"
        t = time.perf_counter()
        res = jobs.start_export_job(users, store, "full", "full", out, filename=name)
        dt = time.perf_counter() - t
        b.measured_s += dt
        b.record(dt, res["rowsExported"])
        problems: list[str] = []
        _check_export(os.path.join(out, name), res, live, None, problems)
        _check_watermark(_watermarks(store).get("full"), max_live, problems)
        b.check(f"full job {n}", problems)
    state_facts(b, state)


# -- export_poll and export_fanout ----------------------------------------


def _job_kind(round_no: int, consumer_no: int) -> str:
    return "delta" if (round_no + consumer_no) % 2 else "incremental"


def _timed_job(users, store, kind, consumer, out, filename):
    t = time.perf_counter()
    try:
        res = jobs.start_export_job(users, store, kind, consumer, out, filename=filename)
    except Exception as exc:  # reported as a failed operation by the caller
        res = exc
    return time.perf_counter() - t, res


def _export_feed(b: Bench, spark, consumers: int) -> None:
    """After each poll of the change feed, every consumer runs one job on
    its own thread, alternating incremental and delta; the next poll waits
    until all of them have finished. The consumers share one SparkSession
    and one WatermarkStore."""
    table, state = b.path("users"), b.path("state")
    datagen.write_users(datagen.generate_users(spark, FEED_BASE_ROWS, seed=b.seed, num_partitions=4), table)
    b.facts["datagen.rows"] = FEED_BASE_ROWS
    start = datagen.PINNED_NOW.replace(tzinfo=None)  # no generated row is later
    feed = ChangeFeed(table, b.seed, FEED_BASE_ROWS, after=start)
    store = WatermarkStore(spark, state)
    names = [f"consumer-{i}" for i in range(consumers)]
    for c in names:
        store.upsert(c, start)
    with ThreadPoolExecutor(consumers) as pool:
        wm = start
        # warm-up: one whole cycle of polls, so that the measured jobs do
        # not start on the slope of the JVM's warm-up
        for warm_round in range(feed.empty_every):
            wm = _feed_round(b, spark, pool, feed, store, names, warm_round, wm, measured=False)
        round_no = feed.empty_every
        b.begin_measure()
        for _ in range(b.units(POLL_CYCLE_S) * feed.empty_every):  # whole cycles: same empty-poll share
            wm = _feed_round(b, spark, pool, feed, store, names, round_no, wm)
            round_no += 1
    state_facts(b, state)


def export_poll(b: Bench, spark) -> None:
    _export_feed(b, spark, consumers=1)


def export_fanout(b: Bench, spark) -> None:
    _export_feed(b, spark, consumers=CONSUMERS)


def _feed_round(b, spark, pool, feed, store, consumers, round_no, wm, measured=True):
    batch = feed.poll()
    users = datagen.read_users(spark, b.path("users"))
    out = b.path("out")
    names = [f"r{round_no}_{c}.csv" for c in consumers]
    t = time.perf_counter()
    futures = [
        pool.submit(_timed_job, users, store, _job_kind(round_no, i), c, out, names[i])
        for i, c in enumerate(consumers)
    ]
    done = [f.result() for f in futures]
    if measured:
        b.measured_s += time.perf_counter() - t
    new_wm = batch.max_updated_at if batch else wm
    committed = _watermarks(store)
    for i, (c, (dt, res)) in enumerate(zip(consumers, done)):
        kind = _job_kind(round_no, i)
        problems: list[str] = []
        if isinstance(res, Exception):
            problems.append(f"raised {res!r}")
        else:
            if measured:
                b.record(dt, res["rowsExported"])
            if kind == "delta":
                want = batch.rows if batch else 0
                ops = {"INSERT": batch.inserts, "UPDATE": batch.updates, "DELETE": batch.deletes} if batch else {}
            else:
                want, ops = (batch.live if batch else 0), None
            _check_export(os.path.join(out, names[i]), res, want, ops, problems)
        _check_watermark(committed.get(c), new_wm, problems)
        b.check(f"round {round_no} {kind} job of {c}", problems)
    return new_wm


# -- operator_headliners -----------------------------------------------------


def _canon(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return None if math.isnan(v) else v  # toPandas renders NULL doubles as NaN
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    return v


def _oracle_problems(df, con, sql: str) -> tuple[int, list[str]]:
    """Compare a query's rows with its DuckDB oracle, ignoring row order."""
    sp = df.toPandas()
    cur = con.execute(sql)
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()
    if sorted(sp.columns) != sorted(duck_cols):
        return len(sp), [f"columns {sorted(sp.columns)} != {sorted(duck_cols)}"]

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple(_canon(r[i]) for i in order) for r in rows]
        return sorted(out, key=lambda r: tuple(str(x) for x in r))

    mine = canon(list(sp.itertuples(index=False, name=None)), list(sp.columns))
    theirs = canon(duck_rows, duck_cols)
    if len(mine) != len(theirs):
        return len(sp), [f"{len(mine)} rows != oracle {len(theirs)}"]
    diff = sum(x != y for x, y in zip(mine, theirs))
    return len(sp), [f"{diff} rows differ from the oracle"] if diff else []


def operator_headliners(b: Bench, spark) -> None:
    """Each pass builds (``spec.fn``) and executes (noop sink) every
    headliner, in an order the seed shuffles. The first, cold pass collects
    the results instead and checks each against its DuckDB oracle."""
    import duckdb

    from cdc_export_system_spark.registry import load_all

    registry = load_all()
    con = duckdb.connect()
    for f in sorted(os.listdir(HEADLINER_DATA)):
        con.execute(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM read_parquet('{os.path.join(HEADLINER_DATA, f)}')")
    rows_per_pass = 0
    for name in HEADLINERS:
        spec = registry[name]
        if spec.oracle is None:
            b.check(name, ["no DuckDB oracle"])
            continue
        n, problems = _oracle_problems(spec.fn(spark, HEADLINER_DATA), con, spec.oracle)
        rows_per_pass += n
        b.check(f"{name} oracle", problems)
    con.close()
    order = list(HEADLINERS)
    random.Random(b.seed).shuffle(order)

    def run_pass(measured: bool) -> float:
        t = time.perf_counter()
        for name in order:
            q = time.perf_counter()
            with b.span(f"query.{name}"):
                with b.span(f"query.{name}.build"):
                    df = registry[name].fn(spark, HEADLINER_DATA)
                with b.span(f"query.{name}.exec"):
                    df.write.format("noop").mode("overwrite").save()
            if measured:
                b.query_s.setdefault(name, []).append(time.perf_counter() - q)
        return time.perf_counter() - t

    # Warm-up through the noop sink. Pass times keep falling for several
    # passes as the JVM compiles the planner's hot paths; measured on that
    # slope, a run's level depends on how fast it happened to warm up.
    for _ in range(HEADLINER_WARMUP_PASSES):
        run_pass(measured=False)
    b.begin_measure()
    for _ in range(b.units(HEADLINER_PASS_S)):
        dt = run_pass(measured=True)
        b.measured_s += dt
        b.record(dt, rows_per_pass)
        b.check("headliner pass", [])


WORKLOADS = {
    "export_full": export_full,
    "export_poll": export_poll,
    "export_fanout": export_fanout,
    "operator_headliners": operator_headliners,
}
