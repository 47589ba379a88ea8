"""CDC export scenario tests — ports of the reference's E2E suite
(tests/test_exports_full.py, test_exports_incremental.py,
test_exports_delta.py, test_watermark_logic.py) onto the Spark engine,
plus the watermark edge semantics SURVEY.md §7 says must not be 'fixed'.
"""

from __future__ import annotations

import csv
import os
import uuid
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from cdc_export_system_spark.cdc import exports as ex
from cdc_export_system_spark.cdc.jobs import (
    get_watermark_response,
    make_output_filename,
    start_export_job,
)
from cdc_export_system_spark.datagen import PINNED_NOW, generate_users
from cdc_export_system_spark.schemas import EXPORT_COLUMNS, WATERMARKS_SCHEMA
from cdc_export_system_spark.state.watermark import WatermarkStore

N_USERS = 1_000
NOW = PINNED_NOW.replace(tzinfo=None)


@pytest.fixture(scope="module")
def users(spark):
    df = generate_users(spark, n_rows=N_USERS, seed=42)
    df.cache()
    df.count()
    return df


@pytest.fixture()
def store(spark, tmp_path):
    return WatermarkStore(spark, str(tmp_path / "state"))


def read_csv(path):
    with open(path) as f:
        return list(csv.reader(f))


# --- full export (test_exports_full.py:13-41) --------------------------------

def test_full_export_contract(spark, users, store, tmp_path):
    out = str(tmp_path / "out")
    job = start_export_job(users, store, "full", "consumer a", output_dir=out)
    path = os.path.join(out, job["outputFilename"])
    assert os.path.exists(path)
    rows = read_csv(path)
    # exact header (exports.py:33; asserted test_exports_full.py:29)
    assert rows[0] == ["id", "name", "email", "created_at", "updated_at", "is_deleted"]
    # row count == COUNT(*) WHERE is_deleted = FALSE (test_exports_full.py:31-33)
    live = users.filter(~F.col("is_deleted")).count()
    assert len(rows) - 1 == live == job["rowsExported"]
    # booleans serialized as False (all live rows), timestamps isoformat
    assert all(r[5] == "False" for r in rows[1:])
    assert "+00:00" in rows[1][3]
    datetime.fromisoformat(rows[1][3])
    # rows ordered by updated_at ascending (exports.py:83)
    updated = [r[4] for r in rows[1:]]
    assert updated == sorted(updated)
    # watermark created == max(updated_at) over NON-DELETED rows only
    wm = store.get("consumer a")
    expected = users.filter(~F.col("is_deleted")).agg(F.max("updated_at")).first()[0]
    assert wm == expected
    # filename pattern with sanitized consumer id (app/main.py:31-34)
    assert job["outputFilename"].startswith("full_consumer_a_")


# --- incremental export (test_exports_incremental.py:8-47) -------------------

def test_incremental_without_watermark_exports_nothing(users, store, tmp_path):
    out = str(tmp_path / "out")
    job = start_export_job(users, store, "incremental", "fresh", output_dir=out)
    assert job["rowsExported"] == 0
    assert not os.path.exists(os.path.join(out, job["outputFilename"]))
    assert store.get("fresh") is None  # no advance on empty export


def test_incremental_exports_exactly_mutated_rows(spark, users, store, tmp_path):
    out = str(tmp_path / "out")
    start_export_job(users, store, "full", "c1", output_dir=out)
    # mutate exactly 5 live rows: updated_at = now (mirrors the raw SQL
    # UPDATE ... LIMIT 5 in test_exports_incremental.py:17-22)
    victims = [r["id"] for r in users.filter(~F.col("is_deleted")).limit(5).collect()]
    bump = F.lit(NOW + timedelta(seconds=1)).cast("timestamp")
    mutated = users.withColumn(
        "updated_at", F.when(F.col("id").isin(victims), bump).otherwise(F.col("updated_at"))
    )
    job = start_export_job(mutated, store, "incremental", "c1", output_dir=out)
    assert job["rowsExported"] == 5  # exactly 5 (test_exports_incremental.py:40)
    rows = read_csv(os.path.join(out, job["outputFilename"]))
    assert sorted(int(r[0]) for r in rows[1:]) == sorted(victims)
    # watermark parses as ISO and advanced to the bump
    resp = get_watermark_response(store, "c1")
    assert datetime.fromisoformat(resp["lastExportedAt"]) == NOW + timedelta(seconds=1)


def test_incremental_excludes_deleted_and_respects_strict_gt(spark, users, store, tmp_path):
    out = str(tmp_path / "out")
    start_export_job(users, store, "full", "c2", output_dir=out)
    wm = store.get("c2")
    # a row stamped exactly AT the watermark must NOT re-export (strict >)
    victims = [r["id"] for r in users.filter(~F.col("is_deleted")).limit(2).collect()]
    at_wm = users.withColumn(
        "updated_at",
        F.when(F.col("id") == victims[0], F.lit(wm)).otherwise(F.col("updated_at")),
    )
    job = start_export_job(at_wm, store, "incremental", "c2", output_dir=out)
    assert job["rowsExported"] == 0
    # a deleted row after the watermark is excluded from incremental
    bump = F.lit(NOW + timedelta(seconds=5)).cast("timestamp")
    deleted_after = users.withColumn(
        "updated_at", F.when(F.col("id") == victims[1], bump).otherwise(F.col("updated_at"))
    ).withColumn(
        "is_deleted", F.when(F.col("id") == victims[1], F.lit(True)).otherwise(F.col("is_deleted"))
    )
    job2 = start_export_job(deleted_after, store, "incremental", "c2", output_dir=out)
    assert job2["rowsExported"] == 0


# --- delta export (test_exports_delta.py:7-51) --------------------------------

def test_delta_classifies_all_three_operations(spark, users, store, tmp_path):
    out = str(tmp_path / "out")
    start_export_job(users, store, "full", "c3", output_dir=out)
    t = F.lit(NOW + timedelta(seconds=10)).cast("timestamp")
    live_ids = [r["id"] for r in users.filter(~F.col("is_deleted")).limit(2).collect()]
    upd_id, del_id = live_ids
    new_id = N_USERS + 1
    # INSERT: new row with created_at == updated_at (test_exports_delta.py:16-20)
    new_row = users.sparkSession.createDataFrame(
        [(new_id, f"User {new_id}", f"user{new_id}@example.com")],
        "id long, name string, email string",
    ).select(
        "id", "name", "email",
        t.alias("created_at"), t.alias("updated_at"), F.lit(False).alias("is_deleted"),
    )
    mutated = (
        users
        # UPDATE: name change + updated_at bump (test_exports_delta.py:22-25)
        .withColumn("updated_at", F.when(F.col("id") == upd_id, t).otherwise(F.col("updated_at")))
        # DELETE: soft-delete + bump (test_exports_delta.py:27-30)
        .withColumn("updated_at", F.when(F.col("id") == del_id, t).otherwise(F.col("updated_at")))
        .withColumn(
            "is_deleted",
            F.when(F.col("id") == del_id, F.lit(True)).otherwise(F.col("is_deleted")),
        )
        .unionByName(new_row)
    )
    job = start_export_job(mutated, store, "delta", "c3", output_dir=out)
    rows = read_csv(os.path.join(out, job["outputFilename"]))
    # delta header includes operation first (exports.py:31; delta test :46)
    assert rows[0] == ["operation", "id", "name", "email", "created_at", "updated_at", "is_deleted"]
    ops = {r[0] for r in rows[1:]}
    assert ops == {"INSERT", "UPDATE", "DELETE"}  # all three present (:48-51)
    by_id = {int(r[1]): r[0] for r in rows[1:]}
    assert by_id[new_id] == "INSERT"
    assert by_id[upd_id] == "UPDATE"
    assert by_id[del_id] == "DELETE"
    # deleted row serialized with True
    del_row = next(r for r in rows[1:] if int(r[1]) == del_id)
    assert del_row[6] == "True"


# --- watermark logic (test_watermark_logic.py:5-24) ---------------------------

def test_watermark_upsert_inserts_then_updates(store):
    t1 = datetime(2026, 1, 1, 0, 0, 0)
    t2 = datetime(2026, 2, 1, 0, 0, 0)
    assert store.get("w") is None
    store.upsert("w", t1)
    assert store.get("w") == t1
    store.upsert("w", t2)
    assert store.get("w") == t2
    assert store.snapshot().filter(F.col("consumer_id") == "w").count() == 1


def test_watermark_multiple_consumers_isolated(store):
    t1 = datetime(2026, 1, 1), datetime(2026, 1, 2)
    store.upsert("a", t1[0])
    store.upsert("b", t1[1])
    assert store.get("a") == t1[0]
    assert store.get("b") == t1[1]


def test_watermark_timestamps_round_trip_like_spark(spark, store):
    """Watermarks are stored as ISO-8601 text; reads return exactly what
    a Spark TimestampType round trip returns (the earlier parquet-backed
    store): naive, microseconds kept, an aware input normalised to the
    process zone (naive UTC under the suite's UTC process)."""
    naive = datetime(2026, 5, 6, 7, 8, 9, 123456)
    aware = datetime(2026, 5, 6, 7, 8, 9, 654321, tzinfo=timezone(timedelta(hours=5)))
    store.upsert("naive", naive)
    store.upsert("aware", aware)
    via_spark = spark.createDataFrame([(aware,)], "t timestamp").first()["t"]
    assert store.get("naive") == naive
    assert store.get("aware") == via_spark
    assert store.get("aware").tzinfo is None
    assert store.get("aware").microsecond == 654321
    snap = {r["consumer_id"]: r["last_exported_at"] for r in store.snapshot().collect()}
    assert snap == {"naive": naive, "aware": via_spark}
    assert store.snapshot().schema == WATERMARKS_SCHEMA


def test_legacy_parquet_snapshot_is_read_then_rewritten(spark, store):
    """A live version written by the earlier Spark-backed store (a
    parquet directory) must keep its watermarks — reading it as "no
    watermark" would make every incremental job export nothing — and
    the next upsert rewrites the table as a JSON snapshot file."""
    t = datetime(2026, 3, 4, 5, 6, 7, 123456)
    version = uuid.uuid4().hex
    vdir = os.path.join(store.state_dir, "versions")
    spark.createDataFrame([("old", t, t)], WATERMARKS_SCHEMA).coalesce(1).write.parquet(
        os.path.join(vdir, version)
    )
    with open(os.path.join(store.state_dir, f"CURRENT.{1:020d}"), "w") as f:
        f.write(version)
    assert store.get("old") == t
    assert [tuple(r) for r in store.snapshot().collect()] == [("old", t, t)]
    store.upsert("new", NOW)
    assert store.get("old") == t
    assert store.get("new") == NOW
    live = store._current_version()
    assert os.path.isfile(os.path.join(vdir, live))
    # the legacy directory is GC'd like any other snapshot once buried
    os.utime(os.path.join(vdir, version), (1, 1))
    store._gc(keep=live, retain=1, min_age_s=60.0)
    assert os.listdir(vdir) == [live]


def test_watermark_state_ops_run_no_spark_jobs(spark, store, monkeypatch):
    """get, upsert and a lost-election retry are driver-side file I/O:
    none of them may launch a Spark job."""
    from cdc_export_system_spark.state import watermark as wm_mod

    rival = WatermarkStore(spark, store.state_dir)
    real_publish = wm_mod.link_publish
    lost = []

    def publish_after_rival(tmp, target):
        if not lost:  # a concurrent commit takes this sequence first
            lost.append(target)
            rival.upsert("rival", NOW)
        return real_publish(tmp, target)

    sc = spark.sparkContext
    group = f"wm-no-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "watermark state ops")
    try:
        assert store.get("c") is None
        store.upsert("c", NOW)
        assert store.get("c") == NOW
        monkeypatch.setattr(wm_mod, "link_publish", publish_after_rival)
        store.upsert("c", NOW + timedelta(minutes=1))
        assert lost
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # the group does capture jobs run on this thread
        spark.range(1).count()
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert store.get("c") == NOW + timedelta(minutes=1)
    assert store.get("rival") == NOW
    # the losing commit's orphan snapshot file was deleted
    vdir = os.path.join(store.state_dir, "versions")
    assert len(os.listdir(vdir)) == len(store._chain()) == 3


def test_multi_file_export_directory_contract(spark, users, store, tmp_path):
    """single_file=False, the parallel sink for large extracts: a
    directory of part files, each with the header, rows ascending by
    updated_at across parts in name order, rowsExported equal to the
    data lines; an empty batch writes no path and leaves the watermark
    alone, and a re-export replaces the directory."""
    out = str(tmp_path / "out")
    path = os.path.join(out, "full_multi")

    def data_rows():
        names = sorted(os.listdir(path))
        assert len(names) >= 2, names
        assert all(n.startswith("part-") and n.endswith(".csv") for n in names), names
        files = [read_csv(os.path.join(path, n)) for n in names]
        assert all(f[0] == EXPORT_COLUMNS for f in files)
        return [r for f in files for r in f[1:]]

    # AQE would coalesce this small sort into one partition; a large
    # extract has many, so keep them apart for the duration of the test
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        job = start_export_job(
            users.repartition(4), store, "full", "multi", output_dir=out,
            single_file=False, filename="full_multi",
        )
        data = data_rows()
        assert job["rowsExported"] == len(data) == users.filter(~F.col("is_deleted")).count()
        updated = [datetime.fromisoformat(r[4]) for r in data]
        assert updated == sorted(updated)

        wm = store.get("multi")
        job = start_export_job(
            users.repartition(4), store, "incremental", "multi", output_dir=out,
            single_file=False, filename="inc_multi",
        )
        assert job["rowsExported"] == 0
        assert not os.path.exists(os.path.join(out, "inc_multi"))
        assert store.get("multi") == wm

        half = users.filter(F.col("id") % 2 == 0).repartition(4)
        job = start_export_job(
            half, store, "full", "multi", output_dir=out,
            single_file=False, filename="full_multi",
        )
        data = data_rows()
        assert job["rowsExported"] == len(data) == half.filter(~F.col("is_deleted")).count()
        assert {int(r[0]) % 2 for r in data} == {0}
        assert os.listdir(out) == ["full_multi"]  # no staging dirs left behind
    finally:
        spark.conf.set(key, prev)


def test_failed_job_leaves_no_state(spark, users, store, tmp_path):
    out = str(tmp_path / "out")
    with pytest.raises(ValueError):
        start_export_job(users, store, "bogus", "c4", output_dir=out)
    assert store.get("c4") is None
    with pytest.raises(ValueError):
        start_export_job(users, store, "full", "", output_dir=out)


def test_make_output_filename_pattern():
    name = make_output_filename("delta", "my consumer", datetime(2026, 3, 1, 12, 0, 0))
    assert name == "delta_my_consumer_20260301T120000Z.csv"


def test_forget_users_purge_and_audit_partition_the_table(spark):
    """Compliance invariants: purge keeps EXACTLY the complement of the
    audited rows (kept + purged == total, and no requested user survives),
    and the purge plans a broadcast LEFT ANTI join — the fact table is
    never shuffled for an erasure pass."""
    from pyspark.sql import functions as F

    from cdc_export_system_spark.cdc.event_queries import (
        FORGET_PERMILLE,
        cdc_forget_users_audit,
        purge_users,
    )
    from cdc_export_system_spark.io.sources import load_table
    from cdc_export_system_spark.operators.sampling import KNUTH
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    req = (
        ev.filter((F.col("user_id") * F.lit(KNUTH)) % 1000 < FORGET_PERMILLE)
        .select("user_id")
        .distinct()
    )
    kept = purge_users(ev, req)
    purged = (
        cdc_forget_users_audit(spark, SF_DIR)
        .agg(F.coalesce(F.sum("n_purged"), F.lit(0)).alias("n"))
        .collect()[0]["n"]
    )
    assert kept.count() + purged == ev.count()
    assert kept.join(req, "user_id", "semi").count() == 0  # truly erased
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_concurrent_consumer_upserts_all_survive(spark, tmp_path):
    """REAL write-write races on the watermark store: eight threads each
    advance their OWN consumer's watermark 25 times concurrently (an
    upsert is a few ms of file I/O, so elections really collide).
    The reference runs exports as concurrent background tasks against
    per-row DB transactions, so every consumer's final watermark must
    survive; the store's original read-merge-replace commit lost 3 of
    4 consumers outright (whole-table last-writer-wins) — the CAS
    pointer chain (link-elected CURRENT.<seq>, re-read on lost
    election) pins the fix."""
    import threading
    from datetime import datetime, timedelta

    from cdc_export_system_spark.state.watermark import WatermarkStore

    d = str(tmp_path / "wm-race")
    store = WatermarkStore(spark, d)
    base = datetime(2024, 1, 1)
    n_threads, n_upserts = 8, 25

    def writer(tid: int) -> None:
        s = WatermarkStore(spark, d)
        for m in range(n_upserts):
            s.upsert(f"consumer-{tid}", base + timedelta(minutes=10 * tid + m))

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()

    rows = {
        r["consumer_id"]: r["last_exported_at"]
        for r in store.snapshot().collect()
    }
    assert len(rows) == n_threads
    for t in range(n_threads):
        assert rows[f"consumer-{t}"] == base + timedelta(
            minutes=10 * t + n_upserts - 1
        )


def test_head_retries_past_pruned_pointer(store):
    """A reader can list the pointer chain, then lose the listed head
    to a concurrent committer's _gc before open() — that always means
    a NEWER pointer exists, so _head must re-list and retry, never
    surface FileNotFoundError (round-9 advice pin)."""
    store.upsert("c1", NOW)
    real_chain = store._chain()

    calls = {"n": 0}
    orig = WatermarkStore._chain

    def stale_then_real(self):
        calls["n"] += 1
        if calls["n"] == 1:
            # a pruned pointer name that no longer exists on disk
            return [(999, "CURRENT.00000000000000000999")]
        return orig(self)

    WatermarkStore._chain = stale_then_real
    try:
        seq, version = store._head()
    finally:
        WatermarkStore._chain = orig
    assert calls["n"] >= 2  # retried from a fresh listing
    assert (seq, version) == (real_chain[-1][0], version)
    assert version is not None
    assert store.get("c1") == NOW


def test_gc_never_prunes_young_snapshots(store):
    """The GC horizon is count+age: entries younger than min_age_s
    survive even when many commits bury them, so a slow concurrent
    reader/writer still sees its recently-read snapshot on disk."""
    for i in range(8):
        store.upsert("c", NOW + timedelta(minutes=i))
    vdir = os.path.join(store.state_dir, "versions")
    # all 8 snapshots are seconds old -> none may have been GC'd
    assert len(os.listdir(vdir)) == 8
    assert len(store._chain()) == 8
    # but an OLD buried snapshot does get collected once past the age
    # horizon (retain still keeps the newest 20; use retain=2 to probe)
    old = [os.path.join(vdir, v) for v in os.listdir(vdir)]
    for p in old:
        os.utime(p, (1, 1))
    for _seq, name in store._chain():
        os.utime(os.path.join(store.state_dir, name), (1, 1))
    live = store._current_version()
    store._gc(keep=live, retain=2, min_age_s=60.0)
    # newest 2 by mtime, plus the live version is NEVER deleted even
    # when an ambiguous mtime sort puts it outside the retain window
    assert len(os.listdir(vdir)) <= 3
    assert live in os.listdir(vdir)
    assert len(store._chain()) == 2
    # the live head survived
    assert store.get("c") == NOW + timedelta(minutes=7)


def test_watermark_commit_descriptive_error_without_hardlinks(
    store, monkeypatch
):
    import errno as _errno

    from cdc_export_system_spark.io import atomic as atomic_mod
    from cdc_export_system_spark.io.atomic import HardLinksUnsupported

    def no_link(src, dst, **kw):
        raise OSError(_errno.ENOTSUP, "Operation not supported")

    monkeypatch.setattr(atomic_mod.os, "link", no_link)
    # a deterministic fatal condition must surface IMMEDIATELY as
    # HardLinksUnsupported — never burn the retry budget and report a
    # misleading 'lost N commit elections' RuntimeError
    with pytest.raises(HardLinksUnsupported, match="hard-link support"):
        store.upsert("c1", NOW, max_retries=20)


def test_cdf_export_matches_reference_classification(spark, tmp_path):
    """The LogTable change data feed must reproduce the reference's
    delta-export CSV (operation + users columns, iso timestamps,
    updated_at order — the byte contract) for the INSERT and UPDATE
    classes, from the SAME logical change set applied two ways:
    soft-delete-style rows classified by exports.classify_operation vs
    real copy-on-write merges classified by CDF change type. DELETE
    diverges by design — a soft-delete row carries the tombstone's own
    updated_at, a CDF tombstone carries the last KNOWN row state — so
    the delete class pins key-set equality and the stamp divergence
    explicitly."""
    from cdc_export_system_spark.io.txn_table import LogTable
    from cdc_export_system_spark.schemas import (
        DELTA_EXPORT_COLUMNS,
        USERS_SCHEMA,
    )

    t0 = NOW
    # distinct stamps per change: the CSV contract orders by updated_at
    # only, so equal stamps would make the byte comparison depend on an
    # unspecified tie order
    t1 = NOW + timedelta(minutes=5)
    t2 = NOW + timedelta(minutes=6)
    t3 = NOW + timedelta(minutes=7)
    base = spark.createDataFrame(
        [(i, f"user{i}", f"u{i}@x.com", t0, t0, False) for i in range(1, 9)],
        USERS_SCHEMA,
    )
    t = LogTable.create(spark, str(tmp_path / "users_lt"), base, "id")
    # one change set: update 2 and 4, delete 3, insert 11
    from pyspark.sql import types as T

    # StructType.add MUTATES — build the widened schema from a copy so
    # the shared USERS_SCHEMA is untouched
    batch_schema = T.StructType(
        [*USERS_SCHEMA.fields, T.StructField("_deleted", T.BooleanType(), False)]
    )
    changes = spark.createDataFrame(
        [
            (2, "user2b", "u2@x.com", t0, t1, False, False),
            (4, "user4b", "u4@x.com", t0, t2, False, False),
            (3, "user3", "u3@x.com", t0, t0, False, True),
            (11, "user11", "u11@x.com", t3, t3, False, False),
        ],
        batch_schema,
    )
    t.merge(changes)

    cdf = t.changes(2, 2)
    op = (
        F.when(F.col("_change_type") == "insert", "INSERT")
        .when(F.col("_change_type") == "delete", "DELETE")
        .otherwise("UPDATE")
    )
    cdf_export = (
        cdf.filter(F.col("_change_type") != "update_preimage")
        .withColumn("operation", op)
        .withColumn("is_deleted", F.col("_change_type") == "delete")
        .select(DELTA_EXPORT_COLUMNS)
    )

    # the reference-style view of the same change set: soft-delete rows
    ref_rows = spark.createDataFrame(
        [
            (2, "user2b", "u2@x.com", t0, t1, False),
            (4, "user4b", "u4@x.com", t0, t2, False),
            (3, "user3", "u3@x.com", t0, t0, True),  # same stamp as CDF
            (11, "user11", "u11@x.com", t3, t3, False),
        ],
        USERS_SCHEMA,
    )
    ref_export = ref_rows.withColumn("operation", ex.classify_operation()).select(
        DELTA_EXPORT_COLUMNS
    )

    from cdc_export_system_spark.io.csv_sink import write_users_csv

    p_cdf = str(tmp_path / "cdf.csv")
    p_ref = str(tmp_path / "ref.csv")
    assert write_users_csv(cdf_export, p_cdf, DELTA_EXPORT_COLUMNS) == 4
    assert write_users_csv(ref_export, p_ref, DELTA_EXPORT_COLUMNS) == 4
    with open(p_cdf, "rb") as f:
        cdf_bytes = f.read()
    with open(p_ref, "rb") as f:
        ref_bytes = f.read()
    # classify_operation says INSERT iff created_at == updated_at — on
    # a same-batch re-update that heuristic MISLABELS (id 11 would be
    # INSERT forever); the CDF label is structural. On this change set
    # both agree, and the bytes must too.
    assert cdf_bytes == ref_bytes

    # divergence pin: bump the tombstone's stamp in the reference view
    # (the reference's soft delete bumps updated_at so the delta query
    # even SEES it) — keys still agree, bytes no longer do
    ref2 = ref_rows.withColumn(
        "updated_at",
        F.when(F.col("is_deleted"), F.lit(t3 + timedelta(minutes=1))).otherwise(F.col("updated_at")),
    ).withColumn("operation", ex.classify_operation()).select(DELTA_EXPORT_COLUMNS)
    p_ref2 = str(tmp_path / "ref2.csv")
    assert write_users_csv(ref2, p_ref2, DELTA_EXPORT_COLUMNS) == 4
    with open(p_ref2, "rb") as f:
        ref2_bytes = f.read()
    assert ref2_bytes != cdf_bytes
    del_keys_cdf = {
        r["id"] for r in cdf_export.filter(F.col("operation") == "DELETE").collect()
    }
    del_keys_ref = {
        r["id"] for r in ref2.filter(F.col("operation") == "DELETE").collect()
    }
    assert del_keys_cdf == del_keys_ref == {3}
