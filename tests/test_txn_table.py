"""LogTable (transaction-log table format) semantic pins.

The format's guarantees — atomic commits, snapshot isolation, time
travel, optimistic concurrency, crash atomicity, checkpointed replay,
vacuum fail-fast — are exactly the properties a 100 TB lakehouse table
cannot silently lose, so each one gets a direct pin here; the
registered txn_table_* queries cover the end-to-end MERGE pipeline
against DuckDB oracles separately."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cdc_export_system_spark.io.txn_table import (
    CHECKPOINT_EVERY,
    CommitConflict,
    LogTable,
    _log_path,
)


def _mk(spark, tmp_path, n=64, n_files=4):
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    return LogTable.create(
        spark, str(tmp_path / "t"), df, "k", n_files=n_files
    )


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k long, v long, _deleted boolean")


def test_create_read_roundtrip_and_file_stats(spark, tmp_path):
    t = _mk(spark, tmp_path)
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(i, i * 10) for i in range(64)}
    snap = t._replay()
    assert len(snap.files) == 4
    # bucket stats: k = 63//4+1 = 16 -> ranges [0,15],[16,31],...
    ranges = sorted((a["min_pk"], a["max_pk"]) for a in snap.files.values())
    assert ranges == [(0, 15), (16, 31), (32, 47), (48, 63)]


def test_merge_upsert_delete_and_pruning(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v, stats = t.merge(
        _batch(spark, [(3, 999, False), (5, None, True), (12, 555, False)])
    )
    assert v == 2
    # batch range [3, 12] overlaps only bucket [0, 15]
    assert stats == {
        "files_total": 4,
        "files_touched": 1,
        "rows_rewritten": 16,
    }
    got = dict((r["k"], r["v"]) for r in t.read().collect())
    assert got[3] == 999 and got[12] == 555 and 5 not in got
    assert len(got) == 63


def test_time_travel_reads_are_immutable(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_batch(spark, [(0, 1, False)]))
    t.merge(_batch(spark, [(0, 2, False)]))
    vals = {
        v: dict((r["k"], r["v"]) for r in t.read(version=v).collect())[0]
        for v in t.history()
    }
    assert vals == {1: 0, 2: 1, 3: 2}
    with pytest.raises(ValueError):
        t.read(version=99)


def test_insert_outside_ranges_touches_no_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    v, stats = t.merge(_batch(spark, [(100, 1, False), (101, 2, False)]))
    assert stats["files_touched"] == 0 and stats["rows_rewritten"] == 0
    assert t.read().count() == 66
    # survivors' files were carried forward, not rewritten
    snap = t._replay()
    assert len(snap.files) == 5  # 4 old + 1 new bucket file


def test_crash_atomicity_staged_files_invisible(spark, tmp_path):
    t = _mk(spark, tmp_path)
    root = t.root
    # simulate a writer that crashed after writing data, before commit:
    # a data file present on disk but referenced by no log version
    orphan = os.path.join(root, "part-deadbeef.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not even parquet")
    assert t.read().count() == 64  # invisible to readers
    # a never-referenced part file inside the horizon may be a LIVE
    # writer's staged output (between _write_files and _commit) —
    # vacuum must leave it alone (the r10 advice item) ...
    assert "part-deadbeef.parquet" not in t.vacuum()
    assert os.path.exists(orphan)
    # ... and sweep it only once it ages past TMP_SWEEP_HORIZON_S
    import time as _time

    from cdc_export_system_spark.io.txn_table import TMP_SWEEP_HORIZON_S

    old = _time.time() - TMP_SWEEP_HORIZON_S - 10
    os.utime(orphan, (old, old))
    assert "part-deadbeef.parquet" in t.vacuum()  # swept as garbage


def test_commit_conflict_detection(spark, tmp_path):
    t = _mk(spark, tmp_path)
    snap = t._replay()
    some_file = sorted(snap.files)[0]
    # a concurrent winner removes a file t's next commit also touches
    with open(_log_path(t.root, 2), "w") as f:
        f.write(json.dumps({"remove": {"path": some_file}}) + "\n")
        f.write(json.dumps({"add": {"path": some_file, "rows": 16,
                                    "min_pk": 0, "max_pk": 15}}) + "\n")
    with pytest.raises(CommitConflict):
        t._commit([{"remove": {"path": some_file}}],
                  read_version=1, touched={some_file})
    # disjoint commits stack fine: retry lands at version 3
    v = t._commit([{"add": {"path": "part-new.parquet", "rows": 1,
                            "min_pk": 999, "max_pk": 999}}],
                  read_version=1, touched=set())
    assert v == 3


def test_merge_retries_after_disjoint_concurrent_commit(spark, tmp_path):
    t = _mk(spark, tmp_path)
    # concurrent disjoint winner at v2 (touches nothing we will)
    real_commit = LogTable._commit
    fired = {"done": False}

    def racy_commit(self, actions, read_version, touched, max_retries=20):
        if not fired["done"]:
            fired["done"] = True
            with open(_log_path(self.root, 2), "w") as f:
                f.write("")  # empty disjoint commit wins the race
        return real_commit(self, actions, read_version, touched, max_retries)

    LogTable._commit = racy_commit
    try:
        v, _ = t.merge(_batch(spark, [(3, 7, False)]))
    finally:
        LogTable._commit = real_commit
    assert v == 3
    assert dict((r["k"], r["v"]) for r in t.read().collect())[3] == 7


def test_vacuum_then_time_travel_fails_fast(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_batch(spark, [(3, 999, False)]))
    removed = t.vacuum()
    assert removed  # v1's rewritten bucket file is gone
    assert t.read().count() == 64  # latest unaffected
    with pytest.raises(ValueError):
        t.read(version=1).collect()


def test_checkpoint_fast_forward_replay(spark, tmp_path):
    t = _mk(spark, tmp_path, n=32, n_files=2)
    for i in range(CHECKPOINT_EVERY + 3):
        t.merge(_batch(spark, [(i % 32, 1000 + i, False)]))
    ckpts = [
        f
        for f in os.listdir(os.path.join(t.root, "_txn_log"))
        if f.endswith(".checkpoint.parquet")
    ]
    assert ckpts, "no checkpoint written past CHECKPOINT_EVERY commits"
    # replay THROUGH the checkpoint equals replay of the full log
    got = dict((r["k"], r["v"]) for r in t.read().collect())
    assert got[(CHECKPOINT_EVERY + 2) % 32] == 1000 + CHECKPOINT_EVERY + 2
    assert len(got) == 32
    # and a pre-checkpoint time travel still resolves
    assert t.read(version=2).count() == 32


def test_partition_count_invariance(spark, tmp_path):
    """Same table content regardless of source partitioning — the
    bucket map is a pure key function, not a partitioning artifact."""
    df1 = spark.range(50).select(F.col("id").alias("k"),
                                 F.col("id").alias("v")).repartition(13)
    df2 = spark.range(50).select(F.col("id").alias("k"),
                                 F.col("id").alias("v")).coalesce(1)
    t1 = LogTable.create(spark, str(tmp_path / "a"), df1, "k", n_files=4)
    t2 = LogTable.create(spark, str(tmp_path / "b"), df2, "k", n_files=4)
    s1 = sorted(
        (a["rows"], a["min_pk"], a["max_pk"]) for a in t1._replay().files.values()
    )
    s2 = sorted(
        (a["rows"], a["min_pk"], a["max_pk"]) for a in t2._replay().files.values()
    )
    assert s1 == s2


def test_optimize_compacts_as_one_commit(spark, tmp_path):
    t = _mk(spark, tmp_path)
    # inserts past the range accumulate extra bucket files
    t.merge(_batch(spark, [(100, 1, False), (200, 2, False)]))
    before = t._replay()
    assert len(before.files) == 6  # 4 + 2 new buckets
    v, stats = t.optimize()
    # new k = 200//4+1 = 51 -> keys land in buckets {0, 1, 3}: 3 files
    assert stats["files_before"] == 6 and stats["files_after"] == 3
    assert t.read().count() == 66
    # pre-optimize version still time-travels (until vacuum)
    assert t.read(version=before.version).count() == 66
    got = dict((r["k"], r["v"]) for r in t.read().collect())
    assert got[100] == 1 and got[200] == 2 and got[7] == 70


def test_schema_evolution_add_only(spark, tmp_path):
    from pyspark.sql.types import (
        LongType, StructField, StructType,
    )

    t = _mk(spark, tmp_path)
    old = t._schema(t._replay())
    widened = StructType(
        old.fields + [StructField("w", LongType(), True)]
    )
    v = t.add_columns(widened)
    assert v == 2
    # old files read back with the new column as nulls — no rewrite
    row = t.read().filter(F.col("k") == 3).head()
    assert row["w"] is None and row["v"] == 30
    # a merge batch carrying the new column persists it
    t.merge(
        spark.createDataFrame(
            [(3, 999, 42, False)], "k long, v long, w long, _deleted boolean"
        )
    )
    got = {r["k"]: (r["v"], r["w"]) for r in t.read().collect()}
    assert got[3] == (999, 42) and got[4] == (40, None)
    # dropping or retyping columns is refused
    with pytest.raises(ValueError):
        t.add_columns(StructType(old.fields[:1]))


def test_concurrent_writers_serialize_without_loss(spark, tmp_path):
    """REAL races, not staged ones: four OS threads each run three
    copy-on-write merges against the same root (disjoint KEY ranges so
    the end state is order-independent, but every batch's key span
    overlaps every range-bucket FILE, so commit races are constant).
    Losers must retry through CommitConflict and the final table must
    hold every thread's last write with a gap-free version chain —
    the optimistic-concurrency claim exercised by genuine O_EXCL
    contention on one log."""
    import threading
    import time as _time

    t0 = _mk(spark, tmp_path, n=64, n_files=4)
    root = t0.root
    n_threads, n_merges = 4, 3
    errors: list[str] = []

    def writer(tid: int) -> None:
        table = LogTable(spark, root)
        for m in range(n_merges):
            batch = (
                spark.range(64)
                .filter(F.col("id") % n_threads == tid)
                .select(
                    F.col("id").alias("k"),
                    (F.lit(1000 * tid + m)).alias("v"),
                    F.lit(False).alias("_deleted"),
                )
            )
            for attempt in range(60):
                try:
                    table.merge(batch)
                    break
                except CommitConflict:
                    _time.sleep(0.05 * (attempt % 5 + 1))
            else:
                errors.append(f"thread {tid} merge {m} never committed")
                return

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    final = LogTable(spark, root)
    # gap-free version chain: create + 12 merges (every merge commits
    # exactly once — no lost or duplicated commit under the race)
    hist = final.history()
    assert hist == list(range(hist[0], hist[0] + n_threads * n_merges + 1))
    rows = {r["k"]: r["v"] for r in final.read().collect()}
    assert len(rows) == 64
    for k, v in rows.items():
        assert v == 1000 * (k % n_threads) + (n_merges - 1), (k, v)


def test_vacuum_sweeps_stale_tmp_artifacts(spark, tmp_path):
    """A writer killed between payload-write and link-election leaves
    a _log-*.tmp (and possibly a _staging-* dir) in the table root.
    vacuum() must sweep those once they age past the horizon — and
    must NOT touch young ones (a live writer's in-flight temp)."""
    import time as _time

    from cdc_export_system_spark.io.txn_table import (
        LOG_DIR,
        TMP_SWEEP_HORIZON_S,
    )

    t = _mk(spark, tmp_path)
    root = t.root
    old = _time.time() - TMP_SWEEP_HORIZON_S - 10
    stale_log = os.path.join(root, "_log-deadbeef.tmp")
    open(stale_log, "w").write('{"add": {"path": "x"}}\n')
    os.utime(stale_log, (old, old))
    stale_stage = os.path.join(root, "_staging-deadbeef")
    os.makedirs(stale_stage)
    os.utime(stale_stage, (old, old))
    stale_ckpt = os.path.join(
        root, LOG_DIR, "00000000000000000010.checkpoint.parquet.tmp-dead"
    )
    open(stale_ckpt, "w").write("x")
    os.utime(stale_ckpt, (old, old))
    young_log = os.path.join(root, "_log-cafebabe.tmp")
    open(young_log, "w").write("{}\n")

    removed = t.vacuum()
    assert not os.path.exists(stale_log)
    assert not os.path.exists(stale_stage)
    assert not os.path.exists(stale_ckpt)
    assert os.path.exists(young_log)  # inside the horizon: untouched
    assert "_log-deadbeef.tmp" in removed
    assert "_staging-deadbeef" in removed
    # sweeping temp junk must not disturb the live table
    assert t.read().count() == 64
    os.unlink(young_log)


def test_commit_raises_descriptive_error_without_hardlinks(
    spark, tmp_path, monkeypatch
):
    """On a filesystem whose link(2) fails with EPERM/ENOTSUP (some
    NFS / object-store FUSE mounts), the commit must fail LOUDLY with
    a descriptive error — not an unhandled OSError, and never a
    silent non-atomic fallback (which would reintroduce torn reads)."""
    import errno as _errno

    from cdc_export_system_spark.io import atomic as atomic_mod
    from cdc_export_system_spark.io.atomic import HardLinksUnsupported

    t = _mk(spark, tmp_path)

    def no_link(src, dst, **kw):
        raise OSError(_errno.EPERM, "Operation not permitted")

    monkeypatch.setattr(atomic_mod.os, "link", no_link)
    with pytest.raises(HardLinksUnsupported, match="hard-link support"):
        t.merge(_batch(spark, [(1, 999, False)]))
    monkeypatch.undo()
    # the table is still healthy after the refused commit
    v, _ = t.merge(_batch(spark, [(1, 999, False)]))
    assert {r["v"] for r in t.read(v).filter(F.col("k") == 1).collect()} == {999}


def test_time_travel_by_timestamp(spark, tmp_path):
    """read_asof resolves the largest version whose adjusted commit
    stamp is <= ts; before-first-commit raises; stamps are strictly
    monotonic even if a clock hiccup recorded equal wall times."""
    t = _mk(spark, tmp_path)
    t.merge(_batch(spark, [(1, 111, False)]))
    t.merge(_batch(spark, [(1, 222, False)]))
    stamps = t.commit_timestamps()
    assert sorted(stamps) == [1, 2, 3]
    assert stamps[1] < stamps[2] < stamps[3]  # strictly monotonic
    # at each commit stamp the resolved state equals read(version)
    for v in (1, 2, 3):
        asof = {(r["k"], r["v"]) for r in t.read_asof(stamps[v]).collect()}
        byv = {(r["k"], r["v"]) for r in t.read(version=v).collect()}
        assert asof == byv
    # between commits resolves to the earlier version
    assert t.version_asof(stamps[3] - 1) == 2
    assert t.version_asof(stamps[3] + 10**9) == 3
    with pytest.raises(ValueError, match="no commit at or before"):
        t.version_asof(stamps[1] - 1)


def test_commit_stamp_adjustment_on_clock_skew(spark, tmp_path):
    """A racing loser can stamp a LATER wall time than the next
    winner's commit; the adjusted view must still be strictly
    monotonic (the Delta timestamp-adjustment rule)."""
    t = _mk(spark, tmp_path)
    t.merge(_batch(spark, [(1, 111, False)]))
    # simulate skew: rewrite version 2's stamp to far in the future
    p = _log_path(t.root, 2)
    lines = open(p).read().splitlines()
    out = []
    future = None
    for ln in lines:
        act = json.loads(ln)
        if "commit" in act:
            act["commit"]["ts_us"] += 10**12
            future = act["commit"]["ts_us"]
        out.append(json.dumps(act, sort_keys=True))
    os.chmod(p, 0o644)
    with open(p, "w") as f:
        f.write("\n".join(out) + "\n")
    t.merge(_batch(spark, [(1, 222, False)]))
    stamps = t.commit_timestamps()
    assert stamps[1] < stamps[2] < stamps[3]
    assert stamps[2] == future and stamps[3] == future + 1


def test_rename_column_is_metadata_only(spark, tmp_path):
    """RENAME changes only the log: same data files before and after,
    the new name reads the old physical data, merges after the rename
    write/read correctly, and time travel below the rename still sees
    the old name."""
    t = _mk(spark, tmp_path)
    files_before = set(t._replay().paths)
    v = t.rename_column("v", "val")
    assert set(t._replay().paths) == files_before  # no data rewrite
    got = {(r["k"], r["val"]) for r in t.read().collect()}
    assert got == {(i, i * 10) for i in range(64)}
    # time travel below the rename keeps the original logical schema
    assert t.read(version=v - 1).columns == ["k", "v"]
    # merge in the NEW logical schema
    batch = spark.createDataFrame(
        [(1, 999, False)], "k long, val long, _deleted boolean"
    )
    t.merge(batch)
    assert t.read().filter(F.col("k") == 1).head()["val"] == 999
    # physical files still carry the ORIGINAL column name
    import pyarrow.parquet as pq

    snap = t._replay()
    names = set()
    for p in snap.paths:
        names |= set(pq.read_schema(os.path.join(t.root, p)).names)
    assert "v" in names and "val" not in names


def test_drop_column_then_readd_never_resurrects_data(spark, tmp_path):
    """DROP is metadata-only; re-ADDING a column with the same logical
    name allocates a FRESH physical name, so the old (still on disk)
    data can never leak back — every row of the re-added column is
    null until something writes it."""
    from pyspark.sql.types import LongType, StructField, StructType

    t = _mk(spark, tmp_path)
    v_drop = t.drop_column("v")
    assert t.read().columns == ["k"]
    # time travel below the drop still reads v
    assert t.read(version=v_drop - 1).columns == ["k", "v"]
    with pytest.raises(ValueError, match="primary key"):
        t.drop_column("k")
    schema = StructType(
        [StructField("k", LongType()), StructField("v", LongType())]
    )
    t.add_columns(schema)
    snap = t._replay()
    assert snap.meta["column_mapping"]["v"] != "v"  # fresh physical name
    vals = {r["v"] for r in t.read().collect()}
    assert vals == {None}  # old data NOT resurrected
    # and a merge can populate it under the new physical name
    t.merge(_batch(spark, [(2, 77, False)]))
    assert t.read().filter(F.col("k") == 2).head()["v"] == 77
    assert t.read().filter(F.col("k") == 3).head()["v"] is None


def test_optimize_preserves_mapping(spark, tmp_path):
    """Compaction rewrites files under the CURRENT mapping's physical
    names and the logical view is unchanged."""
    t = _mk(spark, tmp_path)
    t.rename_column("v", "val")
    t.optimize()
    got = {(r["k"], r["val"]) for r in t.read().collect()}
    assert got == {(i, i * 10) for i in range(64)}


# ------------------------------------------------------ change data feed --


def test_changes_classifies_and_suppresses_copies(spark, tmp_path):
    """One merge into a 16-row bucket touching 3 keys must emit exactly
    the 3 keys' logical changes (update as pre+post), never the 13
    copied rows the copy-on-write rewrite also moved."""
    t = _mk(spark, tmp_path)
    t.merge(_batch(spark, [(3, 999, False), (5, None, True), (64, 1, False)]))
    rows = t.changes(2).collect()
    got = {(r["_change_type"], r["k"], r["v"]) for r in rows}
    assert got == {
        ("update_preimage", 3, 30),
        ("update_postimage", 3, 999),
        ("delete", 5, 50),
        ("insert", 64, 1),
    }
    assert {r["_commit_version"] for r in rows} == {2}


def test_changes_full_history_and_range(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(_batch(spark, [(0, 1, False)]))  # v2: update 0 -> 1
    t.merge(_batch(spark, [(0, 2, False)]))  # v3: update 1 -> 2
    # version 1 (create) is all inserts
    v1 = t.changes(1, 1)
    assert v1.filter(F.col("_change_type") != "insert").count() == 0
    assert v1.count() == 64
    # range [2, 3] sees both updates with per-commit attribution
    seq = sorted(
        (r["_commit_version"], r["_change_type"], r["v"])
        for r in t.changes(2, 3).collect()
    )
    assert seq == [
        (2, "update_postimage", 1),
        (2, "update_preimage", 0),
        (3, "update_postimage", 2),
        (3, "update_preimage", 1),
    ]
    with pytest.raises(ValueError):
        t.changes(1, 99)
    with pytest.raises(ValueError):
        t.changes(3, 2)


def test_changes_metadata_only_commits_emit_nothing(spark, tmp_path):
    """Rename/drop move no data: the CDF over those commits is empty,
    and a rename mid-range reads under the END schema without
    manufacturing phantom updates (physical names are stable)."""
    t = _mk(spark, tmp_path)
    t.rename_column("v", "val")  # v2: metadata only
    assert t.changes(2, 2).count() == 0
    t.merge(
        spark.createDataFrame(
            [(3, 999, False)], "k long, val long, _deleted boolean"
        )
    )  # v3
    rows = t.changes(2, 3).collect()  # range spans the rename
    assert {r["_change_type"] for r in rows} == {
        "update_preimage",
        "update_postimage",
    }
    assert {r["val"] for r in rows} == {30, 999}  # END-schema column name
    assert len(rows) == 2


def test_changes_feed_mv_equals_recompute(spark, tmp_path):
    """The MV identity the registered mv_from_txn_changes query hashes
    against DuckDB, pinned locally with a direct frame compare:
    MV(v1) ⊕ Δ(CDF 2..last) == recompute(v_last)."""
    t = _mk(spark, tmp_path)
    t.merge(_batch(spark, [(3, 999, False), (5, None, True)]))
    t.merge(_batch(spark, [(70, 7, False), (3, 1000, False)]))
    parity = (F.col("k") % 2).alias("grp")
    mv = (
        t.read(version=1)
        .groupBy(parity)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    sign = (
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        )
        .otherwise(F.lit(-1))
        .cast("long")
    )
    delta = (
        t.changes(2, t.history()[-1])
        .groupBy(parity)
        .agg(
            F.sum(sign).alias("d_n"), F.sum(sign * F.col("v")).alias("d_s")
        )
    )
    fed = (
        mv.join(delta, "grp", "full_outer")
        .select(
            "grp",
            (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("d_n"), F.lit(0))).alias("n"),
            (F.coalesce(F.col("s"), F.lit(0)) + F.coalesce(F.col("d_s"), F.lit(0))).alias("s"),
        )
        .filter(F.col("n") > 0)
    )
    recomputed = (
        t.read()
        .groupBy(parity)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    assert sorted(map(tuple, fed.collect())) == sorted(
        map(tuple, recomputed.collect())
    )


def test_changes_replication_tracks_every_version(spark, tmp_path):
    """CDF compositionality: seeding a replica from v1 and applying
    changes(v, v) per commit must reproduce the SOURCE's snapshot at
    EVERY version, not just the end state — the invariant a streaming
    consumer (one micro-batch per commit) depends on."""
    src = _mk(spark, tmp_path)
    src.merge(_batch(spark, [(3, 999, False), (5, None, True)]))
    src.merge(_batch(spark, [(70, 7, False), (3, 1000, False)]))
    src.merge(_batch(spark, [(70, None, True), (0, 42, False)]))
    seed = src.read(version=1)
    replica = LogTable.create(
        spark, str(tmp_path / "replica"), seed, "k", n_files=4
    )
    for v in src.history():
        if v < 2:
            continue
        cdf = src.changes(v, v)
        batch = (
            cdf.filter(F.col("_change_type") != "update_preimage")
            .withColumn("_deleted", F.col("_change_type") == "delete")
            .select("k", "v", "_deleted")
        )
        rv, _ = replica.merge(batch)
        got = {(r["k"], r["v"]) for r in replica.read(version=rv).collect()}
        want = {(r["k"], r["v"]) for r in src.read(version=v).collect()}
        assert got == want, f"replica diverged at source v{v}"


def test_source_max_int_falls_back_on_unreadable_or_non_int_footer(tmp_path):
    """The txn queries' footer fast path must return None — sending the
    caller to the Spark max-scan — for a file that is not parquet and
    for a DATE column (physical INT32, statistic a datetime.date)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_export_system_spark.io.txn_queries import _source_max_int

    (tmp_path / "junk.parquet").write_bytes(b"not a parquet file at all")
    assert _source_max_int(str(tmp_path), "junk", "k") is None

    pq.write_table(
        pa.table({
            "d": pa.array([datetime.date(2020, 1, 1), datetime.date(2021, 6, 30)]),
            "k": pa.array([3, 7], pa.int32()),
        }),
        str(tmp_path / "dated.parquet"),
    )
    assert _source_max_int(str(tmp_path), "dated", "d") is None
    assert _source_max_int(str(tmp_path), "dated", "k") == 7
