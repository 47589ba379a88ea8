"""Per-consumer watermark state — the engine's only mutable state.

Reference semantics (app/services/watermark.py:7-26, app/models.py:16-22):
one row per consumer_id (unique), ``last_exported_at`` is the high-water
``updated_at`` of the last successful export, ``updated_at`` bumps on
every upsert.

Layout — immutable full snapshots behind an atomically advanced pointer
(the same commit idea as a Structured Streaming checkpoint's offset log):

    state_dir/
      versions/<uuid>       # one immutable snapshot: a small JSON file
      CURRENT.<seq>         # CAS chain; each pointer names a version

Why JSON written from the driver: the table is one row per consumer, a
few hundred bytes. Keeping it as a Spark-written parquet directory cost
two Spark jobs per ``get`` and two per ``upsert`` — about 0.8 s of a
1.7 s incremental poll — to move those bytes. Structured Streaming keeps
its own small commit state the same way (offset and commit logs are
small files the driver writes with plain file I/O). Here ``get`` is one
file read and ``upsert`` a dict update plus two fsynced writes; neither
runs a Spark job. ``snapshot()`` still returns a DataFrame with
WATERMARKS_SCHEMA, built by ``createDataFrame`` from the parsed rows.

Timestamps are stored as ISO-8601 text with microseconds. Inputs first
pass through Spark's own TimestampType conversion, so ``get`` returns
exactly what the earlier Spark-backed store returned: a naive datetime,
microseconds kept, an aware input normalised to the process zone (naive
UTC in a UTC process, as under the engine's pinned UTC session).

A version that is a DIRECTORY is a parquet snapshot written by that
earlier store: it is read with pyarrow (never as "no watermark", which
would make every incremental job export nothing) and the next upsert
rewrites the table as JSON.

The pointer is a link(2)-elected CAS CHAIN (``CURRENT.<seq>``), not a
single replaced file, and is unchanged by the move to JSON: a writer
reads the latest sequence, builds the merged snapshot, fsyncs it, and
publishes by hard-linking the fully-written pointer to
``CURRENT.<seq+1>`` — losing the election (EEXIST) means a concurrent
commit advanced the chain, so the writer RE-READS and re-merges before
retrying. That makes concurrent upserts of DIFFERENT consumers
serialize without loss, matching the reference's per-row DB
transactions (jobs.py:31-60; two consumers exporting simultaneously is
the reference's normal background-task mode). The earlier
unconditional ``os.replace`` pointer swap was atomic per commit but
lost the read-merge-write race outright — a 4-thread stress probe
dropped 3 of 4 consumers' rows (tests/test_cdc_exports.py::
test_concurrent_consumer_upserts_all_survive pins the fix). Readers
take the highest sequence; snapshots stay immutable, so a reader on an
older pointer still sees a consistent table, and every version inside
the GC horizons stays readable (time travel for debugging).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import TimestampType

from cdc_export_system_spark.io.atomic import link_publish
from cdc_export_system_spark.schemas import WATERMARKS_SCHEMA

_CURRENT = "CURRENT"
_VERSIONS = "versions"
_TS = TimestampType()

# consumer_id -> (last_exported_at, updated_at)
Rows = dict[str, tuple[datetime, datetime]]


def _as_spark_ts(dt: datetime) -> datetime:
    """``dt`` as a Spark TimestampType round trip returns it: naive,
    microseconds kept, an aware value moved to the process zone."""
    return _TS.fromInternal(_TS.toInternal(dt))


def _write_synced(path: str, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())


def _remove(path: str) -> None:
    """Delete one snapshot. A concurrent _gc may have deleted it first;
    a directory is a legacy parquet snapshot."""
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
        return
    try:
        os.unlink(path)
    except OSError:
        pass


def _read_legacy_parquet(path: str) -> Rows:
    """A snapshot directory written by the earlier Spark-backed store,
    read with pyarrow; Spark's own conversion turns the stored instants
    back into the values that store returned."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path, coerce_int96_timestamp_unit="us")

    def micros(name: str) -> list[int]:
        col = t[name]
        return col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64()).to_pylist()

    return {
        cid: (_TS.fromInternal(last), _TS.fromInternal(upd))
        for cid, last, upd in zip(
            t["consumer_id"].to_pylist(), micros("last_exported_at"), micros("updated_at")
        )
    }


class WatermarkStore:
    """Keyed watermark state with atomic last-wins upserts."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        os.makedirs(os.path.join(state_dir, _VERSIONS), exist_ok=True)

    # -- read path -------------------------------------------------------

    def _chain(self) -> list[tuple[int, str]]:
        """(seq, pointer-file) entries of the CAS chain, ascending."""
        out = []
        for name in os.listdir(self.state_dir):
            if name.startswith(_CURRENT + ".") and not name.endswith(".tmp"):
                try:
                    out.append((int(name.rsplit(".", 1)[1]), name))
                except ValueError:
                    continue
        return sorted(out)

    def _head(self) -> tuple[int, str | None]:
        """(latest seq, live snapshot version) — (0, None) when empty.
        Falls back to a legacy single CURRENT file at seq 0.

        A pointer listed by _chain() can vanish before open() when a
        concurrent committer's _gc prunes the chain tail between our
        listdir and read — that always means a NEWER head exists, so
        the read retries from a fresh listing instead of surfacing
        FileNotFoundError to the caller (the 5-writer race the round-9
        advice flagged)."""
        saw_chain = False
        for _ in range(50):
            chain = self._chain()
            if not chain:
                break
            saw_chain = True
            seq, name = chain[-1]
            try:
                with open(os.path.join(self.state_dir, name)) as f:
                    return seq, f.read().strip() or None
            except FileNotFoundError:
                continue  # pruned under us: a newer pointer exists
        if saw_chain:  # unreachable unless _gc's never-prune-head breaks
            raise RuntimeError(
                f"watermark pointer chain at {self.state_dir!r} kept "
                "vanishing across 50 fresh listings"
            )
        try:
            with open(os.path.join(self.state_dir, _CURRENT)) as f:
                return 0, f.read().strip() or None
        except FileNotFoundError:
            return 0, None

    def _current_version(self) -> str | None:
        return self._head()[1]

    def _load(self, version: str | None) -> Rows:
        """The rows of one snapshot version ({} for None)."""
        if version is None:
            return {}
        path = os.path.join(self.state_dir, _VERSIONS, version)
        if os.path.isdir(path):
            return _read_legacy_parquet(path)
        with open(path) as f:
            rows = json.load(f)
        return {
            r["consumer_id"]: (
                datetime.fromisoformat(r["last_exported_at"]),
                datetime.fromisoformat(r["updated_at"]),
            )
            for r in rows
        }

    def snapshot(self) -> DataFrame:
        """The live watermark table (empty DataFrame when uninitialized)."""
        rows = self._load(self._current_version())
        return self.spark.createDataFrame(
            [(cid, last, upd) for cid, (last, upd) in sorted(rows.items())],
            WATERMARKS_SCHEMA,
        )

    def get(self, consumer_id: str) -> datetime | None:
        """Point lookup (reference watermark.py:7-9). Returns None when the
        consumer has never completed an export — the caller decides the
        no-watermark policy (exports.py:110-113: export nothing)."""
        row = self._load(self._current_version()).get(consumer_id)
        return None if row is None else row[0]

    # -- write path ------------------------------------------------------

    def upsert(
        self,
        consumer_id: str,
        last_exported_at: datetime,
        max_retries: int = 50,
    ) -> None:
        """Insert-or-update one consumer row (reference watermark.py:11-26)
        through the CAS chain: read head -> merge -> publish seq+1 via
        link election; on losing the election, RE-READ and re-merge so a
        concurrent commit for another consumer is never overwritten.
        An attempt costs about a millisecond, so the budget is sized for
        writers in a tight loop: 8 threads x 25 upserts lose up to ~15
        elections in a row. io.atomic.HardLinksUnsupported propagates at
        once: retrying a filesystem that cannot link would only mislead."""
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        row = (_as_spark_ts(last_exported_at), now)
        for attempt in range(max_retries):
            seq, live = self._head()
            rows = self._load(live)
            rows[consumer_id] = row
            if self._commit(rows, expected_seq=seq):
                return
            time.sleep(0.01 * (attempt % 5 + 1))
        raise RuntimeError(
            f"watermark upsert for {consumer_id!r} lost {max_retries} "
            "commit elections"
        )

    def _commit(self, rows: Rows, expected_seq: int) -> bool:
        """Write an immutable snapshot and try to publish it as
        CURRENT.<expected_seq+1>. Returns False if a concurrent commit
        won that sequence (caller re-reads and retries)."""
        version = uuid.uuid4().hex
        path = os.path.join(self.state_dir, _VERSIONS, version)
        _write_synced(path, json.dumps([
            {
                "consumer_id": cid,
                "last_exported_at": last.isoformat(timespec="microseconds"),
                "updated_at": upd.isoformat(timespec="microseconds"),
            }
            for cid, (last, upd) in sorted(rows.items())
        ]))
        tmp_pointer = os.path.join(self.state_dir, f".{_CURRENT}.{version}.tmp")
        _write_synced(tmp_pointer, version)
        target = os.path.join(self.state_dir, f"{_CURRENT}.{expected_seq + 1:020d}")
        try:
            won = link_publish(tmp_pointer, target)
        finally:
            try:
                os.unlink(tmp_pointer)
            except OSError:
                pass
        if not won:
            _remove(path)  # orphan snapshot
            return False
        # the commit is durably published at this point — GC hiccups
        # (e.g. a concurrent _gc deleting a file mid-scan) must never
        # turn a WON election into an apparent failure that the caller
        # would redundantly retry
        try:
            self._gc(keep=version)
        except OSError:
            pass
        return True

    def _gc(self, keep: str, retain: int = 20, min_age_s: float = 60.0) -> None:
        """Drop stale snapshots (never the live one) and prune the
        pointer chain's tail (never its head). Two horizons guard the
        concurrent-reader window the round-9 advice flagged: keep the
        newest ``retain`` entries AND anything younger than
        ``min_age_s`` — a snapshot that was head a moment ago (some
        reader or slow writer may still be about to open it) stays on
        disk even if many commits just buried it. Entries are a few
        hundred bytes, so the larger horizon is free."""
        cutoff = time.time() - min_age_s
        vdir = os.path.join(self.state_dir, _VERSIONS)
        # stat everything up front and drop entries a concurrent _gc
        # deleted between listdir and stat — getmtime as a sort key
        # would raise FileNotFoundError out of a WON commit otherwise
        stamped = []
        for v in os.listdir(vdir):
            p = os.path.join(vdir, v)
            try:
                stamped.append((os.path.getmtime(p), p))
            except OSError:
                continue  # vanished under us (concurrent _gc)
        stamped.sort(reverse=True)
        for mtime, stale in stamped[retain:]:
            if mtime < cutoff and os.path.basename(stale) != keep:
                _remove(stale)
        chain = self._chain()
        for _seq, name in chain[:-max(retain, 1)]:
            p = os.path.join(self.state_dir, name)
            try:
                if os.path.getmtime(p) < cutoff:
                    os.unlink(p)
            except OSError:
                pass
