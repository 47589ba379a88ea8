"""Deterministic change batches appended to a ``users`` table.

The engine only sees the parquet files written here, in the
``updated_day=<date>`` layout of ``datagen.write_users``. A batch mixes the
reference seeder's shares: about half INSERT-classified rows (new ids,
``created_at == updated_at``), about 3% soft deletes of existing ids, and
updates of existing ids for the rest. Every batch's ``updated_at`` values
are strictly above the previous batch's maximum, and the row holding the
batch maximum is live, so incremental and delta exports both advance the
watermark to exactly that maximum. Every ``empty_every``-th poll finds no
new batch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INSERT_SHARE = 0.5
DELETE_SHARE = 0.03
MEAN_GAP_US = 360_000  # 10k rows span about one hour of updated_at
MAX_UPDATE_LAG_US = 3 * 24 * 3600 * 1_000_000

_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("name", pa.string()),
        ("email", pa.string()),
        ("created_at", pa.timestamp("us", tz="UTC")),
        ("updated_at", pa.timestamp("us", tz="UTC")),
        ("is_deleted", pa.bool_()),
    ]
)
_EPOCH = datetime(1970, 1, 1)


@dataclass(frozen=True)
class Batch:
    inserts: int
    updates: int
    deletes: int
    max_updated_at: datetime  # naive UTC

    @property
    def rows(self) -> int:
        return self.inserts + self.updates + self.deletes

    @property
    def live(self) -> int:
        return self.inserts + self.updates


class ChangeFeed:
    def __init__(
        self,
        table_dir: str,
        seed: int,
        existing_ids: int,
        after: datetime,
        batch_rows: int = 10_000,
        empty_every: int = 4,
    ) -> None:
        """``existing_ids``: ids 1..existing_ids are already in the table;
        ``after``: naive UTC instant at or above every ``updated_at`` in it."""
        self.table_dir = table_dir
        self.rng = np.random.default_rng(seed)
        self.next_id = existing_ids + 1
        self.high_us = int((after - _EPOCH) / timedelta(microseconds=1))
        self.batch_rows = batch_rows
        self.empty_every = empty_every
        self.polls = 0
        self.rows_written = 0

    def poll(self) -> Batch | None:
        """Append the next batch, or None on an empty poll."""
        self.polls += 1
        if self.polls % self.empty_every == 0:
            return None
        n, rng = self.batch_rows, self.rng
        n_ins, n_del = round(n * INSERT_SHARE), round(n * DELETE_SHARE)
        n_upd = n - n_ins - n_del
        updated = self.high_us + np.cumsum(rng.integers(1, 2 * MEAN_GAP_US, n))
        kind = rng.permutation(np.repeat([0, 1, 2], [n_ins, n_upd, n_del]))  # 0 ins, 1 upd, 2 del
        if kind[-1] == 2:  # the batch maximum must be a live row
            swap = int(np.flatnonzero(kind != 2)[-1])
            kind[-1], kind[swap] = kind[swap], kind[-1]
        ids = rng.integers(1, self.next_id, n)
        ids[kind == 0] = np.arange(self.next_id, self.next_id + n_ins)
        self.next_id += n_ins
        created = np.where(kind == 0, updated, updated - rng.integers(1_000_000, MAX_UPDATE_LAG_US, n))
        table = pa.table(
            {
                "id": ids,
                "name": [f"User {i}" for i in ids.tolist()],
                "email": [f"user{i}@example.com" for i in ids.tolist()],
                "created_at": pa.array(created, pa.timestamp("us", tz="UTC")),
                "updated_at": pa.array(updated, pa.timestamp("us", tz="UTC")),
                "is_deleted": kind == 2,
            },
            schema=_SCHEMA,
        )
        days = (updated // (86_400 * 1_000_000)).astype("datetime64[D]").astype(str)
        for day in np.unique(days):
            part_dir = os.path.join(self.table_dir, f"updated_day={day}")
            os.makedirs(part_dir, exist_ok=True)
            rows = np.flatnonzero(days == day)
            pq.write_table(table.take(rows), os.path.join(part_dir, f"part-feed-{self.polls:05d}.parquet"))
        self.high_us = int(updated[-1])
        self.rows_written += n
        return Batch(n_ins, n_upd, n_del, _EPOCH + timedelta(microseconds=self.high_us))
