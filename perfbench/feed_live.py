"""feed_live: the namesake path, a live per-user changefeed with push
delivery.  See README.md for why this workload exists and what it
should and should not move."""

from __future__ import annotations

import os
import threading
from collections import Counter

import duckdb
import numpy as np
import pyarrow.parquet as pq

from datagen import write_tables
from harness import CheckFailed

SF = 0.1
FILE_ROWS = 500
#: ops run before the timed window.  The per-batch latency falls
#: steeply over the first batches of a fresh JVM and then slowly
#: (curves/feed_live.json, curves/long/); 16 puts the window past the
#: knee within the time budget (README.md, "Warm-up").
WARMUP_OPS = 16
#: nominal cost of one batch after the warm-up on a 4-core host, which
#: sizes the timed window from --seconds (12 s: batches 16 to 23)
OP_S = 1.5
#: change files prepared in set-up; far more than a window uses
N_FILES = 200
WAIT_S = 120.0


class FeedLive:
    warmup_ops = WARMUP_OPS
    op_s = OP_S
    block = 1

    def __init__(self, ctx):
        from db_realtime_changefeed_spark.api import Database

        data = write_tables(os.path.join(ctx.run_dir, "data"), ctx.seed, SF,
                            ("events",))
        events = pq.read_table(os.path.join(data, "events.parquet"))
        rng = np.random.default_rng([ctx.seed, 3])
        self.files_dir = os.path.join(ctx.run_dir, "changes")
        os.makedirs(self.files_dir)
        self.files: list[str] = []
        self.expected: list[Counter] = []
        for i, off in enumerate(rng.integers(0, events.num_rows - FILE_ROWS,
                                             N_FILES)):
            part = events.slice(int(off), FILE_ROWS)
            path = os.path.join(self.files_dir, f"change-{i:04d}.parquet")
            pq.write_table(part, path)
            self.files.append(path)
            self.expected.append(Counter(part.column("user_id").to_pylist()))
        self.ingested = 0
        self._delivered: dict[int, list] = {}
        self._cv = threading.Condition()
        self.feed = (Database(ctx.spark, data).table("events")
                     .changes(key="user_id", mode="live"))
        self.feed.subscribe(self._on_batch)

    def _on_batch(self, batch_id: int, rows: list) -> None:
        with self._cv:
            self._delivered[batch_id] = rows
            self._cv.notify_all()

    def op(self, i: int) -> None:
        """Ingest the next change file, wait until its batch is pushed,
        and check each key's count delta against the file."""
        batch = self.ingested
        self.feed.ingest(self.files[batch])
        self.ingested += 1
        with self._cv:
            if not self._cv.wait_for(lambda: batch in self._delivered,
                                     timeout=WAIT_S):
                raise CheckFailed(f"batch {batch} not delivered")
            rows = self._delivered.pop(batch)
        got = {r["user_id"]: r["new_count"] - r["old_count"] for r in rows}
        if got != dict(self.expected[batch]):
            raise CheckFailed(f"batch {batch}: per-key deltas differ")

    def finish(self) -> None:
        """The feed's state must equal a count and sum over every
        ingested file."""
        got = [tuple(r) for r in self.feed.state().collect()]
        files = self.files[:self.ingested]
        con = duckdb.connect()
        want = con.execute(
            "SELECT user_id, count(*) AS cnt, "
            "CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value "
            "FROM read_parquet(?) GROUP BY user_id", [files]).fetchall()
        if sorted(got) != sorted(want):
            raise CheckFailed("final state differs from the ingested files")

    def close(self) -> None:
        self.feed.stop()
