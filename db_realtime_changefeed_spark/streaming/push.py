"""Push delivery for changefeeds — the subscriber side of the
namesake: instead of polling the delta log (api.Cursor.poll), a
subscriber registers a callback and every committed batch's delta
rows are PUSHED to it from the commit path (a replay's foreachBatch,
or a live changefeed's worker thread), in batch order, exactly once
from the subscriber's point of view.

Exactly-once across retries: the upstream is at-least-once (a
replayed batch re-merges idempotently and re-pushes), so each
subscriber keeps a durable ACK high-water mark under the runner root,
swapped atomically after the callback returns: a symlink
`subscriber-<name>.ack` whose target is the batch id
(statefs.put_pointer; an ack written as a regular file by older
runners still reads). A
re-delivered batch id at or below the ack mark is dropped before the
callback sees it; a crash between callback and ack re-delivers (the
callback's effect must be idempotent per batch_id, which is the
standard consumer contract — the batch id IS the idempotency token).

Ordering: the runner serializes pushes and subscription catch-up
under one lock, so a subscriber sees batch ids strictly increasing —
catch-up (history it missed) first, then live pushes.

Scale: delivery is client-side by definition (the subscriber is a
client process); what is pushed is the per-batch DELTA, never state.
At 100 TB the same hook body writes the delta to a Kafka topic /
webhook fan-out service instead of an in-process callback — the
commit-then-push-then-ack structure is unchanged.
"""

from __future__ import annotations

import glob
import os

from .statefs import STATE_FS


class Subscriber:
    """A named push consumer of one runner's delta log. The name
    keys the durable ack pointer, so a restarted subscriber with the
    same name resumes where its predecessor acked."""

    def __init__(self, runner, callback, name: str = "default"):
        self._runner = runner
        self._cb = callback
        self.name = name
        self._ack_path = os.path.join(
            runner.root, f"subscriber-{name}.ack"
        )
        self._acked = self._read_ack()

    def _read_ack(self) -> int:
        try:
            v = STATE_FS.read_pointer(self._ack_path)
            return -1 if v is None else int(v)
        except (OSError, ValueError):
            return -1

    @property
    def acked(self) -> int:
        """Highest delivered-and-acknowledged batch id (-1 = none)."""
        return self._acked

    def deliver(self, batch_id: int, rows: list) -> bool:
        """Push one batch's delta rows to the callback unless already
        acked (at-least-once upstream -> exactly-once callback).
        Returns True if the callback ran. Callers serialize."""
        if batch_id <= self._acked:
            return False
        self._cb(batch_id, rows)
        STATE_FS.put_pointer(self._ack_path, str(batch_id))
        self._acked = batch_id
        return True


def read_batch_log(log_dir: str, batch_id: int) -> list[dict]:
    """One batch's delta rows as plain dicts, read with pyarrow (no
    Spark job on the push path) from the parquet parts of its
    batch-XXXXX/ dir; [] when the batch wrote none."""
    import pyarrow.parquet as pq

    base = os.path.join(log_dir, f"batch-{batch_id:05d}")
    out: list[dict] = []
    for p in sorted(glob.glob(os.path.join(base, "*.parquet"))):
        out.extend(pq.read_table(p).to_pylist())
    return out


def log_batches(log_dir: str) -> list[int]:
    """Batch ids present in a runner's delta log, ascending."""
    ids = set()
    for p in glob.glob(os.path.join(log_dir, "batch-*")):
        digits = os.path.basename(p).removeprefix("batch-")
        if digits.isdigit():
            ids.add(int(digits))
    return sorted(ids)
