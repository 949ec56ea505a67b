"""Generic per-document changefeeds — the fluent API's
`get(k).changes()` / `get_all(...).changes()` on ANY keyed table
(VERDICT r8 item 6: the point-feed surface was events-only even
though the runner machinery underneath is table-agnostic).

Design: every keyed table normalizes to the SAME insert-only CDC
envelope the events path uses ({op, before, after{event_id, ts,
user_id, event_type, value, props}, ts}); the table's primary key
rides in `after.user_id` (the envelope's generic key slot), its
document scalar in `after.value`, and its LWW sequence in
`after.event_id`. UpsertChangefeedRunner's merge/log/state machinery
then runs UNCHANGED — the generic runner only swaps the source
stream and renames the envelope's internal column names back to the
table's own names on the read surface (state()/log()).

Tables without an event time get a SYNTHETIC arrival timestamp
derived deterministically from the key (timestamp_seconds(epoch +
key)): a snapshot table enters the changefeed as one insert-only
epoch, so the LWW order within it is immaterial — what matters is
that a LATER real change (were one to arrive) carries a later ts and
wins, which the synthetic base epoch guarantees by sitting in 2027.

Scale posture is inherited from the upsert runner: the envelope
predicate (`after.user_id IN (...)`) runs BEFORE the keyed merge, so
a point/watchlist feed holds at most |keys| rows of state no matter
the table size; the merge itself is the bucketed MVCC keyed join
(nothing key-cardinality-sized on the driver).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import SCHEMAS
from .changefeed import _PAYLOAD_DDL, UpsertChangefeedRunner
from .replay import chunk_paths, replay_files

#: table -> (key column, value column, event-time expr or None).
#: Keys must be integer-typed and unique per row (the document id).
#: Tables with a real event time use it; None means the synthetic
#: snapshot-epoch timestamp. `lineitem` (composite key) lives in
#: COMPOSITE_DOC_MAP below.
DOC_MAP: dict[str, tuple[str, str, str | None]] = {
    "region": ("r_regionkey", "r_regionkey", None),
    "nation": ("n_nationkey", "n_nationkey", None),
    "customer": ("c_custkey", "c_acctbal", None),
    "supplier": ("s_suppkey", "s_acctbal", None),
    "part": ("p_partkey", "p_retailprice", None),
    "orders": ("o_orderkey", "o_totalprice",
               "cast(o_orderdate as timestamp)"),
    "documents": ("doc_id", "n_chars", None),
    "embeddings": ("vec_id", "label", None),
}

#: Composite-key tables (round-10: the last loud get()/get_all()
#: refusal lifted). The envelope's generic key slot is ONE bigint,
#: so a composite key rides through a declared PACKING CODEC:
#: key = high_col << bits | low_col, guarded per row (assert_true
#: fails the batch if a low value ever exceeds its bit budget —
#: never silent corruption). TPC-H guarantees l_linenumber in 1..7,
#: so 3 bits are exact. The LWW/MVCC machinery is unchanged — it
#: already keys on an arbitrary bigint expression.
COMPOSITE_DOC_MAP: dict[str, dict] = {
    "lineitem": {
        "cols": ("l_orderkey", "l_linenumber"),
        "bits": 3,                    # low-col bit budget (0..7)
        "value": "l_extendedprice",
        "ts": "cast(l_shipdate as timestamp)",
    },
}


def pack_key(table: str, *values: int) -> int:
    """Driver-side twin of the envelope's packing expression."""
    spec = COMPOSITE_DOC_MAP[table]
    if len(values) != len(spec["cols"]):
        raise TypeError(
            f"{table!r} document key is {spec['cols']}; "
            f"got {len(values)} value(s)")
    hi, lo = int(values[0]), int(values[1])
    if not 0 <= lo < (1 << spec["bits"]):
        raise ValueError(
            f"{spec['cols'][1]}={lo} outside the {spec['bits']}-bit "
            "packing budget")
    return (hi << spec["bits"]) | lo

#: snapshot-epoch base for synthetic arrival timestamps (2027-01-15;
#: after every fixture event time, so a hypothetical later real
#: change stream would start strictly above it)
_EPOCH = 1_800_000_000


class GenericUpsertChangefeedRunner(UpsertChangefeedRunner):
    """UpsertChangefeedRunner over any DOC_MAP table: same LWW
    merge, MVCC state, delta log, cursors, and push surface; only
    the source normalization and the outward column names differ."""

    def __init__(self, spark: SparkSession, sf_dir: str, table: str,
                 key_values: tuple | None = None):
        self._composite = COMPOSITE_DOC_MAP.get(table)
        if self._composite is not None:
            self.table = table
            self.key_cols = self._composite["cols"]
            self.key_col = None  # composite: no single key column
            self.value_col = self._composite["value"]
            self._ts_expr = self._composite["ts"]
        elif table in DOC_MAP:
            self.table = table
            self.key_col, self.value_col, self._ts_expr = \
                DOC_MAP[table]
            self.key_cols = (self.key_col,)
        else:
            raise NotImplementedError(
                f"document feeds need an integer (or declared "
                f"composite) key; {table!r} is in neither DOC_MAP "
                f"({sorted(DOC_MAP)}) nor COMPOSITE_DOC_MAP "
                f"({sorted(COMPOSITE_DOC_MAP)})")
        filter_sql = None
        if key_values is not None:
            packed = [
                pack_key(table, *k) if isinstance(k, (tuple, list))
                else int(k)
                for k in key_values
            ]
            if self._composite is not None and any(
                    not isinstance(k, (tuple, list))
                    for k in key_values):
                raise TypeError(
                    f"{table!r} keys are composite "
                    f"{self._composite['cols']}; pass tuples")
            in_list = ", ".join(str(k) for k in packed)
            filter_sql = f"after.user_id IN ({in_list})"
        super().__init__(spark, sf_dir, filter_sql=filter_sql)

    def _key_expr(self):
        """The envelope key as a bigint column expression — the key
        column itself, or the guarded composite packing."""
        if self._composite is None:
            return F.col(self.key_col).cast("long")
        hi, lo = self._composite["cols"]
        bits = self._composite["bits"]
        # assert_true fails the micro-batch if a low value ever
        # exceeds its bit budget — a silently-aliased packed key
        # would corrupt LWW identity, so refuse loudly per row
        guard = F.assert_true(
            F.col(lo).cast("long").between(0, (1 << bits) - 1),
            F.lit(f"{lo} outside {bits}-bit packing budget"))
        return F.when(
            guard.isNull(),
            F.shiftleft(F.col(hi).cast("long"), bits)
            + F.col(lo).cast("long"))

    def _envelope(self, src: DataFrame) -> DataFrame:
        key = self._key_expr()
        ts = (
            F.expr(self._ts_expr) if self._ts_expr is not None
            else F.timestamp_seconds(F.lit(_EPOCH) + key)
        )
        after = F.struct(
            key.alias("event_id"),
            ts.alias("ts"),
            key.alias("user_id"),
            F.lit("row").alias("event_type"),
            F.col(self.value_col).cast("double").alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
        return src.select(
            F.lit("insert").alias("op"),
            F.lit(None).cast(_PAYLOAD_DDL).alias("before"),
            after.alias("after"),
            after["ts"].alias("ts"),
        )

    def run(self, n_chunks: int | None = None) -> None:
        """Replay the table in key order: chunk i commits as batch i,
        from the batch after CURRENT (replay.replay_files)."""
        from .generic_views import _keyed_chunks

        chunks = _keyed_chunks(
            self.spark, self.sf_dir, self.table, self.key_cols,
            n_chunks)
        replay_files(self, chunk_paths(chunks), lambda path: self._envelope(
            self.spark.read.schema(SCHEMAS[self.table]).parquet(path)))

    def _unpack_cols(self, key_col: str = "user_id") -> list:
        """The table's own key column(s), decoded from the envelope
        key (exact: shiftright recovers the high col, a bit mask the
        low col — the packing guard proved the low col fit)."""
        if self._composite is None:
            return [F.col(key_col).alias(self.key_col)]
        hi, lo = self._composite["cols"]
        bits = self._composite["bits"]
        return [
            F.shiftright(F.col(key_col), bits).alias(hi),
            (F.col(key_col) % F.lit(1 << bits)).alias(lo),
        ]

    # read surface: the table's own column names, not the envelope's
    def state(self) -> DataFrame:
        return super().state().select(
            *self._unpack_cols(),
            "ts",
            F.col("event_id").alias("seq"),
            F.col("value").alias(self.value_col),
        )

    def log(self) -> DataFrame:
        return super().log().select(
            *self._unpack_cols(),
            "old_value", "new_value",
            F.col("old_event_id").alias("old_seq"),
            F.col("new_event_id").alias("new_seq"),
            "batch_id",
        )
