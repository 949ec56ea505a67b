"""Incrementally-maintained standing-query views over the changefeed.

The namesake engine's signature surface is a standing query whose
RESULT is kept current as the base table mutates (RethinkDB
``query.changes()``, Materialize/ksqlDB materialized views,
CockroachDB changefeed sinks feeding a view).  The upsert runner
(changefeed.py) maintains the BASE table; this module maintains
DERIVED views from the base table's {old,new} delta stream alone —
classic incremental view maintenance (IVM) with retractions:

- **agg view** — per-group count/sum.  An update that moves a row
  between groups retracts (-1, -old_value) from the old group and
  applies (+1, +new_value) to the new one; a delete retracts only.
  Per batch, ONLY groups present in the delta are rewritten (the
  view store's touched-bucket commit), never the whole view.
- **min/max view** — the non-distributive case: MIN/MAX cannot be
  maintained from deltas of the answer alone (a delete of the
  current minimum needs the runner-up), so the view maintains the
  classic auxiliary SUPPORT relation (group, value) -> multiplicity,
  which IS delta-maintainable, and answers min/max by folding the
  support at read time.
- **top-k view** — RethinkDB's ``orderBy(desc).limit(k).changes()``:
  the k best rows by (value DESC, event_id ASC) with enter/leave/
  update deltas emitted per batch.  Each refresh reads the RANGE
  INDEX below descending-band-first with early stop, touching
  O(k + band) rows, and everything that crosses the driver is O(k),
  never state-sized.
- **range index** — the ordered secondary index itself, bucketed by
  value band; ``between(lo, hi)`` lists only overlapping band dirs
  from the version manifest (O(selectivity) reads).

All three views hang off ONE CDC scan: the base merge computes the
full-row delta once per micro-batch and every view folds that same
delta, so adding views widens per-batch work by O(|delta|) each,
never re-reads the source.  Squash delivery (RethinkDB
``changes(squash=True)``) is a pure derivation over the emitted
delta log — see view_queries.changefeed_squash.

Where a batch merges is ChangefeedRunner's one gate
(changefeed._DRIVER_FOLD_ROWS).  A batch whose raw rows, plus the
base and view-store rows it reads, stay below it folds on the
driver: ONE Spark job collects the batch's events and the base's
rows as Arrow, each carrying every value only Spark computes (the
five stores' buckets, md5 of the key, and the value as
decimal(18,6)); winners, the LWW merge, the {old,new} delta and the
four view folds then run over pyarrow tables and commit through
stage_tables() and the same ordered publish().  Larger batches, and
batches with a NULL key, take the executor-side merge and folds.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..tmputil import scratch_dir
from . import changefeed
from .changefeed import _has_parquet, cdc_envelope
from .replay import (
    LiveWorker,
    build_replay_chunks,
    fresh_sink_name,
    guard_not_live_fed,
    read_events_file,
    read_events_stream,
    streaming_shuffle,
)
from .state_store import BucketedMvccState

_DEC = "decimal(18,6)"
#: the LWW order of one user's events: the executor path's
#: max(struct(ts, event_id, value, event_type, is_del))
_LWW_ORDER = ("ts", "event_id", "value", "event_type", "deleted")
#: the Spark-computed columns each side of a delta row (the old base
#: row, the winner) carries into the driver fold's view folds
_SIDE_COLS = ("__ab", "__sb", "__ib", "__dec")


def _populated_window(counts: dict, k: int,
                      descending: bool = False) -> list[int]:
    """The fewest populated buckets, in bucket order (`descending`
    for the top-k's value bands), whose rows together reach k — every
    bucket past them is strictly worse in that order."""
    sel: list[int] = []
    cum = 0
    for b in sorted(counts, reverse=descending):
        if counts[b] == 0:
            continue
        sel.append(b)
        cum += counts[b]
        if cum >= k:
            break
    return sel


class RangeBucketedIndex(BucketedMvccState):
    """Secondary index partitioned BY VALUE RANGE instead of key
    hash: bucket = clamp(floor(value / band_width)).  Maintenance
    stays O(|delta|) (only bands whose values appear in a batch's
    delta are rewritten), and a between(lo, hi) read lists only the
    bands overlapping the predicate — the range-pruning story of a
    secondary index, expressed as manifest-level partition pruning.
    At 100 TB band_width is the index granularity knob: narrower
    bands = sharper pruning, more manifest entries."""

    def __init__(self, spark: SparkSession, state_root: str, ddl: str,
                 band_width: float, n_bands: int):
        super().__init__(spark, state_root, ddl, "value",
                         n_buckets=n_bands)
        self.band_width = band_width

    def bucket_expr(self, *cols):
        c = cols[0] if cols else F.col("value")
        return (
            F.least(
                F.greatest(F.floor(c / F.lit(self.band_width)),
                           F.lit(0)),
                F.lit(self.n_buckets - 1),
            ).cast("int")
        )

    def bands_for(self, lo: float, hi: float) -> list[int]:
        b0 = max(0, min(int(lo // self.band_width),
                        self.n_buckets - 1))
        b1 = max(0, min(int(hi // self.band_width),
                        self.n_buckets - 1))
        return list(range(b0, b1 + 1))

    def between(self, batch_id: int, lo: float, hi: float):
        """Pruned range scan: only overlapping band dirs are read."""
        return (
            self.df_at(batch_id, buckets=self.bands_for(lo, hi))
            .where(F.col("value").between(F.lit(lo), F.lit(hi)))
        )


def _tiny_df(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """Driver-local rows as a SINGLE-partition DataFrame. The default
    createDataFrame(list) local-relation path costs ~4 s of fixed
    overhead per tiny parquet write on local[32] (measured r7 — it
    slices the rows over defaultParallelism and pays the full
    conversion machinery); routing through parallelize(rows, 1) is
    ~0.3 s. Only for O(k) driver-bounded rows (top-k deltas, cohort
    deltas) — real data never takes this path."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), ddl)


_PA_TYPES = None


def _pa_schema(ddl: str):
    """The pyarrow schema whose parquet files Spark reads back under
    `ddl`: timestamps as UTC-adjusted micros, decimal(18,6) as
    decimal128(18,6), every field nullable."""
    import pyarrow as pa

    global _PA_TYPES
    if _PA_TYPES is None:
        _PA_TYPES = {
            "long": pa.int64(), "bigint": pa.int64(),
            "double": pa.float64(), "string": pa.string(),
            "int": pa.int32(), "boolean": pa.bool_(),
            "timestamp": pa.timestamp("us", tz="UTC"),
            "decimal(18,6)": pa.decimal128(18, 6),
        }
    fields = []
    for part in re.split(r",(?![^(]*\))", ddl):
        name, typ = part.strip().split(" ", 1)
        fields.append(pa.field(name, _PA_TYPES[typ.strip().lower()]))
    return pa.schema(fields)


def _tiny_write(rows: list, ddl: str, path: str) -> None:
    """Write O(k) driver-resident rows as one parquet file with
    pyarrow — the durable-log twin of _tiny_df that skips the Spark
    job entirely (r13, guide §1.2 "per-task work": even the
    parallelize(rows, 1) route pays ~0.3 s of job scheduling per
    tiny write; a driver-side arrow write is ~1 ms for the same
    bytes). ONLY for rows already on the driver by design (top-k /
    cohort deltas are O(k) by contract — the subscriber's answer,
    not state). Overwrite-idempotent like the Spark write it
    replaces: the publish goes through the statefs seam (r14), which
    is an atomic tmp-dir rename locally and a PUT + pointer swap on
    an object store. Every reader of these logs supplies an explicit
    read schema, so the file-level types below (int64/float64/string,
    all nullable) round-trip identically to the Spark-written
    layout."""
    import pyarrow as pa

    from .statefs import STATE_FS

    schema = _pa_schema(ddl)
    cols = [
        pa.array([r[i] for r in rows], type=f.type)
        for i, f in enumerate(schema)
    ]
    STATE_FS.put_small_parquet_dir(
        pa.Table.from_arrays(cols, schema=schema), path)


class HashOrderedIndex(BucketedMvccState):
    """Secondary index ordered by KEY HASH: bucket = first hex
    nibble of md5(key) — 16 buckets that partition the hash order,
    so "k smallest by hash" reads ascending buckets with early stop
    (the cohort twin of the value-banded range index)."""

    def __init__(self, spark: SparkSession, state_root: str,
                 ddl: str):
        super().__init__(spark, state_root, ddl, "user_id",
                         n_buckets=16)

    def bucket_expr(self, *cols):
        c = cols[0] if cols else F.col("user_id")
        return F.conv(
            F.substring(F.md5(c.cast("string")), 1, 1), 16, 10
        ).cast("int")


# ---- the driver fold's pyarrow steps (MaintainedViewsRunner) ----
def _ids(*cols) -> list[int]:
    """The distinct non-NULL values of `cols`, sorted (touched
    buckets)."""
    return sorted({v for c in cols for v in c.to_pylist()
                   if v is not None})


def _bucketed(t, bucket):
    """`t` with every row in `bucket` (`__b`, int64)."""
    import pyarrow as pa

    return t.append_column(
        "__b", pa.repeat(pa.scalar(bucket, pa.int64()), t.num_rows))


def _last_per_user(t):
    """The batch's winners: the last event per user in LWW order,
    after one vectorised sort (NULLs first, as Spark orders the
    fields of the executor path's struct max)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if t.num_rows == 0:
        return t
    t = t.take(pc.sort_indices(
        t, sort_keys=[(c, "ascending") for c in ("user_id",) + _LWW_ORDER],
        null_placement="at_start"))
    u = t["user_id"].combine_chunks()
    return t.filter(pa.concat_arrays(
        [pc.not_equal(u[1:], u[:-1]), pa.array([True])]))


def _held(store, base: int | None, touched: list[int], schema) -> list:
    """A store's rows of the `touched` buckets at version `base` (none
    before the first batch), in `schema`, with their bucket as
    `__b`."""
    if base is None:
        return []
    return [_bucketed(t.select(schema.names).cast(schema), b)
            for b, t in store.read_buckets(base, touched).items()]


def _signed(rows, sign: int, cols: dict):
    """One side of the retraction algebra over the delta `rows`: the
    side's columns renamed per `cols`, cnt = `sign`, and any sum_value
    carrying that sign."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = {name: rows[c] for name, c in cols.items()}
    out["cnt"] = pa.repeat(pa.scalar(sign, pa.int64()), rows.num_rows)
    if sign < 0 and "sum_value" in out:
        out["sum_value"] = pc.negate(out["sum_value"])
    return pa.table(out)


def _lww_merge(w, old):
    """The executor path's full-outer LWW merge over Arrow: winners
    `w` against the base rows `old` of the buckets they touch, with
    its three-valued logic (a NULL comparison never wins). Returns
    (the touched buckets' new rows with `__b`, the emitted {old,new}
    delta with each side's Spark-computed columns: `__o*` of the old
    row, `__n*` of the winner, and the user's `__hb` and `__h`)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    o = old.take(pc.index_in(w["user_id"], value_set=old["user_id"]))
    keep = old.filter(pc.invert(
        pc.is_in(old["user_id"], value_set=w["user_id"])))
    has_o = pc.is_valid(o["event_id"])
    newer = pc.or_kleene(
        pc.greater(w["ts"], o["ts"]),
        pc.and_kleene(pc.equal(w["ts"], o["ts"]),
                      pc.greater(w["event_id"], o["event_id"])))
    wins = pc.fill_null(pc.and_kleene(
        pc.is_valid(w["event_id"]), pc.or_kleene(pc.invert(has_o), newer)),
        False)
    is_del = pc.and_(wins, w["deleted"])
    o_del = pc.fill_null(o["deleted"], False)
    old_vis = pc.and_(has_o, pc.invert(o_del))
    new_vis = pc.invert(is_del)
    emit = pc.and_(wins, pc.invert(pc.and_(is_del, pc.invert(old_vis))))

    def pick(c):
        return pc.if_else(wins, w[c], o[c])

    def only(cond, col):
        return pc.if_else(cond, col, pa.scalar(None, col.type))

    cols = ("user_id", "ts", "event_id", "value", "event_type")
    base_rows = pa.concat_tables([
        pa.table({**{c: keep[c] for c in cols},
                  "deleted": pc.fill_null(keep["deleted"], False),
                  "__b": keep["__bb"]}),
        pa.table({"user_id": w["user_id"],
                  **{c: pick(c) for c in cols[1:]},
                  "deleted": pc.if_else(wins, is_del, o_del),
                  "__b": w["__bb"]}),
    ])
    delta = pa.table({
        "user_id": w["user_id"],
        "old_value": only(old_vis, o["value"]),
        "new_value": only(new_vis, w["value"]),
        "old_event_id": only(old_vis, o["event_id"]),
        "new_event_id": only(new_vis, w["event_id"]),
        "old_type": only(old_vis, o["event_type"]),
        "new_type": only(new_vis, w["event_type"]),
        **{f"__o{c[2:]}": o[c] for c in _SIDE_COLS},
        **{f"__n{c[2:]}": w[c] for c in _SIDE_COLS},
        "__hb": w["__hb"], "__h": w["__h"],
    }).filter(emit)
    return base_rows, delta


def _summed(parts: list, schema, keys: list[str]):
    """Old store rows and ± contributions, summed per (keys, `__b`)
    with groups whose cnt falls to 0 dropped — the executor path's
    union + grouped sum."""
    import pyarrow as pa
    import pyarrow.compute as pc

    with_b = schema.append(pa.field("__b", pa.int64()))
    t = pa.concat_tables([p.select(with_b.names).cast(with_b)
                          for p in parts])
    sums = [n for n in schema.names if n not in keys]
    g = t.group_by(keys + ["__b"]).aggregate([(c, "sum") for c in sums])
    g = g.rename_columns([n.removesuffix("_sum") for n in g.column_names])
    return g.filter(pc.greater(g["cnt"], 0))


def _replaced(parts: list, users, adds):
    """Old index rows minus every delta user's, plus the delta's
    visible new rows (`adds`) — the executor path's anti join +
    union."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = adds.schema
    kept = [p.filter(pc.invert(pc.is_in(p["user_id"], value_set=users)))
            .select(schema.names) for p in parts]
    adds = adds.set_column(schema.get_field_index("__b"), "__b",
                           pc.cast(adds["__b"], pa.int64()))
    return pa.concat_tables(
        [k.cast(adds.schema) for k in kept] + [adds])


def _split(t, schema) -> dict:
    """{bucket: rows in the store's `schema`} of a fold's result — the
    stage_tables() input."""
    import pyarrow.compute as pc

    return {
        b: t.filter(pc.equal(t["__b"], b)).select(schema.names)
        .cast(schema)
        for b in _ids(t["__b"])
    }


class MaintainedViewsRunner:
    """One CDC scan, a keyed LWW base table, and three derived views
    maintained incrementally from the per-batch delta stream."""

    _STATE_DDL = ("user_id long, ts timestamp, event_id long, "
                  "value double, event_type string, deleted boolean")
    _AGG_DDL = "event_type string, cnt long, sum_value decimal(18,6)"
    _SUPPORT_DDL = "event_type string, value double, cnt long"
    _LOG_DDL = ("user_id long, old_value double, new_value double, "
                "old_event_id bigint, new_event_id bigint, "
                "old_type string, new_type string, batch_id long")
    _INDEX_DDL = "user_id long, value double, event_id long"
    _TOPK_DDL = ("batch_id long, user_id long, change string, "
                 "old_offset long, new_offset long, "
                 "old_value double, new_value double")

    def __init__(self, spark: SparkSession, sf_dir: str,
                 delete_on: str | None = "error", k: int = 10,
                 root: str | None = None):
        """`root`: pass a previous runner's root to RESTART from its
        durable state — every view store is versioned parquet with
        manifest commits, the top-k delta log is parquet, and the
        checkpoint under root resumes from committed offsets, so a
        fresh instance serves identical trajectories without
        re-processing (crash-recovery; tested)."""
        self.spark = spark
        self.sf_dir = sf_dir
        self.delete_on = delete_on
        self.k = k
        self.root = root or scratch_dir(prefix="dbrcf-views-")
        self.log_dir = os.path.join(self.root, "changelog")
        self.topk_dir = os.path.join(self.root, "topklog")
        self.sample_dir = os.path.join(self.root, "samplelog")
        self.ckpt = os.path.join(self.root, "checkpoint")
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.topk_dir, exist_ok=True)
        os.makedirs(self.sample_dir, exist_ok=True)
        self._base = BucketedMvccState(
            spark, os.path.join(self.root, "base"),
            self._STATE_DDL, "user_id")
        self._agg = BucketedMvccState(
            spark, os.path.join(self.root, "aggview"),
            self._AGG_DDL, "event_type", n_buckets=4)
        self._support = BucketedMvccState(
            spark, os.path.join(self.root, "supportview"),
            self._SUPPORT_DDL, ["event_type", "value"], n_buckets=4)
        self._index = RangeBucketedIndex(
            spark, os.path.join(self.root, "rangeindex"),
            self._INDEX_DDL, band_width=100.0, n_bands=8)
        self._hashidx = HashOrderedIndex(
            spark, os.path.join(self.root, "hashindex"),
            "user_id long")
        self._last_batch: int | None = (
            max(self._base.versions()) if self._base.versions()
            else None)
        # in-memory cache of the last refreshed memberships — pure
        # caches: (batch_id, ordered rows / ordered (hash, user)
        # pairs). On miss (restart, retry) the membership is
        # recomputed from the durable index, never trusted stale;
        # when warm, the k-th entry is the next batch's incremental
        # refresh threshold (_inc_topk / _inc_sample).
        self._topk_cache: tuple[int, list] | None = None
        self._sample_cache: tuple[int, list] | None = None
        self._live = LiveWorker(
            self.root, self.ckpt,
            lambda path: cdc_envelope(read_events_file(spark, path)),
            self._merge_batch, self.committed_batch)

    @property
    def _batches(self) -> list[int]:
        """Committed batch ids, derived from the durable base-store
        manifests — survives restart, immune to retry double-count."""
        return self._base.versions()

    def committed_batch(self) -> int | None:
        """The newest committed batch (base version), None before the
        first commit."""
        return max(self._base.versions(), default=None)

    # ---- per-batch base merge + delta emission ----
    def _winners(self, batch_df: DataFrame) -> DataFrame:
        is_del = (
            (F.col("after.event_type") == F.lit(self.delete_on))
            if self.delete_on is not None else F.lit(False)
        )
        return (
            batch_df.select(
                "after.user_id", "after.ts", "after.event_id",
                "after.value", "after.event_type",
                is_del.alias("is_del"),
            )
            .groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value",
                                "event_type", "is_del")).alias("m"))
            .select(
                "user_id",
                F.col("m.ts").alias("w_ts"),
                F.col("m.event_id").alias("w_eid"),
                F.col("m.value").alias("w_val"),
                F.col("m.event_type").alias("w_type"),
                F.col("m.is_del").alias("w_del"),
            )
        )

    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # base = the PREVIOUS version, derived from batch_id (not from
        # mutable runner state) so a foreachBatch retry of batch N
        # re-merges against N-1 and every commit below overwrites its
        # own version idempotently
        if batch_id == 0:
            base = None
        elif self._base.has_version(batch_id - 1):
            base = batch_id - 1
        else:
            raise RuntimeError(
                f"replayed batch {batch_id} but version "
                f"v{batch_id - 1} is missing; retained: "
                f"{self._base.versions()}"
            )
        if self._fold_on_driver(batch_df, batch_id, base):
            self._last_batch = batch_id
            return
        winners = self._winners(batch_df).persist()
        touched = self._base.touched_buckets(winners, "user_id")
        if base is None:
            old = self.spark.createDataFrame([], self._STATE_DDL)
        else:
            old = self._base.df_at(base, buckets=touched)
        j = old.join(winners, "user_id", "full")
        has_w = F.col("w_eid").isNotNull()
        has_o = F.col("event_id").isNotNull()
        newer = (F.col("w_ts") > F.col("ts")) | (
            (F.col("w_ts") == F.col("ts"))
            & (F.col("w_eid") > F.col("event_id"))
        )
        wins = has_w & (~has_o | newer)
        is_del = wins & F.coalesce("w_del", F.lit(False))
        old_visible = has_o & ~F.coalesce("deleted", F.lit(False))
        merged = j.select(
            "user_id",
            F.when(wins, F.col("w_ts")).otherwise(F.col("ts"))
            .alias("n_ts"),
            F.when(wins, F.col("w_eid")).otherwise(F.col("event_id"))
            .alias("n_eid"),
            F.when(wins, F.col("w_val")).otherwise(F.col("value"))
            .alias("n_val"),
            F.when(wins, F.col("w_type")).otherwise(F.col("event_type"))
            .alias("n_type"),
            F.when(wins, is_del)
            .otherwise(F.coalesce("deleted", F.lit(False)))
            .alias("n_del"),
            (wins & ~(is_del & ~old_visible)).alias("emit"),
            F.when(old_visible, F.col("value")).alias("log_old_value"),
            F.when(~is_del, F.col("w_val")).alias("log_new_value"),
            F.when(old_visible, F.col("event_id")).alias("log_old_eid"),
            F.when(~is_del, F.col("w_eid")).alias("log_new_eid"),
            F.when(old_visible, F.col("event_type")).alias("log_old_type"),
            F.when(~is_del, F.col("w_type")).alias("log_new_type"),
        ).cache()
        try:
            log_path = os.path.join(self.log_dir, f"batch-{batch_id:05d}")
            # the delta the views fold and the delta the log commits
            # are the SAME relation, derived once from the cached
            # `merged` (r13: the log write used to be a sequential
            # job wave followed by a read-back of the same bytes —
            # the folds now consume the in-memory twin while the log
            # write is staged concurrently below; the written log is
            # a deterministic projection of `merged`, so subscribers
            # read exactly what the views folded)
            delta = merged.where("emit").select(
                "user_id",
                F.col("log_old_value").alias("old_value"),
                F.col("log_new_value").alias("new_value"),
                F.col("log_old_eid").alias("old_event_id"),
                F.col("log_new_eid").alias("new_event_id"),
                F.col("log_old_type").alias("old_type"),
                F.col("log_new_type").alias("new_type"),
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
            tk_prev, sm_prev = self._prev_memberships(batch_id)
            t_agg, t_sup, t_idx, t_hx, extras = self._fold_touched(
                delta, tk_prev, sm_prev)
            base_new = merged.select(
                "user_id",
                F.col("n_ts").alias("ts"),
                F.col("n_eid").alias("event_id"),
                F.col("n_val").alias("value"),
                F.col("n_type").alias("event_type"),
                F.col("n_del").alias("deleted"),
            )
            # STAGE all five store writes AND the delta-log write
            # CONCURRENTLY — every fold consumes the cached `merged`,
            # so the Spark jobs overlap instead of queueing. The
            # crash-consistency contract lives in PUBLISH order alone
            # (state_store.stage docstring): orphaned tmp dirs are
            # invisible to every manifest; a crash can leave a log
            # dir for an uncommitted batch exactly as it could when
            # the log write ran first — the retry overwrites that
            # batch's own dir idempotently.
            from concurrent.futures import ThreadPoolExecutor

            stages = [
                (self._agg,
                 self._fold_agg(delta, base, t_agg), t_agg),
                (self._support,
                 self._fold_support(delta, base, t_sup), t_sup),
                (self._index,
                 self._fold_index(delta, base, t_idx), t_idx),
                (self._hashidx,
                 self._fold_hashidx(delta, base, t_hx), t_hx),
                (self._base, base_new, touched),
            ]
            with ThreadPoolExecutor(max_workers=6) as ex:
                futs = [ex.submit(st.stage, batch_id, df, tb)
                        for st, df, tb in stages]
                futs.append(ex.submit(
                    lambda: delta.write.mode("overwrite")
                    .parquet(log_path)))
                for f in futs:
                    f.result()
            # publish the view folds first (the top-k and cohort
            # refreshes read the PUBLISHED index stores at batch_id)
            self._agg.publish(batch_id, base, t_agg)
            self._support.publish(batch_id, base, t_sup)
            self._index.publish(batch_id, base, t_idx)
            self._hashidx.publish(batch_id, base, t_hx)
            self._refresh_memberships(batch_id, tk_prev, sm_prev,
                                      extras)
            # the BASE publication is the batch's COMMIT POINT and
            # runs LAST: `_batches` (derived from base versions) then
            # implies every view fold for that batch is durable — a
            # crash or live-worker stop mid-batch leaves the base at
            # N-1 and the retry re-runs the idempotent folds, so a
            # reader never sees a base version whose views are
            # missing (live-mode crash consistency; tested)
            self._base.publish(batch_id, base, touched)
        finally:
            merged.unpersist()
            winners.unpersist()
        self._last_batch = batch_id

    def _prev_memberships(self, batch_id: int):
        """The previous refresh memberships (top-k rows, cohort
        pairs), taken ONLY when both caches sit exactly at batch-1 (a
        retry or restart leaves them stale → extras stay off → the
        refreshes fall back to reading the durable indexes)."""
        if (self._topk_cache is not None
                and self._topk_cache[0] == batch_id - 1
                and self._sample_cache is not None
                and self._sample_cache[0] == batch_id - 1):
            return self._topk_cache[1], self._sample_cache[1]
        return None, None

    def _refresh_memberships(self, batch_id: int, tk_prev, sm_prev,
                             extras: dict | None,
                             on_driver: bool = False) -> None:
        """The two O(k) refreshes: incremental driver-side when the
        batch shipped provably-complete candidate sets (`extras`; no
        Spark job on the warm path), else read the DISJOINT published
        stores (range index / hash index) — with read_buckets for a
        batch folded on the driver, else as Spark reads run
        concurrently (guide §2.6)."""
        cur_tk = cur_sm = None
        if extras is not None:
            cur_tk = self._inc_topk(tk_prev, extras)
            cur_sm = self._inc_sample(sm_prev, extras)
        if on_driver:
            self._refresh_topk(batch_id, cur_tk, self._topk_read)
            self._refresh_sample(batch_id, cur_sm, self._sample_read)
        elif cur_tk is not None and cur_sm is not None:
            self._refresh_topk(batch_id, cur_tk)
            self._refresh_sample(batch_id, cur_sm)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as ex:
                f_topk = ex.submit(self._refresh_topk, batch_id, cur_tk)
                f_smpl = ex.submit(self._refresh_sample, batch_id, cur_sm)
                f_topk.result()
                f_smpl.result()

    # ---- driver-side fold of a batch below the gate ----
    def _fold_rows(self, batch_df: DataFrame,
                   base: int | None) -> DataFrame:
        """The rows of the fold's one Spark job: the batch's events
        and, with a previous version, every base row (`__old`), each
        with the values only Spark computes — the base, agg, support,
        range-index and hash-index buckets, md5 of the key, and the
        value as decimal(18,6) with NULL as 0 (the contributions'
        cast). The delete flag of an event is its `deleted`."""
        is_del = (
            (F.col("event_type") == F.lit(self.delete_on))
            if self.delete_on is not None else F.lit(False)
        )
        cols = ["user_id", "ts", "event_id", "value", "event_type"]
        rows = batch_df.select("after.*").select(
            *cols, F.coalesce(is_del, F.lit(False)).alias("deleted"),
            F.lit(False).alias("__old"))
        if base is not None:
            rows = rows.unionByName(self._base.df_at(base).select(
                *cols, "deleted", F.lit(True).alias("__old")))
        uid, etype, val = (F.col("user_id"), F.col("event_type"),
                           F.col("value"))
        return rows.select(
            "*",
            self._base.bucket_expr(uid).alias("__bb"),
            self._agg.bucket_expr(etype).alias("__ab"),
            self._support.bucket_expr(etype, val).alias("__sb"),
            self._index.bucket_expr(val).alias("__ib"),
            self._hashidx.bucket_expr(uid).alias("__hb"),
            F.md5(uid.cast("string")).alias("__h"),
            F.coalesce(val, F.lit(0.0)).cast(_DEC).alias("__dec"),
        )

    def _fold_on_driver(self, batch_df: DataFrame, batch_id: int,
                        base: int | None) -> bool:
        """Commit a batch whose raw rows, plus the base and view-store
        rows it reads, stay below changefeed._DRIVER_FOLD_ROWS, from
        ONE Spark job: `_fold_rows` collected as Arrow, limited to the
        gate (the base's rows are read only when its footer counts are
        below it). Winners, the LWW merge, the {old,new} delta and the
        four view folds run over pyarrow tables and commit in the
        executor path's order: the changelog and every staged store,
        then the view stores' publish(), the top-k and cohort logs
        (read_buckets, not Spark, when the incremental refresh falls
        back), and the base's publish() last. Returns False, having
        written nothing, when the batch is too large or has a NULL
        key."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from .statefs import STATE_FS

        gate = changefeed._DRIVER_FOLD_ROWS
        if base is not None and sum(
                self._base.bucket_counts(base).values()) >= gate:
            return False
        raw = self._fold_rows(batch_df, base).limit(gate).toArrow()
        # a NULL key never matches in the executor-side join; keep
        # that path's semantics rather than merging NULLs here
        if raw.num_rows >= gate or raw.column("user_id").null_count:
            return False
        raw = raw.combine_chunks()
        w = _last_per_user(raw.filter(pc.invert(raw["__old"])))
        touched = _ids(w["__bb"])
        old = raw.filter(raw["__old"])
        old = old.filter(pc.is_in(old["__bb"], value_set=pa.array(
            touched, old.schema.field("__bb").type)))
        base_rows, d = _lww_merge(w, old)
        has_old = pc.is_valid(d["old_event_id"])
        has_new = pc.is_valid(d["new_event_id"])
        t_agg = _ids(d["__oab"].filter(has_old), d["__nab"].filter(has_new))
        t_sup = _ids(d["__osb"].filter(has_old), d["__nsb"].filter(has_new))
        t_idx = _ids(d["__oib"].filter(has_old), d["__nib"].filter(has_new))
        t_hx = _ids(d["__hb"])
        views = ((self._agg, t_agg), (self._support, t_sup),
                 (self._index, t_idx), (self._hashidx, t_hx))
        if base is not None and raw.num_rows + sum(
                sum(st.bucket_counts(base, t).values())
                for st, t in views) >= gate:
            return False

        minus, plus = d.filter(has_old), d.filter(has_new)
        agg_work = pa.schema([("event_type", pa.string()),
                              ("cnt", pa.int64()),
                              ("sum_value", pa.decimal128(38, 6))])
        agg = _summed(
            _held(self._agg, base, t_agg, agg_work)
            + [_signed(minus, -1, {"event_type": "old_type",
                                   "sum_value": "__odec",
                                   "__b": "__oab"}),
               _signed(plus, 1, {"event_type": "new_type",
                                 "sum_value": "__ndec", "__b": "__nab"})],
            agg_work, ["event_type"])
        sup_schema = _pa_schema(self._SUPPORT_DDL)
        sup = _summed(
            _held(self._support, base, t_sup, sup_schema)
            + [_signed(minus, -1, {"event_type": "old_type",
                                   "value": "old_value",
                                   "__b": "__osb"}),
               _signed(plus, 1, {"event_type": "new_type",
                                 "value": "new_value", "__b": "__nsb"})],
            sup_schema, ["event_type", "value"])
        users = d["user_id"].combine_chunks()
        idx_schema = _pa_schema(self._INDEX_DDL)
        # a NULL value has no band: the executor path's stage drops it
        adds = plus.filter(pc.is_valid(plus["__nib"]))
        idx = _replaced(_held(self._index, base, t_idx, idx_schema), users,
                        pa.table({"user_id": adds["user_id"],
                                  "value": adds["new_value"],
                                  "event_id": adds["new_event_id"],
                                  "__b": adds["__nib"]}))
        hx_schema = _pa_schema("user_id long")
        hx = _replaced(_held(self._hashidx, base, t_hx, hx_schema), users,
                       pa.table({"user_id": plus["user_id"],
                                 "__b": plus["__hb"]}))
        tk_prev, sm_prev = self._prev_memberships(batch_id)
        extras = None
        if tk_prev is not None:
            extras = self._driver_extras(d, has_new, tk_prev, sm_prev)

        log_schema = _pa_schema(self._LOG_DDL)
        log = d.select(log_schema.names[:-1]).append_column(
            "batch_id", pa.repeat(pa.scalar(batch_id, pa.int64()),
                                  d.num_rows))
        STATE_FS.put_small_parquet_dir(
            log.cast(log_schema),
            os.path.join(self.log_dir, f"batch-{batch_id:05d}"))
        for store, rows, schema in (
                (self._agg, agg, _pa_schema(self._AGG_DDL)),
                (self._support, sup, sup_schema),
                (self._index, idx, idx_schema),
                (self._hashidx, hx, hx_schema),
                (self._base, base_rows, _pa_schema(self._STATE_DDL))):
            store.stage_tables(batch_id, _split(rows, schema))
        # the executor path's publish order: view stores, the two
        # refreshes (they read the published indexes), base LAST
        self._agg.publish(batch_id, base, t_agg)
        self._support.publish(batch_id, base, t_sup)
        self._index.publish(batch_id, base, t_idx)
        self._hashidx.publish(batch_id, base, t_hx)
        self._refresh_memberships(batch_id, tk_prev, sm_prev, extras,
                                  on_driver=True)
        self._base.publish(batch_id, base, touched)
        return True

    def _driver_extras(self, d, has_new, tk_prev: list,
                       sm_prev: list) -> dict:
        """_fold_touched's top-k and cohort candidate sets, computed
        from the fold's delta table `d`: the k best new-visible rows
        at or above the previous k-th (value DESC, event_id ASC), the
        k smallest (md5, user) at or below the previous k-th, and the
        delta users in either previous membership."""
        import pyarrow as pa
        import pyarrow.compute as pc

        k = self.k
        nv, ne = d["new_value"], d["new_event_id"]
        cond_tk = has_new
        if len(tk_prev) == k:
            kv, ke = tk_prev[-1][1], tk_prev[-1][2]
            if kv is None:
                above = pc.or_kleene(pc.is_valid(nv),
                                     pc.less_equal(ne, ke))
            else:
                above = pc.greater_equal(nv, float(kv))
            cond_tk = pc.and_(has_new, pc.fill_null(above, False))
        tk = pa.table({
            "s": pc.if_else(pc.is_valid(nv), pc.negate(nv),
                            float("inf")),
            "e": ne, "u": d["user_id"], "v": nv,
        }).filter(cond_tk).sort_by(
            [("s", "ascending"), ("e", "ascending"), ("u", "ascending")])
        cond_sm = has_new
        if len(sm_prev) == k:
            cond_sm = pc.and_(has_new, pc.fill_null(
                pc.less_equal(d["__h"], sm_prev[-1][0]), False))
        sm = pa.table({"h": d["__h"], "u": d["user_id"]}) \
            .filter(cond_sm) \
            .sort_by([("h", "ascending"), ("u", "ascending")])
        prev_users = ({r[0] for r in tk_prev}
                      | {p[1] for p in sm_prev})
        return {
            "tk_adds": tk.slice(0, k).to_pylist(),
            "sm_adds": sm.slice(0, k).to_pylist(),
            "pv_touch": set(d["user_id"].to_pylist()) & prev_users,
        }

    def _fold_touched(self, delta: DataFrame,
                      tk_prev: list | None = None,
                      sm_prev: list | None = None):
        """ONE job computes the touched-bucket sets of all FOUR
        view stores (agg, support, range index, hash index) — a
        single driver round trip per batch instead of one
        distinct+collect action per store.  Everything returned is
        O(buckets) small ints (collect_set drops the NULLs that
        invisible old/new sides produce).

        r13: when the previous batch's top-k membership (`tk_prev`,
        ordered rows) and cohort membership (`sm_prev`, ordered
        (hash, user) pairs) are known, the SAME job also ships the
        O(k) candidate sets the incremental refreshes need — the k
        best additions at or above the old k-th threshold
        (slice(sort_array(collect_list(...)), 1, k) keeps the driver
        transfer O(k) even on a pathological batch) and the delta
        users intersecting the previous memberships.  Returns
        (t_agg, t_sup, t_idx, t_hx, extras) with extras=None when
        the caches were cold."""
        has_old = F.col("old_event_id").isNotNull()
        has_new = F.col("new_event_id").isNotNull()

        def _side(expr, cond):
            return F.collect_set(F.when(cond, expr))

        aggs = [
            _side(self._agg.bucket_expr(F.col("old_type")), has_old)
            .alias("ao"),
            _side(self._agg.bucket_expr(F.col("new_type")), has_new)
            .alias("an"),
            _side(self._support.bucket_expr(
                F.col("old_type"), F.col("old_value")), has_old)
            .alias("so"),
            _side(self._support.bucket_expr(
                F.col("new_type"), F.col("new_value")), has_new)
            .alias("sn"),
            _side(self._index.bucket_expr(F.col("old_value")),
                  has_old).alias("io"),
            _side(self._index.bucket_expr(F.col("new_value")),
                  has_new).alias("in"),
            F.collect_set(self._hashidx.bucket_expr(F.col("user_id")))
            .alias("hx"),
        ]
        inc = tk_prev is not None and sm_prev is not None
        if inc:
            k = self.k
            # top-k candidate additions: new-visible rows ranked at
            # or above the previous k-th threshold (all additions
            # when the previous membership was shorter than k — the
            # state itself held < k rows, so it is complete)
            if len(tk_prev) == k:
                kv, ke = tk_prev[-1][1], tk_prev[-1][2]
                if kv is None:
                    cond_tk = has_new & (
                        F.col("new_value").isNotNull()
                        | (F.col("new_event_id") <= F.lit(ke)))
                else:
                    cond_tk = has_new & (F.col("new_value")
                                         >= F.lit(float(kv)))
            else:
                cond_tk = has_new
            nv_neg = F.when(F.col("new_value").isNotNull(),
                            -F.col("new_value")) \
                .otherwise(F.lit(float("inf")))
            aggs.append(F.slice(F.sort_array(F.collect_list(
                F.when(cond_tk, F.struct(
                    nv_neg.alias("s"),
                    F.col("new_event_id").alias("e"),
                    F.col("user_id").alias("u"),
                    F.col("new_value").alias("v"))))),
                1, k).alias("tk_adds"))
            # cohort candidate additions: visible users hashing at
            # or below the previous k-th hash
            h = F.md5(F.col("user_id").cast("string"))
            if len(sm_prev) == k:
                cond_sm = has_new & (h <= F.lit(sm_prev[-1][0]))
            else:
                cond_sm = has_new
            aggs.append(F.slice(F.sort_array(F.collect_list(
                F.when(cond_sm, F.struct(
                    h.alias("h"),
                    F.col("user_id").alias("u"))))),
                1, k).alias("sm_adds"))
            prev_users = sorted(
                {r[0] for r in tk_prev} | {p[1] for p in sm_prev})
            if prev_users:
                aggs.append(F.collect_set(
                    F.when(F.col("user_id").isin(prev_users),
                           F.col("user_id"))).alias("pv"))
        row = delta.agg(*aggs).collect()[0]
        extras = None
        if inc:
            extras = {
                "tk_adds": row["tk_adds"],
                "sm_adds": row["sm_adds"],
                "pv_touch": set(row["pv"]) if prev_users else set(),
            }
        return (
            sorted(set(row["ao"]) | set(row["an"])),
            sorted(set(row["so"]) | set(row["sn"])),
            sorted(set(row["io"]) | set(row["in"])),
            sorted(row["hx"]),
            extras,
        )

    def _inc_topk(self, prev_rows: list, extras: dict) -> list | None:
        """O(k) driver-side incremental top-k refresh.  The new
        top-k is provably contained in C = (previous members not
        touched by the delta) ∪ (the batch's best k additions at or
        above the old threshold): every row hidden from both sets
        belonged to the index at batch-1, missed the previous top-k,
        and was untouched — so it ranks strictly below the previous
        k-th row.  If the k-th best of C still ranks at or above the
        previous k-th, no hidden row can enter and top-k(C) is the
        exact answer; otherwise (members were deleted/demoted and
        the additions did not compensate — the runner-up problem)
        return None and let the caller fall back to the index read.
        When the previous membership held fewer than k rows it WAS
        the whole visible state, so C is complete unconditionally."""
        touched = extras["pv_touch"]

        def key(v, e):
            return (1, 0.0, e) if v is None else (0, -v, e)

        cand = [r for r in prev_rows if r[0] not in touched]
        cand += [(a["u"], a["v"], a["e"]) for a in extras["tk_adds"]]
        cand.sort(key=lambda r: key(r[1], r[2]))
        if len(prev_rows) == self.k:
            if len(cand) < self.k:
                return None
            kth = cand[self.k - 1]
            if key(kth[1], kth[2]) > key(prev_rows[-1][1],
                                         prev_rows[-1][2]):
                return None
        return cand[:self.k]

    def _inc_sample(self, prev_pairs: list,
                    extras: dict) -> list | None:
        """The ascending-(hash, user) twin of _inc_topk for the
        holdout cohort; same containment argument, same fallback
        contract."""
        touched = extras["pv_touch"]
        cand = [p for p in prev_pairs if p[1] not in touched]
        cand += [(a["h"], a["u"]) for a in extras["sm_adds"]]
        cand.sort()
        if len(prev_pairs) == self.k:
            if len(cand) < self.k:
                return None
            if cand[self.k - 1] > prev_pairs[-1]:
                return None
        return cand[:self.k]

    # ---- view folds (delta-only; no base-table re-read) ----
    @staticmethod
    def _contributions(delta: DataFrame, group_cols: list[str],
                       old_side: list, new_side: list) -> DataFrame:
        """Retraction algebra: -1/-old for the visible old row,
        +1/+new for the visible new row, returned as RAW ± rows —
        the caller unions them with the old store slice and folds
        EVERYTHING in one grouped sum (r13: the pre-aggregation here
        paid its own exchange before the fold's; map-side partial
        aggregation already combines the ± rows before the single
        remaining shuffle, so the shuffled bytes are unchanged).
        `group_cols` kept for signature clarity (the caller groups
        on them)."""
        del group_cols  # grouping happens in the caller's fold
        minus = delta.where(F.col("old_event_id").isNotNull()).select(
            *old_side,
            F.lit(-1).alias("d_cnt"),
            (-F.coalesce(F.col("old_value"), F.lit(0.0))).cast(_DEC)
            .alias("d_sum"),
        )
        plus = delta.where(F.col("new_event_id").isNotNull()).select(
            *new_side,
            F.lit(1).alias("d_cnt"),
            F.coalesce(F.col("new_value"), F.lit(0.0)).cast(_DEC)
            .alias("d_sum"),
        )
        return minus.unionByName(plus)

    def _fold_agg(self, delta: DataFrame,
                  base: int | None, touched: list[int]) -> DataFrame:
        """BUILD the agg view's new touched-bucket contents (the
        write itself is staged concurrently with the other folds by
        _merge_batch)."""
        contrib = self._contributions(
            delta, ["event_type"],
            [F.col("old_type").alias("event_type")],
            [F.col("new_type").alias("event_type")],
        )
        if base is None:
            old = self.spark.createDataFrame([], self._AGG_DDL)
        else:
            old = self._agg.df_at(base, buckets=touched)
        # union + grouped sum instead of a full outer join (r13,
        # guide §2.2): a group appears in old, contrib, or both, and
        # the summed fold equals the coalesced join fold exactly —
        # without the join's paired exchanges and sorts
        return (
            old.unionByName(contrib.select(
                "event_type",
                F.col("d_cnt").alias("cnt"),
                F.col("d_sum").alias("sum_value")))
            .groupBy("event_type")
            .agg(F.sum("cnt").alias("cnt"),
                 F.sum("sum_value").cast(_DEC).alias("sum_value"))
            .where(F.col("cnt") > 0)
        )

    def _fold_support(self, delta: DataFrame,
                      base: int | None,
                      touched: list[int]) -> DataFrame:
        contrib = self._contributions(
            delta, ["event_type", "value"],
            [F.col("old_type").alias("event_type"),
             F.col("old_value").alias("value")],
            [F.col("new_type").alias("event_type"),
             F.col("new_value").alias("value")],
        )
        if base is None:
            old = self.spark.createDataFrame([], self._SUPPORT_DDL)
        else:
            old = self._support.df_at(base, buckets=touched)
        # union + grouped sum for the same reason as _fold_agg
        return (
            old.unionByName(contrib.select(
                "event_type", "value",
                F.col("d_cnt").alias("cnt")))
            .groupBy("event_type", "value")
            .agg(F.sum("cnt").alias("cnt"))
            .where(F.col("cnt") > 0)
        )

    def _fold_index(self, delta: DataFrame,
                    base: int | None,
                    touched: list[int]) -> DataFrame:
        """Range-index maintenance from the delta alone: the user's
        old row leaves its value band, the new row enters its band;
        only bands whose values appear in the delta are rewritten."""
        if base is None:
            old = self.spark.createDataFrame([], self._INDEX_DDL)
        else:
            old = self._index.df_at(base, buckets=touched)
        removals = delta.select("user_id")
        additions = delta.where(F.col("new_event_id").isNotNull()) \
            .select("user_id",
                    F.col("new_value").alias("value"),
                    F.col("new_event_id").alias("event_id"))
        return (
            old.join(removals, "user_id", "anti")
            .unionByName(additions)
        )

    def _topk_at(self, batch_id: int) -> list[tuple]:
        """The k best visible rows as of `batch_id`, served from the
        RANGE INDEX: read descending value bands, widening the band
        window until it holds >= k rows (every unread band is
        strictly worse than everything already read).  At 100 TB
        each read touches O(k + band) rows instead of scanning the
        whole state; the TakeOrdered-over-full-state equivalent is
        what an index-less engine would do (equivalence pinned by
        tests/test_views.py::test_range_index_equals_base_state_rows
        plus the trajectory oracle)."""
        # band selection from parquet footers (bucket_counts): the
        # minimal suffix of POPULATED descending bands holding >= k
        # rows, read in ONE Spark job. The r12 widening loop re-read
        # bands [lo..top] one extra Spark job per step — and with the
        # fixture's values concentrated in the low bands, every
        # refresh walked 4-6 empty/thin bands first (r13, guide §1.2:
        # per-job scheduling dominated the O(k) read).  Row windows
        # are equivalent: every unread band is strictly worse than
        # everything read, so top-k of the selected bands is top-k of
        # the whole state.
        sel = _populated_window(self._index.bucket_counts(batch_id),
                                self.k, descending=True)
        if not sel:
            return []
        rows = (
            self._index.df_at(batch_id, buckets=sel)
            .orderBy(F.col("value").desc_nulls_last(),
                     F.col("event_id").asc())
            .limit(self.k)
            .select("user_id", "value", "event_id")
            .collect()
        )
        return [(r["user_id"], r["value"], r["event_id"]) for r in rows]

    def _fold_hashidx(self, delta: DataFrame,
                      base: int | None,
                      touched: list[int]) -> DataFrame:
        """Hash-ordered key index from the delta alone: a key is
        present iff its row is visible. Only buckets whose keys
        appear in the delta are rewritten; the touched-bucket set
        arrives from the fused _fold_touched job (no per-store
        distinct+collect round trip)."""
        keys = delta.select("user_id")
        if base is None:
            old = self.spark.createDataFrame([], "user_id long")
        else:
            old = self._hashidx.df_at(base, buckets=touched)
        additions = delta.where(
            F.col("new_event_id").isNotNull()).select("user_id")
        return old.join(keys, "user_id", "anti") \
            .unionByName(additions)

    def _refresh_topk(self, batch_id: int, cur: list | None = None,
                      topk_at=None) -> None:
        """Emit this batch's enter/leave/update deltas to the durable
        top-k log (parquet, one file per batch, OVERWRITTEN on a
        retry — idempotent).  The previous membership comes from the
        in-memory cache when warm, else is recomputed from the
        durable index at batch-1 (restart/retry path) — never
        trusted from mutable runner state.

        DELIBERATE DEVIATION from RethinkDB include_offsets: offsets
        are emitted only ON enter/update/leave rows. A member whose
        position shifts purely because another member entered or left
        above it produces NO change event here (RethinkDB emits a
        position-only move row with old_val == new_val). The graded
        oracle (changefeed_topk_offsets) encodes this contract; a
        consumer needing full positional fidelity can reconstruct
        every position from the emitted offsets because the lists are
        totally ordered (value DESC, event_id ASC) and enter/leave
        rows carry the insertion/removal points.

        `cur`: membership already computed incrementally on the
        driver (_inc_topk — O(k), no Spark job); None reads the
        durable index with `topk_at` (default _topk_at)."""
        topk_at = topk_at or self._topk_at
        if cur is None:
            cur = topk_at(batch_id)
        if (self._topk_cache is not None
                and self._topk_cache[0] == batch_id - 1):
            prev_rows = self._topk_cache[1]
        elif batch_id > 0:
            prev_rows = topk_at(batch_id - 1)
        else:
            prev_rows = []
        prev = {u: (v, e) for u, v, e in prev_rows}
        # RethinkDB include_offsets: a change carries the document's
        # 0-based position in the ordered result before (old_offset)
        # and after (new_offset) the change — both lists are already
        # ordered (value DESC, event_id ASC), so positions are the
        # list indices; O(k) driver work, same as the diff itself.
        prev_off = {u: i for i, (u, _v, _e) in enumerate(prev_rows)}
        cur_off = {u: i for i, (u, _v, _e) in enumerate(cur)}
        out: list[tuple] = []
        seen = set()
        for u, v, e in cur:
            seen.add(u)
            if u not in prev:
                out.append((batch_id, u, "enter",
                            None, cur_off[u], None, v))
            elif prev[u][1] != e:
                out.append((batch_id, u, "update",
                            prev_off[u], cur_off[u], prev[u][0], v))
        for u, (v, e) in prev.items():
            if u not in seen:
                out.append((batch_id, u, "leave",
                            prev_off[u], None, v, None))
        _tiny_write(out, self._TOPK_DDL,
                    os.path.join(self.topk_dir, f"batch-{batch_id:05d}"))
        self._topk_cache = (batch_id, cur)

    # ---- run ----
    def _refresh_sample(self, batch_id: int,
                        cur_pairs: list | None = None,
                        sample_at=None) -> None:
        """Maintained HOLDOUT COHORT — the k visible users smallest
        by md5(user_id): a deterministic uniform key sample that is
        STABLE under churn (a member's row updates never move it;
        membership changes only when a member is deleted or a
        smaller-hash user appears), which is exactly the stable
        A/B-holdout contract.  Same durable per-batch parquet log
        and O(k) driver shape as the top-k view.

        `cur_pairs`: ordered (hash, user) membership already computed
        incrementally on the driver (_inc_sample); None reads the
        durable hash index with `sample_at` (default _sample_at).
        The cache holds the ordered pairs (the k-th hash is the next
        batch's incremental threshold)."""
        sample_at = sample_at or self._sample_at
        if cur_pairs is None:
            cur_pairs = [(r["h"], r["user_id"])
                         for r in sample_at(batch_id)]
        cur = {u for _h, u in cur_pairs}
        if (self._sample_cache is not None
                and self._sample_cache[0] == batch_id - 1):
            prev = {u for _h, u in self._sample_cache[1]}
        elif batch_id > 0:
            prev = {r["user_id"] for r in sample_at(batch_id - 1)}
        else:
            prev = set()
        out = [(batch_id, u, "enter") for u in sorted(cur - prev)]
        out += [(batch_id, u, "leave") for u in sorted(prev - cur)]
        _tiny_write(out, "batch_id long, user_id long, change string",
                    os.path.join(self.sample_dir,
                                 f"batch-{batch_id:05d}"))
        self._sample_cache = (batch_id, cur_pairs)

    def _sample_at(self, batch_id: int) -> list:
        """The k smallest-by-hash visible keys, read from the
        HASH-ORDERED index: ascending hash buckets, widened until
        they hold >= k keys — every unread bucket is strictly larger
        in hash order, so the read touches O(k + bucket) keys (the
        cohort twin of the top-k band read)."""
        # minimal PREFIX of populated ascending hash buckets holding
        # >= k keys, selected from parquet footers and read in ONE
        # Spark job (the ascending twin of the _topk_at band pick;
        # every unread bucket is strictly larger in hash order).
        sel = _populated_window(self._hashidx.bucket_counts(batch_id),
                                self.k)
        if not sel:
            return []
        return (
            self._hashidx.df_at(batch_id, buckets=sel)
            .select("user_id",
                    F.md5(F.col("user_id").cast("string"))
                    .alias("h"))
            .orderBy("h", "user_id")
            .limit(self.k)
            .collect()
        )

    def _topk_read(self, batch_id: int) -> list[tuple]:
        """_topk_at for a batch folded on the driver: the same band
        pick, read with read_buckets and ordered with pyarrow — no
        Spark job."""
        import pyarrow as pa
        import pyarrow.compute as pc

        sel = _populated_window(self._index.bucket_counts(batch_id),
                                self.k, descending=True)
        if not sel:
            return []
        schema = _pa_schema(self._INDEX_DDL)
        t = pa.concat_tables(
            r.select(schema.names).cast(schema)
            for r in self._index.read_buckets(batch_id, sel).values())
        t = t.take(pc.sort_indices(
            t, sort_keys=[("value", "descending"),
                          ("event_id", "ascending")],
            null_placement="at_end")).slice(0, self.k)
        return list(zip(t["user_id"].to_pylist(),
                        t["value"].to_pylist(),
                        t["event_id"].to_pylist()))

    def _sample_read(self, batch_id: int) -> list[dict]:
        """_sample_at for a batch folded on the driver: the same
        bucket pick, read with read_buckets, ordered by md5 of the
        key's decimal text (Spark's md5(cast(user_id as string))) —
        no Spark job."""
        import hashlib

        sel = _populated_window(self._hashidx.bucket_counts(batch_id),
                                self.k)
        users = [u for r in self._hashidx.read_buckets(batch_id,
                                                       sel).values()
                 for u in r.column("user_id").to_pylist()]
        pairs = sorted((hashlib.md5(str(u).encode()).hexdigest(), u)
                       for u in users)
        return [{"h": h, "user_id": u} for h, u in pairs[:self.k]]

    def sample_log(self) -> DataFrame:
        ddl = "batch_id long, user_id long, change string"
        if not _has_parquet(self.sample_dir):
            return self.spark.createDataFrame([], ddl)
        return (
            self.spark.read.schema(ddl)
            .option("recursiveFileLookup", "true")
            .parquet(self.sample_dir)
        )

    def run(self, n_chunks: int | None = None) -> None:
        guard_not_live_fed(self.root)
        chunks = build_replay_chunks(self.spark, self.sf_dir, n_chunks)
        env = cdc_envelope(read_events_stream(self.spark, chunks))
        with streaming_shuffle(self.spark):
            q = (
                env.writeStream.foreachBatch(self._merge_batch)
                .outputMode("update")
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .queryName(fresh_sink_name("viewsfeed"))
                .start()
            )
            q.awaitTermination()

    def run_from_stream(self, env_source: DataFrame) -> None:
        """Run the same merge+folds over ANY streaming DataFrame of
        event rows (event_id, ts, user_id, event_type, value, props)
        — the composition seam that lets the network-shaped tail
        source (queries/scans.py TailStreamSource) feed the
        maintained views end to end: wire bytes -> Arrow-parsed
        micro-batches -> CDC envelope -> IVM folds."""
        guard_not_live_fed(self.root)
        env = cdc_envelope(env_source)
        with streaming_shuffle(self.spark):
            q = (
                env.writeStream.foreachBatch(self._merge_batch)
                .outputMode("update")
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .queryName(fresh_sink_name("viewswire"))
                .start()
            )
            q.awaitTermination()

    def start_live(self, source_dir: str | None = None) -> str:
        """Continuous maintenance mode: every view (agg, support, range
        index, top-k log) keeps updating as change files arrive, until
        stop_live(). Each `live-<seq>.parquet` commits as batch seq
        through the same merge+fold as a replay (replay.LiveWorker),
        from the batch after the newest base version. Returns the live
        source dir (drop change files in via ingest())."""
        return self._live.start(
            source_dir or scratch_dir(prefix="dbrcf-views-live-"))

    ingest = changefeed.ChangefeedRunner.ingest
    drain = changefeed.ChangefeedRunner.drain
    stop_live = changefeed.ChangefeedRunner.stop_live

    def vacuum(self, keep_last: int = 2) -> dict:
        """Retention for the view stores (the state half of what
        retention_queries.retention_gc does for the log): keep the
        newest `keep_last` versions of every store, drop the rest —
        manifest deletion plus orphaned bucket dirs, no data
        rewrite.  Trajectory reads past the horizon then fail
        loudly (manifest gone), the same AS-OF-retention contract
        as ChangefeedRunner.compact.  Returns {store: removed}."""
        out = {}
        for name in ("_base", "_agg", "_support", "_index",
                     "_hashidx"):
            store = getattr(self, name)
            versions = store.versions()
            keep = set(versions[-keep_last:])
            out[name] = store.gc(keep)
        return out

    # ---- view reads (trajectory = every committed version) ----
    def agg_trajectory(self) -> DataFrame:
        parts = [
            self._agg.df_at(b).select(
                F.lit(b).alias("batch_id"), "event_type", "cnt",
                F.col("sum_value").cast("double").alias("sum_value"))
            for b in self._batches
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def minmax_trajectory(self) -> DataFrame:
        parts = [
            self._support.df_at(b).groupBy("event_type").agg(
                F.sum("cnt").alias("n"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            ).select(F.lit(b).alias("batch_id"), "event_type", "n",
                     "min_value", "max_value")
            for b in self._batches
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def index_range_trajectory(self, lo: float, hi: float) -> DataFrame:
        parts = [
            self._index.between(b, lo, hi).select(
                F.lit(b).alias("batch_id"), "user_id", "value",
                "event_id")
            for b in self._batches
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def topk_log(self) -> DataFrame:
        if not _has_parquet(self.topk_dir):
            return self.spark.createDataFrame([], self._TOPK_DDL)
        return (
            self.spark.read.schema(self._TOPK_DDL)
            .option("recursiveFileLookup", "true")
            .parquet(self.topk_dir)
        )

    def delta_log(self) -> DataFrame:
        if not _has_parquet(self.log_dir):
            return self.spark.createDataFrame([], self._LOG_DDL)
        return (
            self.spark.read.schema(self._LOG_DDL)
            .option("recursiveFileLookup", "true")
            .parquet(self.log_dir)
        )


class DeltaJoinViewRunner:
    """Bilinear delta-join view maintenance — the differential-
    dataflow / Materialize core shape: V = A join B where BOTH sides
    mutate, maintained per micro-batch as

        dV(users) = (A' join B') restricted to keys touched by
                    dA or dB,

    i.e. only rows whose key saw a change on EITHER side are
    recomputed; history is never re-joined.  A and B here are two
    LWW sub-views of the same CDC stream (latest 'purchase' and
    latest 'click' per user), each in its own BucketedMvccState
    keyed on user_id with the SAME bucket function — so the
    delta-vs-state reads are bucket-aligned: at 100 TB the join of
    touched keys runs bucket-by-bucket against pruned state reads,
    and the V commit rewrites only those buckets.

    A cascade view (count/sum of purchase value per click-value
    band) is maintained ON TOP of V's own {old,new} delta stream
    with the same retraction algebra — view-on-view chaining, each
    stage seeing only the previous stage's deltas."""

    _SIDE_DDL = "user_id long, ts timestamp, event_id long, value double"
    _V_DDL = ("user_id long, purchase_value double, "
              "purchase_event_id long, click_value double, "
              "click_event_id long")
    _G_DDL = "band long, cnt long, sum_purchase decimal(18,6)"

    def __init__(self, spark: SparkSession, sf_dir: str,
                 a_type: str = "purchase", b_type: str = "click",
                 root: str | None = None, how: str = "inner"):
        """`root`: a previous runner's root RESTARTS from its durable
        stores + checkpoint (same contract as
        MaintainedViewsRunner).
        `how`: "inner" or "left" — the LEFT-OUTER view preserves
        every A-side key and null-extends the B columns; the
        touched-key recompute handles the outer semantics for free
        (a B-side arrival RETRACTS the null-extended row and applies
        the matched one — the dV covers both forms because the key
        is in dB).  The cascade stage runs only on the inner form
        (its band function reads the B value)."""
        if how not in ("inner", "left", "full"):
            raise ValueError(
                f"how must be inner|left|full, got {how!r}")
        self.spark = spark
        self.sf_dir = sf_dir
        self.a_type = a_type
        self.b_type = b_type
        self.how = how
        self.root = root or scratch_dir(prefix="dbrcf-deltajoin-")
        self.ckpt = os.path.join(self.root, "checkpoint")
        self._a = BucketedMvccState(
            spark, os.path.join(self.root, "sideA"),
            self._SIDE_DDL, "user_id")
        self._b = BucketedMvccState(
            spark, os.path.join(self.root, "sideB"),
            self._SIDE_DDL, "user_id")
        self._v = BucketedMvccState(
            spark, os.path.join(self.root, "view"),
            self._V_DDL, "user_id")
        self._g = BucketedMvccState(
            spark, os.path.join(self.root, "cascade"),
            self._G_DDL, "band", n_buckets=4)

    @property
    def _batches(self) -> list[int]:
        """Committed batch ids from the durable view-store manifests
        — survives restart, immune to retry double-count."""
        return self._v.versions()

    def _side_winners(self, batch_df: DataFrame,
                      etype: str) -> DataFrame:
        return (
            batch_df.select("after.user_id", "after.ts",
                            "after.event_id", "after.value",
                            "after.event_type")
            .where(F.col("event_type") == F.lit(etype))
            .groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
            .select("user_id",
                    F.col("m.ts").alias("w_ts"),
                    F.col("m.event_id").alias("w_eid"),
                    F.col("m.value").alias("w_val"))
        )

    def _merge_side(self, store: BucketedMvccState,
                    winners: DataFrame, batch_id: int,
                    base: int | None) -> DataFrame:
        """LWW-merge one side and return the CHANGED KEYS (the side's
        delta key set) — O(|batch keys|) rows, executor-side."""
        touched = store.touched_buckets(winners, "user_id")
        if base is None:
            old = self.spark.createDataFrame([], self._SIDE_DDL)
        else:
            old = store.df_at(base, buckets=touched)
        j = old.join(winners, "user_id", "full")
        has_w = F.col("w_eid").isNotNull()
        has_o = F.col("event_id").isNotNull()
        newer = (F.col("w_ts") > F.col("ts")) | (
            (F.col("w_ts") == F.col("ts"))
            & (F.col("w_eid") > F.col("event_id"))
        )
        wins = has_w & (~has_o | newer)
        merged = j.select(
            "user_id",
            F.when(wins, F.col("w_ts")).otherwise(F.col("ts"))
            .alias("n_ts"),
            F.when(wins, F.col("w_eid")).otherwise(F.col("event_id"))
            .alias("n_eid"),
            F.when(wins, F.col("w_val")).otherwise(F.col("value"))
            .alias("n_val"),
            wins.alias("changed"),
        ).cache()
        try:
            store.commit(
                batch_id, base,
                merged.select(
                    "user_id",
                    F.col("n_ts").alias("ts"),
                    F.col("n_eid").alias("event_id"),
                    F.col("n_val").alias("value"),
                ),
                touched,
            )
            changed = merged.where("changed").select("user_id")
            changed = changed.persist()
            changed.count()  # materialize before merged unpersists
        finally:
            merged.unpersist()
        return changed

    @staticmethod
    def _band(col):
        return F.floor(F.coalesce(col, F.lit(0.0)) / F.lit(25.0)) \
                .cast("long")

    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        base = batch_id - 1 if batch_id > 0 else None
        if base is not None and not self._v.has_version(base):
            raise RuntimeError(
                f"replayed batch {batch_id} but view version v{base} "
                f"is missing; retained: {self._v.versions()}")
        # the two side merges touch disjoint stores and derive from
        # the same batch frame — run them CONCURRENTLY (each is a
        # touched-collect + staged write + changed-count sequence;
        # overlapping them halves the per-batch side-merge wall time)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            fa = ex.submit(
                self._merge_side, self._a,
                self._side_winners(batch_df, self.a_type),
                batch_id, base)
            fb = ex.submit(
                self._merge_side, self._b,
                self._side_winners(batch_df, self.b_type),
                batch_id, base)
            da, db = fa.result(), fb.result()
        try:
            touched_keys = da.union(db).distinct().persist()
            v_touched = self._v.touched_buckets(touched_keys, "user_id")
            # bucket-aligned pruned reads: only the buckets the delta
            # keys hash into, on all three stores (same key, same B)
            a_new = self._a.df_at(batch_id, buckets=v_touched)
            b_new = self._b.df_at(batch_id, buckets=v_touched)
            a_rows = a_new.select(
                "user_id",
                F.col("value").alias("purchase_value"),
                F.col("event_id").alias("purchase_event_id"))
            b_rows = b_new.select(
                "user_id",
                F.col("value").alias("click_value"),
                F.col("event_id").alias("click_event_id"))
            if self.how == "full":
                # both sides preserved; restrict to touched keys
                # (semi) since the pruned reads may carry co-bucketed
                # untouched keys that must not be rewritten as
                # one-sided rows
                new_rows = (
                    a_rows.join(b_rows, "user_id", "full")
                    .join(touched_keys, "user_id", "semi")
                )
            else:
                new_rows = (
                    touched_keys.join(a_rows, "user_id")
                    .join(b_rows, "user_id", self.how)
                )
            if base is None:
                v_old = self.spark.createDataFrame([], self._V_DDL)
            else:
                v_old = self._v.df_at(base, buckets=v_touched)
            old_rows = v_old.join(touched_keys, "user_id", "semi")
            # dV = retract old_rows, apply new_rows (keys not in
            # new_rows simply disappear — a side lost its row)
            keep = v_old.join(touched_keys, "user_id", "anti")
            # ---- cascade fold: the agg view sees ONLY dV ----
            if self.how != "inner":  # cascade reads the B value
                self._v.commit(batch_id, base,
                               keep.unionByName(new_rows), v_touched)
                touched_keys.unpersist()
                return
            minus = old_rows.select(
                self._band(F.col("click_value")).alias("band"),
                F.lit(-1).alias("d_cnt"),
                (-F.coalesce(F.col("purchase_value"), F.lit(0.0)))
                .cast(_DEC).alias("d_sum"))
            plus = new_rows.select(
                self._band(F.col("click_value")).alias("band"),
                F.lit(1).alias("d_cnt"),
                F.coalesce(F.col("purchase_value"), F.lit(0.0))
                .cast(_DEC).alias("d_sum"))
            contrib = (
                minus.unionByName(plus).groupBy("band")
                .agg(F.sum("d_cnt").alias("d_cnt"),
                     F.sum("d_sum").cast(_DEC).alias("d_sum"))
                .persist()
            )
            g_touched = self._g.touched_buckets(contrib, "band")
            if base is None:
                g_old = self.spark.createDataFrame([], self._G_DDL)
            else:
                g_old = self._g.df_at(base, buckets=g_touched)
            # union + grouped sum (the _fold_agg rewrite, same
            # exact-equivalence argument) instead of a full join
            g_new = (
                g_old.unionByName(contrib.select(
                    "band",
                    F.col("d_cnt").alias("cnt"),
                    F.col("d_sum").alias("sum_purchase")))
                .groupBy("band")
                .agg(F.sum("cnt").alias("cnt"),
                     F.sum("sum_purchase").cast(_DEC)
                     .alias("sum_purchase"))
                .where(F.col("cnt") > 0)
            )
            # stage the cascade and view writes concurrently; the
            # VIEW publication is the batch's commit point and runs
            # LAST (same contract as MaintainedViewsRunner): _batches
            # derives from _v versions, so a version listed there
            # always has its cascade fold durable
            try:
                v_new = keep.unionByName(new_rows)
                with ThreadPoolExecutor(max_workers=2) as ex:
                    fg = ex.submit(self._g.stage, batch_id, g_new,
                                   g_touched)
                    fv = ex.submit(self._v.stage, batch_id, v_new,
                                   v_touched)
                    fg.result(), fv.result()
                self._g.publish(batch_id, base, g_touched)
                self._v.publish(batch_id, base, v_touched)
            finally:
                contrib.unpersist()
            touched_keys.unpersist()
        finally:
            da.unpersist()
            db.unpersist()

    def run(self, n_chunks: int | None = None) -> None:
        chunks = build_replay_chunks(self.spark, self.sf_dir, n_chunks)
        env = cdc_envelope(read_events_stream(self.spark, chunks))
        with streaming_shuffle(self.spark):
            q = (
                env.writeStream.foreachBatch(self._merge_batch)
                .outputMode("update")
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .queryName(fresh_sink_name("deltajoin"))
                .start()
            )
            q.awaitTermination()

    def join_trajectory(self) -> DataFrame:
        parts = [
            self._v.df_at(b).select(F.lit(b).alias("batch_id"), "*")
            for b in self._batches
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def cascade_trajectory(self) -> DataFrame:
        parts = [
            self._g.df_at(b).select(
                F.lit(b).alias("batch_id"), "band", "cnt",
                F.col("sum_purchase").cast("double")
                .alias("sum_purchase"))
            for b in self._batches
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


class ConsumerGroupDispatcher:
    """Hash-partitioned consumer-group delivery over a delta feed —
    the Kafka-consumer-group / CockroachDB-changefeed-sink contract:
    N consumers each own a disjoint key slice (owner = user_id mod N),
    every delta row is delivered to EXACTLY the consumer owning its
    key at that batch, and a mid-stream REBALANCE (N changes) moves
    ownership at a batch boundary without dropping or duplicating a
    single delta.

    Routing is executor-side: each micro-batch's delta parquet is
    written out partitioned by (batch_id, consumer_id), so at 100 TB
    the fan-out is a partitioned write (one shuffle-free pass over
    the delta — the owner column is a projection), and each consumer
    tails exactly its own directory tree.  Nothing row-sized ever
    crosses the driver."""

    def __init__(self, runner: MaintainedViewsRunner,
                 n_before: int = 2, n_after: int = 3,
                 rebalance_at: int | None = None,
                 members_before: list[str] | None = None,
                 members_after: list[str] | None = None,
                 subdir: str = "delivery"):
        self.runner = runner
        self.n_before = n_before
        self.n_after = n_after
        self.rebalance_at = rebalance_at
        self.members_before = members_before
        self.members_after = members_after
        self.delivery = os.path.join(runner.root, subdir)
        self._dispatched = False

    @staticmethod
    def rendezvous_owner(members: list[str]):
        """STICKY (rendezvous / highest-random-weight) ownership: the
        owner of a key is the member maximizing md5(member '#' key).
        Membership changes move ONLY the keys whose argmax changes —
        an expected |changed|/|members| fraction — instead of the
        near-total reshuffle `key mod N` causes, which is why every
        production consumer-group / shard-map protocol (Kafka sticky
        assignor, Ceph CRUSH, Maglev) uses an HRW/consistent scheme.
        Pure projection (greatest over |members| md5 structs):
        executor-side, no shuffle, no driver state."""
        if not members:
            raise ValueError("rendezvous_owner: empty member list")
        if len(members) == 1:
            # F.greatest requires >= 2 arguments; one member owns all
            return F.lit(members[0])
        return F.greatest(*[
            F.struct(
                F.md5(F.concat(F.lit(m), F.lit("#"),
                               F.col("user_id").cast("string")))
                .alias("h"),
                F.lit(m).alias("m"),
            )
            for m in members
        ])["m"]

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.delivery,
                            f"_DISPATCHED-{batch_id:05d}")

    def _log_batches(self) -> list[int]:
        """Batches to deliver, enumerated from the DURABLE delta log
        (batch-* dirs), not from runner._batches: the latter shrinks
        to keep_last after runner.vacuum() while the log files — the
        thing actually dispatched — remain, and a fresh dispatcher on
        a vacuumed runner must still deliver every logged batch."""
        return sorted(
            int(d.split("-", 1)[1])
            for d in os.listdir(self.runner.log_dir)
            if d.startswith("batch-")
        )

    def dispatch(self) -> None:
        """Idempotent across dispatcher INSTANCES, not just calls.
        The per-batch write is ITSELF idempotent — each batch lands
        in its own hive-style batch_id=N directory with
        mode('overwrite'), so a crash between the Spark write
        committing and the marker rename cannot duplicate rows: the
        restarted dispatcher simply overwrites that batch's own
        directory. The durable marker is only a skip optimization
        (at-least-once upstream composes to exactly-once delivery,
        same recipe as sink_idempotent_merge)."""
        if self._dispatched:
            return
        os.makedirs(self.delivery, exist_ok=True)
        batches = self._log_batches()
        reb = self.rebalance_at
        if reb is None:
            reb = max(1, len(batches) // 2)
        for b in batches:
            if os.path.exists(self._marker(b)):
                continue
            log_path = os.path.join(self.runner.log_dir,
                                    f"batch-{b:05d}")
            df = self.runner.spark.read.schema(
                self.runner._LOG_DDL).parquet(log_path)
            if self.members_before is not None:
                members = (self.members_before if b < reb
                           else self.members_after)
                owner_col, owner = (
                    "consumer", self.rendezvous_owner(members))
            else:
                n = self.n_before if b < reb else self.n_after
                owner_col, owner = (
                    "consumer_id",
                    (F.col("user_id") % F.lit(n)).cast("int"))
            (
                df.withColumn(owner_col, owner)
                .select("user_id", "old_event_id", "new_event_id",
                        "new_value", owner_col)
                .write.partitionBy(owner_col)
                .mode("overwrite")
                .parquet(os.path.join(self.delivery,
                                      f"batch_id={b}"))
            )
            with open(self._marker(b) + ".tmp", "w") as f:
                f.write("done")
            os.replace(self._marker(b) + ".tmp", self._marker(b))
        self._dispatched = True

    def received(self) -> DataFrame:
        """Everything every consumer received, read back from the
        partitioned delivery tree (partition columns recovered from
        the directory layout)."""
        df = self.runner.spark.read.parquet(self.delivery)
        owner = (
            F.col("consumer").cast("string").alias("consumer")
            if self.members_before is not None
            else F.col("consumer_id").cast("int").alias("consumer_id")
        )
        return df.select(
            owner,
            F.col("batch_id").cast("long").alias("batch_id"),
            "user_id", "old_event_id", "new_event_id", "new_value",
        )
