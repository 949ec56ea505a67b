"""The maintained-view machinery generalized past the events table.

MaintainedViewsRunner binds the fixture's column names; this module
is the LIBRARY form of its core (keyed LWW base + retraction-folded
agg view) with every column a constructor parameter, proven on a
SECOND table: orders keyed by o_custkey (a customer's LATEST order
— real churn: each new order replaces the previous one and moves
the customer between o_orderstatus groups, exercising the
retract-and-apply path on data the events fixture never shaped).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table, table_path
from ..queries import query
from ..tmputil import scratch_dir
from .changefeed import ChangefeedRunner
from .replay import (
    LiveWorker,
    default_chunks,
    fresh_sink_name,
    guard_not_live_fed,
    streaming_shuffle,
)
from .state_store import BucketedMvccState
from .views import MaintainedViewsRunner

_DEC = "decimal(18,6)"

_CHUNK_CACHE: dict = {}


def _keyed_chunks(spark: SparkSession, sf_dir: str, table: str,
                  order_col: str | tuple[str, ...],
                  n_chunks: int | None = None) -> str:
    """Deterministic arrival log for any table: rows sorted by the
    arrival column(s), sliced into equal chunk files — the generic
    twin of replay.build_replay_chunks (which is events-specific).
    A tuple of columns orders lexicographically (composite keys)."""
    import pyarrow.parquet as pq

    if n_chunks is None:
        n_chunks = default_chunks()
    cols = ((order_col,) if isinstance(order_col, str)
            else tuple(order_col))
    key = (os.path.abspath(sf_dir), table, cols, n_chunks)
    if key in _CHUNK_CACHE:
        return _CHUNK_CACHE[key]
    out = scratch_dir(prefix=f"dbrcf-gchunks-{table}-")
    tbl = pq.read_table(table_path(sf_dir, table)).sort_by(
        [(c, "ascending") for c in cols])
    per = math.ceil(tbl.num_rows / n_chunks)
    import time as _time

    for i in range(n_chunks):
        sl = tbl.slice(i * per, per)
        dst = os.path.join(out, f"chunk-{i:05d}.parquet")
        pq.write_table(sl, dst)
        os.utime(dst, (_time.time(), 1_800_000_000.0 + i))
    _CHUNK_CACHE[key] = out
    return out


class GenericAggViewRunner:
    """Keyed LWW base + retraction-folded grouped agg view over ANY
    table: columns are parameters, the fold algebra is identical to
    MaintainedViewsRunner's (the -old/+new contributions, the
    touched-bucket commits, the base-commit-last crash contract)."""

    def __init__(self, spark: SparkSession, sf_dir: str, *,
                 table: str, key: str, seq: str, ts: str,
                 group: str, value: str,
                 key_ddl: str = "bigint", seq_ddl: str = "bigint",
                 ts_ddl: str = "timestamp",
                 group_expr: str | None = None,
                 derive: dict[str, str] | None = None,
                 arrival: str | tuple[str, ...] | None = None,
                 index_band_width: float | None = None,
                 index_bands: int = 8, k: int = 5,
                 root: str | None = None):
        """`root`: pass a previous runner's root to RESTART from its
        durable state (the MaintainedViewsRunner contract, ported):
        every store is manifest-committed versioned parquet, the
        delta/top-k logs are per-batch parquet dirs gated to
        committed versions, and the checkpoint under root resumes
        from committed offsets — a fresh instance serves identical
        trajectories without reprocessing (tested)."""
        self.spark = spark
        self.sf_dir = sf_dir
        self.table = table
        self.key, self.seq, self.ts = key, seq, ts
        self.group, self.value = group, value
        #: optional SQL expression DERIVING the group column from the
        #: arriving row (e.g. a time bucket of the event timestamp) —
        #: the Timescale continuous-aggregate shape. The derived
        #: value is materialized into the base state, so the
        #: retraction algebra downstream is unchanged: when a key's
        #: winner moves buckets, the old bucket is retracted and the
        #: new one applied like any other group move.
        self.group_expr = group_expr
        #: generalization of group_expr (r11 — composite keys):
        #: {column: SQL expr} materialized onto every arriving batch
        #: BEFORE the fold, so key/seq/group may be DERIVED columns —
        #: e.g. lineitem's guarded (l_orderkey, l_linenumber) packed
        #: key (the doc_feeds COMPOSITE_DOC_MAP codec). The fold
        #: algebra downstream is unchanged: it keys on an arbitrary
        #: column name.
        self.derive = derive or {}
        #: chunk-arrival order for the deterministic replay — a
        #: column tuple for composite-key tables (the seq column
        #: itself may be derived and thus absent from the parquet)
        self.arrival = arrival if arrival is not None else seq
        self.root = root or scratch_dir(prefix=f"dbrcf-gview-{table}-")
        self.ckpt = os.path.join(self.root, "checkpoint")
        #: per-row {old,new} delta log — ONE parquet write of the
        #: batch's already-cached delta relation per micro-batch
        #: (idempotent per-batch-dir overwrite); this is what makes
        #: the generic family a CHANGEFEED, not just a view store
        self.log_dir = os.path.join(self.root, "changelog")
        os.makedirs(self.log_dir, exist_ok=True)
        self._log_ddl = (
            f"{key} {key_ddl}, old_value double, new_value double, "
            f"old_seq {seq_ddl}, new_seq {seq_ddl}, "
            "old_group string, new_group string, batch_id long")
        #: durable top-k enter/leave/update delta log (the events
        #: family's _refresh_topk contract, ported — round-10 close
        #: of the last surface gap vs MaintainedViewsRunner); only
        #: written when the range index exists
        self.topk_dir = os.path.join(self.root, "topklog")
        os.makedirs(self.topk_dir, exist_ok=True)
        self._topk_ddl = (
            f"batch_id long, {key} {key_ddl}, change string, "
            "old_offset long, new_offset long, "
            "old_value double, new_value double")
        self._topk_cache: tuple[int, list] | None = None
        self._state_ddl = (
            f"{key} {key_ddl}, {ts} {ts_ddl}, {seq} {seq_ddl}, "
            f"{value} double, {group} string")
        self._agg_ddl = f"{group} string, cnt long, sum_value {_DEC}"
        self._support_ddl = f"{group} string, {value} double, cnt long"
        self._base = BucketedMvccState(
            spark, os.path.join(self.root, "base"),
            self._state_ddl, key)
        self._agg = BucketedMvccState(
            spark, os.path.join(self.root, "aggview"),
            self._agg_ddl, group, n_buckets=4)
        self._support = BucketedMvccState(
            spark, os.path.join(self.root, "supportview"),
            self._support_ddl, [group, value], n_buckets=4)
        #: optional VALUE-RANGE secondary index (the views.py
        #: RangeBucketedIndex ported to parameterized columns) —
        #: enables the O(k + band) top-k read on any table
        self.k = k
        self._index = None
        if index_band_width is not None:
            from .views import RangeBucketedIndex

            self._index_ddl = (
                f"{key} {key_ddl}, value double, {seq} {seq_ddl}")
            self._index = RangeBucketedIndex(
                spark, os.path.join(self.root, "rangeindex"),
                self._index_ddl, band_width=index_band_width,
                n_bands=index_bands)

        self._live = LiveWorker(self.root, self.ckpt, self._read_file,
                                self._merge_batch, self.committed_batch)

    @property
    def _batches(self) -> list[int]:
        return self._base.versions()

    committed_batch = MaintainedViewsRunner.committed_batch

    def _read_file(self, path: str) -> DataFrame:
        """One live change file, in the table's own schema."""
        schema = load_table(self.spark, self.sf_dir, self.table).schema
        return self.spark.read.schema(schema).parquet(path)

    def _fold_idx(self, delta: DataFrame,
                  base: int | None, touched: list[int]) -> DataFrame:
        """Range-index fold from the delta alone (the generic twin of
        views.py _fold_index): the key's old row leaves its value
        band, the new winner enters its band."""
        k, sq = self.key, self.seq
        if base is None:
            old = self.spark.createDataFrame([], self._index_ddl)
        else:
            old = self._index.df_at(base, buckets=touched)
        removals = delta.select(k)
        additions = delta.select(
            k, F.col("new_value").alias("value"), F.col("n_seq")
            .alias(sq))
        return old.join(removals, k, "anti").unionByName(additions)

    def topk_at(self, batch_id: int, k: int | None = None) -> list[tuple]:
        """The k best rows (value DESC, seq ASC) as of batch_id,
        served from the range index: read descending bands, widening
        until k rows are held — every unread band is strictly worse
        than everything read, so the read touches O(k + band) rows,
        never the whole state. `k` defaults to the runner's feed
        width; the READ honors any width (the index is k-agnostic —
        only the maintained delta log is bound to self.k)."""
        if k is None:
            k = self.k
        # minimal suffix of POPULATED descending bands holding >= k
        # rows, chosen from parquet footers and read in ONE Spark job
        # (views.MaintainedViewsRunner._topk_at recipe, r13 — the
        # widening loop paid one Spark job per empty/thin band).
        counts = self._index.bucket_counts(batch_id)
        sel: list[int] = []
        cum = 0
        for b in sorted(counts, reverse=True):
            if counts[b] == 0:
                continue
            sel.append(b)
            cum += counts[b]
            if cum >= k:
                break
        if not sel:
            return []
        rows = (
            self._index.df_at(batch_id, buckets=sel)
            .orderBy(F.col("value").desc_nulls_last(),
                     F.col(self.seq).asc())
            .limit(k)
            .collect()
        )
        return [(r[self.key], r["value"], r[self.seq]) for r in rows]

    def _refresh_topk(self, batch_id: int) -> None:
        """Emit this batch's top-k enter/leave/update deltas to the
        durable log (one parquet dir per batch, OVERWRITTEN on retry
        — idempotent), the MaintainedViewsRunner._refresh_topk recipe
        on parameterized columns: previous membership from the warm
        cache when it holds batch-1, else recomputed from the durable
        index (restart/retry path) — never trusted from mutable
        runner state. Same include_offsets contract: 0-based
        positions in the (value DESC, seq ASC) order, emitted only on
        rows that themselves enter/update/leave (pure rank shifts
        from OTHER rows moving do not emit). O(k) driver work; each
        membership read is the index-pruned O(k + band) topk_at."""
        from .views import _tiny_write

        cur = self.topk_at(batch_id)
        if (self._topk_cache is not None
                and self._topk_cache[0] == batch_id - 1):
            prev_rows = self._topk_cache[1]
        elif batch_id > 0:
            prev_rows = self.topk_at(batch_id - 1)
        else:
            prev_rows = []
        prev = {u: (v, s) for u, v, s in prev_rows}
        prev_off = {u: i for i, (u, _v, _s) in enumerate(prev_rows)}
        cur_off = {u: i for i, (u, _v, _s) in enumerate(cur)}
        out: list[tuple] = []
        seen = set()
        for u, v, s in cur:
            seen.add(u)
            if u not in prev:
                out.append((batch_id, u, "enter",
                            None, cur_off[u], None, v))
            elif prev[u][1] != s:
                out.append((batch_id, u, "update",
                            prev_off[u], cur_off[u], prev[u][0], v))
        for u, (v, s) in prev.items():
            if u not in seen:
                out.append((batch_id, u, "leave",
                            prev_off[u], None, v, None))
        _tiny_write(out, self._topk_ddl,
                    os.path.join(self.topk_dir,
                                 f"batch-{batch_id:05d}"))
        self._topk_cache = (batch_id, cur)

    def topk_log(self) -> DataFrame:
        """The durable enter/leave/update delta log of the top-k
        view across committed batches — `db.table(t).views()
        .top_k().changes()`. Gated to COMMITTED versions (a crash
        after the log write but before the base publish must not
        surface phantom deltas — the base-manifest-published-last
        contract extends to every read surface)."""
        import glob as _glob

        if not _glob.glob(
                os.path.join(self.topk_dir, "*", "*.parquet")):
            return self.spark.createDataFrame([], self._topk_ddl)
        return (
            self.spark.read.schema(self._topk_ddl)
            .option("recursiveFileLookup", "true")
            .parquet(self.topk_dir)
            .where(F.col("batch_id").isin(self._batches))
        )

    def quantile_trajectory(self) -> DataFrame:
        """Exact median/p90 per group per batch, read off the support
        relation with the BANDED TWO-LEVEL extraction (the events
        runner's r7 read, ported to parameterized columns): band
        histogram -> prefix sum over the bounded band domain finds
        each quantile's crossing band -> only crossed-band rows
        enter the fine cumulative window (partitioned by band, with
        the band's starting offset restoring the global cumulative
        weight). Requires the range index's band function."""
        from pyspark.sql import Window

        assert self._index is not None, "needs index_band_width"
        g, v = self.group, self.value
        sup_all = None
        for b in self._batches:
            p = self._support.df_at(b).withColumn(
                "batch_id", F.lit(b).cast("long"))
            sup_all = p if sup_all is None else sup_all.unionByName(p)
        sb = sup_all.withColumn(
            "band", self._index.bucket_expr(F.col(v)))
        hist = sb.groupBy("batch_id", g, "band").agg(
            F.sum("cnt").alias("bn"))
        wh = (Window.partitionBy("batch_id", g).orderBy("band")
              .rowsBetween(Window.unboundedPreceding, -1))
        wall = Window.partitionBy("batch_id", g)
        off = hist.select(
            "batch_id", g, "band", "bn",
            F.coalesce(F.sum("bn").over(wh), F.lit(0)).alias("boff"),
            F.sum("bn").over(wall).alias("w"),
        )
        cum_end = F.col("boff") + F.col("bn")
        targets = None
        for q, kk, m in (("med", 2, 1), ("p90", 10, 9)):
            t = (
                off.where(kk * cum_end >= m * F.col("w"))
                .groupBy("batch_id", g)
                .agg(F.min("band").alias("band"))
                .withColumn("q", F.lit(q))
            )
            targets = t if targets is None else targets.unionByName(t)
        tgt = targets.join(
            off.select("batch_id", g, "band", "boff", "w"),
            ["batch_id", g, "band"])
        inband = sb.join(F.broadcast(tgt), ["batch_id", g, "band"])
        wcum = (Window.partitionBy("batch_id", g, "band", "q")
                .orderBy(v)
                .rowsBetween(Window.unboundedPreceding,
                             Window.currentRow))
        c = inband.select(
            "batch_id", g, "q", F.col(v).alias("value"), "w",
            (F.col("boff") + F.sum("cnt").over(wcum)).alias("cumw"),
        )
        med = (
            c.where(F.col("q") == "med")
            .groupBy("batch_id", g)
            .agg(F.min(F.when(2 * F.col("cumw") >= F.col("w"),
                              F.col("value"))).alias("median_value"))
        )
        p90 = (
            c.where(F.col("q") == "p90")
            .groupBy("batch_id", g)
            .agg(F.min(F.when(10 * F.col("cumw") >= 9 * F.col("w"),
                              F.col("value"))).alias("p90_value"))
        )
        ngrp = off.groupBy("batch_id", g).agg(
            F.any_value("w").alias("n"))
        return (
            ngrp.join(med, ["batch_id", g])
            .join(p90, ["batch_id", g])
            .select("batch_id", g, "n", "median_value", "p90_value")
        )

    def topk_trajectory(self) -> DataFrame:
        """Per-batch top-k membership with ranks — O(k x batches)
        driver rows, each batch an index-pruned read."""
        from .views import _tiny_df

        out: list = []
        for b in self._batches:
            for i, (kk, v, sq) in enumerate(self.topk_at(b)):
                out.append((b, kk, float(v), int(sq), i + 1))
        return _tiny_df(
            self.spark, out,
            f"batch_id long, {self.key} long, value double, "
            f"{self.seq} long, rk long")

    def _merge_batch(self, batch_df: DataFrame,
                     batch_id: int) -> None:
        k, sq, ts, g, v = (self.key, self.seq, self.ts,
                           self.group, self.value)
        for name, expr in self.derive.items():
            batch_df = batch_df.withColumn(name, F.expr(expr))
        if self.group_expr is not None:
            batch_df = batch_df.withColumn(g, F.expr(self.group_expr))
        winners = (
            batch_df.select(k, ts, sq, v, g)
            .groupBy(k)
            .agg(F.max(F.struct(ts, sq, v, g)).alias("m"))
            .select(k,
                    F.col(f"m.{ts}").alias("w_ts"),
                    F.col(f"m.{sq}").alias("w_seq"),
                    F.col(f"m.{v}").alias("w_val"),
                    F.col(f"m.{g}").alias("w_grp"))
            .persist()
        )
        touched = self._base.touched_buckets(winners, k)
        base = batch_id - 1 if batch_id > 0 else None
        if base is not None and not self._base.has_version(base):
            raise RuntimeError(
                f"replayed batch {batch_id}; v{base} missing")
        if base is None:
            old = self.spark.createDataFrame([], self._state_ddl)
        else:
            old = self._base.df_at(base, buckets=touched)
        j = old.join(winners, k, "full")
        has_w = F.col("w_seq").isNotNull()
        has_o = F.col(sq).isNotNull()
        newer = (F.col("w_ts") > F.col(ts)) | (
            (F.col("w_ts") == F.col(ts))
            & (F.col("w_seq") > F.col(sq)))
        wins = has_w & (~has_o | newer)
        merged = j.select(
            k,
            F.when(wins, F.col("w_ts")).otherwise(F.col(ts))
            .alias("n_ts"),
            F.when(wins, F.col("w_seq")).otherwise(F.col(sq))
            .alias("n_seq"),
            F.when(wins, F.col("w_val")).otherwise(F.col(v))
            .alias("n_val"),
            F.when(wins, F.col("w_grp")).otherwise(F.col(g))
            .alias("n_grp"),
            wins.alias("emit"),
            F.when(has_o, F.col(v)).alias("old_value"),
            F.when(has_o, F.col(g)).alias("old_group"),
            F.when(has_o, F.col(sq)).alias("old_seq"),
            F.col("w_val").alias("new_value"),
            F.col("w_grp").alias("new_group"),
            F.col("w_seq").alias("new_seq"),
            has_o.alias("had_old"),
        ).cache()
        try:
            delta = merged.where("emit")
            # ONE job computes both fold stores' touched-bucket sets
            # (the views.py _fold_touched pattern) — collect_set
            # drops the NULLs the no-old side produces; everything
            # crossing to the driver is O(buckets) small ints.
            had_old = F.col("had_old")
            t_aggs = [
                F.collect_set(F.when(had_old, self._agg.bucket_expr(
                    F.col("old_group")))).alias("ao"),
                F.collect_set(self._agg.bucket_expr(
                    F.col("new_group"))).alias("an"),
                F.collect_set(F.when(had_old, self._support.bucket_expr(
                    F.col("old_group"), F.col("old_value")))).alias("so"),
                F.collect_set(self._support.bucket_expr(
                    F.col("new_group"), F.col("new_value"))).alias("sn"),
            ]
            if self._index is not None:
                t_aggs += [
                    F.collect_set(F.when(had_old, self._index.bucket_expr(
                        F.col("old_value")))).alias("io"),
                    F.collect_set(self._index.bucket_expr(
                        F.col("new_value"))).alias("in"),
                ]
            t_row = delta.agg(*t_aggs).collect()[0]
            g_touched = sorted(set(t_row["ao"]) | set(t_row["an"]))
            s_touched = sorted(set(t_row["so"]) | set(t_row["sn"]))
            i_touched = (
                sorted(set(t_row["io"]) | set(t_row["in"]))
                if self._index is not None else [])
            minus = delta.where("had_old").select(
                F.col("old_group").alias(g),
                F.lit(-1).alias("d_cnt"),
                (-F.coalesce(F.col("old_value"), F.lit(0.0)))
                .cast(_DEC).alias("d_sum"))
            plus = delta.select(
                F.col("new_group").alias(g),
                F.lit(1).alias("d_cnt"),
                F.coalesce(F.col("new_value"), F.lit(0.0))
                .cast(_DEC).alias("d_sum"))
            # RAW ± rows — the grouped sum below folds them with the
            # old slice in ONE exchange (map-side partial aggregation
            # combines them first, so shuffled bytes are unchanged;
            # the r12 pre-aggregation paid its own exchange)
            contrib = minus.unionByName(plus)
            if base is None:
                g_old = self.spark.createDataFrame([], self._agg_ddl)
            else:
                g_old = self._agg.df_at(base, buckets=g_touched)
            # union + grouped sum instead of a full outer join (r13,
            # the views.py _fold_agg rewrite — exact same fold: a
            # group appears in old, contrib, or both, and the summed
            # result equals the coalesced join result)
            g_new = (
                g_old.unionByName(contrib.select(
                    g,
                    F.col("d_cnt").alias("cnt"),
                    F.col("d_sum").alias("sum_value")))
                .groupBy(g)
                .agg(F.sum("cnt").alias("cnt"),
                     F.sum("sum_value").cast(_DEC)
                     .alias("sum_value"))
                .where(F.col("cnt") > 0))
            # generic SUPPORT relation (group, value) -> multiplicity
            # — the non-distributive half of the library (min/max/
            # quantiles under deletes), same -old/+new fold algebra
            # keyed one level finer
            s_minus = delta.where("had_old").select(
                F.col("old_group").alias(g),
                F.col("old_value").alias(v),
                F.lit(-1).alias("d_cnt"))
            s_plus = delta.select(
                F.col("new_group").alias(g),
                F.col("new_value").alias(v),
                F.lit(1).alias("d_cnt"))
            s_contrib = s_minus.unionByName(s_plus)
            if base is None:
                s_old = self.spark.createDataFrame(
                    [], self._support_ddl)
            else:
                s_old = self._support.df_at(base, buckets=s_touched)
            # union + grouped sum, same equivalence as g_new
            s_new = (
                s_old.unionByName(s_contrib.select(
                    g, v, F.col("d_cnt").alias("cnt")))
                .groupBy(g, v)
                .agg(F.sum("cnt").alias("cnt"))
                .where(F.col("cnt") > 0))
            base_new = merged.select(
                k,
                F.col("n_ts").alias(ts),
                F.col("n_seq").alias(sq),
                F.col("n_val").alias(v),
                F.col("n_grp").alias(g))
            # STAGE all three store writes CONCURRENTLY (every fold
            # consumes the one cached `merged` delta, so the jobs
            # overlap instead of queueing); then PUBLISH manifests
            # in order with the base LAST — the crash-consistency
            # anchor lives in publish order alone (state_store.stage
            # docstring), so parallel staging is free wall-clock.
            from concurrent.futures import ThreadPoolExecutor

            jobs = [
                (self._agg, g_new, g_touched),
                (self._support, s_new, s_touched),
                (self._base, base_new, touched),
            ]
            if self._index is not None:
                jobs.insert(2, (self._index,
                                self._fold_idx(delta, base, i_touched),
                                i_touched))
            log_df = delta.select(
                k, "old_value", "new_value",
                "old_seq", "new_seq", "old_group", "new_group",
                F.lit(batch_id).alias("batch_id"))
            log_path = os.path.join(self.log_dir,
                                    f"batch-{batch_id:05d}")
            with ThreadPoolExecutor(max_workers=len(jobs) + 1) as ex:
                futs = [ex.submit(st.stage, batch_id, df, tb)
                        for st, df, tb in jobs]
                futs.append(ex.submit(
                    lambda: log_df.write.mode("overwrite")
                    .parquet(log_path)))
                for f in futs:
                    f.result()
            self._agg.publish(batch_id, base, g_touched)
            self._support.publish(batch_id, base, s_touched)
            if self._index is not None:
                self._index.publish(batch_id, base, i_touched)
                # reads the just-published index at batch_id; runs
                # BEFORE the base commit point so a crash here leaves
                # the batch uncommitted and the retry overwrites
                self._refresh_topk(batch_id)
            # base manifest LAST — a listed version has all folds
            self._base.publish(batch_id, base, touched)
        finally:
            merged.unpersist()
            winners.unpersist()

    def run(self, n_chunks: int | None = None) -> None:
        guard_not_live_fed(self.root)
        chunks = _keyed_chunks(self.spark, self.sf_dir, self.table,
                               self.arrival, n_chunks)
        schema = load_table(self.spark, self.sf_dir,
                            self.table).schema
        stream = (
            self.spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(chunks)
        )
        with streaming_shuffle(self.spark):
            q = (
                stream.writeStream.foreachBatch(self._merge_batch)
                .outputMode("update")
                .option("checkpointLocation", self.ckpt)
                .trigger(availableNow=True)
                .queryName(fresh_sink_name("genericview"))
                .start()
            )
            q.awaitTermination()

    # ---- continuous maintenance (r11: the events runner's live
    # ---- mode, mirrored so ANY table's standing views run live)

    def start_live(self) -> str:
        """Continuous maintenance: every view keeps updating as change
        files (the table's own schema) arrive, until stop_live(). Each
        `live-<seq>.parquet` commits as batch seq through the same
        merge+fold as a replay (replay.LiveWorker), from the batch
        after the newest base version. Returns the live source dir."""
        return self._live.start(
            scratch_dir(prefix=f"dbrcf-gview-live-{self.table}-"))

    ingest = ChangefeedRunner.ingest
    drain = ChangefeedRunner.drain
    stop_live = ChangefeedRunner.stop_live

    def delta_log(self) -> DataFrame:
        """The full per-row {old,new} change log across all committed
        batches — the generic twin of MaintainedViewsRunner's
        delta_log (old_* NULL on first appearance; a row per LWW win,
        keyed by the table's own key column)."""
        import glob as _glob

        if not _glob.glob(os.path.join(self.log_dir, "*", "*.parquet")):
            return self.spark.createDataFrame([], self._log_ddl)
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .schema(self._log_ddl).parquet(self.log_dir)
            # committed versions only: a batch that crashed after its
            # concurrent log write but before the base publish must
            # not leak phantom deltas into changes() (the MVCC
            # stores' base-manifest-published-last contract, extended
            # to the log read surface)
            .where(F.col("batch_id").isin(self._batches))
        )

    def agg_trajectory(self) -> DataFrame:
        parts = [
            self._agg.df_at(b).select(
                F.lit(b).alias("batch_id"), self.group, "cnt",
                F.col("sum_value").cast("double").alias("sum_value"))
            for b in self._batches
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def minmax_trajectory(self) -> DataFrame:
        g, v = self.group, self.value
        parts = [
            self._support.df_at(b).groupBy(g).agg(
                F.sum("cnt").alias("n"),
                F.min(v).alias("min_value"),
                F.max(v).alias("max_value"),
            ).select(F.lit(b).alias("batch_id"), g, "n",
                     "min_value", "max_value")
            for b in self._batches
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


_CACHE: dict = {}

_NB = default_chunks()


def orders_runner(spark, sf_dir) -> "GenericAggViewRunner":
    """THE shared orders-view runner — every orders view family
    (agg/minmax/distinct/variance/top-k) must construct through this
    single site so the cache always holds the fully-equipped runner
    (a site constructing without the range index would win the cache
    and break the top-k read — the bug this function fixes)."""
    key = (id(spark), sf_dir, "__orders_view__")
    if key not in _CACHE:
        r = GenericAggViewRunner(
            spark, sf_dir, table="orders", key="o_custkey",
            seq="o_orderkey", ts="o_orderdate",
            group="o_orderstatus", value="o_totalprice",
            index_band_width=62500.0)
        r.run()
        _CACHE[key] = r
    return _CACHE[key]


def lineitem_runner(spark, sf_dir) -> "GenericAggViewRunner":
    """The shared COMPOSITE-KEY view runner (r10 verdict item 5 —
    the third GenericAggViewRunner table, closing the generality
    claim): lineitem's document key is (l_orderkey, l_linenumber),
    packed through the doc_feeds COMPOSITE_DOC_MAP codec
    (key = orderkey << 3 | linenumber; TPC-H guarantees linenumber
    in 1..7, and the per-row assert_true guard fails the micro-batch
    loudly if the 3-bit budget is ever exceeded — never silent
    aliasing). The key is a DERIVED column (the runner's r11
    `derive` hook); the fold algebra downstream is unchanged.

    The synthetic fixture REPEATS (l_orderkey, l_linenumber) pairs
    (~60k rows / ~46k distinct keys at sf0.01), so the LWW
    retraction path genuinely fires here: the winner is the latest
    l_shipdate, tie-broken by l_partkey — (key, ts, seq) verified
    unique at every fixture SF. The arrival order includes the full
    unique tuple so the chunk boundaries are exactly reproducible
    by the SQL oracle (a boundary inside a duplicate-key tie group
    would otherwise depend on unobservable file order)."""
    key = (id(spark), sf_dir, "__lineitem_view__")
    if key not in _CACHE:
        packed = (
            "case when assert_true(l_linenumber between 0 and 7, "
            "'l_linenumber outside 3-bit packing budget') is null "
            "then shiftleft(l_orderkey, 3) + cast(l_linenumber as "
            "bigint) end")
        r = GenericAggViewRunner(
            spark, sf_dir, table="lineitem",
            key="li_key", seq="l_partkey", ts="l_shipdate",
            group="l_returnflag", value="l_extendedprice",
            derive={"li_key": packed},
            arrival=("l_orderkey", "l_linenumber", "l_shipdate",
                     "l_partkey"),
            index_band_width=13125.0)
        r.run()
        _CACHE[key] = r
    return _CACHE[key]


@query(
    "changefeed_agg_view_orders",
    oracle=f"""
    WITH numbered AS (
      SELECT o_orderkey, o_custkey, o_orderdate, o_orderstatus,
             o_totalprice,
             row_number() OVER (ORDER BY o_orderkey) - 1 AS rn,
             count(*) OVER () AS n
      FROM orders
    ), chunked AS (
      SELECT o_orderkey, o_custkey, o_orderdate, o_orderstatus,
             o_totalprice,
             CAST(floor(rn / ceil(n / {_NB}.0)) AS BIGINT) AS chunk
      FROM numbered
    ), batches AS (
      SELECT DISTINCT chunk AS batch_id FROM chunked
    ), latest AS (
      SELECT b.batch_id, c.o_custkey, c.o_orderstatus,
             c.o_totalprice,
             row_number() OVER (
               PARTITION BY b.batch_id, c.o_custkey
               ORDER BY c.o_orderdate DESC, c.o_orderkey DESC)
               AS rrn
      FROM batches b JOIN chunked c ON c.chunk <= b.batch_id
    )
    SELECT batch_id, o_orderstatus,
           count(*) AS cnt,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_value
    FROM latest WHERE rrn = 1
    GROUP BY batch_id, o_orderstatus
    """,
)
def changefeed_agg_view_orders(spark, sf_dir):
    """The view machinery as a LIBRARY, proven on a second table:
    a grouped count/sum view over each customer's LATEST order
    (LWW by (o_orderdate, o_orderkey)), maintained with the same
    retraction algebra on the ORDERS CDC stream — a new order
    retracts the customer's previous contribution from its
    o_orderstatus group and applies the new one.  Every column is a
    constructor parameter (GenericAggViewRunner); nothing about the
    fold algebra, the touched-bucket commits, or the
    base-commit-last crash contract is events-specific.
    Trajectory-graded per micro-batch like the events views."""
    return orders_runner(spark, sf_dir).agg_trajectory()
