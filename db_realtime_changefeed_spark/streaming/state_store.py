"""Bucketed MVCC state layout for entity-keyed changefeed state.

The round-2 layout rewrote the WHOLE state directory every
micro-batch — correct, but at 100 TB the state of a per-user feed is
itself huge, while a single micro-batch touches only a sliver of it.
This store partitions state into N_BUCKETS hash buckets of the key
and gives each version a tiny JSON MANIFEST mapping bucket -> the
batch id that last rewrote it:

    state_root/
      buckets/b<k>/v<batch>/   parquet: bucket k's FULL contents as
                               of <batch> (written only when touched)
      manifest-v<batch>.json   {"buckets": {"<k>": <writer batch>}}

A micro-batch reads only the buckets its delta touches (path-pruned
scan), merges, rewrites exactly those bucket dirs under the new
version, and copies the previous manifest forward for the rest.
Untouched data is never rewritten or copied — a version flip is a
manifest write. This is the Iceberg/Delta MERGE shape expressed on
plain parquet: immutable data files + a tiny metadata commit, so
MVCC time travel (df_at), at-least-once rewind (re-delivered batches
overwrite their own bucket dirs + manifest — idempotent), and GC
(drop manifests, then unreferenced bucket dirs) all stay exact.

Bucketing uses pmod(xxhash64(key), N) so any key type works and the
bucket is derivable from the key — it is never stored in the data.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def default_state_buckets() -> int:
    """Bucket count B. Per-batch write cost is O(touched buckets /
    B of the state); at 100 TB you size B so one bucket fits a task
    comfortably (thousands) — it's the same knob, larger."""
    return int(os.environ.get("SPARK_GRAFT_STATE_BUCKETS", "16"))


class BucketedMvccState:
    """Versioned, hash-bucketed parquet state with manifest commits.

    The store owns the bucket/manifest layout only; the POINTER file
    (which version is CURRENT) stays with the runner, next to its
    changelog and checkpoint.
    """

    def __init__(self, spark: SparkSession, state_root: str, ddl: str,
                 key_col: str | list[str],
                 n_buckets: int | None = None):
        self.spark = spark
        self.root = state_root
        self.ddl = ddl
        self.key_cols = (
            [key_col] if isinstance(key_col, str) else list(key_col)
        )
        self.n_buckets = n_buckets or default_state_buckets()
        self.buckets_root = os.path.join(state_root, "buckets")
        os.makedirs(self.buckets_root, exist_ok=True)
        # The bucket count is DURABLE: every manifest records the
        # count its bucket assignment was computed under, and a store
        # opened over existing state adopts the newest manifest's
        # count. Without this, a runner restarted after rescale()
        # would prune bucket reads with the configured (stale) count
        # and silently miss keys — the Flink restore-from-savepoint
        # rule that operator parallelism travels WITH the state.
        vs = self.versions()
        if vs:
            persisted = self._manifest_n_buckets(vs[-1])
            if persisted is not None:
                self.n_buckets = persisted

    # ---- layout helpers ----
    def _manifest_path(self, batch_id: int) -> str:
        return os.path.join(self.root, f"manifest-v{batch_id}.json")

    def _bucket_dir(self, bucket: int, batch_id: "int | str") -> str:
        # batch_id is an int for normal commits, or a rescale TAG
        # ("<version>r<new_n>") — tagged dirs keep a rescale's rewrite
        # from colliding with the ordinary dirs the same version's
        # original commit wrote (older manifests may reference those).
        return os.path.join(self.buckets_root, f"b{bucket}", f"v{batch_id}")

    def bucket_expr(self, *cols):
        if not cols:
            cols = [F.col(c) for c in self.key_cols]
        return F.pmod(F.xxhash64(*cols), F.lit(self.n_buckets))

    def has_version(self, batch_id: int) -> bool:
        return os.path.exists(self._manifest_path(batch_id))

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(self.root):
            m = re.fullmatch(r"manifest-v(\d+)\.json", name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    @staticmethod
    def _norm_version(v) -> "int | str":
        s = str(v)
        return int(s) if s.isdigit() else s

    def manifest(self, batch_id: int) -> "dict[int, int | str]":
        with open(self._manifest_path(batch_id)) as f:
            raw = json.load(f)["buckets"]
        return {int(k): self._norm_version(v) for k, v in raw.items()}

    def _manifest_n_buckets(self, batch_id: int) -> "int | None":
        """Bucket count recorded in a manifest; None for manifests
        written before the count became durable (pre-rescale layouts,
        which by construction never changed their count)."""
        with open(self._manifest_path(batch_id)) as f:
            return json.load(f).get("n_buckets")

    # ---- reads ----
    def df_at(self, batch_id: int,
              buckets: list[int] | None = None) -> DataFrame:
        """State as of `batch_id`; with `buckets`, a PRUNED read of
        only those buckets' paths — the partial-state scan a
        micro-batch merge uses."""
        man = self.manifest(batch_id)
        if buckets is not None:
            sel = set(buckets)
            man = {k: v for k, v in man.items() if k in sel}
        paths = [self._bucket_dir(k, v) for k, v in sorted(man.items())]
        if not paths:
            return self.spark.createDataFrame([], self.ddl)
        return self.spark.read.schema(self.ddl).parquet(*paths)

    def bucket_counts(self, batch_id: int,
                      buckets: list[int] | None = None) -> dict:
        """Row count per populated bucket at `batch_id`, read from
        the parquet FOOTERS of the bucket dirs (driver-side metadata,
        ~0.1 ms/file — the Iceberg/Delta manifest-stats read). Lets
        an ordered-index reader pick the minimal bucket suffix/prefix
        holding k rows in ONE pass instead of widening a bucket
        window one step per Spark job (r13; guide §1.2 per-job
        scheduling cost dominates O(k) reads). Goes through the
        statefs seam (r14): on an object-store state root this is a
        manifest-stats read, not a listdir."""
        from .statefs import STATE_FS

        man = self.manifest(batch_id)
        if buckets is not None:
            sel = set(buckets)
            man = {k: v for k, v in man.items() if k in sel}
        return {
            k: STATE_FS.parquet_row_counts(self._bucket_dir(k, v))
            for k, v in man.items()
        }

    def read_buckets(self, batch_id: int, buckets: list[int]) -> dict:
        """Driver-side read of the `buckets` of version `batch_id`:
        {bucket: pyarrow Table}, unpopulated buckets omitted. No
        Spark job — for a driver fold whose touched buckets were
        checked small with bucket_counts() first."""
        from .statefs import STATE_FS

        man = self.manifest(batch_id)
        out = {}
        for k in buckets:
            if k in man:
                t = STATE_FS.read_parquet_dir(self._bucket_dir(k, man[k]))
                if t is not None:
                    out[k] = t
        return out

    def touched_buckets(self, delta_df: DataFrame,
                        key: str | None = None) -> list[int]:
        """Distinct buckets of the batch's keys — at most B small
        ints cross to the driver, never key-cardinality data."""
        expr = (
            self.bucket_expr(F.col(key)) if key is not None
            else self.bucket_expr()
        )
        rows = delta_df.select(expr.alias("b")).distinct().collect()
        return sorted(r["b"] for r in rows)

    # ---- commit ----
    def commit(self, batch_id: int, base_batch: int | None,
               merged_df: DataFrame, touched: list[int]) -> None:
        """Write `merged_df` (the full new contents of exactly the
        `touched` buckets) under version `batch_id`, carry every
        other bucket forward from `base_batch`'s manifest, and
        publish manifest-v{batch_id}. Idempotent: a replayed batch
        rewrites its own bucket dirs and manifest."""
        self.stage(batch_id, merged_df, touched)
        self.publish(batch_id, base_batch, touched)

    def stage(self, batch_id: int, merged_df: DataFrame,
              touched: list[int]) -> None:
        """Phase 1 of a commit: run the Spark write into a private
        tmp dir. Stages of DIFFERENT stores are independent Spark
        jobs, so a runner folding several view stores from one
        cached delta may run them CONCURRENTLY (driver threads) —
        the crash-consistency contract lives entirely in the
        publish() ordering, not here: an orphaned tmp dir is
        invisible to every manifest and harmless."""
        tmp = os.path.join(self.root, f"tmp-v{batch_id}")
        shutil.rmtree(tmp, ignore_errors=True)
        if touched:
            (
                merged_df
                .withColumn("__bucket", self.bucket_expr())
                .repartition("__bucket")
                .write.partitionBy("__bucket")
                .mode("overwrite")
                .parquet(tmp)
            )

    def stage_tables(self, batch_id: int, tables: dict) -> None:
        """Driver-side phase 1: write {bucket: pyarrow Table} into the
        same private tmp layout stage() produces (one
        `__bucket=<k>/` dir per bucket), so publish() is shared by
        both paths."""
        from .statefs import STATE_FS

        tmp = os.path.join(self.root, f"tmp-v{batch_id}")
        shutil.rmtree(tmp, ignore_errors=True)
        for k, t in tables.items():
            STATE_FS.put_small_parquet_dir(
                t, os.path.join(tmp, f"__bucket={k}"))

    def publish(self, batch_id: int, base_batch: int | None,
                touched: list[int]) -> None:
        """Phase 2: move the staged bucket dirs into place and
        publish the manifest. Pure filesystem metadata — cheap, so
        ordered publication across stores (base LAST) costs nothing
        while preserving 'a listed version has all folds durable'."""
        tmp = os.path.join(self.root, f"tmp-v{batch_id}")
        man = {} if base_batch is None else dict(self.manifest(base_batch))
        for k in touched:
            src = os.path.join(tmp, f"__bucket={k}")
            dst = self._bucket_dir(k, batch_id)
            shutil.rmtree(dst, ignore_errors=True)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.exists(src):
                os.replace(src, dst)
            else:  # a touched bucket whose merged contents are empty
                os.makedirs(dst)
            man[k] = batch_id
        shutil.rmtree(tmp, ignore_errors=True)
        self._write_manifest(batch_id, man)

    def _write_manifest(self, batch_id: int, man: dict) -> None:
        mp = self._manifest_path(batch_id)
        with open(mp + ".tmp", "w") as f:
            json.dump({"n_buckets": self.n_buckets,
                       "buckets": {str(k): v for k, v in man.items()}}, f)
        os.replace(mp + ".tmp", mp)

    # ---- rescale (savepoint-style re-sharding) ----
    def rescale(self, new_n: int) -> "int | None":
        """Re-shard the newest version's FULL state into `new_n` hash
        buckets and republish that version id — the Flink
        stop-with-savepoint → restore-at-new-parallelism shape, on
        plain parquet. Must run at a committed batch boundary (no
        stream in flight): the republished manifest maps every
        populated bucket to tagged `v<id>r<new_n>` dirs, so the dirs
        the version's original commit wrote (still referenced by this
        and possibly later/earlier reads in flight elsewhere) are
        never mutated, and gc() reclaims them once unreferenced.

        One full-state rewrite, exactly once per rescale — the same
        cost Flink pays to restore a savepoint at new parallelism;
        every subsequent micro-batch is back to touched-buckets-only
        under the new count. Returns the republished version id, or
        None when the store holds no state yet (knob flip only)."""
        vs = self.versions()
        if not vs:
            self.n_buckets = new_n
            return None
        v = vs[-1]
        full = self.df_at(v)
        self.n_buckets = new_n
        tag = f"{v}r{new_n}"
        tmp = os.path.join(self.root, f"tmp-rescale-{tag}")
        shutil.rmtree(tmp, ignore_errors=True)
        (
            full.withColumn("__bucket", self.bucket_expr())
            .repartition("__bucket")
            .write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(tmp)
        )
        man: dict[int, str] = {}
        for k in range(new_n):
            src = os.path.join(tmp, f"__bucket={k}")
            if os.path.exists(src):
                dst = self._bucket_dir(k, tag)
                shutil.rmtree(dst, ignore_errors=True)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.replace(src, dst)
                man[k] = tag
        shutil.rmtree(tmp, ignore_errors=True)
        self._write_manifest(v, man)
        return v

    # ---- GC ----
    def gc(self, keep: set[int]) -> list[int]:
        """Drop manifests outside `keep`, then any bucket version dir
        no retained manifest references. Returns dropped batch ids."""
        removed = []
        for b in self.versions():
            if b not in keep:
                os.remove(self._manifest_path(b))
                removed.append(b)
        referenced: set[tuple[int, "int | str"]] = set()
        for b in self.versions():
            referenced.update(self.manifest(b).items())
        if os.path.isdir(self.buckets_root):
            for bname in os.listdir(self.buckets_root):
                m = re.fullmatch(r"b(\d+)", bname)
                if not m:
                    continue
                k = int(m.group(1))
                bdir = os.path.join(self.buckets_root, bname)
                for vname in os.listdir(bdir):
                    vm = re.fullmatch(r"v(\d+(?:r\d+)?)", vname)
                    if vm and (k, self._norm_version(vm.group(1))) \
                            not in referenced:
                        shutil.rmtree(os.path.join(bdir, vname))
        return removed
