"""Client-facing fluent API — the surface a changefeed-DB user
actually types: `db.table("events").filter(...).changes()`, in the
style of RethinkDB's ReQL (`r.table(...).filter(...).changes()`) and
CockroachDB's `CREATE CHANGEFEED FOR ... WITH ...`.

Everything resolves to the same engine underneath: relational chains
return live DataFrames (full Catalyst surface via `.df()` or
continued DataFrame methods), and `.changes(...)` registers a
standing query on the replayed CDC stream via ChangefeedRunner.

Example::

    from db_realtime_changefeed_spark.api import Database

    db = Database(spark, "/root/testdata/sf0.01")
    # batch relational
    big = db.table("orders").filter("o_totalprice > 100000").df()
    # standing filtered aggregate feed
    feed = (db.table("events")
              .filter("event_type = 'purchase'")
              .changes(key="user_id"))
    feed.state()   # materialized per-user aggregate DataFrame
    feed.log()     # {old,new} delta rows per trigger
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import TABLE_NAMES, load_table
from .streaming.changefeed import ChangefeedRunner


class Cursor:
    """Incremental consumer of a feed's delta log — the resume-token
    shape of classic changefeed clients: each poll() delivers only
    the delta rows past the last delivered batch and advances the
    cursor. Delivery is client-side by definition (the subscriber is
    a client); the state maintenance it follows stays in Spark."""

    def __init__(self, runner: ChangefeedRunner):
        self._runner = runner
        self._next_batch = 0

    @property
    def position(self) -> int:
        """The resume token: next batch id to be delivered."""
        return self._next_batch

    def seek(self, batch_id: int) -> None:
        """Resume from an explicit token (e.g. after a client crash)."""
        self._next_batch = batch_id

    def seek_to_ts(self, ts) -> int:
        """Resume from an EVENT TIME instead of a batch token — the
        Kafka offsetsForTimes / CockroachDB cursor=<timestamp>
        surface: positions the cursor at the first batch containing
        any change with event time >= ts (a metadata-only chunk-spine
        probe, ChangefeedRunner.batch_for_ts). Past-the-end
        timestamps position at the log end (poll drains nothing).
        Returns the resolved batch token."""
        b = self._runner.batch_for_ts(ts)
        if b is None:
            end = (
                self._runner.log().agg(F.max("batch_id"))
                .collect()[0][0]
            )
            b = (end + 1) if end is not None else 0
        self._next_batch = b
        return b

    def poll(self) -> list:
        """All not-yet-delivered delta rows of committed batches,
        ordered by batch: a log segment above the runner's committed
        batch (its commit unfinished or crashed before the pointer
        flip) is not delivered."""
        committed = self._runner.committed_batch()
        if committed is None:
            return []
        rows = (
            self._runner.log()
            .where(F.col("batch_id").between(self._next_batch, committed))
            .orderBy("batch_id")
            .collect()
        )
        if rows:
            self._next_batch = max(r["batch_id"] for r in rows) + 1
        return rows


class Feed:
    """A standing query: materialized state + change log.

    `cursor_start` is the batch id new cursors begin at —
    0 for full catch-up (initial_scan='yes'), the registration-time
    log end for initial_scan='no'."""

    def __init__(self, runner: ChangefeedRunner, cursor_start: int = 0):
        self._runner = runner
        self._cursor_start = cursor_start

    def state(self) -> DataFrame:
        return self._runner.state()

    def log(self) -> DataFrame:
        return self._runner.log()

    def cursor(self) -> Cursor:
        c = Cursor(self._runner)
        if self._cursor_start:
            c.seek(self._cursor_start)
        return c

    def subscribe(self, callback, name: str = "default"):
        """PUSH delivery — the complement of the poll cursor: the
        callback receives (batch_id, delta_rows) for every committed
        batch, unacked history first, then live batches as they
        commit, exactly once per batch id across upstream retries
        (durable per-name ack; see streaming/push.py)."""
        return self._runner.subscribe(callback, name)


class SnapshotFeed(Feed):
    """initial_scan='only': one materialized scan, no delta surface —
    the log/cursor/push endpoints do not exist rather than silently
    returning history the caller opted out of."""

    def log(self) -> DataFrame:
        raise NotImplementedError(
            "initial_scan='only' feeds are snapshots; no delta log"
        )

    def cursor(self) -> Cursor:
        raise NotImplementedError(
            "initial_scan='only' feeds are snapshots; no cursor"
        )

    def subscribe(self, callback, name: str = "default"):
        raise NotImplementedError(
            "initial_scan='only' feeds are snapshots; no push delivery"
        )


class LiveFeed(Feed):
    """A continuously-running standing query over the events table:
    the producer pushes change files with ingest(), and the runner's
    worker commits each one as its own batch as soon as it lands;
    subscribers follow with cursor().poll() or subscribe() — no
    restart between deltas. ingest() and stop() raise the error the
    worker stopped on, naming the batch."""

    def ingest(self, parquet_file: str) -> None:
        self._runner.ingest(parquet_file)

    def stop(self) -> None:
        self._runner.stop_live()


class TableFeed:
    """A standing per-primary-key aggregate feed over a non-events
    table, served by the normalized multi-table envelope replay.

    r11: full delta surface — `log()` reads the runner's committed
    per-batch keyed-delta log (multitable.py), `cursor()` serves the
    same resume-token contract as events feeds (`cursor_start` is
    the registration-time log end for initial_scan='no')."""

    def __init__(self, runner, table: str, cursor_start: int = 0,
                 diff_default: bool = False):
        self._runner = runner
        self._table = table
        self._cursor_start = cursor_start
        #: WITH diff (r13): every log()/cursor read serves the
        #: before/after-image envelope unless the caller overrides
        self._diff_default = diff_default

    def state(self, decode: bool = False) -> DataFrame:
        """Materialized per-key aggregate. `decode=True` on a
        COMPOSITE-keyed feed (r13) splits the encoded key back into
        its part columns (string-typed; cast as needed) via
        multitable.composite_key_decode — the consumer-side inverse
        of the envelope encoding. Raises on scalar-keyed feeds
        rather than returning a column that only LOOKS decoded."""
        ko = getattr(self._runner, "key_only", False)
        st = (
            self._runner.state()
            .where(F.col("tbl") == self._table)
            .select("key", "cnt",
                    *([] if ko else ["sum_value"]))
        )
        if not decode:
            return st
        from .streaming.multitable import composite_key_decode

        parts = self._runner.key_overrides.get(self._table)
        if parts is None:
            from .streaming.multitable import envelope_spec

            parts = envelope_spec(self._table)[0]
        if not isinstance(parts, tuple):
            raise NotImplementedError(
                f"decode=True needs a composite-keyed feed; "
                f"{self._table!r} is keyed on {parts!r}")
        return st.select(
            *composite_key_decode(F.col("key"), parts),
            "cnt", *([] if ko else ["sum_value"]))

    def log(self, diff: bool | None = None) -> DataFrame:
        """Committed per-batch deltas for THIS table, the cursor's
        read surface: (batch_id, key, d_count, d_sum). `diff=None`
        takes the feed's own default (True on a feed created WITH
        diff — the DDL option flows into every read, including
        cursors, which call log() with no arguments).

        `diff=True` (r13) adds the BEFORE and AFTER images of the
        keyed aggregate around every change — the CockroachDB
        ``WITH diff`` envelope option re-expressed on the aggregate
        feed: before_cnt/before_sum are the key's state just before
        the batch applied (NULL on the key's first appearance, the
        CDC convention for an insert's before image) and
        after_cnt/after_sum its state just after, so
        after - before = delta by construction. Computed FROM the
        committed delta log alone (one cumulative window over the
        key partition — no base-table rescan and no extra state):
        the log already totally orders each key's history by
        batch_id, which is exactly the prefix the before image
        folds. Accumulation stays in the log's exact decimal(28,6)
        slot and casts to double only on the read surface, so the
        images are order-independent bit-for-bit (FIXTURES.md).

        Scale: one shuffle on key — the same partitioning the merge
        already uses; the window frame is a running prefix, so Spark
        streams it without buffering whole partitions."""
        if diff is None:
            diff = self._diff_default
        ko = getattr(self._runner, "key_only", False)
        base = (
            self._runner.log()
            .where(F.col("tbl") == self._table)
            .select(
                "batch_id",
                F.col("key").cast("string").alias("key"),
                "d_count",
                *([] if ko else
                  [F.col("d_sum").alias("_d_sum_dec")]),
            )
        )
        if not diff:
            return base.select(
                "batch_id", "key", "d_count",
                *([] if ko else
                  [F.col("_d_sum_dec").cast("double")
                   .alias("d_sum")]))
        from pyspark.sql import Window as W

        w = (W.partitionBy("key").orderBy("batch_id")
             .rowsBetween(W.unboundedPreceding, -1))
        before_cnt = F.sum("d_count").over(w)
        if ko:
            # key-only feeds diff on the count dimension alone —
            # there is no sum slot to image
            return base.select(
                "batch_id", "key", "d_count",
                before_cnt.alias("before_cnt"),
                (F.coalesce(before_cnt, F.lit(0))
                 + F.col("d_count")).alias("after_cnt"),
            )
        before_sum_dec = F.sum("_d_sum_dec").over(w)
        return base.select(
            "batch_id", "key", "d_count",
            F.col("_d_sum_dec").cast("double").alias("d_sum"),
            before_cnt.alias("before_cnt"),
            before_sum_dec.cast("double").alias("before_sum"),
            (F.coalesce(before_cnt, F.lit(0)) + F.col("d_count"))
            .alias("after_cnt"),
            (F.coalesce(before_sum_dec,
                        F.lit(0).cast("decimal(28,6)"))
             + F.col("_d_sum_dec")).cast("double").alias("after_sum"),
        )

    def batch_for_ts(self, ts):
        """Cursor.seek_to_ts support (r11): first batch containing
        any change with event time >= ts, off the runner's
        per-batch high-water marks."""
        return self._runner.batch_for_ts(ts)

    def committed_batch(self) -> int | None:
        """The runner's last committed batch id (Cursor.poll's upper
        bound; the table log is gated to it already)."""
        return self._runner._ptr.batch()

    def cursor(self) -> Cursor:
        # Cursor needs .log()/.batch_for_ts()/.committed_batch()
        c = Cursor(self)
        if self._cursor_start:
            c.seek(self._cursor_start)
        return c

    def subscribe(self, callback, name: str = "default"):
        """PUSH delivery on a table feed (r11 — the events Feed
        contract, mirrored): callback(batch_id, rows) per committed
        batch, THIS table's delta rows only, exactly once per batch
        id across upstream retries (durable per-name ack).

        Scope note (r13): push rows are the PLAIN delta envelope
        even on a WITH-diff feed — the commit-path push reads the
        batch's own log segment, and before images are a
        cross-batch prefix computed on the log/cursor read surface
        (log(diff=True)). A push consumer wanting images should
        poll a cursor instead."""
        tbl = self._table

        def _filtered(batch_id, rows):
            callback(batch_id,
                     [r for r in rows if r["tbl"] == tbl])

        return self._runner.subscribe(_filtered, name)


class SnapshotTableFeed(TableFeed):
    """initial_scan='only' on a non-events table: one materialized
    scan, no delta surface (same contract as SnapshotFeed)."""

    def log(self) -> DataFrame:
        raise NotImplementedError(
            "initial_scan='only' feeds are snapshots; no delta log"
        )

    def cursor(self) -> Cursor:
        raise NotImplementedError(
            "initial_scan='only' feeds are snapshots; no cursor"
        )

    def subscribe(self, callback, name: str = "default"):
        # without this override the inherited TableFeed.subscribe
        # would push the full historical delta log — exactly the
        # history the caller opted out of (mirrors SnapshotFeed)
        raise NotImplementedError(
            "initial_scan='only' feeds are snapshots; no push delivery"
        )


class LiveTableFeed(TableFeed):
    """A continuously-running table feed: the producer pushes change
    files (the table's own schema) with ingest(), and the runner's
    worker commits each one as its own batch as soon as it lands;
    consumers poll state() or follow cursor() / subscribe(); stop()
    ends the feed. ingest() and stop() raise the error the worker
    stopped on, naming the batch."""

    def ingest(self, parquet_file: str) -> None:
        self._runner.ingest(self._table, parquet_file)

    def stop(self) -> None:
        self._runner.stop_live()


class TableRef:
    """A lazily-filtered table reference. Relational use: `.df()`
    (full DataFrame API from there). Feed use: `.changes(key=...)`.

    Filters accumulate as SQL predicate strings so `.changes()` can
    re-apply them to the CDC payload (`after.<col>`) — the standing
    query filters the change stream itself, not a snapshot."""

    def __init__(self, db: "Database", name: str,
                 predicates: tuple[str, ...] = ()):
        if name not in TABLE_NAMES:
            raise KeyError(f"unknown table {name!r}; one of {TABLE_NAMES}")
        self._db = db
        self._name = name
        self._predicates = predicates

    def filter(self, predicate_sql: str) -> "TableRef":
        return TableRef(
            self._db, self._name, self._predicates + (predicate_sql,)
        )

    def get(self, *key_value, key: str | None = None) -> "RowRef":
        """Point lookup — the `r.table(...).get(k)` shape of document
        changefeed stores: `.row()` reads the key's current row,
        `.changes()` registers a per-document feed on it. `key`
        defaults to the table's document key (user_id on events, the
        primary key elsewhere — streaming/doc_feeds.DOC_MAP).
        Composite-key tables take one positional per key column:
        `table('lineitem').get(orderkey, linenumber)`."""
        doc_key = _resolve_doc_key(self._name, key)
        if isinstance(doc_key, tuple):
            if len(key_value) != len(doc_key):
                raise TypeError(
                    f"{self._name!r} document key is {doc_key}; "
                    f"get() takes {len(doc_key)} values, got "
                    f"{len(key_value)}")
            return RowRef(self._db, self._name, doc_key,
                          tuple(int(v) for v in key_value))
        if len(key_value) != 1:
            raise TypeError(
                f"{self._name!r} document key is {doc_key!r}; get() "
                f"takes exactly one value, got {len(key_value)}")
        return RowRef(self._db, self._name, doc_key,
                      int(key_value[0]))

    def get_all(self, *key_values,
                key: str | None = None) -> "RowSetRef":
        """Multi-key point lookup — RethinkDB
        `r.table(...).get_all(k1, k2, ...)`: `.rows()` reads each
        key's current row, `.changes()` registers ONE standing feed
        covering the whole key set (one state store, one checkpoint —
        not |keys| point feeds). `key` defaults to the table's
        document key, as in `get`. Composite-key tables take one
        TUPLE per watched document:
        `get_all((ok1, ln1), (ok2, ln2))`."""
        if not key_values:
            raise ValueError("get_all needs at least one key")
        doc_key = _resolve_doc_key(self._name, key)
        if isinstance(doc_key, tuple):
            vals = []
            for kv in key_values:
                if (not isinstance(kv, (tuple, list))
                        or len(kv) != len(doc_key)):
                    raise TypeError(
                        f"{self._name!r} document key is {doc_key}; "
                        f"get_all() takes {len(doc_key)}-tuples")
                vals.append(tuple(int(v) for v in kv))
            return RowSetRef(self._db, self._name, doc_key,
                             tuple(vals))
        return RowSetRef(self._db, self._name, doc_key,
                         tuple(int(k) for k in key_values))

    def df(self) -> DataFrame:
        out = load_table(self._db.spark, self._db.sf_dir, self._name)
        for p in self._predicates:
            out = out.where(p)
        return out

    def views(self, delete_on: str | None = "error",
              k: int = 10) -> "StandingViews":
        """Register (or fetch) the maintained standing-view family
        on this table's change stream: on `events` the full
        streaming/views.py family (grouped agg with retractions,
        support-relation min/max, the top-k enter/leave feed, the
        range index, and the full delta log); on `orders` the
        GenericAggViewRunner parameterization (generic_views.py) —
        same fold algebra, the table's own columns — surfaced
        through GenericStandingViews (agg / min-max / top-k / range
        reads and the per-row delta log). Other tables raise with
        the parameterization route:
        the machinery is table-agnostic, each table just needs its
        (key, seq, ts, group, value) mapping declared."""
        if self._predicates:
            raise ValueError(
                "standing views maintain the full table; "
                "use .changes() for filtered feeds")
        if self._name == "orders":
            if delete_on != "error":
                raise NotImplementedError(
                    "orders views run the shared orders_runner "
                    "configuration; the orders replay has no delete "
                    "events, so delete_on has nothing to interpret")
            if k < 1:
                raise ValueError(f"k must be >= 1, got {k}")
            from .streaming.generic_views import orders_runner

            # k is HONORED on the read path (topk_at is k-agnostic —
            # the widening index read just stops at k rows); only the
            # maintained enter/leave delta log is bound to the shared
            # runner's own width (ADVICE r9: the accepted-but-ignored
            # default k silently served 5 rows)
            return GenericStandingViews(
                orders_runner(self._db.spark, self._db.sf_dir), k=k)
        if self._name == "lineitem":
            if delete_on != "error":
                raise NotImplementedError(
                    "lineitem views run the shared lineitem_runner "
                    "configuration; the lineitem replay has no "
                    "delete events, so delete_on has nothing to "
                    "interpret")
            if k < 1:
                raise ValueError(f"k must be >= 1, got {k}")
            from .streaming.generic_views import lineitem_runner

            return GenericStandingViews(
                lineitem_runner(self._db.spark, self._db.sf_dir), k=k)
        if self._name != "events":
            raise KeyError(
                "standing views are wired for 'events' (full "
                "family), 'orders', and 'lineitem' (composite "
                "packed key) via GenericAggViewRunner; for "
                f"{self._name!r} instantiate GenericAggViewRunner "
                "with the table's (key, seq, ts, group, value) — "
                "composite keys pack through a `derive` expression "
                "(see lineitem_runner)")
        from .streaming.view_queries import _CACHE
        from .streaming.views import MaintainedViewsRunner

        key = (id(self._db.spark), self._db.sf_dir, "__api_views__",
               delete_on, k)
        if key not in _CACHE:
            r = MaintainedViewsRunner(
                self._db.spark, self._db.sf_dir,
                delete_on=delete_on, k=k)
            r.run()
            _CACHE[key] = r
        return StandingViews(_CACHE[key])

    def changes(self, key: str | None = None,
                mode: str = "replay",
                initial_scan: str = "yes",
                envelope: str = "full",
                diff: bool = False) -> Feed:
        """Register a standing keyed count+sum over this table's CDC
        stream (only `events` replays in this fixture set). Filters
        apply to the change payload, so rows that never match never
        touch state. For any key, state is the bucketed MVCC store,
        and each batch merges by one size gate: on the driver when
        its change rows, and its keyed delta plus the state of the
        buckets it touches, are few, executor-side otherwise
        (docs/changefeed-semantics.md, "Merge execution").

        `mode="replay"` (default) runs the feed to completion over
        the available changes and returns. `mode="live"` keeps the
        standing query RUNNING: push new change files with
        LiveFeed.ingest(), consume deltas incrementally with
        Feed.cursor().poll() or subscribe(), stop with LiveFeed.stop()
        — the subscribe-and-keep-receiving behavior of RethinkDB
        changes() / CREATE CHANGEFEED.
        A live feed, on `events` and on every other table, has no
        trigger: the runner's worker thread (replay.LiveWorker) commits
        each ingested file as its own batch as soon as it lands (batch
        id = file sequence), and an idle feed waits without polling,
        at under 1% of one core (Python plus JVM, 4-core host; docs/
        changefeed-semantics.md, "Continuous delivery").

        `initial_scan` (the CREATE CHANGEFEED option) controls what a
        NEW consumer sees of history (any feed table — r11):
        - "yes" (default): full catch-up — cursors start at batch 0,
          delivering every historical delta before new ones.
        - "no": the feed's cursors start AT registration time — only
          deltas committed afterwards are delivered (state is still
          maintained from the full history; in replay mode the
          history IS the replay, so a fresh cursor starts drained).
        - "only": one snapshot, no standing deltas — returns the
          materialized state; the delta log is not exposed.

        Tables other than `events` replay through the normalized
        multi-table envelope and serve a per-key count+sum feed
        (streaming/multitable.py). Filters work on ANY table column
        there — envelope columns (key/ts/value) take the direct fast
        path, other columns rewrite against the feed's `after` JSON
        payload image (r12). KEY BY accepts any integer- or
        string-typed column (the envelope key slot follows the key's
        own type) or a TUPLE of such columns (r13 — composite PKs
        like ("l_orderkey", "l_linenumber") key the feed through the
        canonical escaped-concat string encoding,
        multitable.composite_key_sql); live mode works there too."""
        if initial_scan not in ("yes", "no", "only"):
            raise ValueError(
                f"initial_scan must be 'yes'|'no'|'only', got "
                f"{initial_scan!r}"
            )
        if envelope not in ("full", "key_only"):
            raise ValueError(
                f"envelope must be 'full'|'key_only', got "
                f"{envelope!r}")
        if envelope == "key_only" and self._name == "events":
            raise NotImplementedError(
                "envelope='key_only' is a table-feed surface "
                "(multitable envelope); the events runner keeps "
                "its LWW value slot")
        if diff:
            if self._name == "events":
                raise NotImplementedError(
                    "WITH diff is a table-feed surface (the keyed "
                    "delta log carries the image prefix); events "
                    "feeds deliver LWW rows")
            if initial_scan == "only":
                raise ValueError(
                    "WITH diff needs the delta log; "
                    "initial_scan='only' feeds are snapshots")
        if initial_scan == "only" and mode == "live":
            raise ValueError(
                "initial_scan='only' is a one-shot snapshot; it cannot "
                "run as a live feed"
            )
        if self._name != "events" or isinstance(key, (tuple, list)):
            if self._name == "events":
                raise NotImplementedError(
                    "composite KEY BY is a table-feed surface "
                    "(multitable envelope); events feeds key on one "
                    "column (user_id / event_type)")
            from .streaming.multitable import (
                MultiTableChangefeedRunner,
                _normalize_key_override,
                envelope_spec,
            )

            # any envelope-mapped table (the _TABLE_MAP pair plus
            # every DOC_MAP/COMPOSITE_DOC_MAP table — round-10/13);
            # KEY BY any integer- or string-typed column — or a
            # tuple of them — re-keys the aggregate (envelope_spec
            # validates; unmapped tables and other key types still
            # raise loudly there)
            key = _normalize_key_override(key)
            default_key = envelope_spec(self._name)[0]
            overrides = (
                {self._name: key}
                if key is not None and key != default_key else None)
            if overrides:
                envelope_spec(self._name, key)  # loud validation now
            runner = MultiTableChangefeedRunner(
                self._db.spark, self._db.sf_dir, tables=(self._name,),
                filter_sql=(
                    " AND ".join(f"({p})" for p in self._predicates)
                    if self._predicates else None
                ),
                key_overrides=overrides,
                key_only=(envelope == "key_only"),
            )
            def _table_cursor_start() -> int:
                end = (
                    runner.log().agg(F.max("batch_id")).collect()[0][0]
                )
                return end + 1 if end is not None else 0

            if mode == "live":
                # capture the registration-time log end BEFORE the
                # standing query starts (mirrors the events path)
                start = (_table_cursor_start()
                         if initial_scan == "no" else 0)
                runner.start_live()
                return LiveTableFeed(runner, self._name,
                                     cursor_start=start,
                                     diff_default=diff)
            runner.run()
            if initial_scan == "only":
                return SnapshotTableFeed(runner, self._name)
            if initial_scan == "no":
                return TableFeed(runner, self._name,
                                 cursor_start=_table_cursor_start(),
                                 diff_default=diff)
            return TableFeed(runner, self._name, diff_default=diff)
        key = key or "event_type"
        filter_sql = None
        if self._predicates:
            filter_sql = " AND ".join(f"({p})" for p in self._predicates)
        runner = ChangefeedRunner(
            self._db.spark,
            self._db.sf_dir,
            key=key,
            filter_sql=filter_sql,
        )
        def _registration_cursor_start() -> int:
            # registration time == now: new cursors skip the whole
            # committed history and deliver only future deltas
            end = (
                runner.log().agg(F.max("batch_id")).collect()[0][0]
            )
            return end + 1 if end is not None else 0

        if mode == "live":
            # initial_scan='no' applies to live feeds too: capture the
            # registration-time log end BEFORE the standing query
            # starts, so cursors see only deltas committed afterwards
            # (a fresh runner has no history; a restarted root may).
            start = (_registration_cursor_start()
                     if initial_scan == "no" else 0)
            runner.start_live()
            return LiveFeed(runner, cursor_start=start)
        runner.run()
        if initial_scan == "only":
            return SnapshotFeed(runner)
        if initial_scan == "no":
            return Feed(runner, cursor_start=_registration_cursor_start())
        return Feed(runner)


def _resolve_doc_key(table: str, key: str | None) -> str | tuple:
    """The table's document key: user_id on events (the CDC replay
    key), the mapped primary key elsewhere — a COLUMN TUPLE for
    composite-key tables (lineitem). A caller-supplied key must
    MATCH it — a feed keyed on anything else would silently serve
    the wrong per-document semantics, so mismatches raise (same
    loud-refusal pattern as the unmapped-table check). The raise for
    unmapped tables now fires only for genuinely key-less shapes
    (every fixture table is mapped)."""
    from .streaming.doc_feeds import COMPOSITE_DOC_MAP, DOC_MAP

    if table == "events":
        doc_key: str | tuple = "user_id"
    elif table in DOC_MAP:
        doc_key = DOC_MAP[table][0]
    elif table in COMPOSITE_DOC_MAP:
        doc_key = COMPOSITE_DOC_MAP[table]["cols"]
    else:
        raise NotImplementedError(
            f"{table!r} has no declared document key; tables with "
            f"point feeds: "
            f"{('events', *sorted(DOC_MAP), *sorted(COMPOSITE_DOC_MAP))}")
    if key is not None and key != doc_key:
        raise NotImplementedError(
            f"point feeds on {table!r} are keyed on {doc_key!r} "
            f"(its document key); got key={key!r}")
    return doc_key


class RowRef:
    """A single key's row in the upsert/document view of a table —
    the point-lookup path of a changefeed store (RethinkDB
    `get(k)`, the secondary-index read shape). Any table in
    streaming/doc_feeds.DOC_MAP works; events keeps its native
    replay path."""

    def __init__(self, db: "Database", table: str,
                 key: str | tuple, key_value):
        self._db = db
        self._table = table
        self._key = key
        self._key_value = key_value

    def row(self) -> DataFrame:
        """The key's CURRENT row (last-writer-wins by (ts, event_id)
        on events; keys are unique on the mapped tables) — a point
        read against the document view. One partition-pruned/
        predicate-pushed scan; with a key-partitioned layout this
        touches one partition. Composite keys AND their column
        equalities (all pushed)."""
        base = load_table(self._db.spark, self._db.sf_dir,
                          self._table)
        if isinstance(self._key, tuple):
            for c, v in zip(self._key, self._key_value):
                base = base.where(F.col(c) == int(v))
            return base
        base = base.where(F.col(self._key) == self._key_value)
        if self._table != "events":
            return base
        return base.orderBy(
            F.col("ts").desc(), F.col("event_id").desc()).limit(1)

    def changes(self, delete_on: str | None = None) -> Feed:
        """Per-document feed: an upsert/LWW standing query filtered
        to this key — the envelope predicate runs before the merge,
        so other keys' changes never touch state."""
        if self._table != "events":
            if delete_on is not None:
                raise NotImplementedError(
                    "delete_on interprets an events event_type; "
                    f"{self._table!r} feeds are insert-only replays")
            from .streaming.doc_feeds import (
                GenericUpsertChangefeedRunner,
            )

            kv = (self._key_value if isinstance(self._key, tuple)
                  else int(self._key_value))
            runner = GenericUpsertChangefeedRunner(
                self._db.spark, self._db.sf_dir, self._table,
                key_values=(kv,))
            runner.run()
            return Feed(runner)
        from .streaming.changefeed import UpsertChangefeedRunner

        runner = UpsertChangefeedRunner(
            self._db.spark,
            self._db.sf_dir,
            delete_on=delete_on,
            filter_sql=f"after.{self._key} = {int(self._key_value)}",
        )
        runner.run()
        return Feed(runner)


class RowSetRef:
    """A small key SET's rows in the upsert/document view — RethinkDB
    `get_all(k1, k2, ...)`: the multi-key point-subscription shape.
    One standing query serves the whole set; the envelope predicate
    (`key IN (...)`) runs BEFORE the keyed merge, so state holds at
    most |keys| rows and non-member changes never touch it. Intended
    for bounded subscription sets (a dashboard's watchlist); an
    unbounded set is just `.changes()` on the table."""

    def __init__(self, db: "Database", table: str,
                 key: str | tuple, key_values: tuple):
        # key arrives pre-validated by _resolve_doc_key: it IS the
        # table's document key (user_id on events — the LWW state
        # key of UpsertChangefeedRunner — or the DOC_MAP primary
        # key / COMPOSITE_DOC_MAP column tuple), never a raw caller
        # string interpolated into filter_sql (ADVICE r8).
        self._db = db
        self._table = table
        self._key = _resolve_doc_key(table, key)
        self._key_values = key_values

    def rows(self) -> DataFrame:
        """Each key's CURRENT row (LWW by (ts, event_id) on events;
        keys are unique on the mapped tables) — one predicate-pushed
        scan (+ a per-key window cut on events). Composite keys
        filter as an OR of per-document column-equality ANDs (still
        a pushable predicate over a bounded watch set)."""
        base = load_table(self._db.spark, self._db.sf_dir,
                          self._table)
        if isinstance(self._key, tuple):
            cond = None
            for kv in self._key_values:
                c = F.lit(True)
                for col, v in zip(self._key, kv):
                    c = c & (F.col(col) == int(v))
                cond = c if cond is None else (cond | c)
            return base.where(cond)
        base = base.where(F.col(self._key).isin(*self._key_values))
        if self._table != "events":
            return base
        from pyspark.sql import Window

        w = Window.partitionBy(self._key).orderBy(
            F.col("ts").desc(), F.col("event_id").desc())
        return (
            base.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    def changes(self, delete_on: str | None = None) -> Feed:
        """Multi-key document feed: one upsert/LWW standing query
        filtered to the key set."""
        if self._table != "events":
            if delete_on is not None:
                raise NotImplementedError(
                    "delete_on interprets an events event_type; "
                    f"{self._table!r} feeds are insert-only replays")
            from .streaming.doc_feeds import (
                GenericUpsertChangefeedRunner,
            )

            runner = GenericUpsertChangefeedRunner(
                self._db.spark, self._db.sf_dir, self._table,
                key_values=self._key_values)
            runner.run()
            return Feed(runner)
        from .streaming.changefeed import UpsertChangefeedRunner

        in_list = ", ".join(str(k) for k in self._key_values)
        runner = UpsertChangefeedRunner(
            self._db.spark,
            self._db.sf_dir,
            delete_on=delete_on,
            filter_sql=f"after.{self._key} IN ({in_list})",
        )
        runner.run()
        return Feed(runner)


#: CREATE CHANGEFEED FOR <table> [WHERE <pred>]
#: [KEY BY <col> | KEY BY (<col>, <col>, ...)]
#: — the DDL text form (CockroachDB-style) of TableRef.changes();
#: the parenthesized list form keys the feed on a composite key
#: (r13, multitable.composite_key_sql encoding).
#: the WITH options clause is NOT a regex group: Database.sql splits
#: it off FIRST with a quote-aware scan (_split_ddl_options) — a
#: lazy regex group would let a WHERE literal containing the token
#: WITH terminate the predicate mid-literal (r13).
_CHANGEFEED_DDL = re.compile(
    r"^\s*CREATE\s+CHANGEFEED\s+FOR\s+(\w+)"
    r"(?:\s+WHERE\s+(.+?))?"
    r"(?:\s+KEY\s+BY\s+(\((?:\s*\w+\s*,)*\s*\w+\s*\)|\w+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_ddl_options(query: str) -> tuple[str, str | None]:
    """Split a CREATE CHANGEFEED statement at its LAST top-level
    WITH keyword, QUOTE-AWARE: the token WITH inside a WHERE
    predicate's string literal (``WHERE c = 'ships WITH care'``) is
    data, not the options clause — a bare-regex split would mis-cut
    the literal and then refuse its fragment as an unknown option.
    Returns (head, options-text-or-None)."""
    last = None
    for m in re.finditer(_SQL_LITERAL + r"|\bWITH\b", query,
                         re.IGNORECASE):
        if not m.group(0).startswith("'"):
            last = m
    if last is None:
        return query, None
    return query[:last.start()].rstrip(), query[last.end():].strip()


def _parse_changefeed_options(text: str) -> dict:
    """The CockroachDB-style DDL options clause (r13):
    ``WITH diff``, ``WITH envelope = 'key_only'``,
    ``WITH initial_scan = 'yes'|'no'|'only'``, comma-separated.
    Unknown options raise loudly — a silently dropped delivery
    option is a correctness bug on the consumer side."""
    opts: dict = {}
    for raw in text.rstrip().rstrip(";").split(","):
        tok = raw.strip()
        if not tok:
            continue
        if re.fullmatch(r"diff", tok, re.IGNORECASE):
            opts["diff"] = True
            continue
        m = re.fullmatch(
            r"(envelope|initial_scan)\s*=\s*'(\w+)'", tok,
            re.IGNORECASE)
        if m:
            opts[m.group(1).lower()] = m.group(2).lower()
            continue
        raise ValueError(
            f"unknown CHANGEFEED option {tok!r}; supported: "
            "diff, envelope = '<full|key_only>', "
            "initial_scan = '<yes|no|only>'")
    return opts

#: SQL single-quoted string literal (ANSI doubled quote or backslash
#: escape) — the QUALIFY/DISTINCT scanners consume these whole so a
#: keyword INSIDE a literal is never treated as a clause (r12 ADVICE:
#: the bare-regex detector fired on '%QUALIFY%' LIKE patterns).
_SQL_LITERAL = r"'(?:[^'\\]|\\.|'')*'"

_QUALIFY_TOK = re.compile(
    _SQL_LITERAL + r"|[()]|\bQUALIFY\b", re.IGNORECASE)

_DISTINCT_TOK = re.compile(
    _SQL_LITERAL + r"|[()]|\bSELECT\s+DISTINCT\b", re.IGNORECASE)


def _find_toplevel_qualify(text: str):
    """(match-of-last-top-level-QUALIFY, nested_seen) — the scan is
    quote-aware (literals consumed whole) and paren-aware (QUALIFY
    inside a parenthesized subquery is NOT the statement's final
    clause). nested_seen reports a depth>0 QUALIFY so the caller can
    refuse loudly instead of shipping Spark an opaque parse error."""
    depth, top, nested = 0, None, False
    for m in _QUALIFY_TOK.finditer(text):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif tok.upper() == "QUALIFY":
            if depth == 0:
                top = m
            else:
                nested = True
    return top, nested


def _has_toplevel_select_distinct(body: str) -> bool:
    """True if the query body's own projection is SELECT DISTINCT
    (outside parens/literals). Native QUALIFY (DuckDB/Snowflake/
    BigQuery) evaluates the window predicate BEFORE DISTINCT; the
    subquery rewrite would evaluate it after — silently different
    rows — so such bodies are refused (ADVICE r12)."""
    depth = 0
    for m in _DISTINCT_TOK.finditer(body):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0 and tok.upper().startswith("SELECT"):
            return True
    return False


_BODY_TOK = re.compile(
    _SQL_LITERAL
    + r"|[()]|\bFROM\b|\bUNION\b|\bINTERSECT\b|\bEXCEPT\b",
    re.IGNORECASE)


def _find_splice_point(body: str):
    """Offset of the body's top-level FROM — where the QUALIFY
    predicate can be SPLICED into the body's own select list so it
    sees every column of the FROM scope (native QUALIFY visibility),
    not just the projected ones. None when splicing would be wrong
    or impossible: a top-level set operation (the predicate must
    apply to the combined result), or no top-level FROM — callers
    fall back to the wrap-in-subquery rewrite."""
    depth, from_pos, setop = 0, None, False
    for m in _BODY_TOK.finditer(body):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif tok.startswith("'"):
            continue
        elif depth == 0:
            if tok.upper() == "FROM":
                if from_pos is None:
                    from_pos = m.start()
            else:
                setop = True
    return None if setop else from_pos


def _has_toplevel_order_or_limit(pred: str) -> bool:
    """True if ORDER BY / LIMIT appears in `pred` OUTSIDE
    parentheses and string literals — i.e. as a trailing query
    clause, not inside an OVER(...) window spec (which legitimately
    contains ORDER BY) or a quoted string."""
    depth = 0
    for m in re.finditer(
            _SQL_LITERAL + r"|[()]|\bORDER\s+BY\b|\bLIMIT\b", pred,
            re.IGNORECASE):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif tok != ")" and not tok.startswith("'") and depth == 0:
            return True
    return False


#: ANSI row-limiting clause as the statement's FINAL text: because the
#: pattern is end-anchored, a FETCH inside a subquery (followed by at
#: least ")") or inside a string literal (followed by the closing
#: quote) can never match — the anchor IS the top-level check.
_FETCH_TAIL = re.compile(
    r"\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?"
    r"\s+(WITH\s+TIES|ONLY)\s*;?\s*$",
    re.IGNORECASE)


def _find_toplevel_order_by(body: str):
    """Match of the LAST top-level ORDER BY in `body` (outside
    parens — an OVER(...) window spec's ORDER BY is depth>0 — and
    outside string literals), or None. The last one is the query's
    trailing sort clause; earlier top-level ORDER BYs cannot occur
    in a valid single statement."""
    depth, pos = 0, None
    for m in re.finditer(
            _SQL_LITERAL + r"|[()]|\bORDER\s+BY\b", body,
            re.IGNORECASE):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif not tok.startswith("'") and depth == 0:
            pos = m
    return pos


_STAR_HEAD = re.compile(r"^\s*SELECT\s+\*\s+", re.IGNORECASE)

_ASOF_HEAD = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<rest>.+)$",
    re.IGNORECASE | re.DOTALL)

#: one qualified-column comparison: alias.col OP alias.col
_ASOF_COND = re.compile(
    r"^\s*(\w+)\.(\w+)\s*(>=|<=|=|>|<)\s*(\w+)\.(\w+)\s*$")


def _find_toplevel_token(text: str, word_pat: str):
    """Match of the FIRST top-level occurrence of `word_pat`
    (regex, case-insensitive) outside parens and string literals,
    or None."""
    depth = 0
    for m in re.finditer(
            _SQL_LITERAL + r"|[()]|" + word_pat, text,
            re.IGNORECASE):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif not tok.startswith("'") and depth == 0:
            return m
    return None


def _split_toplevel_and(text: str) -> list[str]:
    """Split a boolean conjunction on top-level AND keywords."""
    parts, depth, start = [], 0, 0
    for m in re.finditer(_SQL_LITERAL + r"|[()]|\bAND\b", text,
                         re.IGNORECASE):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif not tok.startswith("'") and depth == 0:
            parts.append(text[start:m.start()])
            start = m.end()
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


def _rel_and_alias(text: str) -> tuple[str, str]:
    """Split '<relation> [AS] <alias>' — relation is a table name
    or a parenthesized subquery; the trailing bare word is the
    alias (REQUIRED: the ON/select lists reference sides by
    alias)."""
    t = text.strip()
    m = re.fullmatch(r"(?P<rel>\(.*\)|\w+)(?:\s+(?:AS\s+)?"
                     r"(?P<alias>\w+))?", t,
                     re.IGNORECASE | re.DOTALL)
    if not m or not m.group("alias"):
        raise NotImplementedError(
            f"ASOF JOIN sides need an alias ('t a' or '(...) a'); "
            f"got {t!r}")
    return m.group("rel"), m.group("alias")


def _split_toplevel_commas(text: str) -> list[str]:
    """Split on commas outside parens and string literals."""
    parts, depth, start = [], 0, 0
    for m in re.finditer(_SQL_LITERAL + r"|[(),]", text):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif tok == "," and depth == 0:
            parts.append(text[start:m.start()])
            start = m.end()
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


def _scan_paren_group(text: str, i: int) -> tuple[str, int]:
    """text[i] must be '('; returns (content, index past the
    matching ')'). Quote-aware — parens inside string literals do
    not count."""
    assert text[i] == "("
    depth, j = 0, i
    lit = re.compile(_SQL_LITERAL)
    while j < len(text):
        ch = text[j]
        if ch == "'":
            m = lit.match(text, j)
            if not m:
                break
            j = m.end()
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return text[i + 1:j], j + 1
        j += 1
    raise ValueError("unbalanced parentheses in star modifier")


class Database:
    """Entry point binding a SparkSession to a data directory."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir

    def table(self, name: str) -> TableRef:
        return TableRef(self, name)

    def _rewrite_asof_join(self, query: str):
        """DuckDB-style ``ASOF [LEFT] JOIN`` SQL (r13) — absent from
        Spark SQL — lowered onto the engine's union-merge as-of
        plan (the join_asof shape): tag both sides, ONE window over
        (keys, time, side) carries the last/next right row forward
        with last(..., ignorenulls) — O(n log n) per key whatever
        the fan-in, never the naive range-join. Supported statement
        shape (everything else refuses loudly, naming the reason):
        ``SELECT <qualified cols> FROM <rel> a ASOF [LEFT] JOIN
        <rel> b ON <equalities AND exactly-one inequality>`` where
        <rel> is a table or parenthesized subquery and every
        condition/select term is alias-qualified. Inequality
        direction sets the match side (>= / > backward — latest
        right at-or-before / strictly-before; <= / < forward), and
        strictness decides whether an equal timestamp matches (the
        tie is the side sort key, stated not engine-luck). Returns
        None when the statement has no top-level ASOF JOIN."""
        jm = _find_toplevel_token(
            query, r"\bASOF\s+(?:LEFT\s+)?JOIN\b")
        if jm is None:
            return None
        if _FETCH_TAIL.search(query) or \
                _find_toplevel_qualify(query)[0] is not None:
            raise NotImplementedError(
                "combine ASOF JOIN with QUALIFY/FETCH in an outer "
                "query around the join")
        sm = re.match(r"^\s*SELECT\s+", query, re.IGNORECASE)
        fm = _find_toplevel_token(query, r"\bFROM\b")
        if not sm or not fm or fm.start() < sm.end():
            raise NotImplementedError(
                "ASOF JOIN is supported on a plain top-level "
                "SELECT ... FROM statement")
        sel = query[sm.end():fm.start()].strip()
        if re.search(r"(?<![\w.])\*", sel):
            raise NotImplementedError(
                "qualify the select list on an ASOF JOIN "
                "(alias.col or alias.*); a bare * is ambiguous "
                "across the two sides")
        rest = query[fm.end():]
        jm = _find_toplevel_token(
            rest, r"\bASOF\s+(?:LEFT\s+)?JOIN\b")
        left_outer = "LEFT" in jm.group(0).upper()
        om = _find_toplevel_token(rest[jm.end():], r"\bON\b")
        if om is None:
            raise NotImplementedError("ASOF JOIN needs an ON clause")
        lrel, la = _rel_and_alias(rest[:jm.start()])
        rrel, ra = _rel_and_alias(rest[jm.end():][:om.start()])
        if la.lower() == ra.lower():
            raise NotImplementedError(
                f"ASOF JOIN sides share the alias {la!r}; name "
                "them differently")
        cond_text = rest[jm.end():][om.end():].strip().rstrip(";")
        eqs: list[tuple[str, str]] = []
        ineq = None
        flip = {">": "<", "<": ">", ">=": "<=", "<=": ">=",
                "=": "="}
        for c in _split_toplevel_and(cond_text):
            cm = _ASOF_COND.match(c)
            if not cm:
                raise NotImplementedError(
                    f"ASOF JOIN condition {c.strip()!r} is not a "
                    "plain alias.col comparison (trailing clauses "
                    "belong in an outer query)")
            a1, c1, op, a2, c2 = cm.groups()
            if {a1.lower(), a2.lower()} != {la.lower(), ra.lower()}:
                raise NotImplementedError(
                    f"condition {c.strip()!r} must reference both "
                    f"sides ({la}, {ra})")
            if a1.lower() == ra.lower():  # normalize left-first
                a1, c1, op, a2, c2 = a2, c2, flip[op], a1, c1
            if op == "=":
                eqs.append((c1, c2))
            elif ineq is not None:
                raise NotImplementedError(
                    "ASOF JOIN takes exactly ONE inequality (the "
                    "match axis)")
            else:
                ineq = (c1, op, c2)
        if ineq is None:
            raise NotImplementedError(
                "ASOF JOIN needs an inequality condition (the "
                "match axis)")
        from pyspark.sql import Window
        from pyspark.sql.types import StructType

        ldf = self.spark.sql(f"SELECT * FROM {lrel} {la}")
        rdf = self.spark.sql(f"SELECT * FROM {rrel} {ra}")
        for col, df, side in ((ineq[0], ldf, la),
                              (ineq[2], rdf, ra)):
            if col not in df.columns:
                raise KeyError(
                    f"{side}.{col} is not a column of that side "
                    f"({df.columns})")
        lcol, op, rcol = ineq
        backward = op in (">=", ">")
        strict = op in (">", "<")
        r_side, l_side = (1, 0) if strict else (0, 1)
        keys = [f"__k{i}" for i in range(len(eqs))]
        l_t = ldf.select(
            *[F.col(lc).alias(k) for k, (lc, _) in zip(keys, eqs)],
            F.col(lcol).alias("__t"),
            F.lit(l_side).alias("__s"),
            F.struct(*ldf.columns).alias("__l"),
            F.lit(None).cast(StructType(rdf.schema.fields))
            .alias("__r"),
        )
        r_t = rdf.select(
            *[F.col(rc).alias(k) for k, (_, rc) in zip(keys, eqs)],
            F.col(rcol).alias("__t"),
            F.lit(r_side).alias("__s"),
            F.lit(None).cast(StructType(ldf.schema.fields))
            .alias("__l"),
            F.struct(*rdf.columns).alias("__r"),
        )
        # SQL join semantics: NULL keys / NULL axis values on the
        # right match nothing — drop them so the NULL window
        # partition cannot hand them to NULL-keyed left rows
        for k in keys:
            r_t = r_t.where(F.col(k).isNotNull())
        r_t = r_t.where(F.col("__t").isNotNull())
        order = [F.col("__t").asc() if backward
                 else F.col("__t").desc(), F.col("__s").asc()]
        w = (Window.partitionBy(*keys).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, 0))
        matched = (
            l_t.unionByName(r_t)
            .withColumn("__m", F.last("__r", ignorenulls=True)
                        .over(w))
            .where(F.col("__l").isNotNull())
            .select(F.col("__l"), F.col("__m").alias("__r"))
        )
        if not left_outer:
            matched = matched.where(F.col("__r").isNotNull())
        matched.createOrReplaceTempView("__asof_result__")

        def _alias_sub(text: str) -> str:
            pat = (_SQL_LITERAL
                   + rf"|\b{re.escape(la)}\.|\b{re.escape(ra)}\.")

            def repl(m: re.Match) -> str:
                tok = m.group(0)
                if tok.startswith("'"):
                    return tok
                return ("__l." if tok[:-1].lower() == la.lower()
                        else "__r.")

            return re.sub(pat, repl, text, flags=re.IGNORECASE)

        return self.spark.sql(
            f"SELECT {_alias_sub(sel)} FROM __asof_result__")

    def _spark_sql(self, text: str):
        """spark.sql with the DuckDB star-modifier bridge (r13):
        ``SELECT * EXCLUDE (cols)`` maps to Spark's native ``*
        EXCEPT (cols)``; ``REPLACE (expr AS col, ...)`` — which
        Spark has no native form of — is emulated by resolving the
        base star's columns (analysis only, nothing executes) and
        emitting the full projection with the named columns replaced
        IN PLACE, so positional semantics match DuckDB exactly.
        REPLACE is honest about its scope: it applies when the
        modifiers directly precede the top-level FROM (the plain
        ``SELECT * ... FROM ...`` statement shape); other shapes
        raise rather than guessing at an expansion. Every SQL-layer
        path (plain, QUALIFY, FETCH) funnels through here, so the
        modifiers compose with those rewrites."""
        m = _STAR_HEAD.match(text)
        if not m:
            return self.spark.sql(text)
        pos = m.end()
        exclude: list[str] = []
        replace: list[tuple[str, str]] = []
        while True:
            mm = re.match(r"(EXCLUDE|REPLACE)\s*\(", text[pos:],
                          re.IGNORECASE)
            if not mm:
                break
            kind = mm.group(1).upper()
            content, after = _scan_paren_group(
                text, pos + mm.end() - 1)
            pos += after - pos
            if kind == "EXCLUDE":
                exclude.extend(_split_toplevel_commas(content))
            else:
                for item in _split_toplevel_commas(content):
                    pm = re.fullmatch(
                        r"(.+)\s+AS\s+(\w+)", item,
                        re.IGNORECASE | re.DOTALL)
                    if not pm:
                        raise ValueError(
                            f"REPLACE item must be 'expr AS "
                            f"col': {item!r}")
                    replace.append(
                        (pm.group(1).strip(), pm.group(2)))
            pos += len(text[pos:]) - len(text[pos:].lstrip())
        if not exclude and not replace:
            return self.spark.sql(text)
        rest = text[pos:]
        if not replace:
            return self.spark.sql(
                f"SELECT * EXCEPT ({', '.join(exclude)}) {rest}")
        if not re.match(r"FROM\b", rest, re.IGNORECASE):
            raise NotImplementedError(
                "REPLACE is supported on the plain 'SELECT * "
                "[EXCLUDE (...)] REPLACE (...) FROM ...' shape; "
                "rewrite other shapes as an explicit projection")
        base_cols = self.spark.sql("SELECT * " + rest).columns
        rmap = {c.lower(): e for e, c in replace}
        for _, c in replace:
            if c.lower() not in (b.lower() for b in base_cols):
                raise ValueError(
                    f"REPLACE target {c!r} is not a column of "
                    f"the star expansion ({base_cols})")
        excl = {c.lower() for c in exclude}
        for c in exclude:
            if c.lower() not in (b.lower() for b in base_cols):
                raise ValueError(
                    f"EXCLUDE column {c!r} is not a column of "
                    f"the star expansion ({base_cols})")
        proj = [
            f"{rmap[c.lower()]} AS {c}" if c.lower() in rmap else c
            for c in base_cols if c.lower() not in excl
        ]
        return self.spark.sql(
            "SELECT " + ", ".join(proj) + " " + rest)

    def sql(self, query: str):
        """SQL-text surface. Queries run over the registered views
        and return a DataFrame. The one DDL statement the engine
        owns — `CREATE CHANGEFEED FOR t [WHERE pred] [KEY BY col]` —
        registers and runs a standing query and returns its Feed.

        QUALIFY <pred> as a query's FINAL clause (the window filter
        of DuckDB/Snowflake/BigQuery, absent from Spark SQL) is
        accepted and rewritten into the standard subquery form:
        project the window predicate, filter on it, drop it — the
        exact relational algebra QUALIFY sugars. The detector is
        quote- and paren-aware (r13): the word QUALIFY inside a
        string literal is data, and a QUALIFY inside a parenthesized
        subquery raises (rewrite the subquery by hand or lift the
        clause) rather than mangling the statement. Refused loudly,
        with the reason: a QUALIFY followed by ORDER BY / LIMIT
        (put them in an outer query — a partially honored clause
        would silently reorder results), and a SELECT DISTINCT body
        (native QUALIFY filters BEFORE DISTINCT; the rewrite would
        filter after — silently different rows). The predicate is
        SPLICED into the body's own select list (r13), so — like
        native QUALIFY — it may reference any column of the FROM
        scope, projected or not; only set-op / FROM-less bodies fall
        back to the wrapping rewrite, where the predicate sees
        projected columns only. Referencing a select-list ALIAS
        inside the window spec raises Spark's own
        LATERAL_COLUMN_ALIAS_IN_WINDOW (name the underlying
        expression instead)."""
        is_cf = re.match(r"^\s*CREATE\s+CHANGEFEED\b", query,
                         re.IGNORECASE)
        if is_cf:
            # quote-aware options split FIRST (the regex's lazy
            # WHERE group would otherwise cut a predicate literal
            # containing the token WITH)
            head, opts_text = _split_ddl_options(query)
            m = _CHANGEFEED_DDL.match(head)
            if m is None and opts_text is not None:
                # the WITH belonged to the statement body after all
                m, opts_text = _CHANGEFEED_DDL.match(query), None
        else:
            m, opts_text = None, None
        if m:
            table, pred, key = m.group(1), m.group(2), m.group(3)
            ref = self.table(table.lower())
            if pred:
                ref = ref.filter(pred.strip())
            # no KEY BY → table default (event_type for events, the
            # primary key for envelope-replayed tables); KEY BY
            # (a, b, ...) → composite key tuple
            key_arg = None
            if key:
                key = key.strip()
                if key.startswith("("):
                    key_arg = tuple(
                        c.strip().lower()
                        for c in key[1:-1].split(","))
                else:
                    key_arg = key.lower()
            opts = (_parse_changefeed_options(opts_text)
                    if opts_text else {})
            return ref.changes(
                key=key_arg,
                envelope=opts.get("envelope", "full"),
                diff=opts.get("diff", False),
                initial_scan=opts.get("initial_scan", "yes"))
        from .catalog import register_views

        register_views(self.spark, self.sf_dir)
        asof = self._rewrite_asof_join(query)
        if asof is not None:
            return asof
        fm = _FETCH_TAIL.search(query)
        if fm:
            # ANSI row-limiting clause (Postgres/DuckDB-absent in
            # Spark SQL): FETCH FIRST n ROWS ONLY is LIMIT n; WITH
            # TIES additionally keeps every row tying the n-th on
            # the ORDER BY key — sugar for rank() <= n, which the
            # rewrite makes explicit (r13). The ORDER BY is REQUIRED
            # by the standard for WITH TIES (ties are defined by it).
            n = int(fm.group(1))
            ties = fm.group(2).upper().startswith("WITH")
            body = query[:fm.start()].rstrip()
            if _find_toplevel_qualify(body)[0] is not None:
                raise NotImplementedError(
                    "QUALIFY and FETCH in one statement: apply "
                    "FETCH in an outer query around the QUALIFY "
                    "body instead")
            if not ties:
                return self._spark_sql(f"{body} LIMIT {n}")
            ob = _find_toplevel_order_by(body)
            if ob is None:
                raise ValueError(
                    "FETCH ... WITH TIES requires a top-level "
                    "ORDER BY (ties are defined by the sort key)")
            keys = body[ob.end():].strip()
            if not keys:
                raise ValueError("ORDER BY needs sort keys")
            rank = f"rank() OVER (ORDER BY {keys})"
            # splice the rank into the body's own select list (the
            # QUALIFY visibility rule: the sort key may name columns
            # the query never projects); set-op / FROM-less bodies
            # fall back to the wrapping rewrite, where the key sees
            # projected columns only
            splice = _find_splice_point(body)
            if splice is not None:
                sql = (f"{body[:splice]}, {rank} AS __ties_rank__ "
                       f"{body[splice:]}")
            else:
                sql = (f"SELECT *, {rank} AS __ties_rank__ "
                       f"FROM ({body})")
            return (
                self._spark_sql(sql)
                .where(f"__ties_rank__ <= {n}")
                .drop("__ties_rank__")
            )
        q, nested = _find_toplevel_qualify(query)
        if q is not None:
            body = query[:q.start()].rstrip()
            pred = query[q.end():].strip().rstrip(";").strip()
            if not pred:
                raise ValueError("QUALIFY needs a predicate")
            if _has_toplevel_order_or_limit(pred):
                raise NotImplementedError(
                    "QUALIFY must be the final clause; wrap ORDER "
                    "BY / LIMIT around the query instead")
            if nested:  # the full-statement scan saw a depth>0 one
                raise NotImplementedError(
                    "QUALIFY inside a subquery is not rewritten; "
                    "rewrite that subquery as the explicit window+"
                    "filter form, or lift the clause to the top "
                    "level")
            if _has_toplevel_select_distinct(body):
                raise NotImplementedError(
                    "QUALIFY on a SELECT DISTINCT body: native "
                    "QUALIFY filters before DISTINCT, the subquery "
                    "rewrite would filter after — the results would "
                    "silently differ. Apply DISTINCT in an outer "
                    "query instead")
            # preferred rewrite (r13): SPLICE the predicate into the
            # body's own select list — it then sees the full FROM
            # scope, so (like native QUALIFY) it may reference
            # columns the query does not project. When the predicate
            # instead references a select-list ALIAS (also legal in
            # native QUALIFY — e.g. ranking on an aggregate's alias
            # over a GROUP BY body), the splice fails analysis
            # (Spark refuses lateral aliases inside window specs),
            # so it FALLS BACK to the wrap-in-subquery form, where
            # the predicate sees exactly the projected columns the
            # alias names. Set-op / FROM-less bodies go straight to
            # the wrap form. A predicate bad under BOTH scopes
            # re-raises the splice's error (the fuller scope).
            from pyspark.errors import AnalysisException

            wrap_sql = (f"SELECT *, ({pred}) AS __qualify__ FROM "
                        f"({body})")
            splice = _find_splice_point(body)
            if splice is not None:
                sql = (f"{body[:splice]}, ({pred}) AS __qualify__ "
                       f"{body[splice:]}")
                try:
                    out = self._spark_sql(sql)
                except AnalysisException as splice_err:
                    try:
                        out = self._spark_sql(wrap_sql)
                    except AnalysisException:
                        raise splice_err from None
            else:
                out = self._spark_sql(wrap_sql)
            return out.where("__qualify__").drop("__qualify__")
        if nested:
            raise NotImplementedError(
                "QUALIFY inside a subquery is not rewritten; "
                "rewrite that subquery as the explicit window+"
                "filter form, or lift the clause to the top level")
        return self._spark_sql(query)


class GenericStandingViews:
    """StandingViews over a GenericAggViewRunner — the fluent
    surface of the table-agnostic view library (generic_views.py):
    grouped agg, support-relation min/max, the O(k + band) top-k
    read, the banded range read, and the per-row {old,new} delta
    log, all on the runner's OWN column names — including the top-k
    ENTER/LEAVE delta feed (top_k_changes; the generic runner keeps
    the same durable per-batch membership log as the events family
    since round 10). `k` is the top_k() READ width (honored per
    call-site); the maintained delta log's width is the runner's
    own."""

    def __init__(self, runner, k: int | None = None):
        self._runner = runner
        self._k = k if k is not None else runner.k

    @property
    def _last(self) -> int:
        batches = self._runner._batches
        if not batches:
            raise RuntimeError("standing views have no committed "
                               "version yet")
        return max(batches)

    def group_agg(self) -> DataFrame:
        r = self._runner
        return r._agg.df_at(self._last).select(
            r.group, "cnt",
            F.col("sum_value").cast("double").alias("sum_value"))

    def min_max(self) -> DataFrame:
        r = self._runner
        return (
            r._support.df_at(self._last)
            .groupBy(r.group)
            .agg(F.sum("cnt").alias("n"),
                 F.min(r.value).alias("min_value"),
                 F.max(r.value).alias("max_value"))
        )

    def top_k(self) -> list:
        """Current top-k (key, value, seq), best first — the
        widening banded read (O(k + band), never whole-state), at
        the width requested at views(k=...) time."""
        return self._runner.topk_at(self._last, self._k)

    def top_k_changes(self) -> DataFrame:
        """The enter/leave/update delta log of the top-k view (the
        runner's maintained feed width), committed batches only."""
        return self._runner.topk_log()

    def between(self, lo: float, hi: float) -> DataFrame:
        """Range read on the value index — only bands overlapping
        [lo, hi] are listed from the manifest."""
        return self._runner._index.between(self._last, lo, hi)

    def changes(self) -> DataFrame:
        """The full per-row {old,new} delta log of the base table
        (generic runner changelog; old_* NULL on first
        appearance)."""
        return self._runner.delta_log()

    def register_sql(self, prefix: str | None = None) -> list[str]:
        prefix = prefix or self._runner.table
        pairs = [
            (f"{prefix}_agg_view", self.group_agg()),
            (f"{prefix}_minmax_view", self.min_max()),
            (f"{prefix}_topk_log", self.top_k_changes()),
            (f"{prefix}_changes", self.changes()),
        ]
        for name, df in pairs:
            df.createOrReplaceTempView(name)
        return [n for n, _ in pairs]


class StandingViews:
    """The maintained standing-view surface of a table — RethinkDB's
    query.changes() family generalized to derived views (see
    streaming/views.py): every accessor below reads the LATEST
    committed version of a view that is maintained incrementally
    from the table's delta stream, never recomputed from scratch."""

    def __init__(self, runner):
        self._runner = runner

    @property
    def _last(self) -> int:
        batches = self._runner._batches
        if not batches:
            raise RuntimeError("standing views have no committed "
                               "version yet")
        return max(batches)

    def group_agg(self) -> DataFrame:
        """Per-event_type count/sum — IVM with retractions."""
        from pyspark.sql import functions as F

        return self._runner._agg.df_at(self._last).select(
            "event_type", "cnt",
            F.col("sum_value").cast("double").alias("sum_value"))

    def min_max(self) -> DataFrame:
        """Per-event_type min/max/count from the support relation."""
        from pyspark.sql import functions as F

        return (
            self._runner._support.df_at(self._last)
            .groupBy("event_type")
            .agg(F.sum("cnt").alias("n"),
                 F.min("value").alias("min_value"),
                 F.max("value").alias("max_value"))
        )

    def top_k(self) -> list:
        """Current top-k membership (user_id, value, event_id),
        best first — an O(k) read off the range index."""
        return self._runner._topk_at(self._last)

    def top_k_changes(self) -> DataFrame:
        """The enter/leave/update delta log of the top-k view."""
        return self._runner.topk_log()

    def between(self, lo: float, hi: float) -> DataFrame:
        """Range read on the value index — only bands overlapping
        [lo, hi] are listed from the manifest (O(selectivity))."""
        return self._runner._index.between(self._last, lo, hi)

    def changes(self) -> DataFrame:
        """The full-row {old,new} delta log of the base table."""
        return self._runner.delta_log()

    def register_sql(self, prefix: str = "events") -> list[str]:
        """Expose the current view versions to SQL: registers
        <prefix>_agg_view, <prefix>_minmax_view, <prefix>_topk_log
        and <prefix>_changes as temp views so `db.sql()` text can
        query the maintained state like any table.  Re-registering
        after new commits swaps in the newer version (the temp view
        binds the version read at call time — MVCC snapshot
        semantics, not a live reference)."""
        pairs = [
            (f"{prefix}_agg_view", self.group_agg()),
            (f"{prefix}_minmax_view", self.min_max()),
            (f"{prefix}_topk_log", self.top_k_changes()),
            (f"{prefix}_changes", self.changes()),
        ]
        for name, df in pairs:
            df.createOrReplaceTempView(name)
        return [n for n, _ in pairs]
