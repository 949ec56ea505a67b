"""Multi-table changefeed — TWO distinct source tables' change
streams consumed by ONE standing query, with per-table high-water
marks and a cross-table RESOLVED timestamp (the CockroachDB
multi-table changefeed shape; the last inferred capability gap from
round 1's verdict).

Unlike MultiChangefeedRunner (N standing queries over one stream),
this runner is one standing query over N streams: `events` and
`orders` are replayed as separate time-ordered chunk dirs, each
normalized to a common envelope {tbl, op, key, ts, value}, and batch
i is the union of every table's chunk i. Every micro-batch merges
both tables' keyed deltas in ONE foreachBatch transaction, so the
state
version at any committed batch is a consistent cross-table
snapshot. resolved(batch) = min over tables of that table's
cumulative max processed ts — a reader at resolved_ts sees every
change from EVERY table up to that time, and possibly none after.
In live mode (start_live) the enveloped rows of every table land in
one live-<seq> file sequence, each file one batch of the same merge
(replay.LiveWorker).

Scale: the merge is the executor-side full-outer join on the
composite (tbl, key) — at 100 TB each table's partial aggregate
combines map-side and only (tbl, key, cnt, sum) crosses the
shuffle; the sources become two Kafka topics with the same
normalization, everything downstream unchanged.
"""

from __future__ import annotations

import os
import re
import shutil
from ..tmputil import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .changefeed import ChangefeedRunner
from .replay import _chunk_dir, _write_chunk, default_chunks
from .replay import LiveWorker, chunk_paths, replay_files

_STATE_DEC = "decimal(28,6)"

ENVELOPE_DDL = (
    "tbl string, op string, key bigint, ts timestamp, value double"
)

#: table name → (key column, ts column, value column)
_TABLE_MAP = {
    "events": ("user_id", "ts", "value"),
    "orders": ("o_custkey", "o_orderdate", "o_totalprice"),
}

_INTEGRAL = ("byte", "short", "integer", "long")

#: SQL single-quoted string literal, covering both the ANSI doubled
#: quote ('it''s') and the backslash escape Spark accepts ('it\'s') —
#: substitutions must never rewrite text INSIDE one (ADVICE r12: a
#: filter like o_comment = 'o_totalprice pending' was silently
#: mangling the literal's content).
_SQL_QUOTED = re.compile(r"'(?:[^'\\]|\\.|'')*'")


def _sub_outside_literals(pattern: str, repl, text: str) -> str:
    """re.sub applied only to the stretches of `text` OUTSIDE SQL
    string literals; the literals pass through byte-identical."""
    out, pos = [], 0
    for m in _SQL_QUOTED.finditer(text):
        out.append(re.sub(pattern, repl, text[pos:m.start()]))
        out.append(m.group(0))
        pos = m.end()
    out.append(re.sub(pattern, repl, text[pos:]))
    return "".join(out)


def _normalize_key_override(key_override):
    """None | column | sequence-of-columns → None | str | tuple.
    A 1-element sequence collapses to its column (same feed)."""
    if key_override is None or isinstance(key_override, str):
        return key_override
    cols = tuple(key_override)
    if not cols:
        raise ValueError("KEY BY needs at least one column")
    return cols[0] if len(cols) == 1 else cols


def composite_key_sql(cols: tuple[str, ...]) -> str:
    """ANSI-SQL text of the canonical composite-key encoding — the
    SAME recipe _composite_key_col builds as Spark expressions, so a
    DuckDB oracle derives the key from one shared definition. Each
    part renders as 'n' when NULL, else 'v' followed by the part's
    string form with backslashes doubled and '|' escaped; parts join
    on '|'. Injective by the standard escape argument: the separator
    never appears unescaped inside an encoded part, and the n/v
    prefix keeps NULL distinct from every real value (including the
    empty string). Intended for DuckDB (standard-conforming string
    literals: '\\' is two backslashes) — the Spark side uses Column
    expressions, never this text."""
    parts = [
        "CASE WHEN {c} IS NULL THEN 'n' ELSE 'v' || "
        "replace(replace(CAST({c} AS VARCHAR), '\\', '\\\\'), "
        "'|', '\\|') END".format(c=c)
        for c in cols
    ]
    return " || '|' || ".join(parts)


def _composite_key_col(cols: tuple[str, ...]):
    """The composite key as a Spark string Column — the expression
    twin of composite_key_sql (one encoding, two engines)."""
    parts = []
    for c in cols:
        col = F.col(c)
        esc = F.replace(
            F.replace(col.cast("string"),
                      F.lit("\\"), F.lit("\\\\")),
            F.lit("|"), F.lit("\\|"))
        parts.append(
            F.when(col.isNull(), F.lit("n"))
            .otherwise(F.concat(F.lit("v"), esc)))
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, F.lit("|"), p)
    return out


def composite_key_decode(key_col, names: tuple[str, ...]):
    """Inverse of the composite encoding — the consumer-side decode
    of a feed's encoded key back into its part columns: splits the
    key on unescaped separators (each part is 'n' or 'v' + an
    escaped body, so the form is prefix-unambiguous), then unescapes
    '\\|' before collapsing '\\\\' pairs (safe in that order because
    a well-formed body never contains a bare separator). Returns one
    string Column per name, NULL where the part encoded NULL —
    round-trip-pinned against the encoder on adversarial inputs in
    tests/test_round13_ops.py. Numeric parts come back as their
    string form; cast as needed."""
    parts = F.regexp_extract_all(
        key_col, F.lit(r"(n|v(?:\\.|[^|\\])*)(?:\||$)"), 1)
    out = []
    for i, name in enumerate(names):
        p = F.element_at(parts, i + 1)
        body = F.substring(p, 2, 2_000_000)
        unesc = F.replace(
            F.replace(body, F.lit("\\|"), F.lit("|")),
            F.lit("\\\\"), F.lit("\\"))
        out.append(
            F.when(p == F.lit("n"),
                   F.lit(None).cast("string"))
            .otherwise(unesc).alias(name))
    return out


def envelope_spec(tbl: str, key_override=None):
    """(key, ts EXPRESSION, value column) for a table's change
    envelope, where key is a column name or a COLUMN TUPLE for
    composite keys. _TABLE_MAP tables keep their declared mapping;
    any DOC_MAP table gets one too (its document value column and
    its event time, or the synthetic snapshot-epoch timestamp);
    COMPOSITE_DOC_MAP tables (lineitem) default to their composite
    document key — round-10/13: feeds are no longer events/orders-
    only, and composite PKs no longer detour through the integer
    bit-pack codec.

    `key_override` implements KEY BY <col> / KEY BY (a, b, ...): any
    INTEGER- or STRING-typed column(s) of the table may key the feed
    (r12 — the envelope key slot widens to the key's own type; r13 —
    a composite key rides the canonical escaped-concat string
    encoding, see composite_key_sql). Other types raise loudly
    rather than silently casting garbage. A custom key just re-keys
    the aggregate — the downstream merge/MVCC/resolved machinery is
    key-agnostic."""
    from ..catalog import SCHEMAS
    from .doc_feeds import _EPOCH, COMPOSITE_DOC_MAP, DOC_MAP

    if tbl in _TABLE_MAP:
        key, ts_col, val = _TABLE_MAP[tbl]
        ts_expr = ts_col
    elif tbl in DOC_MAP:
        key, val, ts0 = DOC_MAP[tbl]
        ts_expr = ts0 or (
            f"timestamp_seconds({_EPOCH} + cast({key} as long))")
    elif tbl in COMPOSITE_DOC_MAP:
        spec = COMPOSITE_DOC_MAP[tbl]
        key, val, ts_expr = spec["cols"], spec["value"], spec["ts"]
    else:
        raise NotImplementedError(
            f"no CDC envelope mapping for {tbl!r}; tables with "
            f"feeds: {sorted(set(_TABLE_MAP) | set(DOC_MAP) | set(COMPOSITE_DOC_MAP))}")
    key_override = _normalize_key_override(key_override)
    if key_override is not None and key_override != key:
        fields = {f.name: f.dataType.typeName()
                  for f in SCHEMAS[tbl].fields}
        for c in (key_override if isinstance(key_override, tuple)
                  else (key_override,)):
            if c not in fields:
                raise KeyError(
                    f"KEY BY {c!r}: not a column of {tbl!r} "
                    f"({sorted(fields)})")
            if fields[c] not in (*_INTEGRAL, "string"):
                raise NotImplementedError(
                    f"KEY BY {c!r}: feed keys must be "
                    f"integer- or string-typed; {c!r} is "
                    f"{fields[c]}")
        key = key_override
    return key, ts_expr, val


def key_ddl(tbl: str, key_override=None) -> str:
    """The envelope key slot's Spark DDL type for a table feed:
    'string' when the (possibly overridden) key is a string column
    or a COMPOSITE tuple (the escaped-concat encoding is a string),
    else 'bigint' (integral keys keep the historical slot type, so
    every existing integer-keyed layout and oracle is unchanged)."""
    from ..catalog import SCHEMAS

    key, _, _ = envelope_spec(tbl, key_override)
    if isinstance(key, tuple):
        return "string"
    fields = {f.name: f.dataType.typeName()
              for f in SCHEMAS[tbl].fields}
    return "string" if fields.get(key) == "string" else "bigint"


def _envelope(df: DataFrame, tbl: str,
              key_override=None,
              key_type: str | None = None,
              with_after: bool = False,
              after_cols: tuple[str, ...] | None = None,
              with_value: bool = True) -> DataFrame:
    """Normalize a table frame to the feed envelope. `key_type` is
    the envelope's key SLOT type (a mixed-table runner widens it to
    string when any member table keys on a string); it defaults to —
    and is always validated against — the keyed column's OWN type
    from the schema (ADVICE r12: a caller passing a string key with
    the old bigint default got an all-NULL cast instead of a loud
    refusal). Only the injective bigint→string widening is allowed.

    `after_cols` prunes the Debezium-style `after` JSON image to the
    named columns (r13 — the columns the feed's filter actually
    reads, from rewrite_filter); None carries the full row, and an
    empty tuple carries a NULL payload (this table's filter reads no
    payload columns, but the union-stream schema still has the
    slot).

    `with_value=False` is the KEY-ONLY envelope (the CockroachDB
    ``envelope=key_only`` option, r13): the change carries (tbl, op,
    key, ts) and nothing else — consumers that only need to know
    WHICH keys changed (cache invalidation, fan-out notification)
    never pay the value bytes, and the downstream state/log drop
    their sum slots entirely."""
    key, ts_expr, val = envelope_spec(tbl, key_override)
    natural = key_ddl(tbl, key_override)
    if key_type is None:
        key_type = natural
    elif key_type != natural and not (
            natural == "bigint" and key_type == "string"):
        raise TypeError(
            f"envelope key slot {key_type!r} cannot hold {tbl!r}'s "
            f"{natural!r}-typed key {key!r} (only the injective "
            "bigint->string widening is allowed)")
    if isinstance(key, tuple):
        key_col = _composite_key_col(key)
    else:
        key_col = F.col(key).cast(
            "long" if key_type == "bigint" else key_type)
    cols = [
        F.lit(tbl).alias("tbl"),
        F.lit("insert").alias("op"),
        key_col.alias("key"),
        F.expr(ts_expr).alias("ts"),
    ]
    if with_value:
        cols.append(F.col(val).cast("double").alias("value"))
    if with_after:
        # payload image as JSON — the Debezium-style `after` image,
        # carried only when a registered filter needs payload columns
        # and pruned to the columns the filter reads (r13 — a wide
        # table's feed no longer ships every column's bytes for a
        # one-column predicate); uniform string type keeps the
        # multi-table union schema fixed
        if after_cols is None:
            after_cols = tuple(df.columns)
        cols.append(
            F.to_json(F.struct(*sorted(after_cols))).alias("after")
            if after_cols
            else F.lit(None).cast("string").alias("after"))
    return df.select(*cols)


def rewrite_filter(tbl: str, predicate_sql: str,
                   key_override=None
                   ) -> tuple[str, tuple[str, ...]]:
    """Rewrite a predicate over TABLE columns (the user-facing names,
    e.g. ``o_totalprice > 100000``) into the normalized envelope's
    column names (``value > 100000``) so it can run against the
    change stream per micro-batch. Envelope columns (key/ts/value)
    keep the direct fast path; any OTHER table column rewrites
    against the envelope's ``after`` JSON payload (r11 verdict item
    3 — refusing them lost delivery-time filtering), typed back via
    CAST from the schema. Composite-key part columns have no single
    envelope slot, so they ride the payload path too.

    Returns (rewritten predicate, referenced payload columns) — the
    runner ships the payload image only when a filter actually reads
    it, pruned to exactly those columns (r13). Substitution is a
    SINGLE alternation pass that skips SQL string literals, so a
    column name inside a quoted literal is never rewritten (ADVICE
    r12) and replacement text is never re-scanned. At 100 TB this
    predicate is what a CDC source would push into the changefeed
    scan."""
    from ..catalog import SCHEMAS

    key, ts_expr, val = envelope_spec(tbl, key_override)
    # map only COLUMN-named ts exprs; synthetic/derived ts exprs are
    # not user-filterable by a table column name
    mapping = {val: "value"}
    if isinstance(key, str):
        mapping[key] = "key"
    if re.fullmatch(r"\w+", ts_expr):
        mapping.setdefault(ts_expr, "ts")
    fields = {f.name: f.dataType.simpleString()
              for f in SCHEMAS[tbl].fields}
    used_after: set[str] = set()

    def _repl(m: re.Match) -> str:
        name = m.group(0)
        if name in mapping:
            return mapping[name]
        used_after.add(name)
        return (f"CAST(get_json_object(after, '$.{name}') "
                f"AS {fields[name]})")

    names = sorted(set(mapping) | set(fields))
    pat = r"\b(?:" + "|".join(re.escape(n) for n in names) + r")\b"
    out = _sub_outside_literals(pat, _repl, predicate_sql)
    return out, tuple(sorted(used_after))


def build_table_chunks(
    spark: SparkSession, sf_dir: str, tbl: str,
    n_chunks: int | None = None,
    key_override=None,
    key_type: str | None = None,
    with_after: bool = False,
    after_cols: tuple[str, ...] | None = None,
    with_value: bool = True,
) -> str:
    """Normalize one table to the envelope and write time-ordered
    chunk files (same layout contract as replay.py). Idempotent.

    Chunk boundaries are cut at ts-GROUP edges, never inside a group
    of rows sharing one ts: the per-table high-water mark after a
    chunk is max(ts) of that chunk, and the resolved-ts contract
    ("a read at resolved_ts is complete for every table") requires
    every row at the hwm ts to be inside the committed prefix.
    o_orderdate has ~6x duplication, so raw row-count slicing would
    routinely split a group and silently break the guarantee."""
    import numpy as np

    if n_chunks is None:
        n_chunks = default_chunks()
    key_override = _normalize_key_override(key_override)
    # tag versioned (mtg) so stale row-sliced chunk caches from
    # earlier builds are never reused; a custom key / key type /
    # payload image (and its pruned column set) each get their OWN
    # chunk cache (the envelope schema/content differs)
    tag = f"mtg-{tbl}-c{n_chunks}"
    if key_override is not None:
        tag += "-k" + ("+".join(key_override)
                       if isinstance(key_override, tuple)
                       else key_override)
    if key_type is not None and key_type != "bigint":
        tag += f"-t{key_type}"
    if with_after:
        tag += "-aft"
        if after_cols is not None:
            tag += "-" + ("+".join(sorted(after_cols)) or "none")
    if not with_value:
        tag += "-ko"
    out = _chunk_dir(sf_dir, tag, table=tbl)
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    env = _envelope(load_table(spark, sf_dir, tbl), tbl,
                    key_override, key_type=key_type,
                    with_after=with_after, after_cols=after_cols,
                    with_value=with_value)
    t = env.orderBy("ts", "key").toArrow()
    n = t.num_rows
    ts = t.column("ts").to_numpy(zero_copy_only=False)
    per = (n + n_chunks - 1) // n_chunks
    bounds = [0]
    for i in range(1, n_chunks):
        b = min(i * per, n)
        if 0 < b < n:
            # advance to the end of the ts group straddling b
            b = int(np.searchsorted(ts, ts[b - 1], side="right"))
        bounds.append(max(b, bounds[-1]))
    bounds.append(n)
    for i in range(n_chunks):
        _write_chunk(t.slice(bounds[i], bounds[i + 1] - bounds[i]), out, i)
    with open(done, "w") as f:
        f.write("ok")
    return out


class MultiTableChangefeedRunner:
    """One standing query over two tables' change streams; state is
    the per-(tbl, key) count+sum, merged executor-side; resolved
    timestamps span both tables."""

    # _STATE_DDL / _LOG_DDL / _env_ddl are INSTANCE attributes (set
    # in __init__): the key slot's type follows the keyed column
    # (bigint default, string for string-keyed feeds — r12)

    def __init__(self, spark: SparkSession, sf_dir: str,
                 tables: tuple[str, ...] = ("events", "orders"),
                 root: str | None = None, filter_sql: str | None = None,
                 key_overrides: dict[str, str] | None = None,
                 key_only: bool = False):
        """`filter_sql`: predicate over the source table's OWN column
        names (rewritten per table onto the envelope via
        rewrite_filter) — the standing query becomes a filtered
        aggregate; non-matching changes never enter state. High-water
        marks still advance on every processed change (filtered-out
        rows ARE processed), so resolved timestamps keep their
        completeness meaning.

        `key_overrides`: {table: column | tuple-of-columns} — KEY BY
        support; each table's feed aggregates by the chosen integer
        or string column(s) instead of its envelope default
        (validated in envelope_spec). A composite key rides the
        canonical escaped-concat string encoding (composite_key_sql),
        so real CDC PKs like (l_orderkey, l_linenumber) — or mixed
        (string, int) pairs — key the feed directly (r13; the
        lineitem 3-bit integer pack codec stays as the historical
        point-feed twin in doc_feeds)."""
        self.spark = spark
        self.sf_dir = sf_dir
        self.tables = tables
        self.filter_sql = filter_sql
        # KEY-ONLY envelope (r13, the CockroachDB envelope=key_only
        # option): changes carry (tbl, op, key, ts) only — no value,
        # no payload image — and state/log drop their sum slots.
        # Filters are refused rather than silently half-applied: a
        # predicate can reference the value or payload columns the
        # key-only envelope deliberately does not carry.
        self.key_only = key_only
        if key_only and filter_sql is not None:
            raise NotImplementedError(
                "envelope='key_only' strips the value/payload "
                "columns a filter would read; register the filter "
                "on a full-envelope feed instead")
        self.key_overrides = {
            t: _normalize_key_override(k)
            for t, k in (key_overrides or {}).items()}
        for t in self.key_overrides:
            envelope_spec(t, self.key_overrides[t])  # validate early
        # the envelope key slot's type: string if ANY table's key is
        # a string column (the union stream has one key column, and
        # long -> string is injective so mixed runners stay correct);
        # bigint otherwise — every pre-r12 layout is byte-identical
        self._key_ddl = (
            "string"
            if any(key_ddl(t, self.key_overrides.get(t)) == "string"
                   for t in tables)
            else "bigint")
        if filter_sql is not None:
            # per-table rewrite; payload columns ride the `after`
            # JSON image (rewrite_filter), envelope columns keep the
            # direct fast path; the image is pruned per table to the
            # columns ITS rewritten predicate reads (r13)
            rewritten = {
                t: rewrite_filter(t, filter_sql,
                                  self.key_overrides.get(t))
                for t in tables
            }
            self.with_after = any(
                cols for _, cols in rewritten.values())
            self._after_cols = {t: cols
                                for t, (_, cols) in rewritten.items()}
            self._env_filter = " OR ".join(
                f"(tbl = '{t}' AND ({sql}))"
                for t, (sql, _) in rewritten.items())
        else:
            self.with_after = False
            self._after_cols = {}
            self._env_filter = None
        self._env_ddl = (
            f"tbl string, op string, key {self._key_ddl}, "
            "ts timestamp"
            + ("" if key_only else ", value double")
            + (", after string" if self.with_after else ""))
        self._STATE_DDL = (f"tbl string, key {self._key_ddl}, "
                           "cnt long"
                           + ("" if key_only
                              else ", sum_value decimal(28,6)"))
        self._LOG_DDL = (f"batch_id long, tbl string, "
                         f"key {self._key_ddl}, d_count long"
                         + ("" if key_only
                            else ", d_sum decimal(28,6)"))
        self.root = root or scratch_dir(prefix="dbrcf-mtable-")
        self.state_root = os.path.join(self.root, "state")
        #: per-batch keyed-delta log (r11 — delta cursors on
        #: non-events feeds): one small parquet dir per micro-batch,
        #: written from the SAME persisted delta relation the merge
        #: consumes (no extra aggregation). Reads are gated to the
        #: committed prefix (batch_id <= pointer) — a crash between
        #: the log write and the pointer flip must not surface a
        #: phantom batch, the house manifest-published-last contract.
        self.log_dir = os.path.join(self.root, "delta_log")
        os.makedirs(self.state_root, exist_ok=True)
        # bucketed MVCC store on the composite (tbl, key) — partial
        # state rewrites per micro-batch (state_store.py)
        from .state_store import BucketedMvccState, VersionPointer

        self._store = BucketedMvccState(
            self.spark, self.state_root, self._STATE_DDL, ["tbl", "key"]
        )
        self._ptr = VersionPointer(self.root, self._store)
        # cumulative per-table high-water marks + resolved log:
        # (batch_id, {tbl: hwm}, resolved_ts)
        self._hwm: dict[str, object] = {}
        self._resolved: list[tuple[int, dict, object]] = []
        self._last_batch = self._ptr.batch()
        # push subscribers (r11 — the events runner's subscribe()
        # contract on table feeds): serialized under one lock,
        # durable per-name acks under the runner root (push.py)
        import threading

        self._subscribers: list = []
        self._sub_lock = threading.Lock()
        #: the live source dir: one live-<seq> sequence for every table,
        #: each file holding enveloped rows that carry `tbl`
        self.live_root = os.path.join(self.root, "live-src")
        self._live = LiveWorker(
            self.root, self._read_envelopes, self._merge_batch,
            self.committed_batch, source_dir=self.live_root)

    _current_state_df = ChangefeedRunner._current_state_df
    committed_batch = ChangefeedRunner.committed_batch
    subscribe = ChangefeedRunner.subscribe
    drain = ChangefeedRunner.drain
    stop_live = ChangefeedRunner.stop_live

    def versions(self) -> list[int]:
        return self._store.versions()

    def _read_envelopes(self, *paths: str) -> DataFrame:
        """Enveloped change files (a live file, or chunk i of every
        table) as one batch."""
        return self.spark.read.schema(self._env_ddl).parquet(*paths)

    def _merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._last_batch is not None and batch_id <= self._last_batch:
            self._ptr.rewind_before(batch_id)
            # a replayed batch re-resolves itself and everything
            # after it; high-water marks stay (they are cumulative
            # maxima, still valid under at-least-once)
            self._resolved = [r for r in self._resolved if r[0] < batch_id]
        batch_df.persist()
        try:
            eligible = (
                batch_df.where(self._env_filter)
                if self._env_filter is not None
                else batch_df
            )
            aggs = [F.count(F.lit(1)).alias("d_count")]
            if not self.key_only:
                aggs.append(
                    F.sum(F.col("value").cast(_STATE_DEC))
                    .cast(_STATE_DEC).alias("d_sum"))
            delta = eligible.groupBy("tbl", "key").agg(*aggs).persist()
            # pruned read + partial rewrite of only touched buckets
            touched = self._store.touched_buckets(delta)
            base = self._ptr.batch()
            if base is None:
                old = self.spark.createDataFrame([], self._STATE_DDL)
            else:
                old = self._store.df_at(base, buckets=touched)
            zero = F.lit(0).cast(_STATE_DEC)
            merged_cols = [
                F.col("tbl"),
                F.col("key"),
                (F.coalesce("cnt", F.lit(0))
                 + F.coalesce("d_count", F.lit(0))).alias("cnt"),
            ]
            if not self.key_only:
                merged_cols.append(
                    (F.coalesce("sum_value", zero)
                     + F.coalesce("d_sum", zero)).cast(_STATE_DEC)
                    .alias("sum_value"))
            merged = (old.join(delta, ["tbl", "key"], "full")
                      .select(*merged_cols))
            # overlap the state STAGE with the high-water-mark
            # collect (both consume the persisted batch frame); the
            # manifest publication stays the commit point
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as ex:
                fs = ex.submit(self._store.stage, batch_id, merged,
                               touched)
                fh = ex.submit(
                    batch_df.groupBy("tbl")
                    .agg(F.max("ts").alias("m")).collect)
                hwm_rows, _ = fh.result(), fs.result()
            self._store.publish(batch_id, base, touched)
            # delta-log segment for this batch: written BEFORE the
            # pointer flip (reads gate on the pointer, so the segment
            # is invisible until the batch commits); a re-delivered
            # batch overwrites its own segment — idempotent
            log_cols = [
                F.lit(batch_id).cast("long").alias("batch_id"),
                F.col("tbl"), F.col("key"),
                F.col("d_count").cast("long").alias("d_count"),
            ]
            if not self.key_only:
                log_cols.append(
                    F.col("d_sum").cast(_STATE_DEC).alias("d_sum"))
            (
                delta.select(*log_cols)
                .write.mode("overwrite")
                .parquet(os.path.join(self.log_dir,
                                      f"batch-{batch_id:05d}"))
            )
            delta.unpersist()
            self._ptr.flip(batch_id)
            # per-table high-water marks → resolved = min across tables
            for r in hwm_rows:
                prev = self._hwm.get(r["tbl"])
                if prev is None or r["m"] > prev:
                    self._hwm[r["tbl"]] = r["m"]
            if all(t in self._hwm for t in self.tables):
                self._resolved.append(
                    (batch_id, dict(self._hwm), min(self._hwm.values()))
                )
            # push committed delta to subscribers (commit-then-push-
            # then-ack; a re-delivered batch is dropped at the ack).
            # The subscriber-list CHECK sits inside _sub_lock: checked
            # outside, a subscriber registering concurrently could
            # read the pre-flip pointer (skipping this batch in
            # catch-up) while this push skips it too (not yet
            # appended) — a permanently lost batch (ADVICE r11).
            from .push import read_batch_log

            with self._sub_lock:
                if self._subscribers:
                    rows = read_batch_log(self.log_dir, batch_id)
                    for sub in self._subscribers:
                        sub.deliver(batch_id, rows)
        finally:
            batch_df.unpersist()
        self._last_batch = batch_id

    def run(self, n_chunks: int | None = None) -> None:
        """Replay every table: batch i is the union of each table's
        chunk i, from the batch after CURRENT (replay.replay_files)."""
        per_table = [
            chunk_paths(build_table_chunks(
                self.spark, self.sf_dir, tbl, n_chunks,
                self.key_overrides.get(tbl), key_type=self._key_ddl,
                with_after=self.with_after,
                after_cols=self._after_cols.get(tbl),
                with_value=not self.key_only))
            for tbl in self.tables
        ]
        replay_files(self, list(zip(*per_table)),
                     lambda chunks: self._read_envelopes(*chunks))

    # ---- continuous subscription mode (live feeds on any table) ----
    def start_live(self) -> str:
        """Keep the standing query RUNNING: producers push change files
        with ingest(tbl, file), consumers poll state() or subscribe();
        stop with stop_live(). Every table's files share one live-<seq>
        sequence under live_root; each commits as batch seq through the
        same merge/MVCC path as run() (replay.LiveWorker), from the
        batch after CURRENT. Returns live_root."""
        return self._live.start()

    def ingest(self, tbl: str, parquet_file: str) -> None:
        """Producer side of a live feed: normalize one change file
        (the TABLE's own schema) to the envelope and drop it into the
        live source dir as the next live-<seq> file. Raises the live
        worker's error, if it stopped on one, without dropping."""
        from ..catalog import (
            EVENTS_NS_SCHEMA,
            SCHEMAS,
            ns_to_us,
            parquet_ts_unit,
        )

        # same physical-layout sniffing as catalog.load_table
        if tbl == "events" and parquet_ts_unit(parquet_file) == "timestamp[ns]":
            df = self.spark.read.schema(EVENTS_NS_SCHEMA).parquet(parquet_file)
            df = ns_to_us(df)
        else:
            df = self.spark.read.schema(SCHEMAS[tbl]).parquet(parquet_file)
        t = _envelope(df, tbl, self.key_overrides.get(tbl),
                      key_type=self._key_ddl,
                      with_after=self.with_after,
                      after_cols=self._after_cols.get(tbl),
                      with_value=not self.key_only).toArrow()
        self._live.ingest(t)

    def state(self) -> DataFrame:
        df = self._current_state_df()
        if df is None:
            # a live feed polled before its first commit has a valid,
            # EMPTY materialized state — not an error
            df = self.spark.createDataFrame([], self._STATE_DDL)
        cols = [
            F.col("tbl"),
            F.col("key").cast("string").alias("key"),
            F.col("cnt"),
        ]
        if not self.key_only:
            cols.append(
                F.col("sum_value").cast("double").alias("sum_value"))
        return df.select(*cols)

    def batch_for_ts(self, ts):
        """First batch containing any change with event time >= ts —
        the Kafka offsetsForTimes shape, read off the per-batch
        high-water marks the commit path records (chunks are
        time-ordered, so the cumulative hwm crosses ts exactly at
        the first batch carrying such a row). None if no batch
        reaches ts."""
        for batch_id, hwm, _ in self._resolved:
            if max(hwm.values()) >= ts:
                return batch_id
        return None

    def log(self) -> DataFrame:
        """The committed per-batch keyed-delta log — the Cursor/
        resume-token read surface (api.TableFeed). Gated to the
        committed prefix: only segments at or below the CURRENT
        pointer are served, so a crash between a segment write and
        its pointer flip never surfaces a phantom batch, and a
        rewound replay hides the not-yet-recommitted tail."""
        import glob as _glob

        b = self._ptr.batch()
        if b is None or not _glob.glob(
                os.path.join(self.log_dir, "*", "*.parquet")):
            return self.spark.createDataFrame([], self._LOG_DDL)
        return (
            self.spark.read.schema(self._LOG_DDL)
            .option("recursiveFileLookup", "true")
            .parquet(self.log_dir)
            .where(F.col("batch_id") <= b)
        )

    def state_at(self, batch_id: int) -> DataFrame:
        if not self._store.has_version(batch_id):
            raise KeyError(f"no version v{batch_id}; have {self.versions()}")
        return self._store.df_at(batch_id)

    def resolved(self) -> list[tuple[int, dict, object]]:
        """[(batch_id, {tbl: hwm_ts}, resolved_ts)] — resolved_ts is
        the min across tables; a read at resolved_ts is complete for
        every table."""
        return list(self._resolved)


# ---- table-feed retention + expired-cursor contract (r11: the
# ---- retention_queries.py machinery, mirrored onto the multitable
# ---- delta log so non-events feeds carry the full consumer contract)

def table_retention_gc(runner: MultiTableChangefeedRunner,
                       horizon: int,
                       pins: list[int] | None = None) -> list[int]:
    """Drop delta-log segments below `horizon` and every state
    version below `horizon - 1` (the snapshot the policy pins for
    expired-cursor recovery stays). `pins` are protected resume
    tokens: the effective horizon never advances past the slowest
    still-active subscriber. Returns the removed batch ids."""
    if pins:
        horizon = min(horizon, min(pins))
    removed = []
    if os.path.isdir(runner.log_dir):
        for name in sorted(os.listdir(runner.log_dir)):
            m = re.match(r"batch-(\d+)", name)
            if m and int(m.group(1)) < horizon:
                shutil.rmtree(os.path.join(runner.log_dir, name))
                removed.append(int(m.group(1)))
    runner._store.gc({b for b in runner.versions() if b >= horizon - 1})
    return removed


def table_oldest_retained(runner: MultiTableChangefeedRunner
                          ) -> int | None:
    if not os.path.isdir(runner.log_dir):
        return None
    ids = [int(m.group(1))
           for name in os.listdir(runner.log_dir)
           if (m := re.match(r"batch-(\d+)", name))]
    return min(ids) if ids else None


def table_resume(runner: MultiTableChangefeedRunner, table: str,
                 token: int, allow_snapshot: bool = False):
    """Resume a table-feed consumer at `token` under retention: pure
    retained deltas when the token is still covered; snapshot-then-
    tail (the pinned MVCC state at horizon-1 tagged 'snapshot', then
    every retained delta tagged 'delta') when it expired and
    `allow_snapshot` is set; ExpiredCursorError otherwise — silently
    skipping GC'd batches would be data loss presented as success."""
    from .retention_queries import ExpiredCursorError

    spark = runner.spark
    oldest = table_oldest_retained(runner)
    deltas_from = token
    parts = []
    if oldest is None or token < oldest:
        if not allow_snapshot:
            raise ExpiredCursorError(
                f"resume token {token} predates the retention "
                f"horizon (oldest retained batch: {oldest}); "
                "re-subscribe with allow_snapshot=True")
        if oldest is None:
            # log fully GC'd: serve the LATEST committed state as the
            # snapshot with an empty delta tail (state_at(-1) would
            # fail on a nonexistent version — ADVICE r11); no commits
            # at all is a genuinely unservable resume
            snap_at = runner._ptr.batch()
            if snap_at is None:
                raise ExpiredCursorError(
                    "delta log fully GC'd and no committed state "
                    "exists; nothing to resume from")
        else:
            snap_at = oldest - 1
        snapshot = (
            runner.state_at(snap_at)
            .where(F.col("tbl") == table)
            .select(
                F.lit("snapshot").alias("kind"),
                F.col("key").cast("string").alias("key"),
                F.lit(snap_at).cast("long").alias("batch_id"),
                F.col("cnt").alias("d_count"),
                *([] if getattr(runner, "key_only", False) else
                  [F.col("sum_value").cast("double")
                   .alias("d_sum")]),
            )
        )
        parts.append(snapshot)
        deltas_from = oldest if oldest is not None else 0
    deltas = (
        runner.log()
        .where((F.col("tbl") == table)
               & (F.col("batch_id") >= deltas_from))
        .select(
            F.lit("delta").alias("kind"),
            F.col("key").cast("string").alias("key"),
            "batch_id",
            "d_count",
            *([] if getattr(runner, "key_only", False) else
              [F.col("d_sum").cast("double").alias("d_sum")]),
        )
    )
    parts.append(deltas)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
