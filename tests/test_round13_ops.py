"""Round-13 pins: composite / multi-column KEY BY feeds, the
canonical escaped-concat key encoding, after-image projection
pruning, the hardened quote/paren-aware QUALIFY rewrite, GROUPS
navigation, and the runtime scale knobs (SPARK_GRAFT_SDM_BUCKETS /
SPARK_GRAFT_ND_BUCKETS)."""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_realtime_changefeed_spark.catalog import load_table  # noqa: E402


# ---- the canonical composite key encoding (multitable r13)

#: adversarial key tuples: separator and escape characters in the
#: parts, NULLs, empties — every pair must encode DISTINCT
_ADVERSARIAL = [
    ("a|b", "c"), ("a", "b|c"), ("a", "bc"), ("ab", "c"),
    ("a\\", "|b"), ("a\\|", "b"), ("a", "\\|b"),
    (None, "x"), ("x", None), (None, None),
    ("", "x"), ("x", ""), ("", ""),
    ("n", "v"), ("v", "n"),  # the NULL/value prefixes as data
    ("a||", ""), ("a", "||"), ("\\", "\\\\"),
]


def test_composite_encoding_injective_and_cross_engine(spark):
    """The Spark Column encoding and the SQL-text encoding must (a)
    agree byte-for-byte on adversarial inputs and (b) be injective
    over them — a collision here would silently merge distinct keys
    in the feed state."""
    import duckdb

    from db_realtime_changefeed_spark.streaming.multitable import (
        _composite_key_col,
        composite_key_sql,
    )

    df = spark.createDataFrame(_ADVERSARIAL, "a string, b string")
    got_spark = [
        r.k for r in
        df.select(_composite_key_col(("a", "b")).alias("k"))
        .collect()
    ]
    con = duckdb.connect()
    vals = ", ".join(
        "({}, {})".format(
            "NULL" if a is None else "'" + a.replace("'", "''") + "'",
            "NULL" if b is None else "'" + b.replace("'", "''") + "'")
        for a, b in _ADVERSARIAL)
    got_duck = [
        r[0] for r in con.sql(
            f"SELECT {composite_key_sql(('a', 'b'))} "
            f"FROM (VALUES {vals}) t(a, b)").fetchall()
    ]
    assert got_spark == got_duck
    assert len(set(got_spark)) == len(_ADVERSARIAL), "collision!"


def test_composite_key_ddl_and_validation():
    from db_realtime_changefeed_spark.streaming.multitable import (
        envelope_spec,
        key_ddl,
    )

    # composite keys ride the string slot
    assert key_ddl("lineitem") == "string"
    assert key_ddl("orders",
                   ("o_orderstatus", "o_custkey")) == "string"
    # lineitem's DEFAULT key is its composite document key
    assert envelope_spec("lineitem")[0] == (
        "l_orderkey", "l_linenumber")
    # 1-tuples collapse to the scalar key (same feed)
    assert envelope_spec("orders", ("o_custkey",))[0] == "o_custkey"
    # member validation is per column
    with pytest.raises(NotImplementedError):
        envelope_spec("orders", ("o_orderstatus", "o_totalprice"))
    with pytest.raises(KeyError):
        envelope_spec("orders", ("o_orderstatus", "nope"))


def test_envelope_key_slot_type_is_derived_and_validated(spark,
                                                         sf_smoke):
    """ADVICE r12: a direct _envelope caller passing a string key
    with the old bigint default got an all-NULL cast; now the slot
    type derives from the schema and a lossy request raises."""
    from db_realtime_changefeed_spark.streaming.multitable import (
        _envelope,
    )

    cust = load_table(spark, sf_smoke, "customer")
    # no key_type: derives string, keys are the real values
    env = _envelope(cust, "customer", key_override="c_mktsegment")
    assert dict(env.dtypes)["key"] == "string"
    assert env.where(F.col("key").isNull()).count() == 0
    # explicit bigint slot for a string key: loud refusal
    with pytest.raises(TypeError):
        _envelope(cust, "customer", key_override="c_mktsegment",
                  key_type="bigint")
    # the injective widening stays allowed (mixed-table runners)
    env = _envelope(cust, "customer", key_type="string")
    assert dict(env.dtypes)["key"] == "string"


# ---- composite feeds end to end


@pytest.fixture(scope="module")
def composite_runner(spark, sf_smoke):
    """A dedicated orders runner keyed on the mixed composite
    (o_orderstatus, o_custkey) — module-scoped so the contract tests
    below never perturb the graded _CACHE feeds."""
    from db_realtime_changefeed_spark.streaming.multitable import (
        MultiTableChangefeedRunner,
    )

    r = MultiTableChangefeedRunner(
        spark, sf_smoke, tables=("orders",),
        key_overrides={"orders": ("o_orderstatus", "o_custkey")})
    r.run()
    return r


def test_composite_feed_state_matches_batch(spark, sf_smoke,
                                            composite_runner):
    from db_realtime_changefeed_spark.streaming.multitable import (
        _composite_key_col,
    )

    st = {r.key: (r.cnt, round(r.sum_value, 4))
          for r in composite_runner.state().collect()}
    exp = {
        r.k: (r.c, round(float(r.s), 4))
        for r in load_table(spark, sf_smoke, "orders")
        .groupBy(_composite_key_col(("o_orderstatus", "o_custkey"))
                 .alias("k"))
        .agg(F.count(F.lit(1)).alias("c"),
             F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
             .alias("s"))
        .collect()
    }
    assert st == exp
    # real multiplicity: the composite key folds multiple rows
    assert any(c > 1 for c, _ in st.values())


def test_composite_push_matches_log(composite_runner):
    pushed: list = []
    composite_runner.subscribe(
        lambda b, rows: pushed.extend(
            (b, r["key"], r["d_count"]) for r in rows),
        name="r13-push")
    logged = sorted(
        (r.batch_id, r.key, r.d_count)
        for r in composite_runner.log().collect())
    assert sorted(pushed) == logged


def test_composite_retention_resume(spark, sf_smoke,
                                    composite_runner):
    """GC + snapshot-tail resume on the composite path: the folded
    snapshot+delta replay equals the full-table aggregate keyed on
    the encoded composite."""
    from db_realtime_changefeed_spark.streaming.multitable import (
        _composite_key_col,
        table_resume,
        table_retention_gc,
    )
    from db_realtime_changefeed_spark.streaming.retention_queries import (
        ExpiredCursorError,
    )

    removed = table_retention_gc(composite_runner, 2)
    assert removed == [0, 1]
    with pytest.raises(ExpiredCursorError):
        table_resume(composite_runner, "orders", token=0)
    got = table_resume(composite_runner, "orders", token=0,
                       allow_snapshot=True).collect()
    assert {r.kind for r in got} == {"snapshot", "delta"}
    replayed: dict = defaultdict(lambda: [0, 0.0])
    for r in got:
        agg = replayed[r.key]
        agg[0] += r.d_count
        agg[1] += r.d_sum
    full = {
        r.k: (r.cnt, float(r.s))
        for r in load_table(spark, sf_smoke, "orders")
        .groupBy(_composite_key_col(("o_orderstatus", "o_custkey"))
                 .alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt"),
             F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
             .alias("s"))
        .collect()
    }
    assert len(replayed) == len(full)
    for k, (cnt, s) in full.items():
        assert replayed[k][0] == cnt
        assert replayed[k][1] == pytest.approx(s, abs=1e-6)


def test_composite_live_ingest(spark, sf_smoke):
    """A LIVE feed keyed on the composite accepts ingested change
    files and folds them onto the replayed state under the encoded
    key."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from db_realtime_changefeed_spark.api import Database
    from db_realtime_changefeed_spark.tmputil import scratch_dir

    feed = (Database(spark, sf_smoke).table("orders")
            .changes(key=("o_orderstatus", "o_custkey"),
                     mode="live"))
    try:
        before = {r.key: r.cnt for r in feed.state().collect()}
        src = (load_table(spark, sf_smoke, "orders")
               .orderBy("o_orderkey").limit(3).toArrow())
        f = os.path.join(scratch_dir(prefix="dbrcf-r13live-"),
                         "extra.parquet")
        pq.write_table(pa.table(src), f)
        feed.ingest(f)
        deadline = time.time() + 30
        after = before
        while after == before and time.time() < deadline:
            time.sleep(0.25)
            after = {r.key: r.cnt for r in feed.state().collect()}
        assert sum(after.values()) == sum(before.values()) + 3
    finally:
        feed.stop()


def test_events_composite_key_refused(spark, sf_smoke):
    from db_realtime_changefeed_spark.api import Database

    with pytest.raises(NotImplementedError):
        (Database(spark, sf_smoke).table("events")
         .changes(key=("user_id", "event_type")))


def test_changefeed_ddl_parses_composite():
    from db_realtime_changefeed_spark.api import _CHANGEFEED_DDL

    m = _CHANGEFEED_DDL.match(
        "CREATE CHANGEFEED FOR lineitem "
        "KEY BY (l_orderkey, l_linenumber)")
    assert m and m.group(3) == "(l_orderkey, l_linenumber)"
    m = _CHANGEFEED_DDL.match(
        "CREATE CHANGEFEED FOR orders WHERE o_totalprice > 10 "
        "KEY BY (o_orderstatus, o_custkey);")
    assert m and m.group(2).strip() == "o_totalprice > 10"
    m = _CHANGEFEED_DDL.match(
        "CREATE CHANGEFEED FOR customer KEY BY c_mktsegment")
    assert m and m.group(3) == "c_mktsegment"


# ---- after-image projection pruning (r12 verdict item 2)


def test_after_image_pruned_to_referenced_columns(spark, sf_smoke):
    from db_realtime_changefeed_spark.streaming.multitable import (
        build_table_chunks,
        rewrite_filter,
    )

    _sql, cols = rewrite_filter("lineitem", "l_quantity > 49")
    assert cols == ("l_quantity",)
    d = build_table_chunks(spark, sf_smoke, "lineitem",
                           with_after=True, after_cols=cols)
    env = spark.read.parquet(d)
    assert "after" in env.columns
    sample = env.where(F.col("after").isNotNull()).limit(5).collect()
    assert sample, "after image missing"
    for r in sample:
        assert sorted(json.loads(r.after)) == ["l_quantity"]
    # an empty referenced set carries a NULL payload slot
    d0 = build_table_chunks(spark, sf_smoke, "lineitem",
                            with_after=True, after_cols=())
    env0 = spark.read.parquet(d0)
    assert env0.where(F.col("after").isNotNull()).count() == 0


def test_filtered_payload_feed_prunes_but_filters_right(spark,
                                                        sf_smoke):
    """The pruned image must not change WHAT is delivered — the
    payload-filtered orders feed still delivers exactly the matching
    rows' aggregate (the r12 delivery pin, re-run on the pruned
    path), and its runner records the pruned column set."""
    from db_realtime_changefeed_spark.api import Database

    feed = (Database(spark, sf_smoke).table("orders")
            .filter("o_orderstatus = 'F'").changes())
    assert feed._runner.with_after
    assert feed._runner._after_cols == {
        "orders": ("o_orderstatus",)}
    got = {}
    for r in feed.log().collect():
        got[str(r.key)] = got.get(str(r.key), 0) + r.d_count
    exp = {
        str(r.o_custkey): r.c
        for r in load_table(spark, sf_smoke, "orders")
        .where("o_orderstatus = 'F'")
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == exp


# ---- hardened QUALIFY (r12 verdict item 4 + ADVICE)


def test_qualify_literal_is_data(spark, sf_smoke):
    from db_realtime_changefeed_spark.api import Database

    db = Database(spark, sf_smoke)
    # no real QUALIFY clause: the statement runs verbatim
    n = db.sql("SELECT count(*) AS n FROM orders "
               "WHERE o_orderpriority LIKE '%QUALIFY%'").collect()
    assert n[0].n == 0
    # literal + real clause: only the clause rewrites
    out = db.sql(
        "SELECT o_orderstatus, o_orderkey FROM orders "
        "WHERE o_orderpriority NOT LIKE '%QUALIFY%' "
        "QUALIFY row_number() OVER (PARTITION BY o_orderstatus "
        "ORDER BY o_orderkey) <= 1")
    rows = out.collect()
    assert len(rows) == len({r.o_orderstatus for r in rows})


def test_qualify_subquery_and_distinct_refused(spark, sf_smoke):
    from db_realtime_changefeed_spark.api import Database

    db = Database(spark, sf_smoke)
    with pytest.raises(NotImplementedError, match="subquery"):
        db.sql("SELECT * FROM (SELECT o_orderkey FROM orders "
               "QUALIFY row_number() OVER (ORDER BY o_orderkey) "
               "<= 3) t")
    with pytest.raises(NotImplementedError, match="DISTINCT"):
        db.sql("SELECT DISTINCT o_orderstatus FROM orders "
               "QUALIFY row_number() OVER "
               "(ORDER BY o_orderstatus) <= 1")
    with pytest.raises(NotImplementedError, match="final clause"):
        db.sql("SELECT o_orderkey FROM orders QUALIFY row_number() "
               "OVER (ORDER BY o_orderkey) <= 3 LIMIT 2")
    # aggregate DISTINCT inside parens is NOT a SELECT DISTINCT body
    n = db.sql("SELECT o_orderstatus, count(DISTINCT o_custkey) "
               "AS n FROM orders GROUP BY o_orderstatus "
               "QUALIFY row_number() OVER (ORDER BY n DESC, "
               "o_orderstatus) <= 1").collect()
    assert len(n) == 1


# ---- runtime scale knobs (r12 verdict item 5)


def test_sdm_bucket_knob_end_to_end(spark, sf_smoke, monkeypatch):
    """A non-default band-index bucket count must produce the
    identical flag set (bucketing is physical layout only): run the
    streaming near-dup pass at 16 buckets and hash it against the
    same DuckDB oracle the default-64 grading uses."""
    import duckdb

    from db_realtime_changefeed_spark.queries import (
        all_oracles,
        all_queries,
    )

    monkeypatch.setenv("SPARK_GRAFT_SDM_BUCKETS", "16")
    got = sorted(
        (r.doc_id, r.dup_of, round(r.est_jaccard, 6))
        for r in all_queries()["llm_dedup_streaming_minhash"](
            spark, sf_smoke).collect())
    con = duckdb.connect()
    for t in ("documents",):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_smoke}/{t}.parquet')")
    exp = sorted(
        (d, o, round(e, 6)) for d, o, e in con.sql(
            all_oracles()["llm_dedup_streaming_minhash"]).fetchall())
    assert got == exp


def test_nd_bucket_knob_end_to_end(spark, sf_smoke):
    """A non-default nd-store bucket count maintains the identical
    distinct-count trajectory (compared against the graded oracle's
    DuckDB reconstruction)."""
    import duckdb

    from db_realtime_changefeed_spark.queries import all_oracles
    from db_realtime_changefeed_spark.streaming.distinct_view import (
        DistinctCountViewRunner,
    )

    r = DistinctCountViewRunner(spark, sf_smoke, nd_buckets=8)
    assert r.nd_buckets == 8
    r.run()
    got = sorted(
        (x.batch_id, x.event_type, x.nd_users)
        for x in r.distinct_trajectory().collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{sf_smoke}/events.parquet')")
    exp = sorted(con.sql(
        all_oracles()["changefeed_distinct_users_view"]).fetchall())
    assert got == exp


# ---- GROUPS navigation plan shape


def test_groups_nav_broadcasts_the_group_relation(spark, sf_oracle):
    from db_realtime_changefeed_spark.queries import all_queries

    df = all_queries()["win_frame_groups_nav"](spark, sf_oracle)
    txt = df._jdf.queryExecution().executedPlan().toString()
    assert txt.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in txt


def test_composite_decode_round_trip(spark):
    """composite_key_decode is the exact inverse of the encoder on
    the adversarial corpus (separator/escape/NULL-marker characters
    as data)."""
    from db_realtime_changefeed_spark.streaming.multitable import (
        _composite_key_col,
        composite_key_decode,
    )

    df = spark.createDataFrame(_ADVERSARIAL, "a string, b string")
    enc = df.select(
        "a", "b", _composite_key_col(("a", "b")).alias("k"))
    dec = enc.select(
        "a", "b", *composite_key_decode(F.col("k"), ("da", "db")))
    for r in dec.collect():
        assert r.da == r.a and r.db == r.b, r


def test_multitable_runner_mixes_composite_and_scalar(spark,
                                                      sf_smoke):
    """ONE runner over two tables where one keys on a composite and
    the other on its scalar default: the union key slot widens to
    string, the scalar bigint key casts injectively, resolved
    timestamps span both tables, and each table's state matches its
    batch aggregate."""
    from db_realtime_changefeed_spark.streaming.multitable import (
        MultiTableChangefeedRunner,
        _composite_key_col,
    )

    r = MultiTableChangefeedRunner(
        spark, sf_smoke, tables=("orders", "lineitem"),
        key_overrides={
            "lineitem": ("l_orderkey", "l_linenumber")})
    assert r._key_ddl == "string"
    r.run()
    res = r.resolved()
    assert res and all(
        set(hwm) == {"orders", "lineitem"} for _, hwm, _ in res[-1:])
    st = r.state().collect()
    got_o = {x.key: x.cnt for x in st if x.tbl == "orders"}
    exp_o = {
        str(x.o_custkey): x.c
        for x in load_table(spark, sf_smoke, "orders")
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got_o == exp_o
    got_l = {x.key: x.cnt for x in st if x.tbl == "lineitem"}
    exp_l = {
        x.k: x.c
        for x in load_table(spark, sf_smoke, "lineitem")
        .groupBy(_composite_key_col(("l_orderkey", "l_linenumber"))
                 .alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got_l == exp_l


def test_qualify_splice_scope_and_fallback(spark, sf_smoke):
    """r13 splice rewrite: the predicate sees non-projected FROM
    columns (native visibility); set-op bodies fall back to the
    wrapping rewrite; GROUP BY bodies splice correctly."""
    from db_realtime_changefeed_spark.api import Database

    db = Database(spark, sf_smoke)
    hidden = db.sql(
        "SELECT o_orderkey, o_totalprice FROM orders "
        "QUALIFY row_number() OVER (PARTITION BY o_orderstatus "
        "ORDER BY o_totalprice DESC, o_orderkey) <= 1").collect()
    statuses = load_table(spark, sf_smoke, "orders") \
        .select("o_orderstatus").distinct().count()
    assert len(hidden) == statuses
    assert {c for r in hidden for c in r.asDict()} == {
        "o_orderkey", "o_totalprice"}
    setop = db.sql(
        "SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 50 "
        "UNION ALL "
        "SELECT o_custkey AS k FROM orders WHERE o_orderkey < 50 "
        "QUALIFY row_number() OVER (ORDER BY k) <= 3").collect()
    assert len(setop) == 3
    grp = db.sql(
        "SELECT o_orderstatus, count(*) AS n FROM orders "
        "GROUP BY o_orderstatus "
        "QUALIFY row_number() OVER (ORDER BY count(*) DESC, "
        "o_orderstatus) <= 2").collect()
    assert len(grp) == 2


def test_table_feed_state_decode(spark, sf_smoke):
    """TableFeed.state(decode=True) returns the composite key's part
    columns; scalar-keyed feeds refuse loudly."""
    from db_realtime_changefeed_spark.api import Database

    feed = Database(spark, sf_smoke).sql(
        "CREATE CHANGEFEED FOR lineitem "
        "KEY BY (l_orderkey, l_linenumber)")
    dec = feed.state(decode=True)
    assert dec.columns == ["l_orderkey", "l_linenumber",
                           "cnt", "sum_value"]
    got = {(int(r.l_orderkey), int(r.l_linenumber))
           for r in dec.limit(50).collect()}
    assert got and all(1 <= ln <= 7 for _, ln in got)
    scalar = Database(spark, sf_smoke).table("orders").changes()
    with pytest.raises(NotImplementedError):
        scalar.state(decode=True)


def test_composite_encoding_property_based(spark):
    """Hypothesis: encode is injective and decode inverts it for
    ARBITRARY part strings (property-based, beyond the curated
    adversarial corpus). One Spark job over the whole generated
    batch keeps this fast."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from db_realtime_changefeed_spark.streaming.multitable import (
        _composite_key_col,
        composite_key_decode,
    )

    part = st.one_of(
        st.none(),
        st.text(
            alphabet=st.sampled_from(list("ab|\\nv'\"\x1f ,%_")),
            max_size=8))
    collected: list = []

    @given(st.lists(st.tuples(part, part), min_size=1, max_size=20))
    @settings(max_examples=30, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def gather(rows):
        collected.extend(rows)

    gather()
    rows = list(dict.fromkeys(collected))  # distinct tuples
    df = spark.createDataFrame(rows, "a string, b string")
    out = df.select(
        "a", "b", _composite_key_col(("a", "b")).alias("k")
    ).select(
        "a", "b", "k",
        *composite_key_decode(F.col("k"), ("da", "db"))
    ).collect()
    keys = [r.k for r in out]
    assert len(set(keys)) == len(rows), "encode collision"
    for r in out:
        assert r.da == r.a and r.db == r.b, r


def test_composite_feed_redelivery_idempotent(spark, sf_smoke):
    """At-least-once upstream: re-delivering an already-committed
    batch to the composite-keyed merge rebases onto the prior
    version and leaves state AND the committed delta log identical
    (batch_id is the idempotency token)."""
    from db_realtime_changefeed_spark.streaming.multitable import (
        MultiTableChangefeedRunner,
        build_table_chunks,
    )

    r = MultiTableChangefeedRunner(
        spark, sf_smoke, tables=("lineitem",),
        key_overrides={
            "lineitem": ("l_orderkey", "l_linenumber")})
    r.run()
    before_state = sorted(
        (x.key, x.cnt, x.sum_value) for x in r.state().collect())
    before_log = sorted(
        (x.batch_id, x.key, x.d_count) for x in r.log().collect())
    last = r._last_batch
    chunks = build_table_chunks(
        spark, sf_smoke, "lineitem",
        key_override=("l_orderkey", "l_linenumber"),
        key_type="string")
    files = sorted(
        f for f in os.listdir(chunks) if f.endswith(".parquet"))
    redeliver = spark.read.schema(r._env_ddl).parquet(
        os.path.join(chunks, files[last]))
    r._merge_batch(redeliver, last)  # same batch id, second time
    after_state = sorted(
        (x.key, x.cnt, x.sum_value) for x in r.state().collect())
    after_log = sorted(
        (x.batch_id, x.key, x.d_count) for x in r.log().collect())
    assert after_state == before_state
    assert after_log == before_log


def test_qualify_splice_cte_body(spark, sf_smoke):
    """A WITH-prefixed body splices at the MAIN select's FROM (CTE
    internals are depth>0 for the scanner)."""
    from db_realtime_changefeed_spark.api import Database

    rows = Database(spark, sf_smoke).sql(
        "WITH big AS (SELECT * FROM orders "
        "WHERE o_totalprice > 100000) "
        "SELECT o_orderkey FROM big "
        "QUALIFY row_number() OVER (PARTITION BY o_orderstatus "
        "ORDER BY o_totalprice DESC, o_orderkey) <= 1").collect()
    assert rows and len({r.o_orderkey for r in rows}) == len(rows)
