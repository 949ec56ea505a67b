"""The one batch driver (replay.commit_batches) behind every runner's
run(): a rerun over a committed root merges nothing, the driver gives
the same result as a Structured Streaming foreachBatch replay of the
same chunks, and Structured Streaming stays only where it is the
operator."""

from __future__ import annotations

import os
import re

import pytest

from db_realtime_changefeed_spark.catalog import SCHEMAS, load_table
from db_realtime_changefeed_spark.streaming import replay
from db_realtime_changefeed_spark.streaming.cdc_ops import (
    ENVELOPE_DDL,
    CdcOpsUpsertRunner,
    build_cdc_ops_chunks,
)
from db_realtime_changefeed_spark.streaming.changefeed import (
    ChangefeedRunner,
    JoinViewRunner,
    MultiChangefeedRunner,
    UpsertChangefeedRunner,
    cdc_envelope,
)
from db_realtime_changefeed_spark.streaming.distinct_view import (
    DistinctCountViewRunner,
)
from db_realtime_changefeed_spark.streaming.doc_feeds import (
    GenericUpsertChangefeedRunner,
)
from db_realtime_changefeed_spark.streaming.generic_views import (
    GenericAggViewRunner,
    _keyed_chunks,
)
from db_realtime_changefeed_spark.streaming.lifecycle import (
    TtlChangefeedRunner,
)
from db_realtime_changefeed_spark.streaming.lifecycle_queries import (
    _TTL_US,
)
from db_realtime_changefeed_spark.streaming.multitable import (
    MultiTableChangefeedRunner,
    build_table_chunks,
)
from db_realtime_changefeed_spark.streaming.views import (
    DeltaJoinViewRunner,
    MaintainedViewsRunner,
)
from db_realtime_changefeed_spark.tmputil import scratch_dir


def _rows(df) -> list[tuple]:
    # by repr: rows may hold NULLs, which do not order
    return sorted(map(tuple, df.collect()), key=repr)


def _reopened(cls, **kw):
    """A factory of `cls` runners: fresh, or reopened over a previous
    runner's root."""
    def make(spark, sf, prev=None):
        return cls(spark, sf, root=prev and prev.root, **kw)
    return make


def _same_instance(make_fresh):
    """A factory for a runner class with no `root` parameter: a rerun
    goes through the same instance, whose committed batch is read from
    its durable stores on every run()."""
    def make(spark, sf, prev=None):
        return prev or make_fresh(spark, sf)
    return make


def _orders_view(spark, sf, prev=None):
    return GenericAggViewRunner(
        spark, sf, table="orders", key="o_custkey", seq="o_orderkey",
        ts="o_orderdate", group="o_orderstatus", value="o_totalprice",
        index_band_width=62500.0, root=prev and prev.root)


def _feed_outputs(r) -> tuple:
    return _rows(r.state()), _rows(r.log())


def _multi_outputs(r) -> tuple:
    return (_rows(r.state()),) + tuple(
        _rows(f.log()) for f in r.feeds.values())


def _views_outputs(r) -> tuple:
    return (_rows(r.agg_trajectory()), _rows(r.delta_log()),
            _rows(r.topk_log()))


#: family -> (runner factory, what a rerun and a parity run must keep)
FAMILIES = {
    "changefeed": (_reopened(ChangefeedRunner, key="user_id"),
                   _feed_outputs),
    "upsert": (_reopened(UpsertChangefeedRunner), _feed_outputs),
    "cdc_ops": (_reopened(CdcOpsUpsertRunner), _feed_outputs),
    "doc_feed": (_same_instance(lambda spark, sf:
                                GenericUpsertChangefeedRunner(
                                    spark, sf, "orders")),
                 _feed_outputs),
    "multi": (_same_instance(MultiChangefeedRunner), _multi_outputs),
    "join_view": (_reopened(JoinViewRunner),
                  lambda r: (_rows(r.view()),)),
    "ttl": (_reopened(TtlChangefeedRunner, ttl_us=_TTL_US),
            lambda r: (_rows(r.state()), _rows(r.expiry_log()))),
    "views": (_reopened(MaintainedViewsRunner), _views_outputs),
    "delta_join": (_reopened(DeltaJoinViewRunner),
                   lambda r: (_rows(r.join_trajectory()),
                              _rows(r.cascade_trajectory()))),
    "distinct": (_reopened(DistinctCountViewRunner),
                 lambda r: (_rows(r.distinct_trajectory()),)),
    "generic_view": (_orders_view,
                     lambda r: (_rows(r.agg_trajectory()),
                                _rows(r.delta_log()))),
    "multitable": (_reopened(MultiTableChangefeedRunner), _feed_outputs),
}

#: the families whose rerun-is-a-no-op had no test of its own
_NO_RERUN_TEST = ("upsert", "cdc_ops", "doc_feed", "multi", "join_view",
                  "distinct")


def _recording_merges(monkeypatch, runner) -> list[int]:
    """Record the batch id of every _merge_batch call on `runner`'s
    class from now on."""
    merged: list[int] = []
    real = type(runner)._merge_batch

    def recorded(self, batch_df, batch_id):
        merged.append(batch_id)
        real(self, batch_df, batch_id)

    monkeypatch.setattr(type(runner), "_merge_batch", recorded)
    return merged


@pytest.mark.parametrize("family", _NO_RERUN_TEST)
def test_rerun_over_a_committed_root_merges_nothing(spark, sf_smoke,
                                                    monkeypatch, family):
    """run(), then run() again over the same root (reopened where the
    runner takes one): the second run merges no batch, and the
    outputs stay as the first run left them."""
    make, outputs = FAMILIES[family]
    a = make(spark, sf_smoke)
    a.run()
    want = outputs(a)
    b = make(spark, sf_smoke, a)
    merged = _recording_merges(monkeypatch, b)
    b.run()
    assert merged == []
    assert outputs(b) == want


# ---- parity with a Structured Streaming foreachBatch replay ----

def _file_stream(spark, schema, chunks: str):
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(chunks))


def _events_stream(spark, sf, r):
    return cdc_envelope(replay.read_events_stream(
        spark, replay.build_replay_chunks(spark, sf)))


def _multitable_stream(spark, sf, r):
    streams = [
        _file_stream(spark, r._env_ddl, build_table_chunks(
            spark, sf, tbl, None, r.key_overrides.get(tbl),
            key_type=r._key_ddl, with_after=r.with_after,
            after_cols=r._after_cols.get(tbl),
            with_value=not r.key_only))
        for tbl in r.tables]
    env = streams[0]
    for s in streams[1:]:
        env = env.unionByName(s)
    return env


#: family -> the streaming DataFrame over the same chunks its run()
#: commits (the default chunk count)
_STREAMS = {
    "cdc_ops": lambda spark, sf, r: _file_stream(
        spark, ENVELOPE_DDL, build_cdc_ops_chunks(spark, sf)),
    "doc_feed": lambda spark, sf, r: r._envelope(_file_stream(
        spark, SCHEMAS[r.table],
        _keyed_chunks(spark, sf, r.table, r.key_cols))),
    "generic_view": lambda spark, sf, r: _file_stream(
        spark, load_table(spark, sf, r.table).schema,
        _keyed_chunks(spark, sf, r.table, r.arrival)),
    "multitable": _multitable_stream,
}


@pytest.mark.slow
@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_driver_matches_foreach_batch_replay(spark, sf_smoke, family):
    """The same chunks fed to a runner's _merge_batch by a Structured
    Streaming query (file source, one file per trigger, foreachBatch,
    AvailableNow) and by run()'s batch driver give the same outputs:
    the paper's foreachBatch contract still holds for every family."""
    make, outputs = FAMILIES[family]
    streamed = make(spark, sf_smoke)
    stream = _STREAMS.get(family, _events_stream)(spark, sf_smoke,
                                                  streamed)
    with replay.streaming_shuffle(spark):
        (stream.writeStream.foreachBatch(streamed._merge_batch)
         .option("checkpointLocation",
                 scratch_dir(prefix="dbrcf-parity-ckpt-"))
         .trigger(availableNow=True)
         .start().awaitTermination())
    driven = make(spark, sf_smoke)
    driven.run()
    assert streamed.committed_batch() == driven.committed_batch()
    assert outputs(streamed) == outputs(driven)


#: the Structured Streaming queries left in streaming/, each where the
#: streaming engine is the operator: stream_* entries with watermarks
#: or state (queries.py), the consumer queries, run_available_now, and
#: a views runner fed from any streaming DataFrame (run_from_stream)
_WRITE_STREAM_SITES = {"consumer_queries.py": 3, "queries.py": 5,
                       "replay.py": 1, "views.py": 1}


def test_write_stream_only_where_streaming_is_the_operator():
    """No runner's run() starts a streaming query: `.writeStream`
    appears in streaming/ only at the sites listed above."""
    pkg = os.path.dirname(replay.__file__)
    found = {}
    for name in sorted(os.listdir(pkg)):
        if name.endswith(".py"):
            with open(os.path.join(pkg, name)) as f:
                n = len(re.findall(r"\.writeStream\b", f.read()))
            if n:
                found[name] = n
    assert found == _WRITE_STREAM_SITES
