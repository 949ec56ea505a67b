"""view_reads: reads of the standing views maintained over the full
event history, plus a registered batch query.  See README.md for why
this workload exists and what it should and should not move."""

from __future__ import annotations

import os

import duckdb
import numpy as np

from datagen import write_tables
from harness import CheckFailed, same_rows

SF = 0.1
#: four standing-view reads and one registered batch query, which
#: reaches the catalog and query-registry layers
KINDS = ("top_k", "between", "group_agg", "min_max", "topk_limit")
#: reads run before the timed window: every kind keeps getting
#: cheaper for about the first 150 reads (curves/view_reads.json)
WARMUP_OPS = 150
#: nominal cost of one read on a 4-core host past warm-up, which sizes
#: the timed window from --seconds (12 s: 24 blocks of the five kinds)
OP_S = 0.1
BAND = 50.0
#: the history replays as this many micro-batches (an engine
#: deployment setting, SPARK_GRAFT_STREAM_CHUNKS; README.md says why)
REPLAY_CHUNKS = 2
#: blocks of one read per kind planned; more than any window reaches
PLAN_BLOCKS = 200
#: the rows each view holds: the last event per user (by ts, then
#: event_id) unless that event is a delete ('error')
_VISIBLE = """
    CREATE TEMP TABLE visible AS
    SELECT user_id, value, event_id, event_type FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM read_parquet(?)) WHERE rn = 1 AND event_type <> 'error'
"""


class ViewReads:
    warmup_ops = WARMUP_OPS
    op_s = OP_S
    block = len(KINDS)

    def __init__(self, ctx):
        from db_realtime_changefeed_spark.api import Database
        from db_realtime_changefeed_spark.queries import (
            all_oracles, all_queries)

        data = write_tables(os.path.join(ctx.run_dir, "data"), ctx.seed, SF,
                            ("events", "orders"))
        self.spark, self.data, self.tracer = ctx.spark, data, ctx.tracer
        os.environ["SPARK_GRAFT_STREAM_CHUNKS"] = str(REPLAY_CHUNKS)
        self.views = Database(ctx.spark, data).table("events").views()
        self.query = all_queries()["topk_limit"]
        rng = np.random.default_rng([ctx.seed, 4])
        # a seeded equal mix: each block of five ops is a shuffle of
        # the kinds; range reads start at a seeded lower bound
        self.plan: list[tuple[str, float]] = [
            (KINDS[k], round(float(rng.uniform(0, 250)), 2))
            for _ in range(PLAN_BLOCKS) for k in rng.permutation(len(KINDS))]
        con = duckdb.connect()
        con.execute(_VISIBLE, [os.path.join(data, "events.parquet")])
        con.execute("CREATE VIEW orders AS SELECT * FROM read_parquet("
                    f"'{os.path.join(data, 'orders.parquet')}')")
        self.want = {
            "top_k": con.sql(
                "SELECT user_id, value, event_id FROM visible "
                "ORDER BY value DESC, event_id ASC LIMIT 10").fetchall(),
            "group_agg": con.sql(
                "SELECT event_type, count(*) AS cnt, CAST(sum(CAST(value AS "
                "DECIMAL(28,6))) AS DOUBLE) AS sum_value FROM visible "
                "GROUP BY event_type").fetchall(),
            "min_max": con.sql(
                "SELECT event_type, count(*) AS n, min(value) AS min_value, "
                "max(value) AS max_value FROM visible GROUP BY event_type"
            ).fetchall(),
        }
        rel = con.sql(all_oracles()["topk_limit"])
        self.query_cols, self.want["topk_limit"] = rel.columns, rel.fetchall()
        self.want_between = {
            lo: con.execute("SELECT user_id, value, event_id FROM visible "
                            "WHERE value BETWEEN ? AND ?",
                            [lo, lo + BAND]).fetchall()
            for lo in {lo for kind, lo in self.plan if kind == "between"}}

    def tag(self, i: int) -> dict:
        return {"kind": self.plan[i][0]}

    def op(self, i: int) -> None:
        kind, lo = self.plan[i]
        v = self.views
        if kind == "topk_limit":
            with self.tracer.span("queries.build"):
                df = self.query(self.spark, self.data)
            with self.tracer.span("queries.exec"):
                got = df.collect()
            why = same_rows(df.columns, [tuple(r) for r in got],
                            self.query_cols, self.want[kind])
            if why:
                raise CheckFailed(f"{kind}: {why}")
            return
        with self.tracer.span("api.read"):
            if kind == "top_k":
                got = v.top_k()
            elif kind == "between":
                got = v.between(lo, lo + BAND).collect()
            elif kind == "group_agg":
                got = v.group_agg().collect()
            else:
                got = v.min_max().collect()
        if kind == "top_k":
            if [tuple(r) for r in got] != self.want[kind]:
                raise CheckFailed("top_k differs")
            return
        want = self.want_between[lo] if kind == "between" else self.want[kind]
        if not got:
            why = None if not want else f"no rows, {len(want)} expected"
        else:
            cols = list(got[0].__fields__)
            why = same_rows(cols, [tuple(r) for r in got], cols, want)
        if why:
            raise CheckFailed(f"{kind}: {why}")

    def finish(self) -> None:
        """Every read was checked as it returned."""

    def close(self) -> None:
        """Nothing to stop: the views stop with the session."""
