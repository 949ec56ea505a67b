"""Round-14 optimization guards.

stream_chained_agg's second tier was folded from a chained stateful
streaming aggregate into ONE batch aggregate over the tier-1 append
output, gated by the replay's own final watermark (read from the
checkpoint offsets WAL). These tests pin the two things that fold
relies on: (a) the watermark reader returns the engine's final
batchWatermarkMs, and (b) the folded query still emits exactly the
closed-hour rollup a full batch recomputation produces — the same
row set the chained-operator form emitted (both match the same
DuckDB oracle; parity is certified separately by the sweeps)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from db_realtime_changefeed_spark.catalog import load_table


def test_final_watermark_ms_reads_last_offsets_entry(spark, tmp_path):
    from db_realtime_changefeed_spark.streaming.queries import (
        _final_watermark_ms,
    )

    odir = tmp_path / "offsets"
    odir.mkdir()
    # Spark offsets WAL layout: line 0 = version header, line 1 =
    # JSON metadata carrying batchWatermarkMs, line 2+ = offsets.
    for batch, wm in ((0, 0), (1, 1_700_000_000_000), (2, 1_700_003_600_000)):
        (odir / str(batch)).write_text(
            "v1\n"
            + json.dumps({"batchWatermarkMs": wm, "batchTimestampMs": 1})
            + "\n{}"
        )
    # a non-digit file (e.g. .crc sidecar) must be ignored
    (odir / "2.crc").write_text("junk")
    assert _final_watermark_ms(spark, str(tmp_path)) == 1_700_003_600_000


def test_final_watermark_ms_refuses_an_entry_without_watermark(
        spark, tmp_path):
    """An offsets entry without batchWatermarkMs, or a session that
    runs no no-data batches (so the last entry predates the final
    watermark), raises an error naming the checkpoint instead of
    returning a wrong watermark."""
    from db_realtime_changefeed_spark.streaming.queries import (
        _final_watermark_ms,
    )

    odir = tmp_path / "offsets"
    odir.mkdir()
    (odir / "0").write_text(
        "v1\n" + json.dumps({"batchTimestampMs": 1}) + "\n{}")
    with pytest.raises(RuntimeError, match="has no batchWatermarkMs") as e:
        _final_watermark_ms(spark, str(tmp_path))
    assert str(tmp_path) in str(e.value)
    (odir / "0").write_text(
        "v1\n" + json.dumps({"batchWatermarkMs": 5}) + "\n{}")
    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(conf, "false")
    try:
        with pytest.raises(RuntimeError, match=conf) as e:
            _final_watermark_ms(spark, str(tmp_path))
    finally:
        spark.conf.unset(conf)
    assert str(tmp_path) in str(e.value)
    assert _final_watermark_ms(spark, str(tmp_path)) == 5


def test_statefs_footer_counts_and_atomic_put(tmp_path):
    """The statefs seam (the state store's driver-side metadata
    surface): footer-only row counts and overwrite-idempotent
    small-object publish."""
    import pyarrow as pa

    from db_realtime_changefeed_spark.streaming.statefs import STATE_FS

    t1 = pa.table({"a": [1, 2, 3]})
    t2 = pa.table({"a": [7]})
    dst = str(tmp_path / "log" / "batch-00001")
    os.makedirs(os.path.dirname(dst))
    STATE_FS.put_small_parquet_dir(t1, dst)
    assert STATE_FS.parquet_row_counts(dst) == 3
    # overwrite-idempotent republish of the same dir
    STATE_FS.put_small_parquet_dir(t2, dst)
    assert STATE_FS.parquet_row_counts(dst) == 1
    # one parquet file, no leftover tmp dirs
    assert [f for f in os.listdir(dst)] == ["part-00000.parquet"]
    assert [d for d in os.listdir(tmp_path / "log")
            if d.startswith(".tmp")] == []
    # a missing dir counts zero (empty touched bucket)
    assert STATE_FS.parquet_row_counts(str(tmp_path / "nope")) == 0


def test_chained_agg_fold_matches_batch_recompute(spark, sf_smoke):
    from db_realtime_changefeed_spark.queries import all_queries

    got = (
        all_queries()["stream_chained_agg"](spark, sf_smoke)
        .orderBy("hour_start", "event_type")
        .collect()
    )

    ev = load_table(spark, sf_smoke, "events")
    # final watermark of the replay = max event time - 1h delay;
    # append emits an hour iff hour_end <= that watermark
    wm = ev.agg(F.max("ts")).collect()[0][0]
    lvl1 = ev.groupBy(
        F.window("ts", "10 minutes").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    exp = (
        lvl1.groupBy(F.window(F.col("w.start"), "1 hour").alias("hw"), "event_type")
        .agg(F.sum("n").alias("n_events"), F.count(F.lit(1)).alias("n_subwindows"))
        .where(F.col("hw.end") <= F.lit(wm) - F.expr("INTERVAL 1 HOUR"))
        .select(
            F.col("hw.start").alias("hour_start"),
            "event_type",
            "n_events",
            "n_subwindows",
        )
        .orderBy("hour_start", "event_type")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    assert len(got) > 0
