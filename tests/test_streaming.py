"""Streaming: the drained file-source stream must match the batch run of
the same transformation; stateful operator accumulates across batches."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from oracle_schema_copy_spark.streaming import ops

SF = "/root/testdata/sf0.001"


def _sorted_pdf(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf.reindex(sorted(pdf.columns), axis=1).sort_values(
        by=sorted(pdf.columns), ignore_index=True
    )


def test_stream_tumbling_matches_batch(spark):
    batch = ops.tumbling_agg(ops.load_events(spark, SF))
    live = ops.run_stream_to_df(
        ops.tumbling_agg(ops.events_stream(spark, SF)), output_mode="complete"
    )
    pd.testing.assert_frame_equal(_sorted_pdf(live), _sorted_pdf(batch))


def test_stream_session_append_emits_finalized_sessions(spark):
    """Append mode emits exactly the sessions the watermark has closed:
    session_end <= max(ts) - delay (the no-data final micro-batch advances
    the watermark past the last event)."""
    events = ops.load_events(spark, SF)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    batch = ops.session_agg(events).toPandas()
    # filter AFTER materializing: a DataFrame .where on session_end would be
    # pushed below the session merge by Catalyst (session_window is a
    # grouping column) and drop tail events before they can merge
    watermark = pd.Timestamp(max_ts) - pd.Timedelta(hours=1)
    expected = batch[batch["session_end"] <= watermark]
    expected = expected.reindex(sorted(expected.columns), axis=1).sort_values(
        by=sorted(expected.columns), ignore_index=True
    )
    live = ops.run_stream_to_df(
        ops.session_agg(ops.events_stream(spark, SF)), output_mode="append"
    )
    pd.testing.assert_frame_equal(_sorted_pdf(live), expected)


def _two_file_stream(spark, events, stage: str):
    """``events`` as a file-source stream of two files, even event ids
    then odd ones, read one file per micro-batch."""
    flat = os.path.join(stage, "flat")
    os.makedirs(flat)
    for i, pred in enumerate((F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1)):
        part = os.path.join(stage, f"part{i}")
        events.where(pred).coalesce(1).write.parquet(part)
        (f,) = [f for f in os.listdir(part) if f.endswith(".parquet")]
        os.rename(os.path.join(part, f), os.path.join(flat, f"{i}.parquet"))
    return (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    """Split events into two files, force one file per micro-batch: the
    applyInPandasWithState totals must end at the full-data counts (state
    carried between batches), and intermediate emissions must be <= final."""
    events = ops.load_events(spark, SF)
    sdf = _two_file_stream(spark, events, str(tmp_path))
    sink = ops.run_stream_to_df(
        ops.stateful_user_totals_stream(sdf), output_mode="update"
    )
    # update-mode memory sink accumulates one emission per (user, batch);
    # the running maximum per user is the final state
    got = (
        sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
    )
    expected = ops.batch_user_totals(events)
    pd.testing.assert_frame_equal(_sorted_pdf(got), _sorted_pdf(expected))
    # state really carried across batches: 2 emissions per user
    per_user = sink.groupBy("user_id").count()
    assert per_user.where(F.col("count") != 2).count() == 0


def test_stream_to_parquet_sink_roundtrip(spark, sf_dir, tmp_path):
    """File-source -> parquet file-sink with checkpointing: the drained
    stream must contain exactly the batch rows (exactly-once sink)."""
    from pyspark.sql import functions as F

    from oracle_schema_copy_spark.streaming import ops

    sdf = ops.events_stream(spark, sf_dir).select("event_id", "user_id", "value")
    out = str(tmp_path / "sink")
    ops.stream_to_parquet(sdf, out, str(tmp_path / "ckpt"))
    got = spark.read.parquet(out)
    batch = ops.load_events(spark, sf_dir).select("event_id", "user_id", "value")
    assert got.count() == batch.count()
    assert got.join(batch, ["event_id", "user_id", "value"]).count() == batch.count()


@pytest.mark.parametrize("how", ["inner", "left", "full", "right"])
def test_stream_stream_join_matches_batch(spark, how):
    """Every join type of the one stream-stream join: the drained stream
    equals the batch twin, including which unmatched rows get NULL
    partners (only those the final min-of-sides watermark has closed)
    and which die buffered. Each NULL side the type emits is
    non-degenerate, and so are the matches."""
    batch = ops.view_click_join(ops.load_events(spark, SF), how)
    live = ops.run_stream_to_df(
        ops.view_click_join(ops.events_stream(spark, SF), how), output_mode="append"
    )
    bp, lp = _sorted_pdf(batch), _sorted_pdf(live)
    assert (bp["view_id"].notna() & bp["click_id"].notna()).sum() > 0
    if how in ("left", "full"):
        assert bp["click_id"].isna().sum() > 0
    if how in ("right", "full"):
        assert bp["view_id"].isna().sum() > 0
    pd.testing.assert_frame_equal(lp, bp)


def test_final_watermark_rule(spark):
    """One node: max(ts) - delay. Several nodes: the minimum of their
    watermarks. A node that saw no row stalls the drain: NULL, not the
    other node's watermark."""
    import datetime

    T0 = datetime.datetime(2024, 1, 1)
    H = datetime.timedelta(hours=1)
    df = spark.createDataFrame(
        [("view", T0 + 10 * H), ("view", T0 + 2 * H), ("click", T0 + 5 * H)],
        "event_type STRING, ts TIMESTAMP",
    )
    view, click = F.col("event_type") == "view", F.col("event_type") == "click"
    assert ops.final_watermark(df).collect()[0]["__wm"] == T0 + 9 * H
    assert ops.final_watermark(df, view, click).collect()[0]["__wm"] == T0 + 4 * H
    error = F.col("event_type") == "error"
    assert ops.final_watermark(df, view, error).collect()[0]["__wm"] is None
    assert ops.final_watermark(df.where(error)).collect()[0]["__wm"] is None


def test_stream_dedup_matches_batch_distinct(spark):
    batch = ops.daily_key_dedup(ops.load_events(spark, SF))
    live = ops.run_stream_to_df(
        ops.daily_key_dedup(ops.events_stream(spark, SF)), output_mode="append"
    )
    pd.testing.assert_frame_equal(_sorted_pdf(live), _sorted_pdf(batch))


def test_foreachbatch_upsert_serving_table(spark, tmp_path, reader_jobs):
    """Two micro-batches of stateful running totals merged into a parquet
    serving table by user_id: the final table must equal the batch totals
    (each batch's emission OVERWRITES that user's row — upsert, not
    append). The serving table is a warehouse table, so the second batch
    reads it with the schema the warehouse remembers: the stream starts no
    schema-inference job."""
    events = ops.load_events(spark, SF)
    sdf = _two_file_stream(spark, events, str(tmp_path))
    serving = str(tmp_path / "serving")
    _, reader = reader_jobs(
        lambda: ops.stream_upsert_to_parquet(
            ops.stateful_user_totals_stream(sdf), serving, ["user_id"], str(tmp_path / "ckpt")
        )
    )
    assert reader == 0
    got = _sorted_pdf(spark.read.parquet(serving))
    expected = _sorted_pdf(ops.batch_user_totals(events))
    pd.testing.assert_frame_equal(got, expected)


def test_stream_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Kill-and-resume durability: a second availableNow drain from the
    SAME checkpoint must process only files that arrived after the first
    drain — no reprocessing, no loss (the property that makes the file
    sink exactly-once across restarts)."""
    from pyspark.sql import functions as F

    from oracle_schema_copy_spark.streaming import ops

    src, out, ck = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    spark.range(0, 100).withColumn("batch", F.lit(1)).coalesce(1).write.parquet(src)

    def drain():
        sdf = spark.readStream.schema("id LONG, batch INT").parquet(src)
        ops.stream_to_parquet(sdf, out, ck)

    drain()
    assert spark.read.parquet(out).count() == 100
    # new file lands; resume from the same checkpoint
    spark.range(100, 150).withColumn("batch", F.lit(2)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 150  # batch-1 rows NOT duplicated, batch-2 not lost
    assert got.select("id").distinct().count() == 150


def test_stream_session_append_matches_finalized_batch(spark):
    """Append-mode session drain == the batch twin filtered to sessions
    the final watermark finalizes (session_end <= max ts - delay)."""
    batch = ops.session_agg_finalized(ops.load_events(spark, SF))
    live = ops.run_stream_to_df(
        ops.session_agg(ops.events_stream(spark, SF)), output_mode="append"
    )
    full = ops.session_agg(ops.load_events(spark, SF))
    bp, lp = _sorted_pdf(batch), _sorted_pdf(live)
    assert len(bp) < full.count()  # some sessions really die buffered
    pd.testing.assert_frame_equal(lp, bp)


def test_stream_session_boundary_equality_is_emitted(spark, tmp_path):
    """Pin the eligibility boundary the finalized twin encodes: a session
    whose end equals the final watermark EXACTLY is emitted (<=, not <).
    user 1's singleton session ends at T0+4h; user 2's late event puts
    the watermark at exactly T0+4h."""
    import datetime

    from pyspark.sql import functions as F

    base = datetime.datetime(2024, 1, 1)
    rows = [(1, base, 1.0), (2, base + datetime.timedelta(hours=5), 1.0)]
    df = spark.createDataFrame(rows, "user_id INT, ts TIMESTAMP, value DOUBLE")
    src = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "4 hours").alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = ops.run_stream_to_df(agg, output_mode="append").toPandas()
    assert list(out["user_id"]) == [1]


def test_full_join_click_side_boundary(spark, tmp_path):
    """Pin the click-side NULL eligibility the full-outer twin encodes:
    an unmatched click strictly BELOW the watermark is emitted, one
    exactly AT the watermark stays buffered, one above is dropped.
    max view_ts = max click_ts = T0+10h -> wm = T0+9h."""
    import datetime

    T0 = datetime.datetime(2024, 1, 1)
    H = datetime.timedelta(hours=1)
    rows = [
        ("view", 1, 100, T0 + 10 * H),
        ("click", 1, 200, T0 + 10 * H),  # matches view 100
        ("click", 2, 201, T0 + 9 * H),  # unmatched, EXACTLY wm -> buffered
        ("click", 3, 202, T0 + 7 * H),  # unmatched, below wm -> emitted
        ("click", 4, 203, T0 + 9 * H + H / 2),  # unmatched, above wm -> buffered
    ]
    df = spark.createDataFrame(
        rows, "event_type STRING, user_id INT, event_id INT, ts TIMESTAMP"
    )
    df = df.withColumn("value", F.lit(1.0))
    src = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    live = ops.run_stream_to_df(
        ops.view_click_join(sdf, "full"), output_mode="append"
    ).toPandas()
    batch = ops.view_click_join(df, "full").toPandas()
    got_clicks = sorted(live[live.view_id.isna()]["click_id"].astype(int))
    assert got_clicks == [202]
    assert sorted(batch[batch.view_id.isna()]["click_id"].astype(int)) == [202]
    assert sorted(live[live.view_id.notna()]["click_id"].dropna().astype(int)) == [200]


def test_left_join_view_side_boundary(spark, tmp_path):
    """Pin the view-side NULL eligibility at its equality boundary: a
    view whose whole match window ends EXACTLY at the watermark
    (view_ts == wm - horizon) stays buffered — the twin's strict '<' is
    Spark's actual behavior, live and batch agreeing row-for-row.
    max view_ts = max click_ts = T0+10h -> wm = T0+9h, cutoff T0+8h."""
    import datetime

    T0 = datetime.datetime(2024, 1, 1)
    H = datetime.timedelta(hours=1)
    rows = [
        ("view", 1, 100, T0 + 10 * H),
        ("click", 1, 200, T0 + 10 * H),  # matches view 100
        ("view", 2, 101, T0 + 8 * H),  # EXACTLY at cutoff -> buffered
        ("view", 3, 102, T0 + 7 * H),  # below cutoff -> NULL row emitted
        ("view", 4, 103, T0 + 8 * H + H / 2),  # above cutoff -> buffered
    ]
    df = spark.createDataFrame(
        rows, "event_type STRING, user_id INT, event_id INT, ts TIMESTAMP"
    ).withColumn("value", F.lit(1.0))
    src = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    live = ops.run_stream_to_df(
        ops.view_click_join(sdf, "left"), output_mode="append"
    ).toPandas()
    batch = ops.view_click_join(df, "left").toPandas()
    assert sorted(live[live.click_id.isna()]["view_id"].astype(int)) == [102]
    assert sorted(batch[batch.click_id.isna()]["view_id"].astype(int)) == [102]


def test_right_join_click_side_boundary(spark, tmp_path):
    """Pin the RIGHT-outer NULL eligibility (the click-side rule, same as
    the full join's): an unmatched click strictly BELOW the watermark is
    emitted, one exactly AT it stays buffered, one above is buffered.
    max view_ts = max click_ts = T0+10h -> wm = T0+9h."""
    import datetime

    T0 = datetime.datetime(2024, 1, 1)
    H = datetime.timedelta(hours=1)
    rows = [
        ("view", 1, 100, T0 + 10 * H),
        ("click", 1, 200, T0 + 10 * H),  # matches view 100
        ("click", 2, 201, T0 + 9 * H),  # unmatched, EXACTLY wm -> buffered
        ("click", 3, 202, T0 + 7 * H),  # unmatched, below wm -> emitted
        ("click", 4, 203, T0 + 9 * H + H / 2),  # unmatched, above wm -> buffered
    ]
    df = spark.createDataFrame(
        rows, "event_type STRING, user_id INT, event_id INT, ts TIMESTAMP"
    ).withColumn("value", F.lit(1.0))
    src = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    live = ops.run_stream_to_df(
        ops.view_click_join(sdf, "right"), output_mode="append"
    ).toPandas()
    batch = ops.view_click_join(df, "right").toPandas()
    assert sorted(live[live.view_id.isna()]["click_id"].astype(int)) == [202]
    assert sorted(batch[batch.view_id.isna()]["click_id"].astype(int)) == [202]
    assert sorted(live[live.view_id.notna()]["click_id"].astype(int)) == [200]


def test_outer_join_stalled_watermark_on_empty_side(spark, tmp_path):
    """ADVICE r7: with ZERO clicks the click-side watermark node never
    advances, so the global watermark stalls and the stream emits NO
    unmatched views — the batch twins must mirror that (a NULL bound,
    not least() skipping the NULL side)."""
    import datetime

    T0 = datetime.datetime(2024, 1, 1)
    H = datetime.timedelta(hours=1)
    rows = [("view", 1, 100, T0), ("view", 2, 101, T0 + 10 * H)]
    df = spark.createDataFrame(
        rows, "event_type STRING, user_id INT, event_id INT, ts TIMESTAMP"
    ).withColumn("value", F.lit(1.0))
    src = str(tmp_path / "ev")
    df.coalesce(1).write.parquet(src)
    sdf = spark.readStream.schema(df.schema).parquet(src)
    for how in ("left", "full"):
        assert ops.view_click_join(df, how).count() == 0, how
        assert (
            ops.run_stream_to_df(
                ops.view_click_join(sdf, how), output_mode="append"
            ).count()
            == 0
        )
    # right join with zero VIEWS: same stall, mirrored
    rows_c = [("click", 1, 200, T0), ("click", 2, 201, T0 + 10 * H)]
    dfc = spark.createDataFrame(
        rows_c, "event_type STRING, user_id INT, event_id INT, ts TIMESTAMP"
    ).withColumn("value", F.lit(1.0))
    srcc = str(tmp_path / "evc")
    dfc.coalesce(1).write.parquet(srcc)
    sdfc = spark.readStream.schema(dfc.schema).parquet(srcc)
    assert ops.view_click_join(dfc, "right").count() == 0
    assert (
        ops.run_stream_to_df(
            ops.view_click_join(sdfc, "right"), output_mode="append"
        ).count()
        == 0
    )


def test_dedup_within_watermark_boundary(spark, tmp_path):
    """Pin dropDuplicatesWithinWatermark's bounded-state contract across
    micro-batches (delay = 1h):

    - batch 1: first occurrences of keys 1 (T0) and 2 (T0+10h) both emit;
      the closing max event time sets next batch's watermark to
      T0+10h - 1h = T0+9h;
    - batch 2 (filler key 3): runs under wm = T0+9h, whose end-of-batch
      state cleanup EVICTS key 1 (expired T0+1h) and keeps key 2
      (expires T0+11h) — the watermark and the eviction each lag one
      batch behind the data that produced them;
    - batch 3: a duplicate of key 1 at T0+9h30 RE-EMITS (state gone —
      the may-rededup trade), a duplicate of key 2 at T0+10h is dropped
      (state alive).
    """
    import datetime

    T0 = datetime.datetime(2024, 1, 1)
    H = datetime.timedelta(hours=1)
    schema = "event_type STRING, user_id INT, event_id INT, ts TIMESTAMP"
    b1 = spark.createDataFrame(
        [("view", 1, 100, T0), ("view", 2, 101, T0 + 10 * H)], schema
    ).withColumn("value", F.lit(1.0))
    b2 = spark.createDataFrame(
        [("view", 3, 102, T0 + 10 * H)], schema
    ).withColumn("value", F.lit(1.0))
    b3 = spark.createDataFrame(
        [("view", 1, 103, T0 + 9 * H + H / 2), ("view", 2, 104, T0 + 10 * H)],
        schema,
    ).withColumn("value", F.lit(1.0))
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    b1.coalesce(1).write.parquet(str(tmp_path / "a"))
    b2.coalesce(1).write.parquet(str(tmp_path / "b"))
    b3.coalesce(1).write.parquet(str(tmp_path / "c"))
    n = 0
    for sub in ("a", "b", "c"):
        for f in sorted(os.listdir(str(tmp_path / sub))):
            if f.endswith(".parquet"):
                dst = os.path.join(flat, f"{n}.parquet")
                os.rename(os.path.join(str(tmp_path / sub), f), dst)
                # the file source orders micro-batches by mtime: pin it
                os.utime(dst, (1_700_000_000 + n * 100, 1_700_000_000 + n * 100))
                n += 1
    assert n == 3
    sdf = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(flat)
    )
    out = ops.run_stream_to_df(
        ops.daily_key_dedup_watermarked(sdf), output_mode="append"
    ).toPandas()
    per_user = out.groupby("user_id").size().to_dict()
    assert per_user == {1: 2, 2: 1, 3: 1}


def test_dedup_watermarked_single_batch_matches_distinct(spark):
    """A single-batch availableNow drain dedups exactly (state eviction
    only happens at batch boundaries): stream == batch DISTINCT."""
    live = ops.run_stream_to_df(
        ops.daily_key_dedup_watermarked(ops.events_stream(spark, SF)),
        output_mode="append",
    )
    batch = ops.daily_key_dedup_watermarked(ops.load_events(spark, SF))
    pd.testing.assert_frame_equal(_sorted_pdf(live), _sorted_pdf(batch))
