"""Streaming operators over the ``events`` fixture.

Design: each operator is a pure ``DataFrame -> DataFrame`` function, so
the SAME code path serves (a) the batch table — checked against a DuckDB
oracle — and (b) a real file-source stream drained with
``trigger(availableNow=True)`` into a memory sink — checked by pytest to
match the batch result row-for-row. Where an append drain emits only what
the final watermark has closed (finalized sessions, outer-join NULL rows,
the late-data cutoff), the batch twin filters against
:func:`final_watermark`, the one rule for that watermark. The windows,
gap, horizon and delay are module constants: the SQL oracles hard-code
the same values.

Scale notes: event-time windowed aggregation shuffles on (window, keys);
state size is bounded by the watermark (windows older than
max-event-time - delay are finalized and evicted). Session windows merge
in the state store per key — the shuffle key is the grouping key, not the
session, so skewed users are the thing to watch (mitigate with a pre-agg
on (user, coarse-time) when a single key dominates). The stateful
``applyInPandasWithState`` operator receives Arrow record batches per key
group — vectorized, not row-at-a-time.

Spark 4's successor API ``transformWithStateInPandas`` (composite state
variables, timers, TTL) was evaluated and is environment-gated: its
Python state server requires ``google.protobuf``, which this container
does not ship (probe: STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE,
ImportError google.protobuf). ``applyInPandasWithState`` carries the
custom-stateful contract here; the processor-class port is mechanical
once protobuf is present.
"""

from __future__ import annotations

import operator
import os
import uuid
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from oracle_schema_copy_spark.operators.mutate import merge_upsert
from oracle_schema_copy_spark.plans import oplog
from oracle_schema_copy_spark.sources.tables import load_table, normalize_events_ts

WATERMARK_DELAY = "1 hour"  # every watermark here: max event time - this
JOIN_HORIZON = "1 hour"  # a click matches a view at most this long after it
TUMBLE = "1 day"
SLIDE_LENGTH, SLIDE_STEP = "1 day", "12 hours"  # each event lands in 2 windows
SESSION_GAP = "4 hours"
# Stateful queries create one state store per shuffle partition; a bounded
# drain at the 200 default would pay 200 store commits per micro-batch for
# grams of state.
MAX_STATE_PARTITIONS = 16


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet.

    The streaming file source lists a *directory*; the fixture is a single
    ``events.parquet`` file, so the stream reads the fixture directory with
    a ``pathGlobFilter`` pinned to that one file — no staging dirs or
    symlinks to leak. Schema comes from the batch reader (streams cannot
    infer), and ``ts`` gets the same normalization as ``load_table``
    (nanos-as-long or micros-NTZ → session-TZ TIMESTAMP; watermarks reject
    NTZ).
    """
    # Set the conf here rather than relying on a previous load_table call
    # having set it — otherwise the stream schema is order-dependent
    # across a shared session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    reader = spark.readStream.schema(raw.schema).option(
        "pathGlobFilter", "events.parquet"
    )
    return normalize_events_ts(reader.parquet(sf_dir))


def run_stream_to_df(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drain a streaming DataFrame with availableNow into a memory sink and
    return the result as a batch DataFrame (used by tests and the
    driver-gate queries; the driver never sees an unterminated stream).

    The shuffle partitions are capped at ``MAX_STATE_PARTITIONS`` for the
    drain's state stores. The conf is restored after the stream starts —
    it is captured at query start.
    """
    spark = stream_df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    capped = old.isdigit() and int(old) > MAX_STATE_PARTITIONS
    if capped:
        spark.conf.set("spark.sql.shuffle.partitions", str(MAX_STATE_PARTITIONS))
    try:
        name = f"oscs_sink_{uuid.uuid4().hex[:8]}"
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        if capped:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def stream_to_parquet(stream_df: DataFrame, path: str, checkpoint: str) -> None:
    """Drain a stream into a parquet directory with exactly-once file-sink
    semantics (checkpointed offsets + the sink's transaction log). This is
    the durable counterpart of the memory sink used by tests: at scale the
    same call runs continuously (drop availableNow) and downstream batch
    jobs read the directory incrementally. Rate limiting is a source
    option (``maxFilesPerTrigger`` on the reader), not a sink one."""
    (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def final_watermark(df: DataFrame, *sides: Column) -> DataFrame:
    """The watermark an availableNow drain of ``df`` ends with, as a
    one-row frame with column ``__wm``.

    Each watermark node sees only its own rows — ``sides`` holds one
    predicate per node; none means one node over every row — and the
    global watermark is the MIN over the nodes of ``max(ts) -
    WATERMARK_DELAY``, advanced by the drain's closing no-data
    micro-batch (measured via StreamingQueryProgress.eventTime). A node
    that saw no row never advances, so the global watermark stalls: the
    result is NULL then, not the other nodes' minimum (``least`` would
    skip the NULL), and every comparison against it filters."""
    maxes = [F.max(F.when(side, F.col("ts"))) for side in sides] or [F.max("ts")]
    stalled = reduce(operator.or_, [m.isNull() for m in maxes])
    low = F.least(*maxes) if len(maxes) > 1 else maxes[0]
    return df.agg(
        F.when(~stalled, low - F.expr(f"INTERVAL {WATERMARK_DELAY}")).alias("__wm")
    )


# ---------------------------------------------------------------------------
# Windowed aggregations (batch/stream polymorphic)
# ---------------------------------------------------------------------------


def tumbling_agg(df: DataFrame) -> DataFrame:
    """Tumbling ``TUMBLE`` event-time windows per event_type: count +
    value sum.

    The sum runs in integer MICRO-UNITS (round(value * 1e6) summed as
    BIGINT, divided back once) — order-independent exact arithmetic, the
    r9 cusum/scd2 scale-exactness convention: a round(double-sum, 6)
    drifts past the 6th decimal between engines once buckets reach ~70k
    doubles (first seen at the sf10 fixture, 10M events)."""
    w = df.withWatermark("ts", WATERMARK_DELAY) if df.isStreaming else df
    return (
        w.groupBy(F.window("ts", TUMBLE).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * F.lit(1000000.0), 0).cast("long"))
                .cast("double")
                / F.lit(1000000.0)
            ).alias("total_value"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events", "total_value")
    )


def sliding_agg(df: DataFrame) -> DataFrame:
    """Sliding windows, ``SLIDE_LENGTH`` long every ``SLIDE_STEP``.

    The mean is computed from an integer micro-unit sum (one exact
    BIGINT sum, two divisions in a fixed order) — same drift rationale
    as :func:`tumbling_agg`: round(avg, 6) over ~70k doubles disagrees
    between engines at the sf10 fixture. The denominator is
    ``count(value)`` (non-null values only) so NULL values are excluded
    from the mean exactly as ``avg(value)`` would — r10 ADVICE fix;
    ``n_events`` stays count(*). Session/per-user sums keep plain
    doubles — their groups are tens of rows, far below the drift
    regime."""
    w = df.withWatermark("ts", WATERMARK_DELAY) if df.isStreaming else df
    return (
        w.groupBy(F.window("ts", SLIDE_LENGTH, SLIDE_STEP).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * F.lit(1000000.0), 0).cast("long"))
                .cast("double")
                / F.lit(1000000.0)
                / F.count("value")
            ).alias("avg_value"),
        )
        .select(F.col("w.start").alias("w_start"), "n_events", "avg_value")
    )


def session_agg(df: DataFrame) -> DataFrame:
    """Per-user session windows with a merge gap: adjacent events closer
    than ``SESSION_GAP`` coalesce into one session (start = first event,
    end = last event + gap — Spark ``session_window`` semantics)."""
    w = df.withWatermark("ts", WATERMARK_DELAY) if df.isStreaming else df
    return (
        w.groupBy(F.session_window("ts", SESSION_GAP).alias("s"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def session_agg_finalized(df: DataFrame) -> DataFrame:
    """Batch twin of the APPEND-mode streaming session drain: an append
    sink only emits sessions the final watermark has FINALIZED —
    empirically (synthetic boundary probe in tests/test_streaming.py)
    Spark emits a session iff ``session_end <= watermark`` (the equality
    case IS emitted). Sessions still open at drain end die with the
    state — the same eligibility contract as the outer
    :func:`view_click_join`."""
    return (
        session_agg(df)
        .join(F.broadcast(final_watermark(df)))
        .where(F.col("session_end") <= F.col("__wm"))
        .drop("__wm")
    )


def with_late_rows_dropped(df: DataFrame) -> DataFrame:
    """Batch twin of the watermark late-data policy: drop rows with event
    time older than the final watermark, max(event time) -
    ``WATERMARK_DELAY``. In streaming this is what ``withWatermark`` does
    continuously; expressing it in batch gives the oracle-checkable
    contract for the same cutoff rule."""
    return (
        df.join(F.broadcast(final_watermark(df)))
        .where(F.col("ts") >= F.col("__wm"))
        .drop("__wm")
    )


def view_click_join(df: DataFrame, how: str) -> DataFrame:
    """Stream-stream join of each 'view' to that user's 'click' events
    within ``JOIN_HORIZON`` after it; ``how`` is ``inner``, ``left``,
    ``right`` or ``full``.

    Both sides carry watermarks and the join has an event-time range
    condition, so Spark bounds the buffered state to horizon + delay on
    each side. The same transformation runs in batch, where watermarks
    are no-ops, and that is what the SQL oracle checks.

    An outer join can declare "no partner arrived" only once the
    watermark has passed the row's whole match window; rows still open
    when an availableNow drain ends die with the state. The batch twin
    keeps exactly the rows the drain emits (the boundary cases are
    pinned by synthetic tests in tests/test_streaming.py), against the
    final watermark ``wm`` of the two watermark nodes
    (:func:`final_watermark`):

    - every matched (view, click) pair;
    - an unmatched view once ``view_ts < wm - horizon`` (a later click
      could still match it until then);
    - an unmatched click once ``click_ts < wm``, strictly (clicks match
      only views at or before them; a click exactly at ``wm`` stays
      buffered).

    A left join has no unmatched clicks and a right join no unmatched
    views, so the one predicate serves every outer type. ``user_id``
    coalesces across the sides, so unmatched clicks keep their key."""
    if how not in ("inner", "left", "right", "full"):
        raise ValueError(f"view_click_join: unknown join type {how!r}")
    v = df.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    c = df.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    if df.isStreaming:
        v = v.withWatermark("view_ts", WATERMARK_DELAY)
        c = c.withWatermark("click_ts", WATERMARK_DELAY)
    horizon = F.expr(f"INTERVAL {JOIN_HORIZON}")
    joined = v.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + horizon),
        how,
    )
    if how != "inner" and not df.isStreaming:
        wm = final_watermark(
            df, F.col("event_type") == "view", F.col("event_type") == "click"
        )
        joined = (
            joined.join(F.broadcast(wm))
            .where(
                (F.col("view_id").isNotNull() & F.col("click_id").isNotNull())
                | (
                    F.col("click_id").isNull()
                    & (F.col("view_ts") < F.col("__wm") - horizon)
                )
                | (F.col("view_id").isNull() & (F.col("click_ts") < F.col("__wm")))
            )
            .drop("__wm")
        )
    return joined.select(
        F.coalesce(F.col("user_id"), F.col("c_user_id")).alias("user_id"),
        "view_id",
        "view_ts",
        "click_id",
        "click_ts",
    )


def daily_key_dedup(df: DataFrame) -> DataFrame:
    """Streaming deduplication: first occurrence of each
    (user_id, event_type, day) key wins; output is the distinct key set
    (survivor-attribute-free, so batch and stream agree exactly).

    Uses ``dropDuplicates`` with NO watermark: a watermark would drop
    late-arriving FIRST occurrences in multi-micro-batch drains, silently
    diverging from the batch DISTINCT (the oracle). The cost is dedup
    state that never evicts — fine for bounded backfills; for an endless
    production stream use :func:`daily_key_dedup_watermarked`, which
    bounds state in exchange for may-rededup semantics beyond the delay
    horizon.
    """
    keyed = df.select(
        "ts",
        "user_id",
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("w_day"),
    )
    return keyed.dropDuplicates(["user_id", "event_type", "w_day"]).select(
        "user_id", "event_type", "w_day"
    )


def daily_key_dedup_watermarked(df: DataFrame) -> DataFrame:
    """BOUNDED-STATE streaming deduplication via
    ``dropDuplicatesWithinWatermark``: first (user_id, event_type, day)
    occurrence wins, and a key's dedup state is EVICTED once the
    event-time watermark passes its event time + ``WATERMARK_DELAY`` —
    the production swap for :func:`daily_key_dedup`, whose state grows
    without bound on an endless stream.

    The contract this trades away: duplicates separated by MORE than
    the delay of event time across micro-batches may be re-emitted (the
    first copy's state has been evicted by the time the second arrives).
    Within one micro-batch the dedup is exact regardless of spacing —
    state eviction happens at batch boundaries — so a single-batch
    availableNow drain matches the batch DISTINCT exactly; the
    multi-batch re-emission boundary is pinned by a synthetic pytest
    (tests/test_streaming.py), the same pattern as session-window
    finalization.

    Output is the surviving key set (ts projected away) so batch and
    stream agree whichever physical copy survived.
    """
    keyed = df.select(
        "ts",
        "user_id",
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("w_day"),
    )
    if keyed.isStreaming:
        keyed = keyed.withWatermark("ts", WATERMARK_DELAY)
        deduped = keyed.dropDuplicatesWithinWatermark(
            ["user_id", "event_type", "w_day"]
        )
    else:
        deduped = keyed.dropDuplicates(["user_id", "event_type", "w_day"])
    return deduped.select("user_id", "event_type", "w_day")


def stream_upsert_to_parquet(
    stream_df: DataFrame, path: str, keys: list[str], checkpoint: str
) -> None:
    """foreachBatch CDC-style sink: MERGE each micro-batch into a parquet
    serving table by key (update-mode emissions overwrite their key's row;
    new keys insert). The serving table is table ``basename(path)`` of an
    ``oplog.Warehouse`` rooted at the path's parent, and each batch commits
    the merged table with ``Warehouse.rewrite``: the read of the old table
    finishes before its directory is replaced, a batch cut before its
    commit leaves the old table, and one cut after it is rolled forward
    when the resumed stream next runs a batch; the checkpoint then replays
    the cut batch. The warehouse remembers the schema it wrote, so a
    batch after the first reads the table without a schema-inference job.
    On a table format with native MERGE (Delta/Iceberg) the body becomes
    one MERGE INTO; the foreachBatch wiring is identical.
    """
    root, table = os.path.split(os.path.abspath(path))
    wh = oplog.Warehouse(stream_df.sparkSession, root)

    def _apply(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # update-mode aggregates emit one row per key per batch; the
        # defensive dedup guards composed sources so MERGE's unique-key
        # contract holds
        latest = batch_df.dropDuplicates(keys)
        # probe existence explicitly — a bare try/except around the read
        # would treat ANY failure (schema drift, corrupt dir) as "first
        # batch" and silently replace the whole table with one
        # micro-batch; real errors must propagate and fail the stream
        if wh.exists(table):
            latest = merge_upsert(wh.read(table), latest, keys, check_unique=False)
        wh.rewrite(table, latest)

    (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# ---------------------------------------------------------------------------
# Custom stateful operator
# ---------------------------------------------------------------------------

_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("s", DoubleType())]
)


def _totals_fn(key, pdf_iter, state: GroupState):
    """Accumulate (count, sum) per user across micro-batches; emit the
    running totals after each batch's worth of rows for the key."""
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(s, 6)]}
    )


def stateful_user_totals_stream(stream_df: DataFrame) -> DataFrame:
    """Running per-user totals via ``applyInPandasWithState`` — the custom
    stateful-operator escape hatch (Arrow-batched per key group). With an
    availableNow drain of a single-file source this emits exactly one row
    per user equal to the batch groupBy — which is what the driver's
    oracle checks; multi-batch incremental behavior is pytest-covered."""
    return stream_df.groupBy("user_id").applyInPandasWithState(
        _totals_fn,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def batch_user_totals(df: DataFrame) -> DataFrame:
    """Batch twin of the stateful operator (plain groupBy aggregate)."""
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")

