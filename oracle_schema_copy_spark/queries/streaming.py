"""Streaming queries over ``events``: event-time windowed aggregations,
the watermark late-data policy, stream-stream and stream-static joins,
streaming dedup, sketches, a custom stateful operator and a CDC upsert
sink.

Each transformation is one shared function (``streaming/ops.py``)
applied to BOTH the batch table and a genuine file-source stream (pytest
asserts the drained stream matches the batch result — see
tests/test_streaming.py). The ``*_live`` entries run the real Structured
Streaming path inside ``queries()`` itself, drained with availableNow, so
the oracle gate also executes streaming code. The four
``stream_stream_*join_live`` names are the four join types of the one
``ops.view_click_join``.

Window-start oracles use epoch arithmetic (``floor(epoch(ts)/N)*N``) rather
than DuckDB ``time_bucket`` so the alignment rule is explicitly the same
as Spark's (windows align to the Unix epoch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oracle_schema_copy_spark.queries import query
from oracle_schema_copy_spark.sources.tables import load_table
from oracle_schema_copy_spark.streaming import ops

# epoch-aligned bucket start as a naive UTC timestamp
def _bucket(sec: int) -> str:
    return f"CAST(to_timestamp(floor(epoch(ts) / {sec}) * {sec}) AS TIMESTAMP)"


@query(
    "stream_tumbling_window",
    f"""
    SELECT {_bucket(86400)} AS w_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS total_value
    FROM events GROUP BY 1, 2
    """,
    headline=True,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows per event_type (batch mode of the
    shared transformation; the stream run is pytest-verified identical)."""
    return ops.tumbling_agg(ops.load_events(spark, sf_dir))


@query(
    "stream_sliding_window",
    f"""
    WITH b AS (SELECT {_bucket(43200)} AS b0, value FROM events),
    w AS (SELECT unnest([b0, b0 - INTERVAL 12 HOUR]) AS w_start, value FROM b)
    SELECT w_start, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / count(value) AS avg_value
    FROM w GROUP BY w_start
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 day long, 12 h slide — every event lands in two
    windows); oracle materializes both window memberships via unnest."""
    return ops.sliding_agg(ops.load_events(spark, sf_dir))


@query(
    "stream_session_window",
    """
    WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 4 HOUR
                    THEN 1 ELSE 0 END AS new_s
        FROM events),
    s AS (SELECT *, sum(new_s) OVER (
              PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
          FROM o)
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 4 HOUR AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows, 4-hour merge gap. Spark ``session_window``
    semantics (session end = last event + gap; merge iff next event is
    strictly inside the previous window) reproduced in SQL via gap-flag +
    running-sum sessionization."""
    return ops.session_agg(ops.load_events(spark, sf_dir))


@query(
    "stream_watermark_late_drop",
    """
    WITH c AS (SELECT max(ts) - INTERVAL 1 HOUR AS cutoff FROM events)
    SELECT e.* FROM events e, c WHERE e.ts >= c.cutoff
    """,
    changed_in=15,
)
def q_stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data policy as a batch contract: rows with event time
    older than max(event time) - 1 h are dropped (what ``withWatermark``
    enforces continuously on the stream)."""
    return ops.with_late_rows_dropped(ops.load_events(spark, sf_dir))


@query(
    "stream_tumbling_window_live",
    f"""
    SELECT {_bucket(86400)} AS w_start, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run: file-source stream -> watermark ->
    tumbling windows -> memory sink (availableNow), complete output mode
    (emits every window, so the drained result equals the batch oracle)."""
    return ops.run_stream_to_df(
        ops.tumbling_agg(ops.events_stream(spark, sf_dir)), output_mode="complete"
    )


@query(
    "stream_session_window_live",
    """
    WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 4 HOUR
                    THEN 1 ELSE 0 END AS new_s
        FROM events),
    s AS (SELECT *, sum(new_s) OVER (
              PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
          FROM o),
    agg AS (
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 4 HOUR AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 6) AS total_value
        FROM s GROUP BY user_id, sid),
    c AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
    SELECT agg.* FROM agg CROSS JOIN c WHERE agg.session_end <= c.wm
    """,
)
def q_stream_session_window_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming session windows in APPEND mode: the sink only emits
    sessions the final watermark finalizes — session_end <= max(ts) -
    delay, equality included (pinned by a synthetic boundary pytest);
    sessions still open when the availableNow drain ends die buffered.
    The oracle sessionizes in SQL and applies exactly that eligibility
    cutoff — the third watermark-honesty contract next to the late-drop
    policy and the left-outer join NULL rule."""
    return ops.run_stream_to_df(
        ops.session_agg(ops.events_stream(spark, sf_dir)),
        output_mode="append",
    )


@query(
    "stream_sliding_window_live",
    f"""
    WITH b AS (SELECT {_bucket(43200)} AS b0, value FROM events),
    w AS (SELECT unnest([b0, b0 - INTERVAL 12 HOUR]) AS w_start, value FROM b)
    SELECT w_start, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / count(value) AS avg_value
    FROM w GROUP BY w_start
    """,
)
def q_stream_sliding_window_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming sliding windows (1 day long, 12 h slide
    — every event belongs to two overlapping windows), drained with
    availableNow in complete mode so every window is emitted and the
    drained result equals the batch oracle. Completes the live windowing
    matrix: tumbling, sliding, and session windows all gated on the
    actual streaming path."""
    return ops.run_stream_to_df(
        ops.sliding_agg(ops.events_stream(spark, sf_dir)), output_mode="complete"
    )


@query(
    "stream_stream_join_live",
    """
    SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM events v
    JOIN events c
      ON v.event_type = 'view' AND c.event_type = 'click'
     AND c.user_id = v.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
    """,
    changed_in=15,
)
def q_stream_stream_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream inner join (``ops.view_click_join``, ``inner``):
    views x clicks per user within a 1-hour horizon, watermarks on both
    sides bounding the buffered state, drained with availableNow. The
    oracle is the equivalent batch range join."""
    return ops.run_stream_to_df(
        ops.view_click_join(ops.events_stream(spark, sf_dir), "inner"),
        output_mode="append",
    )


@query(
    "stream_stream_left_join_live",
    """
    WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
               FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id AS c_user_id, event_id AS click_id, ts AS click_ts
          FROM events WHERE event_type = 'click'),
    b AS (SELECT CASE WHEN max(CASE WHEN event_type = 'view' THEN ts END)
                           IS NOT NULL
                       AND max(CASE WHEN event_type = 'click' THEN ts END)
                           IS NOT NULL
                 THEN least(max(CASE WHEN event_type = 'view' THEN ts END),
                            max(CASE WHEN event_type = 'click' THEN ts END))
                      - INTERVAL 1 HOUR - INTERVAL 1 HOUR END AS emit_before
          FROM events)
    SELECT v.user_id, v.view_id, v.view_ts, c.click_id, c.click_ts
    FROM v
    LEFT JOIN c ON c.c_user_id = v.user_id
           AND c.click_ts >= v.view_ts
           AND c.click_ts <= v.view_ts + INTERVAL 1 HOUR
    CROSS JOIN b
    WHERE c.click_id IS NOT NULL OR v.view_ts < b.emit_before
    """,
    changed_in=15,
)
def q_stream_stream_left_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream LEFT OUTER join (``ops.view_click_join``,
    ``left``): views left-joined to clicks within a 1-hour horizon. The
    semantically loaded part is the NULL side — a streaming engine can
    only declare "no click arrived" once the event-time watermark clears
    the view's whole match window, and the global watermark is the MIN
    across both sides' watermark nodes (each sees only its filtered
    side). The oracle mirrors exactly that eligibility predicate: inner
    matches plus unmatched views older than least(max view_ts, max
    click_ts) - delay - horizon; views younger than the cutoff die
    buffered when the availableNow drain ends."""
    return ops.run_stream_to_df(
        ops.view_click_join(ops.events_stream(spark, sf_dir), "left"),
        output_mode="append",
    )


@query(
    "stream_stream_full_join_live",
    """
    WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
               FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id AS c_user_id, event_id AS click_id, ts AS click_ts
          FROM events WHERE event_type = 'click'),
    b AS (SELECT CASE WHEN max(CASE WHEN event_type = 'view' THEN ts END)
                           IS NOT NULL
                       AND max(CASE WHEN event_type = 'click' THEN ts END)
                           IS NOT NULL
                 THEN least(max(CASE WHEN event_type = 'view' THEN ts END),
                            max(CASE WHEN event_type = 'click' THEN ts END))
                      - INTERVAL 1 HOUR END AS wm
          FROM events)
    SELECT coalesce(v.user_id, c.c_user_id) AS user_id,
           v.view_id, v.view_ts, c.click_id, c.click_ts
    FROM v
    FULL JOIN c ON c.c_user_id = v.user_id
           AND c.click_ts >= v.view_ts
           AND c.click_ts <= v.view_ts + INTERVAL 1 HOUR
    CROSS JOIN b
    WHERE (v.view_id IS NOT NULL AND c.click_id IS NOT NULL)
       OR (c.click_id IS NULL AND v.view_ts < b.wm - INTERVAL 1 HOUR)
       OR (v.view_id IS NULL AND c.click_ts < b.wm)
    """,
    changed_in=15,
)
def q_stream_stream_full_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream FULL OUTER join (``ops.view_click_join``,
    ``full``): the two NULL sides carry
    DIFFERENT watermark eligibility rules, both pinned by synthetic
    boundary pytests — an unmatched view needs its whole match window
    cleared (view_ts < wm - horizon: a future click could still match
    it), an unmatched click only needs the watermark strictly past it
    (click_ts < wm: clicks match only views at-or-before them). wm is
    the min-of-sides watermark. The oracle applies exactly both
    predicates; user_id coalesces across sides."""
    return ops.run_stream_to_df(
        ops.view_click_join(ops.events_stream(spark, sf_dir), "full"),
        output_mode="append",
    )


@query(
    "stream_stream_right_join_live",
    """
    WITH v AS (SELECT user_id AS v_user_id, event_id AS view_id, ts AS view_ts
               FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
          FROM events WHERE event_type = 'click'),
    b AS (SELECT CASE WHEN max(CASE WHEN event_type = 'view' THEN ts END)
                           IS NOT NULL
                       AND max(CASE WHEN event_type = 'click' THEN ts END)
                           IS NOT NULL
                 THEN least(max(CASE WHEN event_type = 'view' THEN ts END),
                            max(CASE WHEN event_type = 'click' THEN ts END))
                      - INTERVAL 1 HOUR END AS wm
          FROM events)
    SELECT c.user_id, v.view_id, v.view_ts, c.click_id, c.click_ts
    FROM v
    RIGHT JOIN c ON c.user_id = v.v_user_id
           AND c.click_ts >= v.view_ts
           AND c.click_ts <= v.view_ts + INTERVAL 1 HOUR
    CROSS JOIN b
    WHERE v.view_id IS NOT NULL OR c.click_ts < b.wm
    """,
    changed_in=15,
)
def q_stream_stream_right_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream RIGHT OUTER join (``ops.view_click_join``,
    ``right``): clicks right-joined to views within a 1-hour horizon —
    completes the outer-join matrix. The NULL side carries the click-side
    eligibility rule already pinned in the FULL join's boundary pytests:
    an unmatched click is emitted once the min-of-sides watermark is
    STRICTLY past it (a click exactly AT the watermark stays buffered);
    the watermark stalls (nothing emitted) when either side is empty.
    The oracle mirrors exactly that predicate."""
    return ops.run_stream_to_df(
        ops.view_click_join(ops.events_stream(spark, sf_dir), "right"),
        output_mode="append",
    )


@query(
    "stream_scd2_temporal_join_live",
    """
    WITH dim AS (
        SELECT c_custkey, c_acctbal,
               CAST('2024-01-01' AS TIMESTAMP) AS valid_from,
               CASE WHEN c_custkey % 11 = 0 THEN CAST('2024-01-15' AS TIMESTAMP)
                    ELSE CAST('9999-12-31' AS TIMESTAMP) END AS valid_to
        FROM customer
        UNION ALL
        SELECT c_custkey, c_acctbal + 100,
               CAST('2024-01-15' AS TIMESTAMP), CAST('9999-12-31' AS TIMESTAMP)
        FROM customer WHERE c_custkey % 11 = 0)
    SELECT e.event_id, e.user_id, e.ts, e.event_type, d.c_acctbal,
           (d.valid_to = CAST('9999-12-31' AS TIMESTAMP)) AS is_open_version
    FROM events e JOIN dim d
      ON e.user_id = d.c_custkey
     AND e.ts >= d.valid_from AND e.ts < d.valid_to
    """,
)
def q_stream_scd2_temporal_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming temporal-table join (the Flink pattern): the live
    event stream enriched per micro-batch against an SCD2 customer
    dimension AS OF EACH EVENT'S OWN EVENT TIME — %11 customers change
    acctbal effective mid-fixture (2024-01-15), so events before the
    effective instant see the closed version and events after see the
    bumped one; plain stream-static equi-joins would smear the current
    value over history (the leakage the SCD2 batch gates exist to
    prevent, now on the live path). Stream-static with a half-open
    interval residual is STATELESS — no watermark, no join state; the
    dimension broadcasts per micro-batch, at scale versioned dims swap
    in without touching the stream. Drained with availableNow; the
    oracle builds the same two-version dimension arithmetically and
    joins with the identical predicate at event cardinality."""
    dim_base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    eff = F.lit("2024-01-15").cast("timestamp")
    far = F.lit("9999-12-31").cast("timestamp")
    v1 = dim_base.select(
        "c_custkey",
        "c_acctbal",
        F.lit("2024-01-01").cast("timestamp").alias("valid_from"),
        F.when(F.col("c_custkey") % 11 == 0, eff).otherwise(far).alias("valid_to"),
    )
    v2 = (
        dim_base.where(F.col("c_custkey") % 11 == 0)
        .select(
            "c_custkey",
            (F.col("c_acctbal") + 100).alias("c_acctbal"),
            eff.alias("valid_from"),
            far.alias("valid_to"),
        )
    )
    dim = v1.unionByName(v2)
    e = ops.events_stream(spark, sf_dir)
    joined = e.join(
        F.broadcast(dim),
        (e["user_id"] == dim["c_custkey"])
        & (e["ts"] >= dim["valid_from"])
        & (e["ts"] < dim["valid_to"]),
    ).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "c_acctbal",
        (F.col("valid_to") == far).alias("is_open_version"),
    )
    return ops.run_stream_to_df(joined, output_mode="append")


@query(
    "stream_dedup_keys_live",
    """
    SELECT DISTINCT user_id, event_type,
           CAST(date_trunc('day', ts) AS DATE) AS w_day
    FROM events
    """,
)
def q_stream_dedup_keys_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming deduplication: first (user, event_type, day) wins via
    ``dropDuplicates`` on the stream; output projected to the key set so
    stream, batch and the DISTINCT oracle agree exactly."""
    return ops.run_stream_to_df(
        ops.daily_key_dedup(ops.events_stream(spark, sf_dir)),
        output_mode="append",
    )


@query(
    "stream_dedup_keys_watermarked_live",
    """
    SELECT DISTINCT user_id, event_type,
           CAST(date_trunc('day', ts) AS DATE) AS w_day
    FROM events
    """,
)
def q_stream_dedup_keys_watermarked_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REAL bounded-state streaming dedup: ``dropDuplicatesWithinWatermark``
    on (user, event_type, day) — the production swap for
    stream_dedup_keys_live, whose ``dropDuplicates`` state never evicts.
    A single-batch availableNow drain (the fixture is one file) dedups
    exactly, so the DISTINCT oracle is a hard gate; the multi-batch
    eviction/re-emission boundary is pinned by a synthetic pytest
    (tests/test_streaming.py::test_dedup_within_watermark_boundary)."""
    return ops.run_stream_to_df(
        ops.daily_key_dedup_watermarked(ops.events_stream(spark, sf_dir)),
        output_mode="append",
    )


@query(
    "stream_stateful_user_totals_live",
    """
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_stateful_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stateful streaming: ``applyInPandasWithState`` running per-user
    totals (Arrow-batched per key group), drained with availableNow. A
    single-batch drain emits exactly the final totals, which the SQL
    oracle checks; incremental multi-batch behavior is pytest-covered."""
    return ops.run_stream_to_df(
        ops.stateful_user_totals_stream(ops.events_stream(spark, sf_dir)),
        output_mode="update",
    )


@query(
    "stream_static_enrich_live",
    """
    SELECT e.event_id, e.user_id, e.event_type, e.value,
           c.c_mktsegment, c.c_acctbal
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    """,
    changed_in=15,
)
def q_stream_static_enrich_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-static join: the live event stream enriched per
    micro-batch against the broadcast customer dimension, drained with
    availableNow. Stateless — no watermark, no buffered state; the
    dimension is re-resolved per micro-batch, so a slowly-changing dim is
    picked up on its next trigger, and the broadcast keeps every
    micro-batch shuffle-free on the stream side. Oracle is the
    equivalent batch join."""
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    e = ops.events_stream(spark, sf_dir)
    joined = e.join(F.broadcast(dim), e["user_id"] == dim["c_custkey"]).select(
        "event_id", "user_id", "event_type", "value", "c_mktsegment", "c_acctbal"
    )
    return ops.run_stream_to_df(joined, output_mode="append")


@query(
    "stream_hll_daily_users_live",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS w_day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_nd,
           TRUE AS hll_within_5pct
    FROM events GROUP BY 1
    """,
)
def q_stream_hll_daily_users_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming per-day distinct users via HLL: exact streaming
    DISTINCT is unsupported (and at scale would hold per-key state
    proportional to the live key set), so the stream aggregates an HLL
    sketch per day — fixed registers per window however many distinct
    users the stream sees, the NDV companion of the bounded-state CMS
    frequency sketch. Drained in complete mode; the gate checks every
    day's estimate lands within 5% of the exact batch NDV (sparse-mode
    HLL is exact at fixture cardinalities; the band is the honest
    contract at any scale). Exact counts come from the SQL oracle, so a
    sketch regression turns the row red."""
    from pyspark.sql import functions as F

    ev = ops.events_stream(spark, sf_dir).select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("w_day"), "user_id"
    )
    per = ev.groupBy("w_day").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("__est")
    )
    est = ops.run_stream_to_df(per, output_mode="complete")
    exact = (
        ops.load_events(spark, sf_dir)
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("w_day"))
        .agg(F.count_distinct("user_id").cast("long").alias("exact_nd"))
    )
    ex = F.col("exact_nd").cast("double")
    return exact.join(est, "w_day").select(
        "w_day",
        "exact_nd",
        (F.abs(F.col("__est").cast("double") - ex) <= 0.05 * ex).alias(
            "hll_within_5pct"
        ),
    )


def _stream_cms_oracle(depth: int = 4, width: int = 256) -> str:
    from oracle_schema_copy_spark.operators.sketches import cms_bucket_sql

    key = "CAST(user_id AS VARCHAR)"
    arms = "\n        UNION ALL ".join(
        f'SELECT {j} AS "row", {cms_bucket_sql(key, j, width)} AS bucket FROM events'
        for j in range(depth)
    )
    return f"""
    SELECT "row", bucket, CAST(count(*) AS BIGINT) AS cnt
    FROM ({arms})
    GROUP BY "row", bucket
    """


@query("stream_cms_sketch_live", _stream_cms_oracle())
def q_stream_cms_sketch_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming count-min sketch: the sketch build IS a streaming
    aggregation — explode each event's depth probe coordinates, groupBy
    (row, bucket) in complete mode. This is the canonical BOUNDED-STATE
    streaming summary: per-key streaming counts hold state proportional
    to the live key set, while the sketch's state is a fixed depth x
    width counter grid however many distinct users the stream ever sees —
    the frequency/heavy-hitter summary an unbounded 100 TB stream needs.
    Drained with availableNow; the oracle is the identical md5-derived
    grid computed in batch (counter linearity makes the incremental and
    one-shot grids equal by construction — the same algebra
    sketch_cms_heavy_hitters verifies for batch merges)."""
    from oracle_schema_copy_spark.operators import sketches
    from pyspark.sql import functions as F

    ev = ops.events_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("k")
    )
    grid = sketches.cms_sketch(ev, "k", depth=4, width=256)
    return ops.run_stream_to_df(grid, output_mode="complete")


@query(
    "stream_cdc_upsert_live",
    """
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS total_value
    FROM events GROUP BY user_id
    """,
    changed_in=16,
)
def q_stream_cdc_upsert_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL end-to-end streaming CDC pipeline: the event stream is staged
    into two files and drained as TWO micro-batches
    (maxFilesPerTrigger=1), the stateful per-user totals emit update-mode
    rows per batch, and a foreachBatch MERGE sink
    (streaming/ops.py stream_upsert_to_parquet) upserts each batch into a
    parquet SERVING TABLE by key — so the second batch exercises the real
    update path (existing keys overwritten, new keys inserted), not just
    first-batch insert. The gated result is the serving table itself,
    which must equal the batch groupBy twin — the exactly-once contract
    a downstream consumer of the serving table actually relies on. Each
    batch commits the serving table through its warehouse's journal. On a
    table format with native MERGE the sink body becomes one MERGE INTO;
    wiring and gate are unchanged. The serving table is localCheckpointed
    into the session before the scratch dir is removed."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    events = ops.load_events(spark, sf_dir)
    stage = tempfile.mkdtemp(prefix="oscs_cdc_")
    try:
        flat = os.path.join(stage, "flat")
        os.makedirs(flat)
        n = 0
        for i, pred in enumerate(
            (F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1)
        ):
            part = os.path.join(stage, f"part{i}")
            events.where(pred).coalesce(1).write.parquet(part)
            for f in sorted(os.listdir(part)):
                if f.endswith(".parquet"):
                    os.rename(
                        os.path.join(part, f), os.path.join(flat, f"{n}.parquet")
                    )
                    n += 1
        sdf = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(flat)
        )
        serving = os.path.join(stage, "serving")
        ops.stream_upsert_to_parquet(
            ops.stateful_user_totals_stream(sdf),
            serving,
            ["user_id"],
            os.path.join(stage, "ckpt"),
        )
        return spark.read.parquet(serving).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
