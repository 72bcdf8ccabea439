"""Structured Streaming surface: event-time windowed aggregations
(tumbling / sliding / session), the watermark late-data policy, one
view/click stream-stream join for every join type, and a custom stateful
operator (applyInPandasWithState).

The reference engine has no streaming at all (SURVEY.md §2.5); this package
is part of the mandated extension surface. Every transformation is written
once against a plain DataFrame and applied unchanged to both the batch
table and the file-source stream — the batch run is what the DuckDB oracle
checks, the streaming run (trigger=availableNow into a memory sink) is
pytest-verified to produce identical rows. Where the drain emits only what
its final watermark closed, the batch run filters against
``final_watermark``.
"""

from oracle_schema_copy_spark.streaming.ops import (  # noqa: F401
    events_stream,
    final_watermark,
    run_stream_to_df,
    session_agg,
    sliding_agg,
    stateful_user_totals_stream,
    tumbling_agg,
    view_click_join,
    with_late_rows_dropped,
)
