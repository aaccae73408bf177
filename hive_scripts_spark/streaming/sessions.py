"""Session-window streaming: gap-based sessionization as a native
Structured Streaming operator.

The batch ``x_events_sessionize`` query implements 30-minute-gap
sessionization with lag/cumsum window functions (its DuckDB-oracled
form). This module is the STREAMING-native expression of the same
operator family via ``F.session_window``, Spark's built-in merging
session window: state is per-(user, open-session) and is evicted once
the watermark passes the session close, so the operator runs unbounded
streams with bounded state — the 100 TB-stream posture the lag/cumsum
form (which needs a full per-user sort) cannot offer.

Boundary semantics (locked by ``test_session_streaming.py``): Spark
merges TOUCHING session windows — an exactly-gap-apart pair stays in
one session — which matches the lag-based sessionize's split-on-
strictly-greater-than-gap rule exactly. The two operators therefore
agree on session membership; they differ only in output shape
(``session_window`` closes at last-event + gap). The batch twin of
this operator is :func:`session_window_counts` on a batch frame — the
stream/batch parity test asserts exact equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def session_window_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Per-user gap-merged sessions: count + start/end per session.

    Works on both batch and streaming frames (the same logical plan —
    the Structured Streaming contract makes the parity exact). Pass
    ``watermark`` on streams to bound state; append-mode output emits a
    session once the watermark passes its close.
    """
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
