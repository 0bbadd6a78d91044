"""Sessionization over event tables (SURVEY.md §2.11 session windows).

`sessionize` is the batch gap-based session assignment; `sessionize_bounded`
is its skew-tolerant chunked formulation with identical output. Both are
registered queries checked against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tie_break: str | None = None,
) -> DataFrame:
    """Session windows, batch formulation: a session breaks when the gap
    to the previous event exceeds `gap_minutes` (lag + running sum of
    break flags). SQL-expressible → oracle-checkable; the streaming
    equivalent is `F.session_window(ts, gap)`.

    `tie_break`: extra unique order column for deterministic session ids
    when a user has simultaneous events.
    """
    from pyspark.sql.window import Window

    order = [ts_col] + ([tie_break] if tie_break else [])
    w = Window.partitionBy(user_col).orderBy(*order)
    # cast through LTZ: TIMESTAMP_NTZ has no direct long cast (UTC session)
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    return (
        events.withColumn(
            "is_new_session",
            F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("is_new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .drop("is_new_session")
    )


def sessionize_bounded(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tie_break: str | None = None,
    chunk_hours: int = 24,
) -> DataFrame:
    """Skew-tolerant sessionize — IDENTICAL output to `sessionize`, but
    no per-user task is ever larger than one (user, time-chunk) slice.

    `sessionize` windows on the bare user key, so a power-law user (1%
    of a 100 TB event log on one id) collapses onto a single task —
    and AQE cannot split a window partition the way it splits skewed
    join partitions. This formulation exploits session semantics: a
    session never spans a quiet gap, so sessions computed inside fixed
    time chunks are exact except at chunk boundaries, where the chain
    is repaired from per-chunk SUMMARIES (first/last event epoch +
    local session count — one row per (user, nonempty chunk), bounded
    by calendar size, not event count):

      merged(c)   = boundary gap to the user's previous nonempty chunk
                    <= gap  (lag over the summary table)
      offset(c)   = running sum of (n_sessions - merged) over chunks
      session_id  = offset(prev chunks) + local_id - merged(c)

    Cost: the big table shuffles ONCE on (user, chunk) — same order as
    `sessionize`'s user shuffle but with bounded partitions; the
    summary pass and its window are calendar-sized; the repair map
    joins back on (user, chunk), AQE-splittable. `chunk_hours` must be
    >= the session gap so a session can span at most one boundary per
    chunk transition (enforced).
    """
    from pyspark.sql.window import Window

    gap_s = gap_minutes * 60
    if chunk_hours * 3600 < gap_s:
        raise ValueError(
            f"chunk_hours ({chunk_hours}) must cover the session gap "
            f"({gap_minutes} min) so sessions span at most one boundary"
        )
    order = [ts_col] + ([tie_break] if tie_break else [])
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    chunked = events.withColumn("__epoch", epoch).withColumn(
        # floor, not cast-truncate: pre-1970 epochs are negative
        "__chunk", F.floor(F.col("__epoch") / (chunk_hours * 3600)).cast("bigint")
    )
    w_local = Window.partitionBy(user_col, "__chunk").orderBy(*order)
    local_gap = F.col("__epoch") - F.lag("__epoch").over(w_local)
    local = chunked.withColumn(
        "__new", F.when(local_gap.isNull() | (local_gap > gap_s), 1).otherwise(0)
    ).withColumn(
        "__local_id",
        F.sum("__new").over(
            w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    summ = local.groupBy(user_col, "__chunk").agg(
        F.min("__epoch").alias("__first"),
        F.max("__epoch").alias("__last"),
        F.max("__local_id").alias("__n_sessions"),
    )
    w_user = Window.partitionBy(user_col).orderBy("__chunk")
    prev_last = F.lag("__last").over(w_user)
    summ = summ.withColumn(
        "__merged",
        F.when(
            prev_last.isNotNull() & ((F.col("__first") - prev_last) <= gap_s), 1
        ).otherwise(0),
    ).withColumn(
        "__cum",
        F.sum(F.col("__n_sessions") - F.col("__merged")).over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    repair = summ.select(
        user_col,
        "__chunk",
        (F.col("__cum") - (F.col("__n_sessions") - F.col("__merged"))).alias(
            "__offset"
        ),
        "__merged",
    )
    return (
        local.join(repair, [user_col, "__chunk"])
        .withColumn(
            "session_id",
            F.col("__offset") + F.col("__local_id") - F.col("__merged"),
        )
        .drop("__epoch", "__chunk", "__new", "__local_id", "__offset", "__merged")
    )
