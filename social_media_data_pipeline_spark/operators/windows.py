"""Window-function surface (SURVEY.md §2.7).

The reference's window-shaped semantics (per-group share A9, per-year
random top-k D3) are built on these; the engine also ships the standard
ranking/analytic surface as thin, tested helpers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    k: int,
    name: str = "rank",
) -> DataFrame:
    """Per-group top-k — rank over an ordered window, filter <= k.

    Window top-k is shuffle-once and AQE-skew-splittable; never collect
    groups to the driver.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(name, F.row_number().over(w)).filter(F.col(name) <= k)


def with_lag_lead(
    df: DataFrame,
    col: str,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    offset: int = 1,
    allow_global: bool = False,
) -> DataFrame:
    """lag/lead pair over an ordered partition (delta/time-series prep).

    An empty `partition_by` is a GLOBAL window — the whole input
    collapses onto one task. That is only acceptable for provably
    bounded series (e.g. an already-aggregated daily table, one row per
    calendar day), so it must be requested explicitly with
    `allow_global=True`; reusing this helper on raw event grain without
    partition keys raises instead of silently single-tasking 100 TB.
    """
    if not partition_by and not allow_global:
        raise ValueError(
            "with_lag_lead with no partition_by is a single-task global "
            "window; pass partition keys, or allow_global=True only for "
            "a bounded (pre-aggregated) series"
        )
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(f"{col}_lag", F.lag(col, offset).over(w)).withColumn(
        f"{col}_lead", F.lead(col, offset).over(w)
    )


def running_total(
    df: DataFrame,
    col: str,
    partition_by: Sequence[str],
    order_by: Sequence[Column | str],
    name: str = "running_total",
) -> DataFrame:
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(name, F.sum(col).over(w))


def cusum_scaled(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[Column | str],
    name: str = "cusum_scaled",
    peak_name: str = "is_peak",
) -> DataFrame:
    """Exact-integer CUSUM changepoint statistic (Page 1954) over a
    BOUNDED pre-aggregated series.

    The classical statistic s_i = Σ_{j≤i}(x_j − mean) needs the float
    mean = total/n; multiplying through by n keeps every term integer:

        s'_i = n · cumsum_i − i · total        (s' = n · s, exact int64)

    so the curve is bit-exact under any partitioning and any engine —
    no IEEE fold order to agree on. The row maximizing |s'| is the
    single most likely mean-shift changepoint; it is flagged
    `is_peak` (ties: every argmax row flags, deterministically).

    GLOBAL window by contract: the input must already be bounded
    (e.g. a calendar-day count table — one row per day), the same
    opt-in class as `with_lag_lead(allow_global=True)`. Calling this
    on raw event grain would single-task the corpus; aggregate first.
    Int64 headroom: |s'| ≤ n · total, so a 10⁶-day series over 10¹²
    events stays 9 orders below overflow.
    """
    totals = df.agg(
        F.count(F.lit(1)).alias("__nrows"), F.sum(value_col).alias("__total")
    )
    w = Window.orderBy(*order_by)
    cum = (
        df.crossJoin(F.broadcast(totals))
        .withColumn("__cum", F.sum(value_col).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__i", F.row_number().over(w))
        .withColumn(
            name,
            (F.col("__nrows") * F.col("__cum") - F.col("__i") * F.col("__total")).cast("long"),
        )
    )
    wg = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cum.withColumn(
        peak_name, F.abs(F.col(name)) == F.max(F.abs(F.col(name))).over(wg)
    ).drop("__nrows", "__total", "__cum", "__i")
