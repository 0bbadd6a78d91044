"""Exploratory analysis (SURVEY.md §2.6, M2): the aggregates the
exploratory stage reports from `analyze_instagram_dataset`
(`Exploration/ExploratoryAnalysis.py:54-110`), as DataFrames instead of
files/plots. The other A-operators (histogram, describe, profile,
correlation) live in `operators/aggregates.py`.

Everything is a single lazy plan per aggregate; the reference
materializes the whole frame then loops pandas groupbys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from social_media_data_pipeline_spark.operators import aggregates


def posts_per_period(df: DataFrame, ts_col: str = "timestamp") -> dict[str, DataFrame]:
    """Post counts at W/M/Q/Y grains (`ExploratoryAnalysis.py:83-85`)."""
    return {
        freq: aggregates.group_by_time(
            df, ts_col, freq, ts_col, how="count", bucket_name="period", out_name="n_posts"
        ).orderBy("period")
        for freq in ("W", "M", "Q", "Y")
    }


def hashtag_frequency(df: DataFrame, col: str = "hashtags") -> DataFrame:
    """A3 (`ExploratoryAnalysis.py:88-89`)."""
    return aggregates.value_counts(df, col, out_value="hashtag", out_count="count")
