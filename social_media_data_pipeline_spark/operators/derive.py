"""Derived-column scalar expressions (SURVEY.md §2.4): the Preprocessor's
derivations (E1, E3, E6-E8). The other E-operators are single Spark
built-ins used inline where needed (`F.split`, `F.timestamp_seconds`,
`F.to_timestamp`, `F.element_at`, `F.array_join`, `F.when`).

All built-in Column expressions — whole-stage-codegen'd, no Python in the
hot path. The reference computes these row-at-a-time or via pandas apply
(`Preprocessing/Preprocessor.py:134-158`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def concat_image_name(id_col: str, shortcode_col: str) -> Column:
    """E1 — `image = "{id}_{shortcode}.jpg"` (`Preprocessor.py:138`)."""
    return F.concat_ws("_", F.col(id_col).cast("string"), F.concat(F.col(shortcode_col), F.lit(".jpg")))


def with_date_parts(df: DataFrame, ts_col: str) -> DataFrame:
    """E3 — year/month/day convenience columns (`Preprocessor.py:149-151`)."""
    return (
        df.withColumn("year", F.year(F.col(ts_col)))
        .withColumn("month", F.month(F.col(ts_col)))
        .withColumn("day", F.dayofmonth(F.col(ts_col)))
    )


def interactions(likes_col: str, comments_col: str) -> Column:
    """E6 — `interactions = likes + comment_count` (`Preprocessor.py:153`)."""
    return F.col(likes_col) + F.col(comments_col)


def extract_hashtags(text_col: str) -> Column:
    """E7 — `re.findall(r"#(\\w+)", text)` (`Preprocessor.py:54`,
    `InstagramPostScraper.py:308`)."""
    return F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(r"#(\w+)"), F.lit(1)
    )


def lowercase_array(col: str) -> Column:
    """E8 — lowercase every array element (`Preprocessor.py:219-221`)."""
    return F.transform(F.col(col), lambda x: F.lower(x))


def column_stuff(
    df: DataFrame,
    dataset_name: str,
    ts_col: str = "timestamp",
    final_columns: Sequence[str] | None = None,
) -> DataFrame:
    """The Preprocessor's full derivation block (`Preprocessor.py:134-158`):
    image name (E1), city/building from dataset name (E2), date parts (E3),
    interactions (E6), then the fixed 20-column projection (P1)."""
    city, _, building = dataset_name.partition("_")
    out = (
        df.withColumn("image", concat_image_name("id", "shortcode"))
        .withColumn("city", F.lit(city))
        .withColumn("building", F.lit(building or None))
        .transform(lambda d: with_date_parts(d, ts_col))
        .withColumn("interactions", interactions("likes", "comment_count"))
    )
    if final_columns:
        out = out.select(*final_columns)
    return out
