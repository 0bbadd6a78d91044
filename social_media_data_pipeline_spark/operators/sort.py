"""Sorts / limits / top-k (SURVEY.md §2.8, O1-O6).

Global sorts are range-partitioned exchanges in Spark — fine as a final
presentation step, wrong in the middle of a pipeline. Top-k uses
`orderBy().limit(k)` which Spark executes as per-partition partial top-k
+ single merge (TakeOrderedAndProject), not a full sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k(df: DataFrame, order_by: Sequence[Column | str], k: int) -> DataFrame:
    """O2/O3 — deterministic top-k (callers must include a tie-break key)."""
    return df.orderBy(*order_by).limit(k)


def top_k_array(arr: Column, k: int, ascending: bool = False) -> Column:
    """O4 — per-row top-k of an array (top-5 model predictions,
    `ImageLabeler.py:151-157`)."""
    return F.slice(F.sort_array(arr, asc=ascending), 1, k)


def distinct_sorted(df: DataFrame, col: str) -> DataFrame:
    """O6 — sorted distinct values (`ExploratoryAnalysis.py:41-42`)."""
    return df.select(col).distinct().orderBy(col)
