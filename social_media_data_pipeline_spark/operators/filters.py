"""Projection / filter / predicate operators (SURVEY.md §2.2).

Each function is a pure ``DataFrame -> DataFrame`` transform. All
predicates are built-in Column expressions so Catalyst pushes them into
the parquet scan (check ``PushedFilters`` in ``df.explain``) — the
reference applies them eagerly in pandas after a full-file read
(`Preprocessing/Preprocessor.py:115-129`).
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def project(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """P1/P2 — keep exactly `columns`, in order.

    Reference: `df.loc[:, [...]]` (`Preprocessor.py:156-158`),
    minimal 7-col slice (`InstagramPostScraper.py:391-392`).
    """
    return df.select(*columns)


def filter_eq(df: DataFrame, column: str, value) -> DataFrame:
    """P3 — equality filter, e.g. ``is_video == False``.

    Reference: `filter_by_condition` (`Preprocessor.py:169-170`).
    """
    return df.filter(F.col(column) == F.lit(value))


def filter_by_year(df: DataFrame, ts_col: str, min_year: int, max_year: int) -> DataFrame:
    """P4 — HALF-OPEN year range: ``min_year <= year(ts) < max_year``.

    Reference: `filter_by_year` (`Preprocessor.py:172-180`) — the upper
    bound is exclusive there too; pinned by tests.
    """
    y = F.year(F.col(ts_col))
    return df.filter((y >= F.lit(min_year)) & (y < F.lit(max_year)))


def filter_array_overlaps(df: DataFrame, array_col: str, values: Sequence[str]) -> DataFrame:
    """P5 — keep rows whose array column intersects `values` (>=1 common).

    Reference: `filter_by_hashtag_includes` (`Preprocessor.py:182-188`).
    """
    return df.filter(F.arrays_overlap(F.col(array_col), F.lit(list(values))))


def filter_array_disjoint(df: DataFrame, array_col: str, values: Sequence[str]) -> DataFrame:
    """P6 — keep rows with ZERO intersection with `values`.

    Reference: `filter_by_hashtag_excludes` (`Preprocessor.py:190-196`).
    Null arrays are kept (no tags => nothing excluded), matching the
    reference's empty-list behavior.
    """
    overlap = F.arrays_overlap(F.col(array_col), F.lit(list(values)))
    return df.filter(~F.coalesce(overlap, F.lit(False)))


def filter_text_contains_any(df: DataFrame, text_col: str, words: Sequence[str]) -> DataFrame:
    """P7 — lowercased substring any-of filter over a text column.

    Reference: caption word filter (`InstagramPostScraper.py:437-441`).
    """
    if not words:
        # reference: `any(w in caption for w in [])` is False — empty
        # any-of matches NOTHING (an empty rlike pattern would match all)
        return df.filter(F.lit(False))
    pattern = "|".join(re.escape(w.lower()) for w in words)
    return df.filter(F.lower(F.coalesce(F.col(text_col), F.lit(""))).rlike(pattern))


def filter_any(df: DataFrame, *predicates: Column) -> DataFrame:
    """P9 — disjunctive combine of Column predicates.

    Reference: `caption_f | hashtag_f | searchterm_f`
    (`InstagramPostScraper.py:457`).
    """
    combined = predicates[0]
    for p in predicates[1:]:
        combined = combined | p
    return df.filter(combined)


def filter_not_in(df: DataFrame, done: DataFrame, key: str | Sequence[str]) -> DataFrame:
    """P11 — anti-membership: rows of `df` whose key is not in `done`.

    Reference: `_get_undone_posts` index isin-negation
    (`InstagramImageScraper.py:157-160`). Left-anti join distributes;
    the pandas index trick does not.
    """
    keys = [key] if isinstance(key, str) else list(key)
    return df.join(done.select(*keys).dropDuplicates(keys), keys, "left_anti")


def apply_filter_observed(df: DataFrame, transform, name: str) -> DataFrame:
    """P13 — instrumented filter: observable row counts without extra jobs.

    Reference wraps each filter with before/after prints
    (`Preprocessor.py:13-21`), forcing two eager counts. Spark-native:
    `df.observe` accumulates metrics during the one real pass.
    """
    observed = df.observe(f"{name}_before", F.count(F.lit(1)).alias("rows_before"))
    result = transform(observed)
    return result.observe(f"{name}_after", F.count(F.lit(1)).alias("rows_after"))


def select_numeric_columns(df: DataFrame) -> DataFrame:
    """P14 — keep only numeric-typed columns (for corr/describe).

    Reference: dtype-based selection (`ExploratoryAnalysis.py:102-103`).
    """
    numeric = {"int", "bigint", "smallint", "tinyint", "double", "float", "decimal"}
    cols = [f.name for f in df.schema.fields if f.dataType.simpleString().split("(")[0] in numeric]
    return df.select(*cols)
