"""SCD2 dimension maintenance (`operators/scd.py`): version forking,
carry-forward, idempotent no-ops, inserts, point-in-time slices, and
the loud refusals."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from social_media_data_pipeline_spark.operators import scd

D = dt.date


@pytest.fixture()
def dim(spark):
    rows = [
        # key, segment (tracked), region (carried), valid_from, valid_to
        (1, "A", "emea", D(2020, 1, 1), D(2022, 1, 1)),  # history
        (1, "B", "emea", D(2022, 1, 1), None),           # open
        (2, "A", "apac", D(2020, 1, 1), None),           # open
        (3, "C", "amer", D(2021, 1, 1), None),           # open
    ]
    return spark.createDataFrame(
        rows,
        "k bigint, segment string, region string, "
        "valid_from date, valid_to date",
    )


def _rows(df):
    return sorted(
        (r["k"], r["segment"], r["region"], r["valid_from"], r["valid_to"])
        for r in df.collect()
    )


class TestScd2Apply:
    def test_change_noop_insert_in_one_batch(self, spark, dim):
        ups = spark.createDataFrame(
            [(1, "Z"), (2, "A"), (9, "N")], "k bigint, segment string"
        )
        out = scd.scd2_apply(
            dim, ups, "k", ["segment"], effective=D(2024, 6, 1)
        )
        assert _rows(out) == sorted([
            (1, "A", "emea", D(2020, 1, 1), D(2022, 1, 1)),  # history kept
            (1, "B", "emea", D(2022, 1, 1), D(2024, 6, 1)),  # closed
            (1, "Z", "emea", D(2024, 6, 1), None),           # new version,
                                                             # region carried
            (2, "A", "apac", D(2020, 1, 1), None),           # no-op update
            (3, "C", "amer", D(2021, 1, 1), None),           # untouched
            (9, "N", None, D(2024, 6, 1), None),             # insert
        ])

    def test_idempotent_reapply(self, spark, dim):
        ups = spark.createDataFrame([(1, "Z")], "k bigint, segment string")
        once = scd.scd2_apply(dim, ups, "k", ["segment"], D(2024, 6, 1))
        twice = scd.scd2_apply(once, ups, "k", ["segment"], D(2024, 7, 1))
        assert _rows(once) == _rows(twice)  # same values → no new version

    def test_null_safe_change_detection(self, spark):
        dim = spark.createDataFrame(
            [(1, None, D(2020, 1, 1), None)],
            "k bigint, segment string, valid_from date, valid_to date",
        )
        # NULL -> NULL is NOT a change; NULL -> 'A' is
        same = spark.createDataFrame(
            [(1, None)], "k bigint, segment string"
        )
        out = scd.scd2_apply(dim, same, "k", ["segment"], D(2024, 1, 1))
        assert out.count() == 1
        changed = spark.createDataFrame(
            [(1, "A")], "k bigint, segment string"
        )
        out2 = scd.scd2_apply(dim, changed, "k", ["segment"], D(2024, 1, 1))
        assert out2.count() == 2

    def test_asof_slices(self, spark, dim):
        ups = spark.createDataFrame([(1, "Z")], "k bigint, segment string")
        out = scd.scd2_apply(dim, ups, "k", ["segment"], D(2024, 6, 1))
        ats = [D(2020, 6, 1), D(2021, 6, 1), D(2022, 6, 1), D(2024, 6, 1), D(2025, 1, 1)]
        facts = spark.createDataFrame(
            [(k, at) for k in (1, 2, 3) for at in ats], "k bigint, at date"
        )
        rows = scd.scd2_asof_join(facts, out, "k", "at", how="inner").collect()
        seg = {(r["k"], r["at"]): r["segment"] for r in rows}
        assert {k: seg[(k, D(2021, 6, 1))] for k in (1, 2, 3)} == {1: "A", 2: "A", 3: "C"}
        assert {k: seg[(k, D(2025, 1, 1))] for k in (1, 2, 3)} == {1: "Z", 2: "A", 3: "C"}
        # every key has exactly one version at any instant inside
        # its coverage — the interval-partition invariant
        assert len(rows) == len(seg)

    def test_refusals(self, spark, dim):
        dup = spark.createDataFrame(
            [(1, "X"), (1, "Y")], "k bigint, segment string"
        )
        with pytest.raises(ValueError, match="duplicate or NULL key"):
            scd.scd2_apply(dim, dup, "k", ["segment"], D(2024, 1, 1))
        nullk = spark.createDataFrame(
            [(None, "X")], "k bigint, segment string"
        )
        with pytest.raises(ValueError, match="duplicate or NULL key"):
            scd.scd2_apply(dim, nullk, "k", ["segment"], D(2024, 1, 1))
        stale = spark.createDataFrame(
            [(1, "X")], "k bigint, segment string"
        )
        with pytest.raises(ValueError, match="negative validity"):
            # open row for key 1 starts 2022-01-01; effective before it
            scd.scd2_apply(dim, stale, "k", ["segment"], D(2021, 1, 1))
        with pytest.raises(ValueError, match="non-empty"):
            scd.scd2_apply(dim, stale, "k", [], D(2024, 1, 1))
        missing = spark.createDataFrame([(1,)], "k bigint")
        with pytest.raises(ValueError, match="missing columns"):
            scd.scd2_apply(dim, missing, "k", ["segment"], D(2024, 1, 1))

    def test_null_key_open_dim_row_refused(self, spark, dim):
        # an open row with a NULL key matches no branch after the
        # full-outer join and would silently vanish from the history
        dirty = dim.unionByName(
            spark.createDataFrame(
                [(None, "Z", "emea", D(2023, 1, 1), None)], dim.schema
            )
        )
        upd = spark.createDataFrame([(1, "X")], "k bigint, segment string")
        with pytest.raises(ValueError, match="OPEN row with NULL"):
            scd.scd2_apply(dirty, upd, "k", ["segment"], D(2024, 1, 1))
        # a NULL key in CLOSED history is fine: history passes through
        closed_ok = dim.unionByName(
            spark.createDataFrame(
                [(None, "Z", "emea", D(2023, 1, 1), D(2023, 6, 1))],
                dim.schema,
            )
        )
        out = scd.scd2_apply(
            closed_ok, upd, "k", ["segment"], D(2024, 1, 1)
        )
        got = {
            (r["k"], r["segment"], r["region"], r["valid_from"], r["valid_to"])
            for r in out.collect()
        }
        assert (None, "Z", "emea", D(2023, 1, 1), D(2023, 6, 1)) in got

    def test_plan_is_one_key_join_no_window(self, spark, dim):
        ups = spark.createDataFrame([(1, "Z")], "k bigint, segment string")
        out = scd.scd2_apply(dim, ups, "k", ["segment"], D(2024, 6, 1))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "CartesianProduct" not in plan


class TestScd2AsofJoin:
    """Per-fact as-of version selection (`scd.scd2_asof_join`)."""

    @pytest.fixture()
    def facts(self, spark):
        rows = [
            (100, 1, D(2021, 6, 1)),   # inside key 1's history row
            (101, 1, D(2022, 6, 1)),   # inside key 1's open row
            (102, 1, D(2022, 1, 1)),   # exactly at the boundary: [from, to)
            (103, 2, D(2019, 6, 1)),   # before key 2's first version
            (104, 9, D(2022, 6, 1)),   # key not in the dimension
        ]
        return spark.createDataFrame(
            rows, "fact_id bigint, k bigint, at date"
        )

    def test_version_selection_and_left_nulls(self, spark, dim, facts):
        out = scd.scd2_asof_join(
            facts, dim, key_col="k", at_col="at"
        )
        got = {
            r["fact_id"]: (r["segment"], r["valid_from"])
            for r in out.collect()
        }
        assert len(got) == 5  # left join: every fact exactly once
        assert got[100] == ("A", D(2020, 1, 1))   # history version
        assert got[101] == ("B", D(2022, 1, 1))   # open version
        # [from, to): the boundary instant belongs to the NEW version
        assert got[102] == ("B", D(2022, 1, 1))
        assert got[103] == (None, None)           # pre-history fact
        assert got[104] == (None, None)           # unknown key

    def test_fact_columns_and_dim_key_dropped(self, spark, dim, facts):
        out = scd.scd2_asof_join(facts, dim, key_col="k", at_col="at")
        assert out.columns == [
            "fact_id", "k", "at", "segment", "region",
            "valid_from", "valid_to",
        ]

    def test_plan_broadcast_equi_join_no_window(self, spark, dim, facts):
        out = scd.scd2_asof_join(facts, dim, key_col="k", at_col="at")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "Window" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
