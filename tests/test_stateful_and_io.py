"""Tests: CSV adapter IO and observable filter metrics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from social_media_data_pipeline_spark import io as eio
from social_media_data_pipeline_spark.operators import filters


class TestCsvAdapter:
    def test_reference_csv_roundtrip(self, spark, tmp_path):
        schema = T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("hashtags", T.ArrayType(T.StringType())),
                T.StructField("timestamp", T.TimestampType()),
                T.StructField("likes", T.LongType()),
            ]
        )
        # reference-style CSV: python-list strings + iso timestamps
        csv_dir = tmp_path / "csv"
        csv_dir.mkdir()
        (csv_dir / "part.csv").write_text(
            "id,hashtags,timestamp,likes\n"
            "1,\"['Art', 'museum']\",2020-05-01 10:00:00,42\n"
            "2,\"[]\",2021-01-02 00:00:00,7\n"
        )
        df = eio.read_csv_with_arrays(
            spark,
            str(csv_dir),
            schema,
            array_cols=("hashtags",),
            timestamp_cols=("timestamp",),
        )
        rows = {r.id: r for r in df.collect()}
        assert list(rows["1"].hashtags) == ["Art", "museum"]
        assert rows["2"].hashtags == []
        assert rows["1"].timestamp == dt.datetime(2020, 5, 1, 10)
        assert rows["1"].likes == 42

    def test_write_stage_output_csv_stringifies_arrays(self, spark, tmp_path):
        df = spark.createDataFrame([("1", ["a", "b"])], "id string, tags array<string>")
        out = str(tmp_path / "out_csv")
        eio.write_stage_output(df, out, fmt="csv")
        back = spark.read.option("header", True).csv(out).collect()[0]
        assert back.tags == '["a","b"]'

    def test_write_stage_output_orc_and_json_roundtrip(self, spark, tmp_path):
        df = spark.createDataFrame(
            [("1", ["a", "b"], 42)], "id string, tags array<string>, n long"
        )
        for fmt in ("orc", "json"):
            out = str(tmp_path / f"out_{fmt}")
            eio.write_stage_output(df, out, fmt=fmt)
            back = spark.read.format(fmt).load(out).collect()[0]
            assert (back.id, list(back.tags), back.n) == ("1", ["a", "b"], 42)


class TestObserve:
    def test_apply_filter_observed_counts(self, spark):
        df = spark.createDataFrame([(i,) for i in range(10)], "x int")
        out = filters.apply_filter_observed(
            df, lambda d: d.filter(F.col("x") < 3), "xfilter"
        )
        assert out.count() == 3  # transform applied; metrics ride along
