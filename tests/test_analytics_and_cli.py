"""Tests: exploratory analytics, PNG chart artifacts and the CLI
orchestrator entry point."""

from __future__ import annotations

import json
import struct
import zlib

import pytest
from pyspark.sql import functions as F

from social_media_data_pipeline_spark import cli, schemas
from social_media_data_pipeline_spark.analytics import explore
from social_media_data_pipeline_spark.operators import aggregates
from tests.fixtures import POSTS, make_posts_rows


def decode_rgb_png(data: bytes):
    """(width, height, h×w×3 pixels) of an 8-bit RGB PNG whose scanlines
    are all filter 0 — the layout `binary.encode_png` writes."""
    import numpy as np

    w, h, depth, color = struct.unpack(">IIBB", data[16:26])
    assert (depth, color) == (8, 2)
    pos, idat = 8, b""
    while pos < len(data):
        n, tag = struct.unpack(">I4s", data[pos : pos + 8])
        if tag == b"IDAT":
            idat += data[pos + 8 : pos + 8 + n]
        pos += 12 + n
    raw = np.frombuffer(zlib.decompress(idat), np.uint8).reshape(h, 1 + 3 * w)
    assert not raw[:, 0].any()
    return w, h, raw[:, 1:].reshape(h, w, 3)


@pytest.fixture(scope="module")
def posts(spark):
    return spark.createDataFrame(make_posts_rows(120), schema=POSTS)


class TestExplore:
    def test_posts_per_period_grains(self, posts):
        out = explore.posts_per_period(posts)
        assert set(out) == {"W", "M", "Q", "Y"}
        yearly = out["Y"].collect()
        assert sum(r.n_posts for r in yearly) == posts.count()

    def test_hashtag_frequency_desc(self, posts):
        rows = explore.hashtag_frequency(posts).collect()
        counts = [r["count"] for r in rows]
        assert counts == sorted(counts, reverse=True)

    def test_profile_covers_all_columns(self, posts):
        # A6 `summarize` profiles every column, arrays and timestamps too
        from functools import reduce

        from pyspark.sql import DataFrame

        prof = reduce(
            DataFrame.unionByName,
            [aggregates.profile_column(posts, c) for c in posts.columns],
        )
        assert prof.count() == len(posts.columns)

    def test_analyze_dataset_bundle(self, spark, tmp_path, posts):
        # the exploratory stage's bundle: one long (metric, key, value)
        # table holding monthly post counts and hashtag frequencies
        from social_media_data_pipeline_spark.plans import stages

        src = str(tmp_path / "posts")
        posts.write.parquet(src)
        bundle = stages.ExploratoryanalysisStage({}).run(spark, src, "")
        assert bundle.columns == ["metric", "key", "value"]
        rows = bundle.collect()
        assert {r.metric for r in rows} == {"posts_per_month", "hashtag_count"}
        monthly = [r.value for r in rows if r.metric == "posts_per_month"]
        assert sum(monthly) == posts.count()
        tags = {r.key: r.value for r in rows if r.metric == "hashtag_count"}
        want = explore.hashtag_frequency(posts).collect()
        assert tags == {r["hashtag"]: float(r["count"]) for r in want}

    def test_category_share_over_time_sums_to_one(self, posts):
        counts = aggregates.group_by_time(
            posts,
            "timestamp",
            "Y",
            "timestamp",
            how="count",
            extra_groups=("search_mode",),
            bucket_name="period",
            out_name="value",
        )
        out = aggregates.relative_to_group(counts, ["period"], "value", "share")
        sums = out.groupBy("period").agg(F.sum("share").alias("s")).collect()
        assert all(abs(r.s - 1.0) < 1e-9 for r in sums)


class TestPngRender:
    """PNG artifact path (Exploration/plotting.py parity): the numpy
    rasterizer writes real PNGs, decoded here with zlib; the matplotlib backend is exercised only where the
    library exists (not in this container)."""

    def test_timeseries_png_with_trendline(self, spark, tmp_path, posts):
        from social_media_data_pipeline_spark.analytics import png_render

        daily = posts.groupBy(F.to_date("timestamp").alias("day")).agg(
            F.count(F.lit(1)).alias("n")
        )
        path = str(tmp_path / "ts.png")
        out = png_render.timeseries_png(
            daily, "day", "n", path, smooth_sigma=2.0, backend="raster"
        )
        w, h, px = decode_rgb_png(open(out, "rb").read())
        assert (w, h) == (640, 320)
        flat = px.reshape(-1, 3)
        # bars in the first series color, trendline in the line color
        assert (flat == png_render._SERIES_RGB[0]).all(axis=1).any()
        assert (flat == png_render._SERIES_RGB[3]).all(axis=1).any()
        # y-axis and tick digits rendered
        assert (flat == png_render._AXIS).all(axis=1).sum() > 50

    def test_catplot_png_category_colors(self, spark, tmp_path, posts):
        from social_media_data_pipeline_spark.analytics import png_render

        counts = posts.groupBy("type").agg(F.count(F.lit(1)).alias("n"))
        path = str(tmp_path / "cat.png")
        out = png_render.catplot_png(counts, "type", "n", path, backend="raster")
        w, h, px = decode_rgb_png(open(out, "rb").read())
        assert (w, h) == (640, 320)
        flat = px.reshape(-1, 3)
        n_cats = counts.count()
        for i in range(min(n_cats, len(png_render._SERIES_RGB))):
            assert (flat == png_render._SERIES_RGB[i]).all(axis=1).any(), i

    def test_matplotlib_backend(self, spark, tmp_path, posts):  # pragma: no cover
        pytest.importorskip("matplotlib")
        from social_media_data_pipeline_spark.analytics import png_render

        daily = posts.groupBy(F.to_date("timestamp").alias("day")).agg(
            F.count(F.lit(1)).alias("n")
        )
        out = png_render.timeseries_png(
            daily, "day", "n", str(tmp_path / "m.png"), backend="mpl"
        )
        assert open(out, "rb").read()[:8] == b"\x89PNG\r\n\x1a\n"


class TestCli:
    def test_cli_end_to_end(self, spark, posts, tmp_path):
        root = tmp_path / "data"
        dataset_dir = root / "CliCity_CliBuilding"
        dataset_dir.mkdir(parents=True)
        posts.write.parquet(str(dataset_dir / "posts"))
        config = {
            "dataset_name": "CliCity_CliBuilding",
            "skip_stage_if_exists": True,
            "stages": [
                {
                    "name": "Preprocessing",
                    "implementation": "PreprocessorStage",
                    "input": "posts",
                    "output": "posts_preprocessed",
                    "enabled": True,
                    "params": {
                        "dataset_name": "CliCity_CliBuilding",
                        "remove_duplicates": True,
                        "images_only": True,
                        "year_filter": [2010, 2020],
                        "lowercase_hashtags": True,
                    },
                },
                {
                    "name": "Exploratory Analysis",
                    "implementation": "ExploratoryanalysisStage",
                    "input": "posts_preprocessed",
                    "output": "exploratory_analysis",
                    "enabled": True,
                    "params": {"report_path": str(tmp_path / "report.md")},
                },
            ],
        }
        cfg_path = tmp_path / "config.json"
        cfg_path.write_text(json.dumps(config))
        rc = cli.main(["--config", str(cfg_path), "--root_dir", str(root)])
        assert rc == 0
        out = spark.read.parquet(str(dataset_dir / "posts_preprocessed"))
        assert out.columns == schemas.POSTS_PREPROCESSED_COLUMNS
        # the presentation-layer export rendered alongside the table
        rpt = (tmp_path / "report.md").read_text()
        assert rpt.startswith("# posts_per_month")
        assert "top hashtags" in rpt

    def test_cli_rejects_unknown_implementation(self, tmp_path):
        config = {
            "dataset_name": "X_Y",
            "stages": [
                {
                    "name": "Bad",
                    "implementation": "NoSuchStage",
                    "input": None,
                    "output": "o",
                    "enabled": True,
                    "params": {},
                }
            ],
        }
        cfg_path = tmp_path / "c.json"
        cfg_path.write_text(json.dumps(config))
        assert cli.main(["--config", str(cfg_path), "--root_dir", str(tmp_path)]) == 2


class TestReport:
    """Presentation layer (reference Exploration/plotting.py parity):
    render already-aggregated frames to text/markdown, driver-side."""

    def test_render_table_markdown_and_truncation(self, posts):
        from social_media_data_pipeline_spark.analytics import report

        freq = explore.hashtag_frequency(posts)
        md = report.render_table(freq, order_by=["hashtag"], max_rows=3)
        lines = md.splitlines()
        assert lines[0].startswith("| hashtag | count |".replace(" count |", " count |")[:9])
        assert "truncated at 3 rows" in lines[-1]
        full = report.render_table(freq, order_by=["hashtag"])
        assert "truncated" not in full

    def test_bar_chart_scales_to_peak(self, spark):
        from social_media_data_pipeline_spark.analytics import report

        df = spark.createDataFrame(
            [("a", 10.0), ("b", 40.0), ("c", 0.0)], "label string, v double"
        )
        out = report.bar_chart(df, "label", "v", width=20)
        rows = {l.split(" |")[0].strip(): l for l in out.splitlines()}
        assert rows["b"].count("█") == 20  # peak gets full width
        assert rows["a"].count("█") == 5
        assert rows["c"].count("█") == 0

    def test_timeseries_chart_with_distributed_trendline(self, posts):
        from social_media_data_pipeline_spark.analytics import report

        monthly = explore.posts_per_period(posts)["M"]
        out = report.timeseries_chart(
            monthly, "period", "n_posts", smooth_sigma=3.0, title="posts/month"
        )
        assert out.startswith("## posts/month")
        assert "(trend " in out  # gaussian trendline column rendered

    def test_dual_timeseries_chart_aligned(self, spark):
        from social_media_data_pipeline_spark.analytics import report

        df = spark.createDataFrame(
            [("2020-01", 10.0, 1.0), ("2020-02", 5.0, 9.0)],
            "period string, likes double, posts double",
        )
        out = report.dual_timeseries_chart(df, "period", "likes", "posts", width=10)
        assert "likes" in out.splitlines()[0] and "posts" in out.splitlines()[0]
        assert len(out.splitlines()) == 3  # header + 2 buckets

    def test_category_timeseries_grid(self, posts):
        from social_media_data_pipeline_spark.analytics import report

        cat = aggregates.group_by_time(
            posts,
            "timestamp",
            "Y",
            "timestamp",
            extra_groups=("type",),
            bucket_name="period",
            out_name="value",
        )
        out = report.category_timeseries_chart(cat, "period", "type", "value")
        assert len(out.splitlines()) >= 2  # header + >=1 period row

    def test_correlation_heatmap_diagonal_is_one(self, posts):
        from social_media_data_pipeline_spark.analytics import report

        corr = aggregates.correlation_matrix(posts, ["likes", "comment_count"])
        out = report.correlation_heatmap(corr)
        assert "+@@1.00" in out  # self-correlation cell at max intensity

    def test_save_report_markdown_file(self, spark, tmp_path, posts):
        from social_media_data_pipeline_spark.analytics import report

        freq = explore.hashtag_frequency(posts)
        path = report.save_report(
            {"hashtags": report.render_table(freq, max_rows=5)},
            str(tmp_path / "report.md"),
        )
        text = open(path).read()
        assert text.startswith("# hashtags")
        assert "```" in text
