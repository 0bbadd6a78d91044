"""End-to-end pipeline runner test: a reference-shaped config executed
through the stage registry with offline stub sources (golden e2e, M4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from social_media_data_pipeline_spark import schemas
from social_media_data_pipeline_spark.plans.pipeline import PipelineRunner, summarize
from social_media_data_pipeline_spark.plans.stages import default_registry
from social_media_data_pipeline_spark.sources import rest
from tests.fixtures import POSTS, make_posts_rows


def feed_page_for(term: str):
    rows = make_posts_rows(60)
    items = [
        {
            "id": r["id"],
            "shortcode": r["shortcode"],
            "is_video": r["is_video"],
            "likes": r["likes"],
            "comment_count": r["comment_count"],
            "comments_disabled": r["comments_disabled"],
            "caption": r["caption"],
            "hashtags": r["hashtags"],
            "owner_id": r["owner_id"],
            "timestamp": int(r["timestamp"].timestamp()),
            "thumbnail_src": r["thumbnail_src"],
            "display_url": r["display_url"],
            "post_url": r["post_url"],
            "type": r["type"],
            "search_mode": "hashtag",
            "mentions": [],
        }
        for r in rows[:50]
    ]
    return [{"items": items, "end_cursor": "c1", "has_more": False}]


@pytest.fixture()
def config(tmp_path):
    client = rest.OfflineStubClient(
        pages={"feed/kelvingrove": feed_page_for("kelvingrove")}
    )
    return {
        "dataset_name": "Glasgow_Kelvingrove",
        "skip_stage_if_exists": True,
        "stages": [
            {
                "name": "Feed Scrape",
                "implementation": "InstagramFeedScraperStage",
                "input": None,
                "output": "posts",
                "enabled": True,
                "params": {
                    "terms": ["kelvingrove"],
                    "client": client,
                    "bronze_dir": str(tmp_path / "bronze"),
                },
            },
            {
                "name": "Preprocessing",
                "implementation": "PreprocessorStage",
                "input": "posts",
                "output": "posts_preprocessed",
                "enabled": True,
                "params": {
                    "dataset_name": "Glasgow_Kelvingrove",
                    "remove_duplicates": True,
                    "images_only": True,
                    "year_filter": [2010, 2020],
                    "lowercase_hashtags": True,
                    "max_images_per_year": -1,
                },
            },
            {
                "name": "Translation",
                "implementation": "TranslatorStage",
                "input": "posts_preprocessed",
                "output": "posts_translated",
                "enabled": True,
                "params": {"target_column": "caption", "target_language": "en"},
            },
            {
                "name": "Exploratory Analysis",
                "implementation": "ExploratoryanalysisStage",
                "input": "posts_preprocessed",
                "output": "exploratory_analysis",
                "enabled": True,
                "params": {},
            },
            {
                "name": "Disabled Stage",
                "implementation": "ImageLabelerStage",
                "input": None,
                "output": "labels",
                "enabled": False,
                "params": {},
            },
            {
                "name": "Missing Input Stage",
                "implementation": "CTPreprocessorStage",
                "input": "nonexistent_table",
                "output": "whatever",
                "enabled": True,
                "params": {},
            },
        ],
    }


class TestReferenceConfigCompat:
    def test_reference_test_json_runs_unmodified(self, spark, tmp_path):
        """The reference's own config/test.json executes against this
        engine's registry: every implementation resolves; the offline
        stages (preprocess / analysis / translation) succeed on fixture
        data; network stages are toggled off via their own `enabled`
        flag — the config schema is shared, not translated."""
        import json
        import os

        with open("/root/reference/config/test.json") as f:
            ref = json.load(f)
        root = str(tmp_path)
        ds = os.path.join(root, ref["dataset_name"])
        os.makedirs(ds, exist_ok=True)
        spark.createDataFrame(make_posts_rows(150), schema=POSTS).write.mode(
            "overwrite"
        ).parquet(os.path.join(ds, "posts.csv"))
        offline = ("PreprocessorStage", "ExploratoryanalysisStage", "TranslatorStage")
        for st in ref["stages"]:
            if st["implementation"] not in offline:
                st["enabled"] = False
        runner = PipelineRunner(spark, default_registry())
        assert runner.analyze(ref) == []  # all nine implementations resolve
        results = {r.name: r.result for r in runner.run(ref, root)}
        assert results["Preprocessing"] == "Success"
        assert results["Exploratory Analysis"] == "Success"
        assert results["Translation"] == "Success"


class TestPipeline:
    def test_analyze_flags_unknown_implementations(self, spark, config):
        runner = PipelineRunner(spark, default_registry())
        assert runner.analyze(config) == []
        bad = dict(config, stages=[dict(config["stages"][0], implementation="NopeStage")])
        assert runner.analyze(bad) == ["NopeStage"]

    def test_end_to_end_and_memoization(self, spark, config, tmp_path):
        root = str(tmp_path / "data")
        runner = PipelineRunner(spark, default_registry())
        results = runner.run(config, root)
        by_name = {r.name: r for r in results}
        assert by_name["Feed Scrape"].result == "Success"
        assert by_name["Preprocessing"].result == "Success"
        assert by_name["Translation"].result == "Success"
        assert by_name["Exploratory Analysis"].result == "Success"
        assert by_name["Disabled Stage"].result == "Disabled"
        assert by_name["Missing Input Stage"].result == "MissingInput"

        # outputs are real parquet tables with the declared contracts
        pre = spark.read.parquet(f"{root}/Glasgow_Kelvingrove/posts_preprocessed")
        assert pre.columns == schemas.POSTS_PREPROCESSED_COLUMNS
        assert pre.filter("is_video").count() == 0
        tr = spark.read.parquet(f"{root}/Glasgow_Kelvingrove/posts_translated")
        assert "caption_en" in tr.columns and "lang_og" in tr.columns
        ea = spark.read.parquet(f"{root}/Glasgow_Kelvingrove/exploratory_analysis")
        assert {r.metric for r in ea.select("metric").distinct().collect()} == {
            "posts_per_month",
            "hashtag_count",
        }

        # second run: S11 memoization skips everything runnable
        results2 = runner.run(config, root)
        assert all(
            r.result == "Skipped"
            for r in results2
            if r.name in ("Feed Scrape", "Preprocessing", "Translation", "Exploratory Analysis")
        )
        assert "Skipped" in summarize(results2)
