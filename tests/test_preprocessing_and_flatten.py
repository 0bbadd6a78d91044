"""Golden-path tests for Preprocessor parity and JSON flattening."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from social_media_data_pipeline_spark import preprocessing, schemas
from social_media_data_pipeline_spark.sources import json_flatten
from tests.fixtures import CT_POSTS, POSTS, make_post_json_docs, make_posts_rows


@pytest.fixture(scope="module")
def posts_df(spark):
    return spark.createDataFrame(make_posts_rows(), schema=POSTS)


class TestPreprocess:
    def test_default_chain_columns_and_order(self, spark, posts_df):
        params = preprocessing.PreprocessParams(dataset_name="Glasgow_Kelvingrove")
        out = preprocessing.preprocess_posts(posts_df, params)
        assert out.columns == schemas.POSTS_PREPROCESSED_COLUMNS
        rows = out.collect()
        assert rows  # chain keeps non-video 2010-2019 posts
        r = rows[0]
        assert r.city == "Glasgow" and r.building == "Kelvingrove"
        assert r.interactions == r.likes + r.comment_count
        assert r.image == f"{r.id}_{r.shortcode}.jpg"
        assert r.scrape_image is True

    def test_chain_semantics(self, spark, posts_df):
        params = preprocessing.PreprocessParams(dataset_name="G_K")
        out = preprocessing.preprocess_posts(posts_df, params)
        # dedup on shortcode: no dup shortcodes survive
        assert out.groupBy("shortcode").count().filter("count > 1").count() == 0
        # earliest-timestamp survivor wins (the injected dups are +1 day)
        assert out.filter(F.col("id") >= "3000000000000000000").count() == 0
        # no videos, and the half-open year filter
        assert out.filter("is_video").count() == 0
        years = {r.year for r in out.select("year").distinct().collect()}
        assert years <= set(range(2010, 2020))
        # hashtags lowercased
        bad = out.filter(
            F.exists(F.col("hashtags"), lambda t: t != F.lower(t))
        ).count()
        assert bad == 0

    def test_include_exclude_and_cap(self, spark, posts_df):
        params = preprocessing.PreprocessParams(
            dataset_name="G_K",
            hashtag_filter_include=["art", "museum"],
            hashtag_filter_exclude=["food"],
            max_images_per_year=3,
        )
        out = preprocessing.preprocess_posts(posts_df, params)
        rows = out.collect()
        for r in rows:
            assert set(r.hashtags) & {"art", "museum"}
            assert "food" not in set(r.hashtags)
        flagged = out.filter("scrape_image").groupBy("year").count().collect()
        assert all(r["count"] <= 3 for r in flagged)
        # cap flags, never deletes
        assert out.count() == len(rows)

    def test_ct_nested_extraction(self, spark):
        rows = [
            {
                "platformId": "111_222",
                "platform": "Instagram",
                "description": "Check #Art and #history",
                "account": {
                    "id": 7,
                    "name": "n",
                    "handle": "h",
                    "subscriberCount": 10,
                    "url": "u",
                    "platform": "Instagram",
                    "platformId": "222",
                    "verified": False,
                },
                "statistics": {
                    "actual": {"favoriteCount": 92, "commentCount": 2},
                    "expected": {"favoriteCount": 650, "commentCount": 8},
                },
                "score": 0.5,
                "postUrl": "p",
                "id": "111",
                "subscriberCount": 9,
            }
        ]
        df = spark.createDataFrame(rows, schema=CT_POSTS)
        out = preprocessing.preprocess_ct_posts(df).collect()[0]
        assert out.likes == 92 and out.comment_count == 2
        assert out.likes_expected == 650 and out.comment_count_expected == 8
        assert out.owner_id == 7
        assert list(out.hashtags) == ["Art", "history"]


class TestFlatten:
    @pytest.fixture(scope="class")
    def raw(self, spark, tmp_path_factory):
        d = tmp_path_factory.mktemp("post_json")
        for doc in make_post_json_docs():
            with open(os.path.join(d, f"{doc['id']}.json"), "w") as f:
                json.dump(doc, f)
        return json_flatten.read_post_json(spark, str(d))

    def test_flatten_posts(self, raw):
        out = {r.id: r for r in json_flatten.flatten_posts(raw, "test").collect()}
        p1, p2 = out["100"], out["200"]
        assert p1.caption == "Nice #Art #museum day"
        assert list(p1.hashtags) == ["Art", "museum"]
        assert list(p1.comments_flat) == ["great!", "agreed", "wow"]
        assert p1.location == "Glasgow" and p2.location is None
        assert p2.caption is None and list(p2.hashtags) == []
        assert list(p2.album_images) == ["201_BB1", "202_BB2", "203_BB3"]
        assert p1.timestamp.year == 2020  # epoch 1600000000 → 2020-09-13 UTC

    def test_flatten_minimal(self, raw):
        flat = json_flatten.flatten_posts(raw, "test")
        out = {r.post_url: r for r in json_flatten.flatten_minimal(flat).collect()}
        assert out["https://www.instagram.com/p/AAA/"].comments == "great!\nagreed\nwow"

    def test_extract_comments(self, raw):
        rows = json_flatten.extract_comments(raw).collect()
        by_id = {r.comment_id: r for r in rows}
        assert len(rows) == 3
        assert by_id["c1"].parent_comment_id is None
        assert by_id["c1t1"].parent_comment_id == "c1"
        assert by_id["c1t1"].owner == "bob" and by_id["c1t1"].likes == 1
        assert all(r.comment_count == 3 for r in rows)

    def test_image_link_table(self, spark, raw):
        flat = json_flatten.flatten_posts(raw, "test")
        listing = spark.createDataFrame(
            [("100_AAA.jpg",), ("202_BB2.jpg",), ("unrelated.jpg",)], "image string"
        )
        out = json_flatten.image_link_table(flat, listing)
        assert {r.image for r in out.collect()} == {"100_AAA.jpg", "202_BB2.jpg"}
