"""Explicit StructType schemas for every table shape in the reference.

The reference has no schema system — types are implicit in extractor
code and re-inferred by `pd.read_csv` at each stage boundary
(`Preprocessing/Preprocessor.py:107-108`). Declaring them up front gives
fail-fast analysis, parquet schema pruning, and stable cross-stage
contracts. Ids are StringType: Instagram ids are 19-digit (overflow-safe
in int64 but CSV round-trips float them) and CrowdTangle `platformId` is
a composite string (SURVEY.md §1.2 note).
"""

from __future__ import annotations

from pyspark.sql import types as T


def _f(name: str, dtype: T.DataType, nullable: bool = True) -> T.StructField:
    return T.StructField(name, dtype, nullable)


S = T.StringType()
L = T.LongType()
B = T.BooleanType()


# Preprocessor output — exact 20-column projection+order of
# `Preprocessor.column_stuff` (`Preprocessor.py:156-158`) + index col id
POSTS_PREPROCESSED_COLUMNS = [
    "id",
    "city",
    "building",
    "year",
    "month",
    "day",
    "timestamp",
    "owner_id",
    "shortcode",
    "post_url",
    "type",
    "is_video",
    "interactions",
    "likes",
    "comment_count",
    "comments_disabled",
    "caption",
    "hashtags",
    "mentions",
    "image",
    "thumbnail_src",
    "scrape_image",
]

# raw post JSON — RapidAPI post response subset the extractors touch
# (`Scraper/RapidAPI/JsonInfo/PostJsonStructure.txt:1-48`,
# `InstagramPostScraper.py:287-348`; FIXTURES.md §3)
_EDGE_TEXT = T.StructType(
    [_f("edges", T.ArrayType(T.StructType([_f("node", T.StructType([_f("text", S)]))])))]
)
_COMMENT_NODE_FIELDS = [
    _f("id", S),
    _f("text", S),
    _f("owner", T.StructType([_f("username", S)])),
    _f("edge_liked_by", T.StructType([_f("count", L)])),
]
_THREADED = T.StructType(
    [
        _f(
            "edges",
            T.ArrayType(T.StructType([_f("node", T.StructType(_COMMENT_NODE_FIELDS))])),
        )
    ]
)
_COMMENT_NODE = T.StructType(_COMMENT_NODE_FIELDS + [_f("edge_threaded_comments", _THREADED)])

POST_JSON = T.StructType(
    [
        _f("__typename", S),
        _f("id", S),
        _f("shortcode", S),
        _f("display_url", S),
        _f("accessibility_caption", S),
        _f("is_video", B),
        _f("caption_is_edited", B),
        _f("has_ranked_comments", B),
        _f("like_and_view_counts_disabled", B),
        _f("comments_disabled", B),
        _f("is_affiliate", B),
        _f("is_paid_partnership", B),
        _f("is_ad", B),
        _f("taken_at_timestamp", L),
        _f("edge_media_to_caption", _EDGE_TEXT),
        _f("edge_media_preview_like", T.StructType([_f("count", L)])),
        _f(
            "edge_media_to_parent_comment",
            T.StructType(
                [
                    _f("count", L),
                    _f("edges", T.ArrayType(T.StructType([_f("node", _COMMENT_NODE)]))),
                ]
            ),
        ),
        _f(
            "edge_media_to_tagged_user",
            T.StructType(
                [
                    _f(
                        "edges",
                        T.ArrayType(
                            T.StructType(
                                [_f("node", T.StructType([_f("user", T.StructType([_f("username", S)]))]))]
                            )
                        ),
                    )
                ]
            ),
        ),
        _f(
            "edge_sidecar_to_children",
            T.StructType(
                [
                    _f(
                        "edges",
                        T.ArrayType(
                            T.StructType(
                                [_f("node", T.StructType([_f("id", S), _f("shortcode", S), _f("display_url", S)]))]
                            )
                        ),
                    )
                ]
            ),
        ),
        _f("location", T.StructType([_f("id", S), _f("name", S), _f("slug", S)])),
        _f(
            "owner",
            T.StructType(
                [
                    _f("id", S),
                    _f("username", S),
                    _f("edge_followed_by", T.StructType([_f("count", L)])),
                    _f("edge_owner_to_timeline_media", T.StructType([_f("count", L)])),
                ]
            ),
        ),
    ]
)

# feature-vector table (`DIRAdapter.py` output; FIXTURES.md §8)
IMAGE_FEATURES = T.StructType([_f("image", S), _f("feature", T.ArrayType(T.FloatType()))])
