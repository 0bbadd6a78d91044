"""Deterministic domain fixtures per FIXTURES.md (seed=42)."""

from __future__ import annotations

import datetime as dt
import random

# posts table — feed-scrape metadata (`InstagramFeedScraper.py:189-221`;
# FIXTURES.md §1)
POSTS = (
    "id string not null, shortcode string not null, post_url string, "
    "type string, is_video boolean, likes bigint, comment_count bigint, "
    "comments_disabled boolean, search_mode string, search_term string, "
    "caption string, hashtags array<string>, display_url string, "
    "owner_id string, timestamp timestamp, mentions array<string>, "
    "thumbnail_src string"
)

# CrowdTangle flattened posts (`CTExtractors.py:30-46`; FIXTURES.md §6)
_CT_COUNTS = "struct<favoriteCount: bigint, commentCount: bigint>"
CT_POSTS = (
    "platformId string not null, platform string, date timestamp, "
    "type string, description string, account struct<id: bigint, "
    "name: string, handle: string, subscriberCount: bigint, url: string, "
    "platform: string, platformId: string, verified: boolean>, "
    f"statistics struct<actual: {_CT_COUNTS}, expected: {_CT_COUNTS}>, "
    "score double, postUrl string, id string, subscriberCount bigint"
)


def make_posts_rows(n: int = 200, seed: int = 42) -> list[dict]:
    """FIXTURES.md §1 posts rows: duplicates for D1/D2, nulls for E12,
    mixed-case hashtags for E8, years 2009-2021 for P4/D3."""
    rng = random.Random(seed)
    tags = ["Art", "museum", "TRAVEL", "city", "architecture", "Sunset", "food"]
    rows = []
    for i in range(n):
        year = 2009 + rng.randrange(13)
        ts = dt.datetime(year, 1 + rng.randrange(12), 1 + rng.randrange(28), rng.randrange(24))
        sc = f"SC{i:05d}"
        rows.append(
            {
                "id": str(2_000_000_000_000_000_000 + i),
                "shortcode": sc,
                "post_url": f"https://www.instagram.com/p/{sc}/",
                "type": rng.choice(["GraphImage", "GraphSidecar", "GraphVideo", None]),
                "is_video": rng.random() < 0.15,
                "likes": rng.randrange(0, 50_000),
                "comment_count": rng.randrange(0, 2_000),
                "comments_disabled": rng.random() < 0.05,
                "search_mode": rng.choice(["hashtag", "location", "user"]),
                "search_term": rng.choice(["kelvingrove", "modernart"]),
                "caption": None if rng.random() < 0.08 else f"caption #{rng.choice(tags)} text {i}",
                "hashtags": rng.sample(tags, rng.randrange(0, 4)),
                "display_url": f"https://cdn.example.com/{sc}.jpg",
                "owner_id": str(rng.randrange(1, n // 5 + 2)),
                "timestamp": ts,
                "mentions": [],
                "thumbnail_src": f"https://cdn.example.com/t/{sc}.jpg",
            }
        )
    # ~2% shortcode-only duplicates (D1): same shortcode, later timestamp
    for i in range(0, n, 50):
        d = dict(rows[i])
        d["id"] = str(3_000_000_000_000_000_000 + i)
        d["timestamp"] = rows[i]["timestamp"] + dt.timedelta(days=1)
        rows.append(d)
    return rows


def make_post_json_docs() -> list[dict]:
    """FIXTURES.md §3: post documents covering 0-comment, threaded-comment,
    sidecar, null-location, and missing-caption branches."""

    def comment(cid, user, likes, text, threaded=None):
        node = {
            "id": cid,
            "text": text,
            "owner": {"username": user},
            "edge_liked_by": {"count": likes},
        }
        if threaded is not None:
            node["edge_threaded_comments"] = {
                "edges": [{"node": t} for t in threaded]
            }
        return {"node": node}

    base = {
        "__typename": "GraphImage",
        "display_url": "https://cdn.example.com/x.jpg",
        "accessibility_caption": "photo of a building",
        "is_video": False,
        "caption_is_edited": False,
        "has_ranked_comments": False,
        "like_and_view_counts_disabled": False,
        "comments_disabled": False,
        "is_affiliate": False,
        "is_paid_partnership": False,
        "is_ad": False,
        "edge_media_preview_like": {"count": 10},
        "edge_media_to_tagged_user": {"edges": []},
        "location": {"id": "1", "name": "Glasgow", "slug": "glasgow"},
        "owner": {
            "id": "42",
            "username": "tester",
            "edge_followed_by": {"count": 100},
            "edge_owner_to_timeline_media": {"count": 50},
        },
    }
    docs = []
    # post with threaded comments + caption with hashtags
    d1 = dict(base)
    d1.update(
        id="100",
        shortcode="AAA",
        taken_at_timestamp=1600000000,
        edge_media_to_caption={"edges": [{"node": {"text": "Nice #Art #museum day"}}]},
        edge_media_to_parent_comment={
            "count": 3,
            "edges": [
                comment(
                    "c1",
                    "alice",
                    5,
                    "great!",
                    threaded=[
                        {
                            "id": "c1t1",
                            "text": "agreed",
                            "owner": {"username": "bob"},
                            "edge_liked_by": {"count": 1},
                        }
                    ],
                ),
                comment("c2", "carol", 2, "wow"),
            ],
        },
    )
    docs.append(d1)
    # sidecar with 3 children, no caption edge, 0 comments, null location
    d2 = dict(base)
    d2.update(
        id="200",
        shortcode="BBB",
        __typename="GraphSidecar",
        taken_at_timestamp=1500000000,
        location=None,
        edge_media_to_caption={"edges": []},
        edge_media_to_parent_comment={"count": 0, "edges": []},
        edge_sidecar_to_children={
            "edges": [
                {"node": {"id": "201", "shortcode": "BB1", "display_url": "u1"}},
                {"node": {"id": "202", "shortcode": "BB2", "display_url": "u2"}},
                {"node": {"id": "203", "shortcode": "BB3", "display_url": "u3"}},
            ]
        },
    )
    docs.append(d2)
    return docs
