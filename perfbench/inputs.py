"""Seeded input generator for the benchmark workloads.

Every input the benchmark feeds the engine is produced here from the
workload seed; the same seed always yields byte-identical inputs. The
generator runs in its own process (``python3 perfbench/inputs.py``), so
its memory never counts toward the measured driver's peak RSS.

Shapes follow the repository's fixtures and harness tables:

- ``posts``: feed pages (FIXTURES.md §1 items) served through
  ``sources.rest.OfflineStubClient``, nested post documents (FIXTURES.md
  §3) and a folder of small PNGs encoded with ``sources.binary.encode_png``.
  The feed carries shortcode duplicates, (id, shortcode) duplicates
  across search terms, null captions, mixed-case hashtags, years
  2009-2021 and videos; the post documents carry threaded comments,
  sidecars, null locations and missing caption edges.
- ``stream``: ordered micro-batches of documents in the sf0.1
  ``documents`` table's columns. Documents mix prose that passes the
  Gopher gate with short and stop-word-free ones, plus exact and near
  duplicates; later batches re-crawl near-duplicates of earlier ones.

Each kind has one fixed shape (the constants below); only the seed varies.

Usage: python3 perfbench/inputs.py {posts|stream} --seed N --out DIR
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random

import numpy as np

# ---------------------------------------------------------------- posts

TERMS = ("kelvingrove", "modernart", "riverside")
TAGS = (
    "Art", "museum", "TRAVEL", "city", "architecture", "Sunset", "food",
    "Glasgow", "history", "PAINTING", "park", "night",
)
# captions in several languages so the heuristic detector routes some
# rows through the translate branch
CAPTION_WORDS = {
    "en": "the museum is open today and the light is lovely with friends".split(),
    "de": "das museum ist heute offen und die kunst ist schön".split(),
    "fr": "le musée est ouvert et la lumière est belle avec les amis".split(),
    "es": "el museo está abierto y la luz es bonita con los amigos".split(),
}
FEED_PAGE_ITEMS = 100
FEED_ITEMS_PER_TERM = 500
POST_DOCUMENTS = 133
IMAGES = 16
EPOCH_2009 = int(dt.datetime(2009, 1, 1, tzinfo=dt.timezone.utc).timestamp())
EPOCH_2022 = int(dt.datetime(2022, 1, 1, tzinfo=dt.timezone.utc).timestamp())


def _caption(rng: random.Random, i: int) -> str | None:
    r = rng.random()
    if r < 0.08:
        return None
    if r < 0.10:
        return ""
    lang = rng.choice(tuple(CAPTION_WORDS))
    words = [rng.choice(CAPTION_WORDS[lang]) for _ in range(rng.randrange(4, 14))]
    tags = [f"#{t}" for t in rng.sample(TAGS, rng.randrange(0, 4))]
    return " ".join(words + tags) + f" {i}"


def feed_items(rng: random.Random, n: int) -> list[dict]:
    """FIXTURES.md §1 feed items (epoch-second timestamps, as the scraper
    receives them)."""
    items = []
    for i in range(n):
        sc = f"B{i:07d}x{rng.randrange(1000):03d}"
        cap = _caption(rng, i)
        items.append(
            {
                "id": str(2_100_000_000_000_000_000 + i),
                "shortcode": sc,
                "post_url": f"https://www.instagram.com/p/{sc}/",
                "type": rng.choice(["GraphImage", "GraphSidecar", "GraphVideo", None]),
                "is_video": rng.random() < 0.15,
                "likes": int(min(50_000, rng.lognormvariate(5, 1.5))),
                "comment_count": int(min(2_000, rng.lognormvariate(2, 1.2))),
                "comments_disabled": rng.random() < 0.05,
                "search_mode": rng.choice(["hashtag", "location", "user"]),
                "caption": cap,
                "hashtags": rng.sample(TAGS, rng.randrange(0, 5)),
                "display_url": f"https://cdn.example.com/{sc}.jpg",
                "owner_id": str(rng.randrange(1, n // 5 + 2)),
                "timestamp": rng.randrange(EPOCH_2009, EPOCH_2022),
                "mentions": [f"user{rng.randrange(50)}" for _ in range(rng.randrange(0, 3))],
                "thumbnail_src": f"https://cdn.example.com/t/{sc}.jpg",
            }
        )
    # ~2% shortcode-only duplicates (dedup D1): same shortcode, new id,
    # a later timestamp — the earlier post must survive preprocessing
    for i in range(0, n, 50):
        d = dict(items[i])
        d["id"] = str(3_100_000_000_000_000_000 + i)
        d["timestamp"] = items[i]["timestamp"] + 86_400
        items.append(d)
    return items


def feed_pages(rng: random.Random, items_per_term: int) -> dict[str, list[dict]]:
    """url → cursor-paginated pages; ~2% of each term's items repeat an
    item of the previous term (an (id, shortcode) duplicate, dedup D2)."""
    pages: dict[str, list[dict]] = {}
    prev: list[dict] = []
    for t, term in enumerate(TERMS):
        items = feed_items(random.Random(rng.random()), items_per_term)
        for it in items:
            it["id"] = str(int(it["id"]) + t * 10_000_000)
            it["shortcode"] = f"{term[:2]}{it['shortcode']}"
        if prev:
            items += [dict(x) for x in prev[: max(1, len(prev) // 50)]]
        rng.shuffle(items)
        chunks = [items[k : k + FEED_PAGE_ITEMS] for k in range(0, len(items), FEED_PAGE_ITEMS)]
        pages[f"feed/{term}"] = [
            {"items": c, "end_cursor": f"{term}-{k + 1}", "has_more": k + 1 < len(chunks)}
            for k, c in enumerate(chunks)
        ]
        prev = items
    return pages


def _comment(rng: random.Random, cid: str, threaded: bool) -> dict:
    node = {
        "id": cid,
        "text": " ".join(rng.choice(CAPTION_WORDS["en"]) for _ in range(rng.randrange(2, 8))),
        "owner": {"username": f"user{rng.randrange(200)}"},
        "edge_liked_by": {"count": rng.randrange(0, 40)},
    }
    if threaded:
        node["edge_threaded_comments"] = {
            "edges": [
                {"node": _comment(rng, f"{cid}_{k}", False)["node"]}
                for k in range(rng.randrange(1, 4))
            ]
        }
    return {"node": node}


def post_documents(rng: random.Random, n: int) -> list[dict]:
    """FIXTURES.md §3 post documents: 0-comment posts, threaded comments,
    a missing ``edge_threaded_comments`` key, sidecars, null locations
    and missing caption edges."""
    docs = []
    for i in range(n):
        sc = f"P{i:06d}{rng.randrange(100):02d}"
        sidecar = rng.random() < 0.33
        n_comments = 0 if rng.random() < 0.2 else rng.randrange(1, 6)
        cap = _caption(rng, i)
        doc = {
            "__typename": "GraphSidecar" if sidecar else "GraphImage",
            "id": str(2_200_000_000_000_000_000 + i),
            "shortcode": sc,
            "display_url": f"https://cdn.example.com/{sc}.jpg",
            "accessibility_caption": "photo of a building" if rng.random() < 0.67 else None,
            "is_video": False,
            "caption_is_edited": rng.random() < 0.1,
            "has_ranked_comments": rng.random() < 0.5,
            "like_and_view_counts_disabled": False,
            "comments_disabled": n_comments == 0 and rng.random() < 0.3,
            "is_affiliate": False,
            "is_paid_partnership": rng.random() < 0.05,
            "is_ad": False,
            "taken_at_timestamp": rng.randrange(EPOCH_2009, EPOCH_2022),
            "edge_media_to_caption": {"edges": [] if cap is None else [{"node": {"text": cap}}]},
            "edge_media_preview_like": {"count": rng.randrange(0, 5000)},
            "edge_media_to_parent_comment": {
                "count": n_comments,
                "edges": [
                    _comment(rng, f"c{i}_{k}", rng.random() < 0.4) for k in range(n_comments)
                ],
            },
            "edge_media_to_tagged_user": {
                "edges": [
                    {"node": {"user": {"username": f"user{rng.randrange(200)}"}}}
                    for _ in range(rng.randrange(0, 3))
                ]
            },
            "location": None
            if rng.random() < 0.3
            else {"id": str(rng.randrange(100)), "name": "Kelvingrove", "slug": "kelvingrove"},
            "owner": {
                "id": str(rng.randrange(1, 500)),
                "username": f"owner{rng.randrange(500)}",
                "edge_followed_by": {"count": rng.randrange(0, 100_000)},
                "edge_owner_to_timeline_media": {"count": rng.randrange(0, 3000)},
            },
        }
        if sidecar:
            doc["edge_sidecar_to_children"] = {
                "edges": [
                    {"node": {"id": f"{doc['id']}{k}", "shortcode": f"{sc}{k}",
                              "display_url": f"https://cdn.example.com/{sc}{k}.jpg"}}
                    for k in range(3)
                ]
            }
        docs.append(doc)
    return docs


def write_posts(seed: int, out: str) -> dict:
    """Feed pages, post documents and PNGs for the post pipeline."""
    from social_media_data_pipeline_spark.sources.binary import encode_png

    rng = random.Random(seed)
    pages = feed_pages(rng, FEED_ITEMS_PER_TERM)
    with open(os.path.join(out, "feed_pages.json"), "w") as f:
        json.dump(pages, f)
    post_dir = os.path.join(out, "post_json")
    os.makedirs(post_dir)
    docs = post_documents(rng, POST_DOCUMENTS)
    per_file = 50
    for k in range(0, len(docs), per_file):
        with open(os.path.join(post_dir, f"posts_{k // per_file:04d}.json"), "w") as f:
            json.dump(docs[k : k + per_file], f)
    img_dir = os.path.join(out, "images")
    os.makedirs(img_dir)
    for k in range(IMAGES):
        w, h = 24 + rng.randrange(17), 24 + rng.randrange(17)
        rgb = bytes(rng.randrange(256) for _ in range(w * h * 3))
        with open(os.path.join(img_dir, f"img_{k:04d}.png"), "wb") as f:
            f.write(encode_png(w, h, rgb))
    return {"feed_items": sum(len(p["items"]) for v in pages.values() for p in v),
            "post_documents": len(docs), "images": IMAGES}


# --------------------------------------------------------------- stream

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch a the"
).split()
# Gopher stop words; a document passes the stop-word rule with >= 2
STOP_VOCAB = ("and", "of", "to", "with", "that")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def documents(rs: np.random.RandomState, n: int) -> dict:
    """Bag-of-words documents: ~75% long prose with stop words (passes
    the Gopher gate), ~15% short, ~10% without stop words; ~2% exact
    duplicates and ~6% near duplicates (two words swapped out)."""
    vocab = np.array(DOC_VOCAB + list(STOP_VOCAB))
    texts: list[str] = []
    for i in range(n):
        r = rs.rand()
        if i > 20 and r < 0.02:
            texts.append(texts[rs.randint(0, i)])
            continue
        if i > 20 and r < 0.08:
            words = texts[rs.randint(0, i)].split()
            for _ in range(2):
                words[rs.randint(0, len(words))] = vocab[rs.randint(0, len(vocab))]
            texts.append(" ".join(words))
            continue
        n_words = rs.randint(8, 45) if r < 0.23 else rs.randint(55, 95)
        pool = vocab if r >= 0.33 else vocab[: len(DOC_VOCAB)]
        texts.append(" ".join(pool[rs.randint(0, len(pool), n_words)]))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": list(np.array(LANGS)[rs.choice(len(LANGS), n, p=LANG_P)]),
        "source": [f"src{k}" for k in rs.randint(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


# id of the documents' random stream, so the stream depends only on the seed
STREAM_ID = 10
STREAM_BATCHES = 2
STREAM_BATCH_DOCS = 100


def write_stream(seed: int, out: str) -> dict:
    """Ordered micro-batches of documents. Each batch after the first
    re-crawls near-duplicates (two words changed) of four fixed documents
    of the first batch and of four documents of the previous batch, so
    flagged pairs reach the label store from the second batch on.
    ``planted`` lists each re-crawled document as [doc_id, doc_id of its
    source]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    batches, batch_docs = STREAM_BATCHES, STREAM_BATCH_DOCS
    rs = np.random.RandomState([seed, STREAM_ID])
    docs = documents(rs, batches * batch_docs)
    texts = docs["text"]
    vocab = DOC_VOCAB + list(STOP_VOCAB)
    injected = 8

    def prose(i: int) -> bool:  # long, with >= 2 stop words: passes the Gopher gate
        words = texts[i].split()
        return len(words) >= 55 and len({"the", *STOP_VOCAB} & set(words)) >= 3

    anchors = [i for i in range(batch_docs) if prose(i)][:4]
    planted = []
    for b in range(1, batches):
        prev = [i for i in range((b - 1) * batch_docs + injected, b * batch_docs) if prose(i)][:4]
        for k, src in enumerate(anchors + prev):
            words = texts[src].split()
            for _ in range(2):
                words[rs.randint(0, len(words))] = vocab[rs.randint(0, len(vocab))]
            texts[b * batch_docs + k] = " ".join(words)
            planted.append([int(docs["doc_id"][b * batch_docs + k]), int(docs["doc_id"][src])])
    docs["n_chars"] = np.array([len(t) for t in texts], dtype=np.int64)
    for b in range(batches):
        part = {k: v[b * batch_docs:(b + 1) * batch_docs] for k, v in docs.items()}
        pq.write_table(pa.table(part), os.path.join(out, f"batch_{b:03d}.parquet"))
    return {"batches": batches, "documents": batches * batch_docs, "planted": planted}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("kind", choices=("posts", "stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    write = {"posts": write_posts, "stream": write_stream}[a.kind]
    info = write(a.seed, a.out)
    print(json.dumps(info))


if __name__ == "__main__":
    main()
