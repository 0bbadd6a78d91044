"""Build-once / search-many lexical (BM25) index lifecycle.

The full-cycle `docs_bm25` query re-tokenizes and re-aggregates the
ENTIRE corpus on every invocation — the right shape for a differential
benchmark, the wrong lifecycle for production retrieval, where the
inverted index is built once and every query reads only its own terms'
postings (reference analog: the reference trains its DIR model once
and reuses it across runs, ImageLabeling/DIRAdapter.py:20-76 — the
same never-redo-training economics `functions/ann_index.py` gives the
ANN stack).

The persisted index is THREE tables committed under ONE root manifest
(one `scale.commit_store` over the union of their files — filename
prefixes distinguish them), so postings, term document-frequencies and
per-document lengths flip atomically:

    postings-*  (t, doc_id, tf, dl)   — the inverted index; dl is
                                        denormalized so a search never
                                        touches the lengths table
    dfreq-*     (t, df)               — vocab-sized
    lengths-*   (doc_id, dl)          — doc-count-sized; used by the
                                        append dup-guard and kept as
                                        the source of truth for stats

Corpus-level stats (N docs, total token count) and the corpus
fingerprint live in the per-commit meta JSON `commit_store` writes
BEFORE the manifest flip AND lists IN the manifest — a reader resolves
the meta through the manifest (`scale.read_store`), so
files+stats+fingerprint are one atomic unit: racing writers write
disjoint meta files and the CAS decides whose meta+files become live
together (a crash between meta write and manifest flip leaves an
orphan meta file, reclaimed by `vacuum_table`, and the previous
generation fully live).

Search (`bm25_search_indexed`) filters postings and dfreq to the query
terms — a pushed-down `t IN (...)` against a term-sorted parquet file,
so row-group stats skip everything else — and scores with the SAME
expression tree as the full-cycle `retrieval.bm25_score`
(`bm25_term_score_expr`), which is why the differential oracle can
REPLAY the full computation in SQL and still hash-match the persisted
path.

Incremental maintenance (`bm25_index_append`) absorbs a batch of NEW
documents at batch-proportional cost: batch postings/lengths land as
appended files, the vocab-sized dfreq table is merge-rewritten (it is
sublinear in the corpus — the ONLY rewritten piece), stats and the
(count, bit_xor) fingerprint merge incrementally, and the root
manifest CAS-flips. Unlike the frozen-model ANN append
(`ann_index.pq_codes_append`), a BM25 append changes OLD documents'
scores too (df and avgdl move) — that is correct Okapi semantics, and
it falls out for free because df/avgdl are resolved at search time,
never baked into the postings.

At 100 TB: postings are the corpus-sized piece — the build
range-buckets them by term across `postings_buckets` files written IN
PARALLEL (one writer task per bucket, each file term-sorted, so the
pushed `t IN (…)` skips row groups inside every file and file-level
min/max stats skip whole buckets; the commit mechanics are
file-count-agnostic). dfreq is vocab-sized, lengths doc-count-sized,
both tiny next to the corpus and single-file; a search reads |Q|
terms' row groups, never the corpus.
"""

from __future__ import annotations

import json
import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from social_media_data_pipeline_spark import scale

from .ann_index import artifacts_root, corpus_fingerprint
from .retrieval import BM25_B, BM25_K1, bm25_term_score_expr, ranked_desc_topn
from .text import tokenize

_POSTINGS_SCHEMA = "t string, doc_id bigint, tf bigint, dl bigint"
_DFREQ_SCHEMA = "t string, df bigint"
_LENGTHS_SCHEMA = "doc_id bigint, dl bigint"


def lex_index_path(corpus_tag: str, params: dict) -> str:
    """Deterministic artifact directory for (corpus, tokenize params)."""
    import hashlib

    key = hashlib.md5(
        json.dumps({"corpus": corpus_tag, **params}, sort_keys=True).encode()
    ).hexdigest()[:16]
    return os.path.join(artifacts_root(), "lex_bm25", key)


def _doc_fingerprint(docs: DataFrame, id_col: str, text_col: str) -> dict:
    """(row count, order-independent content hash) over (id, text)."""
    return corpus_fingerprint(docs, id_col=id_col, vec_col=text_col)


def load_index_meta(path: str) -> dict | None:
    """The live generation's meta (params, fingerprint, stats) resolved
    THROUGH the manifest — the commit point covers it — or None when no
    committed index exists at `path`."""
    return scale.read_store(path)[2]


def _read_part(
    spark: SparkSession, path: str, live: list[str], prefix: str, schema: str
) -> DataFrame:
    """One of the three tables, from the live files of ONE manifest
    read (`scale.read_store`), so all parts come from one commit."""
    files = [f for f in live if os.path.basename(f).startswith(prefix + "-")]
    if not files:
        raise ValueError(
            f"lexical_index: no live {prefix!r} files under {path} — "
            "the index is missing or was committed by an older layout"
        )
    return spark.read.schema(schema).parquet(*files)


def _corpus_tables(
    docs: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """(postings, dfreq, lengths, stats) for a document frame — the one
    tokenize→explode pass plus map-side-combinable aggregations (the
    same shape as `retrieval._term_freqs`; cited there)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokenize(text_col)).alias("t")
    )
    tf = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    lengths = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    postings = tf.join(lengths, "doc_id").select("t", "doc_id", "tf", "dl")
    # term-clustering (range partition + sort) happens at commit time
    # (`_postings_layout`) so the one range exchange both parallelizes
    # the write and produces IN-skippable row groups
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    srow = lengths.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("dl_sum")
    ).collect()[0]
    stats = {"n": int(srow["n"]), "dl_sum": int(srow["dl_sum"] or 0)}
    return postings, dfreq, lengths, stats


def _postings_layout(postings: DataFrame, n_buckets: int) -> DataFrame:
    """Range-bucket the corpus-sized postings on (t, doc_id) into
    `n_buckets` files written IN PARALLEL — a `coalesce(1)` here would
    serialize the one corpus-sized job of the index lifecycle onto one
    core. Each bucket covers a disjoint range of terms and is sorted
    within, so every file keeps the term-clustered row groups that let
    a pushed `t IN (…)` skip non-matching row groups — file-level
    min/max stats additionally skip whole buckets."""
    return postings.repartitionByRange(
        max(1, int(n_buckets)), F.col("t"), F.col("doc_id")
    ).sortWithinPartitions("t", "doc_id")


def build_bm25_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    fingerprint: dict | None = None,
    postings_buckets: int = 8,
) -> None:
    """Tokenize the corpus once and COMMIT the three-table index at
    `path`. The per-generation meta lands before the manifest flip —
    the flip is the commit point; a crash earlier leaves the previous
    generation fully live (files + meta resolve together).

    `postings_buckets` parallelizes the one corpus-sized write of the
    lifecycle: postings land as that many term-range-bucketed,
    term-sorted files written concurrently (at 100 TB size this to the
    cluster's write parallelism / target file size; dfreq and lengths
    are vocab-/doc-count-sized and stay single-file)."""
    postings, dfreq, lengths, stats = _corpus_tables(docs, id_col, text_col)
    fp = fingerprint or _doc_fingerprint(docs, id_col, text_col)
    _live, gen, _meta = scale.read_store(path)
    scale.commit_store(
        path,
        [
            ("postings", _postings_layout(postings, postings_buckets)),
            ("dfreq", dfreq.coalesce(1)),
            ("lengths", lengths.coalesce(1)),
        ],
        gen,
        meta={
            "params": {"id_col": id_col, "text_col": text_col},
            "fingerprint": fp,
            "stats": stats,
        },
    )


def bm25_index_for(
    docs: DataFrame,
    corpus_tag: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trust_cache: bool = False,
    fingerprint: dict | None = None,
) -> str:
    """Get-or-build: return the committed index path for (corpus,
    params), building it on the first call or whenever the corpus
    fingerprint no longer matches (the table was regenerated or grew
    outside `bm25_index_append`). `trust_cache=True` skips the
    fingerprint scan for callers that own their invalidation."""
    params = {"id_col": id_col, "text_col": text_col}
    path = lex_index_path(corpus_tag, params)
    meta = load_index_meta(path)
    if meta is not None and meta.get("params") == params:
        if trust_cache:
            return path
        fp = fingerprint or _doc_fingerprint(docs, id_col, text_col)
        if meta.get("fingerprint") == fp:
            return path
        build_bm25_index(docs, path, id_col, text_col, fingerprint=fp)
        return path
    build_bm25_index(docs, path, id_col, text_col, fingerprint=fingerprint)
    return path


def bm25_search_indexed(
    spark: SparkSession,
    path: str,
    query_terms: Sequence[str],
    k1: float = BM25_K1,
    b: float = BM25_B,
    topn: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 top-`topn` over the PERSISTED index — identical
    output contract to `retrieval.bm25_score` ((id, bm25, rank), 6-dp
    rounding before ranking), but the plan reads only the query terms'
    postings: `t IN (...)` pushes into both parquet scans (postings
    are term-sorted, so row-group stats skip non-matching groups), the
    |Q|-row dfreq slice broadcasts, and corpus stats come from the
    committed meta as a 1-row broadcast frame with the same integer
    types the full-cycle stats aggregate produces — the score
    expression tree is shared (`bm25_term_score_expr`), so both paths
    agree far inside the rounding."""
    live, _gen, meta = scale.read_store(path)
    if meta is None:
        raise ValueError(
            f"lexical_index: no committed index at {path} — build it "
            "with bm25_index_for / build_bm25_index first"
        )
    terms = [t.lower() for t in query_terms]
    postings = _read_part(spark, path, live, "postings", _POSTINGS_SCHEMA).filter(
        F.col("t").isin(terms)
    )
    dfreq = _read_part(spark, path, live, "dfreq", _DFREQ_SCHEMA).filter(
        F.col("t").isin(terms)
    )
    stats = spark.createDataFrame(
        [(meta["stats"]["n"], meta["stats"]["dl_sum"])], "n bigint, dl_sum bigint"
    )
    per_term = (
        postings.join(F.broadcast(dfreq), "t")
        .crossJoin(F.broadcast(stats))
        .select(F.col("doc_id").alias(id_col), bm25_term_score_expr(k1, b).alias("s"))
    )
    scored = per_term.groupBy(id_col).agg(F.round(F.sum("s"), 6).alias("bm25"))
    return ranked_desc_topn(scored, "bm25", id_col, topn)


def bm25_index_append(
    new_docs: DataFrame,
    corpus_tag: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings_buckets: int = 4,
) -> None:
    """Absorb a batch of NEW documents at batch-proportional cost:
    batch postings and lengths APPEND as new files; the vocab-sized
    dfreq table is the only rewrite (old ∪ batch, df summed — vocab is
    sublinear in the corpus, so the rewrite does not grow with it);
    stats and the (count, bit_xor) fingerprint merge incrementally
    with ONE scan of the batch; the root manifest CAS-flips (a
    concurrent writer loses loudly and un-stages).

    Duplicate doc ids are refused loudly BEFORE any file lands —
    appending an already-indexed document would double its postings
    silently (the snm_pairs/negative_pairs refusal convention; the
    check joins the batch against the doc-count-sized lengths table,
    never the postings). Raises when no base index exists —
    `bm25_index_for` builds the base.

    Search-visible effect: new docs rank immediately, and OLD
    documents' scores move too (df and avgdl shift) — correct Okapi
    semantics, free here because df/avgdl resolve at search time
    instead of being baked into postings (contrast
    `ann_index.pq_codes_append`, where the frozen-model contract is
    the point)."""
    params = {"id_col": id_col, "text_col": text_col}
    path = lex_index_path(corpus_tag, params)
    live, gen, meta = scale.read_store(path)
    if meta is None or meta.get("params") != params:
        raise ValueError(
            f"bm25_index_append: no committed index for {corpus_tag!r} "
            f"with these params under {path} — build the base with "
            "bm25_index_for first"
        )
    spark = new_docs.sparkSession
    old_lengths = _read_part(spark, path, live, "lengths", _LENGTHS_SCHEMA)
    dup = (
        new_docs.select(F.col(id_col).alias("doc_id"))
        .join(old_lengths, "doc_id", "left_semi")
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"bm25_index_append: doc_id {dup[0]['doc_id']} is already "
            "indexed — appends must carry only NEW documents (a re-append "
            "would silently double its postings); use a full rebuild via "
            "build_bm25_index for corrections"
        )
    b_postings, b_dfreq, b_lengths, b_stats = _corpus_tables(
        new_docs, id_col, text_col
    )
    old_dfreq = _read_part(spark, path, live, "dfreq", _DFREQ_SCHEMA)
    merged_dfreq = (
        old_dfreq.unionByName(b_dfreq)
        .groupBy("t")
        .agg(F.sum("df").alias("df"))
    )
    batch_fp = _doc_fingerprint(new_docs, id_col, text_col)
    old_fp, old_stats = meta["fingerprint"], meta["stats"]
    # batch postings and lengths append beside the live ones; only the
    # superseded dfreq file leaves the live set (vacuum_table reclaims
    # it — a search may still be reading it)
    scale.commit_store(
        path,
        [
            ("postings", _postings_layout(b_postings, postings_buckets)),
            ("lengths", b_lengths.coalesce(1)),
            ("dfreq", merged_dfreq.coalesce(1)),
        ],
        gen,
        keep=[f for f in live if not os.path.basename(f).startswith("dfreq-")],
        meta={
            "params": params,
            "fingerprint": {
                "n": old_fp["n"] + batch_fp["n"],
                "h": old_fp["h"] ^ batch_fp["h"],
            },
            "stats": {
                "n": old_stats["n"] + b_stats["n"],
                "dl_sum": old_stats["dl_sum"] + b_stats["dl_sum"],
            },
        },
    )
