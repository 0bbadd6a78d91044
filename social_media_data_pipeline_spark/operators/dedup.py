"""Deduplication operators (SURVEY.md §2.3 D1/D2 + LLM-pipeline near-dup).

Exact keyed dedup is `dedup_first_wins`: a deterministic survivor via a
window. The reference's `drop_duplicates` keeps the first row in FILE
order (`Preprocessor.py:161-167`, `InstagramFeedScraper.py:220`); file
order is meaningless on a distributed engine, so the engine requires an
explicit `order_by` tie-break — same contract, deterministic everywhere.
When the survivor does not matter, Spark's own `dropDuplicates` is the
cheaper form (hash-aggregate, map-side partial).

Scale note (100 TB): all variants are single-shuffle on the dedup key.
For heavily-skewed keys enable AQE skew handling (on by default in
`session.get_spark`); for repeated dedups of the same table, bucket the
table by the key to make the shuffle disappear.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dedup_first_wins(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """D1/D2 with a deterministic survivor: first row per key under
    `order_by`.

    Reference: first-wins `drop_duplicates(subset=["shortcode"])`
    (`Preprocessor.py:161-167`); `(id, shortcode)` composite at
    `InstagramFeedScraper.py:220`.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 8,
) -> DataFrame:
    """Corpus-level SEGMENT dedup (CCNet-style, Wenzek et al. 2020 §3.1,
    public paper): split every document into fixed ``seg_tokens``-token
    segments, drop every segment whose exact text already appeared
    earlier in the corpus (first occurrence in (doc, position) order
    wins), and reassemble the surviving segments in document order.

    This removes cross-document boilerplate (headers, footers, license
    blocks) that document-level dedup can't touch — the standard step
    between exact-dedup and near-dedup in an LLM data pipeline. The
    reference dedups whole records only (`Preprocessor.py:161-167`);
    this is the sub-document generalization.

    Returns (id, clean_text, n_kept, n_segs). Documents whose every
    segment is boilerplate drop out entirely — that IS the dedup
    contract (same as a fully-duplicate doc in `dedup_exact_content`).

    Scale shape (100 TB): two shuffles, both on honest keys —
    (1) first-occurrence selection is `min(struct(id, pos, ...))`
    grouped DIRECTLY on the segment text: a HASH AGGREGATE, not a
    window, so map-side partial aggregation collapses duplicate
    segments BEFORE the shuffle — on the boilerplate-heavy corpora
    this operator targets, the exchange carries one survivor candidate
    per (distinct segment × map partition) instead of every occurrence
    (a sort-window formulation measured identical at sf0.1 but must
    shuffle all occurrences). Grouping on the raw text beats the
    earlier md5(segment) key on BOTH axes: no hash compute (1.92 s →
    1.51 s at sf0.1), zero collision risk at trillion-segment scale
    (64-bit hashes would collide; md5 hex was 32 B — the same width as
    an 8-token segment anyway), and the payload no longer duplicates
    the segment inside the min-struct. (2) reassembly groups by doc
    id. No join, no quadratic term; hot segments cost one partial-agg
    cell per partition (and those are exactly the rows the operator
    deletes).
    """
    if seg_tokens < 1:
        raise ValueError(f"seg_tokens must be >= 1, got {seg_tokens}")
    from social_media_data_pipeline_spark.functions.text import normalize_text

    toks = F.split(normalize_text(text_col), " ")
    n_segs = F.ceil(F.size(toks) / F.lit(float(seg_tokens))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(F.slice(toks, i * seg_tokens + 1, seg_tokens), " "),
    )
    exploded = df.select(
        F.col(id_col).alias("id"),
        n_segs.alias("n_segs"),
        F.posexplode(segs).alias("pos", "seg"),
    )
    # struct min orders lexicographically by field: (id, pos) = first
    # occurrence in corpus order; n_segs rides along as payload
    kept = (
        exploded.groupBy("seg")
        .agg(F.min(F.struct("id", "pos", "n_segs")).alias("m"))
        .select("m.id", "m.pos", "m.n_segs", "seg")
    )
    return kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
        F.first("n_segs").alias("n_segs"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
    max_occurrences: int | None = None,
    fast: bool = False,
) -> DataFrame:
    """Cross-document duplicate-SPAN detection (the ExactSubstr idea of
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better", public paper, re-expressed relationally): slide a k-token
    window over every document, find window hashes occurring in >=
    `min_docs` distinct documents, and merge consecutive duplicated
    positions into maximal spans per document — the spans a trainer
    would trim instead of dropping whole documents.

    The suffix-array formulation is a single-machine algorithm; this is
    the shuffle-native equivalent: window hashes are the inverted
    index, and maximal runs come from the gaps-and-islands trick
    (pos - row_number() is constant within a consecutive run).

    Returns (id, span_start, span_end, n_windows): token positions
    [span_start, span_end] inclusive, 0-based; n_windows = k-gram
    windows merged into the span.

    Scale shape (100 TB): explode is map-side (one 16 B hash per token
    position); duplicated positions come from ONE aggregation keyed on
    the hash — occurrences collect per hash, hashes seen in < min_docs
    documents drop, survivors re-explode map-side (a
    countDistinct + semi-join formulation re-executes the whole window-
    hash construction on the probe side and measured 1.8× slower at
    sf0.1: 7.9 s vs 4.4 s). Per-hash state is bounded by that k-gram's
    occurrence count — mega-hot k-grams (boilerplate in millions of
    docs) concentrate one array each, the same hot-key exposure as
    `ngram_jaccard_pairs`' hot shingles. Mitigation is explicit:
    `max_occurrences` pre-prunes hashes whose total occurrence count
    exceeds the cap (a map-side-combinable count + broadcast anti-join,
    the `max_doc_freq` pattern from `ngram_jaccard_pairs`) BEFORE any
    occurrence list is collected, so no single aggregation row can
    accumulate unbounded state. Excluded hashes are boilerplate beyond
    the cap — strip those upstream via `boilerplate_ngrams`; with the
    default `None` every duplicated hash is kept (exact ExactSubstr
    semantics, matching the oracle). The islands window and the span
    aggregate share one doc-keyed shuffle. Nothing is quadratic —
    boilerplate spans produce long runs, which COLLAPSE into single
    rows here.
    """
    if k < 2:
        raise ValueError(f"window width k must be >= 2, got {k}")
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    if max_occurrences is not None and max_occurrences < min_docs:
        raise ValueError(
            f"max_occurrences ({max_occurrences}) must be >= min_docs ({min_docs})"
        )
    from social_media_data_pipeline_spark.functions.text import normalize_text

    toks = F.split(normalize_text(text_col), " ")
    m = F.size(toks) - F.lit(k - 1)
    # window strings via a zip_with chain over k shifted slices (the
    # shingles() trick): higher-order lambdas run INTERPRETED, so the
    # per-position slice+array_join form paid ~11 µs/window — the chain
    # is k-1 linear concat passes and measured 2.4× faster at sf0.1
    # (3.4 s → 1.4 s construction). A lead()-window formulation is
    # faster still (1.1 s) but shuffles every token on the doc key —
    # rejected: construction must stay map-side at 100 TB.
    acc = F.slice(toks, 1, m)
    for j in range(2, k + 1):
        acc = F.zip_with(
            acc, F.slice(toks, j, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    # fast=True swaps the 128-bit md5 window key for xxhash64 (native
    # long, no hex string): measured ~15-20% faster at sf0.1, but a
    # 64-bit key collides at trillion-window scale (birthday ~2^32) and
    # a collision fabricates a duplicate window — md5 stays the default
    # (raw window strings were measured SLOWER than md5: bigger shuffle).
    wins = F.transform(acc, lambda s: F.xxhash64(s) if fast else F.md5(s))
    exploded = (
        df.filter(F.size(toks) >= k)
        .select(F.col(id_col).alias("id"), F.posexplode(wins).alias("pos", "h"))
    )
    if max_occurrences is not None:
        # hot-hash pre-prune: the count aggregate is map-side combinable
        # (16 B partials), and the over-cap hash set is tiny by
        # construction, so it broadcasts into a left-anti join
        hot = (
            exploded.groupBy("h")
            .agg(F.count(F.lit(1)).alias("n_occ"))
            .filter(F.col("n_occ") > max_occurrences)
            .select("h")
        )
        exploded = exploded.join(F.broadcast(hot), "h", "left_anti")
    marked = (
        exploded.groupBy("h")
        .agg(F.collect_list(F.struct("id", "pos")).alias("occ"))
        .filter(
            F.size(F.array_distinct(F.transform("occ", lambda x: x["id"])))
            >= min_docs
        )
        .select(F.explode("occ").alias("o"))
        .select(F.col("o.id").alias("id"), F.col("o.pos").alias("pos"))
    )
    w = Window.partitionBy("id").orderBy("pos")
    islands = marked.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy("id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("grp")
    )


def duplicate_window_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplication SCORE: the fraction of a document's
    k-token windows that also occur in ≥ `min_docs`−1 OTHER documents —
    the doc-level contamination number a curation run thresholds on
    ("drop docs >50% boilerplate", the aggregate view of what
    `duplicate_spans` localizes into trimmable spans; Lee et al. 2022's
    ExactSubstr statistic, per-document). Returns
    (id, n_windows, n_dup_windows, dup_frac) for docs with ≥ 1 window.

    Scale shape (100 TB): same map-side window-hash explode as
    `duplicate_spans`, then THREE map-side-combinable aggregates and
    one hash-equi join — per-(hash, doc) counts, per-hash distinct-doc
    counts (a count over the FIRST aggregate's output, so no
    occurrence-list state concentrates anywhere — the collect_list
    hot-hash exposure of `duplicate_spans` does not exist here), join
    back on the hash, per-doc sums. No window function, nothing
    quadratic: a boilerplate hash in h docs costs h rows in the first
    aggregate, 1 in the second.
    """
    if k < 2:
        raise ValueError(f"window width k must be >= 2, got {k}")
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    from social_media_data_pipeline_spark.functions.text import normalize_text

    toks = F.split(normalize_text(text_col), " ")
    m = F.size(toks) - F.lit(k - 1)
    acc = F.slice(toks, 1, m)
    for j in range(2, k + 1):
        acc = F.zip_with(
            acc, F.slice(toks, j, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    wins = F.transform(acc, lambda s: F.md5(s))
    exploded = df.filter(F.size(toks) >= k).select(
        F.col(id_col).alias("id"), F.explode(wins).alias("h")
    )
    per_doc_hash = exploded.groupBy("h", "id").agg(
        F.count(F.lit(1)).alias("n_pos")
    )
    per_hash = per_doc_hash.groupBy("h").agg(
        F.count(F.lit(1)).alias("nd")
    )
    return (
        per_doc_hash.join(per_hash, "h")
        .groupBy("id")
        .agg(
            F.sum("n_pos").alias("n_windows"),
            F.sum(F.when(F.col("nd") >= min_docs, F.col("n_pos")).otherwise(0)).alias(
                "n_dup_windows"
            ),
        )
        .select(
            "id",
            "n_windows",
            "n_dup_windows",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6).alias(
                "dup_frac"
            ),
        )
    )


def trim_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply `duplicate_spans` output as a TRIM: drop the tokens inside
    each document's flagged [span_start, span_end] ranges and rebuild
    the text — the "trim, don't drop" completion of span detection
    (docs keeping at least one token survive with n_removed recorded).

    Scale shape: the span lists aggregate per doc (tiny — one row per
    maximal span) and join back on the doc id; token filtering is a
    pure array expression using the positional lambda — no explode of
    the corpus, no second text shuffle.
    """
    from social_media_data_pipeline_spark.functions.text import normalize_text

    sp = spans.groupBy(F.col("id").alias(id_col)).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__sp")
    )
    joined = df.join(sp, id_col, "left").withColumn(
        "__sp", F.coalesce(F.col("__sp"), F.array())
    )
    toks = F.split(normalize_text(text_col), " ")
    # two-param lambda: PySpark binds the second argument to the ARRAY
    # INDEX (0-based) — here that's exactly the token position
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("__sp"),
            lambda r: (i >= r["span_start"]) & (i <= r["span_end"]),
        ),
    )
    return (
        joined.select(
            F.col(id_col),
            F.array_join(kept, " ").alias("trimmed_text"),
            (F.size(toks) - F.size(kept)).alias("n_removed"),
        )
        .filter(F.size(kept) > 0)
    )


def dedup_exact_content(
    df: DataFrame,
    content_col: str,
    id_col: str,
    normalize: bool = True,
) -> DataFrame:
    """Exact content dedup for document corpora: hash-groupBy on the text
    digest, keep the smallest id (deterministic).

    LLM-pipeline extension (BASELINE.json north_star): at 100 TB the
    digest (128-bit md5) is grouped instead of the raw text, so the
    shuffle carries 16 bytes + id per row, not documents.
    """
    text = F.col(content_col)
    if normalize:
        text = F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))
    digest = F.md5(text)
    w = Window.partitionBy(digest).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_weights(
    labeled: DataFrame,
    component_col: str = "component",
    id_col: str = "doc_id",
    mass_col: str | None = None,
) -> DataFrame:
    """Count-preserving dedup: collapse a cluster labeling (the
    `graph.dedup_clusters` output — one row per doc with its
    component) to ONE row per cluster carrying the cluster's
    multiplicity as `weight`, so downstream training can reweight the
    survivor's loss (or repeat-sample it) instead of silently shifting
    the corpus distribution toward rare documents — dedup that removes
    copies without removing their probability mass (the data-constrained
    repeat-epoch framing, Muennighoff 2023; the "weighted dedup"
    complement of the survivor POLICY in `dedup_survivors`, which picks
    WHICH doc survives while this computes HOW MUCH it counts).

    Output: (id_col = MIN member id — the canonical under the library's
    deterministic survivor rule, weight = member count, and, when
    `mass_col` is given, dup_mass = exact integer sum of that column
    across ALL members — the surviving doc's token/char budget share
    including its duplicates). Invariants: sum(weight) = input rows,
    sum(dup_mass) = total corpus mass; both exact (bigint counts/sums,
    no floats).

    Scale shape: ONE map-side-combinable groupBy on the component key —
    the shuffle carries one partial row per (partition, component), and
    the canonical id is derived inside the same aggregate (MIN), so no
    join back to the labeling and no window. Composes with any
    candidate generator upstream (LSH, SimHash, embedding near-dup):
    anything that yields a component labeling gets weights for free.
    """
    # a NULL component would silently MERGE every unlabeled row into one
    # giant cluster (groupBy's single NULL group) — the silent-data-bug
    # class scd2_apply refuses loudly, so this does too (the house
    # labeling, graph.dedup_clusters, coalesces NULL → own id upstream;
    # bounded limit(1) probe, same cost class as the scd2 guards)
    if labeled.filter(F.col(component_col).isNull()).limit(1).collect():
        raise ValueError(
            f"dedup_weights: {component_col!r} contains NULL — unlabeled "
            "rows would silently merge into one cluster; coalesce NULL "
            "components to the row's own id first (dedup_clusters does)"
        )
    mass = (
        [F.sum(F.col(mass_col).cast("bigint")).alias("dup_mass")]
        if mass_col
        else []
    )
    return labeled.groupBy(component_col).agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("weight"),
        *mass,
    ).drop(component_col)


def incremental_dedup(
    new_docs: DataFrame,
    history: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.2,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    hist_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingest near-dedup: flag NEW documents that
    near-duplicate the HISTORICAL corpus — the continuous-crawl flow,
    where each ingest batch dedups against everything already kept
    without ever re-pairing history with itself.

    shingle → MinHash → LSH bands on BOTH sides
    (`sketches.minhash_band_table`; at 100 TB the history side is the
    PERSISTED band store, appended per ingest — only the new batch
    computes signatures), equi band join for candidates (never
    new × history all-pairs), exact shingle-Jaccard verification of
    candidates only, then per-new-doc argmax (highest jaccard, ties →
    lowest historical id). Returns (id_col, dup_of, jaccard) for new
    docs with a verified match ≥ `threshold`.

    Scale shape: candidates bounded by band-bucket collisions (the
    minhash_lsh_pairs skew analysis in SCALING.md applies — hot bands
    from boilerplate are the risk, and the dedup_first/stop-shingle
    mitigations compose here unchanged); the verify join explodes
    shingles for CANDIDATE docs only.

    `hist_bands` injects an already-materialized history band table
    (`band_store_read` over the persisted store — MUST have been built
    with the same num_hashes/bands/shingle_k, which the store's meta
    binds and `band_store_read` verifies); when omitted the bands are
    recomputed from `history`, the small-corpus path. Either way
    `history` itself is still needed for the exact-Jaccard text verify
    of CANDIDATE docs (a semi-joined, id-pruned read at scale).
    """
    from social_media_data_pipeline_spark.functions import sketches

    if hist_bands is None:
        hist_bands = sketches.minhash_band_table(
            history, id_col, text_col, num_hashes, bands, shingle_k
        )
    hist_bands = hist_bands.select(
        F.col("doc").alias("__hist"), "band_idx", "band_hash"
    )
    new_bands = sketches.minhash_band_table(
        new_docs, id_col, text_col, num_hashes, bands, shingle_k
    ).select(F.col("doc").alias("__new"), "band_idx", "band_hash")
    # candidates are reused three times below (semi-joins + the common
    # count) — pin them so the band pipeline runs once (the
    # dedup_clusters checkpoint-before-reuse pattern); bounded by
    # band-bucket collisions
    cand = (
        new_bands.join(hist_bands, ["band_idx", "band_hash"])
        .select("__new", "__hist")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # explode shingles for CANDIDATE docs only: at 100 TB the history
    # side is the whole kept corpus — without the semi-join this would
    # re-scan every historical document's text
    sh_new = (
        new_docs.join(
            cand.select(F.col("__new").alias(id_col)).distinct(), id_col, "left_semi"
        )
        .select(
            F.col(id_col).alias("__new"),
            F.explode(sketches.shingles(text_col, shingle_k)).alias("s"),
        )
        .distinct()
    )
    sh_hist = (
        history.join(
            cand.select(F.col("__hist").alias(id_col)).distinct(), id_col, "left_semi"
        )
        .select(
            F.col(id_col).alias("__hist"),
            F.explode(sketches.shingles(text_col, shingle_k)).alias("s"),
        )
        .distinct()
    )
    sizes_new = sh_new.groupBy("__new").agg(F.count(F.lit(1)).alias("__na"))
    sizes_hist = sh_hist.groupBy("__hist").agg(F.count(F.lit(1)).alias("__nb"))
    common = (
        cand.join(sh_new, "__new")
        .join(sh_hist, ["__hist", "s"])
        .groupBy("__new", "__hist")
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    jacc = F.round(
        F.col("__common") / (F.col("__na") + F.col("__nb") - F.col("__common")), 6
    )
    verified = (
        common.join(sizes_new, "__new")
        .join(sizes_hist, "__hist")
        .select("__new", "__hist", jacc.alias("__j"))
        .filter(F.col("__j") >= threshold)
    )
    # tie-break WITHOUT negating the id (string ids — the common crawl
    # doc-id shape — would null out under arithmetic negation, or error
    # under ANSI mode): min of struct(-jaccard, hist_id) is the highest
    # jaccard, then the lowest historical id in the id type's own order
    best = (
        verified.groupBy("__new")
        .agg(
            F.min(
                F.struct(
                    (-F.col("__j")).alias("__nj"), F.col("__hist").alias("__h")
                )
            ).alias("b")
        )
        .select(
            F.col("__new").alias(id_col),
            F.col("b.__h").alias("dup_of"),
            (-F.col("b.__nj")).alias("jaccard"),
        )
    )
    return best


# --------------------------------------------------------------------------
# band-store lifecycle: the persisted history side of incremental_dedup
# --------------------------------------------------------------------------
# At 100 TB the band store is the long-lived asset of a continuous-crawl
# dedup (reference continuous-ingest analog: resumable scrape state,
# InstagramFeedScraper.py:122-168): each ingest batch computes only its
# OWN signatures, joins them against the store, and appends its
# survivors. The lifecycle below manages that store:
#   append  — survivors only (flagged duplicates excluded HERE, not by
#             caller convention), sorted by band
#   read    — exact semi-join pruning to the (band_idx, band_hash) keys
#             a probe batch carries
#   compact — drop bands of docs later deduped/retired + coalesce the
#             per-append files into one
# The store commits like every other manifest store: each append and
# each compaction is one `scale.commit_store` CAS flip, and the manifest
# binds a meta JSON holding the signature params and the band schema
# DDL. Reads name their files from the manifest and take the schema from
# the meta, never from footer inference, so zero files read as an empty
# frame, and a crash before a flip leaves the previous generation live.
# Layout: FLAT parquet — (doc, band_idx, band_hash) files directly under
# the store root, one per write task, each sorted within the file by
# (band_idx, band_hash) so row-group min/max stats cluster by band. Not
# partitioned by band: a (band_idx, hash-bucket) directory layout writes
# up to bands × buckets small files per append, every read lists all of
# those directories, and a batch of a few hundred docs touches every
# bucket anyway, so directory pruning saves nothing. The probe side is
# the batch's own band table (bands × batch rows), so a broadcast
# left-semi join keeps exactly the store rows the dedup join can match;
# the scan itself still reads the whole store.

_BAND_COLS = ("doc", "band_idx", "band_hash")
# every probe scans the whole store, so compaction writes it as one file
_COMPACT_FILES = 1


def _band_store_state(store_path: str) -> tuple[list[str], object, dict | None]:
    """`scale.read_store` of a band store: (live files, CAS generation,
    meta). A directory with no manifest that holds entries
    `commit_store` never writes (a stamp JSON, part files, band_idx=
    directories) is a store written before manifest commits; reading
    it as absent would drop its history, so it is refused with the
    rebuild."""
    import os

    from social_media_data_pipeline_spark import scale

    files, gen, meta = scale.read_store(store_path)
    if gen is scale.EXPECT_ABSENT and os.path.isdir(store_path):
        # a racing creator's staged files, meta and claimed generation
        # are commit_store's own: that store is absent until it flips
        foreign = sorted(
            e for e in os.listdir(store_path)
            if not e.startswith(("_staged-", "_meta-", "_manifest"))
            and not scale._COMMITTED_NAME.search(e)
        )
        if foreign:
            raise ValueError(
                f"band store {store_path} holds {foreign[:3]} but no "
                "manifest: a store written before manifest commits. "
                "Rebuild it into an empty path with band_store_append("
                "sketches.minhash_band_table(<kept corpus>), store, "
                "params=...)"
            )
    return files, gen, meta


def _band_frame(
    spark: "SparkSession",
    store_path: str,
    state: tuple,
    probe_bands: DataFrame | None = None,
    params: dict | None = None,
) -> DataFrame:
    """The store's rows at `state` (a `_band_store_state` read), schema
    from the meta; `params` must match the meta's signature params."""
    files, _gen, meta = state
    if meta is None:
        raise FileNotFoundError(f"no band store at {store_path}")
    mism = {
        k: v for k, v in (params or {}).items() if meta["params"].get(k) != v
    }
    if mism:
        raise ValueError(
            f"band store {store_path} was built with {meta['params']}, "
            f"caller expects {mism} — mixed signature parameters"
        )
    if files:
        df = spark.read.schema(meta["schema"]).parquet(*files)
    else:
        df = spark.createDataFrame([], meta["schema"])
    if probe_bands is not None:
        # no distinct() on the probe: a broadcast semi join's build
        # side already ignores duplicate keys
        df = df.join(
            F.broadcast(probe_bands.select("band_idx", "band_hash")),
            ["band_idx", "band_hash"],
            "left_semi",
        ).select(*_BAND_COLS)
    return df


def band_store_append(
    bands: DataFrame,
    store_path: str,
    flagged: DataFrame | None = None,
    params: dict | None = None,
    base: tuple | None = None,
) -> None:
    """Append a batch's band table (`sketches.minhash_band_table`
    output: doc, band_idx, band_hash) to the persisted store, EXCLUDING
    docs listed in `flagged` (the duplicates `incremental_dedup` just
    found — appending them would make the store grow with junk and
    every future batch pay collision candidates against it). Writes
    the flat layout: one file per write task, sorted by
    (band_idx, band_hash), committed by one `scale.commit_store` CAS
    flip — a racing appender raises `ConcurrentCommitError`.

    `params` (num_hashes/bands/shingle_k) and the band schema DDL are
    the meta the manifest binds on the first append, verified on every
    later append/read: joining bands built with different signature
    parameters silently matches nothing, so a mismatch raises instead.
    A zero-row batch (routine in continuous streams) commits like any
    other: reads take their schema from the meta, never from footers.

    `base` is the `_band_store_state` the caller read earlier (read
    here when None); the CAS is against that generation, so an append
    that raced another since the read fails instead of landing beside
    it."""
    from social_media_data_pipeline_spark import scale

    files, gen, have = base or _band_store_state(store_path)
    if flagged is not None:
        bands = bands.join(
            flagged.select(F.col(flagged.columns[0]).alias("doc")),
            "doc",
            "left_anti",
        )
    out = bands.select(*_BAND_COLS)
    meta = {
        "params": dict(params or {}),
        "schema": ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in out.schema.fields
        ),
    }
    if have is not None and have != meta:
        raise ValueError(
            f"band_store_append: store {store_path} was built with {have}, "
            f"got {meta} — mixed signature parameters never match and "
            "mixed id types corrupt the store; recompute with the store's "
            "parameters or rebuild"
        )
    scale.commit_store(
        store_path,
        [("bands", out.sortWithinPartitions("band_idx", "band_hash"))],
        gen,
        keep=files,
        meta=meta,
    )


def band_store_read(
    spark: "SparkSession",
    store_path: str,
    probe_bands: DataFrame | None = None,
    params: dict | None = None,
) -> DataFrame:
    """Read the store's live files back as (doc, band_idx, band_hash).
    With `probe_bands` (the NEW batch's band table) the rows are pruned
    by a broadcast left-semi join on (band_idx, band_hash): exactly the
    store rows the probe can join survive. The parquet scan under it
    still reads the whole store. `params` re-verifies the signature
    params bound in the meta.

    The schema comes from the meta, never from parquet footer
    inference: a store whose appends were all empty resolves to an
    EMPTY frame instead of UNABLE_TO_INFER_SCHEMA. A path with no
    manifest raises FileNotFoundError.
    """
    return _band_frame(
        spark, store_path, _band_store_state(store_path), probe_bands, params
    )


def band_store_compact(
    spark: "SparkSession",
    store_path: str,
    drop_docs: DataFrame | None = None,
) -> dict:
    """Rewrite the store (a) WITHOUT bands of `drop_docs` — documents
    since deduped away or retired from the kept corpus, whose bands
    otherwise feed every future batch useless candidates — and (b) as
    one flat file sorted by (band_idx, band_hash), coalescing the
    per-append files. One `scale.commit_store` flip replaces every live
    file and re-binds the meta: a crash before the flip leaves the
    previous generation live, and an append that landed since the read
    makes the compaction raise `ConcurrentCommitError` instead of
    dropping it. Returns before/after row and file counts so callers
    can alert on runaway growth."""
    from pyspark.sql import Observation

    from social_media_data_pipeline_spark import scale

    files, gen, meta = state = _band_store_state(store_path)
    # both row counts ride the rewrite job: no separate count jobs
    n_before, n_after = Observation(), Observation()
    keep = _band_frame(spark, store_path, state).observe(
        n_before, F.count(F.lit(1)).alias("n")
    )
    if drop_docs is not None:
        keep = keep.join(
            drop_docs.select(F.col(drop_docs.columns[0]).alias("doc")),
            "doc",
            "left_anti",
        )
    new = scale.commit_store(
        store_path,
        [(
            "bands",
            keep.observe(n_after, F.count(F.lit(1)).alias("n"))
            .repartition(_COMPACT_FILES)
            .sortWithinPartitions("band_idx", "band_hash"),
        )],
        gen,
        meta=meta,
        replaced=files,
    )
    return {
        "rows_before": int(n_before.get["n"]),
        "rows_after": int(n_after.get["n"]),
        "files_before": len(files),
        "files_after": len(new),
    }


def incremental_dedup_against_store(
    new_docs: DataFrame,
    history: DataFrame,
    store_path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.2,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    append_survivors: bool = True,
) -> DataFrame:
    """One ingest-batch cycle against the persisted band store: compute
    the NEW batch's bands once, semi-join-read the store down to the
    band keys the batch carries, flag near-duplicates
    (`incremental_dedup` semantics), then append the survivors' bands — the complete continuous-crawl step,
    so the append-excludes-flagged rule lives here instead of in every
    caller. The append is a CAS on the generation the probe read: a
    batch that raced another appender raises `ConcurrentCommitError`
    (its duplicates against the winner's batch were never checked)
    before its caller commits anything downstream. Returns the flagged
    (id_col, dup_of, jaccard) DataFrame (materialized: the append
    already consumed it)."""
    from social_media_data_pipeline_spark.functions import sketches

    spark = new_docs.sparkSession
    params = {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_k": shingle_k,
    }
    new_bands = sketches.minhash_band_table(
        new_docs, id_col, text_col, num_hashes, bands, shingle_k
    ).localCheckpoint(eager=True)
    base = _band_store_state(store_path)
    # "store exists" = a generation is committed (its meta bound), even
    # if every append so far was empty — reads as an empty frame
    if base[2] is not None:
        flagged = incremental_dedup(
            new_docs,
            history,
            id_col,
            text_col,
            threshold,
            num_hashes,
            bands,
            shingle_k,
            hist_bands=_band_frame(spark, store_path, base, new_bands, params),
        ).localCheckpoint(eager=True)
    elif not history.isEmpty():
        # no store yet but a non-empty history corpus was passed:
        # silently flagging nothing would under-dedup the first batch
        # against an existing corpus — recompute the history bands
        # (plain incremental_dedup) for this one bootstrap cycle; the
        # history's bands are NOT appended (they belong to the corpus
        # owner's own ingest path), only the new batch's survivors
        flagged = incremental_dedup(
            new_docs,
            history,
            id_col,
            text_col,
            threshold,
            num_hashes,
            bands,
            shingle_k,
        ).localCheckpoint(eager=True)
    else:
        flagged = spark.createDataFrame(
            [], f"{id_col} {new_docs.schema[id_col].dataType.simpleString()}, "
                f"dup_of {new_docs.schema[id_col].dataType.simpleString()}, "
                "jaccard double",
        )
    if append_survivors:
        band_store_append(
            new_bands, store_path, flagged.select(id_col), params, base=base
        )
    return flagged


def contamination_fraction(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per-training-document benchmark-overlap fraction: the share of
    a document's DISTINCT k-token windows that also occur anywhere in
    the evaluation set — the graded decontamination statistic (GPT-3
    App. C / Brown et al. 2020 measure n-gram overlap with test sets
    and drop documents above a threshold; `docs_bloom_decontaminate`
    is the membership-only fast path, this is the exact fraction it
    approximates). Returns (id, n_grams, n_hit, contamination_frac)
    for training docs with ≥ 1 window; threshold upstream
    (e.g. drop > 0.15).

    Scale shape (100 TB): both sides use the same map-side window-hash
    explode as `duplicate_window_fraction` (zip_with chain over the
    token array — no per-token shuffle), reduced to DISTINCT
    (doc, hash) / (hash) BEFORE the join so boilerplate repetition
    inside one doc never multiplies join input. Benchmarks are small
    by construction, so the eval gram set broadcasts
    (`broadcast_eval=True`, a left join against the broadcast dedup'd
    gram list); at eval sets too big to broadcast, pass False for the
    hash-equi shuffle join — same plan shape as the band joins. One
    doc-keyed aggregate finishes; nothing quadratic anywhere.
    """
    if k < 2:
        raise ValueError(f"window width k must be >= 2, got {k}")
    from social_media_data_pipeline_spark.functions.text import normalize_text

    def grams(df: DataFrame) -> DataFrame:
        toks = F.split(normalize_text(text_col), " ")
        m = F.size(toks) - F.lit(k - 1)
        acc = F.slice(toks, 1, m)
        for j in range(2, k + 1):
            acc = F.zip_with(
                acc, F.slice(toks, j, m), lambda x, y: F.concat(x, F.lit(" "), y)
            )
        wins = F.transform(acc, lambda s: F.md5(s))
        return (
            df.filter(F.size(toks) >= k)
            .select(F.col(id_col).alias("id"), F.explode(wins).alias("h"))
            .distinct()
        )

    ev = grams(eval_df).select("h").distinct().withColumn("__hit", F.lit(1))
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (
        grams(train_df)
        .join(ev, "h", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hit"),
        )
        .select(
            "id",
            "n_grams",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_grams"), 6).alias(
                "contamination_frac"
            ),
        )
    )


def decontaminate_spans(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Span-level decontamination: the maximal token spans of each
    TRAINING document whose k-token windows appear anywhere in the
    evaluation set — trim surgery instead of whole-document drops
    (Lee et al. 2022 apply the same window→islands mechanic to
    duplicates; benchmark canaries usually sit inside a quote, so
    dropping the whole page throws away good tokens). Completes the
    decontamination family: `docs_bloom_decontaminate` (membership),
    `contamination_fraction` (graded score), this (surgical spans).
    Compose with `trim_spans` to cut the text.

    Returns (id, span_start, span_end, n_windows), positions 0-based
    inclusive like `duplicate_spans` — `trim_spans` consumes either.

    Scale shape (100 TB): training windows posexplode map-side (one
    16 B hash per position); eval windows reduce to a DISTINCT hash
    set that broadcasts (`broadcast_eval=False` for the shuffle
    semi-join when a giant eval suite doesn't); contaminated positions
    come from a SEMI join — unlike `duplicate_spans`, no occurrence
    list is ever collected, so there is no hot-hash state to cap. The
    gaps-and-islands window and the span aggregate share one
    doc-partitioned shuffle; boilerplate contamination collapses into
    single span rows.
    """
    if k < 2:
        raise ValueError(f"window width k must be >= 2, got {k}")
    from social_media_data_pipeline_spark.functions.text import normalize_text

    toks = F.split(normalize_text(text_col), " ")
    m = F.size(toks) - F.lit(k - 1)
    acc = F.slice(toks, 1, m)
    for j in range(2, k + 1):
        acc = F.zip_with(
            acc, F.slice(toks, j, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    wins = F.transform(acc, lambda s: F.md5(s))
    exploded = train_df.filter(F.size(toks) >= k).select(
        F.col(id_col).alias("id"), F.posexplode(wins).alias("pos", "h")
    )
    ev = (
        eval_df.filter(F.size(toks) >= k)
        .select(F.explode(wins).alias("h"))
        .distinct()
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    marked = exploded.join(ev, "h", "left_semi").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    islands = marked.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy("id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("grp")
    )


def _snm_bucket_prefix(
    keyed: DataFrame,
    plen: int,
    hot_share: float | None,
    max_prefix_len: int,
    key_col,
) -> tuple[int, list]:
    """Heavy-hitter probe for the SNM bucketing (r10): the per-bucket
    count aggregate `snm_pairs` needs anyway doubles as the skew
    detector. While the largest bucket holds more than `hot_share` of
    all rows, DOUBLE the key-prefix length (longer order-preserving prefix → finer buckets
    → the rank window re-localizes) and re-probe — one extra bounded
    aggregate per raise. Stops when balanced, at `max_prefix_len`, or
    when raising stopped shrinking the hot bucket (an EXACT-key mass:
    identical keys share every prefix, and rows with equal sort keys
    must rank inside one window partition under any order-preserving
    scheme — that residual is inherent to rank computation, not to
    this decomposition; dedup identical keys upstream if it bites).
    Returns (chosen_prefix_len, bucket-count rows at that length)."""
    prev_max = None
    while True:
        counts = (
            keyed.groupBy(F.substring("__k", 1, plen).alias("__b"))
            .agg(F.count(F.lit(1)).alias("count"))
            .collect()
        )
        # NULL keys have no place in a sort order: they would land in a
        # NULL bucket whose Python-side offset sort throws an obscure
        # TypeError (None vs str) — refuse loudly instead (the
        # mixture-group convention)
        if any(r["__b"] is None for r in counts):
            raise ValueError(
                f"snm_pairs: NULL sort key in column {key_col!r} — "
                "coalesce or filter null keys before calling"
            )
        if hot_share is None or not counts:
            return plen, counts
        total = sum(r["count"] for r in counts)
        mx = max(r["count"] for r in counts)
        if mx <= hot_share * total or plen >= max_prefix_len:
            return plen, counts
        if prev_max is not None and mx >= prev_max:
            return plen, counts
        prev_max = mx
        plen = min(max_prefix_len, plen * 2)


def snm_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str | Column,
    window: int = 5,
    bucket_prefix_len: int = 2,
    hot_share: float | None = 0.25,
    max_prefix_len: int = 12,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs (Hernández–Stolfo 1995 "The
    merge/purge problem") → (id_a, id_b, dist): every pair of records
    within `window` positions of each other under the global sort
    order `(key, id)` — the classic entity-resolution blocking method
    for keys where similarity means SORTING NEAR each other (names,
    addresses, normalized title prefixes), complementing the
    shingle/minhash family which needs token overlap. `dist` is the
    rank distance (1 .. window−1); id_a is the earlier record.

    The global rank is computed WITHOUT a global window (the
    `splits.deterministic_shuffle` decomposition, adapted to an
    arbitrary key): records bucket by the first `bucket_prefix_len`
    characters of the key — an order-preserving pure function, so
    bucket order equals key order — per-bucket counts (one map-side-
    combined aggregate, bucket-count-sized collect) become broadcast
    offsets, and the window ranks only WITHIN a bucket. Neighborhoods
    then come from a banded self-join: block = (pos−1) div (window−1);
    a pair within the window is in the same or adjacent blocks, so the
    join is hash-equi on the block id and never quadratic. Pairs that
    straddle bucket boundaries are found — blocks derive from the
    GLOBAL position, buckets only localize the rank computation.

    Contracts: the key must be a STRING (cast numerics; byte-wise
    ordering must agree between Spark, Python's `sorted`, and the SQL
    oracle — ASCII keys, e.g. `normalize_text` output, are safe). A
    corpus-hot key prefix concentrates one bucket's window — the
    default-on heavy-hitter probe (r10) detects it from the
    bucket-count aggregate this decomposition collects anyway and
    DOUBLES the prefix length until
    no bucket holds more than `hot_share` of rows (or
    `max_prefix_len`, or the mass is an exact-key tie that no
    order-preserving scheme can split — see `_snm_bucket_prefix`).
    `hot_share=None` pins the prefix at `bucket_prefix_len` (the
    pre-r10 fixed behavior). The chosen length trades collect size
    (≤ distinct prefixes) for balance; output is IDENTICAL under any
    length — buckets only localize the rank computation.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    if bucket_prefix_len < 1:
        raise ValueError(
            f"bucket_prefix_len must be >= 1, got {bucket_prefix_len}"
        )
    d = window - 1
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    keyed = df.select(
        F.col(id_col).alias("rid"), key.cast("string").alias("__k")
    )
    # Duplicate ids tie in the (key, rid) row_number order (r10, ADVICE
    # fix): two rows with the same (key, id) are indistinguishable to
    # the sort, so the global positions — and the emitted pairs/dist
    # values — become run-order-dependent. Refuse loudly, the same
    # hazard class (and the same fix) as negative_pairs' duplicate-
    # anchor refusal; dedup the id column upstream first.
    dup = (
        keyed.groupBy("rid")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"snm_pairs: duplicate id {dup[0]['rid']!r} in column "
            f"{id_col!r} — duplicate (key, id) rows make the global "
            "sort positions nondeterministic; dedup ids before calling"
        )
    plen, counts = _snm_bucket_prefix(
        keyed, bucket_prefix_len, hot_share, max_prefix_len, key_col
    )
    keyed = keyed.withColumn("__b", F.substring("__k", 1, plen))
    offsets, acc = {}, 0
    for r in sorted(counts, key=lambda r: r["__b"]):
        offsets[r["__b"]] = acc
        acc += r["count"]
    # 0- or 1-row inputs flow through and produce no pairs; the guard
    # only keeps create_map() non-empty (it rejects zero args)
    if not offsets:
        offsets = {"": 0}
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    local = Window.partitionBy("__b").orderBy("__k", "rid")
    pos = keyed.select(
        "rid",
        (F.row_number().over(local) + off[F.col("__b")]).cast("bigint").alias(
            "__pos"
        ),
    ).localCheckpoint(eager=True)  # consumed by both join sides
    blk = F.expr(f"(__pos - 1) div {d}")
    a = pos.select(
        F.col("rid").alias("id_a"),
        F.col("__pos").alias("__pa"),
        F.explode(F.array(blk, blk + 1)).alias("__blk"),
    )
    b = pos.select(
        F.col("rid").alias("id_b"),
        F.col("__pos").alias("__pb"),
        blk.alias("__blk"),
    )
    return (
        a.join(b, "__blk")
        .filter(
            (F.col("__pb") > F.col("__pa"))
            & (F.col("__pb") - F.col("__pa") <= d)
        )
        .select(
            "id_a", "id_b",
            (F.col("__pb") - F.col("__pa")).cast("int").alias("dist"),
        )
    )


def entity_resolution_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.6,
    shingle_k: int = 3,
    key_len: int = 32,
    window: int = 5,
    max_key_edit: int = 4,
    batches: int = 2,
) -> DataFrame:
    """Entity-resolution flagship (r10): candidate generation from TWO
    complementary channels → channel-specific exact verification →
    connected components via the INCREMENTAL maintenance path →
    (id, component, is_canonical) for every input row. The ER mirror
    of the `docs_llm_pipeline` corpus flagship: dedup is the
    reference's first preprocessing stage (`Preprocessor.py:115-116`),
    here generalized from exact-key drop_duplicates to near-dup
    entity clusters.

    Channels (the similarity-join decision rule, SCALING.md r10):

    - CONTENT duplication: `ngram_jaccard_pairs_prefix` — the lossless
      SSJoin prefix filter, exact Jaccard >= `jaccard_threshold`
      verified by construction (candidates ⊇ all true pairs, then the
      exact intersection join).
    - SORT-ADJACENT typo variants: `snm_pairs` over the `key_len`-char
      normalized-text prefix — catches near-dups with NO token overlap
      (shingle methods are blind there) — verified by Levenshtein
      distance <= `max_key_edit` on the sort keys, a candidate-count-
      sized projection (never corpus-quadratic).

    The union de-dups pairs found by both channels, then the edges
    stream through `graph.incremental_components` in `batches` ordered
    chunks — the continuously-maintained-cluster path a production ER
    store runs — and the differential oracle is the FULL reachability
    recursion over the complete verified edge set, so the identity
    "incremental ≡ recompute-from-scratch" is checked alongside both
    channels' candidate completeness and both verifiers.

    Scale shape (100 TB): both generators are measured-flat under
    planted hot-key skew (SCALING r9/r10 tables: prefix 0.91×, snm
    auto-rebalanced); the verify joins touch candidate pairs only; the
    edge set is pinned (localCheckpoint) because both the chunk filter
    and every CC round consume it; per-batch CC cost ∝ affected
    subgraph (the `incremental_components` economics). Rows never in
    any pair pass through as singleton components via the left join —
    no shuffle grows beyond candidate volume.
    """
    from social_media_data_pipeline_spark.functions import graph, sketches
    from social_media_data_pipeline_spark.functions.text import normalize_text

    if batches < 1:
        raise ValueError(f"batches must be >= 1, got {batches}")
    from social_media_data_pipeline_spark.io import pin_stats

    key = F.substring(normalize_text(text_col), 1, key_len)
    # the verified edge set is materialized below (localCheckpoint), so
    # the content channel's rarity-sorted token table is pinned first:
    # one build instead of the four plan-branch re-derivations, with
    # measured stats keeping the verification broadcasts (r13; see
    # blocking_quality). Unpersisted once the edge pin materializes.
    _toks = pin_stats(
        sketches.rarity_sorted_tokens(df, id_col, text_col, shingle_k)
    )
    j_pairs = sketches.ngram_jaccard_pairs_prefix(
        df, id_col, text_col, shingle_k=shingle_k,
        threshold=jaccard_threshold, tokens=_toks,
    ).select("id_a", "id_b")
    snm_cand = snm_pairs(df, id_col, key, window=window)
    keys = df.select(F.col(id_col), key.alias("__key"))
    ka = keys.select(F.col(id_col).alias("id_a"), F.col("__key").alias("__ka"))
    kb = keys.select(F.col(id_col).alias("id_b"), F.col("__key").alias("__kb"))
    s_pairs = (
        snm_cand.join(ka, "id_a")
        .join(kb, "id_b")
        .filter(F.levenshtein("__ka", "__kb") <= max_key_edit)
        .select("id_a", "id_b")
    )
    edges = (
        j_pairs.unionByName(s_pairs).distinct().localCheckpoint(eager=True)
    )
    _toks.unpersist()
    labels = None
    for c in range(batches):
        chunk = edges.filter(
            F.pmod(F.col("id_a") + F.col("id_b"), F.lit(batches)) == c
        )
        labels = graph.incremental_components(labels, chunk).localCheckpoint(
            eager=True
        )
    out = df.select(F.col(id_col)).join(
        labels.withColumnRenamed("node", id_col), id_col, "left"
    )
    out = out.withColumn(
        "component", F.coalesce(F.col("component"), F.col(id_col))
    )
    return out.withColumn(
        "is_canonical", F.col("component") == F.col(id_col)
    )


def blocking_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    jaccard_threshold: float = 0.6,
    shingle_k: int = 3,
    key_len: int = 32,
    window: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    n_rows: int | None = None,
) -> DataFrame:
    """Candidate-generator evaluation → one row per blocking method:
    (method, n_candidates, n_true, n_caught, pair_completeness,
    reduction_ratio) — the two textbook ER blocking metrics
    (Christen 2012 §7.5: pair completeness = recall of true matches
    among candidates; reduction ratio = 1 − candidates / all pairs).
    Ground truth is the EXACT Jaccard ≥ threshold pair set (computed
    via the lossless prefix filter, so the truth itself can't silently
    lose pairs); methods evaluated: MinHash-LSH banding and
    sorted-neighborhood blocking — the probabilistic and the
    sort-order generator from the similarity-join decision table,
    measured on THIS corpus rather than argued from S-curves (the
    empirical complement of `lsh_band_plan`'s analytic ones).

    All counts are exact integers off candidate-count-sized semi
    joins; the two ratios are one rounded division each. The
    truth-set cost is the prefix join — acceptable for an evaluation
    query run on a sample; at 100 TB run it on a stratified sample and
    read completeness with binomial error bars.
    """
    from pyspark.sql import Observation

    from social_media_data_pipeline_spark.functions import sketches
    from social_media_data_pipeline_spark.functions.text import normalize_text

    from social_media_data_pipeline_spark.io import pin_stats

    spark = df.sparkSession
    # n_rows lets the sampled wrapper pass the count it already paid
    # for instead of re-running the sample filter scan (guide §1.2)
    n = df.count() if n_rows is None else n_rows
    all_pairs = n * (n - 1) // 2
    # every set count rides its table's checkpoint materialization as
    # an Observation — the previous shape paid a separate count() job
    # per table (3 extra jobs per evaluation; guide §1.2)
    #
    # r13: the truth join is materialized right here, so its rarity-
    # sorted token table is pinned first (stats-preserving persist) —
    # the four plan branches that consume it then read the cache once
    # instead of re-deriving it (8 corpus scans -> 1); the measured
    # statistics keep the verification broadcasts that a checkpoint
    # pin flipped to sort-merge (r12 A/B: 2x slower). Unpersisted as
    # soon as the truth checkpoint is materialized.
    _toks = pin_stats(
        sketches.rarity_sorted_tokens(df, id_col, text_col, shingle_k)
    )
    _t_obs = Observation()
    truth = (
        sketches.ngram_jaccard_pairs_prefix(
            df, id_col, text_col, shingle_k=shingle_k,
            threshold=jaccard_threshold, tokens=_toks,
        )
        .select("id_a", "id_b")
        .observe(_t_obs, F.count(F.lit(1)).alias("m"))
        .localCheckpoint(eager=True)
    )
    n_true = int(_t_obs.get["m"])
    _toks.unpersist()
    key = F.substring(normalize_text(text_col), 1, key_len)
    methods = {
        "minhash_lsh": sketches.minhash_lsh_pairs(
            df, id_col, text_col, num_hashes=num_hashes, bands=bands,
            shingle_k=shingle_k,
        ).select("id_a", "id_b"),
        "sorted_neighborhood": snm_pairs(
            df, id_col, key, window=window
        ).select("id_a", "id_b"),
    }
    rows = []
    for name, cand in methods.items():
        _c_obs = Observation()
        cand = cand.observe(
            _c_obs, F.count(F.lit(1)).alias("m")
        ).localCheckpoint(eager=True)
        n_cand = int(_c_obs.get["m"])
        n_caught = truth.join(cand, ["id_a", "id_b"], "leftsemi").count()
        rows.append((name, n_cand, n_true, n_caught))
    counts = spark.createDataFrame(
        rows,
        "method string, n_candidates bigint, n_true bigint, "
        "n_caught bigint",
    )
    # ratios as SPARK expressions, not python round(): Spark ROUND is
    # HALF_UP like the SQL oracle's; python's banker's rounding can
    # flip a 6dp half boundary
    return counts.select(
        "method",
        "n_candidates",
        "n_true",
        "n_caught",
        F.when(
            F.col("n_true") > 0,
            F.round(F.col("n_caught") / F.col("n_true"), 6),
        ).otherwise(F.lit(1.0)).alias("pair_completeness"),
        F.round(
            F.lit(1.0) - F.col("n_candidates") / F.lit(float(all_pairs)), 6
        ).alias("reduction_ratio"),
    )


def blocking_quality_sampled(
    df: DataFrame,
    id_col: str,
    text_col: str,
    inv_rate: int = 4,
    seed: str = "bq-sample-v1",
    z: float = 1.959964,
    block_len: int | None = None,
    **kwargs,
) -> DataFrame:
    """`blocking_quality` at 100 TB: the exact truth set is quadratic
    in corpus size, so the evaluation runs on a DETERMINISTIC md5
    sample (keep iff fingerprint32(id) % inv_rate == 0 — re-run-stable,
    append-stable, replayable in SQL) and reports pair completeness
    with a binomial confidence interval instead of pretending the
    sample is the corpus. Output adds (n_sample, pc_lo, pc_hi) to the
    `blocking_quality` row: the WILSON score interval (z defaults to
    the two-sided 95% quantile) — NOT the naive normal approximation,
    which degenerates to the zero-width [p̂, p̂] at the boundaries (a
    generator that caught all 67 sampled true pairs would claim
    CERTAIN perfect recall; Wilson honestly reports ≈[0.946, 1]).
    n_true = 0 yields the uninformative [0, 1] — no true pairs in the
    sample means the sample says nothing about completeness, not that
    completeness is perfect.

    Cost is sample-sized (the quadratic truth set shrinks by
    inv_rate²); CI width shrinks as 1/√n_true, so doubling the sample
    rate quarters the truth-set cost ratio while tightening the bars —
    the measured trade lives in SCALING.md. The exact
    `blocking_quality` stays registered as the calibration benchmark
    (the persisted-vs-full-cycle pattern: one honest expensive row, one
    production-shaped row).

    `block_len` switches from per-DOC to per-BLOCK sampling (Christen
    2012 §7.5's block-level evaluation sampling): the keep decision
    hashes the first `block_len` chars of the NORMALIZED text instead
    of the id, so documents that sort together (and duplicate cliques,
    which share prefixes) are kept or dropped WHOLE. Per-doc thinning
    shrinks cliques relative to window-based generators' fixed window
    and biases their completeness UP (measured in SCALING.md r11 —
    the per-doc CI excludes the exact value for SNM at 4×); block
    sampling preserves local density, so the CI is honest for
    window/density-sensitive generators too. Trade-off: block keep
    decisions are correlated, so the effective n_true for the CI is
    the number of SAMPLED true pairs, which concentrates in fewer,
    denser regions — wider but truthful bars."""
    if inv_rate < 1:
        raise ValueError(f"inv_rate must be >= 1, got {inv_rate}")
    if block_len is not None:
        if block_len < 1:
            raise ValueError(f"block_len must be >= 1, got {block_len}")
        from social_media_data_pipeline_spark.functions.text import (
            normalize_text,
        )

        key = F.substring(normalize_text(text_col), 1, int(block_len))
    else:
        key = F.col(id_col).cast("string")
    draw = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(seed), key)), 1, 8), 16, 10
    ).cast("bigint")
    sample = df.filter(draw % inv_rate == 0)
    n_sample = sample.count()
    base = blocking_quality(
        sample, id_col, text_col, n_rows=n_sample, **kwargs
    )
    # Wilson score interval, the expression tree mirrored OPERATION FOR
    # OPERATION by the SQL oracle (doubles end to end, z² formed by an
    # explicit double×double so neither engine takes a decimal-exact
    # shortcut; sqrt is correctly rounded IEEE in both)
    p = F.col("pair_completeness")
    n = F.col("n_true")
    z2 = F.lit(z) * F.lit(z)
    denom = F.lit(1.0) + z2 / n
    center = (p + z2 / (F.lit(2.0) * n)) / denom
    half = (
        F.lit(z)
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2 / (F.lit(4.0) * n * n))
        / denom
    )
    lo = F.when(
        n > 0, F.round(F.greatest(F.lit(0.0), center - half), 6)
    ).otherwise(F.lit(0.0))
    hi = F.when(
        n > 0, F.round(F.least(F.lit(1.0), center + half), 6)
    ).otherwise(F.lit(1.0))
    return base.select(
        "method",
        F.lit(n_sample).cast("bigint").alias("n_sample"),
        "n_candidates",
        "n_true",
        "n_caught",
        "pair_completeness",
        lo.alias("pc_lo"),
        hi.alias("pc_hi"),
        "reduction_ratio",
    )
