"""Text-analysis column functions for document corpora.

LLM-pipeline extensions over the reference's NLP surface (language
detection `Translator.py:67-94`): language-ID heuristic, quality
scoring, token counting, and document fingerprinting — all as built-in
column expressions (no Python in the executor path; the reference runs
spaCy per row under swifter).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Minimal per-language stopword lists for the n-gram/stopword-overlap
# language-ID heuristic. Deliberately tiny and engine-portable; a real
# deployment swaps in fastText/CLD3 behind the same column contract.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "es", "por"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "eine", "zu", "mit"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "que", "pour", "dans"],
}


def tokenize(text_col: str | Column) -> Column:
    """Whitespace tokenization of lowercased text → array<string>."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.lower(F.trim(F.coalesce(c, F.lit("")))), r"\s+")


def token_count(text_col: str | Column) -> Column:
    """Whitespace token count (fast proxy; see `bpe_token_estimate`)."""
    return F.size(tokenize(text_col))


def bpe_token_estimate(text_col: str | Column) -> Column:
    """BPE-ish token estimate: count word pieces + digits + punctuation
    runs the way a byte-pair tokenizer roughly splits them.

    ~`len(findall(\\w+|[^\\w\\s]))` scaled by avg 1.3 pieces/word —
    deterministic and engine-portable.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.size(F.regexp_extract_all(F.coalesce(c, F.lit("")), F.lit(r"\w+|[^\w\s]"), F.lit(0)))
    return F.ceil(words * F.lit(1.3)).cast("long")


def _isin_fn(values: list[str]):
    """Single-param lambda factory for F.filter/F.transform.

    NB: a two-param lambda would make PySpark pass the ARRAY INDEX as the
    second argument (the (x, i) higher-order-function form) — capturing
    via closure avoids that foot-gun.
    """

    def f(t: Column) -> Column:
        return t.isin(values)

    return f


def punct_ratio(text_col: str | Column) -> Column:
    """Fraction of characters that are non-alphanumeric, non-space."""
    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col, F.lit(""))
    punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return (punct / F.greatest(F.length(c), F.lit(1))).cast("double")


def quality_score(text_col: str | Column) -> Column:
    """Composite document quality in [0,1]: rewards moderate length and
    word size, penalizes punctuation soup. Gopher-rules-flavored
    heuristic, engine-portable (no model)."""
    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col, F.lit(""))
    toks = tokenize(c)
    n_tok = F.greatest(F.size(toks), F.lit(1))
    avg_word_len = F.length(F.regexp_replace(c, r"\s+", "")) / n_tok
    len_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    word_len_ok = F.when((avg_word_len >= 3) & (avg_word_len <= 10), F.lit(1.0)).otherwise(0.5)
    return F.round(
        (len_score * F.lit(0.5) + word_len_ok * F.lit(0.3) + (1 - punct_ratio(c)) * F.lit(0.2)),
        6,
    ).cast("double")


def detect_language(text_col: str | Column) -> Column:
    """Stopword-overlap language-ID: argmax of per-language stopword hit
    counts, 'und' (undetermined) when no list matches.

    Engine-portable analog of F1 (`Translator.py:67-94`); swap in a
    pandas_udf model for production accuracy behind the same contract.
    """
    toks = tokenize(text_col)
    scored = None
    for lang in sorted(STOPWORDS):
        hits = F.size(F.filter(toks, _isin_fn(STOPWORDS[lang])))
        entry = F.struct(hits.alias("hits"), F.lit(lang).alias("lang"))
        scored = entry if scored is None else F.when(entry["hits"] > scored["hits"], entry).otherwise(scored)
    # iteration above keeps the FIRST (alphabetically smallest) lang on
    # ties because later entries must strictly beat the champion
    return F.when(scored["hits"] > 0, scored["lang"]).otherwise(F.lit("und"))


def normalize_text(text_col: str | Column) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, collapse
    whitespace, trim."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.lower(F.trim(F.regexp_replace(F.coalesce(c, F.lit("")), r"\s+", " ")))


def fingerprint(text_col: str | Column) -> Column:
    """Document fingerprint: md5 of normalized text (exact-dup key)."""
    return F.md5(normalize_text(text_col))


PII_PATTERNS = (
    # order matters: URLs can contain '@'; redact them before emails
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9][0-9().\- ]{6,}[0-9]", "<PHONE>"),
)


def redact_pii(text_col: str | Column) -> Column:
    """Training-data PII scrub: URLs → <URL>, emails → <EMAIL>, phone
    numbers → <PHONE> — a chained `regexp_replace`, fully JVM-side.
    Patterns are RE2-safe (no backrefs/lookaround) so the same strings
    run verbatim on DuckDB/Trino for differential checks."""
    c = F.coalesce(F.col(text_col) if isinstance(text_col, str) else text_col, F.lit(""))
    for pattern, token in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


def repetition_metrics(df, id_col: str = "doc_id", text_col: str = "text", n: int = 2):
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    public paper), per document:

    - `n_words`        whitespace token count of normalized text
    - `dup_word_frac`  1 − distinct/total words (pure array expression)
    - `top_ngram_frac` share of all word n-grams taken by the single
      most frequent one — high values flag boilerplate/spam docs.

    Scale shape: the n-gram mode can't be a per-row array expression
    without quadratic array scans, so it's explode → two-level agg —
    ONE shuffle keyed (doc, ngram) then a map-side-combinable rollup to
    doc. Both aggs are partial-aggregate friendly; nothing is collected.
    """
    toks = F.split(normalize_text(text_col), " ")
    base = df.select(F.col(id_col), toks.alias("toks"))
    m = F.size(F.col("toks")) - F.lit(n - 1)
    acc = F.slice(F.col("toks"), 1, m)
    for j in range(2, n + 1):
        acc = F.zip_with(acc, F.slice(F.col("toks"), j, m), lambda x, y: F.concat(x, F.lit(" "), y))
    grams = base.filter(F.size("toks") >= n).select(
        F.col(id_col), F.explode(acc).alias("gram")
    )
    top = (
        grams.groupBy(id_col, "gram")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.round(F.max("c") / F.sum("c"), 6).alias("top_ngram_frac"),
        )
    )
    stats = base.select(
        F.col(id_col),
        F.size("toks").alias("n_words"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("toks")) / F.size("toks"), 6
        ).alias("dup_word_frac"),
    )
    return stats.join(top, id_col, "left")


def shingles(text_col: str | Column, k: int = 3) -> Column:
    """k-word shingles (distinct) of normalized text — input to MinHash /
    Jaccard.

    Built as a zip_with chain over k shifted token slices (shingle_i =
    toks[i] + ' ' + toks[i+1] + ... ) — O(n) array ops per doc. The
    per-position transform(slice+array_join) formulation is ~6× slower
    (measured at sf0.1): each position re-slices and re-joins.
    """
    toks = F.split(normalize_text(text_col), " ")
    n = F.size(toks)
    m = n - F.lit(k - 1)  # number of shingles when n >= k
    acc = F.slice(toks, 1, m)
    for j in range(2, k + 1):
        acc = F.zip_with(
            acc, F.slice(toks, j, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return F.when(n >= k, F.array_distinct(acc)).otherwise(F.array(F.array_join(toks, " ")))


def boilerplate_ngrams(
    df,
    text_col: str = "text",
    k: int = 3,
    min_df: int = 2,
    top: int = 100,
):
    """Corpus boilerplate detector: the k-word shingles that appear in
    the most DOCUMENTS (document frequency, not occurrence count — each
    doc's shingle set is already distinct). The output is the stop-
    shingle list that `ngram_jaccard_pairs(max_doc_freq=...)` prunes
    with, and the segment blacklist a CCNet-style cleaner would strip.

    Scale shape: explode is map-side; ONE hash exchange on the shingle
    carrying map-side partial counts; the top-k is TakeOrderedAndProject
    (per-partition heads + single merge of `top` rows), never a global
    sort. Deterministic tie-break: (doc_freq DESC, gram ASC).

    Returns (gram, doc_freq) — `top` rows with doc_freq >= min_df.
    """
    grams = df.select(F.explode(shingles(text_col, k)).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_df)
        .orderBy(F.desc("doc_freq"), F.asc("gram"))
        .limit(top)
    )


def zipf_slope(df, text_col: str = "text", num_sub: int | None = None):
    """Corpus health statistic: the OLS slope of log(frequency) vs
    log(rank) over the token frequency table — natural corpora track
    Zipf's law (slope ≈ −1); synthetic/templated corpora flatten it.
    A one-row sanity gate for ingest pipelines.

    Scale shape: NO unpartitioned window anywhere — a 100 TB web corpus
    has a vocabulary in the billions (URLs, typos), so a global
    `row_number()` would collapse the whole vocab onto one task. The
    slope only depends on the MULTISET of (ln n, ln rank) pairs: tokens
    tied on n share ln_n and their ranks are a permutation of a fixed
    range regardless of tie-break, so any tie order yields the same
    statistic as the oracle's `ORDER BY n DESC, t`. That freedom lets
    the exact global rank be decomposed (same idea as
    `operators/splits.py:deterministic_shuffle`):

      rank = off_band[log2-band of n]        (<=64-row driver collect)
           + off_count(n)    within band     (window PARTITIONED by band
                                              over the count-of-counts)
           + off_sub(n, ub)  within n        (window PARTITIONED by n over
                                              <=num_sub sub-bucket counts)
           + row_number      within (n, ub)  (window PARTITIONED by
                                              (n, ub); ub is a fixed-width
                                              bucket of a uniform md5
                                              fingerprint, so even the
                                              hapax group splits evenly)

    Output: (n_types, n_tokens, slope).
    """
    from pyspark.sql.window import Window

    from ..operators.splits import fingerprint32

    nsub = num_sub or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    width = (1 << 32) // nsub + 1
    freq = (
        df.select(F.explode(tokenize(text_col)).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    keyed = (
        freq.withColumn("u", fingerprint32("t", "zipf-v1"))
        .withColumn("ub", (F.col("u") / width).cast("int"))
        .persist()
    )
    # count-of-counts (one row per distinct frequency — sublinear in
    # vocab: #distinct counts <= sqrt(2 * n_tokens)), log2-banded so the
    # cumulative offset window stays partitioned.
    cc = (
        keyed.groupBy("n")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("bn", (F.lit(63) - F.floor(F.log2("n"))).cast("int"))
    )
    band_rows = cc.groupBy("bn").agg(F.sum("c").alias("bc")).collect()
    if not band_rows:
        keyed.unpersist()
        empty = df.sparkSession.range(0)
        return empty.agg(
            F.count(F.lit(1)).alias("n_types"),
            F.lit(None).cast("bigint").alias("n_tokens"),
            F.lit(None).cast("double").alias("slope"),
        )
    offsets, acc = {}, 0
    for row in sorted(band_rows, key=lambda r: r["bn"]):
        offsets[row["bn"]] = acc
        acc += row["bc"]
    boff = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w_band = (
        Window.partitionBy("bn")
        .orderBy(F.desc("n"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cc = cc.withColumn(
        "off_n", boff[F.col("bn")] + F.coalesce(F.sum("c").over(w_band), F.lit(0))
    )
    w_sub = (
        Window.partitionBy("n")
        .orderBy("ub")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        keyed.groupBy("n", "ub")
        .agg(F.count(F.lit(1)).alias("sc"))
        .withColumn("off_sub", F.coalesce(F.sum("sc").over(w_sub), F.lit(0)))
        .join(cc.select("n", "off_n"), "n")
        .select("n", "ub", (F.col("off_n") + F.col("off_sub")).alias("off"))
    )
    w_loc = Window.partitionBy("n", "ub").orderBy("u", "t")
    ranked = (
        keyed.join(offs, ["n", "ub"])
        .withColumn("r", F.col("off") + F.row_number().over(w_loc))
        .select(F.log("n").alias("ln_n"), F.log("r").alias("ln_r"), "n")
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("n").alias("n_tokens"),
        F.round(F.covar_pop("ln_n", "ln_r") / F.var_pop("ln_r"), 6).alias("slope"),
    )


def unigram_logprob(df, id_col: str = "doc_id", text_col: str = "text"):
    """Corpus-statistics quality score (KenLM-lite proxy): per-document
    mean unigram log-probability under the corpus's OWN empirical token
    distribution — documents full of globally-rare tokens score low,
    the standard perplexity-style filter when no external LM ships with
    the engine (swap a real LM behind the same (doc, score) contract).

    Plan: one explode pass feeds BOTH the vocab count (groupBy token,
    map-side combinable — shuffles only vocab-sized partials) and the
    per-doc join; the vocab table with attached corpus total broadcasts
    back (vocab is sublinear in corpus size; if it outgrows the
    broadcast threshold the same plan degrades gracefully to a shuffle
    join on token). Output: (doc_id, n_tokens, unigram_logprob), score
    rounded to 4 dp AFTER the aggregate per the cross-engine fp policy.
    """
    from pyspark.sql.functions import broadcast

    toks = df.select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("t")
    )
    counts = toks.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("n"))  # 1 row
    freq = counts.crossJoin(broadcast(total)).select(
        "t", F.log(F.col("cnt") / F.col("n")).alias("logp")
    )
    return (
        toks.join(broadcast(freq), "t")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("logp"), 4).alias("unigram_logprob"),
        )
    )


def bigram_logprob(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
    alpha: float = 0.5,
):
    """Interpolated bigram LM quality score (the KenLM-style upgrade of
    `unigram_logprob`): per-document mean log-probability of each token
    transition under the corpus's own bigram model, backed off to an
    add-α unigram model:

        p(b|a) = λ·c(a,b)/c(a·)  +  (1-λ)·(c(b)+α)/(N+αV)

    (c(a·) = count of a as a left context; N = corpus tokens;
    V = vocab size). Documents whose word ORDER is unusual — shuffled
    text, keyword stuffing, boilerplate mashups — score low even when
    every individual token is common, which is exactly what the unigram
    filter cannot see.

    Plan: transitions are built map-side (zip_with over the token
    array, no window/shuffle per token); bigram and context counts are
    map-side-combinable hash aggregates; the per-transition lookup
    joins on the bigram key — an honest shuffle join, since a 100 TB
    corpus's bigram table does not broadcast — then one doc-keyed
    aggregate. Unigram/scalar factors ride on broadcasts. Output:
    (id_col, n_transitions, bigram_logprob) rounded 4 dp after the
    aggregate per the cross-engine fp policy.
    """
    from pyspark.sql.functions import broadcast

    if not 0.0 < lam < 1.0:
        raise ValueError(f"interpolation lam must be in (0,1), got {lam}")
    if alpha <= 0:
        raise ValueError(f"smoothing alpha must be > 0, got {alpha}")
    toks = tokenize(text_col)
    n_bi = F.greatest(F.size(toks) - 1, F.lit(0))
    trans = df.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(toks, 1, n_bi),
                F.slice(toks, 2, n_bi),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("p"),
    ).select(id_col, "p.a", "p.b")
    big = trans.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    ctx = trans.groupBy("a").agg(F.count(F.lit(1)).alias("c_a"))
    uni = (
        df.select(F.explode(toks).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    scalars = uni.agg(
        F.sum("c_t").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )  # 1 row
    p = (
        trans.join(big, ["a", "b"])
        .join(broadcast(ctx), "a")
        .join(broadcast(uni.withColumnRenamed("t", "b")), "b")
        .crossJoin(broadcast(scalars))
        .select(
            id_col,
            F.log(
                F.lit(lam) * F.col("c_ab") / F.col("c_a")
                + F.lit(1.0 - lam)
                * (F.col("c_t") + alpha)
                / (F.col("n_total") + alpha * F.col("v_size"))
            ).alias("logp"),
        )
    )
    return p.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.round(F.avg("logp"), 4).alias("bigram_logprob"),
    )


GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(text_col: str | Column) -> Column:
    """Document-level Gopher quality rules (Rae et al. 2021, Appendix A
    — public formulation), as one struct of measurements + per-rule
    flags + the overall gate:

    - word_count ∈ [50, 100 000]
    - mean word length ∈ [3, 10]
    - symbol-to-word ratio ('#' or '…'/'...') ≤ 0.1
    - ≥ 80% of words contain an alphabetic character
    - ≥ 2 distinct Gopher stop words present

    (The paper's LINE-based rules — bullet/ellipsis line fractions —
    live in the sibling `gopher_line_flags`, composable with this gate
    whenever the text carries line structure; `docs_gopher_rules`
    exercises both over a deterministically re-lined corpus.)

    Pure JVM expressions over one tokenize pass — no UDF, no shuffle;
    ratios rounded to 6 dp so the gate replays bit-for-bit in SQL.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokenize(c)
    wc = F.size(toks)
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mean_len = F.when(wc > 0, F.round(total_len / wc, 6)).otherwise(F.lit(0.0))
    n_sym = F.size(
        F.regexp_extract_all(F.coalesce(c, F.lit("")), F.lit(r"#|\.\.\.|…"), F.lit(0))
    )
    sym_ratio = F.when(wc > 0, F.round(n_sym / wc, 6)).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    alpha_frac = F.when(wc > 0, F.round(n_alpha / wc, 6)).otherwise(F.lit(0.0))
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS])
        )
    )
    ok_wc = (wc >= 50) & (wc <= 100_000)
    ok_mean = (mean_len >= 3.0) & (mean_len <= 10.0)
    ok_sym = sym_ratio <= 0.1
    ok_alpha = alpha_frac >= 0.8
    ok_stop = n_stop >= 2
    return F.struct(
        wc.alias("word_count"),
        mean_len.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        alpha_frac.alias("alpha_frac"),
        n_stop.cast("int").alias("n_stop_words"),
        ok_wc.alias("ok_word_count"),
        ok_mean.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_frac"),
        ok_stop.alias("ok_stop_words"),
        (ok_wc & ok_mean & ok_sym & ok_alpha & ok_stop).alias("passes"),
    )


def gopher_line_flags(text_col: str | Column) -> Column:
    """Gopher LINE-level quality rules (Rae et al. 2021, Appendix A —
    the two line-fraction filters the document-level gate can't see):

    - bullet_line_frac: fraction of lines starting with a bullet
      ('-', '*', '•' after optional whitespace); flag fails when
      > 90% of lines are bullets (the doc is a list, not prose)
    - ellipsis_line_frac: fraction of lines ending with an ellipsis
      ('...' or '…'); flag fails when > 30% (truncated/teaser text)

    One split on newline + two vectorized array filters — pure JVM
    expressions, no UDF, no shuffle; fractions rounded to 6 dp so the
    gate replays bit-for-bit in SQL. Compose with
    `gopher_quality_flags` for the full Appendix-A gate; a single-line
    document trivially passes both (1 line, bullet frac 0 or 1 — the
    0.9 threshold only bites multi-line structure)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    lines = F.split(F.coalesce(c, F.lit("")), "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]")))
    n_ellipsis = F.size(
        F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))
    )
    bullet_frac = F.when(
        n_lines > 0, F.round(n_bullet / n_lines, 6)
    ).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(
        n_lines > 0, F.round(n_ellipsis / n_lines, 6)
    ).otherwise(F.lit(0.0))
    ok_bullet = bullet_frac <= 0.9
    ok_ellipsis = ellipsis_frac <= 0.3
    return F.struct(
        n_lines.cast("int").alias("n_lines"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        ok_bullet.alias("ok_bullet_lines"),
        ok_ellipsis.alias("ok_ellipsis_lines"),
        (ok_bullet & ok_ellipsis).alias("passes_lines"),
    )


def ccnet_buckets(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    lam: float = 0.7,
    alpha: float = 0.5,
    checkpoint: bool = True,
):
    """CCNet-style per-language quality terciles (Wenzek et al. 2020
    §4.3: score each document with an LM, split every language into
    head / middle / tail thirds by perplexity; pretraining recipes then
    keep head+middle or reweight by bucket). The LM score is this
    corpus's own interpolated bigram model (`bigram_logprob`), so the
    whole run stays self-contained and differential-checkable.

    Exact, scale-safe tercile assignment WITHOUT a per-document window:
    ntile(3) OVER (PARTITION BY lang ORDER BY score) — the textbook
    formulation — sorts every document of a language inside one task,
    which is exactly the dominant-language skew a 100 TB corpus cannot
    pay. Instead the thresholds come from an aggregate-over-aggregate
    (the `duplicate_window_fraction` state trick): per-(lang, score)
    counts first (map-side combinable; score is the 4-dp LM value in
    integer 1e4 units, so the value table is BOUNDED by distinct
    rounded scores, orders of magnitude below document count), then a
    per-lang running sum over that DISTINCT-VALUE table picks
    t_head = max score whose descending cumulative count reaches
    ⌈n/3⌉ (and t_mid at ⌈2n/3⌉). The window's partition is the
    VALUE table's language slice — bounded state however big one
    language is. Thresholds broadcast back and the bucket label is a
    map-side CASE. Ties share a bucket (all equal scores land where
    their first occurrence reached the target), so terciles are
    approximate at value granularity but deterministic — the property
    the differential oracle needs.

    Documents with < 2 tokens have no transitions and are excluded
    (CCNet drops them before LM scoring too). Returns
    (id_col, lang_col, lm_score_q, bucket) with bucket ∈
    {'head','middle','tail'}.

    `checkpoint=True` pins the scored table (localCheckpoint): it
    feeds both the threshold aggregation and the final labeling join,
    and AQE recomputes multi-consumer subtrees (the r7 survey) — the
    bigram-LM chain costs far more than one scan.
    """
    from pyspark.sql.window import Window

    scores = bigram_logprob(df, id_col, text_col, lam=lam, alpha=alpha)
    sl = (
        scores.join(df.select(id_col, lang_col), id_col)
        .select(
            id_col,
            lang_col,
            F.round(F.col("bigram_logprob") * 10000)
            .cast("bigint")
            .alias("lm_score_q"),
        )
    )
    if checkpoint:
        sl = sl.localCheckpoint(eager=True)
    vc = sl.groupBy(lang_col, "lm_score_q").agg(F.count(F.lit(1)).alias("cnt"))
    nl = vc.groupBy(lang_col).agg(F.sum("cnt").alias("n"))
    w = Window.partitionBy(lang_col).orderBy(F.col("lm_score_q").desc())
    cum = vc.select(
        lang_col, "lm_score_q", F.sum("cnt").over(w).alias("cum")
    )
    th = (
        cum.join(F.broadcast(nl), lang_col)
        .groupBy(lang_col)
        .agg(
            F.max(
                F.when(
                    F.col("cum") >= F.expr("(n + 2) div 3"), F.col("lm_score_q")
                )
            ).alias("t_head"),
            F.max(
                F.when(
                    F.col("cum") >= F.expr("(2 * n + 2) div 3"),
                    F.col("lm_score_q"),
                )
            ).alias("t_mid"),
        )
    )
    return sl.join(F.broadcast(th), lang_col).select(
        id_col,
        lang_col,
        "lm_score_q",
        F.when(F.col("lm_score_q") >= F.col("t_head"), F.lit("head"))
        .when(F.col("lm_score_q") >= F.col("t_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def vocab_coverage(
    df,
    text_col: str = "text",
    group_col: str = "source",
    top_v: int = 1000,
):
    """Per-group tokenizer-vocabulary coverage: the share of token
    OCCURRENCES (and of distinct token TYPES) falling outside the
    corpus's top-`top_v` vocabulary — the OOV-rate dashboard a
    tokenizer/corpus pairing is judged by before training (high OOV in
    one source means the vocab under-serves it; the type-level rate
    separates "rare words are frequent here" from "many distinct rare
    words"). Returns (group_col, n_tokens, n_oov_tokens, oov_rate,
    n_types, n_oov_types) per group.

    Scale shape (100 TB): one tokenize+explode pass pre-aggregated to
    (group, token) counts FIRST (map-side combinable — the hot-token
    skew collapses before any join), the global vocabulary is a
    bounded top-V (orderBy+limit → TakeOrderedAndProject, never a full
    sort materialization; ties broken by token string so the set is
    deterministic), and the vocab table BROADCASTS into a left join —
    at top_v=1000 it is a few KB however big the corpus. Final
    aggregate is per-group over the distinct-(group, token) table.
    """
    if top_v < 1:
        raise ValueError(f"top_v must be >= 1, got {top_v}")
    toks = df.select(
        F.col(group_col).alias("g"), F.explode(tokenize(text_col)).alias("t")
    )
    gt = toks.groupBy("g", "t").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        gt.groupBy("t")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.col("n").desc(), F.col("t"))
        .limit(top_v)
        .select("t", F.lit(1).alias("__in_v"))
    )
    return (
        gt.join(F.broadcast(vocab), "t", "left")
        .groupBy("g")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.when(F.col("__in_v").isNull(), F.col("c")).otherwise(0)).alias(
                "n_oov_tokens"
            ),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("__in_v").isNull(), 1).otherwise(0)).alias(
                "n_oov_types"
            ),
        )
        .select(
            F.col("g").alias(group_col),
            "n_tokens",
            "n_oov_tokens",
            F.round(F.col("n_oov_tokens") / F.col("n_tokens"), 6).alias(
                "oov_rate"
            ),
            "n_types",
            "n_oov_types",
        )
    )
