"""Near-duplicate sketches: MinHash+LSH, SimHash, n-gram Jaccard.

LLM-pipeline dedup extensions (BASELINE.json north_star). All sketches
hash with md5 so the DuckDB oracle can replay them; the `fast=True`
variants switch to Spark's `xxhash64` (cheaper, JVM-native) for
production runs where cross-engine determinism isn't needed.

Scale shape (100 TB corpus):
- signatures: narrow map-only pass (docs never shuffle).
- LSH candidate generation: explode to (band, band_hash) — the ONLY
  shuffle is on band_hash, and each band bucket is tiny by construction.
- verification: candidate pairs joined back to signatures/shingles —
  candidates ≪ n², never the n² cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from social_media_data_pipeline_spark.functions.text import normalize_text, shingles
from social_media_data_pipeline_spark.io import spread_small_input


def _hash_str(col: Column, salt: Column | str, fast: bool) -> Column:
    if fast:
        return F.xxhash64(col, salt if isinstance(salt, Column) else F.lit(salt)).cast("string")
    salt_c = salt if isinstance(salt, Column) else F.lit(str(salt))
    return F.md5(F.concat_ws("|", salt_c, col))


def minhash_signatures_table(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
    fast: bool = False,
) -> DataFrame:
    """(doc, sig: array<string>) via explode → projection → groupBy-min.

    Plan shape matters here, twice over:
    - computing the signature as N expressions over the shingle ARRAY
      re-derives the shingle construction per hash (Catalyst doesn't CSE
      across separate lambda trees — measured 90× slower at sf0.1);
      exploding once and aggregating is a single codegen'd pass with
      map-side partials, and at 100 TB the shuffle carries only
      (doc, N×8B minima);
    - one md5 yields four independent 32-bit hash values (8 hex chars
      each), so N hashes cost ceil(N/4) md5 calls per shingle — the md5
      is the hot instruction at corpus scale.
    """
    # the explode + md5 chain is the hot per-row pass; a small
    # single-file corpus otherwise runs it on one core (guide §2.5)
    exploded = spread_small_input(docs, key=id_col).select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, shingle_k)).alias("s")
    )
    vpd = 2 if fast else 4  # xxhash64 hex is 16 chars; md5 is 32
    n_digests = (num_hashes + vpd - 1) // vpd
    projected = exploded.select(
        "doc",
        *[_hash_str(F.col("s"), str(j), fast).alias(f"d{j}") for j in range(n_digests)],
    )
    mins = [
        F.min(F.substring(F.col(f"d{i // vpd}"), (i % vpd) * 8 + 1, 8)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    wide = projected.groupBy("doc").agg(*mins)
    return wide.select("doc", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    fast: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs sharing ANY band of
    the MinHash signature. Returns distinct (id_a < id_b) pairs.

    shingle → minhash → band → bucket-join; the join key is
    (band_idx, band_hash) so bucket collisions never cross bands.
    """
    banded = minhash_band_table(
        docs, id_col, text_col, num_hashes, bands, shingle_k, fast
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )


def minhash_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    fast: bool = False,
) -> DataFrame:
    """LSH candidate pairs annotated with BOTH the MinHash Jaccard
    ESTIMATE (fraction of agreeing signature components — the Broder
    1997 estimator) and the exact shingle Jaccard, for sketch
    calibration: est_jaccard is what a 100 TB run would threshold on
    (signatures only, no shingle sets), jaccard is the ground truth it
    approximates.

    Scale shape: candidate generation is the banding equi-join (see
    `minhash_lsh_pairs`); the pair list then re-joins signatures AND
    per-doc shingle arrays keyed by doc id. The shingle re-attach is
    the correctness-calibration cost — candidates ≪ n², and a
    production run drops the exact column (and with it the join of the
    full shingle arrays), keeping only the signature compare.

    Returns (id_a, id_b, est_jaccard, jaccard), id_a < id_b.
    """
    rows = num_hashes // bands
    sig = minhash_signatures_table(docs, id_col, text_col, num_hashes, shingle_k, fast)
    banded = sig.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(F.array_join(F.slice(F.col("sig"), b * rows + 1, rows), "|")),
            )
        ).alias("band_idx", "band_hash"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    side = sig.join(
        docs.select(F.col(id_col).alias("doc"), shingles(text_col, shingle_k).alias("sh")),
        "doc",
    )
    sa = side.select(
        F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"), F.col("sh").alias("sh_a")
    )
    sb = side.select(
        F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"), F.col("sh").alias("sh_b")
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - common
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(matches / F.lit(float(num_hashes)), 6).alias("est_jaccard"),
            F.round(common / union.cast("double"), 6).alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs with
    |A∩B| / |A∪B| >= threshold.

    Inverted-index formulation: explode distinct shingles, self-join on
    shingle (only co-occurring docs meet), count common, then
    |A∪B| = |A|+|B|-common. The shuffle key is the shingle — no n² cross
    join; hot shingles are the skew/quadratic risk.

    `max_doc_freq`: the scale path — drop stop-shingles appearing in
    more than this many docs BEFORE the self-join. Jaccard is then
    computed over the pruned shingle sets (a self-consistent
    approximation: boilerplate n-grams shared by half the corpus carry
    no dedup signal but dominate the join cost).
    """
    from pyspark.sql.window import Window

    # NO .distinct() here: `shingles` is array_distinct per doc, so the
    # exploded (doc, shingle) pairs are already globally unique — a
    # distinct would re-shuffle the single largest intermediate of the
    # whole query for nothing
    sh = spread_small_input(docs, key=id_col).select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, shingle_k)).alias("shingle")
    )
    if max_doc_freq is not None:
        doc_freq = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        sh = sh.withColumn("__df", doc_freq).filter(F.col("__df") <= max_doc_freq).drop("__df")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_shingles").alias("size_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def rarity_sorted_tokens(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc, toks, n): each doc's distinct shingles sorted rarest-first
    under the global (doc-freq, shingle) total order — the shared
    intermediate of the prefix-filter similarity join (threshold-
    independent, so one build serves any threshold). Split out so
    callers that MATERIALIZE the join (blocking evaluation, ER) can
    pin it once (`io.pin_stats`) instead of re-deriving it in all four
    plan branches the join plants it in (both candidate self-join
    sides + both verification sides — 8 corpus scans per execution)."""
    # spread before the shingle explode: the per-row derivation is the
    # hot pass and a single-file corpus arrives as one scan task
    sh = spread_small_input(docs, key=id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(text_col, shingle_k)).alias("shingle"),
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    # per-doc shingles sorted rarest-first under the (df, shingle)
    # total order; struct sort is lexicographic by field, so the order
    # is deterministic and common to all docs
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__df", "shingle"))
            ).alias("__ts")
        )
        .select(
            "doc",
            F.transform("__ts", lambda s: s["shingle"]).alias("toks"),
            F.size("__ts").alias("n"),
        )
    )


def ngram_jaccard_pairs_prefix(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard join via prefix filtering (Chaudhuri–
    Ganti–Kaushik SSJoin, ICDE 2006; Bayardo–Ma–Srikant "Scaling Up
    All Pairs Similarity Search", WWW 2007): same result as
    `ngram_jaccard_pairs` with NO `max_doc_freq` — every qualifying
    pair, boilerplate shingles included — but the self-join runs over
    per-doc PREFIXES instead of full shingle sets.

    Mechanism: order every doc's shingles by global rarity (doc-freq,
    shingle) ascending; a doc with n shingles indexes only its first
    p = n − ⌈t·n⌉ + 1 tokens. Completeness: J(A,B) ≥ t forces
    |A∩B| ≥ ⌈t·max(|A|,|B|)⌉ (via the length bound min ≥ t·max), and
    sets with overlap ≥ α must share a token inside their
    (size − α + 1)-prefixes under ANY common total order — so every
    true pair meets in the candidate join, and the exact verification
    pass (intersection of the FULL shingle arrays, JVM
    `array_intersect`) discards the rest. ⌈t·n⌉ is computed with a
    −1e-9 guard so float noise can only LENGTHEN a prefix (a longer
    prefix is a superset candidate generator; a shorter one can miss
    pairs).

    Why this is the 100 TB shape, and how it differs from
    `max_doc_freq` pruning: both attack the hot-shingle join key, but
    doc-freq pruning CHANGES the metric (Jaccard over pruned sets) and
    can ship a duplicate whose overlap hides in stop-shingles; the
    rarity-ordered prefix drops frequent shingles from most prefixes
    automatically — a stop-shingle enters a doc's prefix only when the
    doc has nothing rarer, i.e. exactly when it IS the evidence —
    keeping the result lossless. The candidate join's key skew is
    bounded by construction: a shingle's join fan-out is its count
    among PREFIXES, not its corpus frequency. Costs one extra
    aggregate (doc-freq) + per-doc array sort vs the naive join;
    verification joins are candidate-count-sized.

    `tokens` (r13): a pre-built `rarity_sorted_tokens(docs, ...)`
    table — pass it PINNED (`io.pin_stats`) when this join is about to
    be materialized, so the four plan branches that consume it (both
    candidate self-join sides + both verification sides) read it once
    instead of re-deriving it; a persist-pin keeps the measured
    statistics, so the verification broadcasts survive (a
    localCheckpoint pin flips them to sort-merge — the r12 A/B showed
    2× slower). Callers that stay LAZY (one-shot pair streams) should
    leave it None: for those the pin's eager job has nowhere to
    amortize.
    """
    # Threshold range guard (r10, ADVICE fix): t > 1 makes the prefix
    # length n − ⌈t·n⌉ + 1 non-positive (obscure mid-job slice
    # failure); t <= 0 silently degenerates the prefix to the whole
    # set, i.e. the quadratic all-pairs join this operator exists to
    # avoid. Same loud-refusal convention as the window/min_common
    # guards elsewhere in this module.
    if not (0.0 < threshold <= 1.0):
        raise ValueError(
            "ngram_jaccard_pairs_prefix: threshold must be in (0, 1], "
            f"got {threshold!r} — t > 1 yields a non-positive prefix "
            "length and t <= 0 degenerates to the all-pairs join"
        )
    arr = (
        tokens
        if tokens is not None
        else rarity_sorted_tokens(docs, id_col, text_col, shingle_k)
    )
    p = (F.col("n") - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9)) + 1).cast(
        "int"
    )
    pref = arr.select(
        "doc", "n", F.explode(F.slice("toks", 1, p)).alias("shingle")
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc"))
            # length filter: J >= t forces min >= t*max (same -1e-9
            # safe-side guard); candidates only, exactness unaffected
            & (F.col("b.n") >= F.lit(threshold) * F.col("a.n") - F.lit(1e-9))
            & (F.col("a.n") >= F.lit(threshold) * F.col("b.n") - F.lit(1e-9)),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    ta = arr.select(F.col("doc").alias("id_a"), F.col("toks").alias("__ta"),
                    F.col("n").alias("size_a"))
    tb = arr.select(F.col("doc").alias("id_b"), F.col("toks").alias("__tb"),
                    F.col("n").alias("size_b"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("common", F.size(F.array_intersect("__ta", "__tb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("size_a") + F.col("size_b") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT |A∩B|/|A| per direction
    (Broder 1997's resemblance companion measure). Catches
    subset-duplication — a short document quoted wholesale inside a
    long one scores containment ≈ 1 while Jaccard stays low, so a
    Jaccard-only pipeline ships the duplicate. Pairs pass when EITHER
    direction reaches `threshold`.

    Same inverted-index plan as `ngram_jaccard_pairs` (shingle-keyed
    equi-join, optional stop-shingle pruning) — only the final scoring
    differs. Returns (id_a, id_b, containment_a, containment_b) with
    id_a < id_b.
    """
    from pyspark.sql.window import Window

    sh = docs.select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, shingle_k)).alias("shingle")
    )
    if max_doc_freq is not None:
        doc_freq = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        sh = sh.withColumn("__df", doc_freq).filter(F.col("__df") <= max_doc_freq).drop("__df")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("n_shingles").alias("size_b"))
    ca = F.round(F.col("common") / F.col("size_a"), 6)
    cb = F.round(F.col("common") / F.col("size_b"), 6)
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", ca.alias("containment_a"), cb.alias("containment_b"))
        .filter(
            (F.col("containment_a") >= threshold) | (F.col("containment_b") >= threshold)
        )
    )


def hamming_distance64(a: Column, b: Column) -> Column:
    """Hamming distance between two int64 SimHash fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_blocked_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    tau: int = 3,
    n_blocks: int | None = None,
    bits: int = 60,
    fast: bool = False,
) -> DataFrame:
    """Hamming-bounded near-pairs WITHOUT the n² self-join: pigeonhole
    prefix blocking (Manku/Jain/Sarma, WWW'07 §3 — the Google simhash
    dedup design).

    Split the `bits`-bit fingerprint into `n_blocks` (default tau+1)
    disjoint bit ranges. A pair within hamming tau differs in at most
    tau blocks, so it AGREES EXACTLY on >= n_blocks - tau >= 1 block —
    an equi-join on (block_idx, block_bits) therefore finds every such
    pair (recall exactly 1.0, no probabilistic miss), and hamming<=tau
    is verified only on the candidate set.

    Plan shape: the join keys are two equalities, so Catalyst compiles a
    hash/sort-merge join keyed on (block_idx, block_bits) — never a
    BroadcastNestedLoopJoin. At 100 TB the shuffle carries
    (doc, fp, block) rows = n_blocks × 16 B/doc; bucket sizes stay
    O(n / 2^block_width) for near-uniform fingerprints, so block width
    (bits // n_blocks) is the knob: tau=3 → 4 blocks × 15 bits = 32k
    buckets per block index. Skewed buckets (boilerplate-heavy corpora)
    are handled upstream by doc normalization, the same way stop-shingle
    pruning handles hot shingles in `ngram_jaccard_pairs`.

    Returns (id_a, id_b, hamming) with id_a < id_b, hamming <= tau.
    """
    if n_blocks is None:
        n_blocks = tau + 1
    if n_blocks <= tau:
        raise ValueError(f"pigeonhole needs n_blocks > tau (got {n_blocks} <= {tau})")
    width = bits // n_blocks
    if width < 1:
        # bits // n_blocks == 0 would make every non-final block key a
        # constant 0 → one block index degenerates to a full n² bucket
        raise ValueError(
            f"n_blocks={n_blocks} > bits={bits}: block width must be >= 1 bit"
        )
    fp = simhash_table(docs, id_col, text_col, fast=fast).select(
        F.col("doc"), F.col("simhash").alias("fp")
    )
    # NB: both sides of the block self-join consume `fp`. Without AQE,
    # exchange reuse computes it once; WITH AQE (the session default)
    # per-stage materialization drops the ReusedExchange and the
    # fingerprint scan runs twice per action (r7 measurement: 1.87 s
    # with AQE vs 1.40 s without at sf0.1 — same failure mode as
    # cosine_near_dup_via_ivf, which pins its assignment because its
    # duplicated subtree costs 2×; here the subtree is one scan+agg, so
    # the function deliberately stays a pure LAZY plan. Callers running
    # repeated actions or feeding heavier fingerprint pipelines should
    # pin: `fp.repartition(block cols...).localCheckpoint()` — the
    # near-dup fix shows the shape.
    return hamming_blocked_pairs(fp, tau=tau, n_blocks=n_blocks, bits=bits)


def hamming_blocked_pairs(
    fp: DataFrame,
    tau: int,
    n_blocks: int | None = None,
    bits: int = 64,
) -> DataFrame:
    """Generic pigeonhole hamming near-pair join over a (doc, fp)
    fingerprint table — the blocking core behind text simhash, for any
    64-bit fingerprint. Same guarantee as `simhash_blocked_pairs`: recall
    exactly 1.0 at hamming <= tau, equi-join only, never an n² nested
    loop. Returns (id_a, id_b, hamming) with id_a < id_b."""
    if n_blocks is None:
        n_blocks = tau + 1
    if n_blocks <= tau:
        raise ValueError(f"pigeonhole needs n_blocks > tau (got {n_blocks} <= {tau})")
    width = bits // n_blocks
    if width < 1:
        raise ValueError(
            f"n_blocks={n_blocks} > bits={bits}: block width must be >= 1 bit"
        )
    block_exprs = []
    for i in range(n_blocks):
        lo = i * width
        hi = bits if i == n_blocks - 1 else lo + width
        mask = F.lit((1 << (hi - lo)) - 1).cast("long")
        # arithmetic shiftright then mask is sign-safe for full 64-bit
        # fingerprints (bit 63 may be set; the mask cuts the sign fill)
        block_exprs.append(F.shiftright(F.col("fp"), lo).bitwiseAND(mask))
    blocks = fp.select(
        "doc", "fp", F.posexplode(F.array(*block_exprs)).alias("block_idx", "block_bits")
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    ham = hamming_distance64(F.col("a.fp"), F.col("b.fp"))
    return (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_bits") == F.col("b.block_bits"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= tau)
        .distinct()
    )


def simhash_table(
    docs: DataFrame, id_col: str, text_col: str, fast: bool = False
) -> DataFrame:
    """(doc, simhash): 60-bit SimHash of each doc's token set via
    explode → groupBy with 60 conditional sums (md5-derived per-token
    hashes so the oracle can replay; 60 bits keeps the value inside a
    signed int64 across engines). Per token: h = first 15 hex chars of
    md5(token) as int; per bit b: +1 if set else -1, summed over
    tokens; fingerprint bit b = (sum > 0).

    Plan shape: a column-expression form evaluates the token-hash array
    once per bit aggregate (60×) — measured 22 s at sf0.1 vs ~1 s for
    this one-pass explode (the same Catalyst no-CSE-across-lambdas trap
    as MinHash signatures).
    """
    toks = F.array_distinct(F.split(normalize_text(text_col), " "))
    exploded = spread_small_input(docs, key=id_col).select(
        F.col(id_col).alias("doc"), F.explode(toks).alias("t")
    )
    # per-token hash (fast: native 60-bit-masked xxhash64 long, no hex
    # round-trip; md5: oracle-replayable)
    h = (
        F.xxhash64(F.col("t")).bitwiseAND(F.lit((1 << 60) - 1).cast("long"))
        if fast
        else F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")
    )
    with_hash = exploded.select("doc", h.alias("h"))
    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(60)
    ]
    wide = with_hash.groupBy("doc").agg(*votes)
    fp = F.lit(0).cast("long")
    for b in range(60):
        fp = fp + F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return wide.select("doc", fp.alias("simhash"))


def contamination_counts(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination (Brown et al. 2020 appendix C; Rae et
    al. 2021 §A.3): count, per training document, the distinct k-word
    shingles it shares with ANY document of the held-out eval set.
    Training docs with `n_shared > 0` are contamination candidates.

    Spark-first plan: eval shingles collapse to one distinct set and
    BROADCAST (eval/benchmark corpora are tiny next to a 100 TB train
    corpus — the broadcast is the whole scale story: the train side
    explodes map-side, probes the broadcast hash set, and the only
    shuffle is the per-doc count aggregation, which is map-side
    combinable). `shingles()` is already distinct per doc, so
    `count(*)` after the join IS the distinct shared-shingle count.
    """
    ev = (
        eval_docs.select(F.explode(shingles(text_col, k)).alias("s"))
        .distinct()
    )
    tr = train.select(
        F.col(id_col).alias("doc"), F.explode(shingles(text_col, k)).alias("s")
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc")
        .agg(F.count("*").alias("n_shared"))
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
) -> DataFrame:
    """Drop training documents sharing >= 1 k-shingle with the eval set
    (anti-join against `contamination_counts`; same broadcast shape)."""
    hits = contamination_counts(train, eval_docs, id_col, text_col, k).select(
        F.col("doc").alias(id_col)
    )
    return train.join(hits, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Count-Min Sketch (Cormode & Muthukrishnan 2005, public paper)
# ---------------------------------------------------------------------------


# ------------------------------------------------------------------ KMV

_KMV_SPACE = float(1 << 60)  # hash domain: 15 md5 hex chars


def _kmv_hash(col: Column) -> Column:
    """60-bit md5-derived hash, non-negative bigint — the same
    oracle-replayable idiom as `_cms_col` / `_SIMHASH` (DuckDB:
    ('0x' || substr(md5(v), 1, 15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("bigint")


def kmv_build(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    subgroups: int = 16,
) -> DataFrame:
    """K-Minimum-Values distinct-count sketch per group: the k smallest
    distinct hash values of `value_col` (Bar-Yossef et al. 2002). The
    sketch Spark's own HLL++ (`approx_count_distinct`) can't give you:
    a MERGEABLE, persistable column (array<bigint>) with a DETERMINISTIC
    value — build per shard/day, store, union later with `kmv_merge`,
    and every engine that hashes the same way reproduces it bit-for-bit
    (the exact-SQL oracle property HLL's opaque registers lack).

    Scale shape (100 TB): two-level bounded-state aggregation. Level 1
    groups on (group, h % subgroups) — collect_set state is the distinct
    values in one hash-range slice, 1/subgroups of the group's distinct
    set; raise `subgroups` to bound memory at any cardinality. Level 2
    merges subgroup minima: since subgroups partition the hash space,
    the union of per-subgroup k-smallest contains the global k-smallest
    (each global top-k hash is top-k in its own slice) — the merge is
    LOSSLESS, not approximate-on-approximate. Shuffle carries ≤
    subgroups × k hashes per group.
    """
    if k < 2:
        raise ValueError(f"need k >= 2, got {k}")
    h = _kmv_hash(F.col(value_col)).alias("__h")
    level1 = (
        df.select(*group_cols, h)
        .withColumn("__sub", F.col("__h") % subgroups)
        .groupBy(*group_cols, "__sub")
        .agg(F.slice(F.array_sort(F.collect_set("__h")), 1, k).alias("__mins"))
    )
    return (
        level1.groupBy(*group_cols)
        .agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("__mins"))), 1, k
            ).alias("kmv")
        )
    )


def kmv_merge(sketches: DataFrame, group_cols: list[str], k: int = 64) -> DataFrame:
    """Merge KMV sketches built over different data slices (days,
    shards) down to `group_cols`: k smallest of the deduplicated union.
    Unlike the build's hash-range subgroups, independent slices can
    contain the SAME value, so the merge dedups before truncating.
    Exactness is preserved: any hash in the merged top-k was top-k in
    every slice that contained it."""
    return (
        sketches.groupBy(*group_cols)
        .agg(
            F.slice(
                F.array_distinct(F.array_sort(F.flatten(F.collect_list("kmv")))),
                1,
                k,
            ).alias("kmv")
        )
    )


def kmv_estimate(sketch: DataFrame, k: int = 64, out_col: str = "distinct_est") -> DataFrame:
    """Distinct-count estimate from a KMV sketch column: exact when the
    group has < k distinct values (the sketch holds them all), else the
    classical (k-1) / fraction-of-hash-space-covered estimator, RSE ≈
    1/√(k-2). Deterministic → exact-SQL oracle."""
    kmv = F.col("kmv")
    est = F.when(F.size(kmv) < k, F.size(kmv).cast("double")).otherwise(
        F.round(F.lit(float(k - 1)) * F.lit(_KMV_SPACE) / F.element_at(kmv, k), 4)
    )
    return sketch.withColumn(out_col, est).drop("kmv")


def sample_quantile_sketch(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    value_col: str,
    k: int = 256,
    subgroups: int = 16,
) -> DataFrame:
    """Mergeable quantile sketch per group: a deterministic uniform
    k-row sample — the rows whose md5(key) hashes are the k smallest —
    each carrying its value. Bottom-k-by-hash IS a uniform sample of
    the row population (the hash is independent of the value), so order
    statistics of the sample estimate the group's quantiles with the
    classical √k error, and the same lossless-merge argument as
    `kmv_build` applies: the k smallest (hash, value) pairs of a union
    are contained in the union of per-slice k smallest. `key_col` must
    identify rows uniquely (e.g. event_id) or duplicates collapse.

    This is the quantile entry of the sketch family (frequency → CMS,
    distinct → KMV, membership → Bloom, similarity → MinHash/SimHash):
    unlike Spark's percentile_approx (opaque, non-persistable
    aggregation state), the sketch is a plain array<struct<h,v>> column
    you can store per shard/day and merge later — and it is
    deterministic, so an exact-SQL oracle can replay it.

    Scale shape: identical to `kmv_build` — two-level bounded-state
    aggregation over hash-range subgroups; shuffle ≤ subgroups × k
    pairs per group."""
    if k < 2:
        raise ValueError(f"need k >= 2, got {k}")
    pair = F.struct(
        _kmv_hash(F.col(key_col)).alias("h"),
        F.col(value_col).cast("double").alias("v"),
    )
    level1 = (
        df.select(*group_cols, pair.alias("__p"))
        .withColumn("__sub", F.col("__p.h") % subgroups)
        .groupBy(*group_cols, "__sub")
        .agg(F.slice(F.array_sort(F.collect_list("__p")), 1, k).alias("__mins"))
    )
    return level1.groupBy(*group_cols).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__mins"))), 1, k).alias(
            "qsketch"
        )
    )


def sample_quantile_merge(
    sketches: DataFrame, group_cols: list[str], k: int = 256
) -> DataFrame:
    """Merge per-slice quantile sketches down to `group_cols`: k
    smallest (hash, value) pairs of the union. Requires globally unique
    sample keys across slices (rows partition, values ride along)."""
    return sketches.groupBy(*group_cols).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("qsketch"))), 1, k).alias(
            "qsketch"
        )
    )


def sample_quantile_estimate(
    sketch: DataFrame, probs: dict[str, float]
) -> DataFrame:
    """Order-statistic quantile estimates from the sketch: for each
    (name, p) emit the sample value at rank ⌊p·(n−1)⌋+1 ('lower'
    interpolation — an actually-observed value, deterministic). Adds
    `n_sample` and one column per name; drops the sketch."""
    vals = F.array_sort(F.transform(F.col("qsketch"), lambda s: s["v"]))
    n = F.size(vals)
    out = sketch.withColumn("n_sample", n.cast("long"))
    for name, p in probs.items():
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"prob {name}={p} outside [0, 1]")
        idx = (F.floor(F.lit(float(p)) * (n - 1)) + 1).cast("int")
        out = out.withColumn(name, F.element_at(vals, idx))
    return out.drop("qsketch")


def _cms_col(item: Column, d: int, width: int) -> Column:
    """Row-d hash column for an item: conv(md5('d:item')[:8]) % width —
    the oracle-replayable md5 idiom shared by the whole sketch family."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(str(d)), item)), 1, 8), 16, 10
    ).cast("bigint")
    return (h % width).cast("int")


def cms_build(
    items: DataFrame,
    item_col: str = "t",
    depth: int = 4,
    width: int = 512,
    weight_col: str | None = None,
) -> DataFrame:
    """Build a Count-Min Sketch over an item stream → (d, col, cnt)
    table with at most depth×width rows.

    Scale shape (100 TB): ONE explode of `depth` (row, col) cells per
    item feeds a map-side-combinable sum — the shuffle carries at most
    depth×width partials per map partition no matter the stream size,
    and two sketches built on different data MERGE by adding cell
    counts (union + sum per (d, col)), which is what makes this the
    streaming / cross-shard frequency structure the exact `value_counts` can't be.
    Estimates overestimate only: est(x) ≥ true(x), with
    ε ≈ e/width · N at δ ≈ e^−depth (standard CMS bounds).
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2, got {depth}x{width}")
    w = F.col(weight_col) if weight_col else F.lit(1)
    cells = items.select(
        F.posexplode(
            F.array(*[_cms_col(F.col(item_col), d, width) for d in range(depth)])
        ).alias("d", "col"),
        w.alias("__w"),
    )
    return cells.groupBy("d", "col").agg(F.sum("__w").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    item_col: str = "t",
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-query the sketch for each row of `queries`: est = min over
    the depth rows' cells. The sketch (≤ depth×width rows) broadcasts;
    the probe is an equi-join per depth row + a min aggregate — no
    shuffle of the query set beyond its own grouping."""
    probes = queries.select(
        F.col(item_col),
        F.posexplode(
            F.array(*[_cms_col(F.col(item_col), d, width) for d in range(depth)])
        ).alias("d", "col"),
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "col"], "left")
        .groupBy(item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


# -- HyperLogLog with EXPLICIT registers (mergeable + oracle-checkable) ----

_HLL_HASH_BITS = 60  # same md5-derived domain as _kmv_hash
_HLL_SUM_SHIFT = 54  # Σ 2^-M replayed exactly as Σ 2^(54-M) in int64


def _hll_alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_build(
    df: DataFrame, group_cols: list[str], value_col: str, p: int = 8
) -> DataFrame:
    """HyperLogLog sketch per group with EXPLICIT registers (Flajolet
    et al. 2007): `hll` = array<int> of m = 2^p register maxima. What
    Spark's own `approx_count_distinct` keeps opaque, this keeps as a
    plain mergeable column — build per shard/day, store as parquet,
    `hll_merge` later — and the deterministic 60-bit md5 hash makes
    build/merge/estimate replay exactly in ANSI SQL (the KMV property,
    now for the industry-standard register sketch; KMV remains the
    exact-below-k option, HLL the fixed-256-byte one).

    Scale shape (100 TB): register maxima aggregate with map-side
    combine on (group, bucket) — state is ONE int per live bucket,
    shuffle ≤ m rows per group, merge is element-wise max. rho uses the
    exact bit-length of the 52-bit suffix (no float log anywhere)."""
    m = 1 << p
    w_bits = _HLL_HASH_BITS - p
    h = _kmv_hash(F.col(value_col))
    w = F.expr(f"__h div {m}")
    # rho = leading-zeros-in-w_bits + 1 = w_bits + 1 - bitlength(w);
    # integer bit length via base-2 conv, never log2 (float-exact)
    bitlen = F.when(
        w > 0, F.length(F.conv(w.cast("string"), 10, 2))
    ).otherwise(F.lit(0))
    rho = (F.lit(w_bits + 1) - bitlen).cast("int")
    regs = (
        df.select(*group_cols, h.alias("__h"))
        .withColumn("__bucket", (F.col("__h") % m).cast("int"))
        .withColumn("__rho", rho)
        .groupBy(*group_cols, "__bucket")
        .agg(F.max("__rho").alias("__mj"))
    )
    reg_map = F.map_from_entries(
        F.collect_list(F.struct(F.col("__bucket"), F.col("__mj")))
    )
    fill = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.coalesce(F.element_at(F.col("__regmap"), j), F.lit(0)),
    )
    return (
        regs.groupBy(*group_cols)
        .agg(reg_map.alias("__regmap"))
        .withColumn("hll", fill.cast("array<int>"))
        .drop("__regmap")
    )


def hll_merge(sketches: DataFrame, group_cols: list[str], p: int = 8) -> DataFrame:
    """Merge HLL sketches across slices down to `group_cols`:
    element-wise register max — associative, lossless w.r.t. the union
    stream (the defining HLL property, exercised by the golden
    persistence tests like CMS/KMV)."""
    m = 1 << p
    merged = F.aggregate(
        F.collect_list("hll"),
        F.array_repeat(F.lit(0), m),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: F.greatest(a, b)),
    )
    return sketches.groupBy(*group_cols).agg(merged.cast("array<int>").alias("hll"))


def hll_estimate(
    sketch: DataFrame, p: int = 8, out_col: str = "distinct_est"
) -> DataFrame:
    """Distinct estimate from explicit registers. The harmonic sum
    Σ 2^-M_j is replayed EXACTLY as the int64 sum Σ 2^(54-M_j) (M_j ≤
    53, ≤ 2^62 total), so no float accumulation order exists; the
    small-range correction m·ln(m/V) is a PRECOMPUTED literal table
    indexed by V — every float in the estimate is a single deterministic
    op, which is what makes the oracle hash-match. Large-range (E >
    2^60/30) correction is omitted: irrelevant below 10^17 distincts."""
    m = 1 << p
    c = _hll_alpha(m) * m * m * float(1 << _HLL_SUM_SHIFT)
    import math

    corr = [round(m * math.log(m / v), 4) for v in range(1, m + 1)]
    # 2^(54-M) as a literal lookup (shiftleft needs a literal amount)
    pow2 = F.array(
        *[
            F.lit(1 << (_HLL_SUM_SHIFT - r)).cast("bigint")
            for r in range(_HLL_SUM_SHIFT + 1)
        ]
    )
    s = F.aggregate(
        F.col("hll"),
        F.lit(0).cast("bigint"),
        lambda acc, r: acc + F.element_at(pow2, r + 1),
    )
    v = F.size(F.filter(F.col("hll"), lambda r: r == 0))
    raw = F.lit(c) / s.cast("double")
    est = F.when(
        (raw <= 2.5 * m) & (v > 0),
        F.element_at(F.array(*[F.lit(x) for x in corr]), v),
    ).otherwise(F.round(raw, 4))
    return sketch.withColumn(out_col, est).drop("hll")


def build_hll_estimate_sql(
    group_cols: list[str], value_expr: str, from_sql: str, p: int = 8
) -> str:
    """Generated DuckDB replay of hll_build + hll_estimate over
    `from_sql` — same hash, same integer bit-length rho, same exact
    int64 harmonic sum, same literal correction table."""
    m = 1 << p
    w_bits = _HLL_HASH_BITS - p
    c = repr(_hll_alpha(m) * m * m * float(1 << _HLL_SUM_SHIFT))
    import math

    corr = ", ".join(repr(round(m * math.log(m / v), 4)) for v in range(1, m + 1))
    g = ", ".join(group_cols)
    return f"""
WITH hh AS (
    SELECT {g},
           ('0x' || substr(md5(({value_expr})::VARCHAR), 1, 15))::BIGINT AS h
    FROM {from_sql}
), rr AS (
    SELECT {g}, h % {m} AS bucket,
           MAX(CASE WHEN h // {m} = 0 THEN {w_bits + 1}
               ELSE {w_bits + 1} - length(printf('%b', h // {m})) END) AS mj
    FROM hh GROUP BY {g}, bucket
), ss AS (
    SELECT {g},
           SUM(1::BIGINT << ({_HLL_SUM_SHIFT} - mj))
             + ({m} - COUNT(*)) * (1::BIGINT << {_HLL_SUM_SHIFT}) AS s,
           {m} - COUNT(*) AS v
    FROM rr GROUP BY {g}
)
SELECT {g},
       CASE WHEN {c} / s <= {2.5 * m} AND v > 0
            THEN list_extract([{corr}], v::INT)
            ELSE round({c} / s, 4) END AS distinct_est
FROM ss"""


def kmv_overlap_pairs(
    sketches: DataFrame, group_col: str, k: int = 64
) -> DataFrame:
    """Set-operation estimates between every pair of KMV sketches
    (Beyer et al. 2007): the k smallest hashes of the UNION are the
    union's own KMV sample, the fraction of them present in both
    sketches estimates Jaccard, and Jaccard × the union estimate gives
    the intersection size — cross-source audience overlap or train/eval
    contamination rate at sketch cost (256 B per group) instead of a
    distinct-×-distinct join. Exact when both groups hold < k distinct
    values (their sketches ARE the sets). Deterministic md5 hashes →
    the whole pair table replays in SQL.

    Input: one row per group with the `kmv` array from `kmv_build`;
    output: (a, b, jaccard_est, intersect_est) for a < b.
    """
    left = sketches.select(
        F.col(group_col).alias("a"), F.col("kmv").alias("__ka")
    )
    right = sketches.select(
        F.col(group_col).alias("b"), F.col("kmv").alias("__kb")
    )
    pairs = left.join(right, F.col("a") < F.col("b"))
    u = F.slice(
        F.array_sort(F.array_distinct(F.concat(F.col("__ka"), F.col("__kb")))),
        1,
        k,
    )
    pairs = pairs.withColumn("__u", u).withColumn("__nu", F.size(F.col("__u")))
    theta = F.element_at(F.col("__u"), F.col("__nu"))
    shared = F.size(
        F.filter(
            F.array_intersect(F.col("__ka"), F.col("__kb")), lambda h: h <= theta
        )
    )
    pairs = pairs.withColumn("__shared", shared)
    union_est = F.when(
        F.col("__nu") < k, F.col("__nu").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_SPACE) / F.element_at(F.col("__u"), k)
    )
    jacc = F.round(
        F.col("__shared").cast("double") / F.col("__nu").cast("double"), 6
    )
    inter = F.when(
        F.col("__nu") < k, F.col("__shared").cast("double")
    ).otherwise(
        F.round(
            (F.col("__shared").cast("double") / F.col("__nu").cast("double"))
            * union_est,
            4,
        )
    )
    return pairs.select(
        "a",
        "b",
        jacc.alias("jaccard_est"),
        inter.alias("intersect_est"),
    )


def minhash_band_table(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    fast: bool = False,
) -> DataFrame:
    """(doc, band_idx, band_hash): the banded-signature table — the
    PERSISTABLE LSH store. `minhash_lsh_pairs` self-joins this shape;
    `incremental_dedup` joins a new batch's bands against a stored
    history table (at 100 TB the history bands are written once per
    ingest and appended, so continuous crawls never recompute the
    corpus side)."""
    rows = num_hashes // bands
    sig = minhash_signatures_table(
        docs, id_col, text_col, num_hashes, shingle_k, fast
    )
    return sig.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.array_join(F.slice(F.col("sig"), b * rows + 1, rows), "|")
                ),
            )
        ).alias("band_idx", "band_hash"),
    )


def join_key_sample(
    df: DataFrame, key_col: str, inv_rate: int = 8
) -> DataFrame:
    """Correlated key-sample sketch for JOIN-SIZE estimation (the
    end-biased / correlated-sampling estimator of Vengerov et al.,
    VLDB 2015): keep the EXACT per-key row count for every key whose
    60-bit md5 hash falls below 2^60 / inv_rate — about 1/inv_rate of
    the DISTINCT keys, with all of a kept key's rows counted. Because
    both sides of a prospective join hash keys identically, the same
    keys survive on both sides ("correlated"): the sample directly
    observes matching-key count PRODUCTS, which Bernoulli row sampling
    fundamentally cannot (it needs p² luck to catch a match).

    The sketch is a (key, n_rows) table, expected size
    distinct/inv_rate. It is MERGEABLE across shards/days: union and
    re-sum (`groupBy(key).sum`) — counts are additive and the key
    filter is a pure function of the key. Build once per ingest slice,
    persist beside the data, estimate any join's output size without
    running it — the 100 TB planning primitive for choosing broadcast
    vs shuffle vs pre-aggregation BEFORE paying the shuffle.
    """
    if inv_rate < 1:
        raise ValueError(f"inv_rate must be >= 1, got {inv_rate}")
    thresh = (1 << 60) // inv_rate
    return (
        df.select(F.col(key_col).alias("key"))
        .filter(_kmv_hash(F.col("key")) < thresh)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def join_size_estimate(
    sample_a: DataFrame, sample_b: DataFrame, inv_rate: int = 8
) -> DataFrame:
    """Estimate |A ⋈ B| from two `join_key_sample` sketches built with
    the SAME inv_rate: Σ over co-sampled keys of n_a·n_b, scaled by
    inv_rate (each distinct key is sampled with probability
    ≈ 1/inv_rate, and sampling is decided once per KEY, so the whole
    product a_k·b_k is in or out together — an unbiased estimator of
    Σ_k a_k·b_k, the exact equi-join output size). Integer arithmetic
    end-to-end; deterministic md5 sampling → the estimate replays
    bit-for-bit in SQL. Returns one row: (sampled_keys, est_pairs).

    Estimator variance concentrates on heavy keys — exactly the keys
    that matter for the shuffle-vs-broadcast decision; a hot key is
    sampled with the same 1/inv_rate chance but contributes a_k·b_k
    when caught, so raise inv_rate⁻¹ (lower `inv_rate`) when the key
    distribution is known to be skewed.
    """
    j = sample_a.join(
        sample_b.withColumnRenamed("n_rows", "__nb"), "key"
    )
    return j.agg(
        F.count(F.lit(1)).alias("sampled_keys"),
        (
            F.coalesce(F.sum(F.col("n_rows") * F.col("__nb")), F.lit(0)).cast("bigint")
            * F.lit(inv_rate)
        ).alias("est_pairs"),
    )


def _int_pow_expr(base: str, e: int) -> str:
    """x^e as an explicit binary-exponentiation product EXPRESSION —
    the same text evaluates in Spark SQL and DuckDB with the identical
    operation tree, so the doubles are bit-equal across engines (the
    literal-table discipline for transcendental-free cross-engine
    math; POW() implementations may differ in the last ulp)."""
    if e < 1:
        raise ValueError(f"exponent must be >= 1, got {e}")
    if e == 1:
        return base
    half = _int_pow_expr(base, e // 2)
    sq = f"({half} * {half})"
    return f"({sq} * {base})" if e % 2 else sq


def lsh_band_plan_rows(
    num_hashes: int = 16,
    target_threshold: float = 0.8,
    grid_steps: int = 20,
) -> list[tuple]:
    """The planner's parameter grid, shared verbatim by the Spark query
    and the SQL oracle: every (bands, rows_per_band) factorization of
    `num_hashes` × a Jaccard grid t = i/grid_steps, plus per-
    factorization literals — the implied S-curve threshold
    (1/b)^(1/r) (Leskovec-Rajaraman-Ullman §3.4.3, the point of
    maximum slope) computed driver-side (fractional powers are
    transcendental; both engines get the same literal), and `chosen`
    marking the factorization whose implied threshold is nearest the
    target (ties to more bands: recall over precision)."""
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    if not (0.0 < target_threshold < 1.0):
        raise ValueError(
            f"target_threshold must be in (0, 1), got {target_threshold}"
        )
    facts = [
        (b, num_hashes // b)
        for b in range(1, num_hashes + 1)
        if num_hashes % b == 0
    ]
    implied = {b: (1.0 / b) ** (1.0 / r) for b, r in facts}
    chosen_b = min(
        facts, key=lambda br: (abs(implied[br[0]] - target_threshold), -br[0])
    )[0]
    rows = []
    for b, r in facts:
        for i in range(1, grid_steps):
            rows.append((b, r, i, implied[b], b == chosen_b))
    return rows


def build_lsh_band_plan_sql(
    num_hashes: int = 16,
    target_threshold: float = 0.8,
    grid_steps: int = 20,
) -> str:
    """DuckDB twin of `lsh_band_plan`: the identical VALUES grid + the
    identical binary-exponentiation detection-probability expression,
    so the oracle verifies the Spark side's arithmetic bit-for-bit."""
    rows = lsh_band_plan_rows(num_hashes, target_threshold, grid_steps)
    values = ",\n    ".join(
        f"({b}, {r}, {i}, {repr(float(imp))}, {str(bool(ch)).upper()})"
        for b, r, i, imp, ch in rows
    )
    body = []
    for b, r in sorted({(b, r) for b, r, _, _, _ in rows}):
        tr = _int_pow_expr("t_raw", r)
        miss = _int_pow_expr(f"(1.0 - {tr})", b)
        body.append(f"WHEN bands = {b} THEN ROUND(1.0 - {miss}, 6)")
    case = "CASE " + " ".join(body) + " END"
    return f"""
WITH grid(bands, rows_per_band, i, implied_threshold, chosen) AS (
    VALUES
    {values}
), g AS (
    SELECT bands, rows_per_band,
           ROUND(i / {float(grid_steps)}, 6) AS t,
           i / {float(grid_steps)} AS t_raw,
           CAST(ROUND(implied_threshold, 6) AS DOUBLE)
               AS implied_threshold, chosen
    FROM grid
)
SELECT bands, rows_per_band, t,
       {case} AS p_detect,
       implied_threshold, chosen
FROM g
ORDER BY bands, t
"""


def lsh_band_plan(
    spark,
    num_hashes: int = 16,
    target_threshold: float = 0.8,
    grid_steps: int = 20,
):
    """MinHash-LSH band planner → (bands, rows_per_band, t, p_detect,
    implied_threshold, chosen): for every factorization
    num_hashes = bands × rows_per_band, the detection probability
    P(candidate | J = t) = 1 − (1 − t^r)^b over a Jaccard grid — the
    S-curves a deployment reads to pick its banding (the repo default
    banding 16 = 4 bands × 4 rows comes out `chosen` for target 0.8 —
    implied threshold 0.707, the nearest S-curve; the r6
    planted-boilerplate sweep measured its candidate volumes). The probability
    arithmetic runs JVM-side through the same binary-exponentiation
    expression the DuckDB oracle evaluates — bit-equal by construction,
    no POW()."""
    rows = lsh_band_plan_rows(num_hashes, target_threshold, grid_steps)
    df = spark.createDataFrame(
        rows,
        "bands int, rows_per_band int, i int, implied_threshold double, "
        "chosen boolean",
    )
    by_b = {}
    for b, r in sorted({(b, r) for b, r, _, _, _ in rows}):
        tr = _int_pow_expr("t_raw", r)
        by_b[b] = f"ROUND(1.0 - {_int_pow_expr(f'(1.0 - {tr})', b)}, 6)"
    case = "CASE " + " ".join(
        f"WHEN bands = {b} THEN {expr}" for b, expr in by_b.items()
    ) + " END"
    return (
        df.selectExpr(
            "bands", "rows_per_band",
            f"CAST(i AS DOUBLE) / {float(grid_steps)} AS t_raw",
            "implied_threshold", "chosen",
        )
        .selectExpr(
            "bands", "rows_per_band",
            "ROUND(t_raw, 6) AS t",
            f"{case} AS p_detect",
            "ROUND(implied_threshold, 6) AS implied_threshold",
            "chosen",
        )
    )
