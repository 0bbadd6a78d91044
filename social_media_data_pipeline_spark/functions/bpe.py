"""Distributed BPE tokenizer training (Sennrich et al. 2016, public
paper — byte-pair encoding over a word-frequency table).

The 100 TB shape: the CORPUS is touched exactly once — one
map-side-combinable `groupBy(word).count()` — and every training round
runs over the resulting VOCABULARY table (distinct words × frequency),
which is sublinear in corpus size and independent of it once saturated.
Each round is (a) one hash aggregate counting adjacent symbol pairs
weighted by word frequency, (b) a 1-row argmax collect (the chosen
merge — this is the bounded per-round driver collect, same class as
`deterministic_shuffle`'s bucket offsets), and (c) a map-side merge
application. `localCheckpoint` cuts lineage so round N's plan does not
replay rounds 0..N-1.

Merge application is a left-to-right non-overlapping fold (the BPE
contract: in "aaaa", pair (a,a) merges positions 0-1 and 2-3, not
1-2): an `F.aggregate` fold whose accumulator appends or fuses with
its last element — after a fusion the last element is "lr" ≠ "l", so
overlapping re-merges are impossible by construction. The DuckDB
oracle reproduces the same semantics with an islands-parity window
(consecutive match runs merge at even offsets), so the whole training
run is differentially checked round by round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from social_media_data_pipeline_spark.functions.text import tokenize


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Left-to-right non-overlapping merge of adjacent (left, right)
    symbol pairs inside one symbol array."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.element_at(acc, -1), x)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def word_freq_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The single corpus pass: (word, freq, syms=chars). Everything
    after this is vocabulary-sized."""
    return (
        df.select(F.explode(tokenize(text_col)).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("w", "freq", F.split("w", "").alias("syms"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 20,
    checkpoint_every: int = 8,
) -> DataFrame:
    """Train `num_merges` BPE merges on the corpus; returns the merge
    table (rank, left, right, pair_freq) in training order — the
    artifact a tokenizer loads. Greedy argmax per round with
    deterministic (freq DESC, left ASC, right ASC) tie-break."""
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    spark = df.sparkSession
    words = word_freq_table(df, text_col).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        syms = F.col("syms")
        n = F.size(syms) - 1
        pairs = words.filter(F.size(syms) >= 2).select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(syms, 1, n),
                    F.slice(syms, 2, n),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((rank, l, r, cnt))
        words = words.withColumn("syms", _apply_merge(F.col("syms"), l, r))
        if (rank + 1) % checkpoint_every == 0:
            words = words.localCheckpoint()
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_freq bigint"
    )


def _apply_merge_py(syms: list, l: str, r: str) -> list:
    """Python twin of `_apply_merge` (left-to-right non-overlapping) —
    the driver-side replay in `bpe_train_batched` must fuse exactly
    like the executor-side fold."""
    out: list = []
    for x in syms:
        if out and out[-1] == l and x == r:
            out[-1] = l + r
        else:
            out.append(x)
    return out


def _certified_merges(
    head: dict,
    global_pairs: dict,
    cutoff: int,
    max_merges: int,
) -> list[tuple[str, str, int]]:
    """Driver-side EXACT sequential-BPE replay over the collected head
    words, certified against the uncollected tail by per-pair count
    intervals. Emits merges provably identical (choice, tie-break AND
    pair_freq) to running one global argmax round per merge.

    State per pair p: exact head count h(p) (maintained incrementally
    over `head`), a tail interval [tlo, thi] — exact at collection
    time (global − head) — and a per-SYMBOL tail taint: merging a pair
    whose own tail mass is d > 0 rewrites tail occurrences we cannot
    see, so the merged token lr carries taint d, meaning any pair
    containing lr may hold up to d unseen tail occurrences (this
    covers run/chain creations like (aa, a) from "aaa" that
    neighbor-pair bookkeeping misses — the original formulation
    without taint was falsified by fuzzing on run-heavy corpora).
    A merge (l, r) with head count + tlo = c is certified the global
    argmax iff its tail count is exact (tlo == thi AND both symbols
    untainted), c beats every other pair's h + thi + taint (ties only
    when (l, r) wins the lexicographic tie-break), and c strictly
    exceeds both the collection cutoff (pairs never collected) and
    the ghost bound (max taint — pairs we never enumerated).
    Certification failing ends the batch; the caller recollects and
    continues — each collection certifies at least the first argmax,
    so progress is guaranteed.
    """
    import heapq

    h: dict[tuple[str, str], int] = {}
    index: dict[tuple[str, str], set] = {}
    for w, (syms, f) in head.items():
        for p in zip(syms, syms[1:]):
            h[p] = h.get(p, 0) + f
            index.setdefault(p, set()).add(w)
    ti: dict[tuple[str, str], tuple[int, int]] = {}
    for p, gc in global_pairs.items():
        t = gc - h.get(p, 0)
        if t > 0:
            ti[p] = (t, t)
    for p, hc in h.items():
        if p not in global_pairs and cutoff > hc:
            # pair below the collection cutoff: tail ∈ [0, cutoff − h]
            ti[p] = (0, cutoff - hc)
    taint: dict[str, int] = {}

    def lo(p):
        return h.get(p, 0) + ti.get(p, (0, 0))[0]

    def hi(p):
        return (
            h.get(p, 0)
            + ti.get(p, (0, 0))[1]
            + taint.get(p[0], 0)
            + taint.get(p[1], 0)
        )

    # symbol → tracked pairs containing it: when taint[s] rises, every
    # pair containing s gets a higher hi() and must be RE-PUSHED, or the
    # lazy-deletion check discards all its now-stale-low heap entries and
    # the pair becomes invisible to the competitor scan (certification
    # could then emit a merge that is not the true argmax — falsified by
    # the aba-collision regression test before this index existed)
    sym_pairs: dict[str, set] = {}

    def _track(p):
        sym_pairs.setdefault(p[0], set()).add(p)
        sym_pairs.setdefault(p[1], set()).add(p)

    for p in set(h) | set(ti):
        _track(p)
    lo_heap = [(-lo(p), p) for p in set(h) | set(ti)]
    hi_heap = [(-hi(p), p) for p in set(h) | set(ti)]
    heapq.heapify(lo_heap)
    heapq.heapify(hi_heap)

    def push(p):
        _track(p)
        heapq.heappush(lo_heap, (-lo(p), p))
        heapq.heappush(hi_heap, (-hi(p), p))

    ghost_bound = 0  # max taint: pairs we never enumerated
    out: list[tuple[str, str, int]] = []
    while len(out) < max_merges:
        # current argmax by lower bound (heap ties = lexicographic)
        p1 = None
        while lo_heap:
            negv, p = lo_heap[0]
            if -negv != lo(p) or (h.get(p, 0) == 0 and p not in ti):
                heapq.heappop(lo_heap)
                continue
            p1 = p
            break
        if p1 is None:
            break
        c = lo(p1)
        if c <= 0 or c <= cutoff or c <= ghost_bound:
            break
        tlo1, thi1 = ti.get(p1, (0, 0))
        if tlo1 != thi1 or taint.get(p1[0], 0) or taint.get(p1[1], 0):
            break  # pair_freq would be inexact
        # strongest competitor by upper bound
        stash = []
        comp = None
        while hi_heap:
            negv, p = hi_heap[0]
            if -negv != hi(p) or (h.get(p, 0) == 0 and p not in ti):
                heapq.heappop(hi_heap)
                continue
            if p == p1:
                stash.append(heapq.heappop(hi_heap))
                continue
            comp = (-negv, p)
            break
        for e in stash:
            heapq.heappush(hi_heap, e)
        if comp is not None:
            cv, q = comp
            if cv > c or (cv == c and not (p1 < q)):
                break
        l, r = p1
        lr = l + r
        out.append((l, r, c))
        # --- tail state BEFORE head mutation (taint feeds the pushes
        # the head update performs for pairs involving lr) ---
        d_lo, d_hi = ti.pop((l, r), (0, 0))
        d_eff = d_hi + taint.get(l, 0) + taint.get(r, 0)
        if d_eff > 0:
            # tail occurrences of (l, r) also merged: adjacent tail
            # pairs may have lost up to min(their thi, d_eff); every
            # pair containing the new token lr may hold up to d_eff
            # unseen tail occurrences (taint), including pairs we
            # never enumerated (ghost bound)
            if d_eff > taint.get(lr, 0):
                taint[lr] = d_eff
                # lr may ALREADY exist as a tracked symbol when a later
                # merge recreates the same token string (e.g. ('a','ba')
                # then ('ab','a') both yield 'aba'): every tracked pair
                # containing lr just gained hi() and needs fresh heap
                # entries to stay visible as a competitor
                for p in list(sym_pairs.get(lr, ())):
                    push(p)
            ghost_bound = max(ghost_bound, d_eff)
            for p, (plo, phi) in list(ti.items()):
                a, b = p
                if b == l or a == r:
                    dmax = min(phi + taint.get(a, 0) + taint.get(b, 0), d_eff)
                    ti[p] = (max(0, plo - dmax), phi)
                    push(p)
        push((l, r))
        # --- head: fuse in affected words only (inverted index) ---
        for w in list(index.get((l, r), ())):
            syms, f = head[w]
            old = list(zip(syms, syms[1:]))
            syms = _apply_merge_py(syms, l, r)
            head[w] = (syms, f)
            new = list(zip(syms, syms[1:]))
            for p in old:
                h[p] -= f
                if h[p] <= 0:
                    h.pop(p, None)
                index.get(p, set()).discard(w)
                push(p)
            for p in new:
                h[p] = h.get(p, 0) + f
                index.setdefault(p, set()).add(w)
                push(p)
    return out


def bpe_train_batched(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 1000,
    head_words: int = 65536,
    top_pairs: int = 65536,
    apply_chunk: int = 16,
    _stats: dict | None = None,
) -> DataFrame:
    """Production-vocabulary BPE training: identical output to
    `bpe_train` (same merges, same order, same pair_freq — the
    agreement test pins this), but the per-merge cost is amortized:
    one Spark ROUND (global pair aggregate + top-`head_words` word
    collection) certifies as many sequential merges as the collected
    slice can prove, instead of one round per merge.

    How: each round collects (a) the exact global pair-count table
    (top-`top_pairs`, with the cutoff bounding everything below) and
    (b) the `head_words` most frequent words. The driver then replays
    EXACT sequential BPE over the head (`_certified_merges`), keeping
    a per-pair interval for the uncollected tail's contribution; every
    emitted merge is provably the global argmax with its exact global
    count. When certification runs dry the batch is applied to the
    distributed vocabulary table (chunked merge folds + checkpoint)
    and the next round recollects. Guaranteed ≥1 merge per round
    (the first argmax after a collection is always exact), so the
    worst case degrades to `bpe_train`'s round-per-merge; when the
    head covers the corpus vocabulary the whole training finishes in
    ONE round (32k merges = 1 aggregate + 1 collect + a local replay,
    not 32k Spark jobs). Rounds-vs-coverage measured in SCALING.md.

    At 100 TB: the corpus pass is the same single
    `word_freq_table` aggregate `bpe_train` does; per round the
    top-pair aggregate shuffles vocabulary-sized data and the head
    collection is bounded by `head_words` — driver memory is
    O(head_words · word_len + top_pairs), independent of corpus size.
    """
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    spark = df.sparkSession
    # scale-adaptive driver path (the kmeans_train discipline): when
    # the corpus backing files are within the trainer byte budget AND
    # the caller did NOT truncate the head (truncation is an explicit
    # request for the bounded-driver-memory recollection discipline —
    # the docs_bpe_merges_80 benchmark measures exactly that path),
    # collect the word-frequency table once and run exact sequential
    # BPE driver-side. Identical output by the same argument as the
    # batched certification: all counts are exact integers, the argmax
    # tie-break is (cnt DESC, l ASC, r ASC), and `_apply_merge_py`
    # mirrors `_apply_merge`. Replaces the checkpoint + 2 collects per
    # round with ONE collect.
    if head_words >= 65536 and top_pairs >= 65536:
        from social_media_data_pipeline_spark.functions.kmeans import (
            _driver_train_budget,
        )
        from social_media_data_pipeline_spark.io import input_backing_bytes

        backing = input_backing_bytes(df)
        if backing is not None and backing <= _driver_train_budget(spark):
            vocab = [
                [list(r["syms"]), int(r["freq"])]
                for r in word_freq_table(df, text_col).collect()
            ]
            merges_d: list[tuple[int, str, str, int]] = []
            rounds_d = 0
            while len(merges_d) < num_merges:
                rounds_d += 1
                cnts: dict[tuple[str, str], int] = {}
                for syms, freq in vocab:
                    for i in range(len(syms) - 1):
                        p = (syms[i], syms[i + 1])
                        cnts[p] = cnts.get(p, 0) + freq
                if not cnts:
                    break
                (l, r), cnt = min(
                    cnts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
                )
                merges_d.append((len(merges_d), l, r, cnt))
                for w in vocab:
                    w[0] = _apply_merge_py(w[0], l, r)
            if _stats is not None:
                _stats["rounds"] = rounds_d
                _stats["batch_sizes"] = [1] * len(merges_d)
            return spark.createDataFrame(
                merges_d,
                "merge_rank int, lhs string, rhs string, pair_freq bigint",
            )
    words = word_freq_table(df, text_col).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    rounds = 0
    batch_sizes: list[int] = []
    while len(merges) < num_merges:
        rounds += 1
        syms = F.col("syms")
        n = F.size(syms) - 1
        pairs = (
            words.filter(F.size(syms) >= 2)
            .select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice(syms, 1, n),
                        F.slice(syms, 2, n),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(top_pairs + 1)
            .collect()
        )
        if not pairs:
            break
        cutoff = int(pairs[top_pairs]["cnt"]) if len(pairs) > top_pairs else 0
        gp = {(row["l"], row["r"]): int(row["cnt"]) for row in pairs[:top_pairs]}
        head_rows = (
            words.orderBy(F.desc("freq"), F.asc("w")).limit(head_words).collect()
        )
        head = {row["w"]: (list(row["syms"]), int(row["freq"])) for row in head_rows}
        batch = _certified_merges(head, gp, cutoff, num_merges - len(merges))
        if not batch:
            # certification could not even confirm the first argmax
            # (only possible with a non-zero cutoff tie): fall back to
            # one exact global merge — the collected top-1 IS the
            # global argmax because collection order matches tie-break
            row = pairs[0]
            batch = [(row["l"], row["r"], int(row["cnt"]))]
        for l, r, cnt in batch:
            merges.append((len(merges), l, r, cnt))
        batch_sizes.append(len(batch))
        if len(merges) >= num_merges:
            break  # no need to apply: the merge table is complete
        for i in range(0, len(batch), apply_chunk):
            col = F.col("syms")
            for l, r, _ in batch[i : i + apply_chunk]:
                col = _apply_merge(col, l, r)
            words = words.withColumn("syms", col).localCheckpoint()
    if _stats is not None:
        _stats["rounds"] = rounds
        _stats["batch_sizes"] = batch_sizes
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_freq bigint"
    )


def bpe_vocab(
    df: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """(w, syms): final BPE segmentation of every distinct corpus word —
    the merges replay over the VOCABULARY (once per distinct word), not
    the token stream. Encoding a corpus is then a broadcast join of
    tokens against this table, which is how a production encoder
    amortizes at 100 TB: fold work ∝ vocab, corpus work ∝ one join."""
    words = (
        df.select(F.explode(tokenize(text_col)).alias("w"))
        .filter(F.length("w") > 0)
        .distinct()
    )
    syms = F.split("w", "")
    for left, right in merges:
        syms = _apply_merge(syms, left, right)
    return words.select("w", syms.alias("syms"))


def bpe_encode_corpus(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Corpus encoding via the vocabulary join — the DEFAULT encoder
    for bulk corpora: the merge fold runs once per DISTINCT word
    (`bpe_vocab`), and the token stream broadcast-joins against that
    table (measured ~4× faster than a per-token merge replay at sf0.1;
    the gap widens with corpus/vocab ratio, i.e. with scale). Returns
    (id_col, n_words, out_col) with tokens reassembled in document
    order; documents with no tokens are absent (inner join semantics).
    The vocabulary is built from `df` itself, so every word is in it.
    """
    vocab = bpe_vocab(df, merges, text_col)
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.filter(tokenize(text_col), lambda w: F.length(w) > 0)).alias(
            "__p", "w"
        ),
    )
    return (
        toks.join(F.broadcast(vocab), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__p", "syms"))),
                    lambda x: x["syms"],
                )
            ).alias(out_col),
        )
    )


def build_oracle_sql(num_merges: int) -> str:
    """Generated DuckDB SQL replaying the exact training loop, round by
    round: per-round argmax with the same tie-break, then merge
    application via islands-parity windows — within each maximal run of
    consecutive match positions, merges fire at odd run-ranks, which is
    exactly what the left-to-right fold produces (overlap only arises
    when lhs == rhs). One CTE chain per round; the final SELECT unions
    the per-round argmax rows into the merge table."""
    parts = [
        """WITH w0 AS MATERIALIZED (
    SELECT w, COUNT(*)::BIGINT AS freq, regexp_split_to_array(w, '') AS syms
    FROM (
        SELECT unnest(string_split_regex(lower(trim(coalesce(text, ''))),
                                         '\\s+')) AS w
        FROM documents
    ) WHERE length(w) > 0 GROUP BY w
)"""
    ]
    for k in range(num_merges):
        parts.append(
            f""", b{k} AS MATERIALIZED (
    SELECT l, r, cnt FROM (
        SELECT syms[i] AS l, syms[i + 1] AS r, SUM(freq)::BIGINT AS cnt
        FROM w{k}, LATERAL unnest(generate_series(1, len(syms) - 1)) AS g(i)
        WHERE len(syms) >= 2
        GROUP BY 1, 2
    ) ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
), e{k} AS MATERIALIZED (
    SELECT w, freq, i, syms[i] AS s, syms[i + 1] AS s_next,
           COALESCE(syms[i] = b.l AND syms[i + 1] = b.r, FALSE) AS marked
    FROM w{k}, LATERAL unnest(generate_series(1, len(syms))) AS g(i), b{k} AS b
), a{k} AS MATERIALIZED (
    SELECT w, freq, i, s, s_next,
           CASE WHEN marked THEN
               ROW_NUMBER() OVER (PARTITION BY w, isl ORDER BY i) % 2 = 1
           ELSE FALSE END AS active
    FROM (
        SELECT *, CASE WHEN marked THEN
                      i - ROW_NUMBER() OVER (PARTITION BY w, marked ORDER BY i)
                  END AS isl
        FROM e{k}
    )
), m{k} AS MATERIALIZED (
    SELECT w, freq, i,
           CASE WHEN active THEN s || s_next
                WHEN lag(active, 1, FALSE) OVER (PARTITION BY w ORDER BY i)
                    THEN NULL
                ELSE s END AS out
    FROM a{k}
), w{k + 1} AS MATERIALIZED (
    SELECT w, ANY_VALUE(freq) AS freq,
           list(out ORDER BY i) FILTER (WHERE out IS NOT NULL) AS syms
    FROM m{k} GROUP BY w
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS merge_rank, l AS lhs, r AS rhs, cnt AS pair_freq FROM b{k}"
        for k in range(num_merges)
    )
    parts.append(f"\nSELECT * FROM (\n{union}\n) ORDER BY merge_rank")
    return "".join(parts)


def build_encode_oracle_sql(num_merges: int) -> str:
    """Generated DuckDB oracle for `bpe_encode_corpus` composed with
    `bpe_train`: every corpus word appears in the trained vocabulary,
    so encoding a document is a lookup of each word's FINAL symbol
    array in w{num_merges} — the same CTE chain as the training oracle,
    with the final select joining exploded document tokens back to the
    trained word states. Output: (doc_id, n_words, n_bpe_tokens)."""
    chain = build_oracle_sql(num_merges)
    # strip the training oracle's final SELECT (after the last CTE ')')
    cut = chain.rfind("\nSELECT * FROM (")
    return (
        chain[:cut]
        + f"""
, doc_words AS (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(coalesce(text, ''))),
                                     '\\s+')) AS w
    FROM documents
)
SELECT doc_id,
       COUNT(*)::BIGINT AS n_words,
       SUM(len(v.syms))::BIGINT AS n_bpe_tokens
FROM doc_words d JOIN w{num_merges} v USING (w)
GROUP BY doc_id
ORDER BY doc_id"""
    )


def build_fertility_oracle_sql(num_merges: int) -> str:
    """Generated DuckDB oracle for per-language tokenizer FERTILITY
    (BPE tokens per word — the metric that prices multilingual
    training cost: a language with fertility 2× consumes 2× the
    sequence budget per word, Rust et al. 2021 "How Good is Your
    Tokenizer?"): the training CTE chain, per-doc encode lookups, then
    language-grain sums with ONE rounded division per language."""
    chain = build_oracle_sql(num_merges)
    cut = chain.rfind("\nSELECT * FROM (")
    return (
        chain[:cut]
        + f"""
, doc_words AS (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(coalesce(text, ''))),
                                     '\\s+')) AS w
    FROM documents
), per_doc AS (
    SELECT doc_id,
           COUNT(*)::BIGINT AS n_words,
           SUM(len(v.syms))::BIGINT AS n_bpe
    FROM doc_words d JOIN w{num_merges} v USING (w)
    GROUP BY doc_id
)
SELECT l.lang,
       COUNT(*)::BIGINT AS n_docs,
       SUM(p.n_words)::BIGINT AS n_words,
       SUM(p.n_bpe)::BIGINT AS n_bpe_tokens,
       ROUND(SUM(p.n_bpe)::DOUBLE / SUM(p.n_words), 6) AS fertility
FROM per_doc p
JOIN documents l USING (doc_id)
GROUP BY l.lang
ORDER BY l.lang"""
    )


def build_fertility_mixture_oracle_sql(
    num_merges: int, target_micro: int = 500_000, seed: str = "temp-mix-v1"
) -> str:
    """Generated DuckDB oracle for FERTILITY-CORRECTED temperature
    mixing: the fertility chain's per-language BPE token masses feed
    the α=0.5 threshold arithmetic of `temperature_mixture_sample`
    (sampling ∝ token-mass^½, not doc-count^½ — the correction Rust et
    al. 2021 motivates: a 2×-fertility language eats 2× sequence
    budget per doc, so balancing doc counts over-samples it in token
    space). Same HUGEINT exact-threshold replay as the
    docs_temperature_mixture oracle, keyed on lang with token masses."""
    chain = build_oracle_sql(num_merges)
    cut = chain.rfind("\nSELECT * FROM (")
    return (
        chain[:cut]
        + f"""
, doc_words AS (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(coalesce(text, ''))),
                                     '\\s+')) AS w
    FROM documents
), per_doc AS (
    SELECT doc_id, SUM(len(v.syms))::BIGINT AS n_bpe
    FROM doc_words d JOIN w{num_merges} v USING (w)
    GROUP BY doc_id
), lhist AS (
    SELECT l.lang, SUM(p.n_bpe)::BIGINT AS t
    FROM per_doc p JOIN documents l USING (doc_id)
    GROUP BY l.lang
), sv AS (
    SELECT lang, t, FLOOR(SQRT(t) * 1000000 + 0.5)::BIGINT AS s FROM lhist
), tot AS (
    SELECT SUM(t)::HUGEINT AS big_t, SUM(s)::HUGEINT AS big_s FROM sv
), th AS (
    SELECT lang,
           LEAST(1000000,
                 (({target_micro}::HUGEINT * tot.big_t * sv.s)
                  // (tot.big_s * sv.t))::BIGINT) AS thr
    FROM sv, tot
)
SELECT d.doc_id, d.lang
FROM documents d JOIN th USING (lang)
WHERE ('0x' || substr(md5('{seed}:' || d.doc_id), 1, 8))::BIGINT
      % 1000000 < th.thr
ORDER BY d.doc_id"""
    )
