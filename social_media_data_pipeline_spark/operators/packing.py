"""Sequence packing for training-data preparation.

A training pipeline turns variable-length documents into fixed-budget
token sequences. This operator assigns every document a (sequence id,
offset) under CONTIGUOUS packing: documents are laid out in a
deterministic order inside each group, and a document starting at
global token offset `s` lands in sequence ``s // budget`` at offset
``s % budget``. Documents longer than the budget simply span sequences
(the training-side chunker splits at the boundary) — this is the
layout T5/GPT-style pretraining loaders use, and unlike bin-packing
heuristics it is a pure window expression: deterministic, shuffle-once,
and oracle-checkable in any SQL engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pack_sequences(
    docs: DataFrame,
    id_col: str,
    tokens_col: str | Column,
    budget: int,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """Assign (seq_id, seq_offset) to every document.

    - `tokens_col`: per-document token count (column name or expression,
      e.g. `functions.text.token_count("text")`).
    - `group_col`: packing domain — sequences never mix groups (pack per
      language, per source, per shard). With a group the window is
      `partitionBy(group)` → one shuffle, groups pack in parallel.
      Without one the layout is a single global prefix sum: correct,
      but the sort serializes — at 100 TB ALWAYS pack per shard (derive
      a shard key from `hash(id) % n_shards` and pass it here; each
      shard's sequences are independent, which is exactly what a
      distributed training loader wants).

    Returns the input plus `n_tokens`, `seq_id`, `seq_offset`.
    """
    toks = (F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col).cast(
        "long"
    )
    part = [group_col] if group_col else []
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = docs.withColumn("n_tokens", toks)
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("_start")
    out = out.withColumn("_start", start)
    out = out.withColumn(
        "seq_id", F.floor(F.col("_start") / F.lit(budget)).cast("long")
    ).withColumn("seq_offset", (F.col("_start") % F.lit(budget)).cast("long"))
    return out.drop("_start")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Sliding-window document chunking — the RAG/embedding-prep
    operator: split every document into `chunk_tokens`-token windows
    with `overlap` shared tokens between consecutive chunks. The last
    chunk keeps whatever remains (never empty, never duplicated); a
    document shorter than one chunk yields exactly one chunk.

    Output: (id, chunk_id, token_start, n_tokens, chunk_text), with
    `token_start = chunk_id * (chunk_tokens - overlap)` so byte/token
    provenance survives into the vector store.

    Scale shape (100 TB): the whole operator is ONE map-side
    projection — tokenize, `sequence` over chunk ids, `transform` +
    `slice` to cut windows, `posexplode` to rows. No shuffle, no UDF,
    no window function; Catalyst fuses it into the scan stage, and
    downstream embedding/upsert stages key on (id, chunk_id).
    """
    from social_media_data_pipeline_spark.functions.text import tokenize

    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap} vs {chunk_tokens}"
        )
    step = chunk_tokens - overlap
    toks = tokenize(text_col)
    n = F.size(toks)
    # number of windows whose start < n and that add new tokens:
    # 1 + ceil(max(n - chunk_tokens, 0) / step)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - F.lit(chunk_tokens), F.lit(0)) / F.lit(float(step))
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            (i * step).alias("token_start"),
            F.slice(toks, i * step + 1, chunk_tokens).alias("toks"),
        ),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(chunks).alias("chunk_id", "c"),
    ).select(
        "id",
        "chunk_id",
        F.col("c.token_start").alias("token_start"),
        F.size("c.toks").alias("n_tokens"),
        F.array_join("c.toks", " ").alias("chunk_text"),
    )


def assign_training_shards(
    df: DataFrame,
    id_col: str,
    token_col,
    tokens_per_shard: int,
    seed: str = "shards-v1",
    num_buckets: int | None = None,
    out_col: str = "shard",
) -> DataFrame:
    """Fixed-token-budget output sharding — the final-mile layout of a
    training corpus: documents in deterministic shuffle order are
    packed greedily into shards of ~`tokens_per_shard` (each document
    lands in the shard its cumulative START offset falls in; a shard
    overruns by at most one document, the standard contract).

    The global token prefix-sum is decomposed exactly like
    `splits.deterministic_shuffle`'s rank: fixed equal-width md5 key
    ranges → per-bucket token totals (a bucket-count-row broadcast) →
    within-bucket cumulative window. No global window, no single-task
    sort — at 100 TB the only shuffle is the per-bucket window, and
    the offsets table stays driver-tiny. Integer arithmetic end to
    end → the assignment replays exactly in SQL (docs_training_shards
    oracle)."""
    from social_media_data_pipeline_spark.operators.splits import fingerprint32

    if tokens_per_shard <= 0:
        raise ValueError(f"need tokens_per_shard > 0, got {tokens_per_shard}")
    n = num_buckets or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    width = (1 << 32) // n + 1
    toks = (token_col if not isinstance(token_col, str) else F.col(token_col)).cast(
        "bigint"
    )
    keyed = (
        df.withColumn("__toks", toks)
        .withColumn("__skey", fingerprint32(id_col, seed))
        .withColumn("__bucket", (F.col("__skey") / width).cast("int"))
    )
    sums = (
        keyed.groupBy("__bucket").agg(F.sum("__toks").alias("s")).collect()
    )
    offsets, acc = {}, 0
    for r in sorted(sums, key=lambda r: r["__bucket"]):
        offsets[r["__bucket"]] = acc
        acc += r["s"]
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    local = Window.partitionBy("__bucket").orderBy("__skey", id_col)
    start = (
        off[F.col("__bucket")]
        + F.sum("__toks").over(local)
        - F.col("__toks")
    )
    return (
        keyed.withColumn("__start", start.cast("bigint"))
        .withColumn(out_col, F.expr(f"__start div {tokens_per_shard}").cast("bigint"))
        .drop("__toks", "__skey", "__bucket", "__start")
    )


def pack_bestfit(
    docs: DataFrame,
    id_col: str,
    tokens_col: str | Column,
    budget: int,
    n_shards: int,
    *,
    seed: str = "bestfit-v1",
) -> DataFrame:
    """Best-fit-decreasing WHOLE-DOCUMENT packing → (id, n_tokens,
    shard, bin_id): every document lands entirely inside one
    `budget`-token bin, no document is ever split across sequences —
    the truncation-free layout of Ding et al. 2024 ("Fewer Truncations
    Improve Language Modeling"), the complement of `pack_sequences`'
    contiguous split-at-boundary layout. Documents LONGER than the
    budget get a dedicated bin each (`oversize = true`); the
    training-side loader decides whether to truncate or skip them.

    Shape: documents are hashed into `n_shards` independent shards
    (md5 of the id + seed — deterministic, reproducible across runs
    and partitionings); within a shard, best-fit-decreasing runs as a
    per-shard `applyInPandas`. BFD is inherently sequential (each
    placement depends on every earlier bin fill), so this is the
    documented Pandas-UDF boundary — the state is per-shard bin
    fills, bounded by shard size, never corpus-wide. Placement is
    fully deterministic: docs descend by (n_tokens, id); the chosen
    bin is the FULLEST bin that still fits (leftmost (remaining,
    bin_id) with remaining ≥ size), ties to the lowest bin_id.

    At 100 TB: `n_shards` bounds both the Arrow batch (one shard's
    (id, n_tokens) pairs — 16 bytes/doc, so even 10M-doc shards are
    ~160 MB driver-free executor state) and the packing locality a
    distributed loader consumes; shards pack in parallel with ONE
    hash-partition shuffle. Bin ids are globally unique as
    (shard, bin_id) pairs.
    """
    import pandas as pd

    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    toks = (F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col).cast(
        "long"
    )
    base = docs.select(
        F.col(id_col).alias("id"),
        toks.alias("n_tokens"),
        F.pmod(
            F.conv(F.substring(F.md5(F.concat_ws("|", F.lit(seed), F.col(id_col).cast("string"))), 1, 15), 16, 10).cast("bigint"),
            F.lit(n_shards),
        ).cast("int").alias("shard"),
    )

    out_schema = (
        "id " + dict(base.dtypes)["id"]
        + ", n_tokens bigint, shard int, bin_id bigint, oversize boolean"
    )

    def _bfd(pdf: pd.DataFrame) -> pd.DataFrame:
        import bisect

        pdf = pdf.sort_values(
            ["n_tokens", "id"], ascending=[False, True], kind="mergesort"
        )
        # sorted list of (remaining, bin_id); best fit = leftmost
        # entry with remaining >= size (smallest qualifying remaining,
        # lowest bin_id among equals)
        open_bins: list[tuple[int, int]] = []
        next_bin = 0
        bin_ids, oversize = [], []
        for size in pdf["n_tokens"].to_numpy():
            size = int(size)
            if size > budget:
                bin_ids.append(next_bin)
                oversize.append(True)
                next_bin += 1  # dedicated bin, never reopened
                continue
            i = bisect.bisect_left(open_bins, (size, -1))
            if i < len(open_bins):
                rem, b = open_bins.pop(i)
                new_rem = rem - size
                if new_rem > 0:
                    bisect.insort(open_bins, (new_rem, b))
                bin_ids.append(b)
            else:
                b = next_bin
                next_bin += 1
                new_rem = budget - size
                if new_rem > 0:
                    bisect.insort(open_bins, (new_rem, b))
                bin_ids.append(b)
            oversize.append(False)
        pdf = pdf.assign(bin_id=bin_ids, oversize=oversize)
        return pdf[["id", "n_tokens", "shard", "bin_id", "oversize"]]

    return base.groupBy("shard").applyInPandas(_bfd, out_schema)


def packing_stats(packed: DataFrame, budget: int) -> DataFrame:
    """Packing-efficiency dashboard over `pack_bestfit` output →
    one row per shard: bins used, docs, token totals, waste fraction
    (1 − fill/capacity over non-oversize bins). Pure aggregate —
    compare against `pack_sequences`' zero-waste-but-splitting layout
    to price the truncation-free property in padding tokens.
    """
    nb = F.countDistinct(F.when(~F.col("oversize"), F.col("bin_id")))
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens")).alias("total_tokens"),
            nb.alias("bins_used"),
            F.sum(F.col("oversize").cast("long")).alias("n_oversize"),
            F.sum(F.when(~F.col("oversize"), F.col("n_tokens")).otherwise(F.lit(0))).alias("packed_tokens"),
        )
        .withColumn(
            "waste_frac",
            F.when(
                F.col("bins_used") > 0,
                F.round(
                    F.lit(1.0)
                    - F.col("packed_tokens")
                    / (F.col("bins_used") * F.lit(float(budget))),
                    6,
                ),
            ).otherwise(F.lit(0.0)),
        )
    )
