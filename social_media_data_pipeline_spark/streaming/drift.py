"""Streaming distribution-drift monitoring: the incremental form of
`aggregates.histogram_drift`.

The batch operator rescans history through cumulative windows; a
stream cannot. The state that makes drift incremental is exactly the
baseline HISTOGRAM — per-(group, bin) counts, a mergeable structure
(counts add), node-count-sized in bins × groups no matter how many
events produced it (the band-store/label-store economics a third
time). Each micro-batch:

    batch → per-(group, bin) counts               — one partial agg
          → L1 vs the STORED baseline             — integer
            cross-multiplied, one division/group    (the batch
                                                     operator's
                                                     exactness rule)
          → counts MERGE into the baseline store  — manifest commit

A batch's drift is judged against everything seen BEFORE it (the same
"first batch has no baseline" contract as the batch operator), and the
store update is idempotent per batch id when the caller wires
checkpointing — the counts table commits through `scale.fold_store`,
the CAS retry-and-remerge path the spectrum store shares.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from social_media_data_pipeline_spark import scale


def drift_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    baseline_path: str,
    value_col: str,
    bin_width: float,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One monitoring cycle: returns (group…, n_day, n_base, l1_drift)
    for THIS batch vs the stored baseline (empty when no baseline yet —
    unknown, not zero), then merges the batch's counts into the store.
    Returns a MATERIALIZED (collected-to-local) DataFrame so callers
    read it after the store has moved on."""
    g = list(group_cols)
    bin_expr = (
        F.floor(F.col(value_col) / F.lit(bin_width)).cast("long").alias("bin")
    )
    counts = (
        batch_df.select(*[F.col(c) for c in g], bin_expr)
        .groupBy(*g, "bin")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    # the baseline is read STRICTLY through the manifest (read_store):
    # before generation 0 lands, a racing monitor's renamed-in counts
    # files already sit in the directory, and a glob would count them
    files, base_gen, _ = scale.read_store(baseline_path)
    stored = spark.read.parquet(*files) if files else None
    base = (counts.limit(0) if stored is None else stored).withColumnRenamed(
        "c", "b"
    )
    joined = counts.join(base, [*g, "bin"], "full_outer").fillna(
        0, subset=["c", "b"]
    )
    totals = joined.groupBy(*g).agg(
        F.sum("c").alias("n_day"), F.sum("b").alias("n_base")
    )
    term = F.abs(F.col("c") * F.col("n_base") - F.col("b") * F.col("n_day"))
    out = (
        joined.join(totals, g) if g else joined.crossJoin(totals)
    )
    result = (
        out.groupBy(*g, "n_day", "n_base")
        .agg(F.sum(term).alias("__num"))
        .filter((F.col("n_base") > 0) & (F.col("n_day") > 0))
        .select(
            *g,
            "n_day",
            "n_base",
            F.round(
                F.col("__num") / (F.col("n_day") * F.col("n_base")), 6
            ).alias("l1_drift"),
        )
    )
    result = spark.createDataFrame(result.collect(), result.schema)
    # merge batch counts into the baseline store (counts are a
    # commutative monoid — the same mergeability the ANN fingerprint
    # and KMV/HLL sketches lean on). CAS + retry: two monitors sharing
    # one store both read generation N and both merge; without the
    # CAS the second manifest flip would silently DROP the first
    # batch's counts from the baseline forever. fold_store re-merges
    # the (localCheckpoint-pinned) batch counts against the NEW live
    # baseline on a lost CAS — every batch lands exactly once.
    scale.fold_store(
        spark,
        baseline_path,
        "counts",
        lambda prev: counts if prev is None else (
            prev.unionByName(counts).groupBy(*g, "bin")
            .agg(F.sum("c").alias("c"))
        ),
        first=(stored, base_gen),
    )
    return result
