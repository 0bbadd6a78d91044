"""Streaming covariance/spectrum accumulation: the incremental form of
`functions/pca.covariance_micro`.

The integer Gram partials (i, j, sxy, n) are a commutative monoid —
exactly the property that made the ANN fingerprint incremental — so a
stream can fold each micro-batch's partials into a manifest-committed
store and the accumulated
covariance is BIT-IDENTICAL to a batch recompute over everything ever
seen (no approximation, no order dependence: integer sums). This is
the embedding-drift monitoring loop at ingest: the spectrum of the
accumulated covariance is the signal (eigenvalue shifts = the
embedding model or the corpus moved), and `pca.pca_components`-style
driver eigh reads it at any time.

Store layout/commit discipline: `scale.fold_store` rewrites the whole
store as one `gram-` file under a CAS manifest flip (EXPECT_ABSENT for
generation 0) and re-merges on a lost race; reads go STRICTLY through
the manifest (`scale.read_store`).

Overflow discipline: a single BATCH's Gram pass stays int64 (the
covariance_micro per-partition headroom bound applies to each
micro-batch), but the STORE accumulates sxy forever — with micro-
quantized unit-scale embeddings each row adds ~1e12 per cell, so an
int64 store would silently wrap around 1e7 rows (Spark's non-ANSI
sum wraps, no error). The store therefore carries sxy as
DECIMAL(38,0) — exact integer sums with ~1e26-row headroom — and
every merge folds the batch's int64 partials into the decimal
column. `n` stays BIGINT (it counts rows, not products).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from social_media_data_pipeline_spark import scale


def spectrum_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    store: str,
    vec_col: str = "embedding",
    d: int | None = None,
) -> None:
    """Fold one micro-batch's EXACT integer Gram partials into the
    store. Batch cost: one Gram pass over the batch + a store-sized
    (d(d+1)/2 + d + 1 rows) merge + CAS commit; a lost race re-reads
    and re-merges the pinned batch partials (integer sums — retries
    land every batch exactly once)."""
    dd = d
    if dd is None:
        first = (
            batch_df.select(F.size(F.col(vec_col)).alias("d"))
            .limit(1)
            .collect()
        )
        if not first:
            return  # empty batch: nothing to fold
        dd = int(first[0]["d"])
    # the covariance_micro mapInPandas pass, pinned so CAS retries
    # re-merge the SAME batch partials
    batch_partials = _gram_partials(batch_df, vec_col, dd).localCheckpoint(
        eager=True
    )
    fold_partials(spark, batch_partials, store)


def fold_partials(
    spark: SparkSession, batch_partials: DataFrame, store: str
) -> None:
    """Fold one PINNED partial table (i, j, sxy, n) into the store
    under the CAS retry discipline — the commit half of
    `spectrum_batch`, exposed so callers that already computed (and
    inspected) the batch's partials fold the SAME frame they measured
    (`spectrum_drift_alarm`)."""
    # widen the batch's int64 partials to the store's DECIMAL(38,0)
    # BEFORE any fold: the store's lifetime sums outgrow int64 (see
    # module docstring), and sum(decimal(38,0)) stays decimal(38,0)
    batch_dec = batch_partials.withColumn(
        "sxy", F.col("sxy").cast("decimal(38,0)")
    )
    scale.fold_store(
        spark,
        store,
        "gram",
        lambda base: batch_dec if base is None else (
            base.unionByName(batch_dec)
            .groupBy("i", "j")
            .agg(F.sum("sxy").alias("sxy"), F.sum("n").alias("n"))
        ),
    )


def _gram_partials(df: DataFrame, vec_col: str, d: int) -> DataFrame:
    """The (i, j, sxy, n) partial table for one frame — the shared
    exact-integer Gram monoid (`functions/pca.gram_partials`)."""
    from social_media_data_pipeline_spark.functions import pca as _pca

    return _pca.gram_partials(df, vec_col, d)


def covariance_from_store(spark: SparkSession, store: str) -> DataFrame:
    """(i, j, cov) from the accumulated store — the SAME fixed-order
    double finalize as `covariance_micro`, so the streaming-folded
    result is bit-identical to a batch recompute over all data."""
    files, _gen, _meta = scale.read_store(store)
    if not files:
        raise ValueError(f"spectrum: no committed store at {store}")
    base = spark.read.parquet(*files)
    n_total = base.filter((F.col("i") == 0) & (F.col("j") == -1)).select(
        F.col("n").alias("__n")
    )
    sums = base.filter(F.col("j") == -1).select(
        F.col("i").alias("si"), F.col("sxy").alias("sx")
    )
    pairs = base.filter(F.col("j") >= 0).select("i", "j", "sxy")
    n_lit = F.col("__n").cast("bigint")
    return (
        pairs.crossJoin(F.broadcast(n_total))
        .join(F.broadcast(sums).withColumnRenamed("si", "i"), "i")
        .withColumnRenamed("sx", "sx_i")
        .join(
            F.broadcast(sums)
            .withColumnRenamed("si", "j")
            .withColumnRenamed("sx", "sx_j"),
            "j",
        )
        .select(
            "i",
            "j",
            # + 0.0 canonicalizes IEEE -0.0 (same emission convention
            # as covariance_micro — see its comment)
            (
                F.round(
                    (
                        F.col("sxy").cast("double") / n_lit
                        - (F.col("sx_i").cast("double") / n_lit)
                        * (F.col("sx_j").cast("double") / n_lit)
                    )
                    / F.lit(1e12),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def spectrum_drift_alarm(
    spark: SparkSession,
    batch_df: DataFrame,
    store: str,
    vec_col: str = "embedding",
    top_k: int = 8,
    tol: float = 0.25,
    fold: bool = True,
) -> dict:
    """Compare THIS batch's covariance spectrum against the store's
    accumulated history, then (by default) fold the batch in. Returns
    {"drift": float | None, "alarm": bool, "folded": int}.

    The alarm is the documented REBUILD TRIGGER for appended ANN
    artifacts (SCALING r10): when the embedding model or the corpus
    distribution moves, the batch's top eigenvalues diverge from the
    history the index was trained on. Drift = max over the top_k
    history eigenvalues of |λ_batch − λ_hist| / max(λ_hist_i,
    λ_hist_0 · 1e-3) — relative per-direction change with a floor so
    near-zero tail directions can't blow up the ratio. Batch-vs-
    history (not after-vs-before fold): a small batch folded into a
    large history barely moves the ACCUMULATED spectrum, so the
    fold-delta form would go blind exactly as the corpus grows —
    batch-vs-history keeps sensitivity scale-independent. The first
    batch (empty store) reports drift None / alarm False: no-baseline
    is "unknown", not "no drift" (the histogram_drift convention).
    Eigenvalues, not raw covariance cells: the signal must be
    invariant to WHICH directions carry the variance renaming
    themselves under re-ingest ordering.

    Alignment is by RANK (sorted eigenvalues), the standard spectrum-
    drift form; a pure rotation of the embedding space at equal
    spectrum is invisible here and is caught instead by the ANN
    fingerprint staleness path."""
    from social_media_data_pipeline_spark.functions import pca

    first = (
        batch_df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    )
    if not first:
        return {"drift": None, "alarm": False, "folded": 0}
    dd = int(first[0]["d"])
    batch_partials = _gram_partials(batch_df, vec_col, dd).localCheckpoint(
        eager=True
    )
    batch_rows = batch_partials.collect()  # bounded: d(d+1)/2 + d + 1
    if not batch_rows:
        return {"drift": None, "alarm": False, "folded": 0}
    n_b, _mean_b, cov_b = pca.cov_from_gram_rows(batch_rows)

    files, _gen, _meta = scale.read_store(store)
    drift = None
    alarm = False
    if files:
        # bounded store: d(d+1)/2 + d + 1 rows
        hist_rows = spark.read.parquet(*files).collect()
        _n_h, _mean_h, cov_h = pca.cov_from_gram_rows(hist_rows)
        import numpy as np

        w_b = np.sort(np.linalg.eigvalsh(cov_b))[::-1]
        w_h = np.sort(np.linalg.eigvalsh(cov_h))[::-1]
        kk = min(top_k, len(w_h))
        floor = max(abs(float(w_h[0])) * 1e-3, 1e-30)
        rel = [
            abs(float(w_b[i]) - float(w_h[i]))
            / max(abs(float(w_h[i])), floor)
            for i in range(kk)
        ]
        drift = max(rel)
        alarm = drift > tol
    if fold:
        fold_partials(spark, batch_partials, store)
    return {"drift": drift, "alarm": alarm, "folded": int(n_b)}
