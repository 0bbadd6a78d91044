"""Streaming corpus curation: the continuous-crawl composition.

One `foreachBatch` step that chains the individually-tested pieces —
quality gate → band-store incremental near-dedup → manifest-committed
upsert — into the end-to-end pipeline a 100 TB crawl actually runs
(reference analog: the orchestrated scrape → preprocess → store chain,
orchestrator.py:32-48, re-expressed as one incremental step instead of
nine imperative scripts):

    batch (new crawl docs)
      │  gopher_quality_flags(...).passes          — map-side, no UDF
      ▼
    quality survivors
      │  incremental_dedup_against_store(...)      — batch bands only;
      │    store read semi-joined to probe bands;  history NEVER
      │    survivors' bands appended               recomputes
      ▼
    unique survivors
      │  scale.selective_upsert(..., key=id)       — CAS manifest flip;
      ▼                                              exactly-once per key
    curated table (manifest-committed)

Per-batch cost is bounded by the BATCH, not the corpus: quality is a
scan of the batch; dedup computes signatures for the batch only and
keeps only the band-store rows its bands can join; the upsert
rewrites only files whose key range overlaps the batch. An empty
micro-batch (routine in production streams) is a no-op at every stage
— pinned by test, the exact r8 regression (a zero-row append used to
poison the band store forever).

History contract: the dedup history IS the curated table (what the
pipeline has kept so far), read through its manifest — so duplicates
are flagged against committed survivors only, and a crashed batch
re-runs idempotently (same upsert keys, same band-store append set).
A batch whose band-store append raced another appender raises
`ConcurrentCommitError` before anything is upserted (its duplicates
against the racing batch were never checked); re-run it.

Cluster maintenance (r10): pass `labels_path` and the near-dup PAIRS
each batch finds also maintain a standing (node, component) label
table through `graph.incremental_components` — the labeling stays
EXACTLY equal to a full recompute over every pair ever seen (the
operator's proven identity), while per-batch cost stays ∝ the
affected subgraph: untouched components pass through as rows inside
the operator, and the STORE commit writes only rows whose label
actually changed (an anti join), which is precisely the shape
`selective_upsert`'s key-range file pruning rewards. The label store
is node-count-sized no matter how many historic pairs produced it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (callers build predicates)


def curate_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    table_path: str,
    band_store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.2,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    quality_predicate: Column | None = None,
    labels_path: str | None = None,
    spectrum_path: str | None = None,
    embedding_col: str = "embedding",
    spectrum_tol: float = 0.25,
) -> dict:
    """One curation cycle over a micro-batch; returns per-stage counts
    (`{"batch", "quality_pass", "dup_flagged", "committed"}`) for the
    stream's progress metrics. `quality_predicate` swaps the gate
    (default: the full Gopher rule set — strict; corpora of short
    documents may want e.g. a length/stopword subset). Designed as a
    `foreachBatch` body:

        q = (stream.writeStream
             .foreachBatch(lambda df, _id: curate_batch(
                 spark, df, table, store))
             .start())

    Embedding-spectrum monitoring (r12): pass `spectrum_path` (and
    carry `embedding_col` on the batch) and each batch's COMMITTED
    survivors fold their exact integer Gram partials into the
    manifest-committed spectrum store (`streaming/spectrum.py`), with
    the batch-vs-history eigenvalue drift surfaced as
    `spectrum_drift` / `spectrum_alarm` in the returned counts — the
    documented REBUILD TRIGGER for ANN artifacts appended over this
    curated table (an alarm means the embedding model or corpus
    distribution moved and indexes encoded with frozen artifacts are
    stale in DISTRIBUTION, which fingerprint staleness alone cannot
    see)."""
    from social_media_data_pipeline_spark import scale
    from social_media_data_pipeline_spark.functions import text as etext
    from social_media_data_pipeline_spark.operators import dedup as ddp

    def _counts(**kw) -> dict:
        base = {"batch": 0, "quality_pass": 0, "dup_flagged": 0,
                "committed": 0}
        base.update(kw)
        if labels_path is not None:
            base.setdefault("labels_changed", 0)
        if spectrum_path is not None:
            base.setdefault("spectrum_drift", None)
            base.setdefault("spectrum_alarm", False)
        return base

    from pyspark.sql import Observation

    # one job per fact (guide §1.2, the r12 IVM discipline applied to
    # the curation loop in r13): the batch size rides the gate
    # checkpoint's own materialization as an Observation — the
    # previous shape paid an isEmpty probe + a full batch count + a
    # post-checkpoint count (three extra jobs per micro-batch)
    gate = (
        quality_predicate
        if quality_predicate is not None
        else etext.gopher_quality_flags(text_col)["passes"]
    )
    _g_obs = Observation()
    gated = (
        batch_df.observe(
            _g_obs,
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(F.when(gate, 1).otherwise(0)).alias("n_gated"),
        )
        .filter(gate)
        .localCheckpoint(eager=True)
    )
    n_batch = int(_g_obs.get["n_batch"])
    n_gated = int(_g_obs.get["n_gated"] or 0)
    if n_batch == 0:
        return _counts()
    if n_gated == 0:
        return _counts(batch=n_batch)
    if scale.live_files(table_path):
        history = scale.manifest_read(spark, table_path)
    else:
        history = gated.limit(0)
    flagged = ddp.incremental_dedup_against_store(
        gated,
        history,
        band_store_path,
        id_col,
        text_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
    )
    n_flagged = flagged.count()  # cheap: flagged is pinned by the dedup op
    _s_obs = Observation()
    survivors = (
        gated.join(flagged.select(id_col), id_col, "left_anti")
        .observe(_s_obs, F.count(F.lit(1)).alias("m"))
        .localCheckpoint(eager=True)
    )
    n_out = int(_s_obs.get["m"])
    if n_out > 0:
        # the first commit creates generation 0 (a CAS, like every later
        # upsert)
        scale.selective_upsert(spark, table_path, survivors, id_col)
    n_labels_changed = 0
    if labels_path is not None and n_flagged > 0:
        from social_media_data_pipeline_spark.functions import graph
        from social_media_data_pipeline_spark.io import release_pins

        pairs = flagged.select(
            F.col(id_col).alias("id_a"), F.col("dup_of").alias("id_b")
        )
        old_labels = (
            scale.manifest_read(spark, labels_path)
            if scale.live_files(labels_path)
            else None
        )
        updated = graph.incremental_components(old_labels, pairs)
        # commit only rows whose label moved (plus brand-new nodes):
        # the untouched pass-through stays untouched ON DISK too —
        # selective_upsert's key-range pruning rewrites only files
        # overlapping the changed nodes
        if old_labels is not None:
            changed = updated.join(
                old_labels, ["node", "component"], "left_anti"
            )
        else:
            changed = updated
        _c_obs = Observation()
        changed = changed.observe(
            _c_obs, F.count(F.lit(1)).alias("m")
        ).localCheckpoint(eager=True)
        # `changed` is materialized: release the stats pin that
        # connected_components leaves under `updated`, or a long-lived
        # stream keeps one label-sized cache entry per batch
        release_pins(updated)
        n_labels_changed = int(_c_obs.get["m"])
        if n_labels_changed > 0:
            scale.selective_upsert(spark, labels_path, changed, "node")
    spectrum_info: dict = {}
    if (
        spectrum_path is not None
        and embedding_col in survivors.columns
        and n_out > 0
    ):
        from social_media_data_pipeline_spark.streaming import spectrum

        alarm = spectrum.spectrum_drift_alarm(
            spark,
            survivors.select(embedding_col),
            spectrum_path,
            vec_col=embedding_col,
            tol=spectrum_tol,
        )
        spectrum_info = {
            "spectrum_drift": alarm["drift"],
            "spectrum_alarm": alarm["alarm"],
        }
    return _counts(
        batch=n_batch,
        quality_pass=n_gated,
        dup_flagged=n_flagged,
        committed=n_out,
        **({"labels_changed": n_labels_changed}
           if labels_path is not None else {}),
        **spectrum_info,
    )
