"""Train-once / search-many ANN index lifecycle.

The full-cycle trained-ANN queries (`embedding_ivf_multiprobe_trained`,
`embedding_balanced_sample`) RE-train k-means inside every invocation —
the right shape for a training *benchmark*, the wrong lifecycle for
production, where centroids are a persisted artifact trained once and
read by every search (reference analog: the reference trains its DIR
model once and reuses it across runs, ImageLabeling/DIRAdapter.py:20-76
— it never retrains per query).

This module persists trained IVF centroids as a manifest-committed
parquet table (`scale.commit_store` — the same crash-safe CAS flip
every store uses) whose manifest also lists a meta JSON with the
training params AND a corpus fingerprint, and serves them back to
searches:

    centroids = ivf_centroids_for(spark, sf_dir)   # get-or-train
    hits = similarity.ivf_topk_multiprobe(queries, emb, centroids, ...)

`ivf_centroids_for` retrains only when the artifact is missing, its
params differ, or the corpus fingerprint moved (the table was
regenerated); otherwise the load is one tiny parquet read — the two
8.5 s bench whales become ~1 s searches, and the train cost amortizes
over every search that follows (SCALING.md r9 "train-once" row).

Determinism contract: `kmeans.kmeans_centroids` is a pure function of
(corpus, params) — seeded id-stride init, integer micro-unit Lloyd
rounds — so a cache hit returns bit-identical centroids to a fresh
train, and the differential oracles (which REPLAY training in SQL)
hash-match against searches over the persisted artifact.

At 100 TB the artifact is exactly what this models: a k×d table, tiny
next to the corpus, broadcast to every search; the fingerprint read is
one count + one column-hash aggregate (a single corpus scan, paid per
*validation*, not per Lloyd round — skip it with `trust_cache=True`
for hot paths that own their invalidation).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from social_media_data_pipeline_spark import scale


def artifacts_root() -> str:
    """Repo-local artifact directory (override: SPARK_GRAFT_ARTIFACTS_DIR)."""
    env = os.environ.get("SPARK_GRAFT_ARTIFACTS_DIR")
    if env:
        return env
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(repo, ".artifacts")


def corpus_fingerprint(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> dict:
    """(row count, order-independent content hash) of the embedding
    corpus — one aggregate scan; any regeneration of the table under
    the same path flips it and forces a retrain."""
    # bit_xor, not sum: order-independent AND overflow-free under ANSI
    # (summing raw 64-bit hashes overflows BIGINT within a few rows)
    row = emb.select(
        F.xxhash64(F.col(id_col), F.col(vec_col)).alias("__h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(__h)").alias("h"),
    ).collect()[0]
    return {"n": int(row["n"]), "h": int(row["h"] or 0)}


def ivf_index_path(corpus_tag: str, params: dict) -> str:
    """Deterministic artifact directory for (corpus, params)."""
    import hashlib

    key = hashlib.md5(
        json.dumps({"corpus": corpus_tag, **params}, sort_keys=True).encode()
    ).hexdigest()[:16]
    return os.path.join(artifacts_root(), "ann_ivf", key)


def _load_meta(path: str) -> dict | None:
    """The live generation's meta (params + fingerprint), resolved
    through the manifest: the CAS flip commits it together with the
    files, so a writer that lost the race or crashed can never leave
    its params live over files it never committed."""
    return scale.read_store(path)[2]


def train_ivf_index(
    emb: DataFrame,
    path: str,
    k: int | None = None,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fingerprint: dict | None = None,
) -> DataFrame:
    """Train centroids and COMMIT them at `path`: parquet data files,
    then the meta stamp (params + corpus fingerprint), then the
    manifest flip — the flip is the commit point, so a crash anywhere
    earlier leaves the previous generation live and readable."""
    from social_media_data_pipeline_spark.functions import kmeans

    cents = kmeans.kmeans_centroids(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    fp = fingerprint or corpus_fingerprint(emb, id_col, vec_col)
    meta = {
        "params": {"k": k, "iters": iters, "id_col": id_col,
                   "vec_col": vec_col},
        "fingerprint": fp,
    }
    scale.commit_store(
        path, [("centroids", cents.coalesce(1))], scale.read_store(path)[1],
        meta=meta,
    )
    return cents


def load_ivf_index(spark: SparkSession, path: str) -> DataFrame:
    """Read the committed centroid table (manifest-honoring)."""
    return scale.manifest_read(spark, path)


def ivf_centroids_for(
    emb: DataFrame,
    corpus_tag: str,
    k: int | None = None,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trust_cache: bool = False,
    fingerprint: dict | None = None,
) -> DataFrame:
    """Get-or-train: return persisted centroids for (corpus, params),
    training and committing them on the first call or whenever the
    params/corpus fingerprint no longer match. `trust_cache=True`
    skips the fingerprint scan (params still checked) for callers that
    own their invalidation. `fingerprint` (r10): pass a fingerprint
    already computed this cycle — multi-artifact searches (centroids +
    PQ codebook over the same corpus) then pay ONE validation scan
    instead of one per artifact."""
    params = {"k": k, "iters": iters, "id_col": id_col, "vec_col": vec_col}
    path = ivf_index_path(corpus_tag, params)
    live, _gen, meta = scale.read_store(path)
    if meta is not None and meta.get("params") == params and live:
        if trust_cache:
            return load_ivf_index(emb.sparkSession, path)
        fp = fingerprint or corpus_fingerprint(emb, id_col, vec_col)
        if meta.get("fingerprint") == fp:
            return load_ivf_index(emb.sparkSession, path)
        return train_ivf_index(
            emb, path, k, iters, id_col, vec_col, fingerprint=fp
        )
    return train_ivf_index(
        emb, path, k, iters, id_col, vec_col, fingerprint=fingerprint
    )


# --------------------------------------------------------------------------
# persisted residual-PQ codebook (r10): the second trained artifact
# --------------------------------------------------------------------------
# The full-cycle residual IVF-PQ query (`embedding_ivf_pq_residual`,
# 8.6-11 s at sf0.1) re-trains 8 subspace k-means on residuals inside
# every invocation. In production the codebook — like the centroids it
# depends on — is trained once and read by every search (reference
# analog: DIRAdapter.py:20-76 never retrains its model per run). The
# artifact is m·ksub rows of (j, cid, csub double[]) — a few KiB —
# committed through the same meta-stamp + manifest-CAS path as the
# centroid table, keyed by the BASE corpus fingerprint plus BOTH param
# sets (IVF and PQ): residuals are a pure function of (corpus, IVF
# params), so the base fingerprint covers them without a second scan.


def pq_index_path(corpus_tag: str, params: dict) -> str:
    """Deterministic codebook artifact directory for (corpus, params)."""
    import hashlib

    key = hashlib.md5(
        json.dumps({"corpus": corpus_tag, **params}, sort_keys=True).encode()
    ).hexdigest()[:16]
    return os.path.join(artifacts_root(), "ann_pq", key)


def _codebook_rows(codebook: list[list[list[float]]]):
    return [
        (j, cid, list(csub))
        for j, sub in enumerate(codebook)
        for cid, csub in enumerate(sub)
    ]


def train_pq_residual_codebook(
    emb: DataFrame,
    centroids: DataFrame,
    path: str,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fingerprint: dict | None = None,
    params: dict | None = None,
) -> list[list[list[float]]]:
    """Train the residual codebook and COMMIT it at `path` (same
    crash-safe stage → unique-name move → meta stamp → manifest CAS
    flip as `train_ivf_index`). Returns the nested-list codebook."""
    from social_media_data_pipeline_spark.functions import pq

    spark = emb.sparkSession
    c_res = pq.residual_table(emb, centroids, id_col, vec_col)
    codebook = pq.pq_codebook_kmeans(
        c_res, m=m, ksub=ksub, iters=iters, id_col=id_col, vec_col="__resid"
    )
    fp = fingerprint or corpus_fingerprint(emb, id_col, vec_col)
    rows = spark.createDataFrame(
        _codebook_rows(codebook), "j int, cid int, csub array<double>"
    )
    meta = {
        "params": params
        or {"m": m, "ksub": ksub, "iters": iters, "id_col": id_col,
            "vec_col": vec_col},
        "fingerprint": fp,
    }
    scale.commit_store(
        path, [("codebook", rows.coalesce(1))], scale.read_store(path)[1],
        meta=meta,
    )
    return codebook


def load_pq_codebook(
    spark: SparkSession, path: str
) -> list[list[list[float]]]:
    """Rebuild the nested-list codebook from the committed parquet
    rows — exact: codeword components are micro-int/1e6 doubles, and
    parquet round-trips doubles bit-for-bit."""
    rows = scale.manifest_read(spark, path).collect()
    m = max(r["j"] for r in rows) + 1
    ksub = max(r["cid"] for r in rows) + 1
    book: list[list[list[float]]] = [
        [None] * ksub for _ in range(m)  # type: ignore[list-item]
    ]
    for r in rows:
        book[r["j"]][r["cid"]] = list(r["csub"])
    return book


def pq_residual_codebook_for(
    emb: DataFrame,
    corpus_tag: str,
    ivf_k: int | None = None,
    ivf_iters: int = 5,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trust_cache: bool = False,
    fingerprint: dict | None = None,
) -> list[list[list[float]]]:
    """Get-or-train for the residual-PQ codebook. Trains (and persists,
    via `ivf_centroids_for` — the two artifacts share the corpus tag)
    the IVF centroids it depends on when they are not cached yet.
    Invalidation contract mirrors `ivf_centroids_for`: params mismatch
    or a moved corpus fingerprint retrains; `trust_cache=True` skips
    the fingerprint scan; `fingerprint` shares one validation scan
    across both artifacts of a search cycle."""
    params = {
        "ivf_k": ivf_k, "ivf_iters": ivf_iters,
        "m": m, "ksub": ksub, "iters": iters,
        "id_col": id_col, "vec_col": vec_col,
    }
    path = pq_index_path(corpus_tag, params)
    live, _gen, meta = scale.read_store(path)
    if meta is not None and meta.get("params") == params and live:
        if trust_cache:
            return load_pq_codebook(emb.sparkSession, path)
        fp = fingerprint or corpus_fingerprint(emb, id_col, vec_col)
        if meta.get("fingerprint") == fp:
            return load_pq_codebook(emb.sparkSession, path)
        centroids = ivf_centroids_for(
            emb, corpus_tag, k=ivf_k, iters=ivf_iters,
            id_col=id_col, vec_col=vec_col, fingerprint=fp,
        )
        return train_pq_residual_codebook(
            emb, centroids, path, m, ksub, iters, id_col, vec_col,
            fingerprint=fp, params=params,
        )
    fp = fingerprint or corpus_fingerprint(emb, id_col, vec_col)
    centroids = ivf_centroids_for(
        emb, corpus_tag, k=ivf_k, iters=ivf_iters,
        id_col=id_col, vec_col=vec_col, fingerprint=fp,
    )
    return train_pq_residual_codebook(
        emb, centroids, path, m, ksub, iters, id_col, vec_col,
        fingerprint=fp, params=params,
    )


# --------------------------------------------------------------------------
# persisted encoded corpus (r10): the third artifact — the INDEX itself
# --------------------------------------------------------------------------
# Centroids + codebook alone still make every search re-scan the raw
# corpus (assign → residual → encode). The production IVF-PQ layout
# persists the ENCODED corpus — m small codes + a cell id per vector,
# the 16-64× compressed index Jégou 2011 builds once — so a search
# touches only the codes table and the raw vectors never load. At
# 100 TB of fp32 vectors the codes table is ~2% of the corpus and is
# the only thing the search fleet reads; here it commits through the
# same meta-stamp + manifest-CAS path (multi-file in production — the
# commit mechanics are file-count-agnostic, the test artifact stays
# one file).


def pq_codes_path(corpus_tag: str, params: dict) -> str:
    """Deterministic codes-artifact directory for (corpus, params)."""
    import hashlib

    key = hashlib.md5(
        json.dumps({"corpus": corpus_tag, **params}, sort_keys=True).encode()
    ).hexdigest()[:16]
    return os.path.join(artifacts_root(), "ann_codes", key)


def pq_codes_for(
    emb: DataFrame,
    corpus_tag: str,
    ivf_k: int | None = None,
    ivf_iters: int = 5,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trust_cache: bool = False,
    fingerprint: dict | None = None,
) -> DataFrame:
    """Get-or-encode the residual-PQ codes table (`id_col`, cluster,
    codes array<int>) for (corpus, params). Trains/loads the centroid
    and codebook artifacts it depends on (all three share the corpus
    tag and ONE fingerprint scan when `fingerprint` is passed), then
    encodes the corpus once and commits. Invalidation mirrors the
    other artifacts: params mismatch or fingerprint drift re-encodes."""
    from social_media_data_pipeline_spark.functions import pq

    params = {
        "ivf_k": ivf_k, "ivf_iters": ivf_iters,
        "m": m, "ksub": ksub, "iters": iters,
        "id_col": id_col, "vec_col": vec_col,
    }
    path = pq_codes_path(corpus_tag, params)
    live, gen, meta = scale.read_store(path)
    if meta is not None and meta.get("params") == params and live:
        if trust_cache:
            return scale.manifest_read(emb.sparkSession, path)
        fp = fingerprint or corpus_fingerprint(emb, id_col, vec_col)
        if meta.get("fingerprint") == fp:
            return scale.manifest_read(emb.sparkSession, path)
        fingerprint = fp
    fp = fingerprint or corpus_fingerprint(emb, id_col, vec_col)
    centroids = ivf_centroids_for(
        emb, corpus_tag, k=ivf_k, iters=ivf_iters,
        id_col=id_col, vec_col=vec_col, fingerprint=fp,
    )
    codebook = pq_residual_codebook_for(
        emb, corpus_tag, ivf_k=ivf_k, ivf_iters=ivf_iters,
        m=m, ksub=ksub, iters=iters,
        id_col=id_col, vec_col=vec_col, fingerprint=fp,
    )
    c_res = pq.residual_table(emb, centroids, id_col, vec_col)
    codes = pq.pq_encode(
        c_res, codebook, id_col, "__resid", keep_cols=["cluster"]
    )
    scale.commit_store(
        path, [("codes", codes.coalesce(1))], gen,
        meta={"params": params, "fingerprint": fp},
    )
    return scale.manifest_read(emb.sparkSession, path)


def pq_codes_append(
    new_vecs: DataFrame,
    corpus_tag: str,
    ivf_k: int | None = None,
    ivf_iters: int = 5,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental index maintenance (r10): encode a batch of NEW
    vectors with the FROZEN centroids + codebook and APPEND the codes
    to the persisted index — the standard IVF-PQ ingest path (Jégou
    2011 deployments absorb inserts without retraining until recall
    drift triggers a rebuild; retraining per batch would also
    invalidate every previously stored code). The ANN mirror of the
    band-store/incremental-CC economics: per-batch cost ∝ the batch.

    The stored fingerprint merges INCREMENTALLY: (n, h) is a
    (count, bit_xor(xxhash64)) pair — a commutative monoid — so
    fp(corpus ∪ batch) = (n_old + n_batch, h_old XOR h_batch) with ONE
    scan of the BATCH, and a later `pq_codes_for` validating read
    against the grown corpus still cache-hits. The trainer artifacts
    keep their original stamp on purpose — they really were trained on
    the pre-append corpus; loading them here uses `trust_cache=True`
    (frozen-model contract), and when to retrain/re-encode is rebuild
    policy, not this function's job.

    Commit: batch codes land in new uniquely-named files; the manifest
    flips to old live set + new files via CAS (a concurrent writer
    loses loudly and un-stages). Returns the full post-append codes
    table. Raises if no base index exists — append needs a base
    (`pq_codes_for` builds it).
    """
    from social_media_data_pipeline_spark.functions import pq

    params = {
        "ivf_k": ivf_k, "ivf_iters": ivf_iters,
        "m": m, "ksub": ksub, "iters": iters,
        "id_col": id_col, "vec_col": vec_col,
    }
    path = pq_codes_path(corpus_tag, params)
    live, gen, meta = scale.read_store(path)
    if meta is None or meta.get("params") != params or not live:
        raise ValueError(
            f"pq_codes_append: no committed codes artifact for "
            f"{corpus_tag!r} with these params under {path} — build the "
            "base index with pq_codes_for first"
        )
    spark = new_vecs.sparkSession
    centroids = ivf_centroids_for(
        new_vecs, corpus_tag, k=ivf_k, iters=ivf_iters,
        id_col=id_col, vec_col=vec_col, trust_cache=True,
    )
    codebook = pq_residual_codebook_for(
        new_vecs, corpus_tag, ivf_k=ivf_k, ivf_iters=ivf_iters,
        m=m, ksub=ksub, iters=iters,
        id_col=id_col, vec_col=vec_col, trust_cache=True,
    )
    batch_codes = pq.pq_encode(
        pq.residual_table(new_vecs, centroids, id_col, vec_col),
        codebook, id_col, "__resid", keep_cols=["cluster"],
    )
    batch_fp = corpus_fingerprint(new_vecs, id_col, vec_col)
    old_fp = meta["fingerprint"]
    merged_fp = {
        "n": old_fp["n"] + batch_fp["n"],
        "h": old_fp["h"] ^ batch_fp["h"],
    }
    scale.commit_store(
        path, [("codes", batch_codes.coalesce(1))], gen, keep=live,
        meta={"params": params, "fingerprint": merged_fp},
    )
    return scale.manifest_read(spark, path)


# --------------------------------------------------------------------------
# persisted OPQ rotation (r12): the third trained artifact
# --------------------------------------------------------------------------
# The OPQ rotation (Ge 2013 eigenvalue allocation over the corpus
# eigenbasis) is trained from ONE exact integer Gram pass
# (`pca.gram_partials`) + a driver-side eigh — d×d doubles, a few KiB —
# and every encode/search applies it as a broadcast matmul. Like the
# centroid and codebook artifacts it is trained once per (corpus,
# params) and invalidated by the corpus fingerprint: re-ingesting the
# embedding table retrains the rotation, which in turn invalidates the
# PQ artifacts trained downstream of it (their corpus_tag should
# embed the rotation artifact's path or generation).


def opq_index_path(corpus_tag: str, params: dict) -> str:
    """Deterministic rotation artifact directory for (corpus, params)."""
    import hashlib

    key = hashlib.md5(
        json.dumps({"corpus": corpus_tag, **params}, sort_keys=True).encode()
    ).hexdigest()[:16]
    return os.path.join(artifacts_root(), "ann_opq", key)


def train_opq_rotation(
    emb: DataFrame,
    path: str,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fingerprint: dict | None = None,
):
    """Train the OPQ rotation on the corpus and COMMIT it at `path`
    (same stage → unique-name → meta-stamp → manifest-CAS discipline
    as the centroid artifact). Rows: (i, j, v) — R[i][j] for j >= 0,
    the per-dimension mean riding as j == -1. Returns (mean, R)."""
    from social_media_data_pipeline_spark.functions import pca

    mean, r_mat = pca.opq_rotation(emb, vec_col=vec_col, m=m)
    d = int(r_mat.shape[0])
    rows = [
        (i, j, float(r_mat[i, j])) for i in range(d) for j in range(d)
    ] + [(i, -1, float(mean[i])) for i in range(d)]
    df = emb.sparkSession.createDataFrame(rows, "i int, j int, v double")
    fp = fingerprint or corpus_fingerprint(emb, id_col, vec_col)
    meta = {
        "params": {"m": m, "id_col": id_col, "vec_col": vec_col},
        "fingerprint": fp,
    }
    scale.commit_store(
        path, [("rotation", df.coalesce(1))], scale.read_store(path)[1],
        meta=meta,
    )
    return mean, r_mat


def load_opq_rotation(spark: SparkSession, path: str):
    """(mean, R) from the committed rotation table — a bounded
    d² + d collect (64×64 = 4 KiB of doubles)."""
    import numpy as np

    rows = scale.manifest_read(spark, path).collect()
    d = max(r["i"] for r in rows) + 1
    mean = np.zeros(d)
    r_mat = np.zeros((d, d))
    for r in rows:
        if r["j"] == -1:
            mean[r["i"]] = r["v"]
        else:
            r_mat[r["i"], r["j"]] = r["v"]
    return mean, r_mat


def opq_rotation_for(
    emb: DataFrame,
    corpus_tag: str,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trust_cache: bool = False,
    fingerprint: dict | None = None,
):
    """Get-or-train: the persisted (mean, R) for (corpus, params) —
    trains and commits on first call, reloads on fingerprint match,
    retrains when the corpus content changed (same invalidation
    contract as `ivf_centroids_for`)."""
    params = {"m": m, "id_col": id_col, "vec_col": vec_col}
    path = opq_index_path(corpus_tag, params)
    live, _gen, meta = scale.read_store(path)
    if meta is not None and meta.get("params") == params and live:
        if trust_cache:
            return load_opq_rotation(emb.sparkSession, path)
        fp = fingerprint or corpus_fingerprint(emb, id_col, vec_col)
        if meta.get("fingerprint") == fp:
            return load_opq_rotation(emb.sparkSession, path)
        return train_opq_rotation(
            emb, path, m, id_col, vec_col, fingerprint=fp
        )
    return train_opq_rotation(
        emb, path, m, id_col, vec_col, fingerprint=fingerprint
    )
