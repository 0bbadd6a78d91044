"""Train-once / search-many ANN index lifecycle (r9): persisted
manifest-committed centroids, params/fingerprint invalidation, and
bit-identity of the cache path with a fresh train."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from social_media_data_pipeline_spark import scale
from social_media_data_pipeline_spark.functions import ann_index, kmeans


pytestmark = pytest.mark.slow  # r13 fast-gate split: long property/replication/artifact suites run in the second lane (-m "slow or not slow")


@pytest.fixture()
def emb(spark):
    rows = [
        (i, [float((i * 7 + j * 3) % 13) for j in range(8)]) for i in range(64)
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


@pytest.fixture(autouse=True)
def artifacts_dir(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS_DIR", str(tmp_path / "arts"))
    yield str(tmp_path / "arts")


class TestIvfIndexLifecycle:
    def test_get_or_train_caches_and_matches_fresh_train(self, spark, emb):
        tag = "unit:emb"
        c1 = ann_index.ivf_centroids_for(emb, tag, k=4, iters=2)
        path = ann_index.ivf_index_path(
            tag,
            {"k": 4, "iters": 2, "id_col": "vec_id", "vec_col": "embedding"},
        )
        assert os.path.exists(os.path.join(path, "_manifest.json"))
        # second call must be a cache hit (no retrain): an unchanged
        # manifest generation is the cheapest train-detector
        g0 = scale.read_store(path)[1]
        c2 = ann_index.ivf_centroids_for(emb, tag, k=4, iters=2)
        assert scale.read_store(path)[1] == g0
        # cache path is bit-identical to a fresh in-process train
        fresh = kmeans.kmeans_centroids(emb, k=4, iters=2)
        as_rows = lambda df: sorted(  # noqa: E731
            (r["vec_id"], tuple(r["embedding"])) for r in df.collect()
        )
        assert as_rows(c1) == as_rows(fresh)
        assert as_rows(c2) == as_rows(fresh)

    def test_params_key_separate_artifacts(self, spark, emb):
        ann_index.ivf_centroids_for(emb, "unit:emb", k=4, iters=2)
        ann_index.ivf_centroids_for(emb, "unit:emb", k=8, iters=2)
        p4 = ann_index.ivf_index_path(
            "unit:emb",
            {"k": 4, "iters": 2, "id_col": "vec_id", "vec_col": "embedding"},
        )
        p8 = ann_index.ivf_index_path(
            "unit:emb",
            {"k": 8, "iters": 2, "id_col": "vec_id", "vec_col": "embedding"},
        )
        assert p4 != p8 and os.path.exists(p4) and os.path.exists(p8)

    def test_corpus_change_forces_retrain(self, spark, emb):
        tag = "unit:emb"
        params = {"k": 4, "iters": 2, "id_col": "vec_id",
                  "vec_col": "embedding"}
        ann_index.ivf_centroids_for(emb, tag, k=4, iters=2)
        path = ann_index.ivf_index_path(tag, params)
        gen0 = max(
            int(f.split("-")[1].split(".")[0])
            for f in os.listdir(path)
            if f.startswith("_manifest-")
        )
        # regenerated corpus (same tag, different content) → fingerprint
        # moves → retrain commits a NEW manifest generation
        emb2 = emb.withColumn(
            "embedding",
            F.transform("embedding", lambda x: x + F.lit(1.0)),
        )
        c2 = ann_index.ivf_centroids_for(emb2, tag, k=4, iters=2)
        gen1 = max(
            int(f.split("-")[1].split(".")[0])
            for f in os.listdir(path)
            if f.startswith("_manifest-")
        )
        assert gen1 == gen0 + 1
        fresh2 = kmeans.kmeans_centroids(emb2, k=4, iters=2)
        as_rows = lambda df: sorted(  # noqa: E731
            (r["vec_id"], tuple(r["embedding"])) for r in df.collect()
        )
        assert as_rows(c2) == as_rows(fresh2)

    def test_trust_cache_skips_fingerprint(self, spark, emb):
        tag = "unit:emb"
        ann_index.ivf_centroids_for(emb, tag, k=4, iters=2)
        # trust_cache returns the stale artifact without scanning the
        # (changed) corpus — the caller-owns-invalidation contract
        emb2 = emb.withColumn(
            "embedding",
            F.transform("embedding", lambda x: x + F.lit(1.0)),
        )
        stale = ann_index.ivf_centroids_for(
            emb2, tag, k=4, iters=2, trust_cache=True
        )
        fresh = kmeans.kmeans_centroids(emb, k=4, iters=2)
        as_rows = lambda df: sorted(  # noqa: E731
            (r["vec_id"], tuple(r["embedding"])) for r in df.collect()
        )
        assert as_rows(stale) == as_rows(fresh)

    def test_fingerprint_order_independent(self, spark, emb):
        f1 = ann_index.corpus_fingerprint(emb)
        f2 = ann_index.corpus_fingerprint(emb.orderBy(F.desc("vec_id")))
        assert f1 == f2 and f1["n"] == 64


class TestTrainCommitSafety:
    """r10 ADVICE regression: retrain after vacuum (or a racing
    trainer) must never reuse a live generation tag and os.replace a
    committed centroid file in place — the crash-safety claim is that
    the previous generation stays live and BYTE-IDENTICAL until the
    manifest flip, and forever after for readers pinned to it."""

    def _bump(self, emb, delta):
        return emb.withColumn(
            "embedding", F.transform("embedding", lambda x: x + F.lit(delta))
        )

    def test_retrain_after_vacuum_never_overwrites_live_files(
        self, spark, emb
    ):
        from social_media_data_pipeline_spark import scale

        tag = "unit:emb"
        params = {"k": 4, "iters": 2, "id_col": "vec_id",
                  "vec_col": "embedding"}
        ann_index.ivf_centroids_for(emb, tag, k=4, iters=2)
        path = ann_index.ivf_index_path(tag, params)
        ann_index.ivf_centroids_for(self._bump(emb, 1.0), tag, k=4, iters=2)
        # drop gen-0 history: the old len(manifest_versions())-derived
        # tag would now collide with the LIVE generation's files
        scale.vacuum_table(path, keep_generations=1, grace_seconds=0)
        live = scale.read_table_manifest(path)
        assert live, "live manifest must survive vacuum"
        before = {
            f: open(os.path.join(path, os.path.basename(f)), "rb").read()
            for f in live
        }
        ann_index.ivf_centroids_for(self._bump(emb, 2.0), tag, k=4, iters=2)
        for f, blob in before.items():
            fp = os.path.join(path, os.path.basename(f))
            assert os.path.exists(fp), f"live file {f} deleted by retrain"
            assert open(fp, "rb").read() == blob, (
                f"live file {f} mutated in place by retrain"
            )
        # and the new commit is a NEW generation readable via manifest
        new_live = scale.read_table_manifest(path)
        assert new_live and set(new_live).isdisjoint(set(before))

    def test_concurrent_trainer_loses_loudly_and_unstages(
        self, spark, emb
    ):
        from social_media_data_pipeline_spark import scale

        tag = "unit:emb"
        params = {"k": 4, "iters": 2, "id_col": "vec_id",
                  "vec_col": "embedding"}
        ann_index.ivf_centroids_for(emb, tag, k=4, iters=2)
        path = ann_index.ivf_index_path(tag, params)
        live0 = sorted(scale.read_table_manifest(path))
        meta0 = scale.read_store(path)[2]
        # simulate a writer that lands between this trainer's manifest
        # read and its commit: steal the CAS by bumping the pointer
        # from inside the fingerprint scan (which train_ivf_index runs
        # before reading the generation? no — fingerprint is passed in;
        # patch write_table_manifest's first call window via a stolen
        # generation file)
        real_read = scale._read_manifest_doc

        def stolen_read(p, version=None):
            doc = real_read(p, version)
            if p == path and not getattr(stolen_read, "_done", False):
                stolen_read._done = True
                # concurrent winner commits AFTER our read
                scale.write_table_manifest(
                    p, scale.read_table_manifest(p),
                    expect_generation=doc["generation"],
                )
            return doc

        orig = scale._read_manifest_doc
        scale._read_manifest_doc = stolen_read
        try:
            with pytest.raises(scale.ConcurrentCommitError):
                ann_index.train_ivf_index(
                    self._bump(emb, 1.0), path, k=4, iters=2
                )
        finally:
            scale._read_manifest_doc = orig
        # loser un-staged: the winner's live set is intact and no
        # loser parquet is referenced by the live manifest
        assert sorted(scale.read_table_manifest(path)) == live0
        for f in live0:
            assert os.path.exists(os.path.join(path, os.path.basename(f)))
        # the loser's params/fingerprint never went live either: the
        # meta is committed with its files, not ahead of the flip
        assert scale.read_store(path)[2] == meta0


class TestPqCodebookLifecycle:
    """r10: the persisted residual-PQ codebook — second trained
    artifact through the same meta-stamp + manifest-CAS commit path."""

    def test_get_or_train_caches_and_matches_fresh_train(self, spark, emb):
        from social_media_data_pipeline_spark.functions import pq

        tag = "unit:emb"
        cb1 = ann_index.pq_residual_codebook_for(
            emb, tag, ivf_k=4, ivf_iters=2, m=2, ksub=4, iters=2
        )
        params = {
            "ivf_k": 4, "ivf_iters": 2, "m": 2, "ksub": 4, "iters": 2,
            "id_col": "vec_id", "vec_col": "embedding",
        }
        path = ann_index.pq_index_path(tag, params)
        assert os.path.exists(os.path.join(path, "_manifest.json"))
        g0 = scale.read_store(path)[1]
        cb2 = ann_index.pq_residual_codebook_for(
            emb, tag, ivf_k=4, ivf_iters=2, m=2, ksub=4, iters=2
        )
        assert scale.read_store(path)[1] == g0, "second call must cache-hit"
        # bit-identical to a fresh in-process train on the same
        # residuals (float lists compare exactly: micro-int/1e6 doubles
        # round-trip parquet bit-for-bit)
        cents = ann_index.ivf_centroids_for(emb, tag, k=4, iters=2)
        fresh = pq.pq_codebook_kmeans(
            pq.residual_table(emb, cents), m=2, ksub=4, iters=2,
            vec_col="__resid",
        )
        assert cb1 == fresh and cb2 == fresh

    def test_corpus_change_forces_retrain(self, spark, emb):
        tag = "unit:emb"
        cb1 = ann_index.pq_residual_codebook_for(
            emb, tag, ivf_k=4, ivf_iters=2, m=2, ksub=4, iters=2
        )
        emb2 = emb.withColumn(
            "embedding",
            F.transform("embedding", lambda x: x * F.lit(2.0)),
        )
        cb2 = ann_index.pq_residual_codebook_for(
            emb2, tag, ivf_k=4, ivf_iters=2, m=2, ksub=4, iters=2
        )
        assert cb1 != cb2, "moved fingerprint must retrain"

    def test_searched_query_matches_full_cycle(self, spark, emb):
        from social_media_data_pipeline_spark.functions import pq

        tag = "unit:emb"
        cents = ann_index.ivf_centroids_for(emb, tag, k=4, iters=2)
        cb = ann_index.pq_residual_codebook_for(
            emb, tag, ivf_k=4, ivf_iters=2, m=2, ksub=4, iters=2
        )
        queries = emb.filter("vec_id < 3")
        searched = pq.ivf_pq_residual_topk(
            queries, emb, cents, k=3, probes=2, codebook=cb
        )
        full = pq.ivf_pq_residual_topk(
            queries, emb, cents, m=2, ksub=4, iters=2, k=3, probes=2
        )
        key = lambda df: sorted(  # noqa: E731
            (r.query_id, r.rank, r.neighbor_id, r.adc_dist)
            for r in df.collect()
        )
        assert key(searched) == key(full)


class TestPqCodesLifecycle:
    """r10: the persisted encoded corpus — the third artifact (the
    IVF-PQ index layout itself)."""

    def test_codes_cache_and_identity_with_inline_encode(self, spark, emb):
        from social_media_data_pipeline_spark.functions import pq

        tag = "unit:emb"
        kw = dict(ivf_k=4, ivf_iters=2, m=2, ksub=4, iters=2)
        codes1 = ann_index.pq_codes_for(emb, tag, **kw)
        params = {**kw, "id_col": "vec_id", "vec_col": "embedding"}
        path = ann_index.pq_codes_path(tag, params)
        g0 = scale.read_store(path)[1]
        codes2 = ann_index.pq_codes_for(emb, tag, **kw)
        assert scale.read_store(path)[1] == g0, "second call must cache-hit"
        # identical to an inline encode with the same artifacts
        cents = ann_index.ivf_centroids_for(emb, tag, k=4, iters=2)
        cb = ann_index.pq_residual_codebook_for(emb, tag, **kw)
        inline = pq.pq_encode(
            pq.residual_table(emb, cents), cb, "vec_id", "__resid",
            keep_cols=["cluster"],
        )
        key = lambda df: sorted(  # noqa: E731
            (r["vec_id"], r["cluster"], tuple(r["codes"]))
            for r in df.collect()
        )
        assert key(codes1) == key(inline) == key(codes2)

    def test_search_over_codes_equals_inline_search(self, spark, emb):
        from social_media_data_pipeline_spark.functions import pq

        tag = "unit:emb"
        kw = dict(ivf_k=4, ivf_iters=2, m=2, ksub=4, iters=2)
        cents = ann_index.ivf_centroids_for(emb, tag, k=4, iters=2)
        cb = ann_index.pq_residual_codebook_for(emb, tag, **kw)
        codes = ann_index.pq_codes_for(emb, tag, **kw)
        q = emb.filter("vec_id < 3")
        got = pq.ivf_pq_residual_topk(
            q, emb, cents, k=3, probes=2, codebook=cb, codes=codes
        )
        want = pq.ivf_pq_residual_topk(
            q, emb, cents, m=2, ksub=4, iters=2, k=3, probes=2
        )
        key = lambda df: sorted(  # noqa: E731
            (r.query_id, r.rank, r.neighbor_id, r.adc_dist)
            for r in df.collect()
        )
        assert key(got) == key(want)


class TestOpqRotationLifecycle:
    """Persisted OPQ rotation artifact (r12): train-once, reload
    bit-exact, retrain on corpus change."""

    def test_get_or_train_caches_and_matches_fresh_train(self, spark, emb):
        import numpy as np

        from social_media_data_pipeline_spark.functions import pca

        tag = "unit:emb"
        m1, r1 = ann_index.opq_rotation_for(emb, tag, m=4)
        path = ann_index.opq_index_path(
            tag, {"m": 4, "id_col": "vec_id", "vec_col": "embedding"}
        )
        assert os.path.exists(os.path.join(path, "_manifest.json"))
        g0 = scale.read_store(path)[1]
        m2, r2 = ann_index.opq_rotation_for(emb, tag, m=4)
        assert scale.read_store(path)[1] == g0  # cache hit, no retrain
        fresh_mean, fresh_r = pca.opq_rotation(emb, m=4)
        # persisted doubles round-trip parquet bit-exactly
        assert np.array_equal(m1, fresh_mean) and np.array_equal(m2, fresh_mean)
        assert np.array_equal(r1, fresh_r) and np.array_equal(r2, fresh_r)
        # the rotation is orthonormal (allocation permutes rows only)
        assert float(np.abs(r1 @ r1.T - np.eye(8)).max()) < 1e-9

    def test_corpus_change_forces_retrain(self, spark, emb):
        tag = "unit:emb"
        _, r1 = ann_index.opq_rotation_for(emb, tag, m=4)
        changed = emb.withColumn(
            "embedding",
            F.transform("embedding", lambda x: x * F.lit(3.0)),
        )
        import numpy as np

        path = ann_index.opq_index_path(
            tag, {"m": 4, "id_col": "vec_id", "vec_col": "embedding"}
        )
        g0 = scale.read_store(path)[1]
        _, r2 = ann_index.opq_rotation_for(changed, tag, m=4)
        assert scale.read_store(path)[1] != g0  # fingerprint miss retrained
        # scaling is isotropic so the basis may persist, but the meta
        # must now carry the NEW fingerprint
        fp = scale.read_store(path)[2]["fingerprint"]
        assert fp == ann_index.corpus_fingerprint(changed)
        assert r2.shape == r1.shape
