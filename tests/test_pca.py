"""PCA surface (`functions/pca.py`): exact integer covariance (the
distributed Gram pass vs a local numpy replay), eigenbasis
properties, projection correctness, and refusals."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from social_media_data_pipeline_spark.functions import pca


def _vec_df(spark, x):
    rows = [(i, [float(v) for v in row]) for i, row in enumerate(x)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


@pytest.fixture()
def data():
    rng = np.random.default_rng(7)
    d, n = 12, 400
    # anisotropic: three dominant directions
    basis = rng.normal(size=(d, d))
    scales = np.concatenate([[10.0, 6.0, 3.0], np.full(d - 3, 0.3)])
    x = rng.normal(size=(n, d)) * scales @ basis.T + rng.normal(size=d)
    return np.float32(x)


class TestCovarianceMicro:
    def test_matches_local_integer_replay(self, spark, data):
        df = _vec_df(spark, data).repartition(7)  # force multi-partition merge
        got = {
            (r["i"], r["j"]): r["cov"]
            for r in pca.covariance_micro(df, "embedding").collect()
        }
        xm = pca._micro(np.float64(data))
        n = xm.shape[0]
        g = xm.T.astype(object) @ xm.astype(object)  # exact big-int gram
        s = xm.sum(axis=0)
        for (i, j), c in got.items():
            want = round(
                (float(int(g[i, j])) / n - (float(int(s[i])) / n) * (float(int(s[j])) / n))
                / 1e12,
                6,
            )
            assert abs(c - want) < 1.5e-6, (i, j)
        d = data.shape[1]
        assert len(got) == d * (d + 1) // 2  # upper triangle only

    def test_partitioning_invariance_bit_exact(self, spark, data):
        """Integer partials merge associatively: 1 partition and 13
        partitions produce IDENTICAL rounded covariances."""
        a = pca.covariance_micro(
            _vec_df(spark, data).coalesce(1), "embedding"
        ).collect()
        b = pca.covariance_micro(
            _vec_df(spark, data).repartition(13), "embedding"
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_components_mean_partitioning_invariant_bit_exact(
        self, spark, data
    ):
        """pca_components' mean/components/variances all derive from
        the exact integer sums (no F.avg float fold), so 1 vs 13
        partitions are IDENTICAL bits end-to-end."""
        m1, c1, v1 = pca.pca_components(
            _vec_df(spark, data).coalesce(1), "embedding", k=4
        )
        m13, c13, v13 = pca.pca_components(
            _vec_df(spark, data).repartition(13), "embedding", k=4
        )
        assert m1.tobytes() == m13.tobytes()
        assert c1.tobytes() == c13.tobytes()
        assert v1.tobytes() == v13.tobytes()

    def test_empty_refused(self, spark):
        empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
        with pytest.raises(ValueError, match="empty"):
            pca.covariance_micro(empty, "embedding")


class TestPcaComponents:
    def test_orthonormal_and_ordered(self, spark, data):
        df = _vec_df(spark, data)
        mean, comps, ev = pca.pca_components(df, "embedding", k=5)
        assert comps.shape == (5, data.shape[1])
        np.testing.assert_allclose(comps @ comps.T, np.eye(5), atol=1e-8)
        assert all(ev[i] >= ev[i + 1] for i in range(4))  # descending
        # dominant directions carry most variance: top-3 explain > 90%
        total = np.trace(np.cov(np.float64(data), rowvar=False, bias=True))
        assert ev[:3].sum() / total > 0.9

    def test_matches_numpy_subspace(self, spark, data):
        df = _vec_df(spark, data)
        _, comps, _ = pca.pca_components(df, "embedding", k=3)
        c = np.cov(np.float64(data), rowvar=False, bias=True)
        w, v = np.linalg.eigh(c)
        ref = v[:, np.argsort(w)[::-1][:3]].T
        # same 3-dim subspace: projection operators agree
        p1 = comps.T @ comps
        p2 = ref.T @ ref
        np.testing.assert_allclose(p1, p2, atol=1e-3)

    def test_k_validation(self, spark, data):
        df = _vec_df(spark, data)
        with pytest.raises(ValueError, match="k must be"):
            pca.pca_components(df, "embedding", k=0)
        with pytest.raises(ValueError, match="k must be"):
            pca.pca_components(df, "embedding", k=99)


class TestPcaProject:
    def test_projection_and_reconstruction_error(self, spark, data):
        df = _vec_df(spark, data)
        mean, comps, _ = pca.pca_components(df, "embedding", k=3)
        out = pca.pca_project(df, mean, comps, "embedding", "pca")
        rows = {r["vec_id"]: np.array(r["pca"]) for r in out.collect()}
        x = np.float64(data)
        want = (x - mean) @ comps.T
        for i in range(len(x)):
            np.testing.assert_allclose(rows[i], want[i], atol=1e-3)
        # energy: k=3 captures >90%, and error shrinks as k grows
        errs = []
        for k in (1, 3, 6):
            _, ck, _ = pca.pca_components(df, "embedding", k=k)
            y = (x - mean) @ ck.T
            recon = y @ ck + mean
            errs.append(float(((x - recon) ** 2).sum()))
        assert errs[0] > errs[1] > errs[2]
        total = float(((x - x.mean(0)) ** 2).sum())
        assert errs[1] / total < 0.1

    def test_projection_plan_is_map_side(self, spark, data):
        df = _vec_df(spark, data)
        mean, comps, _ = pca.pca_components(df, "embedding", k=2)
        plan = (
            pca.pca_project(df, mean, comps)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan  # no shuffle: broadcast basis, map-only


class TestOpqRotation:
    """OPQ-style eigenvalue allocation (Ge et al. 2013): a rotation
    only helps PQ when subspace variance is BALANCED — naive PCA
    rotation concentrates energy in the first subspace and measurably
    HURTS recall (the reason eigenvalue_allocation exists)."""

    def _aniso(self, spark, rng_seed=11, d=16, n=600):
        rng = np.random.default_rng(rng_seed)
        w = rng.normal(size=(d, d))
        scales = np.exp(np.linspace(2.0, -2.0, d))
        x = np.float32((rng.normal(size=(n, d)) * scales) @ w.T)
        df = spark.createDataFrame(
            [(i, [float(v) for v in x[i]]) for i in range(n)],
            "vec_id bigint, embedding array<float>",
        ).localCheckpoint()
        return x, df

    def _recall(self, df_vec, x, m=4, ksub=16):
        from social_media_data_pipeline_spark.functions import pq

        cb = pq.pq_codebook_kmeans(df_vec, m=m, ksub=ksub, iters=2)
        codes = pq.pq_encode(df_vec, cb)
        queries = df_vec.filter(F.col("vec_id") < 20)
        got = pq.pq_adc_topk(queries, codes, cb, k=10).collect()
        approx: dict = {}
        for r in got:
            approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = tot = 0
        for q in approx:
            dist = ((x - x[q]) ** 2).sum(axis=1)
            dist[q] = np.inf
            hits += len(set(np.argsort(dist)[:10].tolist()) & approx[q])
            tot += 10
        return hits / tot

    def test_allocation_is_balanced_permutation(self):
        ev = np.exp(np.linspace(4.0, -4.0, 16))
        perm = pca.eigenvalue_allocation(ev, m=4)
        assert sorted(perm.tolist()) == list(range(16))
        # per-bucket log-variance sums are balanced: spread far below
        # the sorted-split allocation's
        order = np.argsort(ev)[::-1]
        buckets = perm.reshape(4, 4)
        balanced = [np.log(ev[bb]).sum() for bb in buckets]
        naive = np.log(ev[order].reshape(4, 4)).sum(axis=1)
        assert max(balanced) - min(balanced) < (max(naive) - min(naive)) / 4
        with pytest.raises(ValueError, match="not divisible"):
            pca.eigenvalue_allocation(ev, m=5)

    def test_rotation_orthogonal(self, spark):
        _, df = self._aniso(spark)
        mean, r_mat = pca.opq_rotation(df, "embedding", m=4)
        np.testing.assert_allclose(
            r_mat @ r_mat.T, np.eye(r_mat.shape[0]), atol=1e-8
        )

    def test_opq_beats_raw_and_naive_pca_hurts(self, spark):
        """Measured margins (seed-pinned): raw 0.58, naive PCA 0.34,
        OPQ-allocated 0.67 — the allocation is the difference between
        a rotation helping and actively hurting."""
        x, df = self._aniso(spark)
        r_raw = self._recall(df, x)
        mean, r_mat = pca.opq_rotation(df, "embedding", m=4)
        rot = (
            pca.pca_project(df, mean, r_mat, "embedding", "rot")
            .select("vec_id", F.col("rot").alias("embedding"))
            .localCheckpoint()
        )
        r_opq = self._recall(rot, x)
        mean2, comps, _ = pca.pca_components(df, "embedding", k=x.shape[1])
        rot2 = (
            pca.pca_project(df, mean2, comps, "embedding", "rot")
            .select("vec_id", F.col("rot").alias("embedding"))
            .localCheckpoint()
        )
        r_pca = self._recall(rot2, x)
        assert r_opq > r_raw + 0.03, (r_raw, r_opq)
        assert r_pca < r_raw - 0.10, (r_raw, r_pca)  # starvation measured


class TestStreamingSpectrum:
    """Streaming covariance accumulation (`streaming/spectrum.py`):
    integer Gram partials are a commutative monoid, so the folded
    store is BIT-IDENTICAL to a batch recompute — and the store
    commit inherits the drift CAS discipline."""

    def test_three_batches_equal_one_shot_bit_exact(self, spark, tmp_path, data):
        from social_media_data_pipeline_spark.streaming import spectrum

        store = str(tmp_path / "gram")
        df = _vec_df(spark, data)
        n = data.shape[0]
        cuts = [0, n // 3, 2 * n // 3, n]
        for a, b in zip(cuts, cuts[1:]):
            spectrum.spectrum_batch(
                spark,
                df.filter((F.col("vec_id") >= a) & (F.col("vec_id") < b)),
                store,
            )
        folded = sorted(
            map(tuple, spectrum.covariance_from_store(spark, store).collect())
        )
        oneshot = sorted(
            map(tuple, pca.covariance_micro(df, "embedding").collect())
        )
        assert folded == oneshot  # bit-identical, not approximately

    def test_concurrent_fold_race_no_batch_lost(self, spark, tmp_path, data):
        from social_media_data_pipeline_spark import scale
        from social_media_data_pipeline_spark.streaming import spectrum

        store = str(tmp_path / "gram")
        df = _vec_df(spark, data)
        spectrum.spectrum_batch(spark, df.filter(F.col("vec_id") < 100), store)
        real_write = scale.write_table_manifest
        done = [False]

        def stolen(p, files, expect_generation=None):
            if p == store and not done[0]:
                done[0] = True
                spectrum.spectrum_batch(
                    spark,
                    df.filter(
                        (F.col("vec_id") >= 100) & (F.col("vec_id") < 200)
                    ),
                    store,
                )
            return real_write(p, files, expect_generation=expect_generation)

        scale.write_table_manifest = stolen
        try:
            spectrum.spectrum_batch(
                spark, df.filter(F.col("vec_id") >= 200), store
            )
        finally:
            scale.write_table_manifest = real_write
        folded = sorted(
            map(tuple, spectrum.covariance_from_store(spark, store).collect())
        )
        oneshot = sorted(
            map(tuple, pca.covariance_micro(df, "embedding").collect())
        )
        assert folded == oneshot  # all three batches survived the race

    def test_empty_store_refused(self, spark, tmp_path):
        from social_media_data_pipeline_spark.streaming import spectrum

        with pytest.raises(ValueError, match="no committed store"):
            spectrum.covariance_from_store(spark, str(tmp_path / "nope"))

    def test_store_sums_exact_beyond_int64(self, spark, tmp_path, data):
        """The store's lifetime sxy accumulation is DECIMAL(38,0):
        folding onto a base already at int64-max magnitude stays
        EXACT (an int64 store would wrap silently — Spark's non-ANSI
        sum raises no error)."""
        import decimal

        from social_media_data_pipeline_spark import scale
        from social_media_data_pipeline_spark.streaming import spectrum

        store = str(tmp_path / "gram")
        df = _vec_df(spark, data)
        spectrum.spectrum_batch(spark, df, store)
        base = spark.read.parquet(*scale.read_store(store)[0])
        assert dict(base.dtypes)["sxy"] == "decimal(38,0)"
        first = {
            (r["i"], r["j"]): int(r["sxy"]) for r in base.collect()
        }
        # fold the same batch 3 more times onto a base inflated to
        # int64-max scale: rewrite the store with sxy * 2^20 (past
        # wrap territory for any further int64 accumulation)
        big = base.withColumn(
            "sxy",
            (F.col("sxy") * F.lit(2**20).cast("decimal(38,0)")).cast(
                "decimal(38,0)"
            ),
        ).localCheckpoint(eager=True)
        import shutil

        shutil.rmtree(store)
        scale.commit_store(store, [("gram", big)], scale.EXPECT_ABSENT)
        spectrum.spectrum_batch(spark, df, store)
        merged = spark.read.parquet(*scale.read_store(store)[0])
        got = {(r["i"], r["j"]): r["sxy"] for r in merged.collect()}
        for key, v in first.items():
            want = v * 2**20 + v  # exact Python int arithmetic
            assert got[key] == decimal.Decimal(want), (key, got[key], want)
