"""Tests: sketch-state persistence round-trips — the build-per-shard /
store / union-later contract the CMS/KMV/quantile docstrings promise.
Each test writes per-slice sketches to parquet, reads them back in a
fresh DataFrame, merges, and asserts the ESTIMATES equal the
single-pass build exactly (the merges are lossless by construction:
KMV hash-space argument, CMS cell additivity, quantile bottom-k-by-key
union)."""

from __future__ import annotations

from pyspark.sql import functions as F

from social_media_data_pipeline_spark.functions import sketches


def _tokens(spark):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    rid = 0
    for i in range(3000):
        rows.append((rid, words[i % len(words)], i % 2))
        rid += 1
    # skewed head token
    for i in range(500):
        rows.append((rid, "alpha", i % 2))
        rid += 1
    return spark.createDataFrame(rows, "row_id long, t string, slice int")


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestCmsPersistence:
    def test_shard_build_store_merge_equals_single_pass(self, spark, tmp_path):
        toks = _tokens(spark)
        for s in (0, 1):
            sketches.cms_build(
                toks.filter(F.col("slice") == s), "t", depth=4, width=64
            ).write.parquet(str(tmp_path / f"cms_{s}"))
        a = spark.read.parquet(str(tmp_path / "cms_0"))
        b = spark.read.parquet(str(tmp_path / "cms_1"))
        # cell-wise addition merges two sketches
        merged = a.unionByName(b).groupBy("d", "col").agg(F.sum("cnt").alias("cnt"))
        single = sketches.cms_build(toks, "t", depth=4, width=64)
        queries = toks.select("t").distinct()
        est_m = sketches.cms_estimate(merged, queries, "t", depth=4, width=64)
        est_s = sketches.cms_estimate(single, queries, "t", depth=4, width=64)
        assert _sorted_rows(est_m) == _sorted_rows(est_s)
        # and the sketch STATE itself is identical cell-for-cell
        assert _sorted_rows(merged) == _sorted_rows(single)


class TestKmvPersistence:
    def test_shard_build_store_merge_equals_single_pass(self, spark, tmp_path):
        toks = _tokens(spark)
        # distinct values overlap across slices -> merge must dedup
        for s in (0, 1):
            sketches.kmv_build(
                toks.filter(F.col("slice") == s).select(
                    F.lit("g").alias("g"), (F.col("row_id") % 200).alias("v")
                ),
                ["g"],
                "v",
                k=32,
            ).write.parquet(str(tmp_path / f"kmv_{s}"))
        a = spark.read.parquet(str(tmp_path / "kmv_0"))
        b = spark.read.parquet(str(tmp_path / "kmv_1"))
        merged = sketches.kmv_merge(a.unionByName(b), ["g"], k=32)
        single = sketches.kmv_build(
            toks.select(F.lit("g").alias("g"), (F.col("row_id") % 200).alias("v")),
            ["g"],
            "v",
            k=32,
        )
        est_m = _sorted_rows(sketches.kmv_estimate(merged, k=32))
        est_s = _sorted_rows(sketches.kmv_estimate(single, k=32))
        assert est_m == est_s
        assert _sorted_rows(merged.select(F.explode("kmv"))) == _sorted_rows(
            single.select(F.explode("kmv"))
        )


class TestQuantileSketchPersistence:
    def test_shard_build_store_merge_equals_single_pass(self, spark, tmp_path):
        rows = [(i, "g", float((i * 37) % 1000)) for i in range(4000)]
        df = spark.createDataFrame(rows, "key long, g string, v double")
        for s in (0, 1):
            sketches.sample_quantile_sketch(
                df.filter(F.col("key") % 2 == s), ["g"], "key", "v", k=128
            ).write.parquet(str(tmp_path / f"qs_{s}"))
        a = spark.read.parquet(str(tmp_path / "qs_0"))
        b = spark.read.parquet(str(tmp_path / "qs_1"))
        merged = sketches.sample_quantile_merge(a.unionByName(b), ["g"], k=128)
        single = sketches.sample_quantile_sketch(df, ["g"], "key", "v", k=128)
        probs = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
        est_m = _sorted_rows(sketches.sample_quantile_estimate(merged, probs))
        est_s = _sorted_rows(sketches.sample_quantile_estimate(single, probs))
        assert est_m == est_s


class TestHllPersistence:
    def test_shard_build_store_merge_equals_single_pass(self, spark, tmp_path):
        """HLL: per-slice registers written to parquet, read back,
        merged — estimates equal the single-pass build exactly
        (element-wise max is lossless over a stream partition)."""
        toks = _tokens(spark)
        for s in (0, 1):
            sketches.hll_build(
                toks.filter(F.col("slice") == s), ["slice"], "t", p=8
            ).select(F.lit("all").alias("g"), "hll").write.parquet(
                str(tmp_path / f"hll_{s}")
            )
        stored = spark.read.parquet(
            str(tmp_path / "hll_0"), str(tmp_path / "hll_1")
        )
        merged = sketches.hll_estimate(
            sketches.hll_merge(stored, ["g"], p=8), p=8
        )
        single = sketches.hll_estimate(
            sketches.hll_build(
                toks.select(F.lit("all").alias("g"), "t"), ["g"], "t", p=8
            ),
            p=8,
        )
        assert _sorted_rows(merged) == _sorted_rows(single)

    def test_small_range_estimate_near_exact(self, spark):
        """Handful of distinct tokens per slice → small-range
        correction path; the estimate must land within the sketch's
        RSE of each slice's true distinct count."""
        toks = _tokens(spark)
        exact = {
            r["slice"]: r["n"]
            for r in toks.groupBy("slice")
            .agg(F.countDistinct("t").alias("n"))
            .collect()
        }
        est = sketches.hll_estimate(
            sketches.hll_build(toks, ["slice"], "t", p=8), p=8
        ).collect()
        for r in est:
            assert abs(r["distinct_est"] - exact[r["slice"]]) < 2.5

    def test_larger_cardinality_accuracy(self, spark):
        """5 000 distinct ids through 256 registers: raw-estimate path,
        expect within ~3 RSE (RSE ≈ 1.04/√256 ≈ 6.5%)."""
        df = spark.range(5000).selectExpr("'g' AS g", "id AS v")
        est = sketches.hll_estimate(
            sketches.hll_build(df, ["g"], "v", p=8), p=8
        ).collect()[0]["distinct_est"]
        assert abs(est - 5000) / 5000 < 0.20

    def test_registers_are_fixed_width(self, spark):
        toks = _tokens(spark)
        rows = sketches.hll_build(toks, ["slice"], "t", p=8).collect()
        assert all(len(r["hll"]) == 256 for r in rows)
        assert all(0 <= x <= 53 for r in rows for x in r["hll"])


class TestKmvOverlap:
    def test_exact_below_k(self, spark):
        """Two small sets (< k distinct) → sketches are the sets, the
        pair estimates must be EXACT."""
        rows = [("a", "u%d" % i) for i in range(20)] + [
            ("b", "u%d" % i) for i in range(10, 40)
        ]
        df = spark.createDataFrame(rows, "g string, v string")
        sk = sketches.kmv_build(df, ["g"], "v", k=64)
        out = sketches.kmv_overlap_pairs(sk.select("g", "kmv"), "g", k=64).collect()[0]
        # |A|=20, |B|=30, overlap=10, union=40
        assert out["intersect_est"] == 10.0
        assert abs(out["jaccard_est"] - 10 / 40) < 1e-6

    def test_estimate_tracks_planted_overlap(self, spark):
        """5k/5k sets with 2k planted overlap through k=256 sketches:
        the overlap estimate must land within ~3 RSE of truth."""
        rows = [("a", "x%d" % i) for i in range(5000)] + [
            ("b", "x%d" % i) for i in range(3000, 8000)
        ]
        df = spark.createDataFrame(rows, "g string, v string")
        sk = sketches.kmv_build(df, ["g"], "v", k=256)
        out = sketches.kmv_overlap_pairs(sk.select("g", "kmv"), "g", k=256).collect()[0]
        assert abs(out["intersect_est"] - 2000) / 2000 < 0.30
        assert abs(out["jaccard_est"] - 2000 / 8000) < 0.08


class TestJoinSizeEstimate:
    """Correlated-sampling join-size estimation (join_key_sample /
    join_size_estimate): exactness at inv_rate=1, accuracy on a skewed
    planted distribution, shard-mergeability, and the correlated-keys
    property that makes the estimator work at all."""

    def _frames(self, spark):
        # zipf-ish: key k appears (50 - k) times on side A, (k % 7)+1
        # times on side B, keys 0..49
        a = spark.createDataFrame(
            [(k,) for k in range(50) for _ in range(50 - k)], "key bigint"
        ).withColumnRenamed("key", "ka")
        b = spark.createDataFrame(
            [(k,) for k in range(50) for _ in range(k % 7 + 1)], "key bigint"
        ).withColumnRenamed("key", "kb")
        exact = sum((50 - k) * (k % 7 + 1) for k in range(50))
        return a, b, exact

    def test_inv_rate_1_is_exact(self, spark):
        a, b, exact = self._frames(spark)
        sa = sketches.join_key_sample(a, "ka", inv_rate=1)
        sb = sketches.join_key_sample(b, "kb", inv_rate=1)
        row = sketches.join_size_estimate(sa, sb, inv_rate=1).collect()[0]
        assert row["est_pairs"] == exact
        assert row["sampled_keys"] == 50

    def test_estimate_within_tolerance(self, spark):
        a, b, exact = self._frames(spark)
        sa = sketches.join_key_sample(a, "ka", inv_rate=4)
        sb = sketches.join_key_sample(b, "kb", inv_rate=4)
        row = sketches.join_size_estimate(sa, sb, inv_rate=4).collect()[0]
        # ~12 of 50 keys sampled; products bounded by 50*7 so the
        # relative error stays well inside 2x on this distribution
        assert 0 < row["sampled_keys"] < 50
        assert exact / 2 <= row["est_pairs"] <= exact * 2

    def test_sketch_is_mergeable(self, spark):
        a, b, exact = self._frames(spark)
        # split side A into two "shards", sketch each, merge by re-sum
        sh1 = a.filter("ka % 2 = 0")
        sh2 = a.filter("ka % 2 = 1")
        merged = (
            sketches.join_key_sample(sh1, "ka", inv_rate=4)
            .unionByName(sketches.join_key_sample(sh2, "ka", inv_rate=4))
            .groupBy("key")
            .agg(F.sum("n_rows").alias("n_rows"))
        )
        direct = sketches.join_key_sample(a, "ka", inv_rate=4)
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, direct.collect())
        )

    def test_correlated_keys_survive_on_both_sides(self, spark):
        a, b, _ = self._frames(spark)
        ka = {r["key"] for r in sketches.join_key_sample(a, "ka", inv_rate=4).collect()}
        kb = {r["key"] for r in sketches.join_key_sample(b, "kb", inv_rate=4).collect()}
        # both sides hold keys 0..49: the sampled key SETS must be
        # identical — that's the correlation Bernoulli sampling lacks
        assert ka == kb and ka

    def test_counts_are_exact_per_sampled_key(self, spark):
        a, _, _ = self._frames(spark)
        got = {
            r["key"]: r["n_rows"]
            for r in sketches.join_key_sample(a, "ka", inv_rate=4).collect()
        }
        for k, n in got.items():
            assert n == 50 - k

    def test_rejects_bad_rate(self, spark):
        a, b, _ = self._frames(spark)
        import pytest as _pt

        with _pt.raises(ValueError, match="inv_rate"):
            sketches.join_key_sample(a, "ka", inv_rate=0)
