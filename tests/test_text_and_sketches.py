"""Tests for the LLM-pipeline text / sketch / similarity functions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from social_media_data_pipeline_spark.functions import sketches, similarity
from social_media_data_pipeline_spark.functions import text as etext


def one(df, col):
    return df.collect()[0][col]


class TestText:
    def test_tokenize_and_count(self, spark):
        df = spark.createDataFrame([("Hello  World foo",)], "text string")
        assert one(df.select(etext.token_count("text").alias("n")), "n") == 3

    def test_token_count_null(self, spark):
        df = spark.createDataFrame([(None,)], "text string")
        assert one(df.select(etext.token_count("text").alias("n")), "n") == 1  # [''] edge

    def test_fingerprint_normalization(self, spark):
        df = spark.createDataFrame([("A  b\tC", "a b c")], "t1 string, t2 string")
        row = df.select(
            etext.fingerprint("t1").alias("f1"), etext.fingerprint("t2").alias("f2")
        ).collect()[0]
        assert row.f1 == row.f2

    def test_detect_language(self, spark):
        df = spark.createDataFrame(
            [("the cat is in the house and it is big",),
             ("el gato es grande y la casa es una maravilla",),
             ("zzz qqq www",)],
            "text string",
        )
        out = [r.lang for r in df.select(etext.detect_language("text").alias("lang")).collect()]
        assert out == ["en", "es", "und"]

    def test_quality_score_bounds(self, spark):
        df = spark.createDataFrame([("a decent length sentence with several words",), ("",)], "text string")
        scores = [r.q for r in df.select(etext.quality_score("text").alias("q")).collect()]
        assert all(0.0 <= s <= 1.0 for s in scores)

    def test_shingles(self, spark):
        df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
        rows = df.select(etext.shingles("text", 3).alias("sh")).collect()
        assert sorted(rows[0].sh) == ["a b c", "b c d"]
        assert rows[1].sh == ["a b"]  # shorter than k → whole text

    def test_redact_pii_all_kinds(self, spark):
        df = spark.createDataFrame(
            [
                ("mail me at a.user+x@sub.example.org please", "<EMAIL>"),
                ("see https://ex.com/a?b=1#frag and more", "<URL>"),
                ("call +1 (415) 555-0134 today", "<PHONE>"),
                ("digits 42 alone stay", "42"),  # short numbers untouched
                (None, ""),  # null-safe
            ],
            "text string, want string",
        )
        for row in df.select(etext.redact_pii("text").alias("clean"), "want").collect():
            assert row.want in row.clean
            assert "@" not in row.clean and "http" not in row.clean

    def test_redact_pii_url_with_at_sign_stays_url(self, spark):
        # URL containing '@' must become <URL>, not partially <EMAIL>
        df = spark.createDataFrame([("go http://u@ex.com/p now",)], "text string")
        clean = one(df.select(etext.redact_pii("text").alias("c")), "c")
        assert clean == "go <URL> now"

    def test_repetition_metrics_values(self, spark):
        df = spark.createDataFrame(
            [
                (1, "spam spam spam spam"),  # one word, one bigram repeated
                (2, "all words here differ"),
                (3, "solo"),  # < n words → no bigram row
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in etext.repetition_metrics(df).collect()}
        assert out[1].n_words == 4 and out[1].dup_word_frac == 0.75
        assert out[1].top_ngram_frac == 1.0  # 'spam spam' is every bigram
        assert out[2].dup_word_frac == 0.0 and out[2].top_ngram_frac == pytest.approx(1 / 3)
        assert out[3].n_words == 1 and out[3].top_ngram_frac is None


class TestSketches:
    def test_minhash_identical_docs_same_signature(self, spark):
        df = spark.createDataFrame(
            [(1, "one two three four five"), (2, "one two three four five")],
            "doc_id long, text string",
        )
        sigs = [
            tuple(r.sig)
            for r in sketches.minhash_signatures_table(df, "doc_id", "text")
            .orderBy("doc")
            .collect()
        ]
        assert sigs[0] == sigs[1]
        assert len(set(sigs[0])) > 1  # salts actually differ (regression: index-capture bug)

    def test_lsh_finds_near_dup(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame(
            [(1, base), (2, base + " tail"), (3, "completely different words everywhere here")],
            "doc_id long, text string",
        )
        pairs = sketches.minhash_lsh_pairs(df, "doc_id", "text").collect()
        assert (1, 2) in {(r.id_a, r.id_b) for r in pairs}

    def test_jaccard_identical_is_one(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
        )
        out = sketches.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.9).collect()
        assert len(out) == 1 and out[0].jaccard == 1.0

    def test_blocked_pairs_equal_exact_theta_join(self, spark, sf_dir):
        """Pigeonhole blocking must lose NO pair vs the exact n² join
        (recall is provably 1.0 at n_blocks > tau)."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
        blocked = {
            (r.id_a, r.id_b, r.hamming)
            for r in sketches.simhash_blocked_pairs(docs, "doc_id", "text", tau=3).collect()
        }
        fp = sketches.simhash_table(docs, "doc_id", "text")
        a, b = fp.alias("a"), fp.alias("b")
        exact = {
            (r.id_a, r.id_b, r.hamming)
            for r in a.join(b, F.col("a.doc") < F.col("b.doc"))
            .select(
                F.col("a.doc").alias("id_a"),
                F.col("b.doc").alias("id_b"),
                sketches.hamming_distance64(
                    F.col("a.simhash"), F.col("b.simhash")
                ).alias("hamming"),
            )
            .filter(F.col("hamming") <= 3)
            .collect()
        }
        assert blocked == exact and len(exact) > 0

    def test_blocked_pairs_plan_is_equi_join(self, spark):
        df = spark.createDataFrame(
            [(i, f"w{i} common words here") for i in range(10)],
            "doc_id long, text string",
        )
        out = sketches.simhash_blocked_pairs(df, "doc_id", "text", tau=3)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_blocked_pairs_rejects_bad_block_count(self, spark):
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError):
            sketches.simhash_blocked_pairs(df, "doc_id", "text", tau=4, n_blocks=3)

    def test_simhash_close_for_near_dups(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta"),
             (2, "alpha beta gamma delta epsilon eta"),
             (3, "totally unrelated content words here")],
            "doc_id long, text string",
        )
        fps = {r.doc: r.simhash for r in sketches.simhash_table(df, "doc_id", "text").collect()}
        d12 = bin(fps[1] ^ fps[2]).count("1")
        d13 = bin(fps[1] ^ fps[3]).count("1")
        assert d12 < d13


class TestSimilarity:
    def test_cosine_known_vectors(self, spark):
        df = spark.createDataFrame(
            [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])],
            "a array<double>, b array<double>",
        )
        out = [r.c for r in df.select(F.round(similarity.cosine(F.col("a"), F.col("b")), 6).alias("c")).collect()]
        assert out == [0.0, 1.0]

    def test_brute_force_topk_ranks(self, spark):
        vecs = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.05])]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        out = similarity.brute_force_topk(df.filter("vec_id = 0"), df, k=2).collect()
        assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [3, 1]

    def test_ivf_near_dup_equals_exact_at_recall_one_config(self, spark, sf_dir):
        """probes=4 over K=10 centroids: measured recall 1.0 on this
        corpus at τ=0.4 — the candidate composition must reproduce the
        exact all-pairs result, pair for pair."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        centroids = emb.filter("vec_id % 50 = 0")
        via_ivf = {
            (r.id_a, r.id_b, r.cos)
            for r in similarity.cosine_near_dup_via_ivf(
                emb, centroids, threshold=0.4, probes=4
            ).collect()
        }
        exact = {
            (r.id_a, r.id_b, r.cos)
            for r in similarity.cosine_near_dup_pairs(emb, threshold=0.4).collect()
        }
        assert via_ivf == exact and len(exact) > 0

    def test_ivf_near_dup_plan_is_equi_join(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
        centroids = emb.filter("vec_id % 50 = 0")
        out = similarity.cosine_near_dup_via_ivf(emb, centroids, threshold=0.4, probes=2)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the centroid scoring is an intentional broadcast-K nested loop
        # (K=10 centroid rows per side); the PAIR join itself must be a
        # hash/sort-merge join equi on the cell id, never a cartesian
        assert "CartesianProduct" not in plan
        assert "Join [cluster" in plan  # pair join is hash/SMJ equi on the cell id
        # every nested-loop node is the K-row centroid cross-scoring, not
        # the pair join (whose theta shape would carry the id_a<id_b cond)
        for line in plan.splitlines():
            if "BroadcastNestedLoopJoin" in line:
                assert "Cross" in line and "id_a" not in line

    def test_ivf_near_dup_planted_copies_structural_recall(self, spark, sf_dir):
        """A ×2-scaled copy has bit-identical centroid cosines (fp scale
        invariance) → identical probe cells → every planted pair MUST
        survive the candidate pruning, at any K/probes, any corpus."""
        import math

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        n = emb.count()
        copies = emb.select(
            (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
            F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
                "embedding"
            ),
        )
        corpus = emb.unionByName(copies)
        centroids = similarity.select_ivf_centroids(
            emb, k=math.isqrt(2 * n), corpus_size=n
        )
        out = similarity.cosine_near_dup_via_ivf(
            corpus, centroids, threshold=0.95, probes=2
        ).collect()
        assert len(out) == n
        assert {(r.id_a, r.id_b) for r in out} == {
            (i, i + 10_000_000) for i in range(n)
        }
        assert all(r.cos == 1.0 for r in out)

    def test_select_ivf_centroids_scales_with_sqrt_n(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = emb.count()
        k = similarity.select_ivf_centroids(emb).count()
        import math

        target = math.isqrt(n)
        # stride quantization: count is within one stride of the target
        assert target <= k <= n // max(1, n // target) + 1

    def test_simhash_blocked_pairs_rejects_zero_width_blocks(self, spark):
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="width"):
            sketches.simhash_blocked_pairs(df, "doc_id", "text", tau=61, n_blocks=62)

    def test_ivf_multiprobe_assigns_p_cells(self, spark, sf_dir):
        full = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        emb = full.filter("vec_id < 50")
        centroids = full.filter("vec_id % 50 = 0")
        out = similarity.ivf_assign_multiprobe(emb, centroids, probes=3)
        counts = out.groupBy("vec_id").count().collect()
        assert all(r["count"] == 3 for r in counts)

    def test_lsh_bucket_recall_on_clusters(self, spark):
        import numpy as np

        rng = np.random.default_rng(0)
        centers = [rng.standard_normal(8) for _ in range(2)]
        rows = []
        for i in range(20):
            c = centers[i % 2]
            rows.append((i, (c + rng.standard_normal(8) * 0.01).tolist()))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = similarity.lsh_bucketed_topk(
            df.filter("vec_id < 2"), df, k=3, n_planes=4, dim=8
        ).collect()
        # same-cluster points land in the same bucket → neighbors share parity
        for r in out:
            assert r.neighbor_id % 2 == r.query_id % 2


class TestQuantize:
    def test_int8_roundtrip_error_bound_and_range(self, spark):
        import math

        from social_media_data_pipeline_spark.functions import quantize

        df = spark.createDataFrame(
            [(1, [0.5, -1.0, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0]), (3, [1e-6, -1e-6, 5e-7, 0.0])],
            "vec_id long, embedding array<float>",
        )
        q = quantize.quantize_embeddings(df)
        rows = {r.vec_id: r for r in q.collect()}
        orig = {1: [0.5, -1.0, 0.25, 0.0], 2: [0.0] * 4, 3: [1e-6, -1e-6, 5e-7, 0.0]}
        for vid, r in rows.items():
            assert all(-127 <= v <= 127 for v in r.q_embedding)
            # stored form reconstructs as x̂ = q·scale
            for x, v in zip(orig[vid], r.q_embedding):
                xhat = v * r.scale
                # symmetric SQ8 bound: |x - x̂| <= scale/2 (+ float eps)
                assert abs(x - xhat) <= r.scale / 2 + 1e-9
        assert rows[2].scale == 0.0 and set(rows[2].q_embedding) == {0}
        # max-magnitude element hits ±127 exactly
        assert min(rows[1].q_embedding) == -127
        assert math.isclose(rows[3].scale, 1e-6 / 127.0, rel_tol=1e-3)


def test_unigram_logprob_matches_hand_computed(spark):
    """Mean unigram log-prob under the corpus's own distribution,
    verified against an exact hand computation."""
    import math

    from pyspark.sql import Row

    from social_media_data_pipeline_spark.functions import text as etext

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a a b"),
            Row(doc_id=2, text="a c"),
            Row(doc_id=3, text="rare"),
        ]
    )
    got = {
        r.doc_id: (r.n_tokens, r.unigram_logprob)
        for r in etext.unigram_logprob(docs).collect()
    }
    # corpus: a=3, b=1, c=1, rare=1, total=6
    p = {"a": 3 / 6, "b": 1 / 6, "c": 1 / 6, "rare": 1 / 6}
    exp1 = round((2 * math.log(p["a"]) + math.log(p["b"])) / 3, 4)
    exp2 = round((math.log(p["a"]) + math.log(p["c"])) / 2, 4)
    exp3 = round(math.log(p["rare"]), 4)
    assert got == {1: (3, exp1), 2: (2, exp2), 3: (1, exp3)}
    # the all-common-tokens doc outranks the all-rare doc
    assert got[1][1] > got[3][1]


def test_bigram_logprob_hand_computed_and_order_sensitivity(spark):
    """Interpolated bigram LM: exact hand computation on a toy corpus,
    plus the property the unigram filter can't deliver — same bag of
    words, scrambled order, lower score."""
    import math

    from pyspark.sql import Row

    from social_media_data_pipeline_spark.functions import text as etext

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b"),
            Row(doc_id=2, text="b a"),
        ]
    )
    got = {
        r.doc_id: (r.n_transitions, r.bigram_logprob)
        for r in etext.bigram_logprob(docs, lam=0.7, alpha=0.5).collect()
    }
    # transitions: d1 = ab, ba, ab ; d2 = ba. c(ab)=2, c(ba)=2,
    # ctx c(a.)=2, c(b.)=2; unigrams a=3,b=3 N=6 V=2 -> backoff is
    # (c_t+0.5)/(6+1) for each target token
    def p(c_ab, c_a, c_t):
        return 0.7 * c_ab / c_a + (1.0 - 0.7) * (c_t + 0.5) / (6 + 0.5 * 2)

    exp1 = round((2 * math.log(p(2, 2, 3)) + math.log(p(2, 2, 3))) / 3, 4)
    exp2 = round(math.log(p(2, 2, 3)), 4)
    assert got == {1: (3, exp1), 2: (1, exp2)}
    # single-token docs drop out (no transitions)
    single = spark.createDataFrame([Row(doc_id=9, text="only")])
    assert etext.bigram_logprob(single).count() == 0
    # order sensitivity: natural repeated phrasing vs scrambled bag
    base = [Row(doc_id=i, text="the quick fox jumps the quick fox jumps") for i in range(8)]
    probe = base + [
        Row(doc_id=100, text="the quick fox jumps"),
        Row(doc_id=101, text="jumps the fox quick"),
    ]
    scores = {
        r.doc_id: r.bigram_logprob
        for r in etext.bigram_logprob(spark.createDataFrame(probe)).collect()
    }
    assert scores[100] > scores[101]


def test_bigram_logprob_guards(spark):
    from pyspark.sql import Row

    from social_media_data_pipeline_spark.functions import text as etext

    docs = spark.createDataFrame([Row(doc_id=1, text="a b")])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        etext.bigram_logprob(docs, lam=1.0)
    with _pytest.raises(ValueError):
        etext.bigram_logprob(docs, alpha=0)


class TestSegmentDedup:
    def _corpus(self, spark):
        # 4-token segments; "shared boiler plate text" is the cross-doc dup
        return spark.createDataFrame(
            [
                (1, "shared boiler plate text alpha beta gamma delta"),
                (2, "shared boiler plate text epsilon zeta eta theta"),
                (3, "shared boiler plate text"),
            ],
            ["doc_id", "text"],
        )

    def test_first_occurrence_wins_and_reassembly(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import segment_dedup

        out = {
            r.id: r
            for r in segment_dedup(
                self._corpus(spark), "doc_id", "text", seg_tokens=4
            ).collect()
        }
        # doc 1 scans first: keeps both its segments in order
        assert out[1].clean_text == "shared boiler plate text alpha beta gamma delta"
        assert out[1].n_kept == 2 and out[1].n_segs == 2
        # doc 2 loses the shared head segment, keeps its unique tail
        assert out[2].clean_text == "epsilon zeta eta theta"
        assert out[2].n_kept == 1 and out[2].n_segs == 2
        # doc 3 is pure boilerplate: removed entirely
        assert 3 not in out

    def test_partial_tail_segment_is_kept(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import segment_dedup

        df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
        row = segment_dedup(df, "doc_id", "text", seg_tokens=4).collect()[0]
        assert row.clean_text == "a b c d e"
        assert row.n_segs == 2  # 4-token segment + 1-token tail


class TestMinhashJaccardEst:
    def test_identical_docs_estimate_one(self, spark):
        from social_media_data_pipeline_spark.functions.sketches import (
            minhash_jaccard_pairs,
        )

        txt = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame([(1, txt), (2, txt)], ["doc_id", "text"])
        rows = minhash_jaccard_pairs(df, "doc_id", "text").collect()
        assert len(rows) == 1
        assert rows[0].est_jaccard == 1.0
        assert rows[0].jaccard == 1.0

    def test_estimate_bounded_and_candidates_subset(self, spark, sf_dir):
        from social_media_data_pipeline_spark.functions.sketches import (
            minhash_jaccard_pairs,
            minhash_lsh_pairs,
        )
        from social_media_data_pipeline_spark import io as eio

        docs = eio.read_table(spark, sf_dir, "documents")
        est = minhash_jaccard_pairs(docs, "doc_id", "text")
        rows = est.collect()
        assert all(0.0 <= r.est_jaccard <= 1.0 for r in rows)
        assert all(0.0 <= r.jaccard <= 1.0 for r in rows)
        lsh = {
            (r.id_a, r.id_b)
            for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
        }
        assert {(r.id_a, r.id_b) for r in rows} == lsh


def test_boilerplate_ngrams_counts_doc_frequency(spark):
    from social_media_data_pipeline_spark.functions.text import boilerplate_ngrams

    df = spark.createDataFrame(
        [
            (1, "common three gram one two"),
            (2, "common three gram four five"),
            (3, "common three gram one two"),
        ],
        ["doc_id", "text"],
    )
    rows = boilerplate_ngrams(df, "text", k=3, min_df=2, top=10).collect()
    by_gram = {r.gram: r.doc_freq for r in rows}
    assert by_gram["common three gram"] == 3
    # occurrence-in-doc counts once: "one two" tail shared by docs 1 and 3
    assert by_gram["gram one two"] == 2
    assert all(r.doc_freq >= 2 for r in rows)
    # ranked by doc_freq desc then gram
    freqs = [r.doc_freq for r in rows]
    assert freqs == sorted(freqs, reverse=True)


class TestDuplicateSpans:
    def test_shared_run_found_and_merged(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import duplicate_spans

        # docs 1 and 2 share tokens c..j (8 tokens) at different offsets;
        # doc 3 is unrelated
        df = spark.createDataFrame(
            [
                (1, "a b c d e f g h i j k l"),
                (2, "x y z c d e f g h i j q r s"),
                (3, "unrelated words only here nothing shared at all"),
            ],
            ["doc_id", "text"],
        )
        rows = duplicate_spans(df, "doc_id", "text", k=8, min_docs=2).collect()
        spans = {(r.id, r.span_start, r.span_end, r.n_windows) for r in rows}
        # the shared 8-token run c..j is exactly one window in each doc
        assert (1, 2, 9, 1) in spans
        assert (2, 3, 10, 1) in spans
        assert all(r.id != 3 for r in rows)

    def test_consecutive_windows_merge_into_one_span(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import duplicate_spans

        shared = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"  # 10 tokens -> 3 windows of 8
        df = spark.createDataFrame(
            [(1, shared + " tail1 only"), (2, "head2 only " + shared)],
            ["doc_id", "text"],
        )
        rows = duplicate_spans(df, "doc_id", "text", k=8, min_docs=2).collect()
        by_doc = {r.id: r for r in rows}
        assert by_doc[1].span_start == 0 and by_doc[1].span_end == 9
        assert by_doc[1].n_windows == 3
        assert by_doc[2].span_start == 2 and by_doc[2].span_end == 11

    def test_short_docs_excluded(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import duplicate_spans

        df = spark.createDataFrame(
            [(1, "too short"), (2, "too short")], ["doc_id", "text"]
        )
        assert duplicate_spans(df, "doc_id", "text", k=8).count() == 0


def test_zipf_slope_near_minus_one_on_zipfian_corpus(spark):
    from social_media_data_pipeline_spark.functions.text import zipf_slope

    # synthetic corpus with freq(rank r) = 60/r: slope should be ~ -1
    words = []
    for r in range(1, 31):
        words += [f"w{r:02d}"] * (60 // r)
    df = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    row = zipf_slope(df, "text").collect()[0]
    assert row.n_types == 30
    assert -1.2 < row.slope < -0.8


class TestTrimSpans:
    def test_trim_removes_flagged_ranges(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import (
            duplicate_spans,
            trim_spans,
        )

        shared = "s1 s2 s3 s4 s5 s6 s7 s8"
        df = spark.createDataFrame(
            [(1, shared + " u1 u2 u3"), (2, "v1 v2 " + shared + " v3")],
            ["doc_id", "text"],
        )
        spans = duplicate_spans(df, "doc_id", "text", k=8, min_docs=2)
        out = {r.doc_id: r for r in trim_spans(df, spans).collect()}
        assert out[1].trimmed_text == "u1 u2 u3" and out[1].n_removed == 8
        assert out[2].trimmed_text == "v1 v2 v3" and out[2].n_removed == 8

    def test_docs_without_spans_pass_through(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import trim_spans

        df = spark.createDataFrame([(1, "Plain  Text here")], ["doc_id", "text"])
        spans = spark.createDataFrame(
            [], "id long, span_start int, span_end int, n_windows long"
        )
        row = trim_spans(df, spans).collect()[0]
        # text passes through normalized (lowercase, collapsed spaces)
        assert row.trimmed_text == "plain text here" and row.n_removed == 0

    def test_fully_duplicated_doc_drops(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import (
            duplicate_spans,
            trim_spans,
        )

        t = "d1 d2 d3 d4 d5 d6 d7 d8"
        df = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
        spans = duplicate_spans(df, "doc_id", "text", k=8, min_docs=2)
        assert trim_spans(df, spans).count() == 0


def test_subdoc_param_validation(spark):
    import pytest as _pytest

    from social_media_data_pipeline_spark.operators.dedup import (
        duplicate_spans,
        segment_dedup,
    )

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        segment_dedup(df, "doc_id", "text", seg_tokens=0)
    with _pytest.raises(ValueError):
        duplicate_spans(df, "doc_id", "text", k=1)
    with _pytest.raises(ValueError):
        duplicate_spans(df, "doc_id", "text", k=8, min_docs=0)


def test_containment_catches_subset_duplication(spark):
    """A short doc quoted wholesale inside a long one: containment of
    the short side ~1.0 while Jaccard stays below a dedup threshold."""
    from social_media_data_pipeline_spark.functions.sketches import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame([(1, short), (2, long)], ["doc_id", "text"])
    cont = ngram_containment_pairs(df, "doc_id", "text", threshold=0.8).collect()
    assert len(cont) == 1 and cont[0].containment_a == 1.0
    jac = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.8).collect()
    assert jac == []  # symmetric Jaccard misses the subset-dup


class TestCountMinSketch:
    def _items(self, spark):
        from pyspark.sql import Row

        rows = [Row(t="hot")] * 50 + [Row(t=f"cold{i}") for i in range(40)]
        return spark.createDataFrame(rows)

    def test_overestimate_and_exactness(self, spark):
        from social_media_data_pipeline_spark.functions import sketches as sk
        from pyspark.sql import Row, functions as F

        items = self._items(spark)
        queries = spark.createDataFrame(
            [Row(t="hot"), Row(t="cold0"), Row(t="absent")]
        )
        # tiny width forces collisions: estimates may only OVERestimate
        tight = sk.cms_estimate(
            sk.cms_build(items, depth=3, width=4), queries, depth=3, width=4
        )
        got = {r["t"]: r["cms_est"] for r in tight.collect()}
        assert got["hot"] >= 50 and got["cold0"] >= 1
        # wide sketch: with 41 distinct items in 4096 cells x 4 rows the
        # min over rows is exact for every query here
        wide = sk.cms_estimate(
            sk.cms_build(items, depth=4, width=4096), queries, depth=4, width=4096
        )
        got = {r["t"]: r["cms_est"] for r in wide.collect()}
        assert got == {"hot": 50, "cold0": 1, "absent": 0}

    def test_merge_equals_union_build(self, spark):
        from social_media_data_pipeline_spark.functions import sketches as sk
        from pyspark.sql import Row

        a = spark.createDataFrame([Row(t="x")] * 5 + [Row(t="y")] * 2)
        b = spark.createDataFrame([Row(t="x")] * 3 + [Row(t="z")] * 7)
        # sketches merge by adding cell counts: the cell-wise sum of two
        # builds equals the build over the union
        m = {}
        for part in (a, b):
            for r in sk.cms_build(part, depth=3, width=64).collect():
                m[(r["d"], r["col"])] = m.get((r["d"], r["col"]), 0) + r["cnt"]
        direct = sk.cms_build(a.unionByName(b), depth=3, width=64)
        d = {(r["d"], r["col"]): r["cnt"] for r in direct.collect()}
        assert m == d

    def test_guards(self, spark):
        from social_media_data_pipeline_spark.functions import sketches as sk
        import pytest as _pytest

        items = self._items(spark)
        with _pytest.raises(ValueError):
            sk.cms_build(items, depth=0)
        with _pytest.raises(ValueError):
            sk.cms_build(items, width=1)


class TestKmvSketch:
    def _events(self, spark, n_users=500):
        from pyspark.sql import Row

        rows = [
            Row(grp="a", slice=i % 4, user=i)  # 500 distinct across 4 slices
            for i in range(n_users)
        ] + [
            Row(grp="b", slice=0, user=i)  # 10 distinct, < k: exact path
            for i in range(10)
        ]
        return spark.createDataFrame(rows)

    def test_merge_equals_direct_build(self, spark):
        """Per-slice sketches merged down == sketch built directly on
        the union: the lossless-merge property the scale story rests
        on."""
        from social_media_data_pipeline_spark.functions import sketches as sk

        ev = self._events(spark)
        per_slice = sk.kmv_build(ev, ["grp", "slice"], "user", k=32)
        merged = {
            r["grp"]: r["kmv"]
            for r in sk.kmv_merge(per_slice, ["grp"], k=32).collect()
        }
        direct = {
            r["grp"]: r["kmv"] for r in sk.kmv_build(ev, ["grp"], "user", k=32).collect()
        }
        assert merged == direct

    def test_estimate_accuracy_and_exact_small_groups(self, spark):
        from social_media_data_pipeline_spark.functions import sketches as sk

        ev = self._events(spark)
        est = {
            r["grp"]: r["distinct_est"]
            for r in sk.kmv_estimate(
                sk.kmv_build(ev, ["grp"], "user", k=64), k=64
            ).collect()
        }
        assert est["b"] == 10.0  # below k → sketch holds all values, exact
        # RSE ≈ 1/sqrt(62) ≈ 13%; allow 3 sigma around the true 500
        assert 300 < est["a"] < 700

    def test_subgroup_count_does_not_change_sketch(self, spark):
        from social_media_data_pipeline_spark.functions import sketches as sk

        ev = self._events(spark)
        a = {r["grp"]: r["kmv"] for r in sk.kmv_build(ev, ["grp"], "user", k=16, subgroups=2).collect()}
        b = {r["grp"]: r["kmv"] for r in sk.kmv_build(ev, ["grp"], "user", k=16, subgroups=64).collect()}
        assert a == b

    def test_duplicates_do_not_inflate(self, spark):
        from pyspark.sql import Row
        from social_media_data_pipeline_spark.functions import sketches as sk

        dup = spark.createDataFrame([Row(grp="g", user=i % 20) for i in range(1000)])
        est = sk.kmv_estimate(sk.kmv_build(dup, ["grp"], "user", k=64), k=64).collect()
        assert est[0]["distinct_est"] == 20.0

    def test_k_guard(self, spark):
        import pytest as _pytest
        from social_media_data_pipeline_spark.functions import sketches as sk

        with _pytest.raises(ValueError):
            sk.kmv_build(self._events(spark), ["grp"], "user", k=1)


class TestSemDeDup:
    def _corpus(self, spark):
        """Two well-separated directions + τ-similar variants of one."""
        base = [1.0] + [0.0] * 7
        ortho = [0.0] * 7 + [1.0]
        near1 = [0.99, 0.05, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
        near2 = [0.98, 0.0, 0.08, 0.0, 0.0, 0.0, 0.0, 0.0]
        rows = [(0, base), (1, near1), (2, near2), (3, ortho)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_prunes_tau_neighbors_keeps_farthest(self, spark):
        from social_media_data_pipeline_spark.functions import similarity as sim

        vecs = self._corpus(spark)
        cents = vecs.filter("vec_id in (0, 3)")  # two cluster anchors
        out = {r["vec_id"]: r for r in sim.semdedup(vecs, cents, threshold=0.9).collect()}
        # 0,1,2 cluster together (mutual cos > 0.9); exactly one survives,
        # and it is the one FARTHEST from the centroid (lowest c_cos)
        cluster0 = [k for k in out if out[k]["cluster"] == 0]
        assert len(cluster0) == 1
        assert 3 in out  # orthogonal vector untouched
        # survivor must be the min (c_cos, id) element: vec 2 is farther
        # from centroid 0 than 1 and 0
        assert cluster0 == [2]

    def test_high_threshold_keeps_everything(self, spark):
        from social_media_data_pipeline_spark.functions import similarity as sim

        vecs = self._corpus(spark)
        cents = vecs.filter("vec_id in (0, 3)")
        out = sim.semdedup(vecs, cents, threshold=0.999999).collect()
        assert len(out) == 4

    def test_survivors_are_subset_with_cluster_metadata(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from social_media_data_pipeline_spark.functions import similarity as sim

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = emb.filter("vec_id % 50 = 0")
        out = sim.semdedup(emb, cents, threshold=0.3)
        n_all = emb.count()
        survivors = out.count()
        assert 0 < survivors < n_all  # τ=0.3 prunes some but not all
        assert set(out.columns) == {"vec_id", "cluster", "c_cos"}
        # idempotence on the survivor set's ids: re-running drops nothing
        # already-minimal (dominance is defined within original clusters)
        assert out.filter(F.col("c_cos") > 1.0).count() == 0


class TestSampleQuantileSketch:
    def _values(self, spark):
        from pyspark.sql import Row

        # group "u": uniform 0..9999 (known quantiles); group "s": tiny
        rows = [Row(grp="u", slice=i % 5, key=i, val=float(i % 10000)) for i in range(20000)]
        rows += [Row(grp="s", slice=0, key=100000 + i, val=float(i)) for i in range(9)]
        return spark.createDataFrame(rows)

    def test_merge_equals_direct_build(self, spark):
        from social_media_data_pipeline_spark.functions import sketches as sk

        df = self._values(spark)
        per_slice = sk.sample_quantile_sketch(df, ["grp", "slice"], "key", "val", k=64)
        merged = {
            r["grp"]: r["qsketch"]
            for r in sk.sample_quantile_merge(per_slice, ["grp"], k=64).collect()
        }
        direct = {
            r["grp"]: r["qsketch"]
            for r in sk.sample_quantile_sketch(df, ["grp"], "key", "val", k=64).collect()
        }
        assert merged == direct

    def test_estimates_near_true_quantiles(self, spark):
        from social_media_data_pipeline_spark.functions import sketches as sk

        df = self._values(spark)
        est = {
            r["grp"]: r
            for r in sk.sample_quantile_estimate(
                sk.sample_quantile_sketch(df, ["grp"], "key", "val", k=256),
                {"p50": 0.5, "p90": 0.9},
            ).collect()
        }
        # uniform 0..9999: true p50=5000, p90=9000; sample err ~ 1/sqrt(256)
        assert abs(est["u"]["p50"] - 5000) < 1500
        assert abs(est["u"]["p90"] - 9000) < 1200
        # below k: the sample IS the group; order statistics are exact
        assert est["s"]["n_sample"] == 9
        assert est["s"]["p50"] == 4.0  # floor(0.5*8)+1 = rank 5 → value 4

    def test_prob_guard(self, spark):
        import pytest as _pytest
        from social_media_data_pipeline_spark.functions import sketches as sk

        df = self._values(spark)
        sketch = sk.sample_quantile_sketch(df, ["grp"], "key", "val", k=16)
        with _pytest.raises(ValueError, match="outside"):
            sk.sample_quantile_estimate(sketch, {"bad": 1.5})


class TestIvfTopkMultiprobe:
    """r7: multiprobe retrieval (`similarity.ivf_topk_multiprobe`)."""

    def test_probes_1_equals_single_probe_ivf(self, spark, sf_dir):
        full = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        centroids = full.filter("vec_id % 50 = 0")
        queries = full.filter("vec_id < 10")
        a = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in similarity.ivf_topk(queries, full, centroids, k=5).collect()
        )
        b = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in similarity.ivf_topk_multiprobe(
                queries, full, centroids, k=5, probes=1
            ).collect()
        )
        assert a == b and len(a) > 0

    def test_more_probes_never_worse_cosine(self, spark, sf_dir):
        # the rank-r neighbor under P probes has cosine >= the rank-r
        # neighbor under 1 probe (candidate set is a superset)
        full = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        centroids = full.filter("vec_id % 50 = 0")
        queries = full.filter("vec_id < 10")
        one = {
            (r["query_id"], r["rank"]): r["cos"]
            for r in similarity.ivf_topk_multiprobe(
                queries, full, centroids, k=5, probes=1
            ).collect()
        }
        four = {
            (r["query_id"], r["rank"]): r["cos"]
            for r in similarity.ivf_topk_multiprobe(
                queries, full, centroids, k=5, probes=4
            ).collect()
        }
        for key, cos1 in one.items():
            assert four[key] >= cos1 - 1e-9

    def test_no_duplicate_pairs(self, spark, sf_dir):
        full = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        centroids = full.filter("vec_id % 50 = 0")
        queries = full.filter("vec_id < 10")
        rows = similarity.ivf_topk_multiprobe(
            queries, full, centroids, k=50, probes=4
        ).collect()
        pairs = [(r["query_id"], r["neighbor_id"]) for r in rows]
        assert len(pairs) == len(set(pairs))


class TestGopherRules:
    def test_rule_boundaries(self, spark):
        from social_media_data_pipeline_spark.functions import text as etext

        good = " ".join(["the quick brown fox jumps over that lazy dog with glee"] * 6)
        rows = [
            (1, good),                                  # passes everything
            (2, "too short"),                           # word count < 50
            (3, " ".join(["a"] * 60)),                  # mean word len < 3
            (4, " ".join(["12345"] * 60)),              # no alpha, no stops
            (5, good + " " + "#" * 1),                  # one symbol, ratio tiny
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r["g"]
            for r in df.select(
                "doc_id", etext.gopher_quality_flags("text").alias("g")
            ).collect()
        }
        assert out[1]["passes"] is True
        assert out[2]["ok_word_count"] is False and out[2]["passes"] is False
        assert out[3]["ok_mean_word_len"] is False
        assert out[4]["ok_alpha_frac"] is False and out[4]["ok_stop_words"] is False
        assert out[5]["passes"] is True  # 1 symbol over 66 words ≤ 0.1

    def test_symbol_ratio_counts_hash_and_ellipsis(self, spark):
        from social_media_data_pipeline_spark.functions import text as etext

        df = spark.createDataFrame(
            [(1, "words here # and ... and … more")], "doc_id long, text string"
        )
        g = df.select(etext.gopher_quality_flags("text").alias("g")).collect()[0]["g"]
        assert abs(g["symbol_ratio"] - round(3 / g["word_count"], 6)) < 1e-9

    def test_line_rules_boundaries(self, spark):
        """r11: the two line-fraction rules (Rae App. A) — planted
        list-docs and teaser-docs flip exactly their own flag; prose
        and single-line docs pass."""
        from social_media_data_pipeline_spark.functions import text as etext

        bullets = "\n".join(["- item number %d here" % i for i in range(20)])
        mixed = "intro line\n" + "\n".join(["- item %d" % i for i in range(9)])
        teaser = "\n".join(["this story continues..." for _ in range(10)])
        few_ell = "a\nb\nc…\nd\ne\nf\ng\nh\ni\nj"  # 1/10 ellipsis
        rows = [
            (1, bullets),             # 20/20 bullet lines > 0.9 → fail
            (2, mixed),               # 9/10 = 0.9 → boundary passes
            (3, teaser),              # 10/10 ellipsis > 0.3 → fail
            (4, few_ell),             # 0.1 ≤ 0.3 → passes
            (5, "plain single line of ordinary prose"),
            (6, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r["ln"]
            for r in df.select(
                "doc_id", etext.gopher_line_flags("text").alias("ln")
            ).collect()
        }
        assert out[1]["bullet_line_frac"] == 1.0
        assert out[1]["ok_bullet_lines"] is False
        assert out[2]["bullet_line_frac"] == 0.9
        assert out[2]["ok_bullet_lines"] is True  # ≤ 0.9 boundary
        assert out[3]["ellipsis_line_frac"] == 1.0
        assert out[3]["ok_ellipsis_lines"] is False
        assert out[4]["ellipsis_line_frac"] == 0.1
        assert out[4]["passes_lines"] is True
        assert out[5]["n_lines"] == 1 and out[5]["passes_lines"] is True
        assert out[6]["passes_lines"] is True  # NULL → empty, passes

    def test_unicode_ellipsis_and_indented_bullets(self, spark):
        from social_media_data_pipeline_spark.functions import text as etext

        df = spark.createDataFrame(
            [(1, "  • indented bullet\nnormal line\nends with…")],
            "doc_id long, text string",
        )
        ln = df.select(etext.gopher_line_flags("text").alias("ln")).collect()[0]["ln"]
        assert abs(ln["bullet_line_frac"] - round(1 / 3, 6)) < 1e-9
        assert abs(ln["ellipsis_line_frac"] - round(1 / 3, 6)) < 1e-9


class TestCcnetBuckets:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id string, text string, lang string")

    def test_buckets_match_local_recomputation(self, spark):
        import random

        from social_media_data_pipeline_spark.functions.text import (
            bigram_logprob,
            ccnet_buckets,
        )

        rng = random.Random(3)
        vocab = ["alpha", "beta", "gamma", "delta", "eps"]
        rows = [
            (
                f"d{i:03d}",
                " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 20))),
                rng.choice(["en", "fr"]),
            )
            for i in range(60)
        ]
        docs = self._docs(spark, rows)
        out = {
            r["doc_id"]: (r["lang"], r["lm_score_q"], r["bucket"])
            for r in ccnet_buckets(docs, checkpoint=False).collect()
        }
        scores = {
            r["doc_id"]: round(r["bigram_logprob"] * 10000)
            for r in bigram_logprob(docs).collect()
        }
        langs = {d: lang for d, _t, lang in rows}
        for lang in ("en", "fr"):
            sl = sorted(
                (s for d, s in scores.items() if langs[d] == lang), reverse=True
            )
            n = len(sl)
            # descending cum over DISTINCT values, threshold = value whose
            # cum first reaches ceil(n/3) / ceil(2n/3)
            from collections import Counter

            cnt = Counter(sl)
            cum, t_head, t_mid = 0, None, None
            for v in sorted(cnt, reverse=True):
                cum += cnt[v]
                if t_head is None and cum >= (n + 2) // 3:
                    t_head = v
                if t_mid is None and cum >= (2 * n + 2) // 3:
                    t_mid = v
            for d, s in scores.items():
                if langs[d] != lang:
                    continue
                want = "head" if s >= t_head else ("middle" if s >= t_mid else "tail")
                got_lang, got_s, got_bucket = out[d]
                assert got_lang == lang and got_s == s and got_bucket == want, d

    def test_short_docs_excluded_and_checkpoint_identical(self, spark):
        from social_media_data_pipeline_spark.functions.text import ccnet_buckets

        rows = [
            ("a", "one", "en"),          # 1 token -> no transitions -> excluded
            ("b", "x y x y", "en"),
            ("c", "x y", "en"),
            ("d", "y x y x y", "en"),
        ]
        docs = self._docs(spark, rows)
        lazy = sorted(map(tuple, ccnet_buckets(docs, checkpoint=False).collect()))
        pinned = sorted(map(tuple, ccnet_buckets(docs, checkpoint=True).collect()))
        assert lazy == pinned
        assert {t[0] for t in lazy} == {"b", "c", "d"}

    def test_single_doc_language_is_head(self, spark):
        from social_media_data_pipeline_spark.functions.text import ccnet_buckets

        rows = [("a", "solo doc here", "de"), ("b", "x y z", "en"), ("c", "x y", "en")]
        out = {
            r["doc_id"]: r["bucket"]
            for r in ccnet_buckets(self._docs(spark, rows), checkpoint=False).collect()
        }
        assert out["a"] == "head"


class TestVocabCoverage:
    def test_counts_and_tie_break(self, spark):
        from social_media_data_pipeline_spark.functions.text import vocab_coverage

        # counts: aa x4, bb x3, cc x3, dd x1 -> top_v=2 takes aa and bb
        # (bb beats cc on the alphabetical tie-break)
        rows = [
            ("s1", "aa aa bb cc"),
            ("s1", "aa bb"),
            ("s2", "aa bb cc cc dd"),
        ]
        df = spark.createDataFrame(rows, "source string, text string")
        out = {
            r["source"]: r
            for r in vocab_coverage(df, "text", "source", top_v=2).collect()
        }
        s1, s2 = out["s1"], out["s2"]
        assert (s1["n_tokens"], s1["n_oov_tokens"]) == (6, 1)  # cc
        assert (s1["n_types"], s1["n_oov_types"]) == (3, 1)
        assert (s2["n_tokens"], s2["n_oov_tokens"]) == (5, 3)  # cc cc dd
        assert (s2["n_types"], s2["n_oov_types"]) == (4, 2)
        assert abs(s2["oov_rate"] - 0.6) < 1e-9

    def test_all_in_vocab_when_top_v_large(self, spark):
        from social_media_data_pipeline_spark.functions.text import vocab_coverage

        df = spark.createDataFrame(
            [("s", "x y z")], "source string, text string"
        )
        r = vocab_coverage(df, "text", "source", top_v=100).collect()[0]
        assert r["n_oov_tokens"] == 0 and r["oov_rate"] == 0.0

    def test_top_v_validation(self, spark):
        from social_media_data_pipeline_spark.functions.text import vocab_coverage

        df = spark.createDataFrame([("s", "x")], "source string, text string")
        with pytest.raises(ValueError, match="top_v"):
            vocab_coverage(df, top_v=0)


class TestPrefixFilterJaccard:
    """ngram_jaccard_pairs_prefix: EXACT result over prefix-token
    candidates (SSJoin/All-Pairs) — must equal the naive inverted-index
    join with NO doc-freq pruning, on every corpus."""

    def _pairs(self, spark, rows, threshold, k=3):
        from social_media_data_pipeline_spark.functions import sketches as sk

        df = spark.createDataFrame(rows, "doc_id long, text string")
        naive = {
            (r.id_a, r.id_b, r.jaccard)
            for r in sk.ngram_jaccard_pairs(
                df, "doc_id", "text", shingle_k=k, threshold=threshold
            ).collect()
        }
        pref = {
            (r.id_a, r.id_b, r.jaccard)
            for r in sk.ngram_jaccard_pairs_prefix(
                df, "doc_id", "text", shingle_k=k, threshold=threshold
            ).collect()
        }
        return naive, pref

    def test_equals_naive_on_near_dups(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (1, base),
            (2, base + " tail"),
            (3, base.replace("lazy", "sleepy")),
            (4, "completely different words everywhere in this one here"),
            (5, base),
        ]
        for t in (0.5, 0.8, 0.95):
            naive, pref = self._pairs(spark, rows, t)
            assert pref == naive and (1, 5, 1.0) in pref

    def test_equals_naive_randomized(self, spark):
        import random

        rng = random.Random(31)
        vocab = [f"w{i}" for i in range(25)]
        rows = []
        for i in range(40):
            if i % 3 == 0 and rows:
                # mutate an earlier doc -> planted near-dups
                words = rows[rng.randrange(len(rows))][1].split()
                j = rng.randrange(len(words))
                words[j] = rng.choice(vocab)
                rows.append((i, " ".join(words)))
            else:
                rows.append(
                    (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 18))))
                )
        for t in (0.4, 0.7, 0.9):
            naive, pref = self._pairs(spark, rows, t)
            assert pref == naive
            if t == 0.4:
                assert len(pref) > 0  # the comparison is not vacuous

    def test_lossless_where_doc_freq_pruning_is_not(self, spark):
        """The operator's reason to exist: a duplicated doc whose
        shingles are ALL corpus-hot boilerplate. max_doc_freq pruning
        empties the shingle sets and ships the duplicate; the
        rarity-ordered prefix keeps hot shingles exactly where they
        are the only evidence."""
        from social_media_data_pipeline_spark.functions import sketches as sk

        boiler = "subscribe to our newsletter for all the latest updates"
        rows = [(i, boiler) for i in range(6)] + [
            (10 + i, f"unique content number {i} with words w{i} x{i} y{i} z{i}")
            for i in range(4)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pruned = sk.ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.8, max_doc_freq=3
        ).collect()
        assert pruned == []  # every boilerplate shingle exceeds df=3
        pref = {
            (r.id_a, r.id_b)
            for r in sk.ngram_jaccard_pairs_prefix(
                df, "doc_id", "text", threshold=0.8
            ).collect()
        }
        assert pref == {(a, b) for a in range(6) for b in range(6) if a < b}

    def test_single_shingle_docs(self, spark):
        # docs shorter than k fall back to one whole-text shingle
        rows = [(1, "a b"), (2, "a b"), (3, "c d")]
        naive, pref = self._pairs(spark, rows, 0.8)
        assert pref == naive == {(1, 2, 1.0)}



    def test_pinned_tokens_bit_identical(self, spark):
        """r13: the stats-preserving token-table pin (io.pin_stats +
        tokens=) must be a pure plan-shape change — same pairs, same
        jaccard doubles as the lazy 4-branch derivation."""
        from social_media_data_pipeline_spark.functions import sketches as sk
        from social_media_data_pipeline_spark.io import pin_stats

        base = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (1, base),
            (2, base + " tail"),
            (3, base.replace("lazy", "sleepy")),
            (4, "completely different words everywhere in this one here"),
            (5, base),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for t in (0.5, 0.8):
            lazy = {
                (r.id_a, r.id_b, r.jaccard)
                for r in sk.ngram_jaccard_pairs_prefix(
                    df, "doc_id", "text", threshold=t
                ).collect()
            }
            toks = pin_stats(
                sk.rarity_sorted_tokens(df, "doc_id", "text", 3)
            )
            pinned = {
                (r.id_a, r.id_b, r.jaccard)
                for r in sk.ngram_jaccard_pairs_prefix(
                    df, "doc_id", "text", threshold=t, tokens=toks
                ).collect()
            }
            toks.unpersist()
            assert pinned == lazy and len(lazy) > 0

    def test_threshold_range_guard(self, spark):
        import pytest as _pytest

        from social_media_data_pipeline_spark.functions import sketches as sk

        df = spark.createDataFrame(
            [(1, "abcdef"), (2, "abcdeg")], "doc_id long, text string"
        )
        # t > 1 => non-positive prefix length; t <= 0 => quadratic
        # all-pairs degeneration (r10 ADVICE fix) — both refused
        for bad in (0.0, -0.5, 1.5):
            with _pytest.raises(ValueError, match="threshold"):
                sk.ngram_jaccard_pairs_prefix(
                    df, "doc_id", "text", threshold=bad
                )


class TestHardNegatives:
    def _emb(self, spark):
        import math

        # 8 vectors on a circle: angle i*22.5°, label = parity
        rows = [
            (i, [math.cos(i * math.pi / 8), math.sin(i * math.pi / 8)], i % 2)
            for i in range(8)
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )

    def test_excludes_same_label_and_ranks_by_cos(self, spark):
        from social_media_data_pipeline_spark.functions.similarity import (
            hard_negatives,
        )

        emb = self._emb(spark)
        q = emb.filter("vec_id = 0")
        got = [
            (r.neighbor_id, r.rank)
            for r in hard_negatives(q, emb, k=3).orderBy("rank").collect()
        ]
        # odd-label neighbors of vec 0 sorted by angle distance: 1, 3, 5
        assert got == [(1, 1), (3, 2), (5, 3)]

    def test_max_cos_guard_drops_near_dup(self, spark):
        from social_media_data_pipeline_spark.functions.similarity import (
            hard_negatives,
        )

        emb = self._emb(spark)
        q = emb.filter("vec_id = 0")
        got = [
            r.neighbor_id
            for r in hard_negatives(q, emb, k=3, max_cos=0.9)
            .orderBy("rank")
            .collect()
        ]
        # cos(22.5°) ≈ 0.924 > 0.9: vector 1 (the near-dup-with-wrong-
        # label case) is filtered; next-hardest odd labels remain
        assert got == [3, 5, 7]


    def test_null_label_refused(self, spark):
        from social_media_data_pipeline_spark.functions.similarity import (
            hard_negatives,
        )

        emb = self._emb(spark)
        nulled = emb.withColumn(
            "label", F.when(F.col("vec_id") == 3, None).otherwise(F.col("label"))
        )
        with pytest.raises(ValueError, match="NULL label"):
            hard_negatives(emb.filter("vec_id = 0"), nulled, k=3).collect()
        with pytest.raises(ValueError, match="NULL label"):
            hard_negatives(nulled.filter("vec_id = 3"), emb, k=3).collect()

    def test_matches_brute_reference(self, spark):
        import math

        from social_media_data_pipeline_spark.functions.similarity import (
            hard_negatives,
        )

        import random

        rng = random.Random(3)
        rows = [
            (i, [rng.uniform(-1, 1) for _ in range(6)], rng.randrange(3))
            for i in range(40)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        got = {
            (r.query_id, r.rank): r.neighbor_id
            for r in hard_negatives(
                emb.filter("vec_id < 5"), emb, k=4
            ).collect()
        }
        by_id = {i: (v, l) for i, v, l in rows}
        for qid in range(5):
            qv, ql = by_id[qid]
            scored = []
            for nid, (nv, nl) in by_id.items():
                if nl == ql:
                    continue
                d = sum(a * b for a, b in zip(qv, nv))
                na = math.sqrt(sum(a * a for a in qv))
                nb = math.sqrt(sum(b * b for b in nv))
                scored.append((round(d / (na * nb), 6), nid))
            scored.sort(key=lambda t: (-t[0], t[1]))
            for rank, (_, nid) in enumerate(scored[:4], 1):
                assert got[(qid, rank)] == nid

    def test_k_validation(self, spark):
        import pytest as _pytest

        from social_media_data_pipeline_spark.functions.similarity import (
            hard_negatives,
        )

        emb = self._emb(spark)
        with _pytest.raises(ValueError, match="k must be"):
            hard_negatives(emb, emb, k=0)


class TestMmrRerank:
    """MMR diversity reranking (`similarity.mmr_rerank`): the greedy
    λ-tradeoff picks the diverse candidate over the redundant twin,
    λ=1 degenerates to plain top-k, and the selection is exact."""

    def _df(self, spark, rows):
        return spark.createDataFrame(
            [(i, [float(v) for v in vec]) for i, vec in rows],
            "vec_id bigint, embedding array<float>",
        )

    def test_diversity_beats_redundant_twin(self, spark):
        from social_media_data_pipeline_spark.functions import similarity

        q = [1.0, 0.0, 0.0, 0.0]
        rows = [
            (0, q),                       # the query
            (1, [0.95, 0.05, 0.0, 0.0]),  # most relevant
            (2, [0.94, 0.06, 0.0, 0.0]),  # near-duplicate of 1
            (3, [0.60, 0.0, 0.6, 0.0]),   # less relevant, diverse
            (4, [0.05, 0.0, 0.0, 1.0]),   # irrelevant
        ]
        df = self._df(spark, rows)
        out = similarity.mmr_rerank(
            df.filter("vec_id = 0"), df, k=2, n_candidates=4,
            lam_micro=500_000,
        ).orderBy("rank").collect()
        assert [r["neighbor_id"] for r in out] == [1, 3], (
            "rank-2 must skip the redundant twin (2) for the diverse "
            "candidate (3)"
        )
        # λ = 1: pure relevance — plain top-k order returns the twin
        out2 = similarity.mmr_rerank(
            df.filter("vec_id = 0"), df, k=2, n_candidates=4,
            lam_micro=1_000_000,
        ).orderBy("rank").collect()
        assert [r["neighbor_id"] for r in out2] == [1, 2]

    def test_cos_micro_is_exact_quantized_cosine(self, spark):
        import math

        import numpy as np

        from social_media_data_pipeline_spark.functions import similarity
        from social_media_data_pipeline_spark.functions.pca import _micro

        rows = [(0, [0.5, -1.25]), (1, [2.0, 0.125]), (2, [-0.5, 3.0])]
        df = self._df(spark, rows)
        out = {
            r["neighbor_id"]: r["cos_micro"]
            for r in similarity.mmr_rerank(
                df.filter("vec_id = 0"), df, k=2, n_candidates=2
            ).collect()
        }
        qv = _micro(np.array(rows[0][1]))
        nq = int(qv @ qv)
        for nid, got in out.items():
            cv = _micro(np.array(rows[nid][1]))
            raw = float(int(cv @ qv)) / (
                math.sqrt(float(nq)) * math.sqrt(float(int(cv @ cv)))
            ) * 1_000_000.0
            want = int(math.floor(raw + 0.5)) if raw >= 0 else -int(
                math.floor(-raw + 0.5)
            )
            assert got == want
            assert abs(got) <= 1_000_000

    def test_validation(self, spark):
        import pytest as _pytest

        from social_media_data_pipeline_spark.functions import similarity

        df = self._df(spark, [(0, [1.0, 0.0])])
        with _pytest.raises(ValueError, match="lam_micro"):
            similarity.mmr_rerank(df, df, lam_micro=0)
        with _pytest.raises(ValueError, match="n_candidates >= k"):
            similarity.mmr_rerank(df, df, k=5, n_candidates=3)
