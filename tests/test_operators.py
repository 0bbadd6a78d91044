"""Unit tests for SURVEY.md §2 operators on tiny in-memory frames,
pinning the reference's edge-case semantics (half-open year range,
first-wins dedup, sampling cap invariant, by-name union null-fill)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from social_media_data_pipeline_spark.operators import (
    aggregates,
    dedup,
    filters,
    joins,
    sampling,
    setops,
    sort,
    windows,
)


def ts(y, m=1, d=1):
    return dt.datetime(y, m, d)


@pytest.fixture(scope="module")
def posts(spark):
    rows = [
        ("1", "aaa", ts(2010, 5, 1), False, ["Art", "museum"], 10, 2),
        ("2", "bbb", ts(2012, 6, 2), True, ["ART"], 5, 0),
        ("3", "ccc", ts(2015, 7, 3), False, [], 7, 1),
        ("4", "aaa", ts(2019, 8, 4), False, ["travel"], 3, 4),
        ("5", "ddd", ts(2020, 1, 1), False, None, 0, 0),
    ]
    return spark.createDataFrame(
        rows, "id string, shortcode string, timestamp timestamp, is_video boolean, hashtags array<string>, likes long, comment_count long"
    )


class TestFilters:
    def test_year_range_half_open(self, posts):
        # P4: [2010, 2020) keeps 2010..2019, drops 2020
        out = filters.filter_by_year(posts, "timestamp", 2010, 2020)
        assert {r.id for r in out.collect()} == {"1", "2", "3", "4"}

    def test_filter_eq(self, posts):
        out = filters.filter_eq(posts, "is_video", False)
        assert out.count() == 4

    def test_array_overlap_include(self, posts):
        out = filters.filter_array_overlaps(posts, "hashtags", ["museum", "x"])
        assert [r.id for r in out.collect()] == ["1"]

    def test_array_overlap_exclude_keeps_null_and_empty(self, posts):
        out = filters.filter_array_disjoint(posts, "hashtags", ["travel"])
        assert {r.id for r in out.collect()} == {"1", "2", "3", "5"}

    def test_text_contains_any_lowercases(self, spark):
        df = spark.createDataFrame([("Great MUSEUM day",), ("beach",), (None,)], "caption string")
        out = filters.filter_text_contains_any(df, "caption", ["Museum"])
        assert out.count() == 1

    def test_not_in_anti(self, spark):
        df = spark.createDataFrame([(1,), (2,), (3,)], "k int")
        done = spark.createDataFrame([(2,), (2,)], "k int")
        out = filters.filter_not_in(df, done, "k")
        assert {r.k for r in out.collect()} == {1, 3}

    def test_select_numeric_columns(self, posts):
        out = filters.select_numeric_columns(posts)
        assert set(out.columns) == {"likes", "comment_count"}


class TestDedup:
    def test_first_wins_on_order(self, posts):
        # ids 1 and 4 share shortcode 'aaa'; earlier timestamp wins
        out = dedup.dedup_first_wins(posts, ["shortcode"], [F.col("timestamp")])
        survivors = {r.id for r in out.collect()}
        assert "1" in survivors and "4" not in survivors
        assert out.count() == 4

    def test_exact_content_normalizes_whitespace_case(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello  World"), (2, "hello world"), (3, "other")], "doc_id long, text string"
        )
        out = dedup.dedup_exact_content(df, "text", "doc_id")
        assert {r.doc_id for r in out.collect()} == {1, 3}

    def test_dedup_weights_counts_and_mass(self, spark):
        # clusters {1,3,7} (component 1), {2} (component 2), {5,6} (5)
        labeled = spark.createDataFrame(
            [(1, 1, 10), (3, 1, 20), (7, 1, 30), (2, 2, 5), (5, 5, 7), (6, 5, 8)],
            "doc_id long, component long, n_chars long",
        )
        out = {
            r.doc_id: (r.weight, r.dup_mass)
            for r in dedup.dedup_weights(labeled, mass_col="n_chars").collect()
        }
        assert out == {1: (3, 60), 2: (1, 5), 5: (2, 15)}
        # count- and mass-preservation invariants
        assert sum(w for w, _ in out.values()) == labeled.count()
        assert sum(m for _, m in out.values()) == 80

    def test_dedup_weights_without_mass(self, spark):
        labeled = spark.createDataFrame(
            [(4, 4), (9, 4)], "doc_id long, component long"
        )
        rows = dedup.dedup_weights(labeled).collect()
        assert rows[0].doc_id == 4 and rows[0].weight == 2
        assert "dup_mass" not in rows[0].asDict()

    def test_dedup_weights_refuses_null_component(self, spark):
        labeled = spark.createDataFrame(
            [(1, 1), (2, None)], "doc_id long, component long"
        )
        with pytest.raises(ValueError, match="NULL"):
            dedup.dedup_weights(labeled)


class TestSampling:
    def test_cap_invariant_and_flag(self, spark):
        rows = [(i, ts(2010 + i % 2, 1 + i % 12, 1)) for i in range(40)]
        df = spark.createDataFrame(rows, "id long, timestamp timestamp")
        out = sampling.sample_n_per_group(
            df, F.year("timestamp"), "id", n=5, flag_col="scrape_image"
        )
        assert out.count() == 40  # flag mode keeps all rows
        per_year = (
            out.filter("scrape_image")
            .groupBy(F.year("timestamp"))
            .count()
            .collect()
        )
        assert all(r["count"] == 5 for r in per_year)

    def test_negative_n_disables(self, spark):
        df = spark.createDataFrame([(1, ts(2010))], "id long, timestamp timestamp")
        out = sampling.sample_n_per_group(
            df, F.year("timestamp"), "id", n=-1, flag_col="scrape_image"
        )
        assert out.collect()[0].scrape_image is True

    def test_deterministic(self, spark):
        df = spark.createDataFrame([(i, ts(2010)) for i in range(20)], "id long, timestamp timestamp")
        a = sampling.sample_n_per_group(df, F.year("timestamp"), "id", n=3)
        b = sampling.sample_n_per_group(df, F.year("timestamp"), "id", n=3)
        assert sorted(r.id for r in a.collect()) == sorted(r.id for r in b.collect())


class TestAggregates:
    def test_group_by_time_calendar_week_is_monday(self, spark):
        # 2024-01-03 is a Wednesday; its week bucket starts Mon 2024-01-01
        df = spark.createDataFrame([(dt.datetime(2024, 1, 3, 4), 1.0)], "ts timestamp, v double")
        out = aggregates.group_by_time(df, "ts", "W", "v", how="count", bucket_name="wk")
        assert out.collect()[0].wk == dt.datetime(2024, 1, 1)

    def test_value_counts_desc_with_tiebreak(self, spark):
        df = spark.createDataFrame([(["b", "a", "b", "c", "a"],)], "tags array<string>")
        out = aggregates.value_counts(df, "tags", out_value="tag", out_count="n").collect()
        assert [(r.tag, r.n) for r in out] == [("a", 2), ("b", 2), ("c", 1)]

    def test_histogram_bins(self, spark):
        df = spark.createDataFrame([(0.5,), (9.9,), (10.0,), (25.0,)], "x double")
        out = aggregates.histogram(df, "x", 10.0).collect()
        assert [(r["bin"], r["count"]) for r in out] == [(0, 2), (1, 1), (2, 1)]

    def test_describe_exact_median(self, spark):
        df = spark.createDataFrame([(1.0,), (2.0,), (4.0,), (8.0,)], "x double")
        row = aggregates.describe_numeric(df, ["x"]).collect()[0]
        assert row.median == 3.0 and row["count"] == 4 and row.min == 1.0

    def test_relative_to_group(self, spark):
        df = spark.createDataFrame([("a", 1.0), ("a", 3.0), ("b", 2.0)], "g string, v double")
        out = {(r.g, r.v): r.share for r in aggregates.relative_to_group(df, ["g"], "v").collect()}
        assert out[("a", 1.0)] == 0.25 and out[("b", 2.0)] == 1.0

    def test_profile_column(self, spark):
        df = spark.createDataFrame([("x",), ("y",), (None,)], "c string")
        row = aggregates.profile_column(df, "c").collect()[0]
        assert row.missing == 1 and row.non_null == 2 and row.distinct == 2
        assert list(row["values"]) == ["x", "y"]


class TestJoinsSetopsSort:
    def test_union_by_name_fills_missing(self, spark):
        a = spark.createDataFrame([(1, "x")], "k int, a string")
        b = spark.createDataFrame([(2, "y")], "k int, b string")
        out = setops.union_by_name([a, b])
        rows = {r.k: (r.a, r.b) for r in out.collect()}
        assert rows[1] == ("x", None) and rows[2] == (None, "y")

    def test_align_time_series_zero_fills(self, spark):
        a = spark.createDataFrame([(ts(2020), 2)], "day timestamp, n_a long")
        b = spark.createDataFrame([(ts(2021), 3)], "day timestamp, n_b long")
        out = {r.day.year: (r.n_a, r.n_b) for r in joins.align_time_series(a, b, "day").collect()}
        assert out[2020] == (2, 0) and out[2021] == (0, 3)

    def test_explode_post_images_existence(self, spark):
        posts = spark.createDataFrame(
            [("s1", "m1.jpg", ["a1.jpg", "a2.jpg"]), ("s2", "m2.jpg", None)],
            "shortcode string, image string, album_images array<string>",
        )
        listing = spark.createDataFrame([("m1.jpg",), ("a2.jpg",)], "image_file string")
        out = joins.explode_post_images(posts, listing)
        assert {r.image_file for r in out.collect()} == {"m1.jpg", "a2.jpg"}

    def test_top_k_array(self, spark):
        df = spark.createDataFrame([([3.0, 1.0, 5.0, 2.0],)], "arr array<double>")
        out = df.select(sort.top_k_array(F.col("arr"), 2).alias("top")).collect()[0]
        assert list(out.top) == [5.0, 3.0]

    def test_top_k_per_group(self, spark):
        df = spark.createDataFrame(
            [("a", 1), ("a", 3), ("a", 2), ("b", 9)], "g string, v int"
        )
        out = windows.top_k_per_group(df, ["g"], [F.desc("v")], 2)
        assert out.filter("g = 'a'").count() == 2 and out.filter("g = 'b'").count() == 1


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    """A-family completeness: the HLL++ approximate distinct count (the
    100 TB substitute for exact countDistinct in profiling paths) must
    land within 3x the requested relative standard deviation."""
    from pyspark.sql import functions as F

    from social_media_data_pipeline_spark import io as eio

    li = eio.read_table(spark, sf_dir, "lineitem")
    exact = li.select("l_orderkey").distinct().count()
    approx = (
        li.agg(F.approx_count_distinct("l_orderkey", 0.02).alias("a"))
        .collect()[0]
        .a
    )
    assert abs(approx - exact) / exact < 0.06


def test_approx_percentile_within_bound(spark, sf_dir):
    """Quantile sketch substitute for exact percentile at scale: the
    approx result at accuracy 10000 must land within 1% of exact."""
    from pyspark.sql import functions as F

    from social_media_data_pipeline_spark import io as eio

    li = eio.read_table(spark, sf_dir, "lineitem")
    exact = li.selectExpr("percentile(l_extendedprice, 0.5) AS p").collect()[0].p
    approx = li.selectExpr(
        "approx_percentile(l_extendedprice, 0.5, 10000) AS p"
    ).collect()[0].p
    assert abs(approx - exact) / exact < 0.01


def test_subdoc_ops_on_empty_input(spark):
    """Empty corpora flow through the sub-document operators without
    error and yield empty results."""
    from social_media_data_pipeline_spark.operators.dedup import (
        duplicate_spans,
        segment_dedup,
        trim_spans,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert segment_dedup(empty, "doc_id", "text").count() == 0
    spans = duplicate_spans(empty, "doc_id", "text")
    assert spans.count() == 0
    assert trim_spans(empty, spans).count() == 0


def test_weighted_sample_biases_toward_heavy_rows(spark, sf_dir):
    """A-Res sanity: sampling proportional to n_chars must pull the
    sample's mean length above the corpus mean, deterministically."""
    from pyspark.sql import functions as F

    from social_media_data_pipeline_spark import io as eio
    from social_media_data_pipeline_spark.operators.sampling import (
        weighted_sample_topk,
    )

    docs = eio.read_table(spark, sf_dir, "documents")
    sample = weighted_sample_topk(docs, "n_chars", "doc_id", k=50)
    rows = sample.collect()
    assert len(rows) == 50
    corpus_mean = docs.agg(F.avg("n_chars")).collect()[0][0]
    sample_mean = sum(r.n_chars for r in rows) / 50
    assert sample_mean > corpus_mean
    # deterministic: a second evaluation returns the identical sample
    again = weighted_sample_topk(docs, "n_chars", "doc_id", k=50).collect()
    assert sorted(r.doc_id for r in rows) == sorted(r.doc_id for r in again)


class TestIncrementalDedup:
    """r7: new-batch-vs-history near-dedup via the persistable band
    store (`dedup.incremental_dedup`)."""

    def test_planted_cross_batch_duplicate_found(self, spark):
        from social_media_data_pipeline_spark.operators import dedup as ddp

        base = "the quick brown fox jumps over the lazy dog again and again"
        hist = spark.createDataFrame(
            [(1, base), (3, "completely different text about spark joins"),
             (7, base + " with a tiny suffix change")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(10, base), (12, "unrelated fresh document body here")],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: (r["dup_of"], r["jaccard"])
               for r in ddp.incremental_dedup(new, hist, "doc_id", "text").collect()}
        # doc 10 duplicates history doc 1 exactly (jaccard 1.0, and the
        # tie-break prefers the lower historical id over doc 7's partial)
        assert out[10][0] == 1 and abs(out[10][1] - 1.0) < 1e-9
        assert 12 not in out  # fresh doc matches nothing

    def test_string_ids_deterministic_tie_break(self, spark):
        """r8 (ADVICE): with STRING doc ids — the common crawl shape —
        the old arithmetic-negation tie-break (-col) nulled out, making
        jaccard-tied argmax nondeterministic. Two historical docs with
        identical text tie at jaccard 1.0; the winner must be the
        lexicographically lowest historical id, every run."""
        from social_media_data_pipeline_spark.operators import dedup as ddp

        base = "the quick brown fox jumps over the lazy dog again and again"
        hist = spark.createDataFrame(
            [("crawl/b-2024", base), ("crawl/a-2023", base),
             ("crawl/z-other", "completely different text about joins")],
            "doc_id string, text string",
        )
        new = spark.createDataFrame(
            [("new/doc-1", base)], "doc_id string, text string"
        )
        for _ in range(3):
            out = ddp.incremental_dedup(new, hist, "doc_id", "text").collect()
            assert len(out) == 1
            assert out[0]["dup_of"] == "crawl/a-2023"
            assert abs(out[0]["jaccard"] - 1.0) < 1e-9

    def test_history_never_pairs_with_itself(self, spark):
        from social_media_data_pipeline_spark.operators import dedup as ddp

        dup = "same same same words words words here here here"
        hist = spark.createDataFrame(
            [(1, dup), (2, dup)], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(10, "nothing in common with anything")], "doc_id long, text string"
        )
        # the history-internal duplicate pair (1,2) must NOT appear:
        # incremental dedup only flags new docs
        out = ddp.incremental_dedup(new, hist, "doc_id", "text").collect()
        assert out == []


class TestR7EdgeCases:
    """Empty inputs degrade to empty outputs, never crash."""

    def test_incremental_dedup_empty_sides(self, spark):
        from social_media_data_pipeline_spark.operators import dedup as ddp

        empty = spark.createDataFrame([], "doc_id long, text string")
        docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
        assert ddp.incremental_dedup(empty, docs, "doc_id", "text").count() == 0
        assert ddp.incremental_dedup(docs, empty, "doc_id", "text").count() == 0

    def test_mixture_ops_empty_input(self, spark):
        from social_media_data_pipeline_spark.operators import sampling

        empty = spark.createDataFrame([], "doc_id long, source string")
        assert sampling.temperature_mixture_sample(empty, "source", "doc_id").count() == 0
        assert sampling.mixture_sample_to_targets(
            empty, "source", "doc_id", {"a": 1.0}, 10
        ).count() == 0

    def test_mixture_ops_null_group_refused(self, spark):
        """r8 (ADVICE): a NULL source used to crash sorted(thresh) with
        TypeError AND silently drop the NULL-group rows from both the
        CASE-chain and broadcast-join paths — refuse loudly instead."""
        import pytest

        from social_media_data_pipeline_spark.operators import sampling

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "b")], "doc_id long, source string"
        )
        with pytest.raises(ValueError, match="NULL"):
            sampling.temperature_mixture_sample(df, "source", "doc_id")
        with pytest.raises(ValueError, match="NULL"):
            sampling.mixture_sample_to_targets(
                df, "source", "doc_id", {"a": 1.0}, 10
            )

    def test_mixture_weights_must_cover_live_groups(self, spark):
        """r10 (ADVICE): with caller-supplied weights, a group present
        in df but missing from the dict used to be SILENTLY dropped
        (default CASE threshold 0 / no join match) — refuse loudly."""
        import pytest

        from social_media_data_pipeline_spark.operators import sampling

        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "doc_id long, source string"
        )
        with pytest.raises(ValueError, match="missing groups.*'c'"):
            sampling.temperature_mixture_sample(
                df, "source", "doc_id", weights={"a": 10, "b": 20}
            )
        # extra weight keys beyond the live groups are harmless
        out = sampling.temperature_mixture_sample(
            df, "source", "doc_id", target_frac=1.0,
            weights={"a": 10, "b": 20, "c": 5, "zz": 99},
        )
        assert out.count() == 3

    def test_mixture_weights_null_group_refused(self, spark):
        """NULL groups in df must refuse on the weights path too (the
        old check only looked at the weights-dict keys)."""
        import pytest

        from social_media_data_pipeline_spark.operators import sampling

        df = spark.createDataFrame(
            [(1, "a"), (2, None)], "doc_id long, source string"
        )
        with pytest.raises(ValueError, match="NULL"):
            sampling.temperature_mixture_sample(
                df, "source", "doc_id", weights={"a": 10}
            )


class TestBandStoreLifecycle:
    """r8: the persisted history band store behind incremental_dedup —
    append (survivors only, layout-stamped), pruned read, compact."""

    BASE = "the quick brown fox jumps over the lazy dog again and again"

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cycle_append_flag_compact(self, spark, tmp_path):
        from social_media_data_pipeline_spark.operators import dedup as ddp

        store = str(tmp_path / "bands")
        b1 = self._docs(spark, [(1, self.BASE), (2, "first batch unique text body here")])
        f1 = ddp.incremental_dedup_against_store(b1, b1.limit(0), store, "doc_id", "text")
        assert f1.count() == 0  # empty store: nothing to flag
        # batch 2: doc 10 duplicates doc 1; doc 11 fresh
        b2 = self._docs(spark, [(10, self.BASE), (11, "second batch fresh content")])
        hist = b1  # kept corpus so far
        f2 = ddp.incremental_dedup_against_store(b2, hist, store, "doc_id", "text")
        got = {r["doc_id"]: r["dup_of"] for r in f2.collect()}
        assert got == {10: 1}
        # flagged doc 10's bands were NOT appended; survivors 1,2,11 are
        stored = {r["doc"] for r in ddp.band_store_read(spark, store).collect()}
        assert stored == {1, 2, 11}
        # batch 3 duplicating doc 10 must NOT match (10 was never kept),
        # but duplicating doc 11 must
        b3 = self._docs(spark, [(20, "second batch fresh content")])
        f3 = ddp.incremental_dedup_against_store(
            b3, hist.unionByName(self._docs(spark, [(11, "second batch fresh content")])),
            store, "doc_id", "text")
        assert {r["doc_id"]: r["dup_of"] for r in f3.collect()} == {20: 11}
        # compact: drop doc 2 (retired from the corpus), coalesce files
        stats = ddp.band_store_compact(
            spark, store, drop_docs=spark.createDataFrame([(2,)], "doc_id long"))
        assert stats["rows_after"] < stats["rows_before"]
        assert stats["files_after"] <= stats["files_before"]
        # doc 20 was itself flagged (dup of 11), so it was never kept
        stored = {r["doc"] for r in ddp.band_store_read(spark, store).collect()}
        assert stored == {1, 11}
        # compacted store still answers probes (params stamp preserved)
        b4 = self._docs(spark, [(30, self.BASE)])
        f4 = ddp.incremental_dedup_against_store(
            b4, self._docs(spark, [(1, self.BASE)]), store, "doc_id", "text")
        assert {r["doc_id"]: r["dup_of"] for r in f4.collect()} == {30: 1}

    P16 = {"num_hashes": 16, "bands": 4, "shingle_k": 3}

    def _forty_doc_bands(self, spark):
        from social_media_data_pipeline_spark.functions import sketches

        docs = self._docs(spark, [(i, f"document number {i} with body {i * 7}") for i in range(40)])
        return sketches.minhash_band_table(docs, "doc_id", "text")

    @staticmethod
    def _rows(df):
        return sorted((r["doc"], r["band_idx"], r["band_hash"]) for r in df.collect())

    def test_pruned_read_equals_full_read_for_probe_buckets(self, spark, tmp_path):
        """Pruning is exact: the probed read keeps precisely the store
        rows the probe's (band_idx, band_hash) keys can join."""
        from social_media_data_pipeline_spark.functions import sketches
        from social_media_data_pipeline_spark.operators import dedup as ddp

        store = str(tmp_path / "bands")
        ddp.band_store_append(self._forty_doc_bands(spark), store, params=self.P16)
        probe_docs = self._docs(spark, [(100, "document number 7 with body 49")])
        probe = sketches.minhash_band_table(probe_docs, "doc_id", "text")
        pruned = ddp.band_store_read(spark, store, probe_bands=probe)
        full = ddp.band_store_read(spark, store)
        assert self._rows(pruned) == self._rows(
            full.join(probe, ["band_idx", "band_hash"], "left_semi"))
        assert pruned.columns == full.columns == ["doc", "band_idx", "band_hash"]
        assert pruned.count() < full.count()  # and it actually pruned

    def test_append_writes_few_flat_band_sorted_files(self, spark, tmp_path):
        """The flat layout: no band_idx=/band_bucket= directories, at
        most one file per write task, rows sorted by band in each."""
        import glob
        import os

        import pyarrow.parquet as pq

        from social_media_data_pipeline_spark.operators import dedup as ddp

        store = str(tmp_path / "bands")
        ddp.band_store_append(self._forty_doc_bands(spark), store, params=self.P16)
        assert not [d for d in os.listdir(store) if os.path.isdir(os.path.join(store, d))]
        files = glob.glob(os.path.join(store, "*.parquet"))
        assert 1 <= len(files) <= spark.sparkContext.defaultParallelism
        n = 0
        for f in files:
            t = pq.read_table(f)
            keys = list(zip(t.column("band_idx").to_pylist(), t.column("band_hash").to_pylist()))
            assert keys == sorted(keys)
            n += t.num_rows
        assert n == 40 * 4

    def test_legacy_store_refused_with_rebuild(self, spark, tmp_path):
        """Directories written before manifest commits — the r14 flat
        layout (stamp JSON beside mode("append") part files), the r8
        partitionBy(band_idx, band_bucket) layout, a stamp alone — are
        refused by every entry point, naming the rebuild, and left
        untouched."""
        import json
        import os

        from social_media_data_pipeline_spark.functions import sketches
        from social_media_data_pipeline_spark.operators import dedup as ddp

        bands = self._forty_doc_bands(spark)
        flat = str(tmp_path / "flat")
        bands.write.parquet(flat)
        parted = str(tmp_path / "parted")
        bands.withColumn(
            "band_bucket", F.pmod(F.crc32(F.col("band_hash")), F.lit(64))
        ).write.partitionBy("band_idx", "band_bucket").parquet(parted)
        stamp_only = str(tmp_path / "stamp_only")
        os.makedirs(stamp_only)
        for store, extra in ((flat, {}), (parted, {"buckets": 64}), (stamp_only, {})):
            with open(os.path.join(store, "_band_store_meta.json"), "w") as f:
                json.dump({**extra, **self.P16}, f)
        probe_docs = self._docs(spark, [(100, "document number 7 with body 49")])
        probe = sketches.minhash_band_table(probe_docs, "doc_id", "text")
        rebuild = r"band_store_append\(sketches\.minhash_band_table"
        for store in (flat, parted, stamp_only):
            listing = sorted(os.listdir(store))
            with pytest.raises(ValueError, match=rebuild):
                ddp.band_store_read(spark, store)
            with pytest.raises(ValueError, match=rebuild):
                ddp.band_store_append(probe, store, params=self.P16)
            with pytest.raises(ValueError, match=rebuild):
                ddp.band_store_compact(spark, store)
            with pytest.raises(ValueError, match=rebuild):
                ddp.incremental_dedup_against_store(
                    probe_docs, probe_docs.limit(0), store, "doc_id", "text")
            assert sorted(os.listdir(store)) == listing

    def test_data_without_meta_stamp_refused(self, spark, tmp_path):
        """Parquet band data with neither a stamp nor a manifest must be
        refused, not read as an absent store or with silently-assumed
        params and schema."""
        import os

        from social_media_data_pipeline_spark.operators import dedup as ddp

        store = str(tmp_path / "bands")
        self._forty_doc_bands(spark).write.parquet(store)
        listing = sorted(os.listdir(store))
        rebuild = r"no manifest.*band_store_append\(sketches\.minhash_band_table"
        with pytest.raises(ValueError, match=rebuild):
            ddp.band_store_read(spark, store)
        with pytest.raises(ValueError, match=rebuild):
            ddp.band_store_read(spark, store, params=self.P16)
        assert sorted(os.listdir(store)) == listing

    def test_param_stamp_refuses_mixed_signatures(self, spark, tmp_path):
        import pytest

        from social_media_data_pipeline_spark.functions import sketches
        from social_media_data_pipeline_spark.operators import dedup as ddp

        store = str(tmp_path / "bands")
        docs = self._docs(spark, [(1, "hello world text")])
        b16 = sketches.minhash_band_table(docs, "doc_id", "text", 16, 4, 3)
        ddp.band_store_append(b16, store, params={"num_hashes": 16, "bands": 4, "shingle_k": 3})
        b32 = sketches.minhash_band_table(docs, "doc_id", "text", 32, 8, 3)
        with pytest.raises(ValueError, match="mixed signature"):
            ddp.band_store_append(b32, store, params={"num_hashes": 32, "bands": 8, "shingle_k": 3})
        with pytest.raises(ValueError, match="mixed signature"):
            ddp.band_store_read(spark, store, params={"num_hashes": 32, "bands": 8, "shingle_k": 3})

    def test_compact_crash_before_swap_leaves_store_intact(self, spark, tmp_path, monkeypatch):
        """A compaction whose manifest flip fails leaves the store on
        its previous generation: same generation, same rows."""
        from social_media_data_pipeline_spark import scale
        from social_media_data_pipeline_spark.functions import sketches
        from social_media_data_pipeline_spark.operators import dedup as ddp

        store = str(tmp_path / "bands")
        docs = self._docs(spark, [(1, "hello world text"), (2, "other text body")])
        bands = sketches.minhash_band_table(docs, "doc_id", "text")
        ddp.band_store_append(bands, store, params=self.P16)
        ddp.band_store_append(self._forty_doc_bands(spark), store, params=self.P16)
        gen_before = scale.read_store(store)[1]
        before = self._rows(ddp.band_store_read(spark, store))

        def boom(path, files, expect_generation=None):
            raise OSError("simulated crash at the manifest flip")

        monkeypatch.setattr(scale, "write_table_manifest", boom)
        with pytest.raises(OSError, match="simulated crash"):
            ddp.band_store_compact(spark, store)
        monkeypatch.undo()
        assert scale.read_store(store)[1] == gen_before == 1
        assert self._rows(ddp.band_store_read(spark, store)) == before

    def test_racing_appender_loses_loudly(self, spark, tmp_path, monkeypatch):
        """Two appenders read the same generation; the winner's append
        lands inside the loser's read-to-commit window. The loser
        raises ConcurrentCommitError and leaves no file behind; the
        live rows are the base plus the winner's."""
        import os

        from social_media_data_pipeline_spark import scale
        from social_media_data_pipeline_spark.functions import sketches
        from social_media_data_pipeline_spark.operators import dedup as ddp

        store = str(tmp_path / "bands")
        base = sketches.minhash_band_table(
            self._docs(spark, [(1, self.BASE)]), "doc_id", "text")
        winner = sketches.minhash_band_table(
            self._docs(spark, [(2, "the winning batch body text")]), "doc_id", "text")
        loser = sketches.minhash_band_table(
            self._docs(spark, [(3, "the losing batch body text")]), "doc_id", "text")
        ddp.band_store_append(base, store, params=self.P16)
        expected = self._rows(base.unionByName(winner))
        real_commit = scale.write_table_manifest
        fired = {"winner": False}

        def interleave(p, files, expect_generation=None):
            # on the loser's CAS commit, the winner's whole append runs
            # first — the lost-update interleaving
            if not fired["winner"]:
                fired["winner"] = True
                monkeypatch.setattr(scale, "write_table_manifest", real_commit)
                ddp.band_store_append(winner, store, params=self.P16)
                monkeypatch.setattr(scale, "write_table_manifest", interleave)
            return real_commit(p, files, expect_generation)

        monkeypatch.setattr(scale, "write_table_manifest", interleave)
        before = set(os.listdir(store))
        with pytest.raises(scale.ConcurrentCommitError):
            ddp.band_store_append(loser, store, params=self.P16)
        monkeypatch.undo()
        assert self._rows(ddp.band_store_read(spark, store)) == expected
        live = {os.path.basename(f) for f in scale.read_table_manifest(store)}
        new = {
            f for f in set(os.listdir(store)) - before - live
            if not f.startswith("_manifest")
        }
        assert new == set()  # the loser un-staged its files and meta

    def test_store_moved_between_probe_and_append_raises(self, spark, tmp_path, monkeypatch):
        """incremental_dedup_against_store appends against the
        generation its probe read saw: a batch appended in between
        was never probed, so the append raises instead of landing
        beside it with the cross-batch duplicates unflagged."""
        from social_media_data_pipeline_spark import scale
        from social_media_data_pipeline_spark.functions import sketches
        from social_media_data_pipeline_spark.operators import dedup as ddp

        store = str(tmp_path / "bands")
        b1 = self._docs(spark, [(1, self.BASE)])
        ddp.incremental_dedup_against_store(b1, b1.limit(0), store, "doc_id", "text")
        racer = self._docs(spark, [(5, "a racing batch with other text")])
        batch = self._docs(spark, [(10, "a racing batch with other text")])
        real_dedup = ddp.incremental_dedup

        def dedup_then_race(*args, **kwargs):
            out = real_dedup(*args, **kwargs)
            ddp.band_store_append(
                sketches.minhash_band_table(racer, "doc_id", "text"), store,
                params=self.P16)
            return out

        monkeypatch.setattr(ddp, "incremental_dedup", dedup_then_race)
        with pytest.raises(scale.ConcurrentCommitError):
            ddp.incremental_dedup_against_store(batch, b1, store, "doc_id", "text")
        monkeypatch.undo()
        stored = {r["doc"] for r in ddp.band_store_read(spark, store).collect()}
        assert stored == {1, 5}

    def test_empty_first_batch_does_not_poison_store(self, spark, tmp_path):
        """r9 regression (r8 verdict #1): an EMPTY first micro-batch —
        routine in continuous streams (empty part files, all-duplicate
        batches) — must not leave a store that every later read dies
        on. The zero-row append commits generation 0 with the meta
        (params and schema) bound; reads take the schema from the meta,
        never footer inference; the next real cycle works normally."""
        from social_media_data_pipeline_spark import scale
        from social_media_data_pipeline_spark.operators import dedup as ddp

        store = str(tmp_path / "bands")
        empty = spark.createDataFrame([], "doc_id long, text string")
        f0 = ddp.incremental_dedup_against_store(
            empty, empty, store, "doc_id", "text"
        )
        assert f0.count() == 0
        _files, gen, meta = scale.read_store(store)
        assert gen == 0
        assert meta == {
            "params": self.P16,
            "schema": "doc bigint, band_idx int, band_hash string",
        }
        # the r8 bug: this read raised UNABLE_TO_INFER_SCHEMA forever
        got = ddp.band_store_read(spark, store)
        assert got.count() == 0
        assert got.columns == ["doc", "band_idx", "band_hash"]
        # store still fully functional: real batch 1 keeps, batch 2 dup flagged
        b1 = self._docs(spark, [(1, self.BASE)])
        assert ddp.incremental_dedup_against_store(
            b1, empty, store, "doc_id", "text"
        ).count() == 0
        b2 = self._docs(spark, [(10, self.BASE), (11, "fresh unseen body")])
        flagged = ddp.incremental_dedup_against_store(
            b2, b1, store, "doc_id", "text"
        ).collect()
        assert {r["doc_id"] for r in flagged} == {10}

    def test_absent_store_nonempty_history_bootstraps(self, spark, tmp_path):
        """r9 (ADVICE): store absent + non-empty history must fall back
        to recomputing history bands, not silently flag nothing."""
        from social_media_data_pipeline_spark.operators import dedup as ddp

        store = str(tmp_path / "bands")
        history = self._docs(spark, [(1, self.BASE)])
        batch = self._docs(spark, [(10, self.BASE), (11, "fresh unseen body")])
        flagged = ddp.incremental_dedup_against_store(
            batch, history, store, "doc_id", "text"
        ).collect()
        assert {(r["doc_id"], r["dup_of"]) for r in flagged} == {(10, 1)}
        # survivors (11) appended; the flagged dup (10) and the history
        # corpus's own bands (owner's ingest path) are not
        stored = {r["doc"] for r in ddp.band_store_read(spark, store).collect()}
        assert stored == {11}


class TestDuplicateWindowFraction:
    def test_planted_boilerplate_fraction(self, spark):
        """Doc 1 and 2 share an 8-token boilerplate prefix; doc 3 is
        unique. The shared windows count as duplicated in BOTH docs;
        unique docs score 0."""
        from social_media_data_pipeline_spark.operators import dedup as ddp

        boiler = "subscribe to our newsletter for all updates"  # 7 tokens
        a = boiler + " alpha beta gamma"          # 10 tokens → 3 windows
        b = boiler + " delta epsilon zeta"        # 10 tokens → 3 windows
        c = "totally unique body of text with enough tokens here"
        df = spark.createDataFrame(
            [(1, a), (2, b), (3, c)], "doc_id long, text string"
        )
        out = {
            r["id"]: (r["n_windows"], r["n_dup_windows"], r["dup_frac"])
            for r in ddp.duplicate_window_fraction(df, "doc_id", "text", k=8).collect()
        }
        # windows of doc a: [sub..updates alpha], [to..alpha beta], [our..beta gamma]
        # only the FIRST window (boiler + 'alpha') differs from b's; the
        # 8-token windows all include post-boiler tokens, so none are
        # shared between a and b → craft the check from the operator's
        # own totals instead of hand counts: docs 1/2 symmetric, doc 3 zero
        assert out[1] == out[2]
        assert out[3][1] == 0 and out[3][2] == 0.0
        # extend the shared prefix so windows DO overlap
        boiler2 = "one two three four five six seven eight nine ten"  # 10 toks
        d = spark.createDataFrame(
            [(1, boiler2 + " tail1"), (2, boiler2 + " tail2"), (3, c)],
            "doc_id long, text string",
        )
        out2 = {
            r["id"]: (r["n_windows"], r["n_dup_windows"], r["dup_frac"])
            for r in ddp.duplicate_window_fraction(d, "doc_id", "text", k=8).collect()
        }
        # 11 tokens → 4 windows; the 3 windows inside the 10-token
        # shared prefix are duplicated, the tail window is not
        assert out2[1] == (4, 3, 0.75) and out2[2] == (4, 3, 0.75)
        assert out2[3][1] == 0

    def test_short_docs_dropped_and_validation(self, spark):
        import pytest

        from social_media_data_pipeline_spark.operators import dedup as ddp

        df = spark.createDataFrame(
            [(1, "too short"), (2, "one two three four five six seven eight")],
            "doc_id long, text string",
        )
        out = ddp.duplicate_window_fraction(df, "doc_id", "text", k=8).collect()
        assert {r["id"] for r in out} == {2}
        with pytest.raises(ValueError, match="k must be"):
            ddp.duplicate_window_fraction(df, "doc_id", "text", k=1)


class TestContaminationFraction:
    def test_exact_fraction_and_eval_excluded(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import (
            contamination_fraction,
        )

        # k=3 windows; train doc "a" shares exactly its first window
        # with the eval doc, "b" shares nothing, "c" is too short
        train = spark.createDataFrame(
            [
                ("a", "one two three four"),   # windows: {one two three, two three four}
                ("b", "five six seven"),
                ("c", "tiny doc"),
            ],
            "doc_id string, text string",
        )
        ev = spark.createDataFrame(
            [("e1", "zzz one two three")], "doc_id string, text string"
        )
        out = {
            r["id"]: (r["n_grams"], r["n_hit"], r["contamination_frac"])
            for r in contamination_fraction(train, ev, k=3).collect()
        }
        assert out["a"] == (2, 1, 0.5)
        assert out["b"] == (1, 0, 0.0)
        assert "c" not in out  # < k tokens -> no windows
        assert "e1" not in out  # eval docs are not scored

    def test_duplicate_windows_counted_once(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import (
            contamination_fraction,
        )

        # the same window repeated inside one doc counts once (DISTINCT)
        train = spark.createDataFrame(
            [("a", "x y x y x y")], "doc_id string, text string"
        )
        ev = spark.createDataFrame([("e", "x y x")], "doc_id string, text string")
        row = contamination_fraction(train, ev, k=2).collect()[0]
        # distinct windows of a: {x y, y x} -> both occur in eval's {x y, y x}
        assert (row["n_grams"], row["n_hit"]) == (2, 2)
        assert row["contamination_frac"] == 1.0

    def test_shuffle_join_path_identical(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import (
            contamination_fraction,
        )

        train = spark.createDataFrame(
            [("a", "p q r s t"), ("b", "q r s t u")], "doc_id string, text string"
        )
        ev = spark.createDataFrame([("e", "r s t u v")], "doc_id string, text string")
        bc = sorted(map(tuple, contamination_fraction(train, ev, k=3).collect()))
        sh = sorted(
            map(
                tuple,
                contamination_fraction(
                    train, ev, k=3, broadcast_eval=False
                ).collect(),
            )
        )
        assert bc == sh


class TestDecontaminateSpans:
    def test_islands_merge_and_eval_only_hits(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import (
            decontaminate_spans,
        )

        # k=3; train doc "a" contains the eval trigram run "q1 q2 q3 q4"
        # (two overlapping contaminated windows -> ONE span 2..5) and a
        # clean tail; "b" is clean
        train = spark.createDataFrame(
            [
                ("a", "x1 x2 q1 q2 q3 q4 y1 y2"),
                ("b", "z1 z2 z3 z4 z5"),
            ],
            "doc_id string, text string",
        )
        ev = spark.createDataFrame(
            [("e", "q1 q2 q3 q4")], "doc_id string, text string"
        )
        out = decontaminate_spans(train, ev, k=3).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["id"], r["span_start"], r["span_end"], r["n_windows"]) == (
            "a", 2, 5, 2,
        )

    def test_disjoint_spans_stay_separate(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import (
            decontaminate_spans,
        )

        train = spark.createDataFrame(
            [("a", "q1 q2 q3 m1 m2 m3 m4 q1 q2 q3")],
            "doc_id string, text string",
        )
        ev = spark.createDataFrame([("e", "q1 q2 q3")], "doc_id string, text string")
        out = sorted(
            (r["span_start"], r["span_end"]) for r in
            decontaminate_spans(train, ev, k=3).collect()
        )
        assert out == [(0, 2), (7, 9)]

    def test_composes_with_trim_spans(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import (
            decontaminate_spans,
            trim_spans,
        )

        train = spark.createDataFrame(
            [("a", "keep1 keep2 bad1 bad2 bad3 keep3")],
            "doc_id string, text string",
        )
        ev = spark.createDataFrame(
            [("e", "bad1 bad2 bad3")], "doc_id string, text string"
        )
        spans = decontaminate_spans(train, ev, k=3)
        trimmed = trim_spans(train, spans, "doc_id", "text").collect()
        assert {r["trimmed_text"] for r in trimmed} == {"keep1 keep2 keep3"}
        assert trimmed[0]["n_removed"] == 3

    def test_shuffle_path_identical(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import (
            decontaminate_spans,
        )

        train = spark.createDataFrame(
            [("a", "p q r s t u"), ("b", "q r s t u v")],
            "doc_id string, text string",
        )
        ev = spark.createDataFrame([("e", "r s t u")], "doc_id string, text string")
        bc = sorted(map(tuple, decontaminate_spans(train, ev, k=3).collect()))
        sh = sorted(
            map(
                tuple,
                decontaminate_spans(
                    train, ev, k=3, broadcast_eval=False
                ).collect(),
            )
        )
        assert bc == sh


class TestWinsorize:
    def test_clip_bounds_and_flags(self, spark):
        from social_media_data_pipeline_spark.operators import aggregates as agg

        # 0..99 plus two wild outliers; p01/p99 pin the clip range
        rows = [(float(i),) for i in range(100)] + [(1e9,), (-1e9,)]
        df = spark.createDataFrame(rows, "v double")
        out = agg.winsorize(df, "v", 0.01, 0.99)
        r = out.agg(
            F.min("v_w").alias("mn"), F.max("v_w").alias("mx")
        ).collect()[0]
        assert r["mn"] >= 0.0 and r["mx"] <= 99.99 + 1e-6
        # interior values untouched
        inner = out.filter("v = 50.0").collect()[0]
        assert inner["v_w"] == 50.0

    def test_grouped_quantiles_independent(self, spark):
        from social_media_data_pipeline_spark.operators import aggregates as agg

        rows = [("a", float(i)) for i in range(10)] + [
            ("b", float(100 + i)) for i in range(10)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        out = agg.winsorize(df, "v", 0.0, 0.5, group_cols=("g",))
        got = {
            (r["g"], r["v"]): r["v_w"] for r in out.collect()
        }
        assert got[("a", 9.0)] == 4.5  # clipped to a's median
        assert got[("b", 109.0)] == 104.5  # b's own median, not a's

    def test_rejects_bad_range(self, spark):
        from social_media_data_pipeline_spark.operators import aggregates as agg

        df = spark.createDataFrame([(1.0,)], "v double")
        import pytest as _pt

        with _pt.raises(ValueError, match="lo < hi"):
            agg.winsorize(df, "v", 0.9, 0.1)


class TestRobustAnomalies:
    def test_flags_planted_outliers_only(self, spark):
        from social_media_data_pipeline_spark.operators import aggregates as agg

        rows = [(float(i % 10),) for i in range(100)] + [(1e6,), (-1e6,)]
        df = spark.createDataFrame(rows, "v double")
        out = agg.robust_anomalies(df, "v")
        flagged = sorted(r["v"] for r in out.filter("is_anomaly").collect())
        assert flagged == [-1e6, 1e6]

    def test_constant_group_mad_zero_flags_deviants_only(self, spark):
        from social_media_data_pipeline_spark.operators import aggregates as agg

        # all-identical group: MAD 0 — identical values must NOT flag
        # (dev 0 > 0 false), the single deviant must
        rows = [("a", 5.0)] * 20 + [("a", 6.0)]
        df = spark.createDataFrame(rows, "g string, v double")
        out = agg.robust_anomalies(df, "v", group_cols=("g",))
        got = {(r["v"], r["is_anomaly"]) for r in out.collect()}
        assert (5.0, False) in got and (6.0, True) in got

    def test_grouped_thresholds_independent(self, spark):
        from social_media_data_pipeline_spark.operators import aggregates as agg

        # 1000 is wild for group a (tight around 0-9) but typical for b
        rows = [("a", float(i % 10)) for i in range(50)] + [("a", 1000.0)] + [
            ("b", 1000.0 + (i % 10)) for i in range(50)
        ]
        df = spark.createDataFrame(rows, "g string, v double")
        out = agg.robust_anomalies(df, "v", group_cols=("g",))
        a_flagged = [r["v"] for r in out.filter("g = 'a' AND is_anomaly").collect()]
        b_flagged = [r["v"] for r in out.filter("g = 'b' AND is_anomaly").collect()]
        assert a_flagged == [1000.0] and b_flagged == []

    def test_rejects_bad_z(self, spark):
        from social_media_data_pipeline_spark.operators import aggregates as agg

        df = spark.createDataFrame([(1.0,)], "v double")
        import pytest as _pt

        with _pt.raises(ValueError, match="z must"):
            agg.robust_anomalies(df, "v", z=0)


class TestDecayedSum:
    def test_stepped_halving_exact(self, spark):
        from social_media_data_pipeline_spark.operators import aggregates as agg

        rows = [
            ("2024-01-31 12:00:00", 100.0),  # 1 day before as_of → 0 halvings
            ("2024-01-20 00:00:00", 100.0),  # 12 days → 1 halving
            ("2024-01-01 00:00:00", 100.0),  # 31 days → 4 halvings
            ("2024-02-05 00:00:00", 999.0),  # after as_of → excluded
        ]
        df = spark.createDataFrame(rows, "ts_s string, value double").selectExpr(
            "CAST(ts_s AS TIMESTAMP) AS ts", "value"
        )
        out = agg.decayed_sum(
            df, "ts", "value", as_of="2024-02-01", half_life_days=7
        ).collect()[0]
        # 100 + 50 + 6.25 = 156.25 → exact dyadic arithmetic
        assert out["decayed_micro"] == 156_250_000
        assert out["n"] == 3

    def test_grouped(self, spark):
        from social_media_data_pipeline_spark.operators import aggregates as agg

        rows = [("a", "2024-01-31 00:00:00", 8.0), ("b", "2024-01-17 00:00:00", 8.0)]
        df = spark.createDataFrame(rows, "g string, ts_s string, value double").selectExpr(
            "g", "CAST(ts_s AS TIMESTAMP) AS ts", "value"
        )
        got = {
            r["g"]: r["decayed_micro"]
            for r in agg.decayed_sum(
                df, "ts", "value", as_of="2024-02-01", half_life_days=7,
                group_cols=("g",),
            ).collect()
        }
        assert got == {"a": 8_000_000, "b": 2_000_000}  # 0 vs 2 halvings

    def test_rejects_bad_half_life(self, spark):
        from social_media_data_pipeline_spark.operators import aggregates as agg

        df = spark.createDataFrame([("2024-01-01 00:00:00", 1.0)], "ts_s string, v double").selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "v")
        import pytest as _pt

        with _pt.raises(ValueError, match="half_life_days"):
            agg.decayed_sum(df, "ts", "v", as_of="2024-02-01", half_life_days=0)


class TestSnmPairs:
    """Sorted-neighborhood candidate generation: pairs within `window`
    global sort positions, rank computed bucket-locally."""

    def _brute(self, rows, window):
        order = sorted(rows, key=lambda r: (r[1], r[0]))
        out = set()
        for i in range(len(order)):
            for j in range(i + 1, min(i + window, len(order))):
                out.add((order[i][0], order[j][0], j - i))
        return out

    def test_matches_brute_force(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import snm_pairs

        import random

        rng = random.Random(11)
        rows = [
            (i, "".join(rng.choice("abcd") for _ in range(6)))
            for i in range(60)
        ]
        df = spark.createDataFrame(rows, "rid long, key string")
        for w in (2, 4, 7):
            got = {
                (r.id_a, r.id_b, r.dist)
                for r in snm_pairs(df, "rid", "key", window=w).collect()
            }
            assert got == self._brute(rows, w)

    def test_pairs_cross_bucket_boundaries(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import snm_pairs

        # keys span prefixes "aa".."ad": neighbors straddle bucket edges
        rows = [(i, f"a{chr(97 + i % 4)}{i:03d}") for i in range(20)]
        df = spark.createDataFrame(rows, "rid long, key string")
        got = {
            (r.id_a, r.id_b, r.dist)
            for r in snm_pairs(df, "rid", "key", window=3,
                               bucket_prefix_len=2).collect()
        }
        assert got == self._brute(rows, 3)

    def test_prefix_len_invariance(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import snm_pairs

        rows = [(i, f"k{i % 7}{i:02d}") for i in range(30)]
        df = spark.createDataFrame(rows, "rid long, key string")
        base = {
            (r.id_a, r.id_b, r.dist)
            for r in snm_pairs(df, "rid", "key", window=4,
                               bucket_prefix_len=1).collect()
        }
        for plen in (2, 3):
            assert {
                (r.id_a, r.id_b, r.dist)
                for r in snm_pairs(df, "rid", "key", window=4,
                                   bucket_prefix_len=plen).collect()
            } == base

    def test_degenerate_inputs(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import snm_pairs

        import pytest as _pytest

        one = spark.createDataFrame([(1, "a")], "rid long, key string")
        assert snm_pairs(one, "rid", "key").count() == 0
        assert snm_pairs(one.limit(0), "rid", "key").count() == 0
        with _pytest.raises(ValueError, match="window"):
            snm_pairs(one, "rid", "key", window=1)
        with _pytest.raises(ValueError, match="bucket_prefix_len"):
            snm_pairs(one, "rid", "key", bucket_prefix_len=0)



    def test_auto_hot_prefix_rebalances(self, spark):
        """r10: the default-on heavy-hitter probe — a corpus-hot 2-char
        key prefix must raise the bucket prefix length until no bucket
        holds more than hot_share of rows, and the emitted pairs are
        IDENTICAL to the fixed-prefix run (buckets only localize the
        rank computation)."""
        from social_media_data_pipeline_spark.operators.dedup import (
            _snm_bucket_prefix,
            snm_pairs,
        )

        # 80% of keys share the "aa" prefix but spread at chars 3-4;
        # the rest spread across other prefixes
        rows = [(i, f"aa{i % 16:02d}x") for i in range(80)] + [
            (100 + i, f"{chr(98 + i % 8)}k{i:02d}") for i in range(20)
        ]
        df = spark.createDataFrame(rows, "rid long, key string")
        keyed = df.select(
            F.col("rid"), F.col("key").cast("string").alias("__k")
        )
        plen, counts = _snm_bucket_prefix(keyed, 2, 0.25, 12, "key")
        assert plen > 2, "hot prefix must raise the bucket length"
        mx = max(r["count"] for r in counts)
        assert mx <= 0.25 * 100, f"largest bucket still hot: {mx}"
        auto = {
            (r.id_a, r.id_b, r.dist)
            for r in snm_pairs(df, "rid", "key", window=4).collect()
        }
        fixed = {
            (r.id_a, r.id_b, r.dist)
            for r in snm_pairs(
                df, "rid", "key", window=4, hot_share=None
            ).collect()
        }
        assert auto == fixed and len(auto) > 0

    def test_auto_probe_stops_on_exact_key_mass(self, spark):
        """Identical keys share every prefix — the probe must detect
        that raising stopped helping and terminate (the inherent
        equal-sort-key residual), still producing correct pairs."""
        from social_media_data_pipeline_spark.operators.dedup import snm_pairs

        rows = [(i, "samekey") for i in range(40)] + [(50, "zz")]
        df = spark.createDataFrame(rows, "rid long, key string")
        got = {
            (r.id_a, r.id_b)
            for r in snm_pairs(df, "rid", "key", window=2).collect()
        }
        # adjacent pairs under (key, rid): (0,1)..(38,39),(39,50)
        want = {(i, i + 1) for i in range(39)} | {(39, 50)}
        assert got == want

    def test_duplicate_ids_refused(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import snm_pairs

        import pytest as _pytest

        # duplicate (key, id) rows tie in the row_number order, making
        # global positions run-order-dependent (r10 ADVICE fix)
        df = spark.createDataFrame(
            [(1, "aa"), (1, "aa"), (2, "ab")], "rid long, key string"
        )
        with _pytest.raises(ValueError, match="duplicate id"):
            snm_pairs(df, "rid", "key")

    def test_near_dup_titles_meet(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import snm_pairs

        # the ER motivation: typo variants sort adjacent, no token overlap
        # needed (single-token keys defeat 3-gram shingles)
        rows = [
            (1, "smith john 1985"),
            (2, "smith jon 1985"),
            (3, "smyth john 1985"),
            (4, "adams jane 1990"),
        ]
        df = spark.createDataFrame(rows, "rid long, key string")
        got = {
            (r.id_a, r.id_b)
            for r in snm_pairs(df, "rid", "key", window=2).collect()
        }
        assert (1, 2) in got or (2, 1) in got  # adjacent in sort order


class TestNegativePairs:
    def test_shape_and_determinism(self, spark):
        from social_media_data_pipeline_spark.operators.sampling import (
            negative_pairs,
        )

        df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
        a = sorted(
            (r.anchor_id, r.sample_idx, r.neg_id)
            for r in negative_pairs(df, "doc_id", k=3).collect()
        )
        b = sorted(
            (r.anchor_id, r.sample_idx, r.neg_id)
            for r in negative_pairs(df, "doc_id", k=3).collect()
        )
        assert a == b and len(a) == 150
        assert all(x[0] != x[2] for x in a), "self-pair produced"
        # every anchor has exactly k draws
        from collections import Counter

        c = Counter(x[0] for x in a)
        assert set(c.values()) == {3}

    def test_uniformity_is_plausible(self, spark):
        from social_media_data_pipeline_spark.operators.sampling import (
            negative_pairs,
        )

        df = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
        hits = [
            r.neg_id for r in negative_pairs(df, "doc_id", k=8).collect()
        ]
        from collections import Counter

        counts = Counter(hits)
        # 320 draws over 40 targets: expect ~8 each; md5 uniformity
        # should keep every target in a generous band
        assert set(counts) == set(range(40))
        assert max(counts.values()) <= 24

    def test_seed_changes_sample(self, spark):
        from social_media_data_pipeline_spark.operators.sampling import (
            negative_pairs,
        )

        df = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
        a = sorted(
            (r.anchor_id, r.sample_idx, r.neg_id)
            for r in negative_pairs(df, "doc_id", k=2, seed="s1").collect()
        )
        b = sorted(
            (r.anchor_id, r.sample_idx, r.neg_id)
            for r in negative_pairs(df, "doc_id", k=2, seed="s2").collect()
        )
        assert a != b

    def test_validation(self, spark):
        from social_media_data_pipeline_spark.operators.sampling import (
            negative_pairs,
        )

        import pytest as _pytest

        df = spark.createDataFrame([(1,)], "doc_id long")
        with _pytest.raises(ValueError, match=">= 2 rows"):
            negative_pairs(df, "doc_id", k=1)
        two = spark.createDataFrame([(1,), (2,)], "doc_id long")
        with _pytest.raises(ValueError, match="k must be"):
            negative_pairs(two, "doc_id", k=0)
        # N=2: the only possible partner is the other row
        got = {(r.anchor_id, r.neg_id) for r in negative_pairs(two, "doc_id", k=2).collect()}
        assert got == {(1, 2), (2, 1)}


class TestR9LoudRefusals:
    def test_snm_null_key_refused(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import snm_pairs

        import pytest as _pytest

        df = spark.createDataFrame(
            [(1, "aa"), (2, None), (3, "ab")], "rid long, key string"
        )
        with _pytest.raises(ValueError, match="NULL sort key"):
            snm_pairs(df, "rid", "key", window=3)

    def test_negative_pairs_duplicate_ids_refused(self, spark):
        from social_media_data_pipeline_spark.operators.sampling import (
            negative_pairs,
        )

        import pytest as _pytest

        df = spark.createDataFrame(
            [(1,), (2,), (2,), (3,)], "doc_id long"
        )
        with _pytest.raises(ValueError, match="duplicate ids"):
            negative_pairs(df, "doc_id", k=1)


class TestEntityResolution:
    """r10 ER flagship: dual-channel candidates -> verify ->
    incremental CC. The channels must catch each other's blind spots."""

    def test_clusters_merge_both_channels(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import (
            entity_resolution_clusters,
        )

        base = "quarterly revenue review for the northern region office"
        rows = [
            # content-dup pair: high shingle overlap (jaccard channel)
            (1, base + " draft one final"),
            (2, base + " draft one FINAL"),
            # typo variants: sort-adjacent, tiny key edit (snm channel)
            (3, "smith john 1985 account ledger entry"),
            (4, "smyth john 1985 account ledger entry"),
            # singleton
            (5, "completely unrelated gardening notes tomatoes"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.component, r.is_canonical)
            for r in entity_resolution_clusters(
                df, jaccard_threshold=0.6, window=2
            ).collect()
        }
        assert got[1] == (1, True) and got[2] == (1, False)
        assert got[3] == (3, True) and got[4] == (3, False)
        assert got[5] == (5, True)
        # transitive closure across channels: 1-2 by content, and a
        # typo variant of 2's text links 6 into the same component
        rows2 = rows + [(6, base + " draft one FINAJ")]
        df2 = spark.createDataFrame(rows2, "doc_id long, text string")
        got2 = {
            r.doc_id: r.component
            for r in entity_resolution_clusters(
                df2, jaccard_threshold=0.6, window=2
            ).collect()
        }
        assert got2[6] == got2[1] == got2[2] == 1

    def test_matches_full_recompute(self, spark):
        """incremental batching inside the flagship ≡ one-shot CC."""
        from social_media_data_pipeline_spark.functions import graph
        from social_media_data_pipeline_spark.operators.dedup import (
            entity_resolution_clusters,
        )

        import random

        rng = random.Random(7)
        words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
        rows = []
        for i in range(30):
            base = " ".join(rng.choices(words, k=12))
            rows.append((2 * i, base))
            if rng.random() < 0.5:
                rows.append((2 * i + 1, base + " tail"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        one = {
            (r.doc_id, r.component)
            for r in entity_resolution_clusters(df, batches=1).collect()
        }
        three = {
            (r.doc_id, r.component)
            for r in entity_resolution_clusters(df, batches=3).collect()
        }
        assert one == three


class TestHistogramDrift:
    """r10 ingest-drift monitor: exact integer cross-multiplied L1
    against the cumulative prior-days baseline."""

    def _ev(self, spark, rows):
        import datetime as _dt

        data = [
            ("t", _dt.datetime(2024, 1, d, 12, 0), float(v))
            for d, v in rows
        ]
        return spark.createDataFrame(
            data, "event_type string, ts timestamp, value double"
        )

    def test_hand_computed_l1(self, spark):
        from social_media_data_pipeline_spark.operators.aggregates import (
            histogram_drift,
        )

        # day1: 4 values in bin0; day2: 2 in bin0 + 2 in bin1 -> L1 =
        # |.5-1| + |.5-0| = 1.0; day3 matches the cumulative baseline
        # (6 bin0 + 2 bin1 -> .75/.25): 3 bin0 + 1 bin1 -> drift 0
        rows = (
            [(1, 1)] * 4
            + [(2, 1)] * 2 + [(2, 11)] * 2
            + [(3, 1)] * 3 + [(3, 11)] * 1
        )
        got = {
            r["day"].day: (r["n_day"], r["n_base"], r["l1_drift"])
            for r in histogram_drift(
                self._ev(spark, rows), "ts", "value", 10.0,
                group_cols=("event_type",),
            ).collect()
        }
        assert 1 not in got, "first day has no baseline"
        assert got[2] == (4, 4, 1.0)
        assert got[3] == (4, 8, 0.0)

    def test_disjoint_bins_max_drift(self, spark):
        from social_media_data_pipeline_spark.operators.aggregates import (
            histogram_drift,
        )

        # day2's mass lands entirely in bins the baseline never saw ->
        # L1 hits its maximum 2.0 (the baseline-only-bin residual term)
        rows = [(1, 1)] * 3 + [(2, 25)] * 5
        got = histogram_drift(
            self._ev(spark, rows), "ts", "value", 10.0,
            group_cols=("event_type",),
        ).collect()
        assert len(got) == 1 and got[0]["l1_drift"] == 2.0


class TestR10Fuzz:
    """Seeded randomized checks for the r10 operators — the 'fuzz
    provably-identical claims' discipline (the r7 BPE lesson: narrow
    random loops catch what planted cases miss)."""

    def test_histogram_drift_matches_python_reference(self, spark):
        import datetime as _dt
        import random

        from social_media_data_pipeline_spark.operators.aggregates import (
            histogram_drift,
        )

        rng = random.Random(11)
        for trial in range(4):
            rows = []
            for _ in range(rng.randrange(40, 120)):
                rows.append((
                    rng.choice("ab"),
                    _dt.datetime(2024, 1, rng.randrange(1, 9), 12, 0),
                    float(rng.randrange(-30, 60)),
                ))
            df = spark.createDataFrame(
                rows, "event_type string, ts timestamp, value double"
            )
            got = {
                (r["event_type"], r["day"].isoformat()):
                    (r["n_day"], r["n_base"], r["l1_drift"])
                for r in histogram_drift(
                    df, "ts", "value", 10.0, group_cols=("event_type",)
                ).collect()
            }
            # brute reference: dense per-day histograms, direct L1
            from collections import Counter, defaultdict

            per = defaultdict(Counter)
            for et, ts, v in rows:
                per[(et, ts.date())][int(v // 10)] += 1
            want = {}
            for et in "ab":
                days = sorted(d for (e, d) in per if e == et)
                base: Counter = Counter()
                for d in days:
                    cur = per[(et, d)]
                    n_d, n_b = sum(cur.values()), sum(base.values())
                    if n_b > 0:
                        bins = set(cur) | set(base)
                        l1 = sum(
                            abs(cur[b] / n_d - base[b] / n_b) for b in bins
                        )
                        want[(et, d.isoformat())] = (
                            n_d, n_b, round(l1, 6)
                        )
                    base.update(cur)
            for k, (nd, nb, l1) in want.items():
                gnd, gnb, gl1 = got[k]
                assert (gnd, gnb) == (nd, nb), (trial, k)
                assert abs(gl1 - l1) < 2e-6, (trial, k, gl1, l1)
            assert set(got) == set(want)

    def test_snm_auto_equals_fixed_on_random_skew(self, spark):
        import random

        from social_media_data_pipeline_spark.operators.dedup import snm_pairs

        rng = random.Random(23)
        for trial in range(3):
            hot = rng.choice(["aa", "zz", "mm"])
            rows = []
            rid = 0
            for _ in range(rng.randrange(30, 80)):
                if rng.random() < 0.7:
                    key = hot + "".join(rng.choices("abcd", k=4))
                else:
                    key = "".join(rng.choices("abcdefgh", k=6))
                rows.append((rid, key))
                rid += 1
            df = spark.createDataFrame(rows, "rid long, key string")
            w = rng.choice([2, 3, 4])
            auto = {
                (r.id_a, r.id_b, r.dist)
                for r in snm_pairs(df, "rid", "key", window=w).collect()
            }
            fixed = {
                (r.id_a, r.id_b, r.dist)
                for r in snm_pairs(
                    df, "rid", "key", window=w, hot_share=None,
                    bucket_prefix_len=6,
                ).collect()
            }
            assert auto == fixed, trial

    def test_entity_resolution_batching_invariance_random(self, spark):
        import random

        from social_media_data_pipeline_spark.operators.dedup import (
            entity_resolution_clusters,
        )

        rng = random.Random(37)
        words = ["alpha", "beta", "gamma", "delta", "omega"]
        rows = []
        for i in range(40):
            base = " ".join(rng.choices(words, k=10))
            rows.append((3 * i, base))
            if rng.random() < 0.4:
                rows.append((3 * i + 1, base + " extra"))
            if rng.random() < 0.2:
                rows.append((3 * i + 2, base.replace("alpha", "alpka", 1)))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        outs = []
        for batches in (1, 2, 4):
            outs.append({
                (r.doc_id, r.component)
                for r in entity_resolution_clusters(
                    df, batches=batches
                ).collect()
            })
        assert outs[0] == outs[1] == outs[2]


class TestKAnonymity:
    def test_flags_cross_independently(self, spark):
        from social_media_data_pipeline_spark.operators.aggregates import (
            k_anonymity_profile,
        )

        rows = (
            # group A: 5 rows, 2 sensitive values -> both pass
            [("A", "s1")] * 3 + [("A", "s2")] * 2
            # group B: 5 rows, 1 value -> k ok, l fails (homogeneity)
            + [("B", "s1")] * 5
            # group C: 2 rows, 2 values -> k fails, l ok
            + [("C", "s1"), ("C", "s2")]
        )
        df = spark.createDataFrame(rows, "q string, s string")
        got = {
            r["q"]: (r["n_rows"], r["n_sensitive_distinct"],
                     r["k_anonymous"], r["l_diverse"])
            for r in k_anonymity_profile(df, ("q",), "s", k=5, l=2).collect()
        }
        assert got == {
            "A": (5, 2, True, True),
            "B": (5, 1, True, False),
            "C": (2, 2, False, True),
        }

    def test_validation(self, spark):
        import pytest as _pytest

        from social_media_data_pipeline_spark.operators.aggregates import (
            k_anonymity_profile,
        )

        df = spark.createDataFrame([("A", "s")], "q string, s string")
        with _pytest.raises(ValueError, match="k and l"):
            k_anonymity_profile(df, ("q",), "s", k=0)


class TestBlockingQuality:
    def test_metrics_on_planted_corpus(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import (
            blocking_quality,
        )

        base = "the gray fox runs across the frozen river every single morning"
        rows = [
            (1, base),
            # near-dup of 1 with a DIFFERENT leading word: sorts far
            # from 1, so the w=2 sorted neighborhood misses the pair
            # while shingle methods catch it
            (2, "a " + base),
            (3, "completely different text about gardens and tomatoes here"),
            (4, "another unrelated document listing prices of seasonal fruit"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["method"]: (
                r["n_true"], r["n_caught"], r["pair_completeness"],
            )
            for r in blocking_quality(
                df, "doc_id", "text", jaccard_threshold=0.6, window=2
            ).collect()
        }
        assert set(got) == {"minhash_lsh", "sorted_neighborhood"}
        # exactly one true pair (1, 2)
        assert got["minhash_lsh"][0] == 1
        assert got["minhash_lsh"][1:] == (1, 1.0), "LSH catches the dup"
        assert got["sorted_neighborhood"][1:] == (0, 0.0), (
            "the leading-word edit defeats sort adjacency at w=2 — the "
            "blind spot the decision table documents"
        )

    def test_reduction_ratio_bounds(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import (
            blocking_quality,
        )

        rows = [(i, f"totally unique text number {i} with filler words")
                for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for r in blocking_quality(df, "doc_id", "text").collect():
            assert 0.0 <= r["reduction_ratio"] <= 1.0
            assert r["pair_completeness"] == 1.0  # n_true == 0 -> 1.0

    def test_sampled_variant_wilson_interval(self, spark):
        """r11: inv_rate=1 keeps every doc — counts equal the exact
        variant's; the Wilson interval is non-degenerate at p̂ = 1
        (the naive normal CI would collapse to [1, 1]) and always
        brackets the point estimate."""
        from social_media_data_pipeline_spark.operators.dedup import (
            blocking_quality,
            blocking_quality_sampled,
        )

        base = "the gray fox runs across the frozen river every single morning"
        rows = [(1, base), (2, base + " today"),
                (3, "unrelated text about gardens and tomatoes and soil"),
                (4, "another document on seasonal fruit market prices")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        exact = {r["method"]: r for r in blocking_quality(df, "doc_id", "text").collect()}
        got = {
            r["method"]: r
            for r in blocking_quality_sampled(
                df, "doc_id", "text", inv_rate=1
            ).collect()
        }
        for m, r in got.items():
            assert r["n_sample"] == 4
            for c in ("n_candidates", "n_true", "n_caught",
                      "pair_completeness", "reduction_ratio"):
                assert r[c] == exact[m][c], (m, c)
            if r["n_true"] > 0:
                assert 0.0 <= r["pc_lo"] <= r["pair_completeness"]
                assert r["pair_completeness"] <= r["pc_hi"] <= 1.0
                if r["pair_completeness"] == 1.0:
                    assert r["pc_lo"] < 1.0  # Wilson, not degenerate

    def test_sampled_no_true_pairs_uninformative_interval(self, spark):
        from social_media_data_pipeline_spark.operators.dedup import (
            blocking_quality_sampled,
        )

        rows = [(i, f"totally unique text number {i} with filler words")
                for i in range(8)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for r in blocking_quality_sampled(df, "doc_id", "text", inv_rate=2).collect():
            if r["n_true"] == 0:
                assert (r["pc_lo"], r["pc_hi"]) == (0.0, 1.0)

    def test_sampled_refuses_bad_rate(self, spark):
        import pytest as _pytest

        from social_media_data_pipeline_spark.operators.dedup import (
            blocking_quality_sampled,
        )

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="inv_rate"):
            blocking_quality_sampled(df, "doc_id", "text", inv_rate=0)
        with _pytest.raises(ValueError, match="block_len"):
            blocking_quality_sampled(df, "doc_id", "text", block_len=0)

    def test_block_sampling_keeps_cliques_whole(self, spark):
        """r11: per-BLOCK sampling (block_len) hashes the normalized
        text prefix, so a duplicate clique (shared prefix) is kept or
        dropped WHOLE — per-doc sampling thins cliques and biases
        window-generator completeness up (the SCALING r11 bias row)."""
        from social_media_data_pipeline_spark.operators.dedup import (
            blocking_quality_sampled,
        )
        from social_media_data_pipeline_spark.operators.splits import (
            fingerprint32,
        )
        from pyspark.sql import functions as F

        base = "identical clique text shared by every member of this group"
        # 6 cliques of 4 near-identical docs each, distinct prefixes
        rows = []
        for c in range(6):
            for m in range(4):
                rows.append((c * 10 + m, f"prefix{c:02d} {base} member {m}"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = blocking_quality_sampled(
            df, "doc_id", "text", inv_rate=2, seed="bq-block-v1",
            block_len=16,
        ).collect()
        n_sample = out[0]["n_sample"]
        # whole cliques only: the sample size must be a multiple of 4,
        # strictly between 0 and 24 at inv_rate 2 on 6 blocks
        assert n_sample % 4 == 0 and 0 < n_sample < 24
        # and the kept set is exactly the docs whose prefix-block hashes
        # to bucket 0 — clique membership never splits
        from social_media_data_pipeline_spark.functions.text import (
            normalize_text,
        )

        key = F.substring(normalize_text("text"), 1, 16)
        draw = F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit("bq-block-v1"), key)), 1, 8),
            16, 10,
        ).cast("bigint")
        kept = df.filter(draw % 2 == 0).groupBy(
            (F.col("doc_id") / 10).cast("int").alias("clique")
        ).count().collect()
        assert all(r["count"] == 4 for r in kept)


class TestDensifyCalendar:
    """Calendar densification (`aggregates.densify_calendar`): dense
    spine over the GLOBAL range, explicit zeros, per-group forward
    fill with NULL leaders, and the loud refusals."""

    def _series(self, spark):
        import datetime as dt

        rows = [
            ("a", dt.datetime(2024, 1, 1), 2, 10.0),
            ("a", dt.datetime(2024, 1, 4), 1, 40.0),
            ("b", dt.datetime(2024, 1, 3), 5, 30.0),
        ]
        return spark.createDataFrame(
            rows, "g string, day timestamp, n bigint, avg double"
        )

    def test_zero_fill_and_global_spine(self, spark):
        from social_media_data_pipeline_spark.operators import aggregates

        out = aggregates.densify_calendar(
            self._series(spark), "day", "D", ("g",), zero_fill=("n",)
        )
        rows = {(r["g"], r["day"].day): r for r in out.collect()}
        # 4-day global spine (Jan 1..4) x 2 groups = 8 rows
        assert len(rows) == 8
        assert rows[("a", 2)]["n"] == 0 and rows[("a", 3)]["n"] == 0
        assert rows[("b", 1)]["n"] == 0  # b gets a's range too (global)
        assert rows[("a", 1)]["n"] == 2 and rows[("b", 3)]["n"] == 5

    def test_ffill_carries_last_and_leads_null(self, spark):
        from social_media_data_pipeline_spark.operators import aggregates

        out = aggregates.densify_calendar(
            self._series(spark), "day", "D", ("g",), ffill=("avg",)
        )
        rows = {(r["g"], r["day"].day): r["avg"] for r in out.collect()}
        assert rows[("a", 2)] == 10.0 and rows[("a", 3)] == 10.0
        assert rows[("a", 4)] == 40.0
        assert rows[("b", 1)] is None and rows[("b", 2)] is None  # leaders
        assert rows[("b", 4)] == 30.0

    def test_weekly_step_and_refusals(self, spark):
        import datetime as dt

        from social_media_data_pipeline_spark.operators import aggregates

        weekly = spark.createDataFrame(
            [
                ("a", dt.datetime(2024, 1, 1), 1),
                ("a", dt.datetime(2024, 1, 15), 2),
            ],
            "g string, day timestamp, n bigint",
        )
        out = aggregates.densify_calendar(
            weekly, "day", "W", ("g",), zero_fill=("n",)
        ).collect()
        assert sorted(r["day"].day for r in out) == [1, 8, 15]
        with pytest.raises(ValueError, match="supports freq"):
            aggregates.densify_calendar(weekly, "day", "H")
        with pytest.raises(ValueError, match="both zero_fill and ffill"):
            aggregates.densify_calendar(
                weekly, "day", "D", ("g",), zero_fill=("n",), ffill=("n",)
            )


class TestCusumScaled:
    """windows.cusum_scaled — exact-integer CUSUM changepoint."""

    def _series(self, spark, values):
        rows = [(i, int(v)) for i, v in enumerate(values)]
        return spark.createDataFrame(rows, "i long, n long")

    def test_matches_brute_force_definition(self, spark):
        vals = [10, 12, 9, 11, 30, 31, 29, 32]
        out = (
            windows.cusum_scaled(self._series(spark, vals), "n", ["i"])
            .orderBy("i")
            .collect()
        )
        n, total = len(vals), sum(vals)
        cum = 0
        for i, row in enumerate(out, start=1):
            cum += vals[i - 1]
            assert row["cusum_scaled"] == n * cum - i * total  # = n·Σ(x−mean)

    def test_peak_flags_the_planted_shift(self, spark):
        # flat 10s then flat 30s: |CUSUM| peaks exactly at the last
        # pre-shift index
        vals = [10] * 5 + [30] * 5
        out = (
            windows.cusum_scaled(self._series(spark, vals), "n", ["i"])
            .orderBy("i")
            .collect()
        )
        peaks = [r["i"] for r in out if r["is_peak"]]
        assert peaks == [4]

    def test_partitioning_invariant(self, spark):
        vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5]
        df = self._series(spark, vals)
        one = windows.cusum_scaled(df.coalesce(1), "n", ["i"]).orderBy("i").collect()
        many = (
            windows.cusum_scaled(df.repartition(7), "n", ["i"]).orderBy("i").collect()
        )
        assert one == many  # integer statistic: bit-exact either way

    def test_constant_series_all_zero_all_peak(self, spark):
        # constant series: s' ≡ 0 everywhere, every row ties for argmax
        out = windows.cusum_scaled(self._series(spark, [7, 7, 7]), "n", ["i"]).collect()
        assert all(r["cusum_scaled"] == 0 and r["is_peak"] for r in out)
