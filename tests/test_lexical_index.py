"""Build-once / search-many BM25 inverted-index lifecycle (r10):
persisted postings/dfreq/lengths under one root manifest, search
identity with the full-cycle scorer, fingerprint invalidation, corpus
growth through the validated get-or-build, and commit safety."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from social_media_data_pipeline_spark import scale
from social_media_data_pipeline_spark.functions import lexical_index as lx
from social_media_data_pipeline_spark.functions import retrieval

TERMS = ["red", "blue", "green"]

_WORDS = ["red", "blue", "green", "dog", "cat", "tree", "sky", "rock"]


def _docs(spark, n=40, start=0):
    rows = [
        (
            i,
            " ".join(_WORDS[(i * 5 + j) % len(_WORDS)] for j in range(3 + i % 5)),
        )
        for i in range(start, start + n)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@pytest.fixture(autouse=True)
def artifacts_dir(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS_DIR", str(tmp_path / "arts"))
    yield str(tmp_path / "arts")


class TestBm25IndexLifecycle:
    def test_search_matches_full_cycle_and_caches(self, spark):
        docs = _docs(spark)
        full = retrieval.bm25_score(docs, TERMS, topn=10).collect()
        path = lx.bm25_index_for(docs, "unit:docs")
        got = lx.bm25_search_indexed(spark, path, TERMS, topn=10).collect()
        assert got == full
        # warm call: no rebuild — manifest generation stays put
        g0 = scale._read_manifest_doc(path)["generation"]
        path2 = lx.bm25_index_for(docs, "unit:docs")
        assert path2 == path
        assert scale._read_manifest_doc(path)["generation"] == g0
        assert (
            lx.bm25_search_indexed(spark, path, TERMS, topn=10).collect()
            == full
        )

    def test_postings_build_is_bucketed_not_single_file(self, spark):
        """r10-verdict #1: the corpus-sized postings write must NOT
        funnel through one task. The default build lands multiple
        term-range-bucketed postings files, each internally term-sorted
        with disjoint term ranges across files — the layout that keeps
        `t IN (…)` row-group/file skipping — and search still matches
        the full-cycle scorer exactly."""
        import glob as _glob

        import pyarrow.parquet as pq

        docs = _docs(spark, n=120)
        path = lx.bm25_index_for(docs, "unit:bucketed")
        pfiles = sorted(
            f
            for f in _glob.glob(os.path.join(path, "postings-*.parquet"))
            if f in set(scale.read_table_manifest(path))
        )
        assert len(pfiles) > 1  # parallel writers, not coalesce(1)
        ranges = []
        for f in pfiles:
            tcol = pq.read_table(f, columns=["t"]).column("t").to_pylist()
            if not tcol:
                continue
            assert tcol == sorted(tcol), f  # term-sorted within file
            ranges.append((tcol[0], tcol[-1]))
        ranges.sort()
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            assert hi <= lo  # disjoint (boundary term may touch)
        got = lx.bm25_search_indexed(spark, path, TERMS, topn=10).collect()
        assert got == retrieval.bm25_score(docs, TERMS, topn=10).collect()

    def test_corpus_change_forces_rebuild(self, spark):
        docs = _docs(spark)
        path = lx.bm25_index_for(docs, "unit:docs")
        g0 = scale._read_manifest_doc(path)["generation"]
        changed = _docs(spark, n=35)  # regenerated table, same tag
        path2 = lx.bm25_index_for(changed, "unit:docs")
        assert path2 == path
        assert scale._read_manifest_doc(path)["generation"] == g0 + 1
        assert lx.bm25_search_indexed(spark, path, TERMS, topn=10).collect() == (
            retrieval.bm25_score(changed, TERMS, topn=10).collect()
        )

    def test_trust_cache_skips_fingerprint(self, spark):
        docs = _docs(spark)
        path = lx.bm25_index_for(docs, "unit:docs")
        g0 = scale._read_manifest_doc(path)["generation"]
        # corpus moved, but trust_cache skips the validating scan
        changed = _docs(spark, n=35)
        path2 = lx.bm25_index_for(changed, "unit:docs", trust_cache=True)
        assert path2 == path
        assert scale._read_manifest_doc(path)["generation"] == g0

    def test_search_without_index_refused(self, spark):
        with pytest.raises(ValueError, match="no committed index"):
            lx.bm25_search_indexed(
                spark, lx.lex_index_path("unit:none", {}), TERMS
            )

    def test_meta_travels_with_generation(self, spark):
        """The live generation's meta file must exist and carry exact
        integer stats equal to a fresh corpus aggregate."""
        docs = _docs(spark)
        path = lx.bm25_index_for(docs, "unit:docs")
        meta = lx.load_index_meta(path)
        from social_media_data_pipeline_spark.functions.text import tokenize

        dl = docs.select(F.explode(tokenize("text")).alias("t")).count()
        assert meta["stats"] == {"n": 40, "dl_sum": dl}



class TestBm25IndexAppend:
    """Corpus growth: new documents reach the index through the
    validated get-or-build — a grown corpus no longer matches the
    committed fingerprint, so `bm25_index_for` rebuilds it in place as
    the next generation."""

    def test_append_equals_full_rebuild(self, spark):
        base, batch = _docs(spark, n=25), _docs(spark, n=15, start=25)
        both = base.unionByName(batch)
        path = lx.bm25_index_for(base, "unit:split")
        assert lx.bm25_index_for(both, "unit:split") == path
        got = lx.bm25_search_indexed(spark, path, TERMS, topn=10).collect()
        assert got == retrieval.bm25_score(both, TERMS, topn=10).collect()

    def test_merged_fingerprint_validates_grown_corpus(self, spark):
        base, batch = _docs(spark, n=25), _docs(spark, n=15, start=25)
        both = base.unionByName(batch)
        path = lx.bm25_index_for(base, "unit:split")
        g0 = scale._read_manifest_doc(path)["generation"]
        lx.bm25_index_for(both, "unit:split")
        g1 = scale._read_manifest_doc(path)["generation"]
        assert g1 == g0 + 1
        # the same grown corpus, however it is assembled, cache-hits
        assert lx.bm25_index_for(_docs(spark, n=40), "unit:split") == path
        assert scale._read_manifest_doc(path)["generation"] == g1
        assert lx.load_index_meta(path)["stats"]["n"] == 40

    def test_append_without_base_refused(self, spark):
        # no committed base: search refuses, and the first get-or-build
        # of the grown corpus commits generation 0 directly
        path = lx.lex_index_path(
            "unit:nobase", {"id_col": "doc_id", "text_col": "text"}
        )
        assert lx.load_index_meta(path) is None
        with pytest.raises(ValueError, match="no committed index"):
            lx.bm25_search_indexed(spark, path, TERMS)
        assert lx.bm25_index_for(_docs(spark, n=5), "unit:nobase") == path
        assert scale._read_manifest_doc(path)["generation"] == 0

    def test_old_doc_scores_move_with_avgdl(self, spark):
        """BM25 growth semantics: df and avgdl resolve over the whole
        corpus, so new documents change OLD documents' scores too —
        the search over the grown index does NOT equal the base-only
        scores."""
        base, batch = _docs(spark, n=25), _docs(spark, n=15, start=25)
        before = retrieval.bm25_score(base, TERMS, topn=10).collect()
        path = lx.bm25_index_for(base, "unit:split")
        assert lx.bm25_search_indexed(spark, path, TERMS, topn=10).collect() == before
        lx.bm25_index_for(base.unionByName(batch), "unit:split")
        after = lx.bm25_search_indexed(spark, path, TERMS, topn=10).collect()
        assert after != before
        old = {r[0]: r[1] for r in before}
        new = {r[0]: r[1] for r in after}
        assert any(new[d] != old[d] for d in old.keys() & new.keys())


class TestStreamingBm25Ingest:
    """The inverted index as a continuously-maintained store: each
    document micro-batch lands in the corpus table inside a
    foreachBatch body, and a validated get-or-build over that table
    brings the index up to date."""

    def test_batches_append_and_match_full_rebuild(self, spark, tmp_path):
        import glob
        import time as _time

        base = _docs(spark, n=20)
        tag = "stream:docs"
        path = lx.bm25_index_for(base, tag)
        corpus = str(tmp_path / "corpus")
        base.write.parquet(corpus)

        src = str(tmp_path / "docs")
        chunks = [("b1", _docs(spark, n=10, start=20)),
                  ("b2", _docs(spark, n=10, start=30))]
        for name, chunk in chunks:
            chunk.coalesce(1).write.parquet(src + f"/{name}")
        now = _time.time()
        for i, b in enumerate(("b1", "b2")):
            for f in glob.glob(src + f"/{b}/*"):
                os.utime(f, (now - 40 + i * 20, now - 40 + i * 20))

        gens = []

        def step(batch_df, _batch_id):
            if batch_df.isEmpty():
                return
            batch_df.write.mode("append").parquet(corpus)
            lx.bm25_index_for(batch_df.sparkSession.read.parquet(corpus), tag)
            gens.append(scale._read_manifest_doc(path)["generation"])

        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/b*")
        )
        q = stream.writeStream.foreachBatch(step).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(300)

        assert gens == [1, 2]
        got = lx.bm25_search_indexed(spark, path, TERMS, topn=10).collect()
        full = retrieval.bm25_score(_docs(spark, n=40), TERMS, topn=10).collect()
        assert got == full
        # and the committed fingerprint validates the grown corpus
        assert lx.bm25_index_for(_docs(spark, n=40), tag) == path
        assert scale._read_manifest_doc(path)["generation"] == 2


class TestCommitSafety:
    """The commit-safety contract of the lexical index's
    meta-then-manifest commit: a concurrent winner makes the loser
    raise loudly and un-stage, and vacuum drops the superseded
    generation's files without touching the live set."""

    def test_concurrent_appender_loses_loudly_and_unstages(self, spark):
        base = _docs(spark, n=25)
        path = lx.bm25_index_for(base, "unit:cas")
        live0 = sorted(scale.read_table_manifest(path))
        doc0 = scale._read_manifest_doc(path)
        grown = _docs(spark, n=35)

        real_write = scale.write_table_manifest

        def stolen_write(p, files, expect_generation=None):
            # a concurrent winner lands in the tightest window — between
            # the loser's generation read and its manifest flip
            if p == path and not getattr(stolen_write, "_done", False):
                stolen_write._done = True
                cur = scale._read_manifest_doc(p)["generation"]
                real_write(p, scale.read_table_manifest(p),
                           expect_generation=cur)
            return real_write(p, files, expect_generation=expect_generation)

        scale.write_table_manifest = stolen_write
        try:
            with pytest.raises(scale.ConcurrentCommitError):
                lx.bm25_index_for(grown, "unit:cas")
        finally:
            scale.write_table_manifest = real_write
        # loser un-staged: live set unchanged (modulo the winner's
        # no-op re-commit), every live file still on disk, no loser
        # file left in the directory
        assert sorted(scale.read_table_manifest(path)) == live0
        for f in live0:
            assert os.path.exists(f)
        on_disk = {
            os.path.join(path, f) for f in os.listdir(path)
            if not f.startswith("_manifest")
        }
        assert on_disk == set(live0)
        # the loser's meta file for the claimed generation must not
        # shadow a later legitimate commit: a retry succeeds and
        # indexes the grown corpus
        lx.bm25_index_for(grown, "unit:cas")
        got = lx.bm25_search_indexed(spark, path, TERMS, topn=10).collect()
        want = retrieval.bm25_score(grown, TERMS, topn=10).collect()
        assert got == want
        assert doc0["generation"] < scale._read_manifest_doc(path)["generation"]

    def test_vacuum_drops_append_orphans_keeps_live(self, spark):
        import glob as _glob

        base = _docs(spark, n=25)
        path = lx.bm25_index_for(base, "unit:vac")
        lx.bm25_index_for(_docs(spark, n=35), "unit:vac")
        before = lx.bm25_search_indexed(spark, path, TERMS, topn=10).collect()

        n_parquet_before = len(_glob.glob(os.path.join(path, "*.parquet")))
        stats = scale.vacuum_table(path, grace_seconds=0)
        n_parquet_after = len(_glob.glob(os.path.join(path, "*.parquet")))
        # the rebuild left generation 0's files unreferenced → deleted
        assert n_parquet_after < n_parquet_before
        assert stats["dropped_files"] >= 1
        live = set(scale.read_table_manifest(path))
        assert set(_glob.glob(os.path.join(path, "*.parquet"))) <= live
        # only the live generation's meta (listed in the manifest)
        # survives
        metas = [
            f for f in os.listdir(path)
            if f.endswith(".json") and not f.startswith("_manifest")
        ]
        assert len(metas) == 1
        assert os.path.join(path, metas[0]) in live
        after = lx.bm25_search_indexed(spark, path, TERMS, topn=10).collect()
        assert after == before
