"""Incrementally-maintained materialized rollup (`operators/rollup.py`):
the incremental ≡ one-shot identity under any batch order, selective
rewrite pruning, empty-batch no-op, and the streaming composition."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from social_media_data_pipeline_spark import scale
from social_media_data_pipeline_spark.operators import rollup

SCHEMA = "event_id bigint, ts timestamp, event_type string, value double"


def _events(spark, rows):
    data = [
        (i, dt.datetime(2024, 1, d, h), et, v)
        for i, (d, h, et, v) in enumerate(rows)
    ]
    return spark.createDataFrame(data, SCHEMA)


@pytest.fixture()
def ev(spark):
    rows = [
        (d, h, et, float(v))
        for d in (1, 2, 3)
        for h, et, v in [
            (9, "view", 1.25), (10, "view", 2.5), (11, "click", 0.75),
            (12, "click", 10.0), (13, "buy", 99.99),
        ]
    ]
    rows.append((1, 14, "view", None))  # NULL value: excluded everywhere
    return _events(spark, rows)


class TestRollupIdentity:
    def test_chunked_equals_oneshot_any_order(self, spark, ev, tmp_path):
        want = rollup.rollup_finalize(rollup.rollup_partial(ev)).orderBy(
            "day", "event_type"
        ).collect()
        for order in ([0, 1, 2], [2, 0, 1]):
            store = str(tmp_path / f"s{order[0]}{order[1]}")
            for c in order:
                rollup.incremental_rollup_batch(
                    ev.filter(F.col("event_id") % 3 == c), store
                )
            got = rollup.read_rollup(spark, store).orderBy(
                "day", "event_type"
            ).collect()
            assert got == want  # merge is a commutative monoid

    def test_null_values_excluded(self, spark, ev):
        out = rollup.rollup_finalize(rollup.rollup_partial(ev)).collect()
        jan1_view = next(
            r for r in out
            if r["day"] == dt.datetime(2024, 1, 1) and r["event_type"] == "view"
        )
        assert jan1_view["n_events"] == 2  # the NULL row never counts

    def test_exact_micro_units(self, spark, ev):
        out = {
            (r["day"].day, r["event_type"]): r
            for r in rollup.rollup_finalize(rollup.rollup_partial(ev)).collect()
        }
        r = out[(1, "click")]
        assert r["sum_value"] == 10.75 and r["min_value"] == 0.75
        assert r["max_value"] == 10.0 and r["avg_value"] == 5.375


class TestRollupStore:
    def test_empty_batch_is_noop(self, spark, ev, tmp_path):
        store = str(tmp_path / "s")
        rollup.incremental_rollup_batch(ev, store)
        doc0 = scale._read_manifest_doc(store)
        stats = rollup.incremental_rollup_batch(
            ev.filter("event_id < 0"), store
        )
        assert stats == {"rows_batch": 0, "keys_touched": 0}
        assert scale._read_manifest_doc(store) == doc0

    def test_selective_rewrite_prunes_untouched_days(self, spark, tmp_path):
        """A batch touching ONE day must not rewrite every state file —
        the IVM economics claim, checked via the upsert's own stats."""
        store = str(tmp_path / "s")
        # bootstrap: 6 days, one state file per day (append per day —
        # AQE would coalesce a single repartitioned write to one file)
        for d in range(1, 7):
            day = _events(spark, [(d, 9, "view", float(d))])
            rollup.rollup_partial(day).coalesce(1).write.mode(
                "append"
            ).parquet(store)
        files0 = len(scale.live_files(store))
        assert files0 == 6
        batch = _events(spark, [(3, 10, "view", 7.5)])
        stats = rollup.incremental_rollup_batch(batch, store)
        assert stats["files_total"] == files0
        assert 0 < stats["files_rewritten"] < files0
        # and the merged day-3 row is exact
        got = {
            r["day"].day: r
            for r in rollup.read_rollup(spark, store).collect()
        }
        assert got[3]["n_events"] == 2 and got[3]["sum_value"] == 10.5
        assert got[1]["n_events"] == 1  # untouched day intact


class TestRollupStreaming:
    def test_foreachbatch_equals_batch_operator(self, spark, tmp_path):
        import glob
        import os
        import time as _time

        store = str(tmp_path / "state")
        src = str(tmp_path / "ev")
        days = {
            "b1": [(1, 9, "view", 1.0), (1, 10, "click", 2.0)],
            "b2": [(1, 11, "view", 3.0), (2, 9, "view", 4.0)],
            "b3": [(2, 10, "click", 5.0)],
        }
        for name, rows in days.items():
            _events(spark, rows).coalesce(1).write.parquet(src + f"/{name}")
        now = _time.time()
        for i, b in enumerate(("b1", "b2", "b3")):
            for f in glob.glob(src + f"/{b}/*"):
                os.utime(f, (now - 60 + i * 20, now - 60 + i * 20))

        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/b*")
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, _id: rollup.incremental_rollup_batch(batch, store)
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        all_ev = _events(spark, [r for rows in days.values() for r in rows])
        want = rollup.rollup_finalize(rollup.rollup_partial(all_ev)).orderBy(
            "day", "event_type"
        ).collect()
        got = rollup.read_rollup(spark, store).orderBy(
            "day", "event_type"
        ).collect()
        assert got == want and len(got) == 4


class TestUpsertRewriteSetFullRangeKeys:
    def test_hash_surrogate_keys_do_not_overflow(self, spark, tmp_path):
        """Regression (r10): full-range xxhash64 surrogate keys made
        (key − glo) overflow BIGINT inside upsert_rewrite_set's bucket
        arithmetic — ANSI mode killed the job; non-ANSI would have
        wrapped to a WRONG bucket (a silently skipped rewrite). The
        subtraction now runs in DECIMAL(38,0)."""
        path = str(tmp_path / "t")
        rows = [
            (-9126631558570011878, "a"),
            (-12345, "b"),
            (9100000000000000000, "c"),
        ]
        df = spark.createDataFrame(rows, "k bigint, v string")
        df.repartition(3, "k").write.parquet(path)
        updates = spark.createDataFrame(
            [(9100000000000000000, "c2")], "k bigint, v string"
        )
        scale.selective_upsert(spark, path, updates, "k")
        got = {
            r["k"]: r["v"] for r in scale.manifest_read(spark, path).collect()
        }
        assert got[9100000000000000000] == "c2"
        assert got[-9126631558570011878] == "a" and got[-12345] == "b"


TSCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string"


def _tev(spark, rows):
    data = [
        (i, dt.datetime(2024, 1, d, h), u, et)
        for i, (d, h, u, et) in enumerate(rows)
    ]
    return spark.createDataFrame(data, TSCHEMA)


class TestTransitionIvm:
    """Sequence-statistic IVM: seam-repaired chunked folds ≡ one-shot."""

    def _oneshot(self, df):
        from pyspark.sql.window import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return {
            (r["src"], r["dst"]): r["n"]
            for r in df.select(
                F.col("event_type").alias("src"),
                F.lead("event_type").over(w).alias("dst"),
            )
            .filter(F.col("dst").isNotNull())
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def _store(self, spark, store):
        return {
            (r["src"], r["dst"]): r["n"]
            for r in rollup.read_transition_counts(spark, str(store)).collect()
        }

    def test_seam_pairs_are_repaired(self, spark, tmp_path):
        # user 7's day-2 -> day-3 transition exists in NEITHER chunk
        rows = [
            (1, 9, 7, "view"), (1, 10, 7, "click"),
            (2, 9, 7, "view"),
            (3, 9, 7, "purchase"),
            (1, 11, 8, "signup"),
        ]
        ev = _tev(spark, rows)
        store = tmp_path / "trans"
        stats = []
        for d in (1, 2, 3):
            stats.append(
                rollup.incremental_transition_batch(
                    ev.filter(F.dayofmonth("ts") == d), str(store)
                )
            )
        assert self._store(spark, store) == self._oneshot(ev)
        # day-2 and day-3 folds each contributed exactly one seam pair
        assert [s["seam_pairs"] for s in stats] == [0, 1, 1]

    def test_user_skipping_a_chunk_keeps_adjacency(self, spark, tmp_path):
        # user 7 has no day-2 events: day-1 tail must survive the
        # day-2 fold and pair with the day-3 event
        rows = [
            (1, 9, 7, "view"),
            (2, 9, 8, "click"), (2, 10, 8, "purchase"),
            (3, 9, 7, "error"),
        ]
        ev = _tev(spark, rows)
        store = tmp_path / "trans"
        for d in (1, 2, 3):
            rollup.incremental_transition_batch(
                ev.filter(F.dayofmonth("ts") == d), str(store)
            )
        out = self._store(spark, store)
        assert out == self._oneshot(ev)
        assert out[("view", "error")] == 1

    def test_out_of_order_batch_refused_loudly(self, spark, tmp_path):
        ev = _tev(spark, [(2, 9, 7, "view"), (2, 10, 7, "click")])
        late = _tev(spark, [(1, 9, 7, "signup")])  # behind user 7's tail
        store = tmp_path / "trans"
        rollup.incremental_transition_batch(ev, str(store))
        with pytest.raises(ValueError, match="regresses behind the recorded tail"):
            rollup.incremental_transition_batch(late, str(store))

    def test_empty_batch_is_noop(self, spark, tmp_path):
        ev = _tev(spark, [(1, 9, 7, "view"), (1, 10, 7, "click")])
        store = tmp_path / "trans"
        rollup.incremental_transition_batch(ev, str(store))
        before = self._store(spark, store)
        stats = rollup.incremental_transition_batch(
            ev.filter(F.lit(False)), str(store)
        )
        assert stats == {"rows_batch": 0, "keys_touched": 0, "seam_pairs": 0}
        assert self._store(spark, store) == before

    def test_single_event_batches_all_pairs_from_seams(self, spark, tmp_path):
        # every batch has ONE event: every pair is a seam pair
        rows = [(d, 9, 7, et) for d, et in
                [(1, "view"), (2, "click"), (3, "view"), (4, "purchase")]]
        ev = _tev(spark, rows)
        store = tmp_path / "trans"
        for d in (1, 2, 3, 4):
            rollup.incremental_transition_batch(
                ev.filter(F.dayofmonth("ts") == d), str(store)
            )
        assert self._store(spark, store) == self._oneshot(ev)


class TestTransitionStreaming:
    def test_foreachbatch_equals_batch_folds(self, spark, tmp_path):
        import glob
        import os
        import time as _time

        store = str(tmp_path / "tstate")
        src = str(tmp_path / "tev")
        days = {
            "b1": [(1, 9, 7, "view"), (1, 10, 7, "click")],
            "b2": [(2, 9, 7, "view"), (2, 10, 8, "signup")],
            "b3": [(3, 9, 7, "purchase"), (3, 10, 8, "view")],
        }
        base = 0
        all_rows = []
        for name, rows in days.items():
            data = [
                (base + i, dt.datetime(2024, 1, d, h), u, et)
                for i, (d, h, u, et) in enumerate(rows)
            ]
            base += len(rows)
            all_rows.extend(data)
            spark.createDataFrame(data, TSCHEMA).coalesce(1).write.parquet(
                src + f"/{name}"
            )
        now = _time.time()
        for i, b in enumerate(("b1", "b2", "b3")):
            for f in glob.glob(src + f"/{b}/*"):
                os.utime(f, (now - 60 + i * 20, now - 60 + i * 20))

        stream = (
            spark.readStream.schema(TSCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/b*")
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda batch, _id: rollup.incremental_transition_batch(batch, store)
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

        from pyspark.sql.window import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        want = {
            (r["src"], r["dst"]): r["n"]
            for r in spark.createDataFrame(all_rows, TSCHEMA)
            .select(
                F.col("event_type").alias("src"),
                F.lead("event_type").over(w).alias("dst"),
            )
            .filter(F.col("dst").isNotNull())
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        got = {
            (r["src"], r["dst"]): r["n"]
            for r in rollup.read_transition_counts(spark, store).collect()
        }
        # the user-7 view->view and click->...->purchase chains cross
        # every micro-batch seam: streaming folds must still equal the
        # one-shot pair count
        assert got == want
