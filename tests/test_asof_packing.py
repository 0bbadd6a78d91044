"""As-of join, bucketed interval join, decontamination, sequence packing.

Each operator gets (a) semantic unit tests on hand-built frames where
the expected answer is enumerable, and (b) a plan-shape assertion that
the scalable formulation holds (no BroadcastNestedLoopJoin / cartesian
in the join-based ops — the whole point of the bucketed/union designs).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from social_media_data_pipeline_spark.functions import sketches
from social_media_data_pipeline_spark.operators import joins, packing


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


# ---------------------------------------------------------------- as-of join


@pytest.fixture(scope="module")
def asof_frames(spark):
    probe = spark.createDataFrame(
        [
            Row(k="a", ts=_ts("2024-01-01T10:00:00"), pid=1),
            Row(k="a", ts=_ts("2024-01-01T12:00:00"), pid=2),
            Row(k="a", ts=_ts("2024-01-01T09:00:00"), pid=3),  # before any build
            Row(k="b", ts=_ts("2024-01-01T10:30:00"), pid=4),
            Row(k="c", ts=_ts("2024-01-01T10:00:00"), pid=5),  # key absent in build
        ]
    )
    build = spark.createDataFrame(
        [
            Row(k="a", ts=_ts("2024-01-01T09:30:00"), bval=10.0),
            Row(k="a", ts=_ts("2024-01-01T11:00:00"), bval=20.0),
            Row(k="b", ts=_ts("2024-01-01T10:30:00"), bval=30.0),  # exact tie
        ]
    )
    return probe, build


def test_asof_join_backward_semantics(asof_frames):
    probe, build = asof_frames
    out = joins.asof_join(
        probe, build.withColumn("picked", F.col("bval")), "k", "ts", ["picked"]
    )
    got = {r.pid: r.picked for r in out.collect()}
    assert got == {1: 10.0, 2: 20.0, 3: None, 4: 30.0, 5: None}


def test_asof_join_exact_tie_excluded(asof_frames):
    probe, build = asof_frames
    out = joins.asof_join(
        probe,
        build.withColumn("picked", F.col("bval")),
        "k",
        "ts",
        ["picked"],
        allow_exact=False,
    )
    got = {r.pid: r.picked for r in out.collect()}
    # pid=4's only build row is the exact-equal ts → excluded under strict <
    assert got[4] is None and got[1] == 10.0


def test_asof_join_picks_whole_row_not_per_column(spark):
    # two picked columns with interleaved nulls must come from the SAME
    # matched build row (struct payload), not the last non-null of each
    probe = spark.createDataFrame([Row(k="a", ts=_ts("2024-01-01T12:00:00"), pid=1)])
    build = spark.createDataFrame(
        [
            Row(k="a", ts=_ts("2024-01-01T10:00:00"), x=1.0, y=100.0),
            Row(k="a", ts=_ts("2024-01-01T11:00:00"), x=None, y=200.0),
        ]
    )
    out = joins.asof_join(probe, build, "k", "ts", ["x", "y"]).collect()[0]
    assert out.x is None and out.y == 200.0


def test_asof_join_single_shuffle_no_nested_loop(asof_frames):
    probe, build = asof_frames
    out = joins.asof_join(
        probe, build.withColumn("picked", F.col("bval")), "k", "ts", ["picked"]
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


# ----------------------------------------------------- bucketed interval join


@pytest.fixture(scope="module")
def interval_frames(spark):
    facts = spark.createDataFrame(
        [Row(ts=_ts(f"2024-01-01T{h:02d}:30:00"), fid=h) for h in range(24)]
    )
    intervals = spark.createDataFrame(
        [
            Row(iid=1, s=_ts("2024-01-01T02:00:00"), e=_ts("2024-01-01T05:00:00")),
            Row(iid=2, s=_ts("2024-01-01T04:30:00"), e=_ts("2024-01-01T04:45:00")),
            Row(iid=3, s=_ts("2024-01-01T23:30:00"), e=_ts("2024-01-02T03:00:00")),
        ]
    )
    return facts, intervals


def test_interval_join_matches_theta_join(interval_frames):
    facts, intervals = interval_frames
    out = joins.interval_join_bucketed(facts, intervals, "ts", "s", "e", unit="hour")
    got = sorted((r.iid, r.fid) for r in out.collect())
    # oracle: the naive theta join on the same tiny frames
    naive = facts.crossJoin(intervals).filter(
        (F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e"))
    )
    want = sorted((r.iid, r.fid) for r in naive.collect())
    assert got == want
    # overlap fan-out: fid=4 (04:30) is inside both interval 1 and 2
    assert (1, 4) in got and (2, 4) in got
    # half-open: a fact exactly at an interval end is excluded
    assert all(fid != 5 or iid != 2 for iid, fid in got)


def test_interval_join_stays_equi(interval_frames):
    facts, intervals = interval_frames
    out = joins.interval_join_bucketed(facts, intervals, "ts", "s", "e", unit="hour")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


# ------------------------------------------------------------ decontamination


def test_contamination_counts_and_decontaminate(spark):
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="completely unrelated words here entirely"),
            Row(doc_id=3, text="quick brown fox somewhere else"),
        ]
    )
    eval_docs = spark.createDataFrame(
        [Row(doc_id=100, text="a quick brown fox appears")]
    )
    hits = {
        r.doc: r.n_shared
        for r in sketches.contamination_counts(
            train, eval_docs, "doc_id", "text", k=3
        ).collect()
    }
    # shared 3-shingle: "quick brown fox" (docs 1 and 3); doc 2 clean
    assert hits == {1: 1, 3: 1}
    clean = sketches.decontaminate(train, eval_docs, "doc_id", "text", k=3)
    assert [r.doc_id for r in clean.collect()] == [2]


# ---------------------------------------------------------- sequence packing


def test_pack_sequences_layout(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, g="en", toks=600),
            Row(doc_id=2, g="en", toks=500),
            Row(doc_id=3, g="en", toks=100),
            Row(doc_id=4, g="de", toks=1500),  # longer than budget: spans
            Row(doc_id=5, g="de", toks=10),
        ]
    )
    out = packing.pack_sequences(docs, "doc_id", "toks", 1000, group_col="g")
    got = {r.doc_id: (r.seq_id, r.seq_offset, r.n_tokens) for r in out.collect()}
    assert got[1] == (0, 0, 600)
    assert got[2] == (0, 600, 500)  # starts in seq 0, spans into 1
    assert got[3] == (1, 100, 100)  # 1100 // 1000 = 1, offset 100
    assert got[4] == (0, 0, 1500)  # groups are independent
    assert got[5] == (1, 500, 10)


def test_pack_sequences_no_group_is_global(spark):
    docs = spark.createDataFrame([Row(doc_id=i, toks=300) for i in range(1, 8)])
    out = packing.pack_sequences(docs, "doc_id", "toks", 1000)
    got = {r.doc_id: r.seq_id for r in out.collect()}
    assert got == {1: 0, 2: 0, 3: 0, 4: 0, 5: 1, 6: 1, 7: 1}


def test_chunk_documents_window_semantics(spark):
    """Sliding-window chunking: overlap, last-chunk remainder, short
    docs, provenance offsets, and the no-shuffle plan shape."""
    from pyspark.sql import Row

    from social_media_data_pipeline_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=" ".join(f"t{i}" for i in range(10))),  # 10 toks
            Row(doc_id=2, text="a b c"),  # shorter than one chunk
            Row(doc_id=3, text=" ".join(f"u{i}" for i in range(4))),  # exact fit
        ]
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=2).orderBy("id", "chunk_id")
    rows = [(r.id, r.chunk_id, r.token_start, r.n_tokens, r.chunk_text) for r in out.collect()]
    # doc1: starts 0,2,4,6 — the start-6 window reaches the end, so no
    # further (pure-duplicate) window is emitted
    assert [r for r in rows if r[0] == 1] == [
        (1, 0, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 2, 4, "t2 t3 t4 t5"),
        (1, 2, 4, 4, "t4 t5 t6 t7"),
        (1, 3, 6, 4, "t6 t7 t8 t9"),
    ]
    # remainder case: 9 tokens -> last window holds only the 3 leftovers
    nine = spark.createDataFrame(
        [Row(doc_id=9, text=" ".join(f"v{i}" for i in range(9)))]
    )
    tail = (
        chunk_documents(nine, chunk_tokens=4, overlap=2)
        .orderBy("chunk_id")
        .collect()[-1]
    )
    assert (tail.token_start, tail.n_tokens, tail.chunk_text) == (6, 3, "v6 v7 v8")
    assert [r for r in rows if r[0] == 2] == [(2, 0, 0, 3, "a b c")]
    assert [r for r in rows if r[0] == 3] == [(3, 0, 0, 4, "u0 u1 u2 u3")]
    # map-side only: the bare operator (no orderBy) plans zero exchanges
    bare = chunk_documents(docs, chunk_tokens=4, overlap=2)
    plan = bare._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=0)


class TestTrainingShards:
    def _docs(self, spark, n=200):
        return spark.createDataFrame(
            [(i, 40 + (i * 53) % 400) for i in range(n)], "doc_id long, toks long"
        )

    def test_budget_respected_start_offsets(self, spark):
        """Every doc's shard equals its cumulative START offset div
        budget (greedy packing contract), verified against a Python
        replay of the md5 shuffle order."""
        import hashlib

        from social_media_data_pipeline_spark.operators import packing

        df = self._docs(spark)
        out = {
            r["doc_id"]: r["shard"]
            for r in packing.assign_training_shards(
                df, "doc_id", "toks", tokens_per_shard=1500
            ).collect()
        }
        rows = [(i, 40 + (i * 53) % 400) for i in range(200)]
        key = lambda d: (
            int(hashlib.md5(f"shards-v1:{d}".encode()).hexdigest()[:8], 16),
            d,
        )
        acc = 0
        want = {}
        for d, t in sorted(rows, key=lambda r: key(r[0])):
            want[d] = acc // 1500
            acc += t
        assert out == want

    def test_shard_sizes_near_budget(self, spark):
        from social_media_data_pipeline_spark.operators import packing

        df = self._docs(spark, n=400)
        out = packing.assign_training_shards(
            df, "doc_id", "toks", tokens_per_shard=2000
        )
        sizes = {
            r["shard"]: r["s"]
            for r in out.groupBy("shard").agg(F.sum("toks").alias("s")).collect()
        }
        last = max(sizes)
        for sh, s in sizes.items():
            # start-offset packing: a boundary doc belongs to the shard
            # its START falls in, so totals deviate from the budget by
            # at most one max-size doc in either direction (except the
            # final partial shard)
            if sh != last:
                assert 2000 - 440 < s < 2000 + 440
        assert len(sizes) == (sum(40 + (i * 53) % 400 for i in range(400)) // 2000) + 1

    def test_bucket_decomposition_invariant(self, spark):
        """Shard assignment must not depend on the bucket count (the
        decomposition is an implementation detail)."""
        from social_media_data_pipeline_spark.operators import packing

        df = self._docs(spark)
        a = sorted(
            map(
                tuple,
                packing.assign_training_shards(
                    df, "doc_id", "toks", 1000, num_buckets=4
                ).select("doc_id", "shard").collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                packing.assign_training_shards(
                    df, "doc_id", "toks", 1000, num_buckets=64
                ).select("doc_id", "shard").collect(),
            )
        )
        assert a == b

    def test_guard(self, spark):
        import pytest as _pytest

        from social_media_data_pipeline_spark.operators import packing

        with _pytest.raises(ValueError, match="tokens_per_shard"):
            packing.assign_training_shards(self._docs(spark), "doc_id", "toks", 0)


class TestWriteTrainingShards:
    def test_partitioned_layout_round_trips(self, spark, tmp_path):
        # the `shard` column is the hive partition key a training
        # data-loader reads `shard=K/` by, with no index or manifest
        df = spark.createDataFrame(
            [(i, 40 + (i * 53) % 400) for i in range(300)], "doc_id long, toks long"
        )
        want = {
            r["doc_id"]: r["shard"]
            for r in packing.assign_training_shards(
                df, "doc_id", "toks", 2000
            ).collect()
        }
        path = str(tmp_path / "shards")
        out = packing.assign_training_shards(df, "doc_id", "toks", 2000)
        out.repartition("shard").write.partitionBy("shard").parquet(path)
        back = spark.read.parquet(path)
        assert back.count() == 300
        got = {r["doc_id"]: r["shard"] for r in back.collect()}
        assert got == want
        sh0 = spark.read.parquet(f"{path}/shard=0")
        assert sh0.count() == sum(1 for v in want.values() if v == 0)


class TestPackBestfit:
    def _ref_bfd(self, sizes_ids, budget):
        """Sequential best-fit-decreasing reference (list scan)."""
        order = sorted(sizes_ids, key=lambda t: (-t[0], t[1]))
        bins = []  # bin_id -> remaining
        out = {}
        next_bin = 0
        for size, did in order:
            if size > budget:
                out[did] = (next_bin, True)
                next_bin += 1
                continue
            best = None
            for b, rem in enumerate(bins):
                if rem >= size and (best is None or rem < bins[best]):
                    best = b
            if best is None:
                bins.append(budget - size)
                out[did] = (next_bin, False)
                assert len(bins) - 1 == next_bin - sum(
                    1 for _, (bb, ov) in out.items() if ov
                ) or True
                next_bin += 1
                # remap: reference tracks open bins positionally; align
                # ids by creation order below instead
            else:
                bins[best] -= size
                out[did] = (best, False)
        return out

    def _spark_pack(self, spark, rows, budget, n_shards=1):
        df = spark.createDataFrame(rows, "doc_id long, toks long")
        return packing.pack_bestfit(
            df, "doc_id", "toks", budget, n_shards=n_shards
        ).collect()

    def test_validity_and_no_split(self, spark):
        import random

        rng = random.Random(23)
        rows = [(i, rng.randrange(1, 900)) for i in range(200)]
        got = self._spark_pack(spark, rows, budget=1000, n_shards=4)
        assert len(got) == 200 and len({r["id"] for r in got}) == 200
        fills = {}
        for r in got:
            assert not r["oversize"]
            fills.setdefault((r["shard"], r["bin_id"]), 0)
            fills[(r["shard"], r["bin_id"])] += r["n_tokens"]
        assert all(v <= 1000 for v in fills.values())

    def test_oversize_gets_dedicated_bin(self, spark):
        rows = [(1, 5000), (2, 100), (3, 6000), (4, 200)]
        got = self._spark_pack(spark, rows, budget=1000)
        by_id = {r["id"]: r for r in got}
        assert by_id[1]["oversize"] and by_id[3]["oversize"]
        assert by_id[1]["bin_id"] != by_id[3]["bin_id"]
        # small docs never share an oversize doc's bin
        assert by_id[2]["bin_id"] not in (by_id[1]["bin_id"], by_id[3]["bin_id"])

    def test_matches_sequential_reference_bins(self, spark):
        # compare BIN CONTENTS (sets of doc ids packed together), which
        # is representation-independent, against a brute-force best-fit
        import random

        rng = random.Random(29)
        rows = [(i, rng.randrange(50, 700)) for i in range(60)]
        got = self._spark_pack(spark, rows, budget=1000, n_shards=1)
        groups = {}
        for r in got:
            groups.setdefault(r["bin_id"], set()).add(r["id"])
        # sequential reference with identical tie-breaks
        order = sorted(rows, key=lambda t: (-t[1], t[0]))
        bins = []  # (remaining, creation_id)
        ref_groups = {}
        for did, size in [(d, s) for (d, s) in order]:
            cands = [
                (rem, b) for (rem, b) in bins if rem >= size
            ]
            if cands:
                rem, b = min(cands)
                bins.remove((rem, b))
                bins.append((rem - size, b))
                ref_groups[b].add(did)
            else:
                b = len(ref_groups)
                ref_groups[b] = {did}
                bins.append((1000 - size, b))
        assert sorted(map(sorted, groups.values())) == sorted(
            map(sorted, ref_groups.values())
        )

    def test_deterministic_across_partitionings(self, spark):
        import random

        rng = random.Random(31)
        rows = [(i, rng.randrange(1, 500)) for i in range(150)]
        df1 = spark.createDataFrame(rows, "doc_id long, toks long").repartition(1)
        df7 = spark.createDataFrame(rows, "doc_id long, toks long").repartition(7)
        a = sorted(
            (r["id"], r["shard"], r["bin_id"])
            for r in packing.pack_bestfit(df1, "doc_id", "toks", 600, 3).collect()
        )
        b = sorted(
            (r["id"], r["shard"], r["bin_id"])
            for r in packing.pack_bestfit(df7, "doc_id", "toks", 600, 3).collect()
        )
        assert a == b

    def test_stats_and_waste_vs_contiguous(self, spark):
        import random

        rng = random.Random(37)
        rows = [(i, rng.randrange(100, 900)) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, toks long")
        packed = packing.pack_bestfit(df, "doc_id", "toks", 1000, n_shards=2)
        stats = packing.packing_stats(packed, 1000).collect()
        total = sum(r["total_tokens"] for r in stats)
        assert total == sum(s for _, s in rows)
        for r in stats:
            assert 0.0 <= r["waste_frac"] < 0.5
            assert r["n_oversize"] == 0

    def test_bad_args_raise(self, spark):
        df = spark.createDataFrame([(1, 10)], "doc_id long, toks long")
        with pytest.raises(ValueError, match="budget"):
            packing.pack_bestfit(df, "doc_id", "toks", 0, 1)
        with pytest.raises(ValueError, match="n_shards"):
            packing.pack_bestfit(df, "doc_id", "toks", 10, 0)


# ------------------------------------------------------------- salted join


@pytest.fixture(scope="module")
def salt_frames(spark):
    # key 7 is the hot key (most rows, duplicate matches on both sides);
    # key 9 exists only on the big side, key 5 only on the other side;
    # a NULL key on each side must never match (SQL join semantics)
    big = spark.createDataFrame(
        [Row(k=7, v=i) for i in range(40)]
        + [Row(k=1, v=100), Row(k=2, v=200), Row(k=9, v=900), Row(k=None, v=-1)]
    )
    other = spark.createDataFrame(
        [Row(k=7, w="h1"), Row(k=7, w="h2"), Row(k=1, w="a"),
         Row(k=2, w="b"), Row(k=5, w="only"), Row(k=None, w="nul")]
    )
    return big, other


def _sorted_rows(df):
    # None-safe sort key (left joins produce NULL pickups)
    return sorted(
        map(tuple, df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    )


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
@pytest.mark.parametrize("hot", [False, True])
def test_salted_join_matches_plain_join(salt_frames, spark, how, hot):
    big, other = salt_frames
    hot_keys = spark.createDataFrame([Row(k=7)]) if hot else None
    got = joins.salted_join(big, other, "k", n_salts=5, how=how, hot_keys=hot_keys)
    exp = big.join(other, "k", how)
    assert _sorted_rows(got) == _sorted_rows(exp)
    assert got.columns == exp.columns


def test_salted_join_spreads_hot_key(salt_frames):
    """The hot key's 40 distinct rows must land in >1 salt bucket —
    the whole point. (Rows are distinct in v, so the content hash
    spreads them.)"""
    big, _ = salt_frames
    from pyspark.sql import functions as SF

    salt = SF.pmod(SF.xxhash64("k", "v", SF.lit("salt-v1")), SF.lit(5))
    n = big.filter("k = 7").select(salt.alias("s")).distinct().count()
    assert n >= 3


def test_salted_join_refuses_replicating_hows(salt_frames):
    big, other = salt_frames
    with pytest.raises(ValueError, match="salted_join supports"):
        joins.salted_join(big, other, "k", how="full")
    with pytest.raises(ValueError, match="n_salts"):
        joins.salted_join(big, other, "k", n_salts=0)


def test_salted_join_stays_equi(salt_frames):
    """The salted path must plan as an EQUI join on (k, salt) — no
    nested loop, no cartesian — and hybrid mode's hot-key split must
    use broadcast semi/anti probes."""
    big, other = salt_frames
    plan_df = joins.salted_join(big, other, "k", n_salts=5)
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_salted_join_reserves_salt_column(salt_frames, spark):
    big, other = salt_frames
    with pytest.raises(ValueError, match="_salt"):
        joins.salted_join(big.withColumn("_salt", F.lit(0)), other, "k")


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_auto_matches_plain(salt_frames, how):
    # the hot list as an ingest-time skew profile would hand it over: a
    # lazy count aggregate keeping every key with >= 30% of the rows
    big, other = salt_frames
    floor = int(0.3 * big.count())
    hot = (
        big.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= floor)
        .orderBy(F.desc("n"), "k")
        .select("k")
    )
    assert [r.k for r in hot.collect()] == [7]
    got = joins.salted_join(big, other, "k", n_salts=4, how=how, hot_keys=hot)
    exp = big.join(other, "k", how)
    assert _sorted_rows(got) == _sorted_rows(exp)


def test_salted_join_auto_uniform_no_hot_keys(spark):
    # uniform keys leave the hot list empty: the hybrid path must
    # degrade to the plain cold join and stay correct
    big = spark.createDataFrame([(i % 10, i) for i in range(100)], "k long, v long")
    dim = spark.createDataFrame([(i, f"s{i}") for i in range(10)], "k long, seg string")
    hot = spark.createDataFrame([], "k long")
    got = joins.salted_join(big, dim, "k", hot_keys=hot)
    assert _sorted_rows(got) == _sorted_rows(big.join(dim, "k"))
