"""Scale-primitive tests: partition pruning is visible in the plan,
salted joins return exactly the unsalted result."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from social_media_data_pipeline_spark import scale


pytestmark = pytest.mark.slow  # r13 fast-gate split: long property/replication/artifact suites run in the second lane (-m "slow or not slow")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class TestScale:
    def test_bucketed_join_skips_exchange(self, spark, tmp_path):
        import uuid

        big = spark.createDataFrame(
            [(i % 50, f"p{i}") for i in range(500)], "k int, payload string"
        )
        dim = spark.createDataFrame([(i, f"d{i}") for i in range(50)], "k int, dim string")
        ta, tb = f"ba_{uuid.uuid4().hex[:8]}", f"bb_{uuid.uuid4().hex[:8]}"
        scale.write_bucketed(big, ta, ["k"], num_buckets=4)
        scale.write_bucketed(dim, tb, ["k"], num_buckets=4)
        # disable broadcast so the join would otherwise shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table(ta).join(spark.table(tb), "k")
            plan = plan_of(joined)
            assert joined.count() == 500
            assert "Exchange" not in plan  # bucketing co-locates both sides
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
            spark.sql(f"DROP TABLE IF EXISTS {ta}")
            spark.sql(f"DROP TABLE IF EXISTS {tb}")

    def test_read_table_catalog_scheme(self, spark, sf_dir):
        """`catalog:<prefix>` routes read_table to catalog tables, so
        entry queries run unchanged against an alternative layout
        (tools/bucketed_bench.py relies on this)."""
        import uuid

        from social_media_data_pipeline_spark.io import read_table

        prefix = f"cat_{uuid.uuid4().hex[:8]}_"
        src = read_table(spark, sf_dir, "region")
        src.write.mode("overwrite").saveAsTable(f"{prefix}region")
        try:
            via_catalog = read_table(spark, f"catalog:{prefix}", "region")
            assert via_catalog.count() == src.count()
            assert via_catalog.columns == src.columns
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {prefix}region")

    def test_aqe_splits_skewed_join_partition(self, spark):
        """The 100 TB skew story has two layers:
        `operators.joins.salted_join` for explicit salting, and AQE's runtime skew-join splitting for
        sort-merge joins. This pins the latter: a power-law key under
        toy-sized skew thresholds must produce SortMergeJoin(skew=true)
        in the executed plan."""
        import re

        from pyspark.sql import functions as F

        tuned = {
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            # the session default (4) spreads the hot key too thin for
            # the factor test — skew detection is relative to the median
            "spark.sql.shuffle.partitions": "16",
        }
        saved = {k: spark.conf.get(k, None) for k in tuned}
        try:
            for k, v in tuned.items():
                spark.conf.set(k, v)
            big = spark.range(0, 200_000).select(
                F.when(F.col("id") % 2 == 0, F.lit(7))
                .otherwise(F.col("id") % 1000)
                .alias("k"),
                F.col("id").alias("payload"),
            )
            small = spark.range(0, 1000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            )
            j = big.join(small, "k")
            j.collect()
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert re.search(r"SortMergeJoin\(skew=true\)", plan)
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def _z_ref(vals, bits=16):
    """Python replay of the documented interleave."""
    n = len(vals)
    mask = (1 << bits) - 1
    z = 0
    for b in range(bits):
        for i, v in enumerate(vals):
            z += (((v & mask) >> b) & 1) << (b * n + i)
    return z


class TestZorderLayout:
    def test_zorder_key_matches_reference(self, spark):
        rows = [(0, 0), (1, 0), (0, 1), (255, 255), (65535, 1), (12345, 54321)]
        df = spark.createDataFrame(rows, "x bigint, y bigint")
        got = {
            (r["x"], r["y"]): r["z"]
            for r in df.select(
                "x", "y", scale.zorder_key(["x", "y"]).alias("z")
            ).collect()
        }
        for x, y in rows:
            assert got[(x, y)] == _z_ref([x, y])

    def test_zorder_sql_form_identical(self, spark):
        import duckdb

        rows = [(i * 37 % 100, i * 91 % 100) for i in range(50)]
        df = spark.createDataFrame(rows, "x bigint, y bigint")
        got = sorted(
            (r["x"], r["y"], r["z"])
            for r in df.select("x", "y", scale.zorder_key(["x", "y"], 8).alias("z")).collect()
        )
        con = duckdb.connect()
        con.execute("CREATE TABLE t(x BIGINT, y BIGINT)")
        con.executemany("INSERT INTO t VALUES (?, ?)", rows)
        want = sorted(
            tuple(r)
            for r in con.execute(
                f"SELECT x, y, {scale.build_zorder_sql(['x', 'y'], 8)} FROM t"
            ).fetchall()
        )
        assert got == want

    def _grid(self, spark, side=64):
        return spark.range(side * side).selectExpr(
            "id", f"id % {side} AS x", f"id div {side} AS y"
        )

    def test_pruned_read_row_identical(self, spark, tmp_path):
        path = str(tmp_path / "z")
        df = self._grid(spark)
        scale.write_zordered(df, path, ["x", "y"], bits=8, num_files=16)
        idx = scale.file_skipping_index(spark, path, ["x", "y"])
        preds = {"x": (10, 20), "y": (30, 40)}
        got = sorted(r["id"] for r in scale.pruned_read(spark, idx, preds).collect())
        want = sorted(
            r["id"]
            for r in spark.read.parquet(path)
            .filter("x BETWEEN 10 AND 20 AND y BETWEEN 30 AND 40")
            .collect()
        )
        assert got == want and len(got) == 11 * 11

    def test_zorder_beats_linear_sort_on_2d_box(self, spark, tmp_path):
        """A 2-D box predicate must overlap strictly fewer files under
        the Morton layout than under a sort on the leading column only
        (which spreads the second dimension across every file)."""
        zpath, lpath = str(tmp_path / "z"), str(tmp_path / "l")
        df = self._grid(spark)
        scale.write_zordered(df, zpath, ["x", "y"], bits=8, num_files=64)
        (
            df.repartitionByRange(64, "x")
            .sortWithinPartitions("x")
            .write.mode("overwrite")
            .parquet(lpath)
        )
        preds = {"x": (10, 20), "y": (30, 40)}

        def overlapping(path):
            idx = scale.file_skipping_index(spark, path, ["x", "y"])
            cond = (
                (F.col("max_x") >= 10) & (F.col("min_x") <= 20)
                & (F.col("max_y") >= 30) & (F.col("min_y") <= 40)
            )
            return idx.filter(cond).count(), idx.count()

        z_hit, z_total = overlapping(zpath)
        l_hit, l_total = overlapping(lpath)
        assert z_total == l_total == 64
        # linear sort on x: every x-slice file spans the full y range,
        # so ~all x-overlapping files stay; Morton confines the box
        assert z_hit < l_hit

    def test_pruned_read_empty_box(self, spark, tmp_path):
        path = str(tmp_path / "z")
        scale.write_zordered(self._grid(spark), path, ["x", "y"], bits=8, num_files=8)
        idx = scale.file_skipping_index(spark, path, ["x", "y"])
        assert scale.pruned_read(spark, idx, {"x": (1000, 2000)}).count() == 0


class TestFooterStatsAndUpsert:
    def _table(self, spark, path, n=4096, files=16):
        df = spark.range(n).selectExpr(
            "id AS k", "id * 2 AS v", "CAST(id % 7 AS STRING) AS tag"
        )
        (
            df.repartitionByRange(files, "k")
            .sortWithinPartitions("k")
            .write.mode("overwrite")
            .parquet(path)
        )
        return df

    def test_footer_index_no_data_scan(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        idx = scale.footer_stats_index(path, ["k", "v"])
        assert idx["n_rows"].sum() == 4096
        assert len(set(idx["file"])) == 16
        # ranges must tile [0, 4095] without overlap (sorted write)
        spans = sorted(
            (g["min_k"].min(), g["max_k"].max())
            for _, g in idx.groupby("file")
        )
        assert spans[0][0] == 0 and spans[-1][1] == 4095
        for (_, hi), (lo2, _) in zip(spans, spans[1:]):
            assert hi < lo2

    def test_selective_upsert_rewrites_minimal_files(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        before = {r["k"]: (r["v"], r["tag"]) for r in spark.read.parquet(path).collect()}
        # updates touch keys 10..19 (one file's range) + brand-new keys
        updates = spark.createDataFrame(
            [(k, -1, "upd") for k in range(10, 20)]
            + [(9000, -2, "new"), (9001, -2, "new")],
            "k long, v long, tag string",
        )
        stats = scale.selective_upsert(spark, path, updates, "k")
        assert stats["files_total"] == 16
        # keys 10-19 live in the first range file; new keys overlap none
        assert stats["files_rewritten"] == 1
        after = {r["k"]: (r["v"], r["tag"]) for r in spark.read.parquet(path).collect()}
        assert len(after) == 4096 + 2
        for k in range(10, 20):
            assert after[k] == (-1, "upd")
        assert after[9000] == (-2, "new")
        # untouched keys byte-identical in value
        for k in (0, 5, 2000, 4095):
            assert after[k] == before[k]

    def test_selective_upsert_no_overlap_appends_only(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        updates = spark.createDataFrame([(10**6, 1, "x")], "k long, v long, tag string")
        stats = scale.selective_upsert(spark, path, updates, "k")
        assert stats["files_rewritten"] == 0
        assert spark.read.parquet(path).count() == 4097


class TestScaleSafeUpsertJoin:
    """r7: stats index as a distributed Spark table; rewrite-set
    selection as an equi bucket-blocked join (no BNLJ)."""

    def _table(self, spark, path, n=4096, files=16):
        df = spark.range(n).selectExpr(
            "id AS k", "id * 2 AS v", "CAST(id % 7 AS STRING) AS tag"
        )
        (
            df.repartitionByRange(files, "k")
            .sortWithinPartitions("k")
            .write.mode("overwrite")
            .parquet(path)
        )

    def test_footer_index_table_matches_pandas(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        got = sorted(
            (r["file"], r["row_group"], r["n_rows"], r["min_k"], r["max_k"])
            for r in scale.footer_stats_index_table(spark, path, ["k"]).collect()
        )
        pdf = scale.footer_stats_index(path, ["k"])
        want = sorted(
            (r["file"], r["row_group"], r["n_rows"], r["min_k"], r["max_k"])
            for _, r in pdf.iterrows()
        )
        assert got == want

    def test_rewrite_set_equi_join_matches_naive_256_files(self, spark, tmp_path):
        """256 files x 10k update keys: the bucket-blocked equi join
        selects exactly the same rewrite set as the naive range
        predicate, and its plan contains no BroadcastNestedLoopJoin."""
        path = str(tmp_path / "big")
        self._table(spark, path, n=65536, files=256)
        idx = scale.footer_stats_index_table(spark, path, ["k"])
        ranges = idx.groupBy("file").agg(
            F.min("min_k").alias("lo"), F.max("max_k").alias("hi")
        )
        updates = spark.range(10000).selectExpr("id * 13 AS k")  # 0..129987
        hit_df = scale.upsert_rewrite_set(ranges, updates, "k")
        plan = plan_of(hit_df)
        assert "BroadcastNestedLoopJoin" not in plan
        got = sorted(r["file"] for r in hit_df.collect())
        rng = {r["file"]: (r["lo"], r["hi"]) for r in ranges.collect()}
        keys = [i * 13 for i in range(10000)]
        want = sorted(
            f for f, (lo, hi) in rng.items() if any(lo <= k <= hi for k in keys)
        )
        assert got == want and len(got) > 0

    def test_missing_stats_file_always_rewritten(self, spark, tmp_path):
        """A file whose footer lacks key stats must land in the rewrite
        set unconditionally (an unprunable file silently skipped would
        leave a stale duplicate after MERGE)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = tmp_path / "t"
        path.mkdir()
        pq.write_table(
            pa.table({"k": [1, 2], "v": [10, 20], "tag": ["a", "b"]}),
            str(path / "part-withstats.parquet"),
        )
        pq.write_table(
            pa.table({"k": [100, 101], "v": [1, 2], "tag": ["c", "d"]}),
            str(path / "part-nostats.parquet"),
            write_statistics=False,
        )
        idx = scale.footer_stats_index_table(spark, str(path), ["k"])
        ranges = idx.groupBy("file").agg(
            F.min("min_k").alias("lo"), F.max("max_k").alias("hi")
        )
        # update key 1 overlaps only the stats file's range, but the
        # stats-free file must be selected too
        updates = spark.createDataFrame([(1,)], "k long")
        got = sorted(r["file"] for r in scale.upsert_rewrite_set(ranges, updates, "k").collect())
        assert len(got) == 2 and any("nostats" in f for f in got)

    def test_upsert_with_stats_free_file_keeps_merge_semantics(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = tmp_path / "t"
        path.mkdir()
        pq.write_table(
            pa.table({"k": [1, 2], "v": [10, 20], "tag": ["a", "b"]}),
            str(path / "part-withstats.parquet"),
        )
        pq.write_table(
            pa.table({"k": [100, 101], "v": [1, 2], "tag": ["c", "d"]}),
            str(path / "part-nostats.parquet"),
            write_statistics=False,
        )
        updates = spark.createDataFrame([(100, -1, "upd")], "k long, v long, tag string")
        stats = scale.selective_upsert(spark, str(path), updates, "k")
        # key 100 overlaps no stats range, but the stats-free file is
        # forced into the rewrite set — and it indeed held key 100
        assert stats["files_rewritten"] == 1
        after = {r["k"]: (r["v"], r["tag"]) for r in spark.read.parquet(str(path)).collect()}
        assert after[100] == (-1, "upd") and len(after) == 4
        assert after[1] == (10, "a") and after[2] == (20, "b")

    def test_pruned_read_empty_index_raises(self, spark):
        empty = spark.createDataFrame([], "file string, min_x long, max_x long")
        with pytest.raises(ValueError, match="empty file-skipping index"):
            scale.pruned_read(spark, empty, {"x": (0, 1)})


class TestUpsertRewriteSetLargeKeys:
    def test_bucket_math_exact_beyond_double_precision(self, spark):
        """Keys above 2^53: float-division bucketing would misbucket;
        integer div must keep the rewrite set exact."""
        base = 1 << 55
        ranges = spark.createDataFrame(
            [(f"f{i}", base + i * 1000, base + i * 1000 + 999) for i in range(64)],
            "file string, lo long, hi long",
        )
        updates = spark.createDataFrame(
            [(base + 7 * 1000 + 500,), (base + 31 * 1000,)], "k long"
        )
        got = sorted(
            r["file"] for r in scale.upsert_rewrite_set(ranges, updates, "k").collect()
        )
        assert got == ["f31", "f7"]


class TestFooterIndexTableTypes:
    def test_string_and_double_stats(self, spark, tmp_path):
        path = str(tmp_path / "t")
        spark.createDataFrame(
            [(i, f"name{i:03d}", float(i)) for i in range(100)],
            "k long, name string, v double",
        ).repartitionByRange(4, "k").write.mode("overwrite").parquet(path)
        idx = scale.footer_stats_index_table(spark, path, ["name", "v"]).collect()
        assert all(r["min_name"] is not None and r["max_v"] is not None for r in idx)
        lo = min(r["min_name"] for r in idx)
        hi = max(r["max_name"] for r in idx)
        assert lo == "name000" and hi == "name099"


class TestUpsertRewriteSetTypeGuard:
    def test_string_key_refused_loudly(self, spark):
        ranges = spark.createDataFrame(
            [("f0", "aaa", "mmm")], "file string, lo string, hi string"
        )
        updates = spark.createDataFrame([("bbb",)], "k string")
        with pytest.raises(ValueError, match="numeric key"):
            scale.upsert_rewrite_set(ranges, updates, "k")

    def test_fractional_key_not_truncated(self, spark):
        """r8 (ADVICE): a BIGINT cast truncated double update keys, so
        key 5.7 missed a file spanning [5.5, 6.0] — a silently skipped
        rewrite leaving stale duplicates after MERGE."""
        ranges = spark.createDataFrame(
            [("f0", 5.5, 6.0), ("f1", 0.0, 1.0), ("f2", 5.0, 5.4)],
            "file string, lo double, hi double",
        )
        updates = spark.createDataFrame([(5.7,)], "k double")
        got = sorted(
            r["file"]
            for r in scale.upsert_rewrite_set(ranges, updates, "k").collect()
        )
        assert got == ["f0"]

    def test_fractional_nan_stats_rewritten_nan_keys_refused(self, spark):
        nan = float("nan")
        ranges = spark.createDataFrame(
            [("f0", 0.0, 1.0), ("fnan", nan, 2.0)],
            "file string, lo double, hi double",
        )
        ok_updates = spark.createDataFrame([(0.5,)], "k double")
        got = sorted(
            r["file"]
            for r in scale.upsert_rewrite_set(ranges, ok_updates, "k").collect()
        )
        # NaN stats cannot bound a range: unconditional rewrite
        assert got == ["f0", "fnan"]
        bad_updates = spark.createDataFrame([(nan,)], "k double")
        with pytest.raises(ValueError, match="NaN update keys"):
            scale.upsert_rewrite_set(ranges, bad_updates, "k")

    def test_decimal_key_exact_containment(self, spark):
        from decimal import Decimal

        ranges = spark.createDataFrame(
            [("f0", Decimal("10.50"), Decimal("11.00")),
             ("f1", Decimal("0.00"), Decimal("9.99"))],
            "file string, lo decimal(10,2), hi decimal(10,2)",
        )
        updates = spark.createDataFrame(
            [(Decimal("10.75"),)], "k decimal(10,2)"
        )
        got = sorted(
            r["file"]
            for r in scale.upsert_rewrite_set(ranges, updates, "k").collect()
        )
        assert got == ["f0"]


class TestManifestCommit:
    """r8: the live-file manifest closes selective_upsert's transient-
    duplicate crash window — manifest readers see the exact pre- or
    post-commit snapshot at EVERY crash point, never both copies."""

    def _table(self, spark, path, n=1024, files=8):
        df = spark.range(n).selectExpr("id AS k", "id * 2 AS v")
        (
            df.repartitionByRange(files, "k")
            .sortWithinPartitions("k")
            .write.mode("overwrite")
            .parquet(path)
        )

    def _snapshot(self, spark, path):
        return sorted(
            (r["k"], r["v"]) for r in scale.manifest_read(spark, path).collect()
        )

    def test_manifest_read_round_trip_and_upsert_commit(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        pre = self._snapshot(spark, path)
        assert pre == [(k, 2 * k) for k in range(1024)]
        updates = spark.createDataFrame(
            [(k, -1) for k in range(10, 20)], "k long, v long"
        )
        scale.selective_upsert(spark, path, updates, "k")
        post = dict(self._snapshot(spark, path))
        assert len(post) == 1024
        assert all(post[k] == -1 for k in range(10, 20))
        # the manifest exists and the footer index honors it
        assert scale.read_table_manifest(path) is not None
        idx_files = {
            r["file"]
            for r in scale.footer_stats_index_table(spark, path, ["k"]).collect()
        }
        assert idx_files == set(scale.read_table_manifest(path))

    def test_crash_between_move_in_and_commit_reads_pre_snapshot(
        self, spark, tmp_path, monkeypatch
    ):
        """Interrupt AFTER the staged files moved in but BEFORE the
        manifest flip: manifest readers must see the exact PRE state
        (the moved-in files are uncommitted), and the duplicate-key
        count must be zero."""
        import shutil

        path = str(tmp_path / "t")
        self._table(spark, path)
        pre = self._snapshot(spark, path)
        updates = spark.createDataFrame(
            [(k, -1) for k in range(10, 20)], "k long, v long"
        )
        real_write = scale.write_table_manifest
        calls = {"n": 0}

        def crash_at_commit(p, files, expect_generation=None):
            # the first write is the pre-state manifest (plain dir →
            # manifest); the SECOND is the commit — crash there
            calls["n"] += 1
            if calls["n"] >= 2:
                raise OSError("simulated crash at manifest commit")
            real_write(p, files, expect_generation)

        monkeypatch.setattr(scale, "write_table_manifest", crash_at_commit)
        with pytest.raises(OSError, match="simulated crash"):
            scale.selective_upsert(spark, path, updates, "k")
        monkeypatch.setattr(scale, "write_table_manifest", real_write)
        # raw dir HAS both copies (the window the manifest closes)…
        raw = spark.read.parquet(path)
        assert raw.count() > 1024
        # …but the manifest read is the exact pre snapshot: no dups
        got = self._snapshot(spark, path)
        assert got == pre

    def test_crash_between_commit_and_remove_reads_post_snapshot(
        self, spark, tmp_path, monkeypatch
    ):
        """Interrupt AFTER the manifest flip but BEFORE the replaced
        files are deleted: manifest readers must see the exact POST
        state even though the old files still exist on disk."""
        import os

        path = str(tmp_path / "t")
        self._table(spark, path)
        updates = spark.createDataFrame(
            [(k, -1) for k in range(10, 20)], "k long, v long"
        )
        real_remove = os.remove

        def crash_at_cleanup(p):
            if p.endswith(".parquet"):
                raise OSError("simulated crash at cleanup")
            real_remove(p)

        monkeypatch.setattr(os, "remove", crash_at_cleanup)
        with pytest.raises(OSError, match="simulated crash"):
            scale.selective_upsert(spark, path, updates, "k")
        monkeypatch.setattr(os, "remove", real_remove)
        post = dict(self._snapshot(spark, path))
        assert len(post) == 1024  # exact post snapshot: no duplicates
        assert all(post[k] == -1 for k in range(10, 20))
        assert all(post[k] == 2 * k for k in (0, 5, 500, 1023))
        # re-running the merge converges (cleanup junk is invisible)
        scale.selective_upsert(spark, path, updates, "k")
        assert dict(self._snapshot(spark, path)) == post

    def test_mutators_keep_bound_meta(self, spark, tmp_path):
        """selective_upsert commits the store's bound meta back with its
        files: it survives the mutation and the vacuum after it."""
        path = str(tmp_path / "t")
        meta = {"params": {"k": 4}, "schema": "k bigint, v bigint"}
        rows = spark.range(64).selectExpr("id AS k", "id * 2 AS v")
        scale.commit_store(
            path,
            [("a", rows.filter("k < 32").coalesce(1)),
             ("b", rows.filter("k >= 32").coalesce(1))],
            scale.EXPECT_ABSENT,
            meta=meta,
        )
        updates = spark.createDataFrame([(3, -1), (70, -2)], "k long, v long")
        scale.selective_upsert(spark, path, updates, "k")
        assert scale.read_store(path)[2] == meta
        scale.vacuum_table(path, grace_seconds=0)
        assert scale.read_store(path)[2] == meta
        assert len(self._snapshot(spark, path)) == 65

    def test_commit_drops_superseded_generation_files(self, spark, tmp_path):
        """A commit without keep_history deletes the previous generation
        file and the meta it bound: a store appended to every batch
        holds one generation and one meta, not one per batch."""
        import os

        from social_media_data_pipeline_spark.functions import sketches
        from social_media_data_pipeline_spark.operators import dedup as ddp

        def generation_files(path):
            names = os.listdir(path)
            return (
                sorted(n for n in names if n.startswith("_manifest-")),
                sorted(n for n in names if n.startswith("_meta-")),
            )

        store = str(tmp_path / "bands")
        params = {"num_hashes": 16, "bands": 4, "shingle_k": 3}
        for b in range(3):
            docs = spark.createDataFrame(
                [(b * 10 + i, f"batch {b} document {i} body") for i in range(4)],
                "doc_id long, text string",
            )
            ddp.band_store_append(
                sketches.minhash_band_table(docs, "doc_id", "text"), store, params=params
            )
        manifests, metas = generation_files(store)
        assert manifests == ["_manifest-2.json"]
        assert len(metas) == 1 and metas[0].startswith("_meta-g2-")
        _, gen, meta = scale.read_store(store)
        assert gen == 2 and meta["params"] == params
        assert ddp.band_store_read(spark, store).select("doc").distinct().count() == 12

        kept = str(tmp_path / "kept")
        rows = spark.range(8).selectExpr("id AS k", "id AS v")
        gen = scale.EXPECT_ABSENT
        for g in range(3):
            scale.commit_store(
                kept, [("p", rows.coalesce(1))], gen, meta={"g": g}, keep_history=True
            )
            gen = scale.read_store(kept)[1]
        assert generation_files(kept)[0] == [f"_manifest-{g}.json" for g in range(3)]
        assert len(generation_files(kept)[1]) == 3

    def test_claim_rechecks_pointer(self, tmp_path, monkeypatch):
        """A writer that passed the pointer check at a generation the
        store has since left must not re-claim that generation's freed
        file name and flip the pointer back."""
        import os

        path = str(tmp_path / "t")
        os.makedirs(path)
        gen = scale.EXPECT_ABSENT
        for _ in range(3):
            gen = scale.write_table_manifest(path, [], expect_generation=gen)
        os.remove(os.path.join(path, "_manifest-1.json"))  # superseded, dropped
        real = scale._read_manifest_doc
        stale = [{"files": [], "generation": 0}]

        def stalled(p, version=None):
            # the writer's pointer check saw generation 0
            return stale.pop() if stale else real(p, version)

        monkeypatch.setattr(scale, "_read_manifest_doc", stalled)
        with pytest.raises(scale.ConcurrentCommitError, match="moved to generation 2"):
            scale.write_table_manifest(path, ["x.parquet"], expect_generation=0)
        monkeypatch.undo()
        assert scale.read_store(path)[1] == 2
        assert not os.path.exists(os.path.join(path, "_manifest-1.json"))

    def test_read_store_rereads_when_meta_dropped_under_it(self, tmp_path, monkeypatch):
        """A reader that read the pointer just before a commit dropped
        that generation's meta re-reads the new generation; a missing
        meta of the live generation still raises."""
        import json
        import os

        path = str(tmp_path / "t")
        os.makedirs(path)
        for g in range(2):
            with open(os.path.join(path, f"_meta-g{g}.json"), "w") as fh:
                json.dump({"g": g}, fh)
        scale.write_table_manifest(path, ["_meta-g0.json"], scale.EXPECT_ABSENT)
        real = scale._read_manifest_doc
        stale = [real(path)]
        scale.write_table_manifest(path, ["_meta-g1.json"], 0)
        os.remove(os.path.join(path, "_meta-g0.json"))
        monkeypatch.setattr(
            scale, "_read_manifest_doc",
            lambda p, version=None: stale.pop() if stale else real(p, version),
        )
        assert scale.read_store(path)[1:] == (1, {"g": 1})
        monkeypatch.undo()
        os.remove(os.path.join(path, "_meta-g1.json"))
        with pytest.raises(FileNotFoundError):
            scale.read_store(path)


class TestManifestTimeTravel:
    """r8: manifest generations — every commit is preserved as a
    numbered snapshot; keep_history retains replaced files so old
    generations stay readable; vacuum bounds the window."""

    def _table(self, spark, path, n=256, files=4):
        df = spark.range(n).selectExpr("id AS k", "id * 2 AS v")
        (
            df.repartitionByRange(files, "k")
            .sortWithinPartitions("k")
            .write.mode("overwrite")
            .parquet(path)
        )

    def _snap(self, spark, path, version=None):
        return {
            r["k"]: r["v"]
            for r in scale.manifest_read(spark, path, version=version).collect()
        }

    def test_generations_read_exact_historical_snapshots(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        u1 = spark.createDataFrame([(k, -1) for k in range(5)], "k long, v long")
        u2 = spark.createDataFrame([(k, -2) for k in range(3)], "k long, v long")
        scale.selective_upsert(spark, path, u1, "k", keep_history=True)
        scale.selective_upsert(spark, path, u2, "k", keep_history=True)
        # generations: 0 = pre-state commit, 1 = after u1, 2 = after u2
        assert scale.manifest_versions(path) == [0, 1, 2]
        v0 = self._snap(spark, path, version=0)
        assert v0 == {k: 2 * k for k in range(256)}
        v1 = self._snap(spark, path, version=1)
        assert all(v1[k] == -1 for k in range(5))
        assert v1[10] == 20
        v2 = self._snap(spark, path, version=2)
        assert all(v2[k] == -2 for k in range(3))
        assert all(v2[k] == -1 for k in (3, 4))
        assert self._snap(spark, path) == v2  # pointer = newest

    def test_vacuum_bounds_time_travel_and_reclaims_files(self, spark, tmp_path):
        import os

        path = str(tmp_path / "t")
        self._table(spark, path)
        u1 = spark.createDataFrame([(k, -1) for k in range(5)], "k long, v long")
        u2 = spark.createDataFrame([(k, -2) for k in range(3)], "k long, v long")
        scale.selective_upsert(spark, path, u1, "k", keep_history=True)
        scale.selective_upsert(spark, path, u2, "k", keep_history=True)
        current = self._snap(spark, path)
        n_files_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
        stats = scale.vacuum_table(path, keep_generations=1, grace_seconds=0)
        assert stats["dropped_generations"] == 2
        assert stats["dropped_files"] > 0
        assert scale.manifest_versions(path) == [2]
        # current snapshot unharmed; dead files gone
        assert self._snap(spark, path) == current
        n_files_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
        assert n_files_after == n_files_before - stats["dropped_files"]
        with pytest.raises(ValueError, match="generation 0"):
            scale.manifest_read(spark, path, version=0)

    def test_default_upsert_still_single_generation_semantics(self, spark, tmp_path):
        """keep_history=False (default): replaced files are deleted at
        commit, old generations reference missing files — the manifest
        pointer itself is always consistent."""
        path = str(tmp_path / "t")
        self._table(spark, path)
        u1 = spark.createDataFrame([(0, -1)], "k long, v long")
        scale.selective_upsert(spark, path, u1, "k")
        snap = self._snap(spark, path)
        assert snap[0] == -1 and len(snap) == 256
        # vacuum with default retention is a no-op on the live set
        scale.vacuum_table(path)
        assert self._snap(spark, path) == snap


class TestSchemaEvolution:
    def _table(self, spark, path, n=400, files=4):
        df = spark.range(n).selectExpr("id AS k", "id * 2 AS v")
        (
            df.repartitionByRange(files, "k")
            .sortWithinPartitions("k")
            .write.mode("overwrite")
            .parquet(path)
        )

    def test_extra_column_refused_without_opt_in(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        updates = spark.createDataFrame(
            [(1, -1, "x")], "k long, v long, tag string"
        )
        with pytest.raises(ValueError, match="evolve_schema"):
            scale.selective_upsert(spark, path, updates, "k")

    def test_evolved_column_null_for_untouched_rows(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        updates = spark.createDataFrame(
            [(k, -1, "new") for k in range(5)], "k long, v long, tag string"
        )
        scale.selective_upsert(spark, path, updates, "k", evolve_schema=True)
        # plain read may resolve the old schema; merge_schema sees all
        out = scale.manifest_read(spark, path, merge_schema=True)
        assert set(out.columns) == {"k", "v", "tag"}
        rows = {r["k"]: (r["v"], r["tag"]) for r in out.collect()}
        assert len(rows) == 400
        assert all(rows[k] == (-1, "new") for k in range(5))
        # rows in non-rewritten files carry NULL for the new column
        assert rows[399] == (798, None)

    def test_second_upsert_after_evolution_keeps_column(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        scale.selective_upsert(
            spark,
            path,
            spark.createDataFrame([(0, -1, "new")], "k long, v long, tag string"),
            "k",
            evolve_schema=True,
        )
        # second upsert WITH the evolved column must not be flagged
        # extra, and must not lose 'tag' from kept rows it rewrites
        scale.selective_upsert(
            spark,
            path,
            spark.createDataFrame([(1, -2, "two")], "k long, v long, tag string"),
            "k",
        )
        rows = {
            r["k"]: (r["v"], r["tag"])
            for r in scale.manifest_read(spark, path, merge_schema=True).collect()
        }
        assert rows[0] == (-1, "new") and rows[1] == (-2, "two")
        assert rows[2] == (4, None)


class TestManifestConcurrency:
    """r9 (verdict #4): generation-check CAS on the manifest flip —
    two writers that both read generation N can never both commit N+1;
    the loser raises ConcurrentCommitError, never silently dropping the
    winner's files from the live set."""

    def _table(self, spark, path, n=256, files=4):
        df = spark.range(n).selectExpr("id AS k", "id * 2 AS v")
        (
            df.repartitionByRange(files, "k")
            .sortWithinPartitions("k")
            .write.mode("overwrite")
            .parquet(path)
        )

    def _snap(self, spark, path):
        return {
            r["k"]: r["v"] for r in scale.manifest_read(spark, path).collect()
        }

    def test_cas_refuses_stale_generation(self, tmp_path):
        import os

        path = str(tmp_path / "t")
        os.makedirs(path)
        open(os.path.join(path, "a.parquet"), "wb").close()
        open(os.path.join(path, "b.parquet"), "wb").close()
        g0 = scale.write_table_manifest(path, ["a.parquet"])
        # writer A reads at g0; writer B commits g0+1; A's CAS refuses
        scale.write_table_manifest(
            path, ["a.parquet", "b.parquet"], expect_generation=g0
        )
        with pytest.raises(scale.ConcurrentCommitError, match="re-read"):
            scale.write_table_manifest(
                path, ["a.parquet"], expect_generation=g0
            )
        # winner's commit intact
        assert scale.read_table_manifest(path) == [
            os.path.join(path, "a.parquet"),
            os.path.join(path, "b.parquet"),
        ]

    def test_cas_refuses_orphan_generation_file(self, tmp_path):
        import json
        import os

        path = str(tmp_path / "t")
        os.makedirs(path)
        open(os.path.join(path, "a.parquet"), "wb").close()
        g0 = scale.write_table_manifest(path, ["a.parquet"])
        # a crashed commit claimed g0+1 but never flipped the pointer
        with open(os.path.join(path, f"_manifest-{g0 + 1}.json"), "w") as fh:
            json.dump({"files": [], "generation": g0 + 1}, fh)
        with pytest.raises(scale.ConcurrentCommitError, match="orphan"):
            scale.write_table_manifest(
                path, ["a.parquet"], expect_generation=g0
            )

    def test_interleaved_upserts_loser_fails_loudly(
        self, spark, tmp_path, monkeypatch
    ):
        """Two interleaved selective_upserts: writer B lands fully
        inside writer A's read→commit window. A must raise; the table
        must hold exactly B's committed state (no silent drop of B's
        files, none of A's staged files left in the live set)."""
        import os

        path = str(tmp_path / "t")
        self._table(spark, path)
        ua = spark.createDataFrame([(1, -101)], "k long, v long")
        ub = spark.createDataFrame([(2, -202)], "k long, v long")
        real_commit = scale.write_table_manifest
        fired = {"b": False}

        def interleave(p, files, expect_generation=None):
            # on writer A's FINAL (CAS) commit, writer B's whole upsert
            # runs first — the exact lost-update interleaving
            if expect_generation is not None and not fired["b"]:
                fired["b"] = True
                monkeypatch.setattr(scale, "write_table_manifest", real_commit)
                scale.selective_upsert(spark, p, ub, "k")
                monkeypatch.setattr(scale, "write_table_manifest", interleave)
            return real_commit(p, files, expect_generation)

        monkeypatch.setattr(scale, "write_table_manifest", interleave)
        with pytest.raises(scale.ConcurrentCommitError):
            scale.selective_upsert(spark, path, ua, "k")
        monkeypatch.setattr(scale, "write_table_manifest", real_commit)
        snap = self._snap(spark, path)
        assert snap[2] == -202          # winner's update survives
        assert snap[1] == 2             # loser's update NOT applied
        assert len(snap) == 256
        # every live file exists on disk (no manifest->missing-file rot)
        for f in scale.read_table_manifest(path):
            assert os.path.exists(f), f
        # retry against the fresh read now succeeds
        scale.selective_upsert(spark, path, ua, "k")
        snap = self._snap(spark, path)
        assert snap[1] == -101 and snap[2] == -202

    def test_upsert_creates_generation_zero_racing_creator_loses(
        self, spark, tmp_path, monkeypatch
    ):
        """An upsert on an absent path creates generation 0 with a CAS:
        a second creator that also read "absent" loses loudly at its
        flip (the winner created the store in between), un-stages, and
        the winner's rows stay intact."""
        import os

        path = str(tmp_path / "t")
        ua = spark.createDataFrame([(1, -101), (2, -102)], "k long, v long")
        ub = spark.createDataFrame([(3, -303)], "k long, v long")
        real_commit = scale.write_table_manifest
        seen = []

        def interleave(p, files, expect_generation=None):
            seen.append(expect_generation)
            if len(seen) == 1:
                # the loser read "absent"; the winner creates the store
                # before the loser's generation-0 flip
                monkeypatch.setattr(scale, "write_table_manifest", real_commit)
                stats = scale.selective_upsert(spark, p, ua, "k")
                assert stats["files_total"] == 0
                assert stats["rows_written"] == 2
            return real_commit(p, files, expect_generation)

        monkeypatch.setattr(scale, "write_table_manifest", interleave)
        with pytest.raises(scale.ConcurrentCommitError):
            scale.selective_upsert(spark, path, ub, "k")
        monkeypatch.setattr(scale, "write_table_manifest", real_commit)
        assert seen == [scale.EXPECT_ABSENT]  # creation is a CAS
        assert scale.manifest_versions(path) == [0]
        assert self._snap(spark, path) == {1: -101, 2: -102}
        # the loser un-staged: only the winner's files are on disk
        on_disk = {f for f in os.listdir(path) if f.endswith(".parquet")}
        assert on_disk == {
            os.path.basename(f) for f in scale.read_table_manifest(path)
        }

    def _fold(self, spark, store, pairs, first=None, seen=None):
        """Fold one batch of (key, n) pairs into a sum-monoid store
        through `scale.fold_store`; `seen` records every base the
        merge was handed."""
        batch = spark.createDataFrame(pairs, "key string, n long")

        def merge(prev):
            if seen is not None:
                seen.append(
                    None if prev is None
                    else {r["key"]: r["n"] for r in prev.collect()}
                )
            if prev is None:
                return batch
            return (
                prev.unionByName(batch).groupBy("key")
                .agg(F.sum("n").alias("n"))
            )

        scale.fold_store(spark, store, "counts", merge, first=first)

    def _counts(self, spark, store):
        return {
            r["key"]: r["n"]
            for r in scale.manifest_read(spark, store).collect()
        }

    def test_folds_leave_one_data_file(self, spark, tmp_path):
        """Each fold replaces the store's whole table: three folds leave
        one data file, one generation file and the summed counts (the
        superseded files are deleted, not left for a vacuum)."""
        import os

        store = str(tmp_path / "folded")
        for pairs in ([("x", 1)], [("x", 2), ("y", 1)], [("y", 3)]):
            self._fold(spark, store, pairs)
        names = os.listdir(store)
        assert len([n for n in names if n.startswith("counts-")]) == 1
        assert len([n for n in names if n.startswith("_manifest-")]) == 1
        assert self._counts(spark, store) == {"x": 3, "y": 4}

    def test_two_monitors_interleaved_no_batch_lost(self, spark, tmp_path):
        """Two folders sharing one monoid store — folder C commits
        between folder B's base read and its manifest flip. B's first
        commit must LOSE the CAS and its retry must re-merge against
        the new live set, so the final store carries A+B+C exactly (a
        last-writer-wins flip would silently drop C's counts forever)."""
        store = str(tmp_path / "base")
        # batch A seeds the store
        self._fold(spark, store, [("x", 3), ("y", 1)])
        real_write = scale.write_table_manifest
        done = [False]

        def stolen_write(p, files, expect_generation=None):
            if p == store and not done[0]:
                done[0] = True
                # concurrent folder C lands a full real cycle in the
                # tightest window — after B read the base, before
                # B's flip
                self._fold(spark, store, [("z", 2)])
            return real_write(p, files, expect_generation=expect_generation)

        # B reads its base first, the way a caller hands it in `first`
        files, gen, _ = scale.read_store(store)
        seen = []
        scale.write_table_manifest = stolen_write
        try:
            self._fold(
                spark, store, [("x", 1), ("w", 1)],
                first=(spark.read.parquet(*files), gen, files), seen=seen,
            )
        finally:
            scale.write_table_manifest = real_write
        # B merged against the base it READ (batch A only), lost the
        # CAS, then re-merged against A+C
        assert seen == [{"x": 3, "y": 1}, {"x": 3, "y": 1, "z": 2}]
        # the final store carries A+B+C exactly — nothing lost
        assert self._counts(spark, store) == {
            "x": 4,  # A:3 + B:1
            "y": 1,  # A
            "z": 2,  # C
            "w": 1,  # B
        }

    def test_store_initialization_race_is_cas_too(self, spark, tmp_path):
        """Two folders racing to CREATE the store: the loser's
        generation-0 claim must fail (EXPECT_ABSENT sentinel) and its
        retry must merge into the winner's store — both batches
        survive even on the very first commit."""
        store = str(tmp_path / "fresh")
        real_write = scale.write_table_manifest
        done = [False]

        def stolen_write(p, files, expect_generation=None):
            if p == store and not done[0]:
                done[0] = True
                self._fold(spark, store, [("y", 1)])
            return real_write(p, files, expect_generation=expect_generation)

        seen = []
        scale.write_table_manifest = stolen_write
        try:
            self._fold(spark, store, [("x", 2)], seen=seen)
        finally:
            scale.write_table_manifest = real_write
        # B read an ABSENT store, then re-merged into C's generation 0
        assert seen == [None, {"y": 1}]
        # generation 1 is live, and its commit dropped generation 0's file
        assert scale.read_store(store)[1] == 1
        assert scale.manifest_versions(store) == [1]
        assert self._counts(spark, store) == {
            "x": 2,  # B
            "y": 1,  # C
        }

    def test_vacuum_grace_protects_inflight_movein(self, spark, tmp_path):
        """ADVICE r9: an unreferenced file younger than the grace (an
        in-flight writer's move-in before its manifest flip) survives
        vacuum; with grace 0 it is reclaimed."""
        import os

        path = str(tmp_path / "t")
        self._table(spark, path)
        u = spark.createDataFrame([(0, -1)], "k long, v long")
        scale.selective_upsert(spark, path, u, "k", keep_history=True)
        # simulate a concurrent writer's staged move-in (not committed)
        inflight = os.path.join(path, "upsert-inflight-0.parquet")
        open(inflight, "wb").close()
        stats = scale.vacuum_table(path, keep_generations=1)
        assert os.path.exists(inflight)
        assert stats["kept_young_files"] >= 1
        stats0 = scale.vacuum_table(path, keep_generations=1, grace_seconds=0)
        assert not os.path.exists(inflight)
        assert stats0["dropped_files"] >= 1
