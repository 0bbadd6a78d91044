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
    def test_partitioned_write_prunes(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(i, 2010 + i % 3, f"v{i}") for i in range(30)], "id int, year int, v string"
        )
        path = str(tmp_path / "t")
        scale.write_partitioned(df, path, ["year"])
        scan = spark.read.parquet(path).filter(F.col("year") == 2011)
        assert scan.count() == 10
        plan = plan_of(scan)
        assert "PartitionFilters" in plan and "2011" in plan
        # only one of three partition dirs is read
        assert "partitions read: 1" in plan.lower() or "PartitionFilters: [isnotnull(year" in plan

    def test_salted_join_matches_plain_join(self, spark):
        big = spark.createDataFrame(
            [(i % 3, f"row{i}") for i in range(300)], "k int, payload string"
        )
        small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k int, dim string")
        plain = big.join(small, "k").select("k", "payload", "dim")
        salted = scale.salted_join(big, small, "k", salt_buckets=8).select("k", "payload", "dim")
        assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    def test_salted_left_join_keeps_unmatched(self, spark):
        big = spark.createDataFrame([(1, "x"), (9, "y")], "k int, payload string")
        small = spark.createDataFrame([(1, "a")], "k int, dim string")
        out = scale.salted_join(big, small, "k", salt_buckets=4, how="left")
        rows = {r.k: r.dim for r in out.collect()}
        assert rows == {1: "a", 9: None}

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

    def test_key_skew_profile(self, spark):
        df = spark.createDataFrame([(1,)] * 90 + [(2,)] * 10, "k int")
        prof = scale.key_skew_profile(df, "k")
        top = prof.collect()[0]
        assert top.k == 1 and top.n == 90 and abs(top.share - 0.9) < 1e-9

    def test_aqe_splits_skewed_join_partition(self, spark):
        """The 100 TB skew story has two layers: `salted_join` for
        explicit salting, and AQE's runtime skew-join splitting for
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

    def test_pruned_read_footer_row_identical(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        idx = scale.footer_stats_index(path, ["k"])
        got = sorted(
            r["k"]
            for r in scale.pruned_read_footer(
                spark, path, idx, {"k": (100, 300)}
            ).collect()
        )
        assert got == list(range(100, 301))

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


class TestPrunedReadFooterTable:
    """r7: pruned read over the DISTRIBUTED footer-stats table."""

    def test_row_identical_and_missing_stats_unprunable(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = tmp_path / "t"
        path.mkdir()
        for lo in range(0, 4096, 256):
            pq.write_table(
                pa.table({"k": list(range(lo, lo + 256)),
                          "v": [x * 2 for x in range(lo, lo + 256)]}),
                str(path / f"part-{lo:05d}.parquet"),
            )
        # one stats-free file holding in-range rows: must never be pruned
        pq.write_table(
            pa.table({"k": [150, 151], "v": [0, 0]}),
            str(path / "part-nostats.parquet"),
            write_statistics=False,
        )
        idx = scale.footer_stats_index_table(spark, str(path), ["k"])
        got = sorted(
            (r["k"], r["v"])
            for r in scale.pruned_read_footer_table(
                spark, str(path), idx, {"k": (100, 300)}
            ).collect()
        )
        want = sorted(
            (r["k"], r["v"])
            for r in spark.read.parquet(str(path))
            .filter("k BETWEEN 100 AND 300")
            .collect()
        )
        assert got == want
        assert (150, 0) in got and (150, 300) in got

    def test_empty_result_keeps_schema(self, spark, tmp_path):
        path = str(tmp_path / "t")
        spark.range(100).selectExpr("id AS k", "id*2 AS v").write.parquet(path)
        idx = scale.footer_stats_index_table(spark, path, ["k"])
        out = scale.pruned_read_footer_table(spark, path, idx, {"k": (10**6, 10**7)})
        assert out.count() == 0 and out.columns == ["k", "v"]


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


class TestCompactTable:
    def _table(self, spark, path, n=2000, files=16):
        df = spark.range(n).selectExpr("id AS k", "id * 3 AS v")
        df.repartition(files).write.mode("overwrite").parquet(path)

    def _rows(self, spark, path):
        return sorted(
            (r["k"], r["v"]) for r in scale.manifest_read(spark, path).collect()
        )

    def test_rows_identical_and_file_count_drops(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        pre = self._rows(spark, path)
        stats = scale.compact_table(spark, path, target_bytes=1 << 30)
        assert stats["files_before"] == 16
        assert stats["files_after"] == 1
        assert stats["groups_compacted"] == 1
        assert self._rows(spark, path) == pre
        # replaced files are gone; manifest lists exactly the live set
        import os

        live = scale.read_table_manifest(path)
        assert len(live) == 1
        on_disk = {
            f for f in os.listdir(path) if f.endswith(".parquet")
        }
        assert on_disk == {os.path.basename(f) for f in live}

    def test_well_sized_files_untouched(self, spark, tmp_path):
        import os

        path = str(tmp_path / "t")
        self._table(spark, path, files=4)
        sizes = {
            f: os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        }
        # target below every file size -> nothing qualifies as small
        stats = scale.compact_table(
            spark, path, target_bytes=min(sizes.values()) - 1
        )
        assert stats["groups_compacted"] == 0
        assert {
            f: os.path.getsize(os.path.join(path, f)) for f in sizes
        } == sizes  # byte-identical, not rewritten

    def test_group_packing_respects_target(self, spark, tmp_path):
        import os

        path = str(tmp_path / "t")
        self._table(spark, path, files=8)
        fsizes = [
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        ]
        # target fits ~2 small files per group -> several groups, and
        # every output file must stay near the target bound
        target = int(sorted(fsizes)[0] * 2.5)
        pre = self._rows(spark, path)
        stats = scale.compact_table(spark, path, target_bytes=target)
        assert stats["groups_compacted"] >= 2
        assert self._rows(spark, path) == pre

    def test_crash_at_commit_reads_pre_snapshot_and_rerun_converges(
        self, spark, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "t")
        self._table(spark, path)
        pre = self._rows(spark, path)
        real = scale.write_table_manifest
        calls = {"n": 0}

        def crash_at_commit(p, files, expect_generation=None):
            calls["n"] += 1
            if calls["n"] == 2:  # first call snapshots the plain dir
                raise OSError("simulated crash at manifest commit")
            return real(p, files, expect_generation)

        monkeypatch.setattr(scale, "write_table_manifest", crash_at_commit)
        with pytest.raises(OSError, match="simulated crash"):
            scale.compact_table(spark, path, target_bytes=1 << 30)
        # staged files moved in but NOT committed: manifest readers see
        # the exact pre-compaction snapshot
        assert self._rows(spark, path) == pre
        monkeypatch.setattr(scale, "write_table_manifest", real)
        stats = scale.compact_table(spark, path, target_bytes=1 << 30)
        assert self._rows(spark, path) == pre
        assert stats["files_after"] <= 2  # 16 originals + orphan fold in

    def test_keep_history_time_travel(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path, files=6)
        pre = self._rows(spark, path)
        scale.compact_table(spark, path, target_bytes=1 << 30, keep_history=True)
        assert self._rows(spark, path) == pre
        gens = scale.manifest_versions(path)
        assert len(gens) >= 2
        old = sorted(
            (r["k"], r["v"])
            for r in scale.manifest_read(spark, path, version=gens[0]).collect()
        )
        assert old == pre

    def test_sort_cols_restore_pruning_ranges(self, spark, tmp_path):
        import os

        path = str(tmp_path / "t")
        # shuffled ingest: each small file spans nearly the whole key
        # range, so the skipping index can prune nothing
        df = spark.range(4000).selectExpr("id AS k", "id AS v")
        df.orderBy(F.rand(7)).repartition(8).write.mode("overwrite").parquet(path)
        idx0 = scale.footer_stats_index_table(spark, path, ["k"]).collect()
        spans0 = [r["max_k"] - r["min_k"] for r in idx0]
        assert min(spans0) > 2000  # every file wide
        pre = sorted(r["k"] for r in scale.manifest_read(spark, path).collect())
        # compact into ~4 files, re-clustered by k
        sizes = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        scale.compact_table(
            spark, path, target_bytes=sizes // 4 + 1, sort_cols=["k"]
        )
        assert sorted(
            r["k"] for r in scale.manifest_read(spark, path).collect()
        ) == pre
        # within-file sort tightens row-group stats enough that a point
        # probe prunes most compacted files via the footer index
        idx1 = scale.footer_stats_index_table(spark, path, ["k"])
        total = idx1.select("file").distinct().count()
        hit = (
            idx1.groupBy("file")
            .agg(F.min("min_k").alias("lo"), F.max("max_k").alias("hi"))
            .filter((F.col("lo") <= 10) & (F.col("hi") >= 10))
            .count()
        )
        assert total >= 3 and hit <= 1


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

    def test_evolution_then_compaction_unifies_schema(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        updates = spark.createDataFrame(
            [(0, -1, "new")], "k long, v long, tag string"
        )
        scale.selective_upsert(spark, path, updates, "k", evolve_schema=True)
        pre = {
            r["k"]: (r["v"], r["tag"])
            for r in scale.manifest_read(spark, path, merge_schema=True).collect()
        }
        # compaction rewrites through a merge-schema read? No — groups
        # read their own files; after compacting ALL files into one
        # group the output schema must still be the union
        import os

        sizes = sum(
            os.path.getsize(f) for f in scale.live_files(path)
        )
        scale.compact_table(spark, path, target_bytes=sizes + 1)
        post = {
            r["k"]: (r["v"], r["tag"])
            for r in scale.manifest_read(spark, path, merge_schema=True).collect()
        }
        assert post == pre

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


class TestSelectiveDelete:
    """Copy-on-write DELETE by key: minimal rewrite set, manifest
    commit contract, whole-file deletion, absent keys, time travel."""

    def _table(self, spark, path, n=4096, files=16):
        df = spark.range(n).selectExpr("id AS k", "id * 2 AS v")
        (
            df.repartitionByRange(files, "k")
            .sortWithinPartitions("k")
            .write.mode("overwrite")
            .parquet(path)
        )

    def test_delete_rewrites_minimal_files(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        keys = spark.createDataFrame([(k,) for k in range(10, 20)], "k long")
        stats = scale.selective_delete(spark, path, keys, "k")
        assert stats["files_total"] == 16
        assert stats["files_rewritten"] == 1
        assert stats["rows_deleted"] == 10
        live = scale.manifest_read(spark, path)
        got = sorted(r["k"] for r in live.collect())
        assert got == [k for k in range(4096) if not 10 <= k < 20]

    def test_delete_whole_file_drops_it_from_manifest(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path, n=256, files=4)
        # file 0 holds keys 0..63 (range-sorted write): delete them all
        keys = spark.createDataFrame([(k,) for k in range(64)], "k long")
        n_before = len(scale.live_files(path))
        stats = scale.selective_delete(spark, path, keys, "k")
        assert stats["rows_deleted"] == 64
        assert len(scale.live_files(path)) < n_before + stats["files_rewritten"]
        assert scale.manifest_read(spark, path).count() == 192

    def test_delete_absent_keys_is_lossless(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path, n=256, files=4)
        keys = spark.createDataFrame([(10**6,), (10**6 + 1,)], "k long")
        stats = scale.selective_delete(spark, path, keys, "k")
        assert stats["rows_deleted"] == 0
        assert stats["files_rewritten"] == 0
        assert spark.read.parquet(path).count() == 256

    def test_delete_key_in_range_but_absent_rewrites_identically(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t")
        # only even keys exist; delete an odd key inside a file's range
        df = spark.range(128).selectExpr("id * 2 AS k")
        df.repartitionByRange(2, "k").write.mode("overwrite").parquet(path)
        keys = spark.createDataFrame([(3,)], "k long")
        stats = scale.selective_delete(spark, path, keys, "k")
        assert stats["files_rewritten"] == 1
        assert stats["rows_deleted"] == 0
        assert sorted(r["k"] for r in scale.manifest_read(spark, path).collect()) == [
            2 * i for i in range(128)
        ]

    def test_crash_before_commit_leaves_exact_pre_state(
        self, spark, tmp_path, monkeypatch
    ):
        path = str(tmp_path / "t")
        self._table(spark, path, n=256, files=4)
        pre = sorted(r["k"] for r in spark.read.parquet(path).collect())
        calls = {"n": 0}
        real = scale.write_table_manifest

        def crashing(p, files, **kw):
            # first call = pre-state commit of a plain directory table;
            # the SECOND call is the post-delete commit point — crash there
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated crash at commit")
            return real(p, files, **kw)

        monkeypatch.setattr(scale, "write_table_manifest", crashing)
        keys = spark.createDataFrame([(k,) for k in range(10)], "k long")
        import pytest as _pt

        with _pt.raises(RuntimeError, match="simulated crash"):
            scale.selective_delete(spark, path, keys, "k")
        monkeypatch.undo()
        got = sorted(r["k"] for r in scale.manifest_read(spark, path).collect())
        assert got == pre  # manifest readers still see every pre-delete row

    def test_keep_history_time_travel(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path, n=256, files=4)
        keys = spark.createDataFrame([(k,) for k in range(5)], "k long")
        scale.selective_delete(spark, path, keys, "k", keep_history=True)
        vs = scale.manifest_versions(path)
        assert len(vs) >= 2
        old = scale.manifest_read(spark, path, version=vs[-2])
        assert old.count() == 256  # pre-delete generation intact
        assert scale.manifest_read(spark, path).count() == 251


class TestDeleteCompositions:
    """selective_delete composed with the other lifecycle ops — the
    mixed-schema and post-compaction file sets are where the r8
    single-footer-resolution bug chain lived; pin delete against them."""

    def _table(self, spark, path, n=400, files=4):
        df = spark.range(n).selectExpr("id AS k", "id * 2 AS v")
        (
            df.repartitionByRange(files, "k")
            .sortWithinPartitions("k")
            .write.mode("overwrite")
            .parquet(path)
        )

    def test_delete_after_evolve_keeps_evolved_column(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path)
        # evolve: add `tag` to keys 0..9 (one file's range)
        updates = spark.createDataFrame(
            [(k, -1, "upd") for k in range(10)], "k long, v long, tag string"
        )
        scale.selective_upsert(spark, path, updates, "k", evolve_schema=True)
        # delete keys straddling the evolved file AND an unevolved file
        keys = spark.createDataFrame([(5,), (250,)], "k long")
        stats = scale.selective_delete(spark, path, keys, "k")
        assert stats["rows_deleted"] == 2
        live = scale.manifest_read(spark, path, merge_schema=True)
        assert "tag" in live.columns
        rows = {r["k"]: (r["v"], r["tag"]) for r in live.collect()}
        assert 5 not in rows and 250 not in rows
        assert rows[3] == (-1, "upd")  # evolved rows survive with tag
        assert rows[300] == (600, None)  # unevolved rows NULL-fill

    def test_delete_after_compact_uses_manifest(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path, n=400, files=8)
        scale.compact_table(spark, path, target_bytes=1 << 30)
        n_files = len(scale.live_files(path))
        keys = spark.createDataFrame([(k,) for k in range(20)], "k long")
        stats = scale.selective_delete(spark, path, keys, "k")
        assert stats["files_total"] == n_files
        assert stats["rows_deleted"] == 20
        assert scale.manifest_read(spark, path).count() == 380

    def test_upsert_after_delete_roundtrip(self, spark, tmp_path):
        path = str(tmp_path / "t")
        self._table(spark, path, n=200, files=2)
        keys = spark.createDataFrame([(k,) for k in range(50)], "k long")
        scale.selective_delete(spark, path, keys, "k")
        # re-insert two deleted keys with new values
        updates = spark.createDataFrame([(1, -1), (2, -2)], "k long, v long")
        scale.selective_upsert(spark, path, updates, "k")
        rows = {r["k"]: r["v"] for r in scale.manifest_read(spark, path).collect()}
        assert len(rows) == 152
        assert rows[1] == -1 and rows[2] == -2 and 3 not in rows


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
