"""Join operators (SURVEY.md §2.5, J1-J5).

Physical strategy (broadcast vs sort-merge vs shuffled-hash) is left to
Catalyst/AQE; the helpers only add explicit `broadcast()` hints where the
reference's data shape guarantees a small build side (the 365-row scene
hierarchy, 5-row region, 25-row nation).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def join_small_dim(
    df: DataFrame, dim: DataFrame, on: str | Sequence[str], how: str = "inner"
) -> DataFrame:
    """J1 — equi-join against a small dimension table, broadcast-hinted.

    Reference: `pd.merge(df, df_scene, on="category")`
    (`ImageLabeler.py:169`) — a 365-row dim; at 100 TB the fact side
    never shuffles for this join.
    """
    return df.join(F.broadcast(dim), on, how)


def align_time_series(
    a: DataFrame, b: DataFrame, bucket_col: str, fill: float = 0.0
) -> DataFrame:
    """J2 — full-outer join of two aggregated series on the time bucket,
    missing bins zero-filled (`dualplot_timeseries`,
    `plotting.py:147-152`)."""
    return a.join(b, bucket_col, "full_outer").na.fill(fill)


def anti_join(df: DataFrame, done: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """J3/U3 — rows of df with no match in done (`InstagramImageScraper.py:157-160`)."""
    return df.join(done, on, "left_anti")


def semi_join(df: DataFrame, other: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """J4 — rows of df WITH a match (membership, no column pickup)."""
    return df.join(other, on, "left_semi")


def explode_post_images(posts: DataFrame, listing: DataFrame) -> DataFrame:
    """J5 — post→image fan-out + existence join.

    Each post contributes its main image plus sidecar album members, then
    only filenames present in `listing` survive (`create_image_df`,
    `InstagramPostScraper.py:350-359`). `posts` must carry `image`
    (string) and `album_images` (array<string>, nullable); `listing` is
    the binaryFile-scan filename table.
    """
    all_images = F.array_union(
        F.array(F.col("image")),
        F.coalesce(F.col("album_images"), F.array().cast("array<string>")),
    )
    exploded = posts.withColumn("image_file", F.explode(all_images)).drop(
        "image", "album_images"
    )
    return exploded.join(
        listing.select(F.col("image_file")).dropDuplicates(["image_file"]),
        "image_file",
        "left_semi",
    )


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    on: str | Sequence[str],
    ts_col: str,
    pick: Sequence[str],
    *,
    allow_exact: bool = True,
) -> DataFrame:
    """As-of join (brief-named custom operator; pandas' `merge_asof`,
    DuckDB's ASOF JOIN): for every probe row, attach the `pick` columns
    of the LATEST build row with the same `on` key and build.ts <=
    probe.ts (< when ``allow_exact=False``). Left semantics — probe rows
    with no earlier build row keep nulls.

    Spark-first plan — union-tag + running window, NOT a range join:

    - both sides are tagged and unioned by name, then a single window
      ``partitionBy(on) orderBy(ts, side)`` carries the last non-null
      build payload forward (``F.last(ignorenulls=True)`` over a running
      frame). One hash shuffle on the key, streaming frame, no
      buffering beyond the partition sort — the same cost profile as
      `sessionize`. The naive alternative (theta join on ts ranges)
      is a BroadcastNestedLoopJoin that dies at scale.
    - the build payload rides in ONE struct so all picked columns come
      from the SAME matched row (independent `last()` calls could mix
      rows when picked columns contain nulls).
    - ties: with ``allow_exact`` the build row sorts BEFORE the probe
      row at equal ts (side 0 < 1), matching DuckDB's inclusive
      ``ON p.ts >= b.ts``.

    At 100 TB: one shuffle on `on`; a skewed key (one user with
    billions of events) is handled by AQE skew-split only for joins,
    so for pathological skew pre-split the key by time range and
    stitch the boundary rows.

    `pick` columns must exist in `build` and not collide with probe
    columns (rename on the build side first).
    """
    keys = [on] if isinstance(on, str) else list(on)
    b = build.select(
        *keys, ts_col, *pick, F.lit(0).alias("_asof_side")
    )
    p = probe.withColumn("_asof_side", F.lit(1))
    u = p.unionByName(b, allowMissingColumns=True)

    side_order = F.col("_asof_side").asc() if allow_exact else F.col("_asof_side").desc()
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(ts_col).asc(), side_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    payload = F.when(
        F.col("_asof_side") == 0, F.struct(*[F.col(c).alias(c) for c in pick])
    )
    matched = F.last(payload, ignorenulls=True).over(w).alias("_asof_match")

    out = u.select("*", matched).filter(F.col("_asof_side") == 1)
    for c in pick:
        out = out.withColumn(c, F.col("_asof_match")[c])
    return out.drop("_asof_side", "_asof_match")


def salted_join(
    big: DataFrame,
    other: DataFrame,
    on: str | Sequence[str],
    n_salts: int = 16,
    *,
    how: str = "inner",
    hot_keys: DataFrame | None = None,
    seed: str = "salt-v1",
) -> DataFrame:
    """Skew-salted equi join — result identical to ``big.join(other,
    on, how)``, but the hot key's rows spread across `n_salts`
    shuffle partitions instead of landing in one straggler task.

    Spark-first shape: the big side gets a DETERMINISTIC salt
    (xxhash64 over all its columns + `seed`, mod `n_salts`); the other
    side replicates once per salt value; the join runs EQUI on
    (keys..., salt). Determinism matters for correctness, not just
    reproducibility: a `rand()` salt participates in the shuffle key,
    and a task retry that re-rolls it can route rows to partitions
    that were already consumed — lost/duplicated output on real
    clusters. A content hash re-computes identically on retry.

    Caveat: rows that are bit-identical across ALL columns hash to
    the same salt, so a hot key whose rows are all identical cannot
    be spread (no deterministic function of the row can split them —
    pre-aggregate instead).

    With ``hot_keys`` (a small DataFrame holding just the key
    columns, e.g. from a count-desc head): HYBRID mode — only rows
    whose key appears there take the salted path; the cold remainder
    joins plainly, so the other side is replicated only for the hot
    slice instead of n_salts× in full. This is the production form:
    find the heavy hitters (exact count head or `sketches.cms_*`),
    salt those, leave the long tail alone.

    When to reach for this instead of AQE: AQE's skew-join split
    (`spark.sql.adaptive.skewJoin`) already repairs sort-merge /
    shuffled-hash INNER joins at runtime — but it does not apply to
    stream-stream joins, to skew that appears in a downstream
    aggregation, or to engines/paths with AQE off. Supported `how`:
    inner, left, left_semi, left_anti (the other side is replicated,
    so right/full would duplicate its unmatched rows).
    """
    keys = [on] if isinstance(on, str) else list(on)
    allowed = {"inner", "left", "left_outer", "left_semi", "left_anti"}
    if how not in allowed:
        raise ValueError(f"salted_join supports {sorted(allowed)}, got {how!r}")
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    if "_salt" in big.columns or "_salt" in other.columns:
        # withColumn would silently overwrite a caller's _salt column
        # and corrupt both the salt distribution and the output schema
        raise ValueError("salted_join reserves the column name '_salt'")

    def _salted(b: DataFrame, o: DataFrame) -> DataFrame:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in b.columns], F.lit(seed)),
            F.lit(n_salts),
        ).cast("int")
        bs = b.withColumn("_salt", salt)
        os_ = o.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
        )
        return bs.join(os_, [*keys, "_salt"], how).drop("_salt")

    if hot_keys is None:
        return _salted(big, other)

    hot = F.broadcast(hot_keys.select(*keys).dropDuplicates(keys))
    big_hot = big.join(hot, keys, "left_semi")
    big_cold = big.join(hot, keys, "left_anti")
    other_hot = other.join(hot, keys, "left_semi")
    hot_part = _salted(big_hot, other_hot)
    # cold keys join the FULL other side: a cold big row can't match a
    # hot other row anyway (keys differ), and filtering the other side
    # again would just add a second anti-join scan
    cold_part = big_cold.join(other, keys, how)
    return hot_part.unionByName(cold_part)


def interval_join_bucketed(
    facts: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    *,
    unit: str = "hour",
    extra_on: Sequence[str] = (),
) -> DataFrame:
    """Range/interval join (brief-named custom operator): facts whose
    `ts_col` falls in [start, end) of an interval row, without a
    nested-loop join.

    Spark-first plan — time-bucket blocking: each interval explodes
    into the `unit`-buckets it covers, facts map to their single
    bucket, the join is EQUI on (bucket, *extra_on) and the exact
    half-open containment predicate filters residuals after the match.
    Catalyst keeps an equi hash join (broadcast when the exploded
    interval side is small) — the naive theta join
    ``ts >= start AND ts < end`` plans as BroadcastNestedLoopJoin,
    which is O(n·m) and unusable at scale.

    Facts appear once per covering interval (overlap fan-out is the
    semantics of the operator). Bucket `unit` is the tuning knob:
    fine buckets → more exploded interval rows, coarser buckets → more
    residual-filter waste; pick the unit near the median interval
    length. At 100 TB with a large interval side, both sides shuffle
    on the bucket key — co-partition by calendar bucket at write time
    and the exchange disappears.
    """
    step = F.expr(f"INTERVAL 1 {unit}")
    iv = intervals.withColumn(
        "_ij_bucket",
        F.explode(
            F.sequence(
                F.date_trunc(unit, F.col(start_col)),
                F.date_trunc(unit, F.col(end_col)),
                step,
            )
        ),
    )
    fa = facts.withColumn("_ij_bucket", F.date_trunc(unit, F.col(ts_col)))
    joined = fa.join(iv, [*extra_on, "_ij_bucket"]).filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    )
    return joined.drop("_ij_bucket")
