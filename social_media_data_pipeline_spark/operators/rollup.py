"""Incrementally-maintained materialized rollup (algebraic IVM).

The daily dashboard queries (`events_daily`, `events_weekly_by_type` —
reference analog: `plotting.py:50-67` recomputes its groupbys from the
full frame every run) re-scan all of history per refresh. At 100 TB the
production shape is incremental view maintenance: keep a MATERIALIZED
per-(day, type) state table of mergeable partial aggregates and fold
each new batch into it — per-refresh cost ∝ the batch plus the touched
state rows, never history (Gray et al. 1996's algebraic-aggregate
classification is exactly what makes this sound: COUNT/SUM/MIN/MAX
state is a commutative monoid, AVG derives at read time).

Exactness: `value` is a double, and float sums are order-dependent —
a merged state could drift from a single-shot recompute past the
rounding the oracles tolerate. The state therefore carries integer
MICRO-UNITS (round(value·1e6) as bigint — the repo-wide exact-replay
pattern from PageRank/RRF/PPR), so merge order cannot change a bit and
the chunked-replay query is hash-identical to the one-shot SQL oracle.

Storage: the state table lives under a `scale` manifest and mutates
through `selective_upsert` keyed on `rollup_key` (day|type) — footer
key ranges pick the rewrite set, so a batch touching yesterday
rewrites yesterday's file, not the multi-year table (cluster the
store by key via the upsert's natural append pattern and the rewrite
set stays ~touched-days-sized). The first batch's upsert creates
generation 0 (a CAS, so two racing creators cannot both win); a
manifest-less directory of state files is adopted by the first fold.

The monoid state also makes the rollup a drop-in foreachBatch body
(`rollup_stream_batch`): Structured Streaming's own incremental agg
keeps state in the checkpoint, private to one query — this store is a
TABLE other queries read, survives checkpoint loss, and merges exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from social_media_data_pipeline_spark import scale

from .aggregates import time_bucket

#: micro-unit scale for exact (order-independent) value accumulation
_SCALE = 1_000_000

# State tables are read with their schema spelled out: inferring it
# from a parquet footer costs one Spark job per read.
_STATE_SCHEMA = (
    "rollup_key bigint, day timestamp, event_type string, "
    "n bigint, sum_micro bigint, min_micro bigint, max_micro bigint"
)


def rollup_partial(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """One map-side-combinable aggregate → the batch's partial state:
    (rollup_key, day, event_type, n, sum_micro, min_micro, max_micro).
    NULL values are excluded from every measure (COUNT(value)
    semantics, matching `events_daily`)."""
    micro = F.round(F.col(value_col) * _SCALE).cast("bigint")
    day = time_bucket(ts_col, "D")
    return (
        events.filter(F.col(value_col).isNotNull())
        .select(
            day.alias("day"),
            F.col(type_col).alias("event_type"),
            micro.alias("__m"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__m").alias("sum_micro"),
            F.min("__m").alias("min_micro"),
            F.max("__m").alias("max_micro"),
        )
        .select(
            # numeric surrogate key — selective_upsert's footer-range
            # pruning needs a numeric column. A (vanishingly unlikely)
            # xxhash64 collision between two (day, type) groups is
            # still CORRECT: the merge groups by the full logical key
            # and the colliding row is rewritten verbatim — it only
            # costs one extra row in the rewrite set.
            F.xxhash64(
                F.concat_ws(
                    "|", F.date_format("day", "yyyy-MM-dd"), "event_type"
                )
            ).alias("rollup_key"),
            "day",
            "event_type",
            "n",
            "sum_micro",
            "min_micro",
            "max_micro",
        )
    )


def rollup_merge(old: DataFrame, batch: DataFrame) -> DataFrame:
    """Monoid merge of two state frames: counts and sums add, min/max
    combine — commutative and associative, so ANY batch arrival order
    produces the same state as a single-shot aggregate."""
    return (
        old.unionByName(batch)
        .groupBy("rollup_key", "day", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_micro").alias("sum_micro"),
            F.min("min_micro").alias("min_micro"),
            F.max("max_micro").alias("max_micro"),
        )
    )


def rollup_finalize(state: DataFrame) -> DataFrame:
    """Read-time derivation → (day, event_type, n_events, sum_value,
    min_value, max_value, avg_value): exact micro-units scale back to
    value units; avg divides the exact sum by the exact count, rounded
    to 6 dp (one division per group — the single float op, same rule
    as the drift/fertility monitors)."""
    return state.select(
        "day",
        "event_type",
        F.col("n").alias("n_events"),
        (F.col("sum_micro") / _SCALE).alias("sum_value"),
        (F.col("min_micro") / _SCALE).alias("min_value"),
        (F.col("max_micro") / _SCALE).alias("max_value"),
        F.round(F.col("sum_micro") / F.col("n") / _SCALE, 6).alias("avg_value"),
    )


def incremental_rollup_batch(batch: DataFrame, store_path: str) -> dict:
    """Fold one batch into the materialized state table at
    `store_path`: batch partial aggregate → merge with the AFFECTED
    existing state rows only (semi-join on rollup_key — the untouched
    history never enters the job) → `selective_upsert` rewrites only
    the files whose key range overlaps the touched keys. Returns
    {"rows_batch", "keys_touched"} plus the upsert's file stats
    ("files_total"/"files_rewritten"/"rows_written"; the first batch's
    upsert creates the store). An empty batch is a no-op (no commit,
    no state churn — the band-store lesson)."""
    from pyspark.sql import Observation

    spark = batch.sparkSession
    # rows_batch rides the partial-aggregate job as an observation on
    # the pre-filter batch — the previous shape re-scanned the whole
    # batch at return time just for this stat
    _obs = Observation()
    partial = rollup_partial(
        batch.observe(_obs, F.count(F.lit(1)).alias("rows"))
    ).localCheckpoint(eager=True)
    # the touched keys ARE the count job the previous shape paid —
    # collecting them (bounded: distinct (day,type) combos of the
    # batch) also lets the upsert skip its containment-probe aggregate
    # and anti-join broadcast (update_keys below)
    touched_keys = [r[0] for r in partial.select("rollup_key").collect()]
    keys_touched = len(touched_keys)
    if keys_touched == 0:
        return {"rows_batch": 0, "keys_touched": 0}
    merged = partial
    files = scale.live_files(store_path)
    if files:
        affected = spark.read.schema(_STATE_SCHEMA).parquet(*files).join(
            partial.select("rollup_key"), "rollup_key", "left_semi"
        )
        merged = rollup_merge(affected, partial)
    stats = scale.selective_upsert(
        spark, store_path, merged, "rollup_key", update_keys=touched_keys
    )
    return {
        "rows_batch": int(_obs.get["rows"]),
        "keys_touched": keys_touched,
        **stats,
    }


def read_rollup(spark: SparkSession, store_path: str) -> DataFrame:
    """The finalized rollup view over the committed state table."""
    return rollup_finalize(
        spark.read.schema(_STATE_SCHEMA).parquet(*scale.live_files(store_path))
    )


def rollup_stream_batch(store_path: str):
    """foreachBatch adapter: `writeStream.foreachBatch(
    rollup_stream_batch(store))` — each micro-batch folds into the
    same manifest-committed state table the batch path maintains."""

    def _fn(batch: DataFrame, _batch_id: int) -> None:
        incremental_rollup_batch(batch, store_path)

    return _fn


# ---------------------------------------------------------------------------
# Sequence-statistic IVM: incrementally-maintained transition counts.
#
# The (day, type) rollup above is ALGEBRAIC — each batch's contribution
# is independent of every other batch. A transition matrix is not: the
# pair (last event of batch k, first event of batch k+1) exists in the
# one-shot answer but inside neither batch. The state therefore carries,
# besides the (src, dst) counts, a per-user TAIL (the user's last seen
# event), and each fold adds the boundary pairs the chunk seam would
# otherwise lose — the batch analog of sessionize_bounded's
# boundary-repair pass. Counts are exact integers, so the chunked replay
# is hash-identical to a one-shot aggregate (the incremental ≡ recompute
# identity `events_rollup_incremental` checks for the algebraic case).
#
# Contract: batches arrive in event-time order per user (each user's
# batch events strictly after their recorded tail, (ts, event_id)
# lexicographic). A regressing batch is refused LOUDLY (bounded
# limit(1) probe) — silently folding it would double-count pairs.
# At 100 TB: counts are |types|² rows; tails are user-domain-sized and
# mutate through `selective_upsert` keyed on user_id, so a fold
# rewrites ~touched-users-sized files, never the full tail table.
# ---------------------------------------------------------------------------

_TRANS_STATE_SCHEMA = "trans_key bigint, src string, dst string, n bigint"
_TAIL_STATE_SCHEMA = (
    "user_id bigint, last_ts timestamp, last_event_id bigint, last_event string"
)


def transition_partial(
    batch: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> tuple[DataFrame, DataFrame]:
    """One user-key pass over the batch → (within-batch pair counts,
    per-user endpoints). Pairs are adjacent (ts, id)-ordered events
    per user; endpoints carry each user's first and last batch event
    for seam repair and tail replacement."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (
        batch.select(
            F.col(type_col).alias("src"),
            F.lead(type_col).over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    point = lambda: F.struct(  # noqa: E731 - local shorthand
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("event_id"),
        F.col(type_col).alias("et"),
    )
    ends = batch.groupBy(user_col).agg(
        F.min(point()).alias("first"),
        F.max(point()).alias("last"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return pairs, ends


def incremental_transition_batch(batch: DataFrame, store_path: str) -> dict:
    """Fold one time-ordered batch into the transition store
    (`<store>/counts` + `<store>/tails`): within-batch pairs + seam
    pairs (recorded tail → batch first, per user) merge into the
    counts table; each touched user's tail is REPLACED by their last
    batch event. Empty batch is a no-op. Returns fold stats."""
    spark = batch.sparkSession
    counts_path = os.path.join(store_path, "counts")
    tails_path = os.path.join(store_path, "tails")
    pairs, ends = transition_partial(batch)

    seam_pairs = 0
    tail_files = scale.live_files(tails_path)
    if tail_files:
        tails = spark.read.schema(_TAIL_STATE_SCHEMA).parquet(*tail_files)
        matched = ends.join(tails, "user_id", "left").localCheckpoint(eager=True)
        # ONE bounded collect carries every driver probe the fold
        # needs: batch row count (empty-batch no-op), seam-pair total,
        # and an order-regression witness — the previous shape paid a
        # full batch.count() scan plus two more jobs for the same facts
        regress = F.col("last_ts").isNotNull() & (
            (F.col("first.ts") < F.col("last_ts"))
            | (
                (F.col("first.ts") == F.col("last_ts"))
                & (F.col("first.event_id") <= F.col("last_event_id"))
            )
        )
        probe = matched.agg(
            F.sum("n_events").alias("rows_batch"),
            F.count(F.when(F.col("last_event").isNotNull(), 1)).alias(
                "seam_pairs"
            ),
            F.max(
                F.when(
                    regress,
                    F.struct(
                        F.col("user_id"),
                        F.col("first"),
                        F.col("last_ts"),
                        F.col("last_event_id"),
                    ),
                )
            ).alias("witness"),
        ).collect()[0]
        rows_batch = int(probe["rows_batch"] or 0)
        if rows_batch == 0:
            return {"rows_batch": 0, "keys_touched": 0, "seam_pairs": 0}
        if probe["witness"] is not None:
            r = probe["witness"]
            raise ValueError(
                "incremental_transition_batch: batch regresses behind the "
                f"recorded tail for user_id={r['user_id']} (batch first "
                f"{r['first']['ts']}/{r['first']['event_id']} <= tail "
                f"{r['last_ts']}/{r['last_event_id']}) — transition folds "
                "require per-user event-time order; replaying or reordering "
                "batches would double-count pairs"
            )
        seam_pairs = int(probe["seam_pairs"])
        boundary = (
            matched.filter(F.col("last_event").isNotNull())
            .groupBy(
                F.col("last_event").alias("src"),
                F.col("first.et").alias("dst"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        delta = (
            pairs.unionByName(boundary)
            .groupBy("src", "dst")
            .agg(F.sum("n").alias("n"))
        )
        ends = matched  # carries the same first/last/n_events columns
    else:
        rows_batch = batch.count()
        if rows_batch == 0:
            return {"rows_batch": 0, "keys_touched": 0, "seam_pairs": 0}
        delta = pairs

    # the delta is |types|²-bounded (the module contract) — collect it
    # instead of checkpoint+count: one job, and the upsert's consumers
    # replay a LocalTableScan rather than a checkpoint read
    delta_rows = delta.select(
        F.xxhash64(F.concat_ws("|", "src", "dst")).alias("trans_key"),
        "src",
        "dst",
        "n",
    ).collect()
    keys_touched = len(delta_rows)
    stats: dict = {}
    if keys_touched:
        # the affected existing counts are a subset of the
        # |types|²-bounded state — ONE literal-IN filtered scan collects
        # them, the merge is exact int64 addition driver-side, and the
        # upsert's updates become a LocalTableScan. The previous shape
        # passed the scan⋈delta⋈agg PLAN as the updates, and every
        # selective_upsert action (containment probe, observed write)
        # re-ran the whole join (measured: 2.9 s vs 0.6 s for the tails
        # upsert of MORE rows)
        keys = [r["trans_key"] for r in delta_rows]
        count_files = scale.live_files(counts_path)
        by_key = {
            r["trans_key"]: r["n"]
            for r in (
                spark.read.schema(_TRANS_STATE_SCHEMA)
                .parquet(*count_files)
                .filter(F.col("trans_key").isin(keys))
                .collect()
                if count_files
                else []
            )
        }
        merged = spark.createDataFrame(
            [
                (r["trans_key"], r["src"], r["dst"],
                 int(r["n"]) + int(by_key.get(r["trans_key"], 0)))
                for r in delta_rows
            ],
            _TRANS_STATE_SCHEMA,
        )
        stats = scale.selective_upsert(
            spark, counts_path, merged, "trans_key", update_keys=keys
        )

    new_tails = ends.select(
        "user_id",
        F.col("last.ts").alias("last_ts"),
        F.col("last.event_id").alias("last_event_id"),
        F.col("last.et").alias("last_event"),
    )
    scale.selective_upsert(spark, tails_path, new_tails, "user_id")

    return {
        "rows_batch": rows_batch,
        "keys_touched": keys_touched,
        "seam_pairs": int(seam_pairs),
        **stats,
    }


def read_transition_counts(spark: SparkSession, store_path: str) -> DataFrame:
    """The committed (src, dst, n) transition counts."""
    files = scale.live_files(os.path.join(store_path, "counts"))
    return spark.read.schema(_TRANS_STATE_SCHEMA).parquet(*files).select(
        "src", "dst", "n"
    )


def transition_stream_batch(store_path: str):
    """foreachBatch adapter for the transition IVM:
    `writeStream.foreachBatch(transition_stream_batch(store))`. The
    per-user event-time-order contract carries over: the SOURCE must
    deliver each user's events in (ts, event_id) order across
    micro-batches (a time-ordered file feed or a per-key-ordered log —
    Kafka per-partition order with user-keyed partitioning); a
    violating batch raises inside foreachBatch and fails the query
    loudly rather than double-counting."""

    def _fn(batch: DataFrame, _batch_id: int) -> None:
        incremental_transition_batch(batch, store_path)

    return _fn
