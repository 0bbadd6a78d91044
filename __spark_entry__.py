"""Driver contract for the spark-graft builder (PySpark target).

`queries()` exposes every implemented operator from SURVEY.md §2 (plus
the LLM-pipeline extensions) as a (spark, sf_dir) -> DataFrame callable;
`oracle_sql()` carries the DuckDB-equivalent SQL for the differential
correctness gate.

Cross-engine determinism policy (pinned by tools/check_correctness.py):
- money sums accumulate in DECIMAL (order-independent, exact) and are
  cast to double at the end — identical bits in Spark and DuckDB;
- averages / ratios / correlations are rounded (4-6 dp) AFTER the
  aggregate, far above both engines' fp noise;
- anything random is keyed md5 hashing (engine-portable), never rand();
- every computed column is aliased identically on both sides.

OUTPUT-SURFACE TYPE CONVENTIONS (r12; enforced by the mirror's
type_police + type-tagged cell hashing — the mirror is deliberately
STRICTER than the driver's normalizer):
- no DuckDB HUGEINT may reach an oracle's output: SUM over
  INTEGER/BIGINT returns HUGEINT, which the driver's pandas/arrow
  fetch renders as float64 ("145.0") while Spark emits int ("145") —
  the exact cause of the two r11 driver hash mismatches. Every
  integer SUM in an oracle's SELECT surface is CAST(... AS BIGINT)
  (COUNT already returns BIGINT and needs no cast);
- no DECIMAL on either side's output: cast to DOUBLE (after any
  ROUND) or to BIGINT before emission;
- calendar buckets are TIMESTAMPs on both sides (date_trunc →
  ::TIMESTAMP, or DATE + explicit cast); a bare DATE on one side and
  a midnight TIMESTAMP on the other fails the mirror;
- booleans are allowed (both engines collect Python bool; driver-green
  precedent: docs_gopher_rules r10);
- FLOAT (f32) outputs are banned — emit DOUBLE;
- IEEE −0.0 is canonicalized to +0.0 before emission by adding a
  literal `+ 0.0` after the final ROUND (Spark's BigDecimal ROUND
  drops the sign of a tiny negative, DuckDB keeps it — the
  covariance family is the precedent).
"""

from __future__ import annotations

import math
import os as _os
import sys as _sys

# the harness may load this file from another cwd / by file path — make
# the sibling package (social_media_data_pipeline_spark) importable
_REPO_DIR = _os.path.dirname(_os.path.abspath(__file__))
if _REPO_DIR not in _sys.path:
    _sys.path.insert(0, _REPO_DIR)

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from social_media_data_pipeline_spark import io as eio
from social_media_data_pipeline_spark.functions import (
    bpe,
    classifier,
    importance,
    retrieval,
    sketches,
    similarity,
    text as etext,
)
from social_media_data_pipeline_spark.operators import (
    aggregates,
    dedup,
    filters,
    joins,
    packing,
    sampling,
    scd,
    setops,
    sort,
    splits,
    windows,
)

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return eio.read_table(spark, sf_dir, name)


def _dec_sum(col, scale: int = 2):
    """Order-independent money sum: decimal accumulate → double."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


def _revenue():
    """extendedprice * (1 - discount), exact decimal arithmetic."""
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")
    return price * disc


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: revenue by region × order-year over the full star join
    (broadcast dims → fact join → calendar bucket → agg → sort)."""
    return q_region_revenue(spark, SF0001)


# --------------------------------------------------------------------------
# §2.2 projections / filters
# --------------------------------------------------------------------------


def q_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P3+P4: equality filter, half-open year range, fixed projection."""
    orders = _t(spark, sf_dir, "orders")
    out = filters.filter_eq(orders, "o_orderstatus", "F")
    out = filters.filter_by_year(out, "o_orderdate", 1996, 1999)
    return filters.project(out, ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"])


def q_filter_in_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7+P8+P9: substring any-of OR in-list, disjunctive combine."""
    part = _t(spark, sf_dir, "part")
    contains = F.lower(F.col("p_name")).rlike("green|ivory")
    inlist = F.col("p_brand").isin(["Brand#11", "Brand#22"])
    return filters.filter_any(part, contains, inlist).select(
        "p_partkey", "p_name", "p_brand", "p_size"
    )


def q_state_undone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10+P11: done-predicate over a state-shaped table + anti-membership.

    Events re-cast as a scrape-state table: an order is "done" if it has
    a 'purchase'-status event-user... modeled directly on the harness
    tables: customers whose account is settled (acctbal>=0) or in nation
    0 are 'done'; return the undone remainder.
    """
    cust = _t(spark, sf_dir, "customer")
    done = cust.filter((F.col("c_acctbal") >= 0) | (F.col("c_nationkey") == 0))
    return filters.filter_not_in(cust, done, "c_custkey").select(
        "c_custkey", "c_name", "c_acctbal"
    )


# --------------------------------------------------------------------------
# §2.3 dedup / sampling
# --------------------------------------------------------------------------


def q_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/D2: deterministic first-wins dedup of lineitem per orderkey.

    (l_orderkey, l_linenumber) is NOT unique in the harness data —
    tie-break through partkey/suppkey so the survivor is total-ordered.
    """
    li = _t(spark, sf_dir, "lineitem")
    out = dedup.dedup_first_wins(
        li, ["l_orderkey"], [F.col("l_linenumber"), F.col("l_partkey"), F.col("l_suppkey")]
    )
    return out.select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")


def q_sample_per_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: stratified cap — at most 100 orders per order-year, drawn by
    keyed-hash permutation (deterministic seeded sample)."""
    orders = _t(spark, sf_dir, "orders")
    out = sampling.sample_n_per_group(
        orders.withColumn("order_year", F.year("o_orderdate")),
        F.col("order_year"),
        "o_orderkey",
        n=100,
        seed="42",
    )
    return out.select("order_year", "o_orderkey", "o_totalprice")


# --------------------------------------------------------------------------
# §2.6 aggregations
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A5 (TPC-H Q1 shape): grouped sums/avgs/counts with exact
    decimal accumulation."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(_revenue()).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: tumbling calendar-day window over event time."""
    ev = _t(spark, sf_dir, "events")
    out = aggregates.group_by_time(
        ev, "ts", "D", "value", how="count", bucket_name="day", out_name="n_events"
    )
    sums = (
        ev.groupBy(aggregates.time_bucket("ts", "D").alias("day"))
        .agg(F.round(F.sum("value"), 4).alias("sum_value"))
    )
    return out.join(sums, "day").orderBy("day")


def q_events_weekly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: two-level group — calendar week × event_type."""
    ev = _t(spark, sf_dir, "events")
    return aggregates.group_by_time(
        ev,
        "ts",
        "W",
        "value",
        how="mean",
        extra_groups=("event_type",),
        bucket_name="week",
        out_name="avg_value",
    ).withColumn("avg_value", F.round("avg_value", 6))


def q_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: explode → frequency table (hashtag value_counts analog),
    top-50 with deterministic tie-break."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(etext.tokenize("text").alias("tokens"))
    return sort.top_k(
        aggregates.value_counts(toks, "tokens", out_value="token", out_count="n"),
        [F.desc("n"), F.asc("token")],
        50,
    )


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: fixed-width histogram of extendedprice (width 5000)."""
    li = _t(spark, sf_dir, "lineitem")
    return aggregates.histogram(li, "l_extendedprice", 5000.0, out_bin="bin", out_count="n")


def q_numeric_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: describe() analog over lineitem numerics (exact median)."""
    li = _t(spark, sf_dir, "lineitem")
    out = aggregates.describe_numeric(li, ["l_quantity", "l_extendedprice", "l_discount"])
    return out.select(
        "column",
        "count",
        F.round("mean", 4).alias("mean"),
        F.round("std", 4).alias("std"),
        "min",
        F.round("median", 4).alias("median"),
        "max",
    ).orderBy("column")


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-column profile of customer.c_mktsegment."""
    cust = _t(spark, sf_dir, "customer")
    out = aggregates.profile_column(cust, "c_mktsegment")
    return out.select(
        "column",
        "missing",
        "non_null",
        "distinct",
        F.array_join(F.col("values"), ",").alias("values_csv"),
    )


def q_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: pairwise Pearson correlation matrix, long format."""
    li = _t(spark, sf_dir, "lineitem")
    out = aggregates.correlation_matrix(li, ["l_quantity", "l_extendedprice", "l_discount"])
    return out.select("col_x", "col_y", F.round("corr", 6).alias("corr")).orderBy(
        "col_x", "col_y"
    )


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: day × event_type pivot (counts), explicit value list."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = aggregates.pivot_agg(
        ev.withColumn("one", F.lit(1)),
        aggregates.time_bucket("ts", "D"),
        "day",
        "event_type",
        types,
        "one",
        how="count",
    )
    return out.select("day", *types).orderBy("day")


def q_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: per-nation customer count as share of its region total
    (window aggregate, no self-join)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    per_nation = (
        joins.join_small_dim(cust, nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    out = aggregates.relative_to_group(per_nation, ["n_regionkey"], "n_customers", "share")
    return out.select(
        "n_regionkey", "n_name", "n_customers", F.round("share", 6).alias("share")
    )


def q_order_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: scalar status frame via conditional aggregation."""
    orders = _t(spark, sf_dir, "orders")
    return aggregates.conditional_status_counts(
        orders,
        {
            "n_open": F.col("o_orderstatus") == "O",
            "n_finished": F.col("o_orderstatus") == "F",
            "n_urgent": F.col("o_orderpriority") == "1-URGENT",
            "n_big": F.col("o_totalprice") > 200000,
        },
    )


# --------------------------------------------------------------------------
# §2.5 joins, §2.9 set ops
# --------------------------------------------------------------------------


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 + A1/A2: broadcast dims → star join → region × year revenue."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    dims = joins.join_small_dim(
        joins.join_small_dim(cust, nation, cust.c_nationkey == nation.n_nationkey),
        region,
        F.col("n_regionkey") == region.r_regionkey,
    ).select("c_custkey", "r_name")
    facts = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_custkey", F.year("o_orderdate").alias("order_year"), _revenue().alias("rev")
    )
    return (
        facts.join(dims, facts.o_custkey == dims.c_custkey)
        .groupBy("r_name", "order_year")
        .agg(F.sum("rev").cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("r_name", "order_year")
    )


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/U3: anti join — customers that never ordered."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    out = joins.anti_join(cust, orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey")
    return out.select("c_custkey", "c_name", "c_mktsegment")


def q_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: semi join — customers with >=1 open ('O') order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    out = joins.semi_join(cust, orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey")
    return out.select("c_custkey", "c_name", "c_acctbal")


def q_series_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: full-outer align of two aggregated daily series, zero-filled."""
    ev = _t(spark, sf_dir, "events")
    day = aggregates.time_bucket("ts", "D").alias("day")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(day)
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(day)
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    return joins.align_time_series(clicks, purchases, "day").orderBy("day")


def q_union_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: by-name union of two overlapping subsets, deduped on key."""
    orders = _t(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 300000).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    y98 = orders.filter(F.year("o_orderdate") == 1998).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    return setops.union_by_name([big, y98]).distinct()


# --------------------------------------------------------------------------
# §2.7/2.8 windows / sorts / top-k
# --------------------------------------------------------------------------


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: join + group + deterministic global top-k."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )
    return sort.top_k(rev, [F.desc("revenue"), F.asc("o_orderkey")], 20)


def q_top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 ranking: top-3 parts per brand by retailprice."""
    part = _t(spark, sf_dir, "part")
    out = windows.top_k_per_group(
        part, ["p_brand"], [F.desc("p_retailprice"), F.asc("p_partkey")], 3, name="rank"
    )
    return out.select("p_brand", "p_partkey", "p_retailprice", "rank")


def q_events_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 lag/lead: day-over-day delta of daily event counts.

    The global (unpartitioned) window is opted into explicitly — the
    input is the pre-aggregated daily table (one row per calendar day,
    bounded), never raw events; `windows.with_lag_lead` raises on an
    empty partition spec without `allow_global=True`."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(aggregates.time_bucket("ts", "D").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = windows.with_lag_lead(daily, "n", [], ["day"], allow_global=True)
    return out.select(
        "day",
        "n",
        F.col("n_lag").alias("prev_n"),
        F.col("n_lead").alias("next_n"),
        (F.col("n") - F.coalesce(F.col("n_lag"), F.lit(0))).alias("delta"),
    ).orderBy("day")


def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 frame spec: running total of order value per customer."""
    orders = _t(spark, sf_dir, "orders")
    with_dec = orders.withColumn("price_dec", F.col("o_totalprice").cast("decimal(18,2)"))
    out = windows.running_total(
        with_dec, "price_dec", ["o_custkey"], [F.col("o_orderdate"), F.col("o_orderkey")]
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        F.col("running_total").cast("double").alias("running_spend"),
    )


# --------------------------------------------------------------------------
# LLM-pipeline: dedup / text / similarity over documents & embeddings
# --------------------------------------------------------------------------


def q_docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: md5-of-normalized-text, min-id survivor."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.dedup_exact_content(docs, "text", "doc_id")
    return out.select("doc_id", "lang", "source", "n_chars")


def q_docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint + duplicate-cluster sizes."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(etext.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("fp"))
    )


def q_docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source: whitespace tokens + BPE-ish estimate."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            etext.token_count("text").alias("toks"),
            etext.bpe_token_estimate("text").alias("bpe"),
        )
        .groupBy("source")
        .agg(
            F.sum("toks").alias("total_tokens"),
            F.sum("bpe").alias("total_bpe_tokens"),
            F.round(F.avg("toks"), 4).alias("avg_tokens"),
        )
        .orderBy("source")
    )


def q_docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: per-document composite score, bucketed counts."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", etext.quality_score("text").alias("quality")
    )
    return (
        scored.withColumn("q_bucket", F.floor(F.col("quality") * 10).cast("long"))
        .groupBy("q_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("quality"), 6).alias("avg_q"))
        .orderBy("q_bucket")
    )


def q_docs_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs labeled lang: confusion counts."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.col("lang").alias("labeled"), etext.detect_language("text").alias("detected"))
        .groupBy("labeled", "detected")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("labeled", "detected")
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (16 hashes, 4 bands)."""
    docs = _t(spark, sf_dir, "documents")
    return sketches.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_k=3
    ).orderBy("id_a", "id_b")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity join at threshold 0.2."""
    docs = _t(spark, sf_dir, "documents")
    return sketches.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_k=3, threshold=0.2).orderBy(
        "id_a", "id_b"
    )


def q_ngram_jaccard_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-shingle-pruned Jaccard join (scale path): shingles with
    document frequency > 25 are dropped before the inverted-index
    self-join — boilerplate n-grams carry no dedup signal but dominate
    the join cost."""
    docs = _t(spark, sf_dir, "documents")
    return sketches.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_k=3, threshold=0.2, max_doc_freq=25
    ).orderBy("id_a", "id_b")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (60-bit, md5-derived)."""
    docs = _t(spark, sf_dir, "documents")
    out = sketches.simhash_table(docs, "doc_id", "text")
    return out.select(F.col("doc").alias("doc_id"), "simhash").orderBy("doc_id")


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 20 vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.brute_force_topk(queries, emb, k=5).orderBy("query_id", "rank")


def q_embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (`functions/similarity.py:hard_negatives`
    — the DPR recipe, Karpukhin 2020): top-5 most-similar
    DIFFERENT-label vectors per query, with the max_cos=0.95
    false-negative guard (RocketQA denoising — a near-identical vector
    with another label is a labeling error or undetected dup, not a
    negative). Same broadcast + partitioned-rank plan as
    embedding_topk with the label predicate pruning before the window;
    the IVF-cell composition is the documented corpus-scale path."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.hard_negatives(
        queries, emb, k=5, max_cos=0.95
    ).orderBy("query_id", "rank")


def q_embedding_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed ANN (approximate; no SQL oracle — numpy planes).

    Scale path for q_embedding_topk: candidates limited to one bucket.
    """
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.lsh_bucketed_topk(queries, emb, k=5, n_planes=6, dim=64).orderBy(
        "query_id", "rank"
    )


# --------------------------------------------------------------------------
# §2.4 derived columns / scalar function surface
# --------------------------------------------------------------------------


def q_derive_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1+E3+E4+E6: concat key, date parts, epoch roundtrip, arithmetic."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return orders.select(
        "o_orderkey",
        F.concat_ws("_", F.col("o_orderkey").cast("string"), F.col("o_orderstatus")).alias(
            "order_tag"
        ),
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        # NTZ → LTZ (UTC session) → epoch seconds
        F.col("o_orderdate").cast("timestamp").cast("long").alias("epoch_s"),
        (F.col("o_totalprice") / 100.0).alias("price_hundreds"),
    )


def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/E10 analog: JSON-in-string column → typed field → agg."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select(k.alias("k"), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8+E12+E13+U2+P5: array transform/intersect/join/element_at over
    document token arrays."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = etext.tokenize("text")
    interest = F.array(*[F.lit(w) for w in ["spark", "query", "join"]])
    return docs.select(
        "doc_id",
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.array_join(F.sort_array(F.array_intersect(F.array_distinct(toks), interest)), ",").alias(
            "shared_words"
        ),
        F.try_element_at(toks, F.lit(1)).alias("first_token"),
        F.arrays_overlap(toks, interest).alias("mentions_interest"),
    )


def q_conditional_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15+E9: when/otherwise classification + case normalization."""
    docs = _t(spark, sf_dir, "documents")
    size_class = (
        F.when(F.col("n_chars") < 200, F.lit("short"))
        .when(F.col("n_chars") < 350, F.lit("medium"))
        .otherwise(F.lit("long"))
    )
    return (
        docs.select(F.upper(F.col("lang")).alias("lang_uc"), size_class.alias("size_class"))
        .groupBy("lang_uc", "size_class")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_uc", "size_class")
    )


def q_date_format_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Axis-label formatting (`plotting.py:29-47`): strftime-style
    month labels + counts."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(F.date_format("o_orderdate", "yyyy MMM").alias("label"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label")
    )


def q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    per-doc duplicate-word fraction (array expression, no shuffle) and
    top-bigram share (explode → (doc, gram) agg → doc rollup — both aggs
    map-side combinable; see `functions/text.py:repetition_metrics`)."""
    docs = _t(spark, sf_dir, "documents")
    return etext.repetition_metrics(docs, "doc_id", "text", n=2).orderBy("doc_id")


def q_docs_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over an augmented corpus: deterministic synthetic
    URL/email/phone built from doc_id (the raw corpus carries no PII,
    which would make the redaction a no-op) → chained JVM-side
    regexp_replace (`functions/text.py:redact_pii`, RE2-safe patterns
    shared verbatim with the DuckDB oracle)."""
    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com call +1 (415) 555-01"),
        F.col("doc_id").cast("string"),
        F.lit(" visit https://ex.example/d/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=x now"),
    )
    return docs.select(
        "doc_id", etext.redact_pii(aug).alias("clean")
    ).orderBy("doc_id")


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column (the 100 TB
    storage path: 4× fewer vector bytes through every scan/shuffle).
    Output is integer summaries of the quantized vectors (exact
    cross-engine) + the per-vector scale."""
    from social_media_data_pipeline_spark.functions import quantize

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = quantize.quantize_embeddings(emb)
    return q.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.size("q_embedding").alias("n_dims"),
        F.expr("aggregate(q_embedding, 0L, (a, x) -> a + x)").alias("sum_q"),
        F.array_min("q_embedding").cast("long").alias("min_q"),
        F.array_max("q_embedding").cast("long").alias("max_q"),
    ).orderBy("vec_id")


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup totals: (region, nation) → region subtotals → grand total."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(_dec_sum(F.col("o_totalprice")).alias("total_price"), F.count(F.lit(1)).alias("n"))
        .orderBy("r_name", "n_name")
    )


def q_row_wise_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: row-wise total across pivoted columns (`plotting.py:405-406`)."""
    piv = q_events_pivot(spark, sf_dir)
    types = ["click", "error", "purchase", "signup", "view"]
    total = None
    for t in types:
        total = F.col(t) if total is None else total + F.col(t)
    return piv.withColumn("total", total)


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 session windows (batch formulation, oracle-checkable)."""
    from social_media_data_pipeline_spark.streaming.events import sessionize

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    out = sessionize(ev, gap_minutes=30, tie_break="event_id")
    return out.select("user_id", "event_id", "session_id")


def q_sessionize_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 session windows, skew-tolerant formulation: identical
    semantics to `sessionize` (same oracle), but computed inside
    (user, 6 h chunk) partitions with a calendar-sized boundary-repair
    pass — no per-user task holds a power-law user's whole history
    (`streaming/events.py:sessionize_bounded`)."""
    from social_media_data_pipeline_spark.streaming.events import sessionize_bounded

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    out = sessionize_bounded(ev, gap_minutes=30, tie_break="event_id", chunk_hours=6)
    return out.select("user_id", "event_id", "session_id")


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs on the FULL documents table via pigeonhole
    prefix blocking (hamming <= 3, 4 blocks × 15 bits — recall exactly
    1.0 by pigeonhole, so this hash-matches the exact n² oracle while
    the Spark plan contains only equi-joins, no BroadcastNestedLoopJoin).
    Replaces the round-1 bounded n² theta join (doc_id < 150 guard now
    lifted)."""
    docs = _t(spark, sf_dir, "documents")
    return sketches.simhash_blocked_pairs(docs, "doc_id", "text", tau=3).orderBy(
        "id_a", "id_b"
    )


def q_docs_pipeline_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Preprocessor chain semantics (P5+P6+D1+D3) transplanted onto
    the documents corpus: include/exclude by token overlap, exact dedup,
    deterministic per-lang cap."""
    docs = _t(spark, sf_dir, "documents")
    toks = etext.tokenize("text")
    out = docs.withColumn("toks", toks)
    out = filters.filter_array_overlaps(out, "toks", ["spark", "query"])
    out = filters.filter_array_disjoint(out, "toks", ["slow"])
    out = dedup.dedup_exact_content(out, "text", "doc_id")
    out = sampling.sample_n_per_group(out, F.col("lang"), "doc_id", n=20, seed="42")
    return out.select("doc_id", "lang", "source")


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate DEDUP pairs (the fifth dedup
    modality next to exact/minhash/simhash/jaccard). τ=0.35 is tuned to
    this corpus (synthetic embeddings are near-orthogonal; max off-pair
    cosine ≈ 0.51) — production near-dup runs at ≈0.9."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(emb, threshold=0.35).orderBy("id_a", "id_b")


def q_embedding_near_dup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-composed near-dup: IVF multi-probe candidates → exact
    cosine verify (the 100 TB shape for `embedding_near_dup` — the pair
    join is equi on the cell id, never n²).

    The raw embeddings table is random near-orthogonal noise (max pair
    cos ≈ 0.5-0.6): it contains no near-duplicates, and on pairs with
    no locality NO candidate scheme can prune and keep recall 1 (the
    round-2 config got recall 1.0 at τ=0.4 only by probes²≥K — i.e. by
    not pruning). So the query builds the corpus a dedup engine is FOR:
    each vector plus a ×2-scaled copy (id + 10_000_000). Power-of-two
    scaling is exact in floating point, so a copy's cosine to every
    centroid is bit-identical to its original's → identical probe
    cells → recall is STRUCTURALLY 1.0 at any sf (not an empirical
    accident of one corpus), and the oracle stays the exact all-pairs
    SQL over the same augmented corpus. τ=0.95 separates planted pairs
    (cos = 1.0) from the random background (< 0.7). K ≈ √n centroids
    via `select_ivf_centroids` — candidates/exact ≈ 0.06 at sf0.1
    (measured; see SCALING.md), and the ratio FALLS as n grows."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = emb.count()  # corpus size drives K; one tiny count job
    copies = emb.select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(2.0)).cast("float")).alias(
            "embedding"
        ),
    )
    corpus = emb.unionByName(copies)
    # K ≈ √(corpus) centroids, drawn from the originals (copies share
    # their originals' directions — sampling both would duplicate cells)
    centroids = similarity.select_ivf_centroids(
        emb, k=math.isqrt(2 * n), corpus_size=n
    )
    return similarity.cosine_near_dup_via_ivf(
        corpus, centroids, threshold=0.95, probes=2
    ).orderBy("id_a", "id_b")


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic centroids (vec_id % 50 == 0), search
    only the query's cell — the partition-pruned scale path, exact within
    the cell so it stays oracle-checkable."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.ivf_topk(queries, emb, centroids, k=5).orderBy("query_id", "rank")


def q_embedding_ivf_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF retrieval
    (`functions/similarity.py:ivf_topk_multiprobe`, probes=4) — the
    production ANN default: the recall harness (tools/ann_recall.py)
    shows probes are THE recall lever (1→8 probes: recall@10
    0.156→0.590 at 2.3%→18% of the corpus scanned); this registers the
    probes=4 point with a differential oracle. Exact cosine within the
    probed cells (reference semantics:
    Preprocessing/FeatureVectors/readme.md); candidates bounded by
    probes × cell size; same deterministic centroid set as
    embedding_ivf_topk so the two are directly comparable."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.ivf_topk_multiprobe(
        queries, emb, centroids, k=5, probes=4
    ).orderBy("query_id", "rank")


def q_embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540) semantic dedup: cluster embeddings,
    drop τ-similar same-cluster neighbors, keep the example farthest
    from its centroid. K ≈ √n centroids via `select_ivf_centroids`
    (id-stride, oracle-reproducible) — cells stay ~√n so the
    within-cluster pair join scales n·√n, never n²·const (the r5
    registration pinned K=n/50, which went quadratic-per-cell). τ=0.3
    sits inside this corpus's within-cluster cosine range (max ≈ 0.48)
    so real pruning happens at every sf."""
    emb = _t(spark, sf_dir, "embeddings")
    centroids = similarity.select_ivf_centroids(emb)
    return similarity.semdedup(emb, centroids, threshold=0.3).orderBy("vec_id")


def q_embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (`functions/pq.py`, Jégou et al. 2011):
    64 floats → 8 nibble codes (deterministic first-16-vectors
    codebooks), then ADC top-5 for 5 query vectors — the 16-64×
    compression path a 100 TB embedding corpus scans instead of raw
    vectors. Encode and ADC are literal-codebook map-side expressions;
    the per-query window is the only shuffle."""
    from social_media_data_pipeline_spark.functions import pq

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq.pq_codebook(emb, m=8, ksub=16)
    codes = pq.pq_encode(emb, cb)
    queries = emb.filter(F.col("vec_id") < 5)
    return pq.pq_adc_topk(queries, codes, cb, k=5).orderBy("query_id", "rank")


def q_embedding_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (`pq.ivf_pq_topk`): cell pruning × code
    compression — the architecture a 100 TB vector corpus actually
    deploys (corpus partitioned by cell, each cell stored as 8-byte
    codes). Deterministic centroids (vec_id % 50) and codebooks (first
    16 vectors) keep the whole composition oracle-checkable; 20 query
    vectors, top-5 within the query's cell by ADC."""
    from social_media_data_pipeline_spark.functions import pq

    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    cb = pq.pq_codebook(emb, m=8, ksub=16)
    queries = emb.filter(F.col("vec_id") < 20)
    return pq.ivf_pq_topk(queries, emb, centroids, cb, k=5).orderBy(
        "query_id", "rank"
    )


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed deterministic k-means (`functions/kmeans.py`): 5
    Lloyd rounds over the embeddings corpus, K ≈ √n, id-stride seeds.
    Assignment is a map-side broadcast-struct argmin in exact integer
    micro-space (no float rounding anywhere); the only shuffle per
    round is the (cluster, dim) partial-aggregated mean. Output is the
    flat model (centroid_id, j, c, n_members); the oracle replays all
    5 rounds as a generated CTE chain and matches bit-for-bit."""
    from social_media_data_pipeline_spark.functions import kmeans

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans.kmeans_model_df(emb, iters=5).orderBy("centroid_id", "j")


def q_kmeans_train_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`kmeans_train` with the driver-collect budget zeroed: the
    DISTRIBUTED Lloyd path (checkpointed quantized view, per-round
    broadcast-centroid assignment, one (cluster, dim) partial-agg
    shuffle per round) — the shape the 100 TB corpus takes. Since r12
    every trainer bench row fits the 8 MiB driver fast path at sf0.1,
    so a regression in the at-scale path would be invisible to the
    bench (VERDICT r12 "what's wrong" #1); this row keeps it timed.
    Bit-identical model to `kmeans_train` by the parity tests
    (`test_kmeans.py::test_driver_path_*`), so the oracle is the same
    5-round replay chain."""
    from social_media_data_pipeline_spark.functions import kmeans

    emb = _t(spark, sf_dir, "embeddings")
    conf = spark.conf
    prev = conf.get(kmeans.DRIVER_TRAIN_BYTES_CONF, None)
    conf.set(kmeans.DRIVER_TRAIN_BYTES_CONF, "0")
    try:
        # training (the budget-gated part) runs during construction —
        # ITERATIVE-class, like every other trainer row
        out = kmeans.kmeans_model_df(emb, iters=5).orderBy("centroid_id", "j")
    finally:
        if prev is None:
            conf.unset(kmeans.DRIVER_TRAIN_BYTES_CONF)
        else:
            conf.set(kmeans.DRIVER_TRAIN_BYTES_CONF, prev)
    return out


def q_embedding_ivf_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k over TRAINED centroids: `kmeans_centroids` (5 Lloyd
    rounds) replaces the id-stride cells of `embedding_ivf_topk` —
    trained cells are balanced around the data's actual modes, which
    is where IVF recall comes from at 100 TB. Same search shape:
    assign corpus + queries to cells (broadcast, shuffle-free), score
    only the query's cell, per-query top-5 window. The oracle replays
    training AND search in one generated SQL chain."""
    from social_media_data_pipeline_spark.functions import kmeans

    emb = _t(spark, sf_dir, "embeddings")
    centroids = kmeans.kmeans_centroids(emb, iters=5)
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.ivf_topk(queries, emb, centroids, k=5).orderBy("query_id", "rank")


def q_embedding_ivf_multiprobe_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ANN production default (r8): TRAINED centroids
    (`kmeans_centroids`, 5 Lloyd rounds — the r6 recall lift over
    id-stride seeds) × multi-probe search (`ivf_topk_multiprobe`,
    probes=4 — the r7 recall lever). tools/ann_recall.py measures the
    composition beating both single-lever configs at comparable scan
    cost (recall table in SCALING.md r8). Corpus stays single-cell;
    queries probe their top-4 trained cells; exact cosine within the
    probed union. Oracle: k-means replay chain + multiprobe body in
    one generated SQL chain."""
    from social_media_data_pipeline_spark.functions import kmeans

    emb = _t(spark, sf_dir, "embeddings")
    centroids = kmeans.kmeans_centroids(emb, iters=5)
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.ivf_topk_multiprobe(
        queries, emb, centroids, k=5, probes=4
    ).orderBy("query_id", "rank")


def q_embedding_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus sampling — the topic-coverage curation
    step (SemDeDup's sibling: instead of dropping near-duplicates,
    cap each semantic cluster): TRAINED k-means cells
    (`kmeans_centroids`, 5 Lloyd rounds) + shuffle-free broadcast
    argmax assignment (`similarity.ivf_assign`) + the deterministic
    per-group cap (`sampling.sample_n_per_group`, md5-keyed order —
    re-runs and appends reproduce the same sample). One plan: the
    only exchange after assignment is the per-cluster window. At
    100 TB this is how a web-scale corpus gets balanced topic
    coverage without a similarity join: assignment is map-side
    against broadcast centroids, the cap is one partitioned window.
    Oracle: k-means replay chain + the same QUALIFY cap."""
    from social_media_data_pipeline_spark.functions import kmeans

    emb = _t(spark, sf_dir, "embeddings")
    centroids = kmeans.kmeans_centroids(emb, iters=5)
    assigned = similarity.ivf_assign(emb, centroids).select("vec_id", "cluster")
    out = sampling.sample_n_per_group(
        assigned, F.col("cluster"), "vec_id", n=5, seed="balanced-v1"
    )
    return out.select("vec_id", "cluster").orderBy("vec_id")


def q_embedding_ivf_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once / search-many lifecycle (r9, the production default
    shape): identical SEARCH semantics to
    `embedding_ivf_multiprobe_trained`, but the trained centroids come
    from a persisted manifest-committed artifact
    (`ann_index.ivf_centroids_for`) instead of 5 Lloyd rounds per
    query — first invocation trains and commits, every later one pays
    one corpus-fingerprint aggregate + a tiny parquet read (reference
    analog: DIRAdapter.py:20-76 loads its trained model once). The
    oracle REPLAYS training in SQL, which also proves the cache path
    bit-matches a fresh train. Bench: this is the amortized cost the
    full-cycle entry's train dominates (SCALING r9 train-once row)."""
    from social_media_data_pipeline_spark.functions import ann_index

    emb = _t(spark, sf_dir, "embeddings")
    tag = _os.path.abspath(sf_dir) + ":embeddings"
    centroids = ann_index.ivf_centroids_for(emb, tag, iters=5)
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.ivf_topk_multiprobe(
        queries, emb, centroids, k=5, probes=4
    ).orderBy("query_id", "rank")


def q_embedding_balanced_sample_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling over PERSISTED trained cells — the
    same cap semantics as `embedding_balanced_sample`, reading the one
    shared centroid artifact (same corpus, same params → same
    `ann_index` path as the search query above) instead of retraining;
    assignment stays map-side against the broadcast centroid table,
    the cap stays one partitioned window."""
    from social_media_data_pipeline_spark.functions import ann_index

    emb = _t(spark, sf_dir, "embeddings")
    tag = _os.path.abspath(sf_dir) + ":embeddings"
    centroids = ann_index.ivf_centroids_for(emb, tag, iters=5)
    assigned = similarity.ivf_assign(emb, centroids).select("vec_id", "cluster")
    out = sampling.sample_n_per_group(
        assigned, F.col("cluster"), "vec_id", n=5, seed="balanced-v1"
    )
    return out.select("vec_id", "cluster").orderBy("vec_id")


def q_embedding_ivf_multiprobe_searched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL production ANN stack, amortized (r10): residual IVF-PQ
    multiprobe search reading all THREE persisted artifacts — the
    manifest-committed IVF centroids (`ann_index.ivf_centroids_for`),
    the residual codebook (`pq_residual_codebook_for`), and the
    ENCODED CORPUS itself (`pq_codes_for` — the 16-64× compressed
    index layout of Jégou 2011, built once) — instead of re-running
    5 Lloyd rounds + 8 subspace k-means + a full corpus encode per
    query like the full-cycle `embedding_ivf_pq_residual` sibling
    (~21 s at sf0.1). Warm search touches the m-byte-per-vector codes
    table and never loads the raw corpus vectors except for ONE shared
    fingerprint-validation aggregate (reference analog:
    DIRAdapter.py:20-76 loads its trained model once). probes=4 — the
    multiprobe recall lever over the persisted cells. The oracle
    REPLAYS both trainings + the encode in SQL (kmeans chain →
    residual CTE → pq-kmeans chain → encode → multiprobe ADC), which
    also proves all three cache paths bit-match a fresh build."""
    from social_media_data_pipeline_spark.functions import ann_index, pq

    emb = _t(spark, sf_dir, "embeddings")
    tag = _os.path.abspath(sf_dir) + ":embeddings"
    # ONE validation scan shared by all three artifacts (r10): the
    # fingerprint is a pure function of the corpus
    fp = ann_index.corpus_fingerprint(emb)
    centroids = ann_index.ivf_centroids_for(emb, tag, iters=5, fingerprint=fp)
    codebook = ann_index.pq_residual_codebook_for(
        emb, tag, ivf_iters=5, m=8, ksub=16, iters=3, fingerprint=fp
    )
    codes = ann_index.pq_codes_for(
        emb, tag, ivf_iters=5, m=8, ksub=16, iters=3, fingerprint=fp
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return pq.ivf_pq_residual_topk(
        queries, emb, centroids, k=5, probes=4,
        codebook=codebook, codes=codes,
    ).orderBy("query_id", "rank")


def q_embedding_pq_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k over a TRAINED codebook: per-subspace Lloyd k-means
    (`pq.pq_codebook_kmeans`, 3 rounds, all 8 subspaces batched per
    distributed job) replaces the first-16-vectors seeds of
    `embedding_pq_topk` — trained codewords cut quantization error,
    which is the PQ recall lever at 100 TB. Encode/ADC plans are
    unchanged (literal codebook, map-side); the oracle replays training
    and search in one generated SQL chain."""
    from social_media_data_pipeline_spark.functions import pq

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq.pq_codebook_kmeans(emb, m=8, ksub=16, iters=3)
    codes = pq.pq_encode(emb, cb)
    queries = emb.filter(F.col("vec_id") < 5)
    return pq.pq_adc_topk(queries, codes, cb, k=5).orderBy("query_id", "rank")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution: connected components over the
    MinHash-LSH candidate graph; canonical doc = min id per component."""
    from social_media_data_pipeline_spark.functions import graph

    docs = _t(spark, sf_dir, "documents")
    pairs = sketches.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=16, bands=4)
    out = graph.dedup_clusters(docs, pairs)
    return out.orderBy("doc_id")


def q_docs_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-preserving dedup (`dedup.dedup_weights`): the same
    MinHash-LSH → CC cluster resolution as `dedup_clusters`, collapsed
    to ONE row per cluster — canonical (min-id) doc, multiplicity
    `weight`, and the exact char mass of the WHOLE cluster
    (`dup_mass`) — so the survivor keeps its duplicates' probability
    mass for loss reweighting / repeat sampling instead of the corpus
    distribution silently shifting toward rare docs (Muennighoff 2023
    data-constrained framing). Completes the dedup family's answer
    triple: dedup_clusters = WHO is together, dedup_survivors = WHICH
    doc survives, THIS = HOW MUCH it counts. Plan adds exactly one
    map-side-combinable component aggregate after the CC labeling (the
    canonical id is MIN inside the same agg — no join-back, no
    window)."""
    from social_media_data_pipeline_spark.functions import graph

    docs = _t(spark, sf_dir, "documents")
    pairs = sketches.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=16, bands=4)
    labeled = graph.dedup_clusters(docs, pairs).join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    return dedup.dedup_weights(labeled, mass_col="n_chars").orderBy("doc_id")


def q_docs_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cluster maintenance
    (`functions/graph.py:incremental_components`): the MinHash-LSH
    candidate pairs arrive as 3 ordered chunks (a replayed stream);
    each chunk merges into the standing (node, component) labeling —
    untouched components pass through as rows, touched ones recompute
    over their depth-1 star edges ∪ the batch. The oracle is the FULL
    batch CC over all pairs (`dedup_clusters`' reachability SQL), so
    the identity 'incremental ≡ recompute-from-scratch' is what the
    differential gate checks. Per-batch cost ∝ affected subgraph —
    the clustering-side completion of the band-store incremental-dedup
    economics."""
    from social_media_data_pipeline_spark.functions import graph

    docs = _t(spark, sf_dir, "documents")
    pairs = sketches.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4
    ).localCheckpoint()
    labels = None
    for c in range(3):
        chunk = pairs.filter(F.pmod(F.col("id_a") + F.col("id_b"), F.lit(3)) == c)
        labels = graph.incremental_components(labels, chunk).localCheckpoint()
    out = docs.select("doc_id").join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    )
    out = out.withColumn(
        "component", F.coalesce(F.col("component"), F.col("doc_id"))
    )
    return out.withColumn(
        "is_canonical", F.col("doc_id") == F.col("component")
    ).orderBy("doc_id")


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup survivor policy: MinHash-LSH candidates → CC
    clusters → keep the HIGHEST-QUALITY doc per cluster (quality-argmax
    instead of min-id — the policy a training-data pipeline actually
    wants; ties break on doc_id). One window shuffle keyed by the
    (small) component table after the CC resolution."""
    from social_media_data_pipeline_spark.functions import graph

    docs = _t(spark, sf_dir, "documents")
    pairs = sketches.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=16, bands=4)
    cc = graph.dedup_clusters(docs, pairs)
    scored = docs.select("doc_id", etext.quality_score("text").alias("quality"))
    w = Window.partitionBy("component").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        cc.join(scored, "doc_id")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("component", F.col("doc_id").alias("survivor_id"), "quality")
        .orderBy("component")
    )


def q_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (describe/summary
    extension; pandas `describe` quartiles — `ExploratoryAnalysis.py:31`)."""
    li = _t(spark, sf_dir, "lineitem")
    qs = F.percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(qs[0], 4).alias("p25"),
            F.round(qs[1], 4).alias("p50"),
            F.round(qs[2], 4).alias("p75"),
        )
        .orderBy("l_returnflag")
    )


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all grouping-set combinations."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), _dec_sum(F.col("o_totalprice")).alias("total"))
        .orderBy("o_orderstatus", "o_orderpriority")
    )


def q_except_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 full-row variant: multiset difference (exceptAll) — big orders
    minus urgent orders."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    big = orders.filter(F.col("o_orderkey") % 7 == 0)
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    return setops.except_rows(big, urgent)


def q_count_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 hit-count probe: scalar count over a source-pushed predicate
    (`one_query.py:45-51` analog)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") >= F.lit("1998-01-01")).agg(
        F.count(F.lit(1)).alias("hit_count")
    )


def q_distinct_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6: sorted distinct values for the profile surface
    (`ExploratoryAnalysis.py:41-42`)."""
    part = _t(spark, sf_dir, "part")
    return sort.distinct_sorted(part, "p_type")


def q_events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (brief-named custom operator): every event annotated
    with the latest purchase of the same user at-or-before its
    timestamp. Spark side is the union-tag + running-window plan
    (`operators/joins.py:asof_join` — ONE shuffle on user_id, no theta
    join); the oracle is DuckDB's native ASOF LEFT JOIN."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("ts").alias("last_purchase_ts"),
        F.col("value").alias("last_purchase_value"),
    )
    out = joins.asof_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        purchases,
        on="user_id",
        ts_col="ts",
        pick=["last_purchase_ts", "last_purchase_value"],
    )
    return out.orderBy("event_id")


def q_events_in_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join (brief-named custom operator): per 2-hour
    window opened by each early-user signup, count/sum ALL events
    falling inside it (no equi key — the classic nested-loop trap).
    Spark side blocks on hour buckets so the plan stays an equi hash
    join (`operators/joins.py:interval_join_bucketed`); the oracle is
    the plain inequality join DuckDB optimizes natively."""
    ev = _t(spark, sf_dir, "events")
    wins = ev.filter((F.col("event_type") == "signup") & (F.col("user_id") < 10)).select(
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("w_end"),
    )
    joined = joins.interval_join_bucketed(
        ev.select("ts", "value"), wins, "ts", "w_start", "w_end", unit="hour"
    )
    return (
        joined.groupBy("window_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("window_id")
    )


def q_docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (Brown et al. 2020 appx C): training
    docs ranked by how many distinct 3-gram shingles they share with a
    held-out eval slice (doc_id % 37 == 0). Eval shingle set broadcasts
    (`functions/sketches.py:contamination_counts`) — the only shuffle
    is the map-side-combinable per-doc count."""
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 37 == 0)
    tr = docs.filter(F.col("doc_id") % 37 != 0)
    out = sketches.contamination_counts(tr, ev, "doc_id", "text", k=3)
    return out.select(F.col("doc").alias("doc_id"), "n_shared").orderBy("doc_id")


def q_docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training loaders: contiguous layout of each
    language's documents into 2048-token sequences — (seq_id, offset)
    per doc via one prefix-sum window per group
    (`operators/packing.py:pack_sequences`)."""
    docs = _t(spark, sf_dir, "documents")
    out = packing.pack_sequences(
        docs, "doc_id", etext.token_count("text"), 2048, group_col="lang"
    )
    return out.select(
        "doc_id", "lang", "n_tokens", "seq_id", "seq_offset"
    ).orderBy("doc_id")


def q_docs_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: salted-md5 fingerprint of
    doc_id mod 100 carves 80/10/10 — pure map-side, re-run-stable,
    append-stable (`operators/splits.py:assign_split`)."""
    docs = _t(spark, sf_dir, "documents")
    return splits.assign_split(docs, "doc_id").select("doc_id", "split").orderBy(
        "doc_id"
    )


def q_docs_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training mixture weights: per-source deterministic keep rates
    (incl. a zeroed-out source and a default for unlisted ones) — pure
    map-side fingerprint filter
    (`operators/sampling.py:weighted_mixture_sample`)."""
    docs = _t(spark, sf_dir, "documents")
    rates = {"src0": 0.25, "src1": 0.5, "src2": 0.75, "src3": 0.0}
    out = sampling.weighted_mixture_sample(
        docs, "source", rates, "doc_id", default_rate=0.6
    )
    return out.select("doc_id", "source").orderBy("doc_id")


def q_docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality filter with no external model: mean
    unigram log-prob under the corpus's own token distribution
    (`functions/text.py:unigram_logprob`)."""
    docs = _t(spark, sf_dir, "documents")
    return etext.unigram_logprob(docs).orderBy("doc_id")


def q_docs_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle order for training shards: exact
    1-based rank under ORDER BY md5-fingerprint, decomposed into fixed
    hash-range buckets + offsets so no single-task global window exists
    (`operators/splits.py:deterministic_shuffle`)."""
    docs = _t(spark, sf_dir, "documents")
    out = splits.deterministic_shuffle(docs, "doc_id")
    return out.select("doc_id", "shuffle_pos").orderBy("doc_id")


def q_docs_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 salient terms per document by TF-IDF — topic tagging /
    mixture balancing signal (`functions/retrieval.py:tfidf_topk`)."""
    docs = _t(spark, sf_dir, "documents")
    return retrieval.tfidf_topk(docs, k=3).orderBy("doc_id", "rank")


def q_docs_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 documents for a fixed bag-of-words query —
    targeted subset retrieval (`functions/retrieval.py:bm25_score`)."""
    docs = _t(spark, sf_dir, "documents")
    return retrieval.bm25_score(docs, ["spark", "window", "hash"]).orderBy("rank")


def q_docs_bm25_searched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once / search-many lexical retrieval (the text mirror of
    `embedding_ivf_search_persisted`): identical output contract to
    `docs_bm25`, but the query reads a PERSISTED inverted index
    (`functions/lexical_index.py` — postings/dfreq/lengths committed
    under ONE root manifest, stats + corpus fingerprint in a
    per-generation meta) instead of re-tokenizing the corpus. First
    invocation builds and commits; every later one pays one
    fingerprint-validation aggregate plus a pushed-down `t IN (...)`
    read of the query terms' postings row groups. The oracle REPLAYS
    the full tokenize→aggregate→score chain in SQL, which also proves
    the warm cache path matches a fresh build (reference analog:
    DIRAdapter.py:20-76 — train once, reuse every run)."""
    from social_media_data_pipeline_spark.functions import lexical_index

    docs = _t(spark, sf_dir, "documents")
    tag = _os.path.abspath(sf_dir) + ":documents"
    path = lexical_index.bm25_index_for(docs, tag)
    return lexical_index.bm25_search_indexed(
        spark, path, ["spark", "window", "hash"]
    ).orderBy("rank")


def q_docs_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation report — the operational dashboard a corpus
    owner reads after every ingest: document count, exact-duplicate
    count (docs minus distinct normalized-text hashes), Gopher-gate
    pass count, mean composite quality score, token total. One
    aggregate over one scan; every metric reuses a registered
    operator's exact expressions (dedup_exact_content's md5 key,
    gopher_quality_flags, quality_score, token_count), so the report
    is consistent with the gates it summarizes."""
    docs = _t(spark, sf_dir, "documents")
    g = etext.gopher_quality_flags("text")
    norm = F.md5(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))))
    return (
        docs.select(
            "source",
            norm.alias("__h"),
            g["passes"].cast("int").alias("__gp"),
            F.round(etext.quality_score("text"), 6).alias("__q"),
            etext.token_count("text").alias("__t"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.count(F.lit(1)) - F.countDistinct("__h")).alias("n_exact_dups"),
            F.sum("__gp").alias("n_gopher_pass"),
            F.round(F.avg("__q"), 6).alias("mean_quality"),
            F.sum("__t").alias("total_tokens"),
        )
        .orderBy("source")
    )


def q_docs_mixture_solver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-proportion mixture with capped waterfilling
    (`operators/sampling.py:mixture_sample_to_targets`): keep rates
    SOLVED from the live histogram so scarce heavy-target sources cap
    at 100% and their unmet share redistributes — the third member of
    the mixture family (fixed rates / α-temperature / target solver).
    Targets+budget come from the shared DOC_MIXTURE_TARGETS constant;
    the oracle replays the waterfilling via a generated 20-round CTE
    chain (`build_mixture_rates_sql`)."""
    docs = _t(spark, sf_dir, "documents")
    out = sampling.mixture_sample_to_targets(
        docs, "source", "doc_id",
        sampling.DOC_MIXTURE_TARGETS, sampling.DOC_MIXTURE_BUDGET,
    )
    return out.select("doc_id", "source").orderBy("doc_id")


def q_docs_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL Gopher quality gate (Rae et al. 2021 App. A): the
    document-level rules (`functions/text.py:gopher_quality_flags` —
    word-count / mean-word-length / symbol-ratio / alpha-fraction /
    stop-words) PLUS the line-level rules (`gopher_line_flags` —
    bullet-line and ellipsis-line fractions, r11). The corpus ships
    single-line, so the query first RE-LINES it deterministically
    (doc_id % 11 == 0 → every word a bullet line, % 11 == 1 → every
    line ellipsis-terminated, else newline before each ' the ') —
    planted list-docs and teaser-docs that flip the line flags, all
    replayable in SQL. `passes` is the conjunction of all seven rules
    over the SAME re-lined text."""
    docs = _t(spark, sf_dir, "documents")
    text_ml = (
        F.when(
            F.col("doc_id") % 11 == 0,
            F.regexp_replace(F.col("text"), " ", "\n- "),
        )
        .when(
            F.col("doc_id") % 11 == 1,
            F.regexp_replace(F.col("text"), " ", "...\n"),
        )
        .otherwise(F.regexp_replace(F.col("text"), " the ", "\n- "))
    )
    relined = docs.select("doc_id", text_ml.alias("text"))
    g = etext.gopher_quality_flags("text")
    ln = etext.gopher_line_flags("text")
    return (
        relined.select("doc_id", g.alias("g"), ln.alias("ln"))
        .select(
            "doc_id",
            F.col("g.word_count").alias("word_count"),
            F.col("g.mean_word_len").alias("mean_word_len"),
            F.col("g.alpha_frac").alias("alpha_frac"),
            F.col("g.n_stop_words").alias("n_stop_words"),
            F.col("ln.n_lines").alias("n_lines"),
            F.col("ln.bullet_line_frac").alias("bullet_line_frac"),
            F.col("ln.ellipsis_line_frac").alias("ellipsis_line_frac"),
            F.col("ln.ok_bullet_lines").alias("ok_bullet_lines"),
            F.col("ln.ok_ellipsis_lines").alias("ok_ellipsis_lines"),
            (F.col("g.passes") & F.col("ln.passes_lines")).alias("passes"),
        )
        .orderBy("doc_id")
    )


def q_docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest near-dedup
    (`operators/dedup.py:incremental_dedup`): the continuous-crawl
    flow — a new batch (doc_id % 5 == 0) dedups against the kept
    corpus (doc_id % 5 != 0) via the persistable MinHash band store,
    exact-Jaccard-verified candidates only, per-new-doc best match."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup.incremental_dedup(new, hist, "doc_id", "text").orderBy("doc_id")


def q_docs_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval with reciprocal-rank fusion
    (`functions/retrieval.py:hybrid_rrf_topk`, Cormack et al. 2009):
    BM25 top-20 for a fixed query + exact-cosine top-20 for that
    document's embedding, fused by Σ 1e9 div (60 + rank) in exact
    integer micro-units. The production curation-audit retrieval
    default: rank fusion needs no score calibration between the
    lexical and dense scales."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    return retrieval.hybrid_rrf_topk(
        docs, emb, ["spark", "window", "hash"], query_vec_id=7, k=10
    )


def q_docs_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature source balancing
    (`operators/sampling.py:temperature_mixture_sample`, the mT5/XLM-R
    multi-source mixing rule): per-source keep rates ∝ √n_i computed
    from the live histogram with exact integer thresholds; the draw is
    the deterministic salted fingerprint. Complements the fixed-rate
    `weighted_mixture_sample` (docs_mixture_sample) — this one derives
    the rates."""
    docs = _t(spark, sf_dir, "documents")
    out = sampling.temperature_mixture_sample(docs, "source", "doc_id")
    return out.select("doc_id", "source").orderBy("doc_id")


def q_docs_dup_window_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplication fraction
    (`operators/dedup.py:duplicate_window_fraction`): share of each
    document's 8-token windows seen in ≥ 2 documents — the doc-level
    contamination score a curation run thresholds on (the aggregate
    sibling of docs_duplicate_spans' trimmable spans). No
    occurrence-list state: two map-side-combinable aggregates and a
    hash-equi join."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.duplicate_window_fraction(docs, "doc_id", "text", k=8, min_docs=2)
    return out.select(
        F.col("id").alias("doc_id"), "n_windows", "n_dup_windows", "dup_frac"
    ).orderBy("doc_id")


def q_docs_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination (`operators/dedup.py:
    decontaminate_spans`): maximal training-doc spans whose 8-token
    windows occur in the held-out eval split — trim surgery instead of
    whole-doc drops, completing membership (bloom) → score (fraction)
    → spans. Semi join against the broadcast eval gram set: no
    occurrence lists, no hot-hash state; islands window doc-partitioned.
    Registered at k=4: the synthetic corpus's docs share almost no
    genuine 8-grams across the eval boundary (0 spans at sf0.001), so
    k=4 is the config that exercises the islands merge with real rows
    at every scale (41/49/3486 spans); GPT-3-style 13-gram production
    runs just pass k=13."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        % 20
    )
    out = dedup.decontaminate_spans(
        docs.filter(bucket != 0), docs.filter(bucket == 0), "doc_id", "text", k=4
    )
    return out.select(
        F.col("id").alias("doc_id"), "span_start", "span_end", "n_windows"
    ).orderBy("doc_id", "span_start")


def q_docs_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary coverage (`functions/text.py:
    vocab_coverage`): occurrence- and type-level OOV rates against the
    corpus's top-1000 vocabulary — the dashboard that shows which
    source a tokenizer under-serves. (group, token) counts collapse
    the hot-token skew map-side BEFORE any join; the top-V vocab is a
    TakeOrderedAndProject (never a full sort) and broadcasts."""
    docs = _t(spark, sf_dir, "documents")
    return etext.vocab_coverage(docs, "text", "source", top_v=1000).orderBy(
        "source"
    )


def q_docs_contamination_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded decontamination (`operators/dedup.py:
    contamination_fraction`): per-training-doc share of distinct
    8-token windows that occur anywhere in the held-out eval split
    (here the deterministic 5% md5-sample standing in for a benchmark
    suite). The exact fraction `docs_bloom_decontaminate`'s membership
    filter approximates; eval gram set deduped then BROADCAST —
    benchmarks are small by construction."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        % 20
    )
    ev = docs.filter(bucket == 0)
    tr = docs.filter(bucket != 0)
    out = dedup.contamination_fraction(tr, ev, "doc_id", "text", k=8)
    return out.select(
        F.col("id").alias("doc_id"), "n_grams", "n_hit", "contamination_frac"
    ).orderBy("doc_id")


def q_docs_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail quality terciles per language
    (`functions/text.py:ccnet_buckets`, Wenzek et al. 2020 §4.3):
    bigram-LM score → per-(lang, score) counts → running sum over the
    bounded DISTINCT-VALUE table → broadcast thresholds → map-side
    CASE. The textbook ntile-per-language window (dominant-language
    skew: one task sorts the whole language) is deliberately absent —
    the window runs over distinct rounded scores only."""
    docs = _t(spark, sf_dir, "documents")
    return etext.ccnet_buckets(docs).orderBy("doc_id")


def q_docs_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate spans (ExactSubstr re-expressed
    relationally, Lee et al. 2022): maximal runs of 8-token windows
    shared by >= 2 documents — the trim-don't-drop dedup signal
    (`operators/dedup.py:duplicate_spans`)."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.duplicate_spans(docs, "doc_id", "text", k=8, min_docs=2)
    return out.select(
        F.col("id").alias("doc_id"), "span_start", "span_end", "n_windows"
    ).orderBy("doc_id", "span_start")


def q_docs_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: per-direction shingle containment over the
    stop-shingle-pruned inverted index — flags subset-duplication that
    symmetric Jaccard misses
    (`functions/sketches.py:ngram_containment_pairs`)."""
    docs = _t(spark, sf_dir, "documents")
    out = sketches.ngram_containment_pairs(
        docs, "doc_id", "text", threshold=0.5, max_doc_freq=25
    )
    return out.orderBy("id_a", "id_b")


def q_docs_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase mining: top-50 token pairs by pointwise mutual
    information over document co-occurrence, restricted to the 100
    highest-document-frequency tokens (the vocabulary prune that keeps
    the pair join linear at corpus scale — the unpruned pair space is
    quadratic in vocabulary, same policy as stop-shingle pruning).

    Plan: one distinct (doc, token) explode; the top-100 vocabulary is
    a TakeOrderedAndProject that BROADCASTS back as a semi-join filter;
    the co-occurrence self-join keys on doc_id; per-token doc
    frequencies broadcast into the final PMI projection.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(etext.tokenize("text"))).alias("t")
    )
    dfreq = toks.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    top = dfreq.orderBy(F.desc("df"), F.asc("t")).limit(100)
    pruned = toks.join(F.broadcast(top.select("t")), "t", "left_semi")
    a, b = pruned.alias("a"), pruned.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.t") < F.col("b.t")),
        )
        .groupBy(F.col("a.t").alias("t_a"), F.col("b.t").alias("t_b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    # corpus size rides the plan as a broadcast 1-row aggregate — no
    # eager docs.count() Spark job at query-construction time (it would
    # sit outside any benchmark's timed region)
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("__n_docs"))
    fa = top.select(F.col("t").alias("t_a"), F.col("df").alias("c_a"))
    fb = top.select(F.col("t").alias("t_b"), F.col("df").alias("c_b"))
    pmi = F.round(
        F.log(F.col("c_ab") * F.col("__n_docs") / (F.col("c_a") * F.col("c_b"))), 6
    )
    return (
        pairs.join(F.broadcast(fa), "t_a")
        .join(F.broadcast(fb), "t_b")
        .crossJoin(F.broadcast(n_docs))
        .select("t_a", "t_b", "c_ab", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "t_a", "t_b")
        .limit(50)
    )


def q_docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-Res, derandomized): top-200 documents by ln(u)/n_chars sample
    key — inclusion probability proportional to document length
    (`operators/sampling.py:weighted_sample_topk`)."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.weighted_sample_topk(docs, "n_chars", "doc_id", k=200)


def q_events_trailing_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average of daily event counts — the
    rows-frame window surface beyond running totals (frame: 6 preceding
    to current row over the day-ordered series, per event type)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return (
        daily.withColumn("avg_7d", F.round(F.avg("n").over(w), 4))
        .select("event_type", "day", "n", "avg_7d")
        .orderBy("event_type", "day")
    )


def q_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) spend quartiles per market segment: customers ranked by
    account balance inside their segment, deterministic tie-break on
    custkey — the ntile/bucketing window surface."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    q = cust.withColumn("quartile", F.ntile(4).over(w))
    return (
        q.groupBy("c_mktsegment", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_balance"),
        )
        .orderBy("c_mktsegment", "quartile")
    )


def q_events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier detection on the event stream: days whose per-type event
    count deviates >= 1.5 population-σ from that type's daily mean.
    Two tiny aggregates (daily counts, per-type moments) + a broadcast
    join of the 5-row stats side — monitoring-query shape that stays
    O(days × types) regardless of event volume."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        daily.join(F.broadcast(stats), "event_type")
        .withColumn("z", F.round(z, 4))
        .filter(F.abs(F.col("z")) >= 1.5)
        .select("event_type", "day", "n", "z")
        .orderBy("event_type", "day")
    )


def q_docs_trim_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim-don't-drop composition: duplicate_spans feeds trim_spans —
    each doc loses exactly the tokens inside its flagged cross-document
    spans (`operators/dedup.py:trim_spans`; positional array lambda,
    no corpus explode)."""
    docs = _t(spark, sf_dir, "documents")
    spans = dedup.duplicate_spans(docs, "doc_id", "text", k=8, min_docs=2)
    return dedup.trim_spans(docs, spans).orderBy("doc_id")


def q_docs_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law corpus health gate: OLS slope of log-frequency vs
    log-rank over the vocabulary (`functions/text.py:zipf_slope`)."""
    docs = _t(spark, sf_dir, "documents")
    return etext.zipf_slope(docs, "text")


def q_docs_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution flagship
    (`operators/dedup.py:entity_resolution_clusters`): candidates from
    BOTH blind-spot-complementary generators — the lossless prefix-
    filter Jaccard join (content duplication, exact >= 0.6) ∪
    sorted-neighborhood blocking (typo variants with no token overlap,
    verified by Levenshtein <= 4 on the 32-char normalized keys) —
    then connected components via the INCREMENTAL maintenance path
    (2 ordered edge chunks through `graph.incremental_components`).
    The oracle is the full reachability recursion over the complete
    verified edge set, so one lost candidate, one wrong verifier
    decision, or any incremental-vs-full divergence hash-mismatches.
    The ER mirror of `docs_llm_pipeline` (reference analog: dedup is
    the reference's first preprocessing stage, Preprocessor.py:115-116,
    generalized to near-dup entities)."""
    from social_media_data_pipeline_spark.operators.dedup import (
        entity_resolution_clusters,
    )

    docs = _t(spark, sf_dir, "documents")
    return entity_resolution_clusters(docs).orderBy("doc_id")


def q_docs_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit (`operators/splits.py:split_leakage`):
    near-dup pairs (lossless prefix-filter Jaccard >= 0.6) that
    STRADDLE the train/holdout boundary of the deterministic split —
    the paraphrase-level eval contamination exact n-gram
    decontamination misses (Lee et al. 2022 §6.2). Oracle = the exact
    all-pairs Jaccard SQL x the split CASE replay, so a missed
    candidate, a wrong split bucket, or a mis-oriented pair
    hash-mismatches."""
    docs = _t(spark, sf_dir, "documents")
    return splits.split_leakage(docs, "doc_id", "text").orderBy(
        "train_id", "holdout_id"
    )


def q_docs_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free split CONSTRUCTOR (`operators/splits.py:group_split`)
    — the fix for what `docs_split_leakage` audits: documents are
    assigned train/val/test by the salted fingerprint of their
    near-dup cluster REPRESENTATIVE (connected components over the
    MinHash-LSH candidate graph — the same 16-hash/4-band generator
    and reachability semantics as `dedup_clusters`), so a near-dup
    clique lands whole in one split by construction. Oracle = the
    recursive reachability chain × the md5 bucket CASE replay — a
    wrong component, a dropped singleton, or a wrong bucket boundary
    hash-mismatches."""
    from social_media_data_pipeline_spark.functions import graph  # noqa: F401

    docs = _t(spark, sf_dir, "documents")
    pairs = sketches.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4
    )
    return splits.group_split(docs, "doc_id", pairs).orderBy("doc_id")


def q_minhash_band_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH band planner (`functions/sketches.py:lsh_band_plan`):
    P(candidate | J = t) = 1 − (1 − t^r)^b for every factorization of
    the 16-hash signature × a Jaccard grid, plus each S-curve's implied
    threshold (1/b)^(1/r) and the `chosen` plan for target 0.8 — the
    table a deployment reads before committing to a banding (the
    registered 4×4 default comes out chosen). A parameter-table query
    (no corpus input): the probability arithmetic runs JVM-side through
    the same binary-exponentiation expression the oracle evaluates —
    bit-equal with no POW()."""
    return sketches.lsh_band_plan(spark).orderBy("bands", "t")


def q_events_drift_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distribution-drift monitor
    (`operators/aggregates.py:histogram_drift`): L1 distance between
    each (event_type, day)'s fixed-width value histogram and the
    cumulative histogram of all PRIOR days — the ingest-observability
    gate that catches an upstream encoder/unit/scraper change before
    it contaminates training data. Integer cross-multiplied L1 (one
    float division per day), cumulative baselines via windows
    partitioned by (type, bin) and (type) — never event-grain."""
    ev = _t(spark, sf_dir, "events")
    out = aggregates.histogram_drift(
        ev, "ts", "value", bin_width=10.0, group_cols=("event_type",)
    )
    # day as TIMESTAMP: the gate's value-hash convention for calendar
    # buckets (events_daily et al.)
    return out.withColumn("day", F.col("day").cast("timestamp")).orderBy(
        "event_type", "day"
    )


def q_events_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized rollup
    (`operators/rollup.py`): the events stream replays as 3 ordered
    chunks (event_id mod 3), each folding its partial (day, type)
    aggregate state into a manifest-committed store via
    `selective_upsert` — per-refresh cost ∝ the batch + touched state
    rows, never history (algebraic IVM, Gray et al. 1996; the
    reference's `plotting.py:50-67` recomputes from the full frame
    every run). State carries exact integer micro-units, so the merge
    is order-independent and the chunked replay is hash-identical to
    the oracle's ONE-SHOT aggregate over all events — the
    incremental ≡ recompute identity is what the gate checks."""
    import tempfile

    from social_media_data_pipeline_spark.operators import rollup

    ev = _t(spark, sf_dir, "events")
    store = _os.path.join(tempfile.mkdtemp(prefix="rollup-"), "state")
    for c in range(3):
        rollup.incremental_rollup_batch(
            ev.filter(F.col("event_id") % 3 == c), store
        )
    return rollup.read_rollup(spark, store).orderBy("day", "event_type")


def q_orders_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint verification
    (`operators/checks.py`, Deequ-style — Schelter et al. 2018): the
    ingest gate a curation pipeline runs before anything downstream
    reads a table. Eight constraints over orders — null budget, key
    uniqueness, range, value domain, regex shape, row-count floor, FK
    containment into customer — ALL single-table checks fold into ONE
    aggregate over ONE scan (conditional sums → stack unpivot); the
    referential check is one broadcast anti-join count. The suite
    mixes passing and genuinely FAILING rows (tight price ceiling,
    two-valued status domain, million-row floor), so the differential
    checks real violation counts, not a column of zeros. Exact integer
    report — no float thresholds in the gate."""
    from social_media_data_pipeline_spark.operators import checks as ck

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return ck.constraint_report(
        orders,
        [
            ck.not_null("o_orderkey"),
            ck.unique("o_orderkey"),
            ck.in_range("o_totalprice", lo=0.0, hi=300000.0),
            ck.accepted_values("o_orderstatus", ["F", "O"]),
            ck.matches("o_orderpriority", r"^[1-5]-[A-Z ]+$"),
            ck.row_count(min_rows=1000000),
            ck.referential("o_custkey", cust, "c_custkey"),
            ck.not_null("o_orderdate"),
        ],
    ).orderBy("ord")


def q_events_daily_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification
    (`operators/aggregates.py:densify_calendar`) — the distributed
    `resample().asfreq()`/`fillna` the reference applies after every
    time-series aggregation (`plotting.py:150` fillna(0) over the
    combined index): a SPARSE daily series (high-value events only, so
    real gaps exist at every scale) densifies to one row per
    (event_type, day) across the global range, with the count
    zero-filled (absence becomes an explicit 0 a dashboard can alarm
    on) and the last seen daily average forward-filled per type.
    Spine = one sequence() per calendar bucket × the distinct groups —
    broadcast-sized; ONE left join on the natural key; the ffill
    window partitions per type, never globally."""
    ev = _t(spark, sf_dir, "events")
    day = aggregates.time_bucket("ts", "D")
    agg = (
        ev.filter(F.col("value") > 240)
        .groupBy(day.alias("day"), F.col("event_type"))
        .agg(
            F.count("value").alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_seen"),
        )
    )
    dense = aggregates.densify_calendar(
        agg, "day", "D", ("event_type",),
        zero_fill=("n_events",), ffill=("avg_seen",),
    )
    return dense.select("event_type", "day", "n_events", "avg_seen").orderBy(
        "event_type", "day"
    )


def q_docs_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer FERTILITY — BPE tokens per word under the
    trained 20-merge vocabulary (Rust et al. 2021: fertility is the
    metric that prices multilingual training cost; a 2x-fertility
    language burns 2x sequence budget per word, which is what mixture
    weights must correct for). Composition: certified batched BPE
    training -> map-side encode replay (`bpe.bpe_encode_corpus`) ->
    language-grain sums with one rounded division per language. The
    oracle replays training, encode AND the aggregate in one generated
    chain."""
    docs = _t(spark, sf_dir, "documents")
    trained = bpe.bpe_train_batched(docs, num_merges=20)
    merges = [
        (r["lhs"], r["rhs"]) for r in trained.orderBy("merge_rank").collect()
    ]
    enc = bpe.bpe_encode_corpus(docs, merges)
    per = enc.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.size("bpe_tokens").cast("long").alias("n_bpe"),
    )
    return (
        per.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
            F.round(F.sum("n_bpe") / F.sum("n_words"), 6).alias("fertility"),
        )
        .orderBy("lang")
    )


def q_docs_fertility_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fertility-CORRECTED temperature mixing (the composition Rust et
    al. 2021 motivates): `docs_temperature_mixture` balances DOC
    counts, but a 2×-fertility language consumes 2× sequence budget
    per doc — so the α=0.5 thresholds here are driven by per-language
    BPE TOKEN masses from the certified trained tokenizer
    (`docs_token_fertility`'s chain), balancing the budget that
    actually prices training. Exact end to end: integer token masses →
    the same Python-bigint threshold arithmetic
    (`temperature_mixture_sample(weights=...)`) → md5 draw; the oracle
    replays training + encode + HUGEINT thresholds + the draw."""
    docs = _t(spark, sf_dir, "documents")
    trained = bpe.bpe_train_batched(docs, num_merges=20)
    merges = [
        (r["lhs"], r["rhs"]) for r in trained.orderBy("merge_rank").collect()
    ]
    enc = bpe.bpe_encode_corpus(docs, merges)
    masses = {
        r["lang"]: int(r["t"])
        for r in enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.sum(F.size("bpe_tokens")).cast("long").alias("t"))
        .collect()
    }
    kept = sampling.temperature_mixture_sample(
        docs, "lang", "doc_id", target_frac=0.5, weights=masses
    )
    return kept.select("doc_id", "lang").orderBy("doc_id")


def q_customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy release audit
    (`operators/aggregates.py:k_anonymity_profile`): k-anonymity +
    l-diversity over the customer table — quasi-identifiers
    (nation, market segment), sensitive attribute = account-balance
    sign bucket. Every quasi group under k=5 rows is re-identifiable
    by linkage; every group with < 2 distinct sensitive values leaks
    the attribute by membership alone (the homogeneity attack). The
    gate before releasing user-derived training tables; one map-side-
    combinable hash aggregate."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "bal_bucket",
        F.when(F.col("c_acctbal") < 0, "neg").otherwise(
            F.when(F.col("c_acctbal") < 5000, "low").otherwise("high")
        ),
    )
    return aggregates.k_anonymity_profile(
        cust, ("c_nationkey", "c_mktsegment"), "bal_bucket", k=5, l=2
    ).orderBy("c_nationkey", "c_mktsegment")


def q_docs_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality evaluation
    (`operators/dedup.py:blocking_quality`, Christen 2012 §7.5): pair
    completeness + reduction ratio of the MinHash-LSH and
    sorted-neighborhood candidate generators against the EXACT
    Jaccard >= 0.6 truth set on this corpus — the empirical complement
    of `minhash_band_plan`'s analytic S-curves, and the measurement
    that picks a generator per the similarity-join decision table.
    Oracle replays truth (exact all-pairs), the banding chain and the
    rank-distance join, then the same counts and rounded ratios."""
    from social_media_data_pipeline_spark.operators.dedup import (
        blocking_quality,
    )

    docs = _t(spark, sf_dir, "documents")
    return blocking_quality(docs, "doc_id", "text").orderBy("method")


def q_docs_blocking_quality_sampled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB shape of `docs_blocking_quality`
    (`operators/dedup.py:blocking_quality_sampled`): the exact truth
    set is quadratic in the corpus, so the evaluation runs on a
    deterministic md5 sample (fingerprint % 2 == 0 — half the corpus,
    quartering the truth-set cost) and reports pair completeness WITH
    binomial error bars (Wilson score 95% interval, clamped — NOT the
    normal approximation, which collapses at p̂ = 1; see
    `blocking_quality_sampled`'s docstring). The exact
    query stays registered as the calibration benchmark — the same
    full-cycle-vs-production pairing as the persisted ANN/BM25 rows.
    Oracle replays the md5 sample CTE, the same truth/banding/SNM
    chains over it, and the identical CI expression."""
    from social_media_data_pipeline_spark.operators.dedup import (
        blocking_quality_sampled,
    )

    docs = _t(spark, sf_dir, "documents")
    return blocking_quality_sampled(
        docs, "doc_id", "text", inv_rate=2
    ).orderBy("method")


def q_docs_blocking_quality_blocks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Block-sampled blocking evaluation
    (`dedup.blocking_quality_sampled(block_len=16)`): the keep
    decision hashes the first 16 chars of the NORMALIZED text, so
    duplicate cliques (which share prefixes) survive WHOLE — the
    honest sampling shape for window/density-sensitive generators,
    where per-doc thinning biases completeness up (Christen 2012 §7.5
    block-level sampling; the measured bias is in SCALING.md r11).
    Oracle replays the md5 prefix-block sample CTE + the same chains
    and Wilson interval."""
    from social_media_data_pipeline_spark.operators.dedup import (
        blocking_quality_sampled,
    )

    docs = _t(spark, sf_dir, "documents")
    return blocking_quality_sampled(
        docs, "doc_id", "text", inv_rate=2, seed="bq-block-v1",
        block_len=16,
    ).orderBy("method")


def q_embedding_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity reranking
    (`functions/similarity.py:mmr_rerank`, Carbonell & Goldstein
    1998): per query the greedy λ·relevance − (1−λ)·redundancy top-5
    over the 20 nearest candidates — the RAG retrieval finisher that
    keeps near-duplicate passages from wasting context tokens. All
    similarities are EXACT integer micro² inner products and the MMR
    combination runs in arbitrary precision (HUGEINT on the oracle
    side), so the greedy selection is bit-exact cross-engine — the
    oracle unrolls all five steps as chained CTEs."""
    from social_media_data_pipeline_spark.functions.similarity import (
        mmr_rerank,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return mmr_rerank(
        queries, emb, k=5, n_candidates=20, lam_micro=700_000
    ).orderBy("query_id", "rank")


def q_events_user_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew planner
    (`operators/aggregates.py:key_skew_report`): the sensor behind the
    broadcast-vs-shuffle-vs-salt decision (`salted_join` is the
    actuator; `orders_join_size_est` prices the join, this prices the
    KEYS). Top-20 heavy event users with share, cumulative share,
    skew ratio vs the mean key, and the salt factor each key needs at
    1,000 rows/partition. One partial-agg shuffle + a top-k over the
    BOUNDED key-count table (the only window runs over 20 rows). The
    oracle replays counts, ranking and the same rounded ratios."""
    ev = _t(spark, sf_dir, "events")
    return aggregates.key_skew_report(
        ev, "user_id", top_k=20, target_partition_rows=1000
    ).orderBy("rank")


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding covariance matrix (`functions/pca.py:covariance_micro`):
    the input to PCA/OPQ-style rotation and the drift-monitoring
    spectrum. ONE corpus pass reduces each Arrow batch to an integer
    micro-unit Gram matrix (numpy matmul) — the shuffle carries
    partitions × d(d+1)/2 partial rows, never corpus × d². Partial
    sums are EXACT int64, so the distributed merge is bit-identical
    to the oracle's per-vector pair join; the final covariance is one
    fixed-order double expression from the exact sums, rounded 6 dp."""
    from social_media_data_pipeline_spark.functions.pca import (
        covariance_micro,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return covariance_micro(emb, "embedding", d=64).orderBy("i", "j")


def q_customer_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension maintenance
    (`operators/scd.py:scd2_apply`, Kimball SCD2): one update batch
    against the customer dimension — segment changes fork a new
    version (old row closes at the effective date, non-tracked
    nation carries forward), value-identical updates are no-ops,
    unseen keys insert as new open rows. The batch is deterministic:
    custkey % 14 == 0 → segment 'MOVED' (change), % 14 == 7 → same
    segment (no-op), % 97 == 0 → a synthetic new key (insert). Point-
    in-time correctness is what a training pipeline needs for source
    metadata (license/consent/quality tiers) that drifts after docs
    were ingested. One full-outer key join + unions — no window; the
    oracle replays the fork/no-op/insert partition in SQL."""
    import datetime as _dt

    cust = _t(spark, sf_dir, "customer")
    dim = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nation"),
        F.lit(_dt.date(2020, 1, 1)).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    ups = cust.filter(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("k"),
        F.when(F.col("c_custkey") % 14 == 0, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    )
    ins = cust.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 10_000_000).alias("k"),
        F.lit("NEW").alias("segment"),
    )
    out = scd.scd2_apply(
        dim, ups.unionByName(ins), "k", ["segment"],
        effective=_dt.date(2024, 6, 1),
    )
    # timestamps at the boundary: the driver comparator's proven
    # temporal type (dates are normalized differently per engine)
    return out.select(
        "k", "segment", "nation",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    ).orderBy("k", "valid_from")


def q_orders_scd2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 as-of FACT join (`operators/scd.py:scd2_asof_join`): every
    order joins the customer-dimension VERSION valid at its own
    o_orderdate — the production shape of point-in-time metadata
    correctness (the reference analog: posts joined to the metadata
    version valid at scrape time, which `Preprocessor.py` re-run
    clobbering destroys). The dimension is a deterministic two-version
    history per customer: segment until a per-key split date
    (1994-01-01 + custkey % 730 days), 'MOVED-'+segment open
    afterwards — so orders before/after the split select DIFFERENT
    versions and a wrong interval bound flips thousands of rows. Plan:
    ONE broadcast hash equi-join on custkey with the [from, to)
    containment as a residual predicate — no window over the fact
    table, no nested-loop join; the fact side never shuffles. Output
    aggregates to (as-of segment, order year) with the decimal-exact
    money convention."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    split = F.date_add(
        F.to_date(F.lit("1994-01-01")),
        (F.col("c_custkey") % 730).cast("int"),
    )
    v1 = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.to_date(F.lit("1992-01-01")).alias("valid_from"),
        split.alias("valid_to"),
    )
    v2 = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.concat(F.lit("MOVED-"), F.col("c_mktsegment")).alias("segment"),
        split.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    joined = scd.scd2_asof_join(
        orders,
        v1.unionByName(v2),
        key_col="o_custkey",
        at_col="o_orderdate",
        dim_key_col="custkey",
    )
    return (
        joined.groupBy(
            "segment", F.year("o_orderdate").alias("order_year")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("segment", "order_year")
    )


def q_docs_llm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship LLM-corpus build: the whole preprocessing chain as ONE
    declarative plan — exact dedup (first-wins on md5 of normalized
    text) → quality filter → eval-set decontamination (broadcast
    shingle anti-join) → per-source mixture sampling (map-side
    fingerprint draw) → train/val/test split (map-side) → TRAINING
    SHARDS for the train split (`assign_training_shards`: greedy
    token-budget packing in deterministic shuffle order, the global
    prefix-sum decomposed into md5 key-range buckets so there is no
    unpartitioned window) → per (split, shard) doc/token totals
    (val/test carry shard −1).

    Catalyst sees every stage at once: the quality filter and the
    map-side fingerprint stages collapse into the scans around the
    real shuffles (dedup's aggregate, the contamination count, the
    per-bucket packing window), and column pruning drops `text` the
    moment the last text-derived value is computed. This is the chain
    the reference runs as nine separate imperative scripts
    (SURVEY.md §3) plus the output sharding it doesn't have — one plan
    the optimizer can see end to end, raw bytes to shard layout.
    """
    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 37 == 0)
    tr = docs.filter(F.col("doc_id") % 37 != 0)
    d1 = dedup.dedup_exact_content(tr, "text", "doc_id")
    d2 = d1.filter(etext.quality_score("text") >= 0.55)
    d3 = sketches.decontaminate(d2, ev, "doc_id", "text", k=3)
    rates = {"src0": 0.25, "src1": 0.5, "src2": 0.75, "src3": 0.0}
    d4 = sampling.weighted_mixture_sample(
        d3, "source", rates, "doc_id", default_rate=0.6
    )
    d5 = splits.assign_split(d4, "doc_id")
    # pin the split corpus before it branches THREE ways (the packing
    # bucket-sum collect, the train shard branch, the val/test branch):
    # AQE drops cross-branch exchange reuse, so unpinned the whole
    # dedup→quality→decontaminate→mixture chain executes once per
    # branch — measured at sf0.1: full cycle 4.56 → 2.30 s with this
    # one bounded materialization (the surviving corpus), identical
    # output. Same pin-iff-recompute-exceeds-materialization rule as
    # cosine_near_dup_via_ivf (SCALING.md r7).
    d5 = d5.localCheckpoint(eager=True)
    toks = F.greatest(F.lit(1), etext.token_count("text"))
    sharded = packing.assign_training_shards(
        d5.filter(F.col("split") == "train").select("doc_id", "text", "split"),
        "doc_id",
        toks,
        tokens_per_shard=2000,
    )
    rest = (
        d5.filter(F.col("split") != "train")
        .select("doc_id", "text", "split")
        .withColumn("shard", F.lit(-1).cast("bigint"))
    )
    d6 = sharded.select("doc_id", "text", "split", "shard").unionByName(rest)
    return (
        d6.groupBy("split", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(etext.token_count("text")).alias("total_tokens"),
        )
        .orderBy("split", "shard")
    )


def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical Markov transition matrix over per-user event
    sequences — the user-journey statistic behind funnel design and
    behavioral drift monitoring (reference domain:
    `Exploration/ExploratoryAnalysis.py`'s engagement analyses; this
    is its sequence-structure complement): for each ordered
    (event_type → next event_type) step within a user's timeline,
    the exact transition count and the per-source probability.

    Plan shape: ONE scan of events, ONE window shuffle partitioned by
    user_id (never global — the sessionize key), lead() inside the
    partition, then a map-side-combinable (src, dst) count. The
    per-source total is a window SUM over the counts table — |types|²
    rows, so the second WindowExec runs over a BOUNDED partitioned
    table and the events subtree is never recomputed (a totals
    groupBy + self-join would duplicate the scan+window on both join
    sides). p is one IEEE divide rounded 6dp AFTER exact integer
    counts (the house ratio convention). At 100 TB: the window shuffle
    is the sessionize shuffle (same key), everything after the first
    aggregate is |types|²-bounded."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    counts = pairs.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("src")
    return (
        counts.withColumn("__t", F.sum("n").over(wt))
        .select(
            "src",
            "dst",
            "n",
            F.round(F.col("n") / F.col("__t"), 6).alias("p"),
        )
        .orderBy("src", "dst")
    )


def q_events_transition_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral drift between the two temporal halves of the event
    log: per-source L1 distance between the empirical transition
    distributions of period 1 (first half of the date range) and
    period 2 — the sequence-level drift monitor that complements
    `events_drift_scores`' value-histogram drift (a user journey can
    shift with every marginal histogram unchanged).

    Conventions applied from the r11 driver-red root-cause: the L1
    distance is emitted as integer MICRO-UNITS (per-dst
    `round(|p1−p2|·1e6)` as bigint, summed exactly as integers — no
    engine-ordered IEEE sum, no rounded-double output), and the period
    boundary is pure integer DATE arithmetic
    (`lo + (hi−lo) div 2` days) so both engines split identically.
    A transition belongs to the period of its SOURCE event.

    Plan shape: one bounded min/max date aggregate broadcast onto the
    pair stream; the sessionize-key window for lead(); one map-side-
    combinable (src,dst) conditional count; per-period totals as
    window SUMs over the |types|²-bounded counts table; final
    |types|-row aggregate. At 100 TB the cost is the per-user window
    shuffle — same key and shape as sessionize."""
    events = _t(spark, sf_dir, "events")
    bounds = events.agg(
        F.min(F.to_date("ts")).alias("__lo"), F.max(F.to_date("ts")).alias("__hi")
    ).withColumn(
        "__mid",
        F.expr("date_add(__lo, cast((datediff(__hi, __lo) div 2) as int))"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.to_date("ts").alias("__d"),
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    pairs = (
        seq.filter(F.col("dst").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            "src",
            "dst",
            F.when(F.col("__d") <= F.col("__mid"), F.lit(1))
            .otherwise(F.lit(2))
            .alias("period"),
        )
    )
    counts = pairs.groupBy("src", "dst").agg(
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("period") == 2, 1).otherwise(0)).alias("n2"),
    )
    ws = Window.partitionBy("src")
    terms = (
        counts.withColumn("__t1", F.sum("n1").over(ws))
        .withColumn("__t2", F.sum("n2").over(ws))
        .withColumn(
            "__p1",
            F.when(F.col("__t1") == 0, F.lit(0.0)).otherwise(
                F.col("n1") / F.col("__t1")
            ),
        )
        .withColumn(
            "__p2",
            F.when(F.col("__t2") == 0, F.lit(0.0)).otherwise(
                F.col("n2") / F.col("__t2")
            ),
        )
        .withColumn(
            "__d_micro",
            F.round(F.abs(F.col("__p1") - F.col("__p2")) * 1e6, 0).cast("long"),
        )
    )
    return (
        terms.groupBy("src")
        .agg(
            F.sum("n1").alias("n1"),
            F.sum("n2").alias("n2"),
            F.sum("__d_micro").alias("l1_micro"),
        )
        .orderBy("src")
    )


def q_events_transition_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained transition counts
    (`operators/rollup.py:incremental_transition_batch`): the events
    stream replays as 3 TIME-RANGE chunks (date terciles — integer
    date arithmetic), each folding within-chunk pairs PLUS the chunk
    seam's boundary pairs (recorded per-user tail → chunk's first
    event) into a manifest-committed store. Unlike the algebraic
    (day,type) rollup, a transition matrix is NOT batch-decomposable —
    the seam pairs exist in neither chunk — so the state carries a
    per-user tail and the fold repairs the seam (the batch analog of
    `sessionize_bounded`'s boundary-repair). Counts are exact
    integers, so the chunked replay must hash-match the ONE-SHOT
    oracle over all events: the incremental ≡ recompute identity.

    Bounded driver probes only: the 1-row date-bounds collect and the
    fold's limit(1) order-regression refusal. At 100 TB: counts are
    |types|² rows; tails are user-domain-sized, folded via
    selective_upsert keyed on user_id (touched-users-sized rewrites)."""
    import tempfile

    from social_media_data_pipeline_spark.operators import rollup

    ev = _t(spark, sf_dir, "events")
    b = (
        ev.agg(F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi"))
        .withColumn(
            "b1", F.expr("date_add(lo, cast((datediff(hi, lo) div 3) as int))")
        )
        .withColumn(
            "b2", F.expr("date_add(lo, cast((2 * datediff(hi, lo) div 3) as int))")
        )
        .collect()[0]
    )
    store = _os.path.join(tempfile.mkdtemp(prefix="trans-"), "state")
    chunks = [
        ev.filter(F.to_date("ts") <= F.lit(b["b1"])),
        ev.filter(
            (F.to_date("ts") > F.lit(b["b1"])) & (F.to_date("ts") <= F.lit(b["b2"]))
        ),
        ev.filter(F.to_date("ts") > F.lit(b["b2"])),
    ]
    for c in chunks:
        rollup.incremental_transition_batch(c, store)
    return rollup.read_transition_counts(spark, store).orderBy("src", "dst")


def q_events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion distribution: for each user whose first
    purchase FOLLOWS their first view, the whole-day latency between
    them, bucketed into a day histogram — the activation-funnel
    statistic (how long from first exposure to first conversion).

    ONE map-side-combinable per-user aggregate (conditional MINs of
    the floor-epoch seconds — the sessionize convention), a filtered
    integer day bucket ((p − v) div 86400), then the |days|-bounded
    count. No window, no join, no self-scan: the per-user reduce is
    the only events-sized shuffle. All-integer emission."""
    events = _t(spark, sf_dir, "events")
    epoch = F.col("ts").cast("timestamp").cast("long")
    firsts = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", epoch)).alias("__v"),
        F.min(F.when(F.col("event_type") == "purchase", epoch)).alias("__p"),
    )
    converted = firsts.filter(
        F.col("__v").isNotNull()
        & F.col("__p").isNotNull()
        & (F.col("__p") >= F.col("__v"))
    ).select(F.expr("(__p - __v) div 86400").alias("days_to_convert"))
    return (
        converted.groupBy("days_to_convert")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("days_to_convert")
    )


def q_orders_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order line items
    (`functions/graph.py:association_rules`, Agrawal–Srikant 1994):
    directed part → part rules at pair support ≥ 2, with exact basket
    counts and the integer-exact confidence_ppm / lift_micro chain —
    the recommendation statistic the co-purchase GRAPH family
    (triangles/k-core/LPA over `project_bipartite`) mines structure
    from, here surfaced as ranked rules.

    Plan shape: distinct (order, part) → the project_bipartite
    self-equi-join on the basket key (per-basket fan-out is the
    bounded quadratic knob) → support threshold → everything after is
    rule-table-sized: two hash-equi item-count joins + a 1-row
    broadcast basket total. No IEEE divide reaches the surface."""
    from social_media_data_pipeline_spark.functions import graph

    li = _t(spark, sf_dir, "lineitem")
    rules = graph.association_rules(
        li, "l_orderkey", "l_partkey", min_support=2
    )
    return rules.orderBy(F.desc("n_ab"), "antecedent", "consequent")


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase attributes to
    the user's most recent PRECEDING non-purchase event within a 7-day
    lookback, else 'unattributed' — the classic marketing-attribution
    statistic, computed without a self-join.

    Plan shape: the sessionize-key window with a rows-frame
    (unbounded, -1) carrying `last(..., ignorenulls=True)` of the
    non-purchase (ts, type) pair — two LAST_VALUE columns whose CASE
    null-pattern is identical, so both come from the same touch row;
    the as-of self-join formulation this replaces would shuffle events
    twice and break the rows-frame's O(1) per-row state. Lookback uses
    the sessionize floor-epoch convention; the share is EXACT integer
    parts-per-million ((n·1e6) div total — no IEEE divide on the
    output surface). The total is a window SUM over the counts table —
    a total-agg + crossJoin would recompute the events window on both
    join sides (measured: 6 Exchanges vs 4); the one SinglePartition
    exchange this leaves moves ≤ |types|+1 rows, the documented
    bounded class."""
    events = _t(spark, sf_dir, "events")
    epoch = F.col("ts").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase = F.col("event_type") != "purchase"
    touched = events.select(
        "event_type",
        epoch.alias("__s"),
        F.last(F.when(non_purchase, epoch), ignorenulls=True)
        .over(w)
        .alias("__touch_s"),
        F.last(F.when(non_purchase, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("__touch_type"),
    )
    attributed = touched.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("__touch_s").isNotNull()
            & (F.col("__s") - F.col("__touch_s") <= 7 * 86400),
            F.col("__touch_type"),
        )
        .otherwise(F.lit("unattributed"))
        .alias("source")
    )
    counts = attributed.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy()
    return (
        counts.withColumn("__total", F.sum("n").over(wt))
        .select(
            "source",
            "n",
            F.expr("(n * 1000000) div __total").alias("share_ppm"),
        )
        .orderBy(F.desc("n"), "source")
    )


def q_events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-path mining: the most common 3-step event-type paths
    WITHIN a 30-minute-gap session — the sequence n-gram statistic
    behind funnel hypotheses (which journeys actually happen), over
    the same sessionization semantics as `sessionize`.

    Scale shape: ONE user-key window shuffle total. The naive plan
    re-windows by (user, session) for the in-session leads — a second
    full-data Exchange; instead the leads for event_type AND
    session_id are taken in the SAME user-partitioned sort (session
    ids are assigned in that exact order), and a trigram survives only
    if all three rows share a session. Catalyst compiles both window
    specs into one Window operator over one sort. The tail is a
    map-side-combinable count over ≤ |types|³ rows."""
    from social_media_data_pipeline_spark.streaming.events import sessionize

    ev = _t(spark, sf_dir, "events")
    sid = sessionize(ev, gap_minutes=30, tie_break="event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = sid.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        F.col("session_id").alias("__s"),
        F.lead("session_id", 1).over(w).alias("__s1"),
        F.lead("session_id", 2).over(w).alias("__s2"),
    ).filter(
        F.col("e2").isNotNull()
        & F.col("e3").isNotNull()
        & (F.col("__s1") == F.col("__s"))
        & (F.col("__s2") == F.col("__s"))
    )
    return (
        tri.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "e1", "e2", "e3")
    )


def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift changepoint over the daily event-count series
    (Page 1954) — the batch complement of the streaming drift alarm:
    which DAY did the traffic level shift?

    The statistic is computed in EXACT integers via
    `windows.cusum_scaled` (s'_i = n·cumsum_i − i·total, = n× the
    classical CUSUM), so the curve needs no cross-engine IEEE
    agreement; the argmax |s'| day is flagged `is_peak`. The global
    window is the explicitly-opted-in bounded class (calendar-day
    table, one row per day — the `events_lag_lead` precedent), never
    raw events."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(aggregates.time_bucket("ts", "D").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = windows.cusum_scaled(daily, "n", ["day"])
    return out.select("day", "n", "cusum_scaled", "is_peak").orderBy("day")


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: user-days bucketed by the deepest view → click →
    purchase stage completed IN ORDER within that day.

    Plan: one shuffle keyed (user_id, day); the per-group payload is the
    ordered event-type sequence (bounded by per-user-day activity, the
    sessionize contract), evaluated as a JVM regex subsequence match —
    no Python, no self-joins. The final stage count is a 4-row
    aggregate. Skewed hyperactive users → AQE skew split; or swap in
    the 3-pass conditional-min formulation (one agg per stage, same
    key) when a single group's history outgrows a task.
    """
    ev = _t(spark, sf_dir, "events")
    return aggregates.funnel_stages(ev, stages=("view", "click", "purchase"))


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen week (cohort),
    counted per week-offset of later activity — the classic triangle.

    Plan: distinct (user, week) pairs (one shuffle), per-user min week
    (same key — AQE reuses the partitioning), join back on user, then a
    small (cohort, offset) count-distinct. Every shuffle is keyed on
    user_id until the final tiny rollup.
    """
    ev = _t(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    peruser = ev.select("user_id", wk.alias("wk")).distinct()
    cohort = peruser.groupBy("user_id").agg(F.min("wk").alias("c"))
    return (
        peruser.join(cohort, "user_id")
        .groupBy(
            F.col("c").alias("cohort_week"),
            (F.datediff(F.col("wk"), F.col("c")) / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def q_docs_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at scale: training docs that share NO 3-gram
    shingle with the eval slice, with a distributed Bloom filter
    (`functions/membership.py`) prefiltering the train shingles
    map-side before the exact confirm join — identical output to the
    exact anti-join (the bloom admits no false negatives; false
    positives die in the confirm join), a fraction of the join input
    at 100 TB."""
    from social_media_data_pipeline_spark.functions import membership

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 37 == 0)
    tr = docs.filter(F.col("doc_id") % 37 != 0)
    ev_sh = ev.select(F.explode(sketches.shingles("text", 3)).alias("s"))
    tr_sh = tr.select("doc_id", F.explode(sketches.shingles("text", 3)).alias("s"))
    hits = membership.bloom_semi_join(
        tr_sh, "s", ev_sh, "s", expected_items=4096, fpp=0.01
    )
    contaminated = hits.select("doc_id").distinct()
    return (
        tr.join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def q_docs_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style sub-document dedup: drop every 8-token segment whose
    exact text already appeared earlier in the corpus, reassemble the
    survivors (`operators/dedup.py:segment_dedup`). Two shuffles: the
    first-occurrence window on md5(segment), the reassembly on doc id."""
    docs = _t(spark, sf_dir, "documents")
    out = dedup.segment_dedup(docs, "doc_id", "text", seg_tokens=8)
    return out.select(
        F.col("id").alias("doc_id"), "clean_text", "n_kept", "n_segs"
    ).orderBy("doc_id")


def q_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch calibration: LSH candidate pairs with the MinHash Jaccard
    estimate (fraction of agreeing signature components, Broder 1997)
    next to the exact shingle Jaccard
    (`functions/sketches.py:minhash_jaccard_pairs`)."""
    docs = _t(spark, sf_dir, "documents")
    out = sketches.minhash_jaccard_pairs(docs, "doc_id", "text")
    return out.orderBy("id_a", "id_b")


def q_docs_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus boilerplate table: 3-gram shingles ranked by document
    frequency — the stop-shingle list that prunes the Jaccard join
    (`functions/text.py:boilerplate_ngrams`). TakeOrderedAndProject
    top-k, deterministic (doc_freq DESC, gram) tie-break."""
    docs = _t(spark, sf_dir, "documents")
    return etext.boilerplate_ngrams(docs, "text", k=3, min_df=5, top=100)


def q_docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: 20 greedy merges over the
    corpus word-frequency table — via the CERTIFIED BATCHED trainer
    (`functions/bpe.py:bpe_train_batched`, r7): one global pair
    aggregate + one head collection certify all 20 merges in a single
    round, provably identical (choice, tie-break, pair_freq) to the
    sequential `bpe_train` the oracle replays — the differential gate
    therefore re-proves the batched/sequential identity on real data
    every round. Oracle: generated 20-round CTE chain with the same
    tie-breaks and islands-parity merges."""
    docs = _t(spark, sf_dir, "documents")
    return bpe.bpe_train_batched(docs, num_merges=20).orderBy("merge_rank")


def q_docs_bpe_merges_80(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-SHAPED batched BPE training (r8): 80 merges under a
    TRUNCATED head (head_words=24 of the corpus's 31-word vocabulary,
    top_pairs=48), so certification runs dry repeatedly and the trainer
    exercises the full multi-round path — 9–14 recollection rounds
    measured across the three scales (the 20-merge registration
    certifies in ONE round and never re-collects). The sequential
    oracle re-proves the batched ≡ sequential identity across every
    round boundary on real data each driver round. Why 80, not the
    round-number 200: the corpus runs out of mergeable pairs at 89
    (measured — the 100-merge oracle returns 89 rows at sf0.01), and
    DuckDB's max_expression_depth caps the replay chain below 200
    rounds; 80 is the largest clean config the data supports."""
    docs = _t(spark, sf_dir, "documents")
    return bpe.bpe_train_batched(
        docs, num_merges=80, head_words=24, top_pairs=48
    ).orderBy("merge_rank")


def q_token_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch point queries vs exact counts for the 30 most
    frequent tokens (`functions/sketches.py:cms_build/cms_estimate`,
    depth 4 × width 512): the mergeable frequency structure whose
    shuffle is bounded by sketch size, with the CMS overestimate
    property visible in the output (cms_est >= exact_cnt always)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(etext.tokenize("text")).alias("t")).filter(
        F.length("t") > 0
    )
    sketch = sketches.cms_build(toks, "t", depth=4, width=512)
    exact = toks.groupBy("t").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("t")).limit(30)
    est = sketches.cms_estimate(sketch, top.select("t"), "t", depth=4, width=512)
    return (
        top.join(est, "t")
        .select("t", "exact_cnt", "cms_est")
        .orderBy(F.desc("exact_cnt"), F.asc("t"))
    )


def q_events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketches (`functions/sketches.py:kmv_build`):
    per-(event_type, week) sketches of distinct users, MERGED across
    weeks with `kmv_merge`, estimated with the (k-1)/coverage
    estimator, side-by-side with the exact distinct count. The merge
    path is the point: persistable per-slice sketches unioned later —
    what `approx_count_distinct` (opaque HLL registers) can't do — and
    deterministic md5 hashing makes the whole thing exact-SQL
    oracle-checkable (the oracle computes the global k-smallest
    directly; the weekly merge is provably lossless)."""
    ev = _t(spark, sf_dir, "events")
    weekly = ev.select(
        "event_type", F.date_trunc("week", F.col("ts")).alias("wk"), "user_id"
    )
    sk = sketches.kmv_build(weekly, ["event_type", "wk"], "user_id", k=64)
    merged = sketches.kmv_merge(sk, ["event_type"], k=64)
    est = sketches.kmv_estimate(merged, k=64)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select("event_type", "exact_distinct", "distinct_est")
        .orderBy("event_type")
    )


def q_events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (`sketches.sample_quantile_sketch`):
    per-(event_type, week) deterministic bottom-k-by-hash samples of
    `value`, merged across weeks, then p50/p90/p99 order statistics —
    the persistable quantile structure percentile_approx's opaque
    state can't be. Same lossless-merge machinery as
    events_kmv_distinct; exact-SQL oracle replays the global bottom-k
    directly."""
    ev = _t(spark, sf_dir, "events")
    weekly = ev.select(
        "event_type",
        F.date_trunc("week", F.col("ts")).alias("wk"),
        "event_id",
        "value",
    )
    sk = sketches.sample_quantile_sketch(
        weekly, ["event_type", "wk"], "event_id", "value", k=256
    )
    merged = sketches.sample_quantile_merge(sk, ["event_type"], k=256)
    est = sketches.sample_quantile_estimate(
        merged, {"p50_est": 0.5, "p90_est": 0.9, "p99_est": 0.99}
    )
    return est.select(
        "event_type", "n_sample", "p50_est", "p90_est", "p99_est"
    ).orderBy("event_type")


def q_docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality filter: 10 deterministic batch-GD iterations
    of logistic regression over 256 hashed (uni+bi)gram buckets
    (lang='en' proxy label), then score every document
    (`functions/classifier.py`). Iterative like dedup_clusters; the
    oracle replays the full training loop as a generated CTE chain."""
    docs = _t(spark, sf_dir, "documents")
    w = classifier.logreg_train(
        docs, F.col("lang") == "en", n_buckets=256, iters=10, lr=1.0
    )
    return (
        classifier.quality_scores(docs, w, n_buckets=256)
        .select(
            F.col("id").alias("doc_id"),
            F.col("n_feats").cast("bigint").alias("n_feats"),
            F.round("score", 4).alias("score"),
        )
        .orderBy("doc_id")
    )


def q_docs_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding composed with training: replay the 20 trained
    merges over every document (`functions/bpe.py:bpe_encode_corpus`,
    a broadcast join against the trained vocabulary) and report per-doc word/BPE-token counts — compression the merges
    bought. Oracle joins exploded tokens to the trained vocabulary's
    final symbol arrays (every corpus word is in-vocab by
    construction)."""
    docs = _t(spark, sf_dir, "documents")
    trained = bpe.bpe_train_batched(docs, num_merges=20)
    merges = [(r["lhs"], r["rhs"]) for r in trained.orderBy("merge_rank").collect()]
    enc = bpe.bpe_encode_corpus(docs, merges)
    return enc.select(
        "doc_id",
        "n_words",
        F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
    ).orderBy("doc_id")


def q_docs_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (RAG/embedding prep): 24-token windows,
    8-token overlap, with token provenance
    (`operators/packing.py:chunk_documents`). Entirely map-side — one
    projection, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return packing.chunk_documents(
        docs, chunk_tokens=24, overlap=8
    ).orderBy("id", "chunk_id")


def q_docs_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM quality score: mean transition
    log-probability under the corpus's own bigram model with add-α
    unigram backoff (`functions/text.py:bigram_logprob`) — catches
    shuffled/stuffed word order the unigram filter can't see. Docs with
    <2 tokens have no transitions and drop out (documented contract)."""
    docs = _t(spark, sf_dir, "documents")
    return etext.bigram_logprob(docs).orderBy("doc_id")


def q_docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): score every document
    by how English-like its hashed (uni+bi)gram profile is — target
    model fit on lang='en' rows, raw model on all rows, smoothed
    log-ratio summed per doc (`functions/importance.py`). Broadcast
    1024-row ratio table; map-side feature hashing."""
    docs = _t(spark, sf_dir, "documents")
    return importance.dsir_logweights(
        docs, F.col("lang") == "en", n_buckets=1024, alpha=0.5
    ).orderBy("doc_id")


def q_docs_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel-top-k resample: 100 docs drawn without replacement
    with probability ∝ exp(dsir_logw), derandomized via md5 fingerprint
    noise so the draw replays in DuckDB
    (`functions/importance.py:dsir_resample`)."""
    docs = _t(spark, sf_dir, "documents")
    w = importance.dsir_logweights(docs, F.col("lang") == "en", n_buckets=1024, alpha=0.5)
    return importance.dsir_resample(w, k=100, seed="dsir")


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round PageRank (`functions/graph.py:pagerank`) over the
    customer→supplier purchase graph (orders ⋈ lineitem edges,
    suppliers offset to a disjoint id space). Exact integer micro-unit
    arithmetic → the full 5-round run replays bit-for-bit in the
    generated DuckDB WITH-chain (`build_pagerank_sql`), the same
    differential-oracle trick as kmeans_train/docs_quality_classifier.
    Scale shape: the edge list is deduped, hash-partitioned by src and
    pinned once; each round is one contribution shuffle + rank
    co-partition with lineage cut — O(rounds) flat plans, no collect."""
    from social_media_data_pipeline_spark.functions import graph as egraph

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(1_000_000_000) + F.col("l_suppkey")).alias("dst"),
        )
    )
    return egraph.pagerank(edges, iters=5).orderBy("node")


def q_graph_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank with dangling-mass redistribution
    (`functions/graph.py:pagerank(dangling="redistribute")`) on the
    same customer→supplier purchase graph as `graph_pagerank` — every
    supplier node is a sink there, so this is the mode that keeps
    total rank ≈ n·1e6 (textbook PageRank; the drop variant loses the
    sink mass). Per-round the summed sink rank is an observe metric on
    the checkpoint job (1 scalar to the driver, no extra job) and the
    uniform integer share replays exactly in the generated DuckDB
    WITH-chain (`build_pagerank_sql(dangling="redistribute")`)."""
    from social_media_data_pipeline_spark.functions import graph as egraph

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.lit(1_000_000_000) + F.col("l_suppkey")).alias("dst"),
        )
    )
    return egraph.pagerank(edges, iters=5, dangling="redistribute").orderBy("node")


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (`functions/graph.py:triangle_counts`)
    over the frequent-co-purchase graph: parts are adjacent when they
    appear together in ≥ 2 orders (the support-2 market-basket graph —
    support 1 is the documented dense variant; at sf0.1 it has 41M
    wedges vs support-2's 69). Degree-ordered orientation bounds wedge
    fan-out by O(√m) per node — the Suri–Vassilvitskii answer to the
    celebrity-skew "last reducer" — and every join is hash-equi; exact
    integer counts replay bit-for-bit in the DuckDB oracle."""
    from social_media_data_pipeline_spark.functions import graph as egraph

    li = _t(spark, sf_dir, "lineitem")
    edges = egraph.project_bipartite(li, "l_orderkey", "l_partkey", min_support=2)
    return egraph.triangle_counts(edges).orderBy("node")


def q_graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the support-2 part co-purchase graph
    (`functions/graph.py:ktruss`, Cohen 2008) — the EDGE-grain
    cohesion sibling of `graph_kcore`: every surviving edge sits in
    ≥ 1 triangle INSIDE the surviving subgraph, with the fixpoint
    support as witness. Strictly stronger than a degree threshold
    (a celebrity hub inflates degrees but not mutual triangles) — the
    spam-ring/co-purchase-clique extractor. Bounded-round peel with
    one degree-ordered triangle-support pass per round (all joins
    hash-equi, wedge fan-out O(√m) per node); measured fixpoint is 2
    rounds at every scale, `rounds=6` is the replay bound and the
    oracle (`build_ktruss_sql`) unrolls all 6 — extra rounds identity
    on both sides, same contract as `graph_kcore`."""
    from social_media_data_pipeline_spark.functions import graph as egraph

    li = _t(spark, sf_dir, "lineitem")
    edges = egraph.project_bipartite(li, "l_orderkey", "l_partkey", min_support=2)
    return egraph.ktruss(edges, k=3, rounds=6).orderBy("a", "b")


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the support-2 part co-purchase graph
    (`functions/graph.py:kcore`): bounded-round peeling — each round
    one degree partial-aggregate + two hash-equi semi joins, edge set
    monotonically shrinking, observe-metric early stop. `rounds=10`
    is a replay bound, not an approximation: measured convergence is
    1/3/6 rounds at sf0.001/0.01/0.1 and extra rounds are identity,
    so Spark's early stop and the oracle's full 10-round unroll
    (`build_kcore_sql`) agree bit-for-bit."""
    from social_media_data_pipeline_spark.functions import graph as egraph

    li = _t(spark, sf_dir, "lineitem")
    edges = egraph.project_bipartite(li, "l_orderkey", "l_partkey", min_support=2)
    return egraph.kcore(edges, k=2, rounds=10).orderBy("node")


def q_events_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type outlier clipping (`operators/aggregates.py:winsorize`):
    `value` clipped to its exact per-event_type [p01, p99] — the
    standard guard before a numeric column feeds features or means.
    One exact-percentile aggregate per type (Spark `percentile` ≡
    DuckDB `quantile_cont` to the bit — verified), broadcast back,
    clip map-side; the output aggregates the clipped column in
    integer micro-units (per-value round-then-sum, the registry
    convention)."""
    ev = _t(spark, sf_dir, "events")
    w = aggregates.winsorize(ev, "value", 0.01, 0.99, group_cols=("event_type",))
    micro = F.round(F.col("value_w") * 1e6).cast("bigint")
    return (
        w.groupBy("event_type")
        .agg(
            F.round(F.min("__q_lo"), 6).alias("q_lo"),
            F.round(F.max("__q_hi"), 6).alias("q_hi"),
            F.sum((F.col("value") < F.col("__q_lo")).cast("long")).alias("n_low"),
            F.sum((F.col("value") > F.col("__q_hi")).cast("long")).alias("n_high"),
            F.sum(micro).alias("sum_w_micro"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def q_events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed engagement per (user, type)
    (`operators/aggregates.py:decayed_sum`): Σ value × 0.5^halvings
    with a 7-day half-life as of 2024-02-01 — stepped decay because
    0.5^n is dyadic and therefore BIT-EXACT in IEEE doubles on both
    engines (a smooth per-day exponent is transcendental and
    last-ulp engine-dependent). Pure map expressions into one
    partial-agg shuffle."""
    ev = _t(spark, sf_dir, "events")
    out = aggregates.decayed_sum(
        ev,
        "ts",
        "value",
        as_of="2024-02-01",
        half_life_days=7,
        group_cols=("user_id", "event_type"),
    )
    return out.orderBy("user_id", "event_type")


def q_events_robust_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust outlier detection
    (`operators/aggregates.py:robust_anomalies`): modified z-score
    |value − median| > 3.5 × 1.4826 × MAD (Iglewicz–Hoaglin) — the
    50%-breakdown detector whose threshold outliers cannot drag,
    unlike mean/stddev gates. Two exact-percentile aggregates
    (median, MAD) broadcast back, division-free map-side flag;
    exactness rides the verified Spark `percentile` ≡ DuckDB
    `quantile_cont` bit-equality. ~4% of the synthetic event values
    flag at every scale — real rows, not a vacuous gate."""
    ev = _t(spark, sf_dir, "events")
    out = aggregates.robust_anomalies(ev, "value", group_cols=("event_type",))
    return (
        out.groupBy("event_type")
        .agg(
            F.round(F.min("__med"), 6).alias("med"),
            F.round(F.min("__mad"), 6).alias("mad"),
            F.sum(F.col("is_anomaly").cast("long")).alias("n_anom"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def q_graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the co-purchase graph
    (`functions/graph.py:pagerank(weight_col=...)`) — co-purchase
    support as edge strength: contribution rank×85×w div (100×W(u)),
    still exact integer micro-units, still order-independent, so the
    generated oracle (`build_pagerank_sql(weighted=True)`) replays
    bit-for-bit. The undirected graph enters as both directed edges
    (same construction both sides); duplicate weighted edges collapse
    by summing. Overflow bound documented in the operator: w × rank
    < 1.08e17 micro."""
    from social_media_data_pipeline_spark.functions import graph as egraph

    li = _t(spark, sf_dir, "lineitem")
    # pin the projection before symmetrizing: the flip-union's two
    # branches are separate subtrees (no cross-branch CSE), so an
    # unpinned `und` would run the wedge join TWICE inside pagerank's
    # edge checkpoint (measured ~2.6 s each at sf0.1)
    und = egraph.project_bipartite(
        li, "l_orderkey", "l_partkey", min_support=2, keep_support=True
    ).localCheckpoint(eager=True)
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "sup")
    )
    return egraph.pagerank(sym, iters=5, weight_col="sup").orderBy("node")


def q_graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities on the support-2 part co-purchase
    graph (`functions/graph.py:label_propagation`, Raghavan 2007
    derandomized with self-votes): 4 synchronous rounds, each one
    (node, label) partial-count aggregate + an argmax aggregate
    (max(struct(count, −label)) — no window) + a hash join back;
    per-round lineage cut unconditional. Completes the graph family
    (components, PageRank, triangles, k-core → communities). The
    oracle (`build_lpa_sql`) unrolls exactly 4 rounds; Spark's early
    stop fires only on a true fixpoint, where extra oracle rounds are
    identity."""
    from social_media_data_pipeline_spark.functions import graph as egraph

    li = _t(spark, sf_dir, "lineitem")
    edges = egraph.project_bipartite(li, "l_orderkey", "l_partkey", min_support=2)
    return egraph.label_propagation(edges, rounds=4).orderBy("node")


def q_graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (`functions/graph.py:personalized_pagerank`
    — Haveliwala 2002 topic-sensitive restart) from one brand's part
    catalog over the support-weighted co-purchase graph: "what does
    Brand#11's audience also buy", the related-item retrieval query.
    Seed-scaled exact integer micro-units — restart mass teleports only
    to the seed parts, so scores are proximity to the catalog, not
    global centrality, and the 4-round weighted run replays bit-for-bit
    in the generated DuckDB WITH-chain (`build_ppr_sql`). Output is the
    touched set only (rank_micro > 0): seed-local by construction — at
    100 TB the per-round rank table stays neighborhood-sized while the
    pre-partitioned edge list never re-shuffles."""
    from social_media_data_pipeline_spark.functions import graph as egraph

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    # pin before the flip union — see q_graph_pagerank_weighted: the
    # union's branches would otherwise each run the wedge join
    und = egraph.project_bipartite(
        li, "l_orderkey", "l_partkey", min_support=2, keep_support=True
    ).localCheckpoint(eager=True)
    sym = und.unionByName(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "sup")
    )
    seeds = part.filter(F.col("p_brand") == "Brand#11").select(
        F.col("p_partkey").alias("node")
    )
    return (
        egraph.personalized_pagerank(sym, seeds, iters=4, weight_col="sup")
        .orderBy("node")
    )


def q_graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction
    (`functions/graph.py:link_predict_ra` — Zhou–Lü–Zhang 2009) on the
    support-2 co-purchase graph: non-adjacent part pairs ranked by
    common-neighbor evidence (cn), RA index (Σ 1/deg(w) as exact
    integer micro-units — integer div per term, order-independent),
    and neighborhood Jaccard. The "predicted co-purchase" recommender
    query; every score column is integer-exact so the oracle is a
    direct SQL mirror. Scale shape: one center-keyed wedge join + a
    pair partial-count aggregate + anti join against the edge set; the
    celebrity-center blow-up knob (`max_center_degree`) stays unset
    here — the support-thresholded graph's max degree is 52 — and is
    measured in the hub-skew suite."""
    from social_media_data_pipeline_spark.functions import graph as egraph

    li = _t(spark, sf_dir, "lineitem")
    edges = egraph.project_bipartite(li, "l_orderkey", "l_partkey", min_support=2)
    return egraph.link_predict_ra(edges, min_common=1).orderBy("n1", "n2")


def q_docs_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard join at 0.6 via prefix filtering
    (`functions/sketches.py:ngram_jaccard_pairs_prefix` — SSJoin /
    All-Pairs, Bayardo 2007): identical result to the naive
    inverted-index join with NO doc-freq pruning — boilerplate-only
    duplicates included, the pairs `max_doc_freq` pruning drops — but
    the self-join runs over rarity-ordered per-doc PREFIXES
    (p = n − ⌈t·n⌉ + 1 tokens), so a shingle's join fan-out is its
    count among prefixes, not its corpus frequency. The lossless
    scale path for high-threshold dedup joins."""
    docs = _t(spark, sf_dir, "documents")
    return sketches.ngram_jaccard_pairs_prefix(
        docs, "doc_id", "text", shingle_k=3, threshold=0.6
    ).orderBy("id_a", "id_b")


def q_docs_snm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs
    (`operators/dedup.py:snm_pairs` — Hernández–Stolfo 1995) over the
    32-char normalized-text prefix, window 5: the entity-resolution
    blocking method for near-dups that SORT together (typo variants,
    title prefixes) without needing token overlap — complements the
    shingle/minhash family. Global rank with NO global window (the
    `deterministic_shuffle` bucket-offset decomposition over an
    order-preserving key prefix), neighborhoods via a block-banded
    hash-equi self-join — never quadratic, pairs straddling bucket
    boundaries included. Oracle = ROW_NUMBER over the same sort + a
    rank-distance join, so a single missed boundary pair
    hash-mismatches."""
    from social_media_data_pipeline_spark.functions.text import normalize_text
    from social_media_data_pipeline_spark.operators.dedup import snm_pairs

    docs = _t(spark, sf_dir, "documents")
    key = F.substring(normalize_text("text"), 1, 32)
    return snm_pairs(docs, "doc_id", key, window=5).orderBy("id_a", "id_b")


def q_docs_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform negative sampling
    (`operators/sampling.py:negative_pairs`, k=2): contrastive-training
    partners without a cartesian product and without rand() (task
    retries corrupt rand() — the salted-join lesson). Dense 1..N md5
    order index (bucket-offset rank, no global window), per-anchor md5
    draws mapped to [1, N−1] with the skip-self shift — exactly
    uniform over the other N−1 rows — resolved by one hash-equi join.
    The whole construction replays in SQL, so the SAMPLER ITSELF is
    differentially tested, not just its row count."""
    from social_media_data_pipeline_spark.operators.sampling import (
        negative_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return negative_pairs(docs, "doc_id", k=2).orderBy(
        "anchor_id", "sample_idx"
    )


def q_docs_pack_bfd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing whole-document packing
    (`operators/packing.py:pack_bestfit`): truncation-free bins — no
    document is ever split across sequences (Ding et al. 2024), the
    complement of `docs_pack_sequences`' zero-waste split layout.
    Docs hash into 4 independent shards (one hash-partition shuffle);
    within a shard BFD runs sequentially inside one `applyInPandas`
    with bounded per-shard state — the documented Pandas-UDF boundary
    for an inherently sequential placement. The oracle replays the
    exact placement with a DuckDB RECURSIVE CTE carrying the open-bin
    list as per-shard state (one recursion step per document), so
    every (doc → bin) decision is differential-checked, not just the
    aggregate fill."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.greatest(F.lit(1), F.expr("n_chars div 4"))
    out = packing.pack_bestfit(
        docs.select("doc_id", "n_chars"), "doc_id", toks,
        budget=512, n_shards=4,
    )
    return out.select(
        F.col("id").alias("doc_id"), "n_tokens", "shard", "bin_id", "oversize"
    ).orderBy("doc_id")


def q_orders_join_size_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation WITHOUT running the join
    (`functions/sketches.py:join_key_sample/join_size_estimate`,
    Vengerov et al. 2015 correlated sampling): both sides keep exact
    per-key counts for the ~1/8 of DISTINCT keys whose md5 hash clears
    the shared threshold — the same keys survive on both sides, so the
    sample observes matching-key count PRODUCTS directly. The sketch
    is a mergeable (key, n_rows) table built per ingest slice; the
    estimate is integer arithmetic end-to-end and replays in SQL. The
    exact join size rides along for calibration — at 100 TB you build
    the sketches at ingest and SKIP the exact column; this is the
    planning primitive for broadcast-vs-shuffle decisions."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sa = sketches.join_key_sample(orders, "o_orderkey", inv_rate=8)
    sb = sketches.join_key_sample(li, "l_orderkey", inv_rate=8)
    est = sketches.join_size_estimate(sa, sb, inv_rate=8)
    exact = (
        orders.select(F.col("o_orderkey").alias("k"))
        .join(li.select(F.col("l_orderkey").alias("k")), "k")
        .agg(F.count(F.lit(1)).alias("exact_pairs"))
    )
    return est.crossJoin(exact)


def q_docs_pack_bfd_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency dashboard over `pack_bestfit` output
    (`operators/packing.py:packing_stats`): per shard — docs, bins
    used, token totals, oversize count, waste fraction (1 − fill over
    non-oversize capacity). This is the number that prices the
    truncation-free property against `pack_sequences`' zero-waste
    split layout; at 100 TB it is the per-ingest-batch gauge that
    decides the budget/shard configuration. Pure aggregate over the
    BFD placements; the oracle replays the same recursive state
    machine and aggregates identically."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.greatest(F.lit(1), F.expr("n_chars div 4"))
    packed = packing.pack_bestfit(
        docs.select("doc_id", "n_chars"), "doc_id", toks,
        budget=512, n_shards=4,
    )
    return packing.packing_stats(packed, budget=512).orderBy("shard")


def q_events_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact-dim join (`operators/joins.py:salted_join`,
    HYBRID mode): the top-3 event users take the salted path (content
    hash spreads each hot key over 8 shuffle partitions, dim rows
    replicated per salt), the cold tail joins plainly, results
    unioned. The salt is a DETERMINISTIC xxhash64 of the row — a
    rand() salt in a shuffle key can lose/duplicate rows on task
    retry. Result provably identical to the plain join: the oracle IS
    the plain join. This is the manual fallback for skew AQE can't
    repair (stream-stream joins, downstream agg skew, AQE-off)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    hot = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .count()
        .orderBy(F.desc("count"), "user_id")
        .limit(3)
        .select("user_id")
    )
    out = joins.salted_join(ev, dim, "user_id", n_salts=8, hot_keys=hot)
    return out.select("event_id", "user_id", "segment", "value").orderBy("event_id")


def q_events_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, epoch-day)
    (`scale.py:zorder_key`): the multi-dimensional layout key behind
    `write_zordered` + `file_skipping_index` — pure shift/mask JVM
    expression, oracle = the identical generated bit expression
    (`build_zorder_sql`). Pruning power is measured in SCALING.md;
    this query pins the key itself bit-for-bit."""
    from social_media_data_pipeline_spark import scale as escale

    ev = _t(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    return (
        ev.select(
            "event_id",
            "user_id",
            day.alias("day"),
            escale.zorder_key([F.col("user_id"), day], bits=16).alias("zkey"),
        )
        .orderBy("event_id")
    )


def q_events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog with EXPLICIT registers
    (`functions/sketches.py:hll_build`): per-(event_type, week) user
    sketches, merged across weeks (element-wise register max —
    lossless over the union stream), estimated next to the exact
    count. Registers are a plain mergeable array<int> column —
    persistable per slice, unlike `approx_count_distinct`'s opaque
    state — and the integer-exact harmonic sum + literal correction
    table make the whole estimate replay bit-for-bit in DuckDB."""
    ev = _t(spark, sf_dir, "events")
    weekly = ev.select(
        "event_type", F.date_trunc("week", F.col("ts")).alias("wk"), "user_id"
    )
    sk = sketches.hll_build(weekly, ["event_type", "wk"], "user_id", p=8)
    merged = sketches.hll_merge(sk, ["event_type"], p=8)
    est = sketches.hll_estimate(merged, p=8)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.join(exact, "event_type").orderBy("event_type")


def q_events_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set operations (`sketches.kmv_overlap_pairs`, Beyer et al.
    2007): pairwise Jaccard + intersection-size estimates between
    event types' distinct-user sketches, next to the exact overlap —
    the 100 TB cross-source-overlap / contamination-rate answer at
    256 B per group instead of a distinct×distinct join. Deterministic
    hashes → the whole pair table replays in DuckDB list ops."""
    ev = _t(spark, sf_dir, "events")
    sk = sketches.kmv_build(ev, ["event_type"], "user_id", k=64)
    est = sketches.kmv_overlap_pairs(
        sk.select(F.col("event_type"), F.col("kmv")), "event_type", k=64
    )
    du = ev.select("event_type", "user_id").distinct()
    exact = (
        du.alias("x")
        .join(
            du.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("a"), F.col("y.event_type").alias("b")
        )
        .agg(F.count("*").alias("n_exact"))
    )
    return est.join(exact, ["a", "b"], "left").orderBy("a", "b")


def q_docs_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token-budget output sharding
    (`operators/packing.py:assign_training_shards`): documents in
    deterministic shuffle order packed greedily into ~2000-token
    shards (chars/4 token estimate). The global token prefix-sum is
    decomposed into fixed md5 key-range buckets + a broadcast offset
    table — no global window; the oracle replays the same integer
    cumsum with a plain SQL window."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.greatest(F.lit(1), F.expr("n_chars div 4"))
    out = packing.assign_training_shards(
        docs.select("doc_id", "n_chars"), "doc_id", toks, tokens_per_shard=2000
    )
    return out.select("doc_id", "shard").orderBy("doc_id")


def q_embedding_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL residual IVF-PQ (`pq.ivf_pq_residual_topk`, Jégou 2011
    §IV-A): trained Lloyd centroids (5 rounds), codebook trained on
    vector−centroid residuals (3 rounds, batched), queries compared
    via their per-cell residuals — the production vector-search form,
    end-to-end differential-checked: the oracle chains the kmeans
    centroid CTE → cosine assignment → residual CTE → the pq-kmeans
    codeword chain over residuals → encode → integer-micro ADC."""
    from social_media_data_pipeline_spark.functions import kmeans, pq

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans.kmeans_centroids(emb, iters=5)
    queries = emb.filter(F.col("vec_id") < 5)
    return pq.ivf_pq_residual_topk(
        queries, emb, cents, m=8, ksub=16, iters=3, k=5
    ).orderBy("query_id", "rank")


def q_embedding_spectrum_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incrementally-folded covariance spectrum store
    (`streaming/spectrum.py`): the embedding corpus replays as 3
    ordered chunks (vec_id mod 3), each folding its EXACT integer Gram
    partials into a manifest-committed store via the CAS discipline;
    the read-back covariance must be hash-identical to the ONE-SHOT
    `embedding_covariance` oracle over all vectors — the
    incremental ≡ recompute identity under the driver gate (the
    `events_rollup_incremental` pattern for the embedding-drift
    monitoring loop). Store state is d(d+1)/2 + d + 1 rows regardless
    of corpus size; per-fold cost is one Gram pass over the chunk +
    the store-sized merge."""
    import tempfile

    from social_media_data_pipeline_spark.streaming import spectrum

    emb = _t(spark, sf_dir, "embeddings")
    store = _os.path.join(tempfile.mkdtemp(prefix="spectrum-"), "gram")
    for c in range(3):
        spectrum.spectrum_batch(
            spark, emb.filter(F.col("vec_id") % 3 == c), store, d=64
        )
    return spectrum.covariance_from_store(spark, store).orderBy("i", "j")


def q_embedding_ivf_pq_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ rotation composed into residual IVF-PQ (`pca.
    opq_rotation_from_cov` + `pq.ivf_pq_residual_topk`, Ge 2013 +
    Jégou 2011): the bench embeddings are isotropic (rotation gains
    nothing, measured r11), so the query manufactures anisotropy —
    a 16-dim slice is skewed by a deterministic md5-derived
    S = Q·diag(e²→e⁻²) and rotated by the OPQ rotation R trained
    offline on a distribution-matched deterministic sample
    (`pca.opq_demo_fixture`; the recall WIN of this rotation at equal
    cand_frac is measured in tools/ann_recall.py). Both matmuls
    compose into ONE literal matrix T = R·S applied as fixed
    left-to-right double chains — map-side only — then the full
    residual IVF-PQ chain (trained cells → residual codebook → ADC)
    runs over the rotated vectors. The oracle embeds the SAME T
    literals and replays the entire downstream chain; the rotation
    TRAINING (eigendecomposition) is not SQL-expressible and is
    covered by pytest + the persisted rotation artifact tests."""
    from social_media_data_pipeline_spark.functions import kmeans, pca, pq

    emb = _t(spark, sf_dir, "embeddings")
    t_mat = pca.opq_demo_fixture(d=16, m=4)[2]
    # one generated-SQL parse instead of ~512 Py4J Column round-trips
    # (pca.rotation_select_sql: identical IEEE chain, measured
    # 2.46 -> 0.31 s of construct per cycle)
    rot = emb.selectExpr("vec_id", pca.rotation_select_sql(t_mat))
    cents = kmeans.kmeans_centroids(rot, iters=3)
    queries = rot.filter(F.col("vec_id") < 5)
    return pq.ivf_pq_residual_topk(
        queries, rot, cents, m=4, ksub=16, iters=2, k=5
    ).orderBy("query_id", "rank")


def q_embedding_ivf_pq_opq_searched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-path sibling of `embedding_ivf_pq_opq` — the house
    persisted-vs-full-cycle pattern (every trainer ships its amortized
    production shape): the SAME literal T=R·S rotation map-side, but
    the IVF cells, residual codebook, and encoded corpus come from the
    three manifest-committed artifacts (`ann_index.ivf_centroids_for` /
    `pq_residual_codebook_for` / `pq_codes_for`, tagged with the
    rotated-corpus fingerprint) instead of retraining per query.
    Identical params (iters=3 cells, m=4, ksub=16, iters=2 codebook,
    probes=1) and deterministic seeding → identical results, so the
    oracle IS the full-cycle oracle — which also proves all three
    cache paths bit-match a fresh build (the multiprobe_searched
    precedent). First invocation trains and commits; every later one
    pays one shared fingerprint-validation aggregate + tiny parquet
    reads, and warm search touches only the m-byte codes table."""
    from social_media_data_pipeline_spark.functions import ann_index, pca, pq

    emb = _t(spark, sf_dir, "embeddings")
    t_mat = pca.opq_demo_fixture(d=16, m=4)[2]
    # one generated-SQL parse instead of ~512 Py4J Column round-trips
    # (pca.rotation_select_sql: identical IEEE chain, measured
    # 2.46 -> 0.31 s of construct per cycle)
    rot = emb.selectExpr("vec_id", pca.rotation_select_sql(t_mat))
    tag = _os.path.abspath(sf_dir) + ":embeddings:opq16"
    # fingerprint the RAW corpus: the rotated table is a pure
    # deterministic function of it (T is a fixed literal), so raw-id/
    # vector staleness detection is equally sound and the validation
    # scan skips the 16×16 matmul — at 100 TB the cheapest sufficient
    # signal wins (passed to all three artifacts: ONE scan per cycle)
    fp = ann_index.corpus_fingerprint(emb)
    centroids = ann_index.ivf_centroids_for(rot, tag, iters=3, fingerprint=fp)
    codebook = ann_index.pq_residual_codebook_for(
        rot, tag, ivf_iters=3, m=4, ksub=16, iters=2, fingerprint=fp
    )
    codes = ann_index.pq_codes_for(
        rot, tag, ivf_iters=3, m=4, ksub=16, iters=2, fingerprint=fp
    )
    queries = rot.filter(F.col("vec_id") < 5)
    return pq.ivf_pq_residual_topk(
        queries, rot, centroids, m=4, ksub=16, iters=2, k=5,
        codebook=codebook, codes=codes,
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

# ORDERING CONTRACT: the driver's correctness gate verifies only the FIRST
# 50 entries of this dict (CORRECTNESS_r01-r06 all hold exactly the first
# 50 in registry order). With >100 registered queries the window ROTATES
# each round; the rotation policy prioritizes DRIVER-NEVER-CHECKED queries
# over re-confirming long-green ones: every registered query must receive a
# driver row within 2 rounds (schedule in ROADMAP.md "Driver window
# schedule"). r9 rotates IN the 19 never-driver-checked r8 registrations
# ([r9-in-new]), the 16 stalest rows ([r9-in-stale]: last checked r6),
# and the first 15 of the r7-checked set in registry order
# ([r9-in-return]). The 35 remaining r7-checked rows sit 2 rounds stale
# after r9 and rotate back FIRST in r10, followed by r9 window entries
# displaced by any new registrations; the 50 r8-green rows are 1 round
# old. All tail queries remain verified every session by
# tools/check_correctness.py (the local mirror of the driver gate).
# r10 executes the ROADMAP "r10 window plan (authoritative)": rotate IN the
# 9 never-driver-checked r9 registrations ([r10-in-new]), then the 35
# r7-checked tail rows (2 rounds stale after r9, [r10-in-stale]), then the
# first 6 r8-green rows in registry order ([r10-in-return]) — exactly 50.
# r11 executes the ROADMAP "r11 window plan (authoritative)": rotate IN the
# 15 never-driver-checked r10 + r10-extension registrations ([r11-in-new]),
# then the first 35 r8-green rows in registry order ([r11-in-stale]) —
# exactly 50. The 9 remaining r8-green rows are then the stalest (3 rounds)
# and rotate back FIRST in r12, followed by the 50 r9-green rows (2 rounds
# stale after r11); the 50 r10-green rows are 1 round old.
# r12 EXECUTES the ROADMAP "r12 window plan (authoritative)", amended
# per the r11 verdict Next #1/#2: the 6 never-driver-checked r11
# registrations ([r12-in-new]) first, then the two r11 driver-RED rows
# ([r12-in-recheck]: events_drift_scores / orders_constraint_audit,
# whose oracles carried DuckDB HUGEINT columns — root cause of the r11
# hash mismatches, fixed by CAST(... AS BIGINT)), then the 9 stalest
# r8-green rows ([r12-in-stale]), then the first 33 r9-green rows in
# registry order ([r12-in-return]) — exactly 50. The 17 remaining
# r9-green rows are then the stalest and rotate back FIRST in r13,
# followed by the 50 r10-green rows; the 48 r11-green rows are 1 round
# old.
# Variant notes (tail entries whose operator has a fresher driver row via
# a named sibling): numeric_describe → describe family via column_profile
# (r6); cube_agg → rollup_revenue variant; embedding_ann_lsh → ANN family
# via embedding_near_dup (r6); quantiles → events_quantile_sketch (r6);
# simhash → simhash_near_pairs (r6); embedding_topk → exact baseline of
# embedding_near_dup (r6); minhash_jaccard_est → minhash_lsh_pairs family;
# sessionize → sessionize_bounded (r6). Also: ngram_jaccard → unpruned
# baseline of ngram_jaccard_pruned; embedding_near_dup → exact baseline of
# embedding_near_dup_ivf; row_wise_total → derived from events_pivot;
# docs_fingerprint → text.fingerprint also tested; date_format_labels →
# date_format also covered by derive_columns.
_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # ---- r12 driver window (50) ----
    # never driver-checked (6; registered r11)
    "docs_blocking_quality_sampled": q_docs_blocking_quality_sampled,  # [r12-in-new]
    "docs_blocking_quality_blocks": q_docs_blocking_quality_blocks,  # [r12-in-new]
    "customer_scd2": q_customer_scd2,  # [r12-in-new]
    "embedding_covariance": q_embedding_covariance,  # [r12-in-new]
    "events_user_skew": q_events_user_skew,  # [r12-in-new]
    "embedding_mmr_rerank": q_embedding_mmr_rerank,  # [r12-in-new]
    # re-checks of the two r11 driver reds (oracle HUGEINT fix, r12)
    "events_drift_scores": q_events_drift_scores,  # [r12-in-recheck] red r11
    "orders_constraint_audit": q_orders_constraint_audit,  # [r12-in-recheck] red r11
    # r8-green stalest rows (9): last driver-checked r8, 3 rounds stale
    "running_revenue": q_running_revenue,  # [r12-in-stale] r8
    "count_pushdown": q_count_pushdown,  # [r12-in-stale] r8
    "distinct_sorted": q_distinct_sorted,  # [r12-in-stale] r8
    "kmeans_train": q_kmeans_train,  # [r12-in-stale] r8
    "embedding_ivf_topk_trained": q_embedding_ivf_topk_trained,  # [r12-in-stale] r8
    "embedding_pq_topk_trained": q_embedding_pq_topk_trained,  # [r12-in-stale] r8
    "events_daily": q_events_daily,  # [r12-in-stale] r8
    "simhash_near_pairs": q_simhash_near_pairs,  # [r12-in-stale] r8
    "docs_llm_pipeline": q_docs_llm_pipeline,  # [r12-in-stale] r8
    # r9-green rows (first 33 in registry order, 2 rounds stale)
    "docs_bpe_merges_80": q_docs_bpe_merges_80,  # [r12-in-return] r9
    "embedding_ivf_multiprobe_trained": q_embedding_ivf_multiprobe_trained,  # [r12-in-return] r9
    "docs_dup_window_frac": q_docs_dup_window_frac,  # [r12-in-return] r9
    "graph_triangles": q_graph_triangles,  # [r12-in-return] r9
    "docs_ccnet_buckets": q_docs_ccnet_buckets,  # [r12-in-return] r9
    "docs_contamination_frac": q_docs_contamination_frac,  # [r12-in-return] r9
    "docs_oov_rate": q_docs_oov_rate,  # [r12-in-return] r9
    "docs_decontaminate_spans": q_docs_decontaminate_spans,  # [r12-in-return] r9
    "graph_kcore": q_graph_kcore,  # [r12-in-return] r9
    "docs_pack_bfd": q_docs_pack_bfd,  # [r12-in-return] r9
    "events_salted_join": q_events_salted_join,  # [r12-in-return] r9
    "orders_join_size_est": q_orders_join_size_est,  # [r12-in-return] r9
    "embedding_balanced_sample": q_embedding_balanced_sample,  # [r12-in-return] r9
    "docs_pack_bfd_stats": q_docs_pack_bfd_stats,  # [r12-in-return] r9
    "graph_lpa": q_graph_lpa,  # [r12-in-return] r9
    "events_winsorized": q_events_winsorized,  # [r12-in-return] r9
    "events_robust_anomalies": q_events_robust_anomalies,  # [r12-in-return] r9
    "events_decayed_engagement": q_events_decayed_engagement,  # [r12-in-return] r9
    "graph_pagerank_weighted": q_graph_pagerank_weighted,  # [r12-in-return] r9
    "ngram_jaccard": q_ngram_jaccard,  # [r12-in-return] r9
    "embedding_near_dup": q_embedding_near_dup,  # [r12-in-return] r9
    "row_wise_total": q_row_wise_total,  # [r12-in-return] r9
    "date_format_labels": q_date_format_labels,  # [r12-in-return] r9
    "filter_in_contains": q_filter_in_contains,  # [r12-in-return] r9
    "state_undone": q_state_undone,  # [r12-in-return] r9
    "sample_per_year": q_sample_per_year,  # [r12-in-return] r9
    "events_weekly_by_type": q_events_weekly_by_type,  # [r12-in-return] r9
    "token_frequency": q_token_frequency,  # [r12-in-return] r9
    "price_histogram": q_price_histogram,  # [r12-in-return] r9
    "column_profile": q_column_profile,  # [r12-in-return] r9
    "correlation": q_correlation,  # [r12-in-return] r9
    "events_pivot": q_events_pivot,  # [r12-in-return] r9
    "nation_share": q_nation_share,  # [r12-in-return] r9
    # ---- tail (verified every session by tools/check_correctness.py) ----
    # r9-green remainder (17): stalest after r12, rotate back FIRST in r13
    "order_status_counts": q_order_status_counts,  # r9-green
    "customers_no_orders": q_customers_no_orders,  # r9-green
    "graph_pagerank": q_graph_pagerank,  # r9-green
    "events_zorder_key": q_events_zorder_key,  # r9-green
    "events_hll_distinct": q_events_hll_distinct,  # r9-green
    "events_kmv_overlap": q_events_kmv_overlap,  # r9-green
    "docs_training_shards": q_docs_training_shards,  # r9-green
    "embedding_ivf_pq_residual": q_embedding_ivf_pq_residual,  # r9-green
    "filter_project": q_filter_project,  # r9-green
    "dedup_first_wins": q_dedup_first_wins,  # r9-green
    "pricing_summary": q_pricing_summary,  # r9-green
    "region_revenue": q_region_revenue,  # r9-green
    "events_lag_lead": q_events_lag_lead,  # r9-green
    "docs_exact_dedup": q_docs_exact_dedup,  # r9-green
    "docs_token_stats": q_docs_token_stats,  # r9-green
    "docs_quality": q_docs_quality,  # r9-green
    "docs_language": q_docs_language,  # r9-green
    # r10 driver window (50): green in CORRECTNESS_r10, 2 rounds old after r12
    "embedding_ivf_search_persisted": q_embedding_ivf_search_persisted,  # r10-green
    "embedding_balanced_sample_persisted": q_embedding_balanced_sample_persisted,  # r10-green
    "graph_ppr": q_graph_ppr,  # r10-green
    "graph_link_predict": q_graph_link_predict,  # r10-green
    "docs_setsim_prefix": q_docs_setsim_prefix,  # r10-green
    "docs_snm_pairs": q_docs_snm_pairs,  # r10-green
    "docs_negative_pairs": q_docs_negative_pairs,  # r10-green
    "embedding_hard_negatives": q_embedding_hard_negatives,  # r10-green
    "docs_incremental_clusters": q_docs_incremental_clusters,  # r10-green
    "minhash_lsh_pairs": q_minhash_lsh_pairs,  # r10-green
    "ngram_jaccard_pruned": q_ngram_jaccard_pruned,  # r10-green
    "docs_segment_dedup": q_docs_segment_dedup,  # r10-green
    "derive_columns": q_derive_columns,  # r10-green
    "json_props_extract": q_json_props_extract,  # r10-green
    "array_ops": q_array_ops,  # r10-green
    "conditional_buckets": q_conditional_buckets,  # r10-green
    "rollup_revenue": q_rollup_revenue,  # r10-green
    "except_rows": q_except_rows,  # r10-green
    "docs_pipeline_chain": q_docs_pipeline_chain,  # r10-green
    "dedup_clusters": q_dedup_clusters,  # r10-green
    "embedding_near_dup_ivf": q_embedding_near_dup_ivf,  # r10-green
    "embedding_ivf_topk": q_embedding_ivf_topk,  # r10-green
    "events_asof_purchase": q_events_asof_purchase,  # r10-green
    "docs_decontaminate": q_docs_decontaminate,  # r10-green
    "docs_trim_spans": q_docs_trim_spans,  # r10-green
    "docs_duplicate_spans": q_docs_duplicate_spans,  # r10-green
    "events_retention": q_events_retention,  # r10-green
    "docs_bloom_decontaminate": q_docs_bloom_decontaminate,  # r10-green
    "docs_zipf_slope": q_docs_zipf_slope,  # r10-green
    "events_funnel": q_events_funnel,  # r10-green
    "docs_split": q_docs_split,  # r10-green
    "docs_shuffle": q_docs_shuffle,  # r10-green
    "docs_mixture_sample": q_docs_mixture_sample,  # r10-green
    "docs_unigram_logprob": q_docs_unigram_logprob,  # r10-green
    "docs_tfidf_topk": q_docs_tfidf_topk,  # r10-green
    "docs_bm25": q_docs_bm25,  # r10-green
    "docs_boilerplate_ngrams": q_docs_boilerplate_ngrams,  # r10-green
    "dedup_survivors": q_dedup_survivors,  # r10-green
    "events_in_windows": q_events_in_windows,  # r10-green
    "docs_pack_sequences": q_docs_pack_sequences,  # r10-green
    "docs_repetition": q_docs_repetition,  # r10-green
    "docs_pii_redact": q_docs_pii_redact,  # r10-green
    "embedding_quantize": q_embedding_quantize,  # r10-green
    "docs_weighted_sample": q_docs_weighted_sample,  # r10-green
    "graph_pagerank_dangling": q_graph_pagerank_dangling,  # r10-green
    "embedding_ivf_topk_multiprobe": q_embedding_ivf_topk_multiprobe,  # r10-green
    "docs_hybrid_rrf": q_docs_hybrid_rrf,  # r10-green
    "docs_temperature_mixture": q_docs_temperature_mixture,  # r10-green
    "docs_incremental_dedup": q_docs_incremental_dedup,  # r10-green
    "docs_gopher_rules": q_docs_gopher_rules,  # r10-green
    # r11 driver window greens (48): 1 round old after r12
    "embedding_ivf_multiprobe_searched": q_embedding_ivf_multiprobe_searched,  # r11-green
    "docs_entity_resolution": q_docs_entity_resolution,  # r11-green
    "docs_split_leakage": q_docs_split_leakage,  # r11-green
    "minhash_band_plan": q_minhash_band_plan,  # r11-green
    "docs_token_fertility": q_docs_token_fertility,  # r11-green
    "customer_k_anonymity": q_customer_k_anonymity,  # r11-green
    "docs_blocking_quality": q_docs_blocking_quality,  # r11-green
    "docs_bm25_searched": q_docs_bm25_searched,  # r11-green
    "docs_group_split": q_docs_group_split,  # r11-green
    "events_rollup_incremental": q_events_rollup_incremental,  # r11-green
    "events_daily_dense": q_events_daily_dense,  # r11-green
    "docs_fertility_mixture": q_docs_fertility_mixture,  # r11-green
    "graph_ktruss": q_graph_ktruss,  # r11-green
    "docs_curation_report": q_docs_curation_report,  # r11-green
    "docs_mixture_solver": q_docs_mixture_solver,  # r11-green
    "numeric_describe": q_numeric_describe,  # r11-green
    "cube_agg": q_cube_agg,  # r11-green
    "embedding_ann_lsh": q_embedding_ann_lsh,  # r11-green
    "quantiles": q_quantiles,  # r11-green
    "simhash": q_simhash,  # r11-green
    "embedding_topk": q_embedding_topk,  # r11-green
    "minhash_jaccard_est": q_minhash_jaccard_est,  # r11-green
    "sessionize": q_sessionize,  # r11-green
    "docs_dsir_weights": q_docs_dsir_weights,  # r11-green
    "docs_dsir_sample": q_docs_dsir_sample,  # r11-green
    "docs_bigram_logprob": q_docs_bigram_logprob,  # r11-green
    "docs_chunks": q_docs_chunks,  # r11-green
    "docs_bpe_merges": q_docs_bpe_merges,  # r11-green
    "docs_bpe_tokens": q_docs_bpe_tokens,  # r11-green
    "docs_quality_classifier": q_docs_quality_classifier,  # r11-green
    "token_cms_estimates": q_token_cms_estimates,  # r11-green
    "sessionize_bounded": q_sessionize_bounded,  # r11-green
    "docs_token_pmi": q_docs_token_pmi,  # r11-green
    "docs_containment": q_docs_containment,  # r11-green
    "events_anomaly_days": q_events_anomaly_days,  # r11-green
    "events_trailing_avg": q_events_trailing_avg,  # r11-green
    "customer_quartiles": q_customer_quartiles,  # r11-green
    "docs_fingerprint": q_docs_fingerprint,  # r11-green
    "embedding_semdedup": q_embedding_semdedup,  # r11-green
    "events_kmv_distinct": q_events_kmv_distinct,  # r11-green
    "embedding_pq_topk": q_embedding_pq_topk,  # r11-green
    "events_quantile_sketch": q_events_quantile_sketch,  # r11-green
    "embedding_ivf_pq_topk": q_embedding_ivf_pq_topk,  # r11-green
    "customers_with_open_orders": q_customers_with_open_orders,  # r11-green
    "series_align": q_series_align,  # r11-green
    "union_overlap": q_union_overlap,  # r11-green
    "top_revenue_orders": q_top_revenue_orders,  # r11-green
    "top_parts_per_brand": q_top_parts_per_brand,  # r11-green
    # r12 registrations (never driver-checked): rotate into r13 FIRST
    "orders_scd2_asof_join": q_orders_scd2_asof_join,  # [r13-in-new]
    "embedding_ivf_pq_opq": q_embedding_ivf_pq_opq,  # [r13-in-new]
    "embedding_spectrum_incremental": q_embedding_spectrum_incremental,  # [r13-in-new]
    "docs_dedup_weights": q_docs_dedup_weights,  # [r13-in-new]
    "embedding_ivf_pq_opq_searched": q_embedding_ivf_pq_opq_searched,  # [r13-in-new]
    "events_transition_matrix": q_events_transition_matrix,  # [r13-in-new]
    "events_transition_drift": q_events_transition_drift,  # [r13-in-new]
    "events_cusum_changepoint": q_events_cusum_changepoint,  # [r13-in-new]
    "events_session_paths": q_events_session_paths,  # [r13-in-new]
    "events_transition_incremental": q_events_transition_incremental,  # [r13-in-new]
    "events_attribution": q_events_attribution,  # [r13-in-new]
    "orders_basket_rules": q_orders_basket_rules,  # [r13-in-new]
    "events_time_to_convert": q_events_time_to_convert,  # [r13-in-new]
    # r13 (optimization round): the budget-zeroed distributed-trainer
    # row — keeps the at-scale Lloyd path measured now that every
    # other trainer row fits the driver fast path at sf0.1
    "kmeans_train_distributed": q_kmeans_train_distributed,  # [r13-in-new]
}



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    import os
    import sys

    # the harness may import this module from another cwd — make the
    # sibling oracles.py importable regardless
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    if repo_dir not in sys.path:
        sys.path.insert(0, repo_dir)
    from oracles import ORACLES

    return dict(ORACLES)
