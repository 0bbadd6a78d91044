"""SparkSession factory with engine defaults.

The reference pipeline (solfang/Social-Media-Data-Pipeline) is a
single-process pandas ETL with no session/config concept; this module is
the Spark-native replacement: one place that pins UTC timestamps
(reference epoch-seconds are UTC, `InstagramFeedScraper.py:219`), enables
AQE + Arrow, and sizes shuffle partitions for the local harness while
staying cluster-safe (AQE coalesces at runtime on a real cluster).

It also fixes the driver JVM's JIT policy (`JIT_POLICY`). The paper's
workload is one config-driven batch pass: each stage plan is built,
optimized and written once, so the driver JVM runs most Spark code a
few thousand times and then never again. With JDK 17's default
thresholds the C2 compiler optimizes that code anyway, and most of the
C2 output is never reused: in a per-thread sample of one cold
`post_pipeline` pass (4 vCPUs) the C2 compiler threads used 29 s of
~66 s process-tree CPU, against 7 s of executor task CPU. Raising the
four tier-4 (C2) thresholds tenfold keeps such code on C1 while row
loops over real data still become hot enough for C2. Measured on that
box (SCALING.md "Round 14: JIT policy", ten alternating pairs each,
measured together with the one-pass translator in `nlp`):
process-tree CPU of a cold `post_pipeline` pass median 40.7 → 27.3 s
and of a `stream_curation` stream 21.1 → 15.5 s. Steady-state writes
were no slower; re-planning in a warm session was 3–5% slower, and the
stream's wall time about 3%, because planner code reaches C2 later.
C1 only (`-XX:TieredStopAtLevel=1`) cut cold CPU further
(−41…−47%) but made steady writes 1.5–2× slower, so the policy keeps
C2.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Tier-4 (C2) compile thresholds at ten times the JDK 17 defaults
# (5000 / 600 / 15000 / 40000): a method must prove hot before C2
# compiles it (see the module docstring for the measured trade)
JIT_POLICY = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def get_spark(
    app_name: str = "social_media_data_pipeline_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Defaults are chosen for correctness-portability between local[...]
    testing and a large cluster:

    - UTC session timezone: deterministic event-time semantics.
    - AQE on: runtime coalescing, skew-join splitting — the scale path.
    - Arrow on: every pandas_udf / toPandas crosses via Arrow batches.
    - shuffle.partitions: matches local cores here; on a cluster this is
      a floor — AQE re-plans the real number per stage.
    - JIT policy (`JIT_POLICY`): C2 thresholds raised tenfold, because a
      one-pass JVM never reuses most of what C2 compiles. It sits in
      `spark.driver.defaultJavaOptions`, Spark's slot for administrator
      defaults, so `spark.driver.extraJavaOptions` stays free for callers
      (the JVM lets the later flag win) and `extra_conf` can replace it.
      It applies only when this call launches the JVM; on a cluster it
      shapes the driver, not the executors.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_IN_DRIVER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus}]")
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": DEFAULT_SHUFFLE_PARTITIONS,
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # zstd over the snappy default: measured at sf0.1 (SCALING.md
        # r8 codec study) 20% smaller files than snappy at identical
        # scan time and lz4-class write speed — at 100 TB the scan tax
        # is bytes, and zstd buys gzip's ratio without gzip's CPU
        "spark.sql.parquet.compression.codec": "zstd",
        # reference timestamps are naive-UTC; keep parquet NTZ inference on
        "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
        # harness events.parquet stores TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long and convert (values are
        # µs-aligned, so timestamp_micros(ns/1000) is lossless)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        "spark.driver.defaultJavaOptions": JIT_POLICY,
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
