"""Table IO: parquet-first stage boundaries + reference-compatible CSV.

Reference dataflow medium is CSV-on-disk between every stage
(`stages.py:84`, `Preprocessing/Preprocessor.py:131`); arrays survive only
via `literal_eval` string parsing (`Preprocessor.py:107`). The engine uses
Parquet between stages (S2) and keeps a CSV adapter (S1) that re-parses
the reference's stringified-array / timestamp columns on ingest only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _ensure_session_confs(spark: SparkSession) -> None:
    """Pin the SQL confs correctness depends on, even on a session not
    built by `session.get_spark` (the driver harness constructs its own):

    - nanosAsLong: Spark's parquet reader rejects TIMESTAMP(NANOS)
      otherwise (events.ts);
    - UTC session timezone: NTZ→epoch casts (sessionize, derive_columns)
      are timezone-sensitive and the oracles assume UTC.

    Both are runtime-settable SQL confs; setting them lazily at first
    table read keeps every entry point covered.
    """
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            spark.conf.set(key, value)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S3/S9-style scan: one parquet table of the harness star schema.

    Nanosecond parquet timestamps (events.ts) arrive as raw int64 under
    `spark.sql.legacy.parquet.nanosAsLong`; convert to µs timestamps
    (lossless — generator emits µs-aligned values).

    `sf_dir` may also be `catalog:<prefix>` — the table is then read
    from the session catalog as `<prefix><name>` instead of a parquet
    path. This lets every entry query run unchanged against an
    alternative physical LAYOUT (e.g. the orderkey-bucketed warehouse
    `tools/bucketed_bench.py` builds): layout is a storage property,
    not a query property.
    """
    _ensure_session_confs(spark)
    if sf_dir.startswith("catalog:"):
        df = spark.table(f"{sf_dir[len('catalog:'):]}{name}")
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # integer `div`, NOT `/`: int64 nanos exceed 2^53, so double
            # division rounds the low microsecond (±1 µs vs DuckDB, which
            # floors nanos→µs on read — as any query returning raw ts shows)
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
    return df


def _parse_bytes(v: str, fallback: int = 134217728) -> int:
    """Spark size string ("128m", "1g", "134217728b", bare digits) →
    bytes; unparsable values fall back to `fallback` (scan callers use
    the 128 MiB default; the trainer budget passes its own 8 MiB so a
    malformed conf cannot silently inflate the driver-collect budget)."""
    s = v.strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
        ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("b", 1),
    ):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    try:
        return int(s) * mult
    except ValueError:
        return fallback


def input_backing_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the files backing `df`'s scan(s), or
    None when they cannot be enumerated/sized (local relations,
    checkpoints, streams, non-local filesystems). DRIVER-SIDE METADATA
    ONLY — no job, no `.rdd` probe (which materializes AQE stages
    eagerly). The conservative scale signal for "is this input
    driver-sized": derived views (projections, joins against local
    relations) report their source scan's bytes."""
    import os as _os

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        try:
            total += _os.path.getsize(path)
        except OSError:
            return None
    return total


def spread_small_input(
    df: DataFrame, key: str | None = None, width: int | None = None
) -> DataFrame:
    """Widen an under-parallelized file-backed input before CPU-heavy
    per-row derivation (guide §2.5: an unsplittable small file arrives
    as ONE scan task, serializing every downstream explode/hash chain
    on one core — repartition right after the read).

    The decision is DRIVER-SIDE METADATA ONLY: `df.inputFiles()` plus
    byte sizes — no job, no `.rdd` conversion (which physically plans
    the query and materializes AQE stages eagerly). The input is
    spread only when the files backing it cannot fill the cluster:
    fewer files than `width` AND estimated scan tasks (bytes /
    `spark.sql.files.maxPartitionBytes`) below `width`. On a corpus
    that is already wide — or any input whose backing files cannot be
    enumerated (checkpoints, local relations, streams) — this returns
    `df` unchanged, so at scale it never adds a shuffle.

    Callers must be partitioning-invariant (aggregates / equi-joins —
    every house consumer is); the round-robin exchange moves only the
    small pre-derivation rows once.
    """
    import os as _os

    spark = df.sparkSession
    p = width or spark.sparkContext.defaultParallelism
    if p <= 1:
        return df
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= p:
        return df
    max_bytes = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    total = 0
    for f in files:
        path = f[len("file:"):] if f.startswith("file:") else f
        try:
            total += _os.path.getsize(path)
        except OSError:
            return df  # non-local / unknown size: never pessimize scale
    est_tasks = max(len(files), -(-total // max_bytes))
    if est_tasks >= p:
        return df
    if key is not None:
        # hash-repartition on a (unique) key: spreads evenly, is
        # deterministic under task retries, and skips the local
        # sort-before-repartition a keyless round-robin pays
        # (SPARK-23207 / guide §2.5)
        return df.repartition(p, F.col(key))
    return df.repartition(p)


def pin_stats(df: DataFrame, key: str | None = None) -> DataFrame:
    """Stats- and partitioning-preserving pin: persist + eager
    materialize (one count job — the same job an eager localCheckpoint
    pays). The cached relation reports its MEASURED sizeInBytes/rowCount
    and keeps the child plan's output partitioning — `localCheckpoint`
    instead reports UnknownPartitioning and default (huge) statistics,
    which (a) re-Exchanges every co-partitioned self-join over the
    pinned table and (b) flips downstream broadcast joins to sort-merge
    (the r12 token-table A/B regression, 2× slower). AQE cannot disturb
    the cached plan's partitioning:
    `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` defaults
    to false.

    `key`: repartition on the join key first, so consumers joining on
    it need no Exchange at all (guide §2.4 — two operations keyed the
    same way share one exchange; here the exchange lives inside the
    cached plan and is paid once, at pin time).

    Trade-offs vs localCheckpoint: lineage is kept (the cache rebuilds
    from the plan on executor loss rather than failing), so do NOT use
    this for per-round pins inside iterative loops whose logical plan
    must be truncated — only for build-once/consume-many tables. The
    CALLER owns `.unpersist()` once its consumers have materialized.
    Storage level is the DataFrame default (MEMORY_AND_DISK_DESER):
    at 100 TB the pinned table spills to executor disk instead of
    failing, the same medium a shuffle would use."""
    if key is not None:
        df = df.repartition(F.col(key))
    # Spark's CacheManager dedupes persist() by canonicalized plan: a
    # re-construct of the same query would silently REUSE the previous
    # pin's data instead of recomputing (a checkpoint never does).
    # Every pin must recompute from its inputs — drop any prior entry.
    df.unpersist(blocking=False)
    pinned = df.persist()
    pinned.count()
    return pinned


def release_pins(df: DataFrame) -> None:
    """Unpersist every cache entry `df`'s plan scans.

    `pin_stats` leaves `.unpersist()` to the caller, but a lazy frame
    built OVER a pin (e.g. a union reading `graph.connected_components`'
    stats pin) gives the caller no handle on the pinned frame itself.
    This finds the cached relations the plan reads and drops exactly
    those entries. Call it once every consumer of `df` has materialized
    (a checkpoint or a write); entries `df` does not read stay, but an
    identical plan pinned by another owner is the same entry and goes
    too (the `pin_stats` caveat)."""
    jspark = df.sparkSession._jsparkSession
    cm = jspark.sharedState().cacheManager()
    seq = df._jdf.queryExecution().withCachedData().collectLeaves()
    leaves = [seq.apply(i) for i in range(seq.length())]
    scanned = [
        leaf.cacheBuilder()
        for leaf in leaves
        if leaf.getClass().getSimpleName() == "InMemoryRelation"
    ]
    seq = cm.cachedData()
    entries = [seq.apply(i) for i in range(seq.size())]
    for e in entries:
        if e.cachedRepresentation().cacheBuilder() in scanned:
            cm.uncacheQuery(jspark, e.plan(), False, False)


def write_stage_output(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_cols: tuple[str, ...] = (),
) -> None:
    """S2 sink: stage boundary materialization (parquet default, CSV adapter).

    Reference: `df.to_csv(path)` at `Preprocessor.py:131`, `stages.py:84`.
    `partition_cols` lays the table out hive-style so downstream stages
    prune (posts by year → P4/D3/A1 read only matching dirs).
    """
    if fmt == "csv":
        # reference-compat: arrays stringified like Python lists
        arr_cols = [f.name for f in df.schema.fields if isinstance(f.dataType, T.ArrayType)]
        for c in arr_cols:
            df = df.withColumn(c, F.to_json(F.col(c)))
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if fmt == "csv":
        writer.option("header", True).csv(path)
    elif fmt in ("orc", "json", "avro"):
        # engine-native columnar/row alternates beyond the reference's
        # csv/json/parquet surface ("avro" needs the spark-avro package
        # on the cluster; orc/json are built in)
        writer.format(fmt).save(path)
    else:
        writer.parquet(path)


def read_csv_with_arrays(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    array_cols: tuple[str, ...] = (),
    timestamp_cols: tuple[str, ...] = (),
) -> DataFrame:
    """S1 scan: CSV with reference-style stringified arrays/timestamps.

    Mirrors `pd.read_csv(path, converters={col: literal_eval, ts:
    pd.to_datetime})` (`Preprocessor.py:107-108`). Arrays arrive as
    Python-list strings (single quotes) — normalize then `from_json`.
    """
    str_schema = T.StructType(
        [
            T.StructField(
                f.name,
                T.StringType() if f.name in array_cols or f.name in timestamp_cols else f.dataType,
                True,
            )
            for f in schema.fields
        ]
    )
    df = spark.read.schema(str_schema).option("header", True).csv(path)
    for c in array_cols:
        # tolerate python-ish single-quoted list strings on ingest only
        normalized = F.regexp_replace(F.col(c), r"'", '"')
        df = df.withColumn(c, F.from_json(normalized, T.ArrayType(T.StringType())))
    for c in timestamp_cols:
        df = df.withColumn(c, F.to_timestamp(F.col(c)))
    return df.select(*[f.name for f in schema.fields])


def stage_output_exists(spark: SparkSession, path: str) -> bool:
    """S11 idempotent-skip guard: reference checks `os.path.exists(output)`
    (`Preprocessor.py:102-104`, `orchestrator.py:46`); parquet analog is a
    readable footer (cheap driver-side check, no job launch)."""
    try:
        spark.read.parquet(path).schema
        return True
    except Exception:
        return False
