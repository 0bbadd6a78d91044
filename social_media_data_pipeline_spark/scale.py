"""Scale-out primitives: layout and skew tools for the 100 TB deployment.

The reference runs one pandas process; nothing here has a reference
analog — these are the knobs that make every operator in this engine
hold up at 1000 executors (SURVEY.md §7.1 M8 notes):

- `write_partitioned`: stage tables partitioned by access pattern
  (posts by year/month — P4, D3, A1 all prune on it).
- `write_bucketed`: co-located join layout; repeated joins on the same
  key (comments ⋈ posts on owner_id) stop shuffling entirely.
- `salted_join`: explicit skew-breaker for power-law keys (one celebrity
  owner_id = one straggler partition) — AQE's skew splitting handles
  sort-merge joins, salting also covers aggregations.
- `key_skew_profile`: measure before salting; salt only what's skewed.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame, path: str, partition_cols: Sequence[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet: predicates on `partition_cols`
    prune whole directories at plan time (verify via
    `tools/explain_audit.py` — PartitionFilters in the scan)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 64,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed table (requires a metastore catalog entry): joins and
    aggregations keyed on `bucket_cols` read co-located buckets and skip
    the exchange on both sides."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def key_skew_profile(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Top key frequencies + share of total — decide whether to salt.

    Kept for the original round-1 signature; new code should use
    `operators.aggregates.key_skew_report` (r11), which folds the
    totals into a broadcast instead of a separate count() job and adds
    cum_share / skew_ratio / the per-key salt_factor that
    `salted_join` consumes."""
    total = df.count()
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("share", F.round(F.col("n") / F.lit(total), 6))
        .orderBy(F.desc("n"), F.asc(key))
        .limit(top)
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join — thin alias for the canonical
    `operators.joins.salted_join` (which adds hybrid hot-key mode,
    `how` validation, and pmod salting — `abs(hash) %` maps
    Long.MIN_VALUE to a NEGATIVE bucket, the hazard the old inline
    version here carried). Kept for the original round-1 signature;
    new code should import from `operators.joins`.
    """
    from .operators.joins import salted_join as _sj

    return _sj(big, small, key, n_salts=salt_buckets, how=how)


def coalesce_small_files(spark: SparkSession, path: str, target_files: int) -> None:
    """Compact a stage output directory (small-file problem kills 100 TB
    scans: driver-side listing + per-file open cost)."""
    df = spark.read.parquet(path)
    df.repartition(target_files).write.mode("overwrite").parquet(path + "__compacted")


def zorder_key(cols: Sequence, bits: int = 16) -> F.Column:
    """Z-order (Morton) clustering key: interleave the low `bits` bits
    of each column round-robin — rows close in ALL dimensions land
    close on the key, so range-partitioning + sorting on it gives every
    dimension locality at once (the Delta/Iceberg OPTIMIZE ZORDER
    layout, built from plain bit expressions).

    `cols` are non-negative integer expressions (bucketize/normalize
    first — e.g. an epoch-day, an id, a value decile). The expression
    is a pure JVM-side shift/mask sum (bits × ncols terms, whole-stage
    codegen) — no UDF, and `build_zorder_sql` emits the identical ANSI
    form so layouts are differential-checkable like every operator.
    """
    cs = [F.col(c).cast("bigint") if isinstance(c, str) else c.cast("bigint")
          for c in cols]
    n = len(cs)
    mask = (1 << bits) - 1
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(cs):
            z = z + F.shiftleft(
                F.shiftright(c.bitwiseAND(F.lit(mask)), b).bitwiseAND(F.lit(1)),
                b * n + i,
            )
    return z


def build_zorder_sql(cols: Sequence[str], bits: int = 16) -> str:
    """ANSI-SQL expression computing exactly `zorder_key(cols, bits)` —
    the differential-oracle form (DuckDB bit ops on BIGINT)."""
    n = len(cols)
    mask = (1 << bits) - 1
    terms = [
        f"((((CAST({c} AS BIGINT) & {mask}) >> {b}) & 1) << {b * n + i})"
        for b in range(bits)
        for i, c in enumerate(cols)
    ]
    return "(" + " + ".join(terms) + ")"


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence,
    bits: int = 16,
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Write `df` as `num_files` parquet files range-partitioned AND
    sorted by the Z-order key of `cols`: each file then holds a compact
    Morton range, so per-file min/max stats on EVERY `cols` dimension
    are tight and `file_skipping_index` prunes multi-dimensional
    predicates (a linear sort gives tight stats on its leading column
    only). At 100 TB this is the layout job you run once per ingest
    partition; the key never leaves the writer."""
    keyed = df.withColumn("__z", zorder_key(cols, bits))
    (
        keyed.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def file_skipping_index(spark: SparkSession, path: str, cols: Sequence[str]) -> DataFrame:
    """Per-file min/max stats table over `cols` — the Delta-style
    data-skipping index, one row per parquet file. At 100 TB this is a
    tiny table (files, not rows) that lives beside the data; here it is
    computed with one aggregate over `input_file_name()`."""
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
    )


# --------------------------------------------------------------------------
# live-file manifest: the commit primitive for in-place table mutation
# --------------------------------------------------------------------------
# A copy-on-write mutation swaps files inside a directory; without a
# commit point, a crash between move-in and remove leaves BOTH the
# staged and the replaced files visible to a raw directory read
# (transient duplicate keys). The manifest closes that window:
# `_manifest.json` lists the table's LIVE files, is replaced ATOMICALLY
# (tmp + os.replace — the POSIX rename guarantee), and every
# manifest-aware reader (`live_files` → `footer_stats_index*`,
# `pruned_read*`, `manifest_read`, `read_store`) sees exactly the
# pre-commit or the post-commit snapshot, never a mix. At 100 TB this
# file IS the transaction log entry; like Delta/Iceberg, every commit
# also keeps a numbered generation (`_manifest-<n>.json`) for time
# travel until `vacuum_table` drops it. Every store in the package —
# the tables `selective_upsert`/`selective_delete`/`compact_table`
# mutate, the curation and IVM state tables, the drift and spectrum
# monoid stores, the ANN artifacts and the lexical index — writes
# through ONE path, `commit_store`, and reads its CAS base through
# `read_store` (the dedup band store keeps its own stamp-and-rename
# layout).

_MANIFEST = "_manifest.json"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed (or is mid-commit) since this writer
    read the table — the losing commit's file list is stale, and
    flipping it anyway would silently drop the winner's files from the
    live set."""


class _ExpectAbsent:
    """Sentinel for `write_table_manifest(expect_generation=…)`: the
    writer read NO manifest and expects to CREATE generation 0 — the
    O_EXCL claim on `_manifest-0.json` arbitrates two writers racing to
    initialize the same store (plain `None` would be last-writer-wins
    even on the very first commit)."""

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return "EXPECT_ABSENT"


EXPECT_ABSENT = _ExpectAbsent()


def write_table_manifest(
    path: str, files: Sequence[str], expect_generation: int | None = None
) -> int:
    """Atomically commit `files` (basenames or absolute paths under
    `path`) as the table's live set. Each commit is also preserved as a
    numbered GENERATION (`_manifest-<n>.json`, written before the
    pointer flips), so `manifest_read(..., version=n)` can time-travel
    to any snapshot whose files still exist (see `selective_upsert`'s
    `keep_history` and `vacuum_table`). Returns the generation number.

    Concurrency (r9): with `expect_generation` the commit is a CAS —
    it refuses (`ConcurrentCommitError`) unless the current pointer is
    still at that generation, and the O_EXCL creation of the NEXT
    generation file is the atomic claim, so two writers that both read
    generation N can never both commit N+1 (one loses loudly; retry by
    re-reading the table and redoing the rewrite against the new live
    set). The only in-package caller is `commit_store`, so every
    in-package mutator — `selective_upsert`, `selective_delete`,
    `compact_table`, `fold_store` (drift, spectrum), the ANN artifacts
    and the lexical index — passes it. Pass the `EXPECT_ABSENT`
    sentinel when the writer read NO manifest and expects to CREATE
    generation 0 — the O_EXCL claim then arbitrates two writers racing
    to initialize the same store. Without `expect_generation` the
    commit keeps the legacy last-writer-wins semantics —
    single-writer-per-table is then the caller's contract.

    Crash note: a writer that claimed a generation file and died before
    the pointer flip leaves an orphan `_manifest-<n>.json`; the next
    CAS commit refuses with instructions to delete the orphan (safe —
    the pointer never flipped, so nothing references it).
    """
    import json as _json
    import os as _os

    names = sorted(_os.path.basename(f) for f in files)
    prev = _read_manifest_doc(path)
    cur_gen = prev["generation"] if prev else None
    expected = (
        None if isinstance(expect_generation, _ExpectAbsent)
        else expect_generation
    )
    cas = expect_generation is not None  # EXPECT_ABSENT is a CAS too
    if cas and cur_gen != expected:
        raise ConcurrentCommitError(
            f"write_table_manifest: {path} is at generation {cur_gen}, "
            f"writer expected {expected} — another commit "
            "landed since this writer read the table; re-read and retry"
        )
    gen = (cur_gen + 1) if prev else 0
    doc = {"files": names, "generation": gen}
    hist = _os.path.join(path, f"_manifest-{gen}.json")
    if cas:
        # O_EXCL claim: the atomic arbiter between two writers that
        # both passed the pointer check above
        try:
            fd = _os.open(hist, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"write_table_manifest: generation file {hist} already "
                f"exists while the pointer is at {cur_gen} — either a "
                "concurrent writer is mid-commit (let it finish and "
                "retry), or a crashed commit left an orphan (safe to "
                "delete: the pointer never flipped to it)"
            ) from None
        with _os.fdopen(fd, "w") as fh:
            _json.dump(doc, fh)
    else:
        tmp = hist + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(doc, fh)
        _os.replace(tmp, hist)
    tmp = _os.path.join(path, _MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        _json.dump(doc, fh)
    _os.replace(tmp, _os.path.join(path, _MANIFEST))
    return gen


def _read_manifest_doc(path: str, version: int | None = None) -> dict | None:
    import json as _json
    import os as _os

    name = _MANIFEST if version is None else f"_manifest-{version}.json"
    mp = _os.path.join(path, name)
    if not _os.path.exists(mp):
        if version is not None:
            raise ValueError(
                f"manifest generation {version} does not exist under "
                f"{path} (vacuumed, or never written); available: "
                f"{manifest_versions(path)}"
            )
        return None
    with open(mp) as fh:
        doc = _json.load(fh)
    doc.setdefault("generation", 0)
    return doc


def read_table_manifest(path: str, version: int | None = None) -> list[str] | None:
    """The table's live files (absolute) at the current commit, or at
    historical generation `version`, including a bound meta JSON; None
    when the table has no manifest (never mutated in place — the
    plain-directory contract)."""
    import os as _os

    doc = _read_manifest_doc(path, version)
    if doc is None:
        return None
    return [_os.path.join(path, n) for n in doc["files"]]


def _data_files(files: Sequence[str]) -> list[str]:
    """Drop the meta JSON `commit_store` lists beside the data files."""
    return [f for f in files if not f.endswith(".json")]


# `commit_store`'s data-file names: {prefix}-g{N}-{uuid8}-{i}.parquet
_COMMITTED_NAME = re.compile(r"-g\d+-[0-9a-f]{8}-\d+\.parquet$")


def read_store(path: str) -> tuple[list[str], object, dict | None]:
    """Strict manifest read of a store: (live data files, generation,
    meta). Before generation 0 lands it answers ([], EXPECT_ABSENT,
    None) — never `live_files`' plain-directory fallback: a racing
    creator's renamed-in, uncommitted files already sit in the
    directory, and a glob would count them (the double-merge hazard
    the drift init-race test plants). `meta` is the JSON document a
    `commit_store(meta=...)` bound to this generation, or None. The
    generation is the CAS base to hand back to `commit_store`."""
    import json as _json
    import os as _os

    # ONE document read: files and generation must come from the same
    # commit, or a flip in between would hand back a stale CAS base
    doc = _read_manifest_doc(path)
    if doc is None:
        return [], EXPECT_ABSENT, None
    files = [_os.path.join(path, n) for n in doc["files"]]
    meta = None
    for f in files:
        if f.endswith(".json"):
            with open(f) as fh:
                meta = _json.load(fh)
    return _data_files(files), doc["generation"], meta


def commit_store(
    path: str,
    frames: Sequence[tuple[str, DataFrame]],
    expect_generation,
    keep: Sequence[str] = (),
    meta: dict | None = None,
    replaced: Sequence[str] = (),
    keep_history: bool = False,
) -> list[str]:
    """The one commit path of every manifest-committed store. Writes
    each `(prefix, frame)` as the caller laid it out (range-bucketed,
    `coalesce(1)`, ...), moves the part files in under
    `{prefix}-g{N}-{uuid}-{i}.parquet` — N is the generation this
    commit claims and the uuid is unique per writer, so racing writers
    never share a name and a move can never clobber a committed file —
    writes `meta` (when given) as `_meta-g{N}-{uuid}.json`, and
    CAS-flips the manifest to `keep` + the new files (+ the meta)
    against `expect_generation` (the generation `read_store` returned:
    an int, or EXPECT_ABSENT to create generation 0).

    Listing the meta IN the manifest binds it to its files: a reader
    resolves it through the pointer (`read_store`), so a writer that
    loses the race or crashes can never leave its stats live over
    files it never committed. The flip is the commit point: a crash
    before it leaves the previous generation fully live (the moved-in
    files stay unreferenced until `vacuum_table`). A lost CAS
    un-stages this writer's files and re-raises
    `ConcurrentCommitError`. After a won flip the `replaced` files are
    deleted unless `keep_history` — then earlier generations stay
    readable via `manifest_read(version=...)` until `vacuum_table`.
    Returns the new data files."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import uuid as _uuid

    gen = (
        0 if isinstance(expect_generation, _ExpectAbsent)
        else expect_generation + 1
    )
    tag = f"g{gen}-{_uuid.uuid4().hex[:8]}"
    _os.makedirs(path, exist_ok=True)
    # staged under a `_`-prefixed directory: Spark's file listing skips
    # it, so a raw read of the table never sees half-written output
    staging = _os.path.join(path, f"_staged-{tag}")
    new: list[str] = []
    try:
        for k, (prefix, df) in enumerate(frames):
            out = _os.path.join(staging, str(k))
            df.write.mode("overwrite").parquet(out)
            for f in sorted(_os.listdir(out)):
                if f.endswith(".parquet"):
                    dst = _os.path.join(path, f"{prefix}-{tag}-{len(new)}.parquet")
                    _os.replace(_os.path.join(out, f), dst)
                    new.append(dst)
    finally:
        _shutil.rmtree(staging, ignore_errors=True)
    staged = list(new)
    if meta is not None:
        staged.append(_os.path.join(path, f"_meta-{tag}.json"))
        with open(staged[-1], "w") as fh:
            _json.dump(meta, fh)
    try:
        write_table_manifest(
            path, [*keep, *staged], expect_generation=expect_generation
        )
    except ConcurrentCommitError:
        # lost the race: un-stage so the winner's directory holds only
        # what it committed, then surface the conflict
        for f in staged:
            _os.remove(f)
        raise
    if not keep_history:
        for f in replaced:
            _os.remove(f)
    return new


_MAX_COMMIT_RETRIES = 5


def fold_store(
    spark: SparkSession,
    path: str,
    prefix: str,
    merge,
    first: tuple | None = None,
) -> None:
    """Retry-and-remerge commit for a store whose rows form a
    commutative monoid (the drift baseline counts, the spectrum Gram
    partials): `merge(base)` folds the caller's PINNED batch into the
    committed table `base` (None before generation 0), and the merged
    table replaces the whole (small) store as one file. Two folders
    that read the same generation both merge; the CAS lets only one
    flip, and the loser re-reads the NEW live table and re-merges —
    the fold is commutative, so every batch lands exactly once.
    `first` = (base, generation) from the caller's own `read_store`
    saves the first re-read (one parquet schema job)."""
    for attempt in range(_MAX_COMMIT_RETRIES):
        if first is None:
            files, gen, _ = read_store(path)
            first = (spark.read.parquet(*files) if files else None, gen)
        base, gen = first
        try:
            commit_store(path, [(prefix, merge(base).coalesce(1))], gen)
            return
        except ConcurrentCommitError:
            if attempt == _MAX_COMMIT_RETRIES - 1:
                raise
            first = None


def manifest_versions(path: str) -> list[int]:
    """Generations still present (ascending); [] for plain tables."""
    import glob as _glob
    import os as _os
    import re as _re

    out = []
    for f in _glob.glob(_os.path.join(path, "_manifest-*.json")):
        m = _re.fullmatch(r"_manifest-(\d+)\.json", _os.path.basename(f))
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def vacuum_table(
    path: str, keep_generations: int = 1, grace_seconds: float = 3600.0
) -> dict:
    """Delta-VACUUM analog: drop manifest generations beyond the newest
    `keep_generations` and delete data files — and the meta JSONs
    `commit_store` binds to a generation — that no kept generation (nor
    the current pointer) references. After a vacuum, time travel is
    bounded to the kept window — that is the documented trade the
    retention knob buys. Returns counts for alerting.

    `grace_seconds` (r9, the Delta retention-grace analog): unreferenced
    files YOUNGER than the grace are kept — a concurrent
    upsert/delete/compact moves its staged files in BEFORE its manifest
    flip, so without the grace a vacuum running in that window would
    delete them and let the writer commit a manifest pointing at
    missing files. One vacuum per table at a time is still the
    contract (two concurrent vacuums can race each other's listdir);
    pass `grace_seconds=0` only when no writer can be in flight."""
    import os as _os
    import time as _time

    if keep_generations < 1:
        raise ValueError(
            f"keep_generations must be >= 1, got {keep_generations}"
        )
    gens = manifest_versions(path)
    keep = set(gens[-keep_generations:])
    referenced: set[str] = set()
    cur = _read_manifest_doc(path)
    if cur:
        referenced.update(cur["files"])
    for g in keep:
        referenced.update(_read_manifest_doc(path, g)["files"])
    dropped_gens = 0
    for g in gens:
        if g not in keep:
            _os.remove(_os.path.join(path, f"_manifest-{g}.json"))
            dropped_gens += 1
    dropped_files = 0
    kept_young = 0
    cutoff = _time.time() - grace_seconds
    for f in sorted(_os.listdir(path)):
        # data files, and the meta JSONs `commit_store` binds to a
        # generation (every superseded commit leaves one behind)
        dead = f.endswith(".parquet") or (
            f.endswith(".json") and not f.startswith("_manifest")
        )
        if dead and f not in referenced:
            fp = _os.path.join(path, f)
            if _os.path.getmtime(fp) > cutoff:
                kept_young += 1  # possibly an in-flight writer's move-in
                continue
            _os.remove(fp)
            dropped_files += 1
    return {
        "dropped_generations": dropped_gens,
        "dropped_files": dropped_files,
        "kept_young_files": kept_young,
        "kept_generations": sorted(keep),
    }


def live_files(path: str) -> list[str]:
    """Live parquet files of a table directory: the manifest when one
    exists, else every *.parquet in the directory; [] when nothing
    exists at `path`."""
    import glob as _glob
    import os as _os

    manifest = read_table_manifest(path)
    if manifest is not None:
        return _data_files(manifest)
    if _os.path.isdir(path):
        # a manifest-less directory is a plain table — minus files named
        # by `commit_store`: no manifest lists them, so they are a
        # racing creator's uncommitted move-in, not table rows
        return sorted(
            f for f in _glob.glob(_os.path.join(path, "*.parquet"))
            if not _COMMITTED_NAME.search(f)
        )
    return [path] if _os.path.exists(path) else []


def manifest_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read a table honoring its manifest — the safe reader for tables
    mutated by `selective_upsert` (a raw `spark.read.parquet(dir)`
    additionally sees uncommitted staged files during a swap). With
    `version`, time-travel to that generation's exact snapshot
    (requires the upserts to have run with `keep_history=True`, and the
    generation to be inside the `vacuum_table` retention window).
    `merge_schema=True` unions per-file schemas (parquet mergeSchema) —
    required after `selective_upsert(..., evolve_schema=True)` added a
    column, because non-rewritten files still carry the old schema and
    a plain read resolves columns from one footer only."""
    if version is not None:
        files = _data_files(read_table_manifest(path, version))
    else:
        files = live_files(path)
    if not files:
        raise ValueError(f"manifest_read: no live files under {path}")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*files)


def pruned_read(
    spark: SparkSession,
    index: DataFrame,
    predicates: dict,
) -> DataFrame:
    """Read ONLY the files whose [min, max] ranges overlap every
    predicate interval, then apply the residual row filter — result is
    row-identical to a full scan + filter, touching a fraction of the
    files (measured in SCALING.md; the fraction IS the scan saving at
    100 TB). `predicates` maps column → (lo, hi) inclusive bounds."""
    all_files = [r["file"] for r in index.select("file").limit(1).collect()]
    if not all_files:
        raise ValueError(
            "empty file-skipping index: no files to derive a schema from "
            "(build the index over a non-empty table, or read the table "
            "directly)"
        )
    cond = F.lit(True)
    for c, (lo, hi) in predicates.items():
        cond = cond & (F.col(f"max_{c}") >= F.lit(lo)) & (F.col(f"min_{c}") <= F.lit(hi))
    files = [r["file"] for r in index.filter(cond).select("file").collect()]
    if not files:
        return spark.createDataFrame(
            [], spark.read.parquet(*all_files).schema
        )
    out = spark.read.parquet(*files)
    for c, (lo, hi) in predicates.items():
        out = out.filter((F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi)))
    return out


def footer_stats_index(path: str, cols: Sequence[str]) -> "object":
    """File/row-group min-max stats read from parquet FOOTERS (pyarrow
    metadata) — zero data pages touched, unlike the scan-based
    `file_skipping_index`. This is how the stats table is maintained at
    100 TB: collected at write time (every writer already computes
    them), refreshed per ingest partition by listing footers only.
    Returns a pandas DataFrame (file, row_group, n_rows, min_c/max_c
    per col) — driver-sized: rows = row groups, not data rows."""
    import pandas as _pd
    import pyarrow.parquet as _pq

    files = live_files(path)
    rows = []
    for f in files:
        md = _pq.ParquetFile(f).metadata
        name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            row = {"file": f, "row_group": g, "n_rows": rg.num_rows}
            for c in cols:
                st = rg.column(name_to_idx[c]).statistics
                row[f"min_{c}"] = st.min if st and st.has_min_max else None
                row[f"max_{c}"] = st.max if st and st.has_min_max else None
            rows.append(row)
    return _pd.DataFrame(rows)


def footer_stats_index_table(
    spark: SparkSession, path: str, cols: Sequence[str], slices: int = 64
) -> DataFrame:
    """`footer_stats_index` as a DISTRIBUTED Spark table: the file list
    fans out across executors and each task reads only parquet FOOTERS
    (pyarrow metadata, zero data pages). This is the 100 TB shape — the
    stats index over millions of files is itself a Spark table you
    persist beside the data and refresh per ingest partition; the
    pandas variant above stays for driver-sized tables and tests.

    Output schema: (file, row_group, n_rows, min_c/max_c per col) with
    min/max typed as the underlying column type.
    """
    from pyspark.sql import types as T

    files = live_files(path)
    if not files:
        raise ValueError(f"no parquet files under {path}")
    table_schema = spark.read.parquet(files[0]).schema
    by_name = {f.name: f.dataType for f in table_schema.fields}
    out_fields = [
        T.StructField("file", T.StringType()),
        T.StructField("row_group", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
    ]
    for c in cols:
        out_fields.append(T.StructField(f"min_{c}", by_name[c]))
        out_fields.append(T.StructField(f"max_{c}", by_name[c]))
    out_schema = T.StructType(out_fields)
    out_names = [f.name for f in out_fields]
    cols_l = list(cols)

    def _read_footers(batches):
        import pandas as _pd
        import pyarrow.parquet as _pq

        for b in batches:
            rows = []
            for f in b["file"]:
                md = _pq.ParquetFile(f).metadata
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    row = {"file": f, "row_group": g, "n_rows": rg.num_rows}
                    for c in cols_l:
                        st = rg.column(idx[c]).statistics
                        has = st is not None and st.has_min_max
                        row[f"min_{c}"] = st.min if has else None
                        row[f"max_{c}"] = st.max if has else None
                    rows.append(row)
            df = _pd.DataFrame(rows, columns=out_names)
            # object dtype keeps int/None mixes Arrow-convertible
            for c in cols_l:
                df[f"min_{c}"] = df[f"min_{c}"].astype(object)
                df[f"max_{c}"] = df[f"max_{c}"].astype(object)
            yield df

    paths_df = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(min(len(files), slices))
    return paths_df.mapInPandas(_read_footers, schema=out_schema)


def upsert_rewrite_set(
    file_ranges: DataFrame,
    updates: DataFrame,
    key: str,
    buckets: int = 1024,
) -> DataFrame:
    """Files whose [lo, hi] key range can contain an update key, as an
    EQUI hash join — never a BroadcastNestedLoopJoin.

    Same time-bucket blocking as `interval_join_bucketed`
    (operators/joins.py), on the integer key line: each file range
    explodes into the fixed-width buckets it covers, each update key
    maps to its single bucket, the join is equi on the bucket with the
    exact range containment as a residual predicate. At 100 TB
    (millions of files × large update batches) this stays
    O(|files| · span/width + |updates|) instead of the naive theta
    join's O(|files| · |updates|) nested loop.

    `file_ranges` columns: file, lo, hi (numeric key stats; rows with
    NULL lo/hi — footer had no stats — are returned unconditionally:
    an unprunable file must be rewritten, not silently skipped).
    Returns a 1-column (file) DataFrame.
    """
    from pyspark.sql import types as _T

    lo_type = dict(zip(file_ranges.schema.names, file_ranges.schema.fields))[
        "lo"
    ].dataType
    if not isinstance(lo_type, _T.NumericType):
        # a silent cast would null string keys and SKIP their files —
        # stale duplicates after MERGE. Refuse loudly instead.
        raise ValueError(
            f"upsert_rewrite_set needs a numeric key (lo/hi are {lo_type}); "
            "for non-numeric keys map them to a numeric surrogate "
            "(e.g. a 64-bit hash stored as a column) before bucketing"
        )
    integral = isinstance(
        lo_type, (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType)
    )
    fractional = isinstance(lo_type, (_T.FloatType, _T.DoubleType))
    unusable = F.col("lo").isNull() | F.col("hi").isNull()
    if fractional:
        # NaN stats cannot bound a range — treat like missing stats
        # (unconditional rewrite), never a silent skip
        unusable = unusable | F.isnan("lo") | F.isnan("hi")
    missing = file_ranges.filter(unusable).select("file")
    ranged = file_ranges.filter(~unusable)
    if fractional and updates.filter(F.isnan(key)).limit(1).count():
        raise ValueError(
            "upsert_rewrite_set: NaN update keys cannot be range-matched "
            "against file stats and would be silently skipped (stale "
            "duplicates after MERGE); filter or remap them first"
        )
    bounds = ranged.agg(
        F.min("lo").alias("glo"), F.max("hi").alias("ghi")
    ).collect()[0]
    if bounds["glo"] is None:
        return missing.distinct()
    if integral:
        glo, ghi = int(bounds["glo"]), int(bounds["ghi"])
    else:
        import math

        glo, ghi = math.floor(bounds["glo"]), math.ceil(bounds["ghi"])
    width = max(1, (ghi - glo) // buckets + 1)
    if integral:
        # integer div, not float division + cast: (x − glo) / width as a
        # double loses exactness above 2^53 and misbuckets large keys.
        # The subtraction runs in DECIMAL(38,0): full-range 64-bit keys
        # (hash surrogates like rollup_key = xxhash64(...)) make
        # (x − glo) overflow BIGINT when glo is deeply negative —
        # ANSI mode then kills the job (and non-ANSI would wrap to a
        # WRONG bucket, a silently skipped rewrite). A 38-digit decimal
        # holds any int64 difference exactly.
        b_lo = F.expr(
            f"CAST((CAST(lo AS DECIMAL(38,0)) - {glo}) div {width} AS BIGINT)"
        )
        b_hi = F.expr(
            f"CAST((CAST(hi AS DECIMAL(38,0)) - {glo}) div {width} AS BIGINT)"
        )
        b_k = F.expr(
            f"CAST((CAST(__k AS DECIMAL(38,0)) - {glo}) div {width} AS BIGINT)"
        )
    else:
        # fractional/decimal keys: a BIGINT cast TRUNCATES (update key
        # 5.7 would miss a file spanning [5.5, 6.0] — a silently
        # skipped rewrite). Bucket by the same monotonic FLOOR formula
        # on both sides (consistency is what the equi join needs) and
        # leave the residual containment on the ORIGINAL untruncated
        # values below.
        b_lo = F.expr(
            f"CAST(FLOOR((CAST(lo AS DOUBLE) - {glo}) / {width}) AS BIGINT)"
        )
        b_hi = F.expr(
            f"CAST(FLOOR((CAST(hi AS DOUBLE) - {glo}) / {width}) AS BIGINT)"
        )
        b_k = F.expr(
            f"CAST(FLOOR((CAST(__k AS DOUBLE) - {glo}) / {width}) AS BIGINT)"
        )
    exploded = ranged.withColumn("__bucket", F.explode(F.sequence(b_lo, b_hi)))
    upd = (
        updates.select(F.col(key).alias("__k"))
        .distinct()
        .withColumn("__bucket", b_k)
    )
    hit = exploded.join(
        upd,
        (exploded["__bucket"] == upd["__bucket"])
        & (upd["__k"] >= exploded["lo"])
        & (upd["__k"] <= exploded["hi"]),
        "left_semi",
    ).select("file")
    return hit.unionByName(missing).distinct()


def pruned_read_footer_table(
    spark: SparkSession,
    path: str,
    index: DataFrame,
    predicates: dict,
) -> DataFrame:
    """File-level pruned read driven by the DISTRIBUTED footer-stats
    table (`footer_stats_index_table`): the overlap test runs as Spark
    filters over the index (a file survives if ANY of its row groups
    overlaps every predicate interval; row groups with missing stats
    cannot prune and count as overlapping), only the surviving FILE
    LIST is collected (bounded by file count — the unavoidable driver
    state, since the reader takes paths), and the parquet reader's own
    row-group pushdown finishes the job. Row-identical to a full
    scan + filter. This is the at-scale path; `pruned_read_footer`
    below stays for driver-sized pandas indexes."""
    cond = F.lit(True)
    for c, (lo, hi) in predicates.items():
        overlap = (F.col(f"max_{c}") >= F.lit(lo)) & (F.col(f"min_{c}") <= F.lit(hi))
        no_stats = F.col(f"min_{c}").isNull() | F.col(f"max_{c}").isNull()
        cond = cond & (overlap | no_stats)
    keep = [
        r["file"]
        for r in index.filter(cond).select("file").distinct().collect()
    ]
    if not keep:
        out = manifest_read(spark, path).limit(0)
    else:
        out = spark.read.parquet(*sorted(keep))
    for c, (lo, hi) in predicates.items():
        out = out.filter((F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi)))
    return out


def pruned_read_footer(
    spark: SparkSession,
    path: str,
    cols_index: "object",
    predicates: dict,
) -> DataFrame:
    """File-level pruned read driven by the footer-stats index: keep a
    file if ANY of its row groups overlaps every predicate interval,
    then let the parquet reader's own row-group pushdown finish the
    job. Row-identical to a full scan + filter."""
    from pyspark.sql import functions as _F

    df = cols_index
    keep = set()
    for _, r in df.iterrows():
        ok = True
        for c, (lo, hi) in predicates.items():
            mn, mx = r[f"min_{c}"], r[f"max_{c}"]
            if mn is None or mx is None:
                continue  # no stats → cannot prune this group
            if mx < lo or mn > hi:
                ok = False
                break
        if ok:
            keep.add(r["file"])
    if not keep:
        empty = spark.read.parquet(path).limit(0)
        for c, (lo, hi) in predicates.items():
            empty = empty.filter((_F.col(c) >= lo) & (_F.col(c) <= hi))
        return empty
    out = spark.read.parquet(*sorted(keep))
    for c, (lo, hi) in predicates.items():
        out = out.filter((_F.col(c) >= _F.lit(lo)) & (_F.col(c) <= _F.lit(hi)))
    return out


#: file-count ceiling for the driver-side rewrite-set fast path — the
#: same "driver-sized" bound footer_stats_index documents; above it the
#: distributed index + bucket join takes over
_SMALL_TABLE_FILES = 32


def _keys_rewrite_set(
    update_keys,
    lo_by_file: dict,
    hi_by_file: dict,
    cond: list[str],
    missing: set[str],
    fractional: bool,
) -> list[str]:
    """Containment test against a caller-supplied driver-side key list
    (the IVM folds' bounded deltas): no job at all — the fused
    aggregate pays a fresh whole-stage-codegen compile every call
    (its range literals change per upsert; measured ~0.5 s/call)."""
    import bisect as _bisect

    if fractional and any(
        isinstance(v, float) and v != v for v in update_keys
    ):
        raise ValueError(
            "selective upsert/delete: NaN update keys cannot be "
            "range-matched against file stats and would be silently "
            "skipped (stale duplicates after MERGE); filter or remap "
            "them first"
        )
    vals = sorted(
        v
        for v in update_keys
        if v is not None and not (isinstance(v, float) and v != v)
    )
    return sorted(
        set(missing)
        | {
            f
            for f in cond
            if _bisect.bisect_right(vals, hi_by_file[f])
            > _bisect.bisect_left(vals, lo_by_file[f])
        }
    )


def _small_table_rewrite_set(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    files: list[str],
    update_keys=None,
) -> list[str] | None:
    """Driver-sized MERGE planning: for tables of ≤ `_SMALL_TABLE_FILES`
    live files, read the footers in-process (pyarrow — no Spark job, no
    Python-worker round trip) and test range containment with ONE fused
    map-side aggregate over the updates (one boolean max per candidate
    file) instead of the distributed index job + global-bounds collect
    + bucket-join collect the at-scale path needs. Returns the sorted
    rewrite list, or None when the table is too wide for the fast path
    or a key's footer stats are not plain int/float (the distributed
    path owns every other case). Semantics are identical: a file is
    rewritten iff its [lo, hi] can contain an update key, and files
    with missing stats are rewritten unconditionally."""
    if len(files) > _SMALL_TABLE_FILES:
        return None
    pdf = footer_stats_index(path, [key])
    lo_by_file: dict[str, object] = {}
    hi_by_file: dict[str, object] = {}
    missing: set[str] = set()
    for r in pdf.itertuples(index=False):
        f = r.file
        lo, hi = getattr(r, f"min_{key}"), getattr(r, f"max_{key}")
        if lo is None or hi is None or (
            isinstance(lo, float) and lo != lo
        ) or (isinstance(hi, float) and hi != hi):
            missing.add(f)
            continue
        if not isinstance(lo, (int, float)) or isinstance(lo, bool):
            return None  # exotic key type: let the typed Spark path refuse
        lo_by_file[f] = lo if f not in lo_by_file else min(lo_by_file[f], lo)
        hi_by_file[f] = hi if f not in hi_by_file else max(hi_by_file[f], hi)
    cond = sorted(set(lo_by_file) - missing)
    fractional = any(isinstance(lo_by_file[f], float) for f in cond)
    if update_keys is not None:
        return _keys_rewrite_set(
            update_keys, lo_by_file, hi_by_file, cond, missing, fractional
        )
    aggs = [
        F.max(
            F.when(
                (F.col(key) >= F.lit(lo_by_file[f]))
                & (F.col(key) <= F.lit(hi_by_file[f])),
                1,
            )
        ).alias(f"__r{i}")
        for i, f in enumerate(cond)
    ]
    if fractional:
        # NaN update keys can never range-match and would be silently
        # skipped (stale duplicates after MERGE) — same loud refusal as
        # upsert_rewrite_set, fused into the same aggregate
        aggs.append(F.max(F.when(F.isnan(key), 1)).alias("__nan"))
    if not aggs:
        return sorted(missing)
    hit = updates.agg(*aggs).collect()[0]
    if fractional and hit["__nan"]:
        raise ValueError(
            "selective upsert/delete: NaN update keys cannot be "
            "range-matched against file stats and would be silently "
            "skipped (stale duplicates after MERGE); filter or remap "
            "them first"
        )
    return sorted(
        set(missing)
        | {f for i, f in enumerate(cond) if hit[f"__r{i}"] is not None}
    )


def _cas_base(path: str) -> tuple[list[str], object]:
    """(live files, CAS generation) for a copy-on-write mutation, from
    ONE manifest read. A plain directory table is bootstrapped to
    generation 0 here — committing its current live set changes
    nothing for readers, and makes the later move-in invisible to the
    glob fallback. Nothing at `path` yields ([], EXPECT_ABSENT)."""
    files, gen, _ = read_store(path)
    if gen is EXPECT_ABSENT:
        files = live_files(path)
        if files:
            commit_store(path, [], EXPECT_ABSENT, keep=files)
            gen = 0
    return files, gen


def selective_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str,
    keep_history: bool = False,
    evolve_schema: bool = False,
    update_keys=None,
) -> dict:
    """Copy-on-write MERGE (upsert by `key`) that rewrites ONLY the
    files whose footer key range can contain an updated key; every
    other file is left byte-identical. This is the Delta/Iceberg MERGE
    mechanic built from the primitives above: footer stats pick the
    rewrite set (a broadcast range semi-join, no target scan), the
    rewrite reads just those files (anti-join old keys, union the
    updates — inserts with out-of-range keys land here too), and the
    swap COMMITS through the live-file manifest: staged files move in,
    the manifest is atomically replaced (the commit point), and only
    then are the replaced files deleted. A crash anywhere leaves
    manifest readers (`manifest_read`, `pruned_read*`,
    `footer_stats_index*`) on the exact pre- or post-commit snapshot —
    never transient duplicates (only a raw `spark.read.parquet(dir)`
    between move-in and cleanup can see both copies). At 100 TB the
    manifest write IS the transaction-log commit. Sort/cluster the
    table by `key` (`write_zordered` or a range sort) and the rewrite
    set shrinks to ~updates/file_span.

    Returns {"files_total", "files_rewritten", "rows_written"}.

    `update_keys`: optional driver-side list of the EXACT key values in
    `updates` (callers with bounded deltas — the IVM folds — already
    hold them). When given, the rewrite-set containment probe and the
    kept-rows anti join run with zero extra jobs (bisect containment +
    a literal-IN filter); the caller is responsible for the list
    matching `updates`' keys exactly.

    On a path that holds no table the upsert CREATES generation 0 from
    `updates` with a CAS (a racing creator loses with
    `ConcurrentCommitError`), at the cost of the plain write it
    replaces: one write job, no footer read, schema merge or
    containment probe.
    """
    from pyspark.sql import Observation

    # CAS base (r9): the generation this writer's `before` list was
    # read at — the final commit refuses if another writer moved it.
    before, gen0 = _cas_base(path)
    # the footer index enumerates exactly the live files, so the file
    # total is the manifest list's length — no counting job
    files_total = len(before)
    # rows_written rides the write job as an observation — the staged
    # table is never re-read (the previous shape re-scanned the full
    # staged output just for this stat)
    _obs = Observation()
    if not before:
        commit_store(
            path,
            [("upsert", updates.observe(_obs, F.count(F.lit(1)).alias("rows")))],
            gen0,
        )
        return {
            "files_total": 0,
            "files_rewritten": 0,
            "rows_written": int(_obs.get["rows"]),
        }
    small = _small_table_rewrite_set(
        spark, path, updates, key, before, update_keys=update_keys
    )
    if small is not None:
        rewrite = small
    else:
        # distributed footer-stats index → per-file key ranges (Spark-
        # side; a NULL range means the footer carried no stats for
        # `key` — such a file is unconditionally in the rewrite set,
        # never silently kept). Materialized ONCE: the index is
        # consumed multiple times below (global bounds, bucket join,
        # missing-stats filter), and without a checkpoint every action
        # re-reads every live footer — at 100 TB the footer sweep over
        # millions of files is the planning cost.
        idx = footer_stats_index_table(spark, path, [key])
        ranges_df = idx.groupBy("file").agg(
            F.min(f"min_{key}").alias("lo"), F.max(f"max_{key}").alias("hi")
        ).localCheckpoint(eager=True)
        # equi bucket-blocked semi-join (upsert_rewrite_set): no
        # BroadcastNestedLoopJoin anywhere in the MERGE plan
        rewrite = sorted(
            r["file"]
            for r in upsert_rewrite_set(ranges_df, updates, key).collect()
        )
    # mergeSchema so an earlier evolved column counts as part of the
    # target schema (a plain read resolves one footer and could flag
    # it as "extra" on the next upsert). Driver-sized tables read the
    # footers in-process (pyarrow) — Spark's mergeSchema path launches
    # a schema-merge job over the files for every upsert; the union
    # mirrors its first-file-then-append field order.
    if len(before) <= _SMALL_TABLE_FILES:
        import pyarrow.parquet as _pq

        target_cols = []
        for f in before:
            for c in _pq.read_schema(f).names:
                if c not in target_cols:
                    target_cols.append(c)
    else:
        target_cols = (
            spark.read.option("mergeSchema", "true").parquet(*before).columns
        )
    extra = [c for c in updates.columns if c not in target_cols]
    if extra and not evolve_schema:
        # silent column drops are a data-loss hazard; evolving the
        # schema is an explicit opt-in (the Delta mergeSchema contract)
        raise ValueError(
            f"updates carry columns not in the target table {extra}; "
            "pass evolve_schema=True to add them (non-rewritten files "
            "keep the old schema — read through manifest_read(..., "
            "merge_schema=True))"
        )
    if rewrite:
        # mergeSchema: after an earlier evolve_schema=True upsert the
        # rewrite set can mix schemas; a plain read would resolve one
        # footer and drop the evolved column from kept rows
        old = spark.read.option("mergeSchema", "true").parquet(*rewrite)
        if update_keys is not None:
            # caller-supplied driver-side key list: the anti join (a
            # distinct aggregate + broadcast-exchange sub-job per
            # upsert) collapses to a map-side literal-IN filter.
            # NULL-key old rows are KEPT, matching left_anti's
            # null-never-matches semantics.
            keep = old.filter(
                F.col(key).isNull()
                | ~F.col(key).isin([k for k in update_keys if k is not None])
            )
        else:
            keep = old.join(updates.select(key).distinct(), key, "left_anti")
        if evolve_schema:
            merged = keep.unionByName(updates, allowMissingColumns=True)
        else:
            merged = keep.unionByName(updates.select(*target_cols))
    elif evolve_schema:
        merged = updates
    else:
        merged = updates.select(*target_cols)
    # the commit moves the staged files in, flips the manifest (THE
    # commit point) and only then deletes the replaced files — a crash
    # at any point leaves manifest readers on the pre- or post-commit
    # snapshot, never duplicates. keep_history=True leaves replaced
    # files on disk so earlier generations stay readable
    # (manifest_read(version=)); reclaim them later with
    # vacuum_table(path, keep_generations=K)
    rewritten = set(rewrite)
    commit_store(
        path,
        [("upsert", merged.observe(_obs, F.count(F.lit(1)).alias("rows")))],
        gen0,
        keep=[f for f in before if f not in rewritten],
        replaced=rewrite,
        keep_history=keep_history,
    )
    return {
        "files_total": files_total,
        "files_rewritten": len(rewrite),
        "rows_written": int(_obs.get["rows"]),
    }


def selective_delete(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key: str,
    keep_history: bool = False,
) -> dict:
    """Copy-on-write DELETE by key — the right-to-be-forgotten /
    retention-expiry primitive (Delta `DELETE FROM ... WHERE key IN`),
    completing the table-maintenance suite (upsert / compact / vacuum /
    time-travel / evolve). Footer stats pick the files whose key range
    can contain a deleted key (the same bucket-blocked equi semi-join
    as `selective_upsert` — no target scan, no BroadcastNestedLoopJoin);
    only those files are rewritten (anti-join on the keys), and the
    swap commits through the live-file manifest with the identical
    crash contract: staged files move in, the manifest flips atomically
    (THE commit point), replaced files are deleted post-commit. A file
    whose every row is deleted simply leaves the manifest — no empty
    file is written. With `keep_history=True` the pre-delete
    generation stays readable via `manifest_read(version=...)` until
    `vacuum_table` — note that for GDPR erasure the vacuum IS the
    erasure: history generations still hold the deleted rows.

    Returns {"files_total", "files_rewritten", "rows_deleted"}.
    """
    # CAS base (r9): same contract as selective_upsert — refuse the
    # final flip if another writer committed since this read
    before, gen0 = _cas_base(path)
    files_total = len(before)
    del_keys = keys.select(key).distinct()
    n_rows_by_file: dict[str, int] | None = None
    small = _small_table_rewrite_set(spark, path, del_keys, key, before)
    if small is not None:
        rewrite = small
        pdf = footer_stats_index(path, [key])
        n_rows_by_file = (
            pdf.groupby("file")["n_rows"].sum().astype(int).to_dict()
        )
    else:
        # one footer pass (the selective_upsert discipline): materialize
        # the per-file ranges — carrying each file's row total, so the
        # deleted-row accounting below never re-reads the rewritten files
        idx = footer_stats_index_table(spark, path, [key])
        ranges_df = idx.groupBy("file").agg(
            F.min(f"min_{key}").alias("lo"),
            F.max(f"max_{key}").alias("hi"),
            F.sum("n_rows").alias("__n_rows"),
        ).localCheckpoint(eager=True)
        rewrite = sorted(
            r["file"]
            for r in upsert_rewrite_set(ranges_df, del_keys, key).collect()
        )
    if not rewrite:
        return {"files_total": files_total, "files_rewritten": 0, "rows_deleted": 0}
    # mergeSchema: the rewrite set can mix schemas after an
    # evolve_schema=True upsert (same hazard as selective_upsert)
    old = spark.read.option("mergeSchema", "true").parquet(*rewrite)
    kept = old.join(del_keys, key, "left_anti")
    # n_old from the footer index (no data-page read)
    if n_rows_by_file is not None:
        n_old = sum(n_rows_by_file[f] for f in rewrite)
    else:
        n_old = int(
            ranges_df.filter(F.col("file").isin(rewrite))
            .agg(F.sum("__n_rows"))
            .collect()[0][0]
        )
    n_kept = kept.count()
    # a file whose every row is deleted simply leaves the manifest
    rewritten = set(rewrite)
    commit_store(
        path,
        [("delete", kept)] if n_kept > 0 else [],
        gen0,
        keep=[f for f in before if f not in rewritten],
        replaced=rewrite,
        keep_history=keep_history,
    )
    return {
        "files_total": files_total,
        "files_rewritten": len(rewrite),
        "rows_deleted": n_old - n_kept,
    }


def compact_table(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    keep_history: bool = False,
    sort_cols: Sequence[str] | None = None,
) -> dict:
    """Bin-packing small-file compaction (the Delta OPTIMIZE / Iceberg
    rewrite-data-files analog), committed through the same live-file
    manifest as `selective_upsert`. Continuous ingest and selective
    upserts both shed small files; at 100 TB the resulting
    per-file-task overhead and footer-index bloat are the dominant
    read tax, and compaction is the lifecycle op that pays it down.

    Files smaller than `target_bytes` are greedily packed
    (size-ascending first-fit) into groups whose summed size stays
    ≤ `target_bytes`; each group with ≥ 2 files is rewritten as ONE
    file. Files ≥ target, and lone leftovers, are left byte-identical
    — compaction never rewrites what is already well-sized. Each
    group's rewrite is an independent bounded job (a scheduler can run
    groups in parallel; here they run sequentially), then
    `commit_store` moves the staged files in, ONE manifest flip
    commits every group atomically, and replaced files are deleted
    post-commit (or kept when `keep_history=True`, readable via
    `manifest_read(version=...)` until `vacuum_table`). A crash
    anywhere leaves manifest readers on the exact pre- or post-commit
    snapshot — the `selective_upsert` guarantee, inherited by sharing
    its commit path.

    `sort_cols` switches the rewrite to a RANGE-CLUSTERED compaction
    (the Delta OPTIMIZE ZORDER mechanic): all sub-target files are
    rewritten together through one repartitionByRange(sort_cols) +
    within-partition sort, so each output file owns a DISJOINT key
    range. Per-group sorting could never do this — rows from every
    ingest batch span the whole key space, so sorting inside an
    arbitrary bin leaves its file-level min/max as wide as before.
    Compaction is the one moment the rows are rewritten anyway, so
    the one range exchange is the cheapest point to restore the
    footer min/max locality that `footer_stats_index*`/`pruned_read*`
    prune with — small ingest batches scatter key ranges, clustered
    compaction re-narrows them (measured in the pruning test: a point
    probe prunes all but one output file).

    Returns {"files_before", "files_after", "groups_compacted",
    "bytes_compacted"}.
    """
    import os as _os

    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be > 0, got {target_bytes}")
    # CAS base (r9): compaction races ingest at 100 TB — refuse the
    # flip if an upsert/delete committed since this read
    before, gen0 = _cas_base(path)
    sizes = {f: _os.path.getsize(f) for f in before}
    small = sorted(
        (f for f in before if sizes[f] < target_bytes), key=lambda f: sizes[f]
    )
    groups: list[list[str]] = []
    cur: list[str] = []
    cur_bytes = 0
    for f in small:
        if cur and cur_bytes + sizes[f] > target_bytes:
            groups.append(cur)
            cur, cur_bytes = [], 0
        cur.append(f)
        cur_bytes += sizes[f]
    if cur:
        groups.append(cur)
    if sort_cols:
        # range-clustered rewrite: one scope spanning every small file
        groups = [small] if len(small) >= 2 else []
    else:
        groups = [g for g in groups if len(g) >= 2]
    if not groups:
        return {
            "files_before": len(before),
            "files_after": len(before),
            "groups_compacted": 0,
            "bytes_compacted": 0,
        }
    frames = []
    for g in groups:
        # mergeSchema: after selective_upsert(..., evolve_schema=True)
        # files in one group can disagree on columns — a plain read
        # resolves ONE footer and would silently drop the evolved
        # column from the rewritten file (pinned by test)
        gread = spark.read.option("mergeSchema", "true").parquet(*g)
        if sort_cols:
            n_out = max(1, -(-sum(sizes[f] for f in g) // target_bytes))
            gdf = gread.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
                *sort_cols
            )
        else:
            gdf = gread.coalesce(1)
        frames.append(("compact", gdf))
    replaced = {f for g in groups for f in g}
    moved = commit_store(
        path,
        frames,
        gen0,
        keep=[f for f in before if f not in replaced],
        replaced=sorted(replaced),
        keep_history=keep_history,
    )
    return {
        "files_before": len(before),
        "files_after": len(before) - len(replaced) + len(moved),
        "groups_compacted": len(groups),
        "bytes_compacted": sum(sizes[f] for f in replaced),
    }
