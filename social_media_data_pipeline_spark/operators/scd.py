"""Type-2 slowly-changing-dimension maintenance (Kimball SCD2 — the
public warehouse formulation): keep every historical version of a
dimension row as an interval [valid_from, valid_to), with the open
(current) version carrying valid_to NULL.

A training-data pipeline needs this for SOURCE METADATA that drifts
under its feet — license terms, crawl policies, domain quality tiers,
consent flags: a training run must join documents to the metadata
version that was VALID WHEN THE DOCUMENT WAS INGESTED, not to today's
(point-in-time correctness; the reference pipeline overwrites its
metadata in place — `orchestrator.py` re-runs clobber prior state —
which silently rewrites history for already-ingested docs).

Design: one full-outer key join between the OPEN slice of the
dimension and the update batch, then pure projections — no window, no
collect. Change detection is null-safe equality over `tracked_cols`
only (non-tracked columns carry forward from the previous version).
Scale shape (100 TB): the join shuffles on the natural key at
dimension size (dimensions are sublinear in fact/corpus size); history
rows pass through untouched via union — the whole maintenance cycle is
one key-partitioned join + one union, map-side everywhere else.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key_col: str,
    tracked_cols: Sequence[str],
    effective,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Apply an update batch to an SCD2 dimension → the NEW full
    history (same schema as `dim`). Per open row and update:

    - tracked value changed (null-safe) → the open row CLOSES
      (`to_col` = effective) and a NEW open version is born
      (`from_col` = effective, tracked columns from the update,
      non-tracked columns carried forward)
    - update equals the open row's tracked values → no-op (no
      spurious version; re-running the same batch is idempotent)
    - update key not in the dimension → INSERT as a brand-new open row
      (non-tracked columns NULL)
    - open row without an update, and ALL history rows → pass through

    Refused loudly: duplicate or NULL update keys (a duplicate would
    fork two open versions for one key — the silent-corruption class);
    an update whose key's open row has `from_col` >= effective (the
    close would create a negative interval — the caller's effective
    date is stale).
    """
    tracked = list(tracked_cols)
    if not tracked:
        raise ValueError("scd2_apply: tracked_cols must be non-empty")
    missing = [c for c in [key_col, *tracked] if c not in updates.columns]
    if missing:
        raise ValueError(f"scd2_apply: updates missing columns {missing}")
    eff = effective if isinstance(effective, Column) else F.lit(effective)

    dup = (
        updates.groupBy(key_col)
        .count()
        .filter((F.col("count") > 1) | F.col(key_col).isNull())
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"scd2_apply: update batch has duplicate or NULL key "
            f"{dup[0][key_col]!r} — one update per key (two updates for "
            "one key would fork two open versions)"
        )
    # the dimension's open slice gets the same validation as updates:
    # a NULL-key open row matches no branch after the full-outer join
    # (not passthrough, not change, not insert) and would silently
    # vanish from the returned history (bounded limit(1) probe)
    null_open = (
        dim.filter(F.col(to_col).isNull() & F.col(key_col).isNull())
        .limit(1)
        .collect()
    )
    if null_open:
        raise ValueError(
            f"scd2_apply: dimension has an OPEN row with NULL {key_col} "
            "— it can never match an update and would be dropped from "
            "the returned history; repair the dimension key first"
        )

    open_rows = dim.filter(F.col(to_col).isNull())
    hist_rows = dim.filter(F.col(to_col).isNotNull())
    u = updates.select(
        F.col(key_col).alias("__k"),
        *[F.col(c).alias(f"__u_{c}") for c in tracked],
    )
    j = open_rows.join(u, open_rows[key_col] == u["__k"], "full_outer")

    has_open = F.col(to_col).isNull() & F.col(key_col).isNotNull()
    has_upd = F.col("__k").isNotNull()
    same = F.lit(True)
    for c in tracked:
        same = same & F.col(c).eqNullSafe(F.col(f"__u_{c}"))
    change = has_open & has_upd & ~same

    stale = (
        j.filter(change & (F.col(from_col) >= eff)).limit(1).collect()
    )
    if stale:
        raise ValueError(
            f"scd2_apply: open row for key {stale[0][key_col]!r} has "
            f"{from_col} >= effective — closing it would create a "
            "negative validity interval; the effective date is stale"
        )

    dim_cols = dim.columns
    passthrough = j.filter(has_open & (~has_upd | same)).select(*dim_cols)
    closed = j.filter(change).select(
        *[eff.alias(to_col) if c == to_col else F.col(c) for c in dim_cols]
    )
    new_version = j.filter(change).select(
        *[
            F.col(f"__u_{c}").alias(c) if c in tracked
            else eff.alias(from_col) if c == from_col
            else F.lit(None).cast(dim.schema[c].dataType).alias(to_col)
            if c == to_col
            else F.col(c)
            for c in dim_cols
        ]
    )
    inserted = j.filter(has_upd & ~has_open).select(
        *[
            F.col("__k").alias(key_col) if c == key_col
            else F.col(f"__u_{c}").alias(c) if c in tracked
            else eff.alias(from_col) if c == from_col
            else F.lit(None).cast(dim.schema[c].dataType).alias(c)
            for c in dim_cols
        ]
    )
    return (
        hist_rows.unionByName(passthrough)
        .unionByName(closed)
        .unionByName(new_version)
        .unionByName(inserted)
    )


def scd2_asof_join(
    facts: DataFrame,
    dim: DataFrame,
    key_col: str,
    at_col: str,
    dim_key_col: str | None = None,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Join each fact row to the dimension VERSION valid at the fact's
    own `at_col` (a point-in-time slice is the same join against facts
    that all carry one instant): facts ⋈ dim ON key equality AND
    [from, to) containment, `to_col` NULL meaning open. The reference
    analog is joining posts to the metadata version valid at scrape
    time (`Preprocessor.py` re-runs clobber that history; SCD2 keeps
    it joinable).

    Plan shape: a HASH EQUI-JOIN on the natural key with the interval
    containment as a residual predicate — never a window over the
    fact table, never a cross/nested-loop join (the no-equi-key trap
    `interval_join_bucketed` exists for does not apply here: SCD2
    lookups always carry the key). At 100 TB the dimension is
    sublinear in the facts: broadcast it when it fits
    (`broadcast_dim=True`, the default — zero fact shuffle); set
    False for a giant dimension and the join shuffles both sides on
    the key. A fact matches at most ONE version when the dimension
    satisfies the scd2_apply interval-partition invariant; facts
    dated before their key's first version (or with no dim key) keep
    flowing with NULL dim columns under how='left'.
    """
    dkey = dim_key_col or key_col
    d = dim.alias("__dim")
    f = facts.alias("__f")
    cond = (
        (F.col(f"__f.{key_col}") == F.col(f"__dim.{dkey}"))
        & (F.col(f"__dim.{from_col}") <= F.col(f"__f.{at_col}"))
        & (
            F.col(f"__dim.{to_col}").isNull()
            | (F.col(f"__dim.{to_col}") > F.col(f"__f.{at_col}"))
        )
    )
    right = F.broadcast(d) if broadcast_dim else d
    dim_out = [c for c in dim.columns if c != dkey]
    return f.join(right, cond, how).select(
        *[F.col(f"__f.{c}") for c in facts.columns],
        *[F.col(f"__dim.{c}") for c in dim_out],
    )
