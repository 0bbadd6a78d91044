"""Shuffle census: count Exchange operators in every registered
query's physical plan and diff against the recorded baseline
(SHUFFLES.json) — a plan-shape regression harness.

Every shuffle is the unit of 100 TB cost; a refactor that silently
adds one to a registered query should fail loudly in the next session,
the way a hash-mismatch does for correctness. Run with --write after
INTENTIONAL plan changes to re-baseline (the diff shows up in git).

Usage:
    python tools/shuffle_census.py           # diff against SHUFFLES.json
    python tools/shuffle_census.py --write   # (re)write the baseline

Note: constructing every plan also surfaces Spark's WindowExec
single-partition warning; the registry's only global windows are the
explicitly-opted-in bounded calendar-day tables (one row per day):
events_lag_lead (`with_lag_lead(..., allow_global=True)`) and
events_cusum_changepoint (`windows.cusum_scaled`, global-by-contract
over pre-aggregated series) — verified by plan scan while building
this baseline.
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASELINE = os.path.join(REPO, "SHUFFLES.json")
SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")


def exchange_count(df) -> int:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return count_exchanges(buf.getvalue())


def _tree_col(line: str) -> int:
    """Column of a plan-tree line's own "+-" or node text, past the
    spaces and ":" rails its ancestors draw."""
    return len(line) - len(line.lstrip(" :"))


def count_exchanges(plan_text: str) -> int:
    """Distinct shuffle Exchange operators in a formatted explain.

    Counts DISTINCT Exchange operator ids from the plan TREE (r13): a
    persist-pinned table (io.pin_stats) displays its cached child plan
    under EVERY InMemoryTableScan that reads it, including the nested
    AdaptiveSparkPlan's "== Initial Plan ==" duplicate — a line count
    would charge those exchanges once per display even though the
    cached plan executes exactly once at pin time. Dedupe by operator
    id and skip Initial Plan regions (the Final Plan is what ran).
    BroadcastExchange/ReusedExchange are not shuffles and stay
    excluded. An Initial Plan region is every following line drawn
    right of its marker's "+-"; marker and lines are measured with the
    same rule, so a node drawn at the marker's own column ends the
    region instead of being skipped with it."""
    plan = plan_text.split("===== Subqueries =====")[0]
    ids: set[str] = set()
    skip_col: int | None = None
    for line in plan.splitlines():
        if skip_col is not None:
            if _tree_col(line) <= skip_col and line.strip():
                skip_col = None
            else:
                continue
        if "== Initial Plan ==" in line:
            skip_col = _tree_col(line)
            continue
        for m in re.finditer(r"\b(?<!Broadcast)(?<!Reused)Exchange \((\d+)\)", line):
            ids.add(m.group(1))
    return len(ids)


def main() -> int:
    write = "--write" in sys.argv
    import __spark_entry__ as entry_mod
    from social_media_data_pipeline_spark.session import get_spark

    spark = get_spark("shuffle-census")
    qs = entry_mod.queries()
    counts: dict[str, int] = {}
    for name, fn in qs.items():
        try:
            counts[name] = exchange_count(fn(spark, SF_DIR))
        except Exception as e:  # construction failure is its own signal
            counts[name] = -1
            print(f"ERR  {name}: {e}")
    if write or not os.path.exists(BASELINE):
        with open(BASELINE, "w") as f:
            json.dump(counts, f, indent=0, sort_keys=True)
        print(f"baseline written: {len(counts)} queries -> {BASELINE}")
        return 0
    with open(BASELINE) as f:
        base = json.load(f)
    regressions = []
    for name, c in sorted(counts.items()):
        b = base.get(name)
        if b is None:
            print(f"NEW  {name}: {c} shuffles (not in baseline — rerun --write)")
        elif c > b:
            regressions.append((name, b, c))
            print(f"GREW {name}: {b} -> {c} shuffles")
        elif c < b:
            print(f"shrank {name}: {b} -> {c} shuffles (rerun --write to lock in)")
    print(f"{len(regressions)} shuffle regressions across {len(counts)} queries")
    return 1 if regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
