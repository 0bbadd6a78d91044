"""Presentation layer (SURVEY.md §3.3 gap): the reference ships 457 LoC
of matplotlib charts (`Exploration/plotting.py` — timeseries histogram
`:70-120`, dual-axis timeseries `:123-192`, per-category catplot
`:195-263`, correlation heatmap `:14-26`, gaussian trendline `:10-11`).
This module renders the SAME artifacts as dependency-free text/markdown
so the exploration story is complete without an imaging stack.

Spark-first split: everything data-sized stays distributed (the
aggregates come from `analytics/explore.py`; trendlines from
`analytics/smoothing.py` run as grouped pandas UDFs) — only the final
render collects, and every renderer takes an ALREADY-AGGREGATED frame
whose size is bounded by its group-by domain, with an explicit
`max_rows` guard (truncation is reported in the output, never silent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# intensity ramp for text heatmaps (space → full block)
_RAMP = " .:-=+*#%@"
_BAR = "█"


def _collect_capped(df: DataFrame, order_by, max_rows: int):
    if order_by:
        df = df.orderBy(*order_by)
    rows = df.limit(max_rows + 1).collect()
    truncated = len(rows) > max_rows
    return rows[:max_rows], truncated


def render_table(df: DataFrame, order_by=None, max_rows: int = 200) -> str:
    """Aggregate frame → GitHub-markdown table."""
    rows, truncated = _collect_capped(df, order_by, max_rows)
    cols = df.columns
    fmt = lambda v: f"{v:.6g}" if isinstance(v, float) else ("" if v is None else str(v))
    lines = ["| " + " | ".join(cols) + " |", "|" + "---|" * len(cols)]
    lines += ["| " + " | ".join(fmt(row[c]) for c in cols) + " |" for row in rows]
    if truncated:
        lines.append(f"| … truncated at {max_rows} rows … " + "| " * (len(cols) - 1) + "|")
    return "\n".join(lines)


def bar_chart(
    df: DataFrame,
    label_col: str,
    value_col: str,
    width: int = 40,
    order_by=None,
    max_rows: int = 60,
    title: str = "",
) -> str:
    """Horizontal bar chart — the text analog of the reference's
    histogram/catplot bars. Bars scale to the max value; zero/negative
    values render empty."""
    rows, truncated = _collect_capped(df, order_by or [label_col], max_rows)
    vals = [float(row[value_col] or 0.0) for row in rows]
    peak = max((v for v in vals if v > 0), default=1.0)
    label_w = max((len(str(row[label_col])) for row in rows), default=5)
    out = [f"## {title}"] if title else []
    for row, v in zip(rows, vals):
        n = max(0, round(width * v / peak))
        out.append(f"{str(row[label_col]):<{label_w}} | {_BAR * n} {v:.6g}")
    if truncated:
        out.append(f"… truncated at {max_rows} rows …")
    return "\n".join(out)


def timeseries_chart(
    df: DataFrame,
    time_col: str,
    value_col: str,
    smooth_sigma: float | None = None,
    width: int = 40,
    max_rows: int = 120,
    title: str = "",
) -> str:
    """`plot_timeseries_histogram` parity: per-bucket bars plus an
    optional gaussian trendline column (the reference's smoothed red
    line, `plotting.py:96-98`) — smoothing runs DISTRIBUTED via
    `smoothing.smooth_series` before the render collect."""
    work = df
    if smooth_sigma is not None:
        from social_media_data_pipeline_spark.analytics.smoothing import smooth_series

        work = smooth_series(df, time_col, value_col, sigma=smooth_sigma)
    rows, truncated = _collect_capped(work, [time_col], max_rows)
    vals = [float(row[value_col] or 0.0) for row in rows]
    peak = max((v for v in vals if v > 0), default=1.0)
    label_w = max((len(str(row[time_col])) for row in rows), default=5)
    out = [f"## {title}"] if title else []
    for row, v in zip(rows, vals):
        n = max(0, round(width * v / peak))
        line = f"{str(row[time_col]):<{label_w}} | {_BAR * n} {v:.6g}"
        if smooth_sigma is not None:
            line += f"  (trend {row['smoothed']:.6g})"
        out.append(line)
    if truncated:
        out.append(f"… truncated at {max_rows} rows …")
    return "\n".join(out)


def dual_timeseries_chart(
    df: DataFrame,
    time_col: str,
    left_col: str,
    right_col: str,
    width: int = 24,
    max_rows: int = 120,
    title: str = "",
) -> str:
    """`dualplot_timeseries` parity (`plotting.py:123-192`): two series
    on the same time axis, independently scaled (the twin-axis trick),
    rendered back-to-back. Input is one aligned frame — build it with
    `operators.joins.align_series` (J2), exactly the reference's
    two-aggregations-one-axis flow."""
    rows, truncated = _collect_capped(df, [time_col], max_rows)

    def scaled(col):
        vals = [float(row[col] or 0.0) for row in rows]
        peak = max((v for v in vals if v > 0), default=1.0)
        return [(max(0, round(width * v / peak)), v) for v in vals]

    left, right = scaled(left_col), scaled(right_col)
    label_w = max((len(str(row[time_col])) for row in rows), default=5)
    out = [f"## {title}"] if title else []
    out.append(f"{'':<{width}} {left_col} | {'':<{label_w}} | {right_col}")
    for row, (ln, lv), (rn, rv) in zip(rows, left, right):
        out.append(
            f"{_BAR * ln:>{width}} {lv:>10.6g} | {str(row[time_col]):<{label_w}} | "
            f"{_BAR * rn} {rv:.6g}"
        )
    if truncated:
        out.append(f"… truncated at {max_rows} rows …")
    return "\n".join(out)


def category_timeseries_chart(
    df: DataFrame,
    time_col: str,
    category_col: str,
    value_col: str,
    max_rows: int = 400,
    title: str = "",
) -> str:
    """`catplot` parity (`plotting.py:195-263`): one row per time
    bucket, one intensity cell per category — a compact grid instead of
    N overlaid lines. Cell intensity is scaled per category (like
    separately-scaled lines)."""
    rows, truncated = _collect_capped(df, [time_col, category_col], max_rows)
    cats = sorted({str(row[category_col]) for row in rows})
    buckets: dict = {}
    peaks = dict.fromkeys(cats, 0.0)
    for row in rows:
        v = float(row[value_col] or 0.0)
        buckets.setdefault(str(row[time_col]), {})[str(row[category_col])] = v
        peaks[str(row[category_col])] = max(peaks[str(row[category_col])], v)
    col_w = max([len(c) for c in cats] + [6])
    label_w = max((len(t) for t in buckets), default=5)
    out = [f"## {title}"] if title else []
    out.append(" " * label_w + " " + " ".join(f"{c:>{col_w}}" for c in cats))
    for t in sorted(buckets):
        cells = []
        for c in cats:
            v = buckets[t].get(c)
            if v is None:
                cells.append(f"{'':>{col_w}}")
            else:
                lvl = _RAMP[round((len(_RAMP) - 1) * v / peaks[c])] if peaks[c] else _RAMP[0]
                cells.append(f"{lvl * 3:>{col_w}}")
        out.append(f"{t:<{label_w}} " + " ".join(cells))
    if truncated:
        out.append(f"… truncated at {max_rows} rows …")
    return "\n".join(out)


def correlation_heatmap(corr_df: DataFrame, col_a="col_x", col_b="col_y", value_col="corr") -> str:
    """`plot_correlation` parity (`plotting.py:14-26`): square text
    heatmap over the pairwise-correlation frame
    (`aggregates.correlation_matrix` output: one row per column pair)."""
    rows, _ = _collect_capped(corr_df, [col_a, col_b], 10_000)
    names = sorted({str(r[col_a]) for r in rows} | {str(r[col_b]) for r in rows})
    grid = {(str(r[col_a]), str(r[col_b])): float(r[value_col]) for r in rows}
    col_w = max(len(n) for n in names) if names else 4
    out = [" " * col_w + " " + " ".join(f"{n:>{col_w}}" for n in names)]
    for a in names:
        cells = []
        for b in names:
            v = grid.get((a, b), grid.get((b, a), 1.0 if a == b else None))
            if v is None:
                cells.append(f"{'':>{col_w}}")
            else:
                # |corr| → ramp intensity; sign shown by +/-
                lvl = _RAMP[round((len(_RAMP) - 1) * min(abs(v), 1.0))]
                cells.append(f"{('+' if v >= 0 else '-') + lvl * 2 + f'{v:.2f}':>{col_w}}")
        out.append(f"{a:<{col_w}} " + " ".join(cells))
    return "\n".join(out)


def save_report(sections: dict[str, str], path: str) -> str:
    """Write named render sections to one markdown file (the analog of
    the reference's `plt.savefig(fpath)` exports)."""
    body = "\n\n".join(f"# {name}\n\n```\n{text}\n```" for name, text in sections.items())
    with open(path, "w") as fh:
        fh.write(body + "\n")
    return path
