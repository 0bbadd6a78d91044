"""Embedding scalar quantization — the storage/bandwidth scale path.

At 100 TB the embedding column dominates bytes (a 64-dim float32 vector
is 256 B/row; the rest of a documents row is ~100 B). Symmetric int8
quantization cuts that 4× with bounded error (max |x̂−x| ≤ scale/2,
scale = max|x|/127), which compounds through every shuffle/scan that
carries vectors: IVF assignment, near-dup verification, ANN. All pure
column expressions — quantize/dequantize never leave the JVM.

Standard public technique (e.g. FAISS SQ8); no model, fully
deterministic, so the DuckDB differential oracle reproduces it exactly
(rounding is pinned to half-away-from-zero via sign·floor(|v|+0.5) —
engine round() defaults differ, this form doesn't).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _round_half_away(v: Column) -> Column:
    return F.signum(v) * F.floor(F.abs(v) + F.lit(0.5))


def quantize_scale(vec_col: str | Column) -> Column:
    """Per-vector symmetric scale: max|x| / 127 (0-vectors → scale 0)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return (
        F.array_max(F.transform(c, lambda x: F.abs(x.cast("double")))) / F.lit(127.0)
    ).alias("scale")


def quantize_vector(vec_col: str | Column, scale: Column) -> Column:
    """array<float> → array<tinyint> in [-127, 127]."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c,
        lambda x: F.when(scale > 0, _round_half_away(x.cast("double") / scale))
        .otherwise(F.lit(0.0))
        .cast("tinyint"),
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, q_embedding array<tinyint>, scale double) — the stored form.

    Write this instead of the float column and reconstruct on read as
    x̂ = q·scale; reconstruction error is ≤ scale/2 per
    dimension, which preserves cosine top-k ordering for all but
    hairline-close pairs (re-rank candidates against the float column
    when exactness matters — the candidates are tiny by then).
    """
    scale = quantize_scale(vec_col)
    return df.select(
        F.col(id_col),
        quantize_vector(vec_col, scale).alias("q_embedding"),
        # exact scale — rounding it would break the ≤ scale/2
        # reconstruction bound for tiny-magnitude vectors
        scale.alias("scale"),
    )
