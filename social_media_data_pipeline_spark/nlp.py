"""NLP stage: language detection + conditional translation (M6; F1, F2, E15).

Reference: `Preprocessing/Translator.py` — detect (lang, score) per text
(`:67-94`), then translate rows NOT already confidently in the target
language, with 'empty' passthrough (`:125-139`), `<error>` sentinel on
bad payloads, and CSV checkpoint every 100 rows (`:141-144`).

Engine semantics:
- one Arrow-batched pandas_udf over the text column only: each row is
  detected once, and the translator is called only for rows that are
  not passthrough (E15), so already-target-language rows never reach
  the translation API;
- restartability: the reference's row-level checkpointing is replaced by
  idempotent re-run over a keyed output table.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from social_media_data_pipeline_spark.ml.inference import _get_model

_DETECT_TRANSLATE = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("translated", T.StringType()),
    ]
)


def translate_table(
    df: DataFrame,
    target_column: str,
    target_language: str,
    detector_factory: Callable[[], Any],
    translator_factory: Callable[[], Any],
    min_score: float = 0.9,
) -> DataFrame:
    """Full Translator stage (`Translator.py:52-145`): adds lang_og /
    lang_score (`:88-93` column contract) and `<target_column>_<lang>`.
    NA→"" normalization first (`:85`, P12). A row passes through
    untranslated when it is 'empty' or already the target language with
    score > min_score; otherwise it is translated, with the '<error>'
    sentinel on translator failure (`:133-136`).

    Detection and the conditional translation run in ONE Python pass
    per row. A `when(passthrough, text).otherwise(udf(text))` would not
    skip the translator (Spark evaluates an extracted Python UDF on
    every row before the CASE picks), and splitting the rows into keep
    and translate branches re-runs the detect UDF once per branch."""
    out_col = f"{target_column}_{target_language}"

    @F.pandas_udf(_DETECT_TRANSLATE)
    def _detect_translate(texts: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        detector = _get_model(detector_factory)

        def one(t: str) -> tuple[str, float, str]:
            lang, score = detector.detect(t)
            if lang == "empty" or (lang == target_language and score > min_score):
                return lang, score, t
            translator = _get_model(translator_factory)
            try:
                return lang, score, translator.translate(t)
            except Exception:
                return lang, score, "<error>"

        for batch in texts:
            yield pd.DataFrame(
                [one(t) for t in batch], columns=["lang", "score", "translated"]
            )

    normalized = F.coalesce(F.col(target_column).cast("string"), F.lit(""))
    return (
        df.withColumn("__lang", _detect_translate(normalized))
        .withColumns(
            {
                "lang_og": F.col("__lang.lang"),
                "lang_score": F.col("__lang.score"),
                out_col: F.col("__lang.translated"),
            }
        )
        .drop("__lang")
    )
