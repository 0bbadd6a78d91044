"""Arrow-batched inference UDFs over binary/text columns (F1-F5).

Pattern (SURVEY.md §4.2.3): model held in a per-executor lazy singleton
(created once per Python worker, NOT per batch/row); Arrow batches in
and out via pandas_udf / mapInPandas; all columns stay JVM-side except
the one the model needs.

The reference iterates rows with tqdm on a single process
(`ImageLabeler.py:133-151`); here batching + distribution come from the
engine, and GPU pinning is a per-executor concern inside the factory.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# per-worker model cache: factory id → instance
_MODEL_CACHE: dict[int, Any] = {}


def _get_model(factory: Callable[[], Any]) -> Any:
    key = id(factory)
    if key not in _MODEL_CACHE:
        _MODEL_CACHE[key] = factory()
    return _MODEL_CACHE[key]


PREDICTIONS_TYPE = T.ArrayType(
    T.StructType(
        [T.StructField("category", T.StringType()), T.StructField("confidence", T.DoubleType())]
    )
)


def scene_label_udf(labeler_factory: Callable[[], Any]):
    """F3: image bytes → top-5 predictions array (`ImageLabeler.py:151-158`)."""

    @F.pandas_udf(PREDICTIONS_TYPE)
    def _label(contents: pd.Series) -> pd.Series:
        model = _get_model(labeler_factory)
        return pd.Series(
            [[{"category": c, "confidence": p} for c, p in model.predict(b)[0]] for b in contents]
        )

    return _label


def feature_vector_udf(extractor_factory: Callable[[], Any]):
    """F5: image bytes → float vector (`DIRAdapter.py:20-76`)."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def _extract(contents: pd.Series) -> pd.Series:
        model = _get_model(extractor_factory)
        return pd.Series([model.extract(b) for b in contents])

    return _extract


def anonymize_images(
    df: DataFrame, anonymizer_factory: Callable[[], Any], content_col: str = "content"
) -> DataFrame:
    """F4: binary→binary over mapInPandas (`ImageAnonymizer.py:28-51`).

    mapInPandas (not pandas_udf) because image payloads are large: the
    iterator form streams Arrow batches without holding the whole
    partition, and output batch sizing is controlled by the input.
    """
    schema = df.schema

    def _anon(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _get_model(anonymizer_factory)
        for pdf in batches:
            pdf[content_col] = pdf[content_col].map(model.anonymize)
            yield pdf

    return df.mapInPandas(_anon, schema)


def label_images(
    images: DataFrame,
    labeler_factory: Callable[[], Any],
    content_col: str = "content",
    image_col: str = "image",
) -> DataFrame:
    """Full F3 stage: bytes → predictions + top-1 category
    (`ImageLabeler.py:129-167` output shape: image, predictions
    array<struct<category, confidence>>, category)."""
    udf = scene_label_udf(labeler_factory)
    return images.select(
        F.col(image_col).alias("image"),
        udf(F.col(content_col)).alias("predictions"),
    ).withColumn("category", F.col("predictions").getItem(0).getField("category"))


def extract_features(
    images: DataFrame,
    extractor_factory: Callable[[], Any],
    content_col: str = "content",
    image_col: str = "image",
) -> DataFrame:
    """Full F5 stage: bytes → feature table (schemas.IMAGE_FEATURES)."""
    udf = feature_vector_udf(extractor_factory)
    return images.select(
        F.col(image_col).alias("image"), udf(F.col(content_col)).alias("feature")
    )
