"""Vector functions: cosine similarity, L2 normalization, pseudo-embeddings.

JVM Column expressions where possible (`F.zip_with` + `F.aggregate` keep the
dot product inside codegen — no Python, no shuffle); the deterministic
pseudo-embedding (byte-histogram hash, reference
``hybrid_search_service.py:197-212``) is a vectorized numpy function used as
the test stand-in for a real embedding model.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    )


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float/double> columns, JVM-side."""
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def pseudo_embedding(text: str, dimension: int = 384) -> list[float]:
    """Deterministic byte-histogram embedding, identical to the reference's
    ``_pseudo_embedding``: histogram[(byte + idx) % dim] += 1, L2-normalized."""
    vector = np.zeros(dimension, dtype=np.float64)
    encoded = text.encode("utf-8")
    if encoded:
        data = np.frombuffer(encoded, dtype=np.uint8).astype(np.int64)
        pos = (data + np.arange(data.size)) % dimension
        np.add.at(vector, pos, 1.0)
    norm = math.sqrt(float(np.dot(vector, vector))) or 1.0
    return (vector / norm).tolist()


def pseudo_embedding_series(s: pd.Series, dimension: int = 384) -> pd.Series:
    return s.fillna("").map(lambda t: pseudo_embedding(t, dimension))
