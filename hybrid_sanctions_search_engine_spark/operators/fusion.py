"""Result dedup and overlay helpers — the reference's combine stage.

The weighted score fusion itself (``_combine_results``: AC 0.6 / vector
0.4, +0.1 shared-hit bonus) and the ``_process_results`` threshold run
driver-side over k-bounded rows in ``plans.hybrid.decide_and_fuse``.  This
module keeps the DataFrame-level pieces of that stage
(``hybrid_search_service.py:1091-1291``): rank-deterministic keep-best
dedup, the delta-overlay union and per-query confidence normalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SHARED_HIT_BONUS = 0.1


def dedup_keep_best(
    df: DataFrame, key: str = "doc_id", score_col: str = "score"
) -> DataFrame:
    """Keep the best-scoring row per key, rank-deterministically (J5/SO2):
    window row_number over (score desc, key asc) — no nondeterministic
    dropDuplicates."""
    w = Window.partitionBy(key).orderBy(F.desc(score_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def topk(
    df: DataFrame, k: int, score_col: str = "score", key: str = "doc_id"
) -> DataFrame:
    """Deterministic global top-k → TakeOrderedAndProject."""
    return df.orderBy(F.desc(score_col), F.asc(key)).limit(k)


def overlay_union(
    base: DataFrame, delta: DataFrame, key: str = "doc_id", score_col: str = "score"
) -> DataFrame:
    """SO4 delta-overlay: union the active index results with the overlay's
    and keep the best per doc (``watchlist_index_service.py:85-222``)."""
    return dedup_keep_best(base.unionByName(delta), key=key, score_col=score_col)


def confidence_normalize(
    df: DataFrame, query_col: str = "query_id", score_col: str = "score"
) -> DataFrame:
    """A6: confidence = score / max(score) within each query."""
    w = Window.partitionBy(query_col)
    return df.withColumn("confidence", F.col(score_col) / F.max(score_col).over(w))
