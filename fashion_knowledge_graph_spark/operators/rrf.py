"""Reciprocal-rank fusion (A8/W4 in SURVEY §2).

Reference: src/inference/recommender.py:512-552 — fuses the CLIP-text
result list and the style-description result list with
``score[pid] += 1 / (k + rank)``, k=60 (:535), rank starting at 1,
then sorts fused scores desc and truncates to top_k (:546-552, :378).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import taxonomy as tx


def add_rank(df: DataFrame, keys: list[str], order: list) -> DataFrame:
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w))


def rrf_fuse(ranked_lists: list[DataFrame], keys: list[str],
             id_col: str = "product_id",
             k: int = tx.RRF_K) -> DataFrame:
    """Union N ranked DataFrames (each carrying ``rank`` 1-based
    within ``keys``) and fuse: rrf_score = Σ 1/(k + rank)."""
    cols = [*keys, id_col, "rank"]
    unioned = ranked_lists[0].select(*cols)
    for d in ranked_lists[1:]:
        unioned = unioned.unionByName(d.select(*cols))
    return unioned.groupBy(*keys, id_col).agg(
        F.sum(F.lit(1.0) / (F.lit(float(k)) + F.col("rank")))
        .alias("rrf_score"))
