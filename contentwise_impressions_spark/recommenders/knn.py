"""ItemKNN-CF: fit the item-item W and recommend top-K in one call.

Reference: the similarity-matrix recommender — W = top-K-pruned shrunk
item similarity, scores = URM[users]·W
(Base/BaseSimilarityMatrixRecommender.py:77-96), then remove-seen and a
per-user top-K (Base/BaseRecommender.py:175-213).  Every ItemKNN fit,
search case and refit in this package goes through `itemknn_recommend`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.scoring import item_based_scores, recommend_top_k
from ..operators.similarity import similarity_scores, similarity_top_k

# List length per user: the cutoff every caller scores with ranking_metrics.
CUTOFF = 10


def itemknn_recommend(
    train: DataFrame,
    users: DataFrame,
    kind: str,
    shrink: float,
    top_k: int,
) -> DataFrame:
    """Top-`CUTOFF` ItemKNN recommendations for the user_ids in `users`.

    `train` is (user_id, item_id) pairs, each an implicit 1.0.  W keeps the
    `top_k` most similar items per column (`kind` and `shrink` as in
    `similarity_scores`).  Scores are semi-joined to `users` (duplicates
    allowed) before ranking: a user's list never depends on other users, so
    the restriction is exact.  Returns (user_id, item_id, score, rank) with
    seen items removed, ranked on round(score, 9) so float sums order the
    same in every engine.
    """
    train_v = train.withColumn("value", F.lit(1.0))
    w = similarity_top_k(
        similarity_scores(train_v, kind, shrink=shrink), top_k
    ).select("item_i", "item_j", "sim")
    scores = item_based_scores(train_v, w).join(
        users.select("user_id"), "user_id", "left_semi"
    )
    return recommend_top_k(scores, CUTOFF, train=train, round_digits=9)
