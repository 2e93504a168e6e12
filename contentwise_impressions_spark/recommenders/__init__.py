from .graph import p3alpha_similarity, rp3beta_similarity
from .knn import itemknn_recommend
from .nonpersonalized import global_effects, item_popularity

__all__ = [
    "itemknn_recommend",
    "p3alpha_similarity",
    "rp3beta_similarity",
    "global_effects",
    "item_popularity",
]
