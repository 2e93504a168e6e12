"""Similarity / model-fit / evaluation operator suite (SURVEY.md §2.6-2.9).

Engine-portability notes baked into these queries:
- rankings are computed from sqrt/division expressions (bitwise-identical
  across engines) or from float sums ROUNDED to 9 digits before ranking,
  with an item-id tiebreak — so Spark and DuckDB produce identical top-K
  membership, not just close scores;
- pow() with non-half-integer exponents is never used in a ranking key
  (libm implementations differ in the last ulp across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..evaluation.metrics import ranking_metrics
from ..operators.scoring import recommend_top_k, toppop_scores
from ..operators.similarity import (
    column_norms,
    mean_centered,
    pair_dots,
    similarity_scores,
    similarity_top_k,
)
from ..operators.splits import deterministic_split
from ..recommenders.graph import p3alpha_similarity, rp3beta_similarity
from ..recommenders.knn import itemknn_recommend
from ..recommenders.nonpersonalized import global_effects
from ..sources.interactions import events_as_interactions, implicit_urm
from ..sources.tables import load_table
from .recsys import URM_CTE
from . import shared
from .registry import QuerySpec, register

#: oracle CTE: explicit ratings = mean event value per (user, item)
RATED_CTE = """
    rated AS (
        SELECT CAST(user_id AS BIGINT) AS user_id,
               CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT) AS item_id,
               AVG(value) AS rating
        FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
        GROUP BY 1, 2
    )
"""


def _urm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared.urm(spark, sf_dir)  # persisted once per session (plans/shared.py)


def _rated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared.rated(spark, sf_dir)


def bench_warmup(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the session-shared URM + rated tables (timed by
    bench.py as the family build line; see plans/recsys.bench_warmup)."""
    _urm(spark, sf_dir).count()
    _rated(spark, sf_dir).count()


# ---------------------------------------------------------------------------
# similarity family: cosine/jaccard/dice/tversky/asymmetric/euclidean
# (Compute_Similarity_Python.py:213-388, Compute_Similarity_Euclidean.py)
# ---------------------------------------------------------------------------
def q_item_similarity_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All similarity variants from ONE pair-dots pass (shared scan+join)."""
    urm = _urm(spark, sf_dir)
    dots = pair_dots(urm)
    norms = column_norms(urm)
    ni = norms.select(
        F.col("item").alias("item_i"), F.col("nnz").alias("ni")
    )
    nj = norms.select(
        F.col("item").alias("item_j"), F.col("nnz").alias("nj")
    )
    d = dots.join(F.broadcast(ni), "item_i").join(F.broadcast(nj), "item_j")
    dot, eps = F.col("dot"), F.lit(1e-6)
    n_i, n_j = F.col("ni"), F.col("nj")
    return d.select(
        "item_i",
        "item_j",
        dot.cast("bigint").alias("cooc"),
        (dot / (F.sqrt(n_i) * F.sqrt(n_j) + eps)).alias("cosine"),
        (dot / (n_i + n_j - dot + eps)).alias("jaccard"),
        (dot / (n_i + n_j + eps)).alias("dice"),
        (dot / (dot + 0.8 * (n_i - dot) + 0.2 * (n_j - dot) + eps)).alias(
            "tversky"
        ),
        (dot / (F.pow(n_i, 0.3) * F.pow(n_j, 0.7) + eps)).alias("asym_cosine"),
        (
            1.0
            / (F.sqrt(F.greatest(n_i + n_j - 2.0 * dot, F.lit(0.0))) + 1.0 + eps)
        ).alias("euclid_sim"),
    )


register(
    QuerySpec(
        "item_similarity_family",
        q_item_similarity_family,
        f"""
        WITH {URM_CTE},
        n AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS n FROM urm GROUP BY 1),
        d AS (
            SELECT a.item_id AS item_i, b.item_id AS item_j,
                   CAST(COUNT(*) AS DOUBLE) AS dot
            FROM urm a JOIN urm b
              ON a.user_id = b.user_id AND a.item_id <> b.item_id
            GROUP BY 1, 2
        )
        SELECT item_i, item_j, CAST(dot AS BIGINT) AS cooc,
               dot / (sqrt(ni.n) * sqrt(nj.n) + 1e-6)                          AS cosine,
               dot / (ni.n + nj.n - dot + 1e-6)                                AS jaccard,
               dot / (ni.n + nj.n + 1e-6)                                      AS dice,
               dot / (dot + 0.8 * (ni.n - dot) + 0.2 * (nj.n - dot) + 1e-6)    AS tversky,
               dot / (pow(ni.n, 0.3) * pow(nj.n, 0.7) + 1e-6)                  AS asym_cosine,
               1.0 / (sqrt(greatest(ni.n + nj.n - 2 * dot, 0)) + 1.0 + 1e-6)   AS euclid_sim
        FROM d
        JOIN n ni ON d.item_i = ni.item_id
        JOIN n nj ON d.item_j = nj.item_id
        """,
        doc="cosine/jaccard/dice/tversky/asym/euclidean kernel "
        "(Compute_Similarity_Python.py:213-388)",
    )
)


# ---------------------------------------------------------------------------
# per-column top-K similarity (similarityMatrixTopK, Recommender_utils.py:55-122)
# ---------------------------------------------------------------------------
def q_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    urm = _urm(spark, sf_dir)
    sims = similarity_scores(urm, "cosine")
    return similarity_top_k(sims, 10)


register(
    QuerySpec(
        "item_cosine_topk",
        q_item_cosine_topk,
        f"""
        WITH {URM_CTE},
        n AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS n FROM urm GROUP BY 1),
        d AS (
            SELECT a.item_id AS item_i, b.item_id AS item_j,
                   CAST(COUNT(*) AS DOUBLE) AS dot
            FROM urm a JOIN urm b
              ON a.user_id = b.user_id AND a.item_id <> b.item_id
            GROUP BY 1, 2
        ),
        s AS (
            SELECT item_i, item_j,
                   dot / (sqrt(ni.n) * sqrt(nj.n) + 1e-6) AS sim
            FROM d JOIN n ni ON d.item_i = ni.item_id
                   JOIN n nj ON d.item_j = nj.item_id
        )
        SELECT item_i, item_j, sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY item_j
                                       ORDER BY sim DESC, item_i ASC) AS INT) AS rank
        FROM s QUALIFY rank <= 10
        """,
        doc="similarityMatrixTopK (Recommender_utils.py:55-122)",
    )
)


# ---------------------------------------------------------------------------
# adjusted cosine + pearson (Compute_Similarity_Python.py:121-190)
# ---------------------------------------------------------------------------
def q_centered_similarities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted-cosine (user-mean-centered) and Pearson (item-mean-centered)
    similarities over the explicit rating matrix, one row per item pair."""
    rated = _rated(spark, sf_dir).withColumnRenamed("rating", "value")
    adj = similarity_scores(
        mean_centered(rated, by="user_id"), "cosine"
    ).withColumnRenamed("sim", "adjusted_cosine")
    prs = similarity_scores(
        mean_centered(rated, by="item_id"), "cosine"
    ).withColumnRenamed("sim", "pearson")
    return adj.join(prs, ["item_i", "item_j"], "inner")


register(
    QuerySpec(
        "centered_similarities",
        q_centered_similarities,
        f"""
        WITH {RATED_CTE},
        um AS (SELECT user_id, AVG(rating) AS m FROM rated GROUP BY 1),
        im AS (SELECT item_id, AVG(rating) AS m FROM rated GROUP BY 1),
        adj AS (SELECT r.user_id, r.item_id, r.rating - um.m AS v
                FROM rated r JOIN um USING (user_id)),
        prs AS (SELECT r.user_id, r.item_id, r.rating - im.m AS v
                FROM rated r JOIN im USING (item_id)),
        adjn AS (SELECT item_id, SUM(v * v) AS sq FROM adj GROUP BY 1),
        prsn AS (SELECT item_id, SUM(v * v) AS sq FROM prs GROUP BY 1),
        adjd AS (SELECT a.item_id AS item_i, b.item_id AS item_j, SUM(a.v * b.v) AS dot
                 FROM adj a JOIN adj b ON a.user_id = b.user_id AND a.item_id <> b.item_id
                 GROUP BY 1, 2),
        prsd AS (SELECT a.item_id AS item_i, b.item_id AS item_j, SUM(a.v * b.v) AS dot
                 FROM prs a JOIN prs b ON a.user_id = b.user_id AND a.item_id <> b.item_id
                 GROUP BY 1, 2)
        SELECT adjd.item_i, adjd.item_j,
               adjd.dot / (sqrt(ai.sq) * sqrt(aj.sq) + 1e-6) AS adjusted_cosine,
               prsd.dot / (sqrt(pi.sq) * sqrt(pj.sq) + 1e-6) AS pearson
        FROM adjd
        JOIN prsd ON adjd.item_i = prsd.item_i AND adjd.item_j = prsd.item_j
        JOIN adjn ai ON adjd.item_i = ai.item_id
        JOIN adjn aj ON adjd.item_j = aj.item_id
        JOIN prsn pi ON adjd.item_i = pi.item_id
        JOIN prsn pj ON adjd.item_j = pj.item_id
        """,
        doc="adjusted cosine + pearson (Compute_Similarity_Python.py:121-190)",
    )
)


# ---------------------------------------------------------------------------
# P3alpha / RP3beta random-walk similarities (GraphBased/*.py)
# ---------------------------------------------------------------------------
def q_p3alpha_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    urm = _urm(spark, sf_dir)
    return p3alpha_similarity(urm, alpha=1.0, top_k=10)


register(
    QuerySpec(
        "p3alpha_topk",
        q_p3alpha_topk,
        f"""
        WITH {URM_CTE},
        du AS (SELECT user_id, CAST(SUM(1.0) AS DOUBLE) AS deg FROM urm GROUP BY 1),
        di AS (SELECT item_id, CAST(SUM(1.0) AS DOUBLE) AS deg FROM urm GROUP BY 1),
        w AS (
            SELECT a.item_id AS item_i, b.item_id AS item_j,
                   SUM(pow(1.0 / di.deg, 1.0) * pow(1.0 / du.deg, 1.0)) AS sim
            FROM urm a
            JOIN urm b ON a.user_id = b.user_id AND a.item_id <> b.item_id
            JOIN di ON a.item_id = di.item_id
            JOIN du ON a.user_id = du.user_id
            GROUP BY 1, 2
        )
        SELECT item_i, item_j, sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY item_j
                    ORDER BY round(sim, 9) DESC, item_i ASC) AS INT) AS rank
        FROM w QUALIFY rank <= 10
        """,
        doc="P3alpha random walk (P3alphaRecommender.py:33-141)",
    )
)


def q_rp3beta_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    urm = _urm(spark, sf_dir)
    return rp3beta_similarity(urm, alpha=1.0, beta=0.5, top_k=10)


register(
    QuerySpec(
        "rp3beta_topk",
        q_rp3beta_topk,
        f"""
        WITH {URM_CTE},
        du AS (SELECT user_id, CAST(SUM(1.0) AS DOUBLE) AS deg FROM urm GROUP BY 1),
        di AS (SELECT item_id, CAST(SUM(1.0) AS DOUBLE) AS deg FROM urm GROUP BY 1),
        pop AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS pop FROM urm GROUP BY 1),
        w AS (
            SELECT a.item_id AS item_i, b.item_id AS item_j,
                   SUM(pow(1.0 / di.deg, 1.0) * pow(1.0 / du.deg, 1.0)) AS sim
            FROM urm a
            JOIN urm b ON a.user_id = b.user_id AND a.item_id <> b.item_id
            JOIN di ON a.item_id = di.item_id
            JOIN du ON a.user_id = du.user_id
            GROUP BY 1, 2
        ),
        wb AS (
            SELECT item_i, w.item_j, sim / sqrt(pop.pop) AS sim
            FROM w JOIN pop ON w.item_j = pop.item_id
        )
        SELECT item_i, item_j, sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY item_j
                    ORDER BY round(sim, 9) DESC, item_i ASC) AS INT) AS rank
        FROM wb QUALIFY rank <= 10
        """,
        doc="RP3beta popularity-penalized walk (RP3betaRecommender.py:32-153)",
    )
)


# ---------------------------------------------------------------------------
# GlobalEffects biases (NonPersonalizedRecommender.py:66-136)
# ---------------------------------------------------------------------------
def q_global_effects_item_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    rated = _rated(spark, sf_dir)
    _, item_bias, _ = global_effects(rated, lambda_item=25.0, lambda_user=10.0)
    return item_bias


register(
    QuerySpec(
        "global_effects_item_bias",
        q_global_effects_item_bias,
        f"""
        WITH {RATED_CTE},
        mu AS (SELECT AVG(rating) AS mu FROM rated)
        SELECT item_id,
               SUM(rating - mu) / (COUNT(*) + 25.0) AS item_bias
        FROM rated CROSS JOIN mu GROUP BY item_id
        """,
        doc="GlobalEffects shrunk item bias (NonPersonalizedRecommender.py:75-120)",
    )
)


def q_global_effects_user_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    rated = _rated(spark, sf_dir)
    _, _, user_bias = global_effects(rated, lambda_item=25.0, lambda_user=10.0)
    return user_bias


register(
    QuerySpec(
        "global_effects_user_bias",
        q_global_effects_user_bias,
        f"""
        WITH {RATED_CTE},
        mu AS (SELECT AVG(rating) AS mu FROM rated),
        ib AS (
            SELECT item_id, SUM(rating - mu) / (COUNT(*) + 25.0) AS item_bias
            FROM rated CROSS JOIN mu GROUP BY item_id
        )
        SELECT user_id,
               SUM(rating - mu - item_bias) / (COUNT(*) + 10.0) AS user_bias
        FROM rated CROSS JOIN mu JOIN ib USING (item_id)
        GROUP BY user_id
        """,
        doc="GlobalEffects shrunk user bias (NonPersonalizedRecommender.py:75-120)",
    )
)


# ---------------------------------------------------------------------------
# end-to-end recommendation pipelines
# ---------------------------------------------------------------------------
_SPLIT_SQL = """
    tagged AS (
        SELECT *, CASE
            WHEN ((user_id * 1000003 + item_id * 7919) % 997 + 997) % 997 < 698 THEN 0
            WHEN ((user_id * 1000003 + item_id * 7919) % 997 + 997) % 997 < 798 THEN 1
            ELSE 2 END AS split
        FROM urm
    ),
    train AS (SELECT user_id, item_id FROM tagged WHERE split = 0),
    test  AS (SELECT user_id, item_id FROM tagged WHERE split = 2)
"""


def _train_test(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    urm = _urm(spark, sf_dir)
    tagged = deterministic_split(urm, "user_id", "item_id", [0.7, 0.1, 0.2])
    train = tagged.filter(F.col("split") == 0).select("user_id", "item_id")
    test = tagged.filter(F.col("split") == 2).select("user_id", "item_id")
    return train, test


def q_toppop_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopPop top-10 for every test user, seen items removed.

    The full reference recommend() path (BaseRecommender.py:135-213) on the
    simplest model: popularity scores → remove-seen anti-join → per-user
    window top-K.  Integer scores ⇒ exact cross-engine ordering.
    """
    train, test = _train_test(spark, sf_dir)
    users = test.select("user_id").distinct()
    cand = toppop_scores(train.withColumn("value", F.lit(1.0)), users, cutoff=10)
    return recommend_top_k(cand, 10, train=train)


register(
    QuerySpec(
        "toppop_recommendations",
        q_toppop_recommendations,
        f"""
        WITH {URM_CTE},
        {_SPLIT_SQL},
        pop AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS score
                FROM train GROUP BY 1),
        eu AS (SELECT DISTINCT user_id FROM test),
        cand AS (SELECT eu.user_id, pop.item_id, pop.score FROM eu CROSS JOIN pop),
        unseen AS (
            SELECT c.* FROM cand c
            LEFT JOIN train t ON c.user_id = t.user_id AND c.item_id = t.item_id
            WHERE t.user_id IS NULL
        )
        SELECT user_id, item_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY score DESC, item_id ASC) AS INT) AS rank
        FROM unseen QUALIFY rank <= 10
        """,
        doc="TopPop recommend pipeline (BaseRecommender.py:135-213)",
    )
)


def q_itemknn_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ItemKNN-CF top-10: cosine W (topK=10) → URM·W scores → remove seen.

    The reference's core serving query (BaseSimilarityMatrixRecommender
    .py:77-96 + BaseRecommender.py:175-213).  Scores are float sums →
    ranked on round(score, 9) for engine portability.
    """
    train, test = _train_test(spark, sf_dir)
    return itemknn_recommend(train, test, "cosine", shrink=0.0, top_k=10)


register(
    QuerySpec(
        "itemknn_recommendations",
        q_itemknn_recommendations,
        f"""
        WITH {URM_CTE},
        {_SPLIT_SQL},
        n AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS n FROM train GROUP BY 1),
        d AS (
            SELECT a.item_id AS item_i, b.item_id AS item_j,
                   CAST(COUNT(*) AS DOUBLE) AS dot
            FROM train a JOIN train b
              ON a.user_id = b.user_id AND a.item_id <> b.item_id
            GROUP BY 1, 2
        ),
        s AS (
            SELECT item_i, item_j, dot / (sqrt(ni.n) * sqrt(nj.n) + 1e-6) AS sim,
                   ROW_NUMBER() OVER (PARTITION BY item_j
                        ORDER BY dot / (sqrt(ni.n) * sqrt(nj.n) + 1e-6) DESC,
                                 item_i ASC) AS rnk
            FROM d JOIN n ni ON d.item_i = ni.item_id
                   JOIN n nj ON d.item_j = nj.item_id
            QUALIFY rnk <= 10
        ),
        eu AS (SELECT DISTINCT user_id FROM test),
        scores AS (
            SELECT t.user_id, s.item_j AS item_id, SUM(s.sim) AS score
            FROM train t JOIN s ON t.item_id = s.item_i
            WHERE t.user_id IN (SELECT user_id FROM eu)
            GROUP BY 1, 2
        ),
        unseen AS (
            SELECT sc.* FROM scores sc
            LEFT JOIN train t ON sc.user_id = t.user_id AND sc.item_id = t.item_id
            WHERE t.user_id IS NULL
        )
        SELECT user_id, item_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY round(score, 9) DESC, item_id ASC) AS INT) AS rank
        FROM unseen QUALIFY rank <= 10
        """,
        doc="ItemKNN-CF serving (BaseSimilarityMatrixRecommender.py:77-96)",
    )
)


# ---------------------------------------------------------------------------
# evaluation harness: all accuracy metrics in one aggregation
# (Base/Evaluation/Evaluator.py + metrics.py, SURVEY.md §2.9)
# ---------------------------------------------------------------------------
def q_toppop_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    train, test = _train_test(spark, sf_dir)
    users = test.select("user_id").distinct()
    cand = toppop_scores(train.withColumn("value", F.lit(1.0)), users, cutoff=10)
    recs = recommend_top_k(cand, 10, train=train).select(
        "user_id", "item_id", "rank"
    )
    return ranking_metrics(recs, test, cutoff=10)


register(
    QuerySpec(
        "toppop_eval_metrics",
        q_toppop_eval_metrics,
        f"""
        WITH {URM_CTE},
        {_SPLIT_SQL},
        pop AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS score
                FROM train GROUP BY 1),
        eu AS (SELECT DISTINCT user_id FROM test),
        cand AS (SELECT eu.user_id, pop.item_id, pop.score FROM eu CROSS JOIN pop),
        unseen AS (
            SELECT c.* FROM cand c
            LEFT JOIN train t ON c.user_id = t.user_id AND c.item_id = t.item_id
            WHERE t.user_id IS NULL
        ),
        recs AS (
            SELECT user_id, item_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY score DESC, item_id ASC) AS rank
            FROM unseen QUALIFY rank <= 10
        ),
        ntest AS (SELECT user_id, COUNT(*) AS n_test FROM test GROUP BY 1),
        lab AS (
            SELECT r.user_id, r.rank, n.n_test,
                   CASE WHEN t.item_id IS NOT NULL THEN 1 ELSE 0 END AS is_hit
            FROM recs r
            JOIN ntest n USING (user_id)
            LEFT JOIN test t ON r.user_id = t.user_id AND r.item_id = t.item_id
        ),
        cum AS (
            SELECT *, SUM(is_hit) OVER (PARTITION BY user_id ORDER BY rank
                                        ROWS UNBOUNDED PRECEDING) AS cum_hits,
                   COUNT(*) OVER (PARTITION BY user_id) AS n_rows_u,
                   SUM(is_hit) OVER (PARTITION BY user_id) AS n_hits_u
            FROM lab
        ),
        pu AS (
            SELECT user_id, ANY_VALUE(n_test) AS n_test,
                   SUM(is_hit) AS n_hits,
                   SUM(is_hit * cum_hits * 1.0 / rank) AS ap_num,
                   MIN(CASE WHEN is_hit = 1 THEN rank END) AS fhr,
                   SUM(is_hit * 1.0 / rank) AS arhr,
                   SUM(is_hit / log2(rank + 1.0)) AS dcg,
                   COUNT(*) AS n_recs,
                   SUM(is_hit * (n_rows_u - rank - (n_hits_u - cum_hits)))
                       AS auc_num
            FROM cum GROUP BY user_id
        ),
        idcg AS (
            SELECT i AS n, SUM(1.0 / log2(i + 1.0)) OVER (ORDER BY i
                           ROWS UNBOUNDED PRECEDING) AS idcg
            FROM range(1, 11) t(i)
        ),
        per_user AS (
            SELECT nt.user_id,
                   COALESCE(p.n_hits / 10.0, 0.0)                    AS precision,
                   COALESCE(p.n_hits * 1.0 / LEAST(nt.n_test, 10), 0.0) AS precision_min_den,
                   COALESCE(p.n_hits * 1.0 / nt.n_test, 0.0)         AS recall,
                   COALESCE(p.ap_num / LEAST(nt.n_test, 10), 0.0)    AS ap,
                   COALESCE(1.0 / p.fhr, 0.0)                        AS rr,
                   COALESCE(p.dcg / i.idcg, 0.0)                     AS ndcg,
                   COALESCE(p.arhr, 0.0)                             AS arhr,
                   COALESCE(CAST(p.n_hits AS DOUBLE), 0.0)           AS hits,
                   COALESCE(CASE WHEN p.n_recs = p.n_hits THEN 1.0
                                 WHEN p.n_hits = 0 THEN 0.0
                                 ELSE p.auc_num * 1.0
                                      / (p.n_hits * (p.n_recs - p.n_hits)) END,
                            0.0)                                     AS roc_auc
            FROM ntest nt
            LEFT JOIN pu p ON nt.user_id = p.user_id
            LEFT JOIN idcg i ON LEAST(nt.n_test, 10) = i.n
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users_evaluated,
                   AVG(precision)         AS precision,
                   AVG(precision_min_den) AS precision_min_den,
                   AVG(recall)            AS recall,
                   AVG(ap)                AS map,
                   AVG(rr)                AS mrr,
                   AVG(ndcg)              AS ndcg,
                   AVG(arhr)              AS arhr,
                   AVG(hits)              AS hit_rate,
                   AVG(roc_auc)           AS roc_auc
            FROM per_user
        )
        SELECT *, CASE WHEN precision + recall > 0
                       THEN 2.0 * precision * recall / (precision + recall)
                       ELSE 0.0 END AS f1
        FROM agg
        """,
        doc="full accuracy-metric evaluation at cutoff 10 (Evaluator.py:284-364)",
    )
)


# ---------------------------------------------------------------------------
# beyond-accuracy metrics (metrics.py:310-810)
# ---------------------------------------------------------------------------
def q_toppop_beyond_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..evaluation.metrics import beyond_accuracy_metrics

    train, test = _train_test(spark, sf_dir)
    users = test.select("user_id").distinct()
    cand = toppop_scores(train.withColumn("value", F.lit(1.0)), users, cutoff=10)
    recs = recommend_top_k(cand, 10, train=train).select(
        "user_id", "item_id", "rank"
    )
    return beyond_accuracy_metrics(recs, train, cutoff=10)


register(
    QuerySpec(
        "toppop_beyond_accuracy",
        q_toppop_beyond_accuracy,
        f"""
        WITH {URM_CTE},
        {_SPLIT_SQL},
        pop AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS pop FROM train GROUP BY 1),
        totals AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_interactions,
                   CAST(COUNT(DISTINCT item_id) AS DOUBLE) AS n_items,
                   CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_train_users
            FROM train
        ),
        mp AS (SELECT MAX(pop) AS max_pop FROM pop),
        cand AS (
            SELECT eu.user_id, p.item_id, p.pop AS score
            FROM (SELECT DISTINCT user_id FROM test) eu CROSS JOIN pop p
        ),
        unseen AS (
            SELECT c.* FROM cand c
            LEFT JOIN train t ON c.user_id = t.user_id AND c.item_id = t.item_id
            WHERE t.user_id IS NULL
        ),
        recs AS (
            SELECT user_id, item_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY score DESC, item_id ASC) AS rank
            FROM unseen QUALIFY rank <= 10
        ),
        pu AS (
            SELECT r.user_id,
                   SUM(CASE WHEN p.pop > 0
                       THEN -log2(p.pop / t.n_interactions) / t.n_items
                       ELSE 0.0 END) AS novelty_u,
                   SUM(COALESCE(p.pop, 0.0) / mp.max_pop) / COUNT(*) AS avgpop_u
            FROM recs r
            LEFT JOIN pop p USING (item_id)
            CROSS JOIN totals t CROSS JOIN mp
            GROUP BY r.user_id
        ),
        ua AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_users_evaluated,
                   AVG(novelty_u) AS novelty,
                   AVG(avgpop_u) AS avg_popularity
            FROM pu
        ),
        cnts AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS c FROM recs GROUP BY 1),
        rankedc AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c ASC, item_id ASC) AS i FROM cnts
        ),
        ca AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_rec_items,
                   SUM(c) AS sum_c, SUM(c * c) AS sum_c2,
                   SUM(c * i) AS sum_ci, SUM(c * log2(c)) AS sum_clogc
            FROM rankedc
        ),
        cov AS (
            SELECT CAST(COUNT(DISTINCT item_id) AS DOUBLE) AS n_distinct_rec_items,
                   CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_rec_users
            FROM recs
        )
        SELECT CAST(ua.n_users_evaluated AS BIGINT) AS n_users_evaluated,
               ua.novelty, ua.avg_popularity,
               cov.n_distinct_rec_items / t.n_items AS coverage_item,
               cov.n_rec_users / t.n_train_users AS coverage_user,
               2.0 * ((ca.n_rec_items + 1.0) * ca.sum_c - ca.sum_ci)
                   / ((ca.n_rec_items + 1.0) * ca.sum_c) AS diversity_gini,
               log2(ca.sum_c) - ca.sum_clogc / ca.sum_c AS shannon_entropy,
               1.0 - ca.sum_c2 / (ca.sum_c * ca.sum_c) AS herfindahl,
               ((ua.n_users_evaluated * ua.n_users_evaluated - ua.n_users_evaluated)
                 - (ca.sum_c2 - ua.n_users_evaluated * 10.0) / 10.0)
                 / (ua.n_users_evaluated * ua.n_users_evaluated - ua.n_users_evaluated)
                 AS mean_inter_list
        FROM ua CROSS JOIN ca CROSS JOIN cov CROSS JOIN totals t
        """,
        doc="novelty/avg-pop/coverage/gini/entropy/herfindahl/MILD "
        "(metrics.py:310-810)",
    )
)


# ---------------------------------------------------------------------------
# user-user similarity (UserKNN, KNN/UserKNNCFRecommender.py:32-54)
# ---------------------------------------------------------------------------
def q_user_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same kernel with roles swapped: user-user cosine, top-10 per user.

    Routed through the distributed blocked kernel (operators/blocked_topk
    .py) as pure ADJACENCY (user → item list): the sparse intersection
    path avoids both the Σ deg² self-join blow-up on hot items and any
    dependence on catalog size — identical cosines (the oracle keeps the
    join formulation).
    """
    from ..operators.blocked_topk import blocked_cosine_topk

    urm = _urm(spark, sf_dir)
    as_adj = urm.select(
        F.col("user_id").alias("item_id"),
        F.col("item_id").alias("nbr"),
    )
    out = blocked_cosine_topk(adj=as_adj, k=10, adj_key=f"{sf_dir}:urm_adj")
    return out.select(
        F.col("item_i").alias("user_i"),
        F.col("item_j").alias("user_j"),
        "sim",
        "rank",
    )


register(
    QuerySpec(
        "user_cosine_topk",
        q_user_cosine_topk,
        f"""
        WITH {URM_CTE},
        n AS (SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n FROM urm GROUP BY 1),
        d AS (
            SELECT a.user_id AS user_i, b.user_id AS user_j,
                   CAST(COUNT(*) AS DOUBLE) AS dot
            FROM urm a JOIN urm b
              ON a.item_id = b.item_id AND a.user_id <> b.user_id
            GROUP BY 1, 2
        )
        SELECT user_i, user_j,
               dot / (sqrt(ni.n) * sqrt(nj.n) + 1e-6) AS sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_j
                    ORDER BY dot / (sqrt(ni.n) * sqrt(nj.n) + 1e-6) DESC,
                             user_i ASC) AS INT) AS rank
        FROM d JOIN n ni ON d.user_i = ni.user_id
               JOIN n nj ON d.user_j = nj.user_id
        QUALIFY rank <= 10
        """,
        doc="UserKNN cosine (KNN/UserKNNCFRecommender.py:32-54)",
    )
)


# ---------------------------------------------------------------------------
# remove top-popular items (Base/Recommender_utils.py:135-170)
# ---------------------------------------------------------------------------
def q_remove_top_popular(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop the top-10% most popular items from the URM; summary counts."""
    urm = _urm(spark, sf_dir)
    pop = urm.groupBy("item_id").agg(F.count("*").alias("pop"))
    n_items = pop.count()
    n_drop = int(n_items * 0.10)
    w = Window.orderBy(F.col("pop").desc(), F.col("item_id").asc())
    top = pop.withColumn("r", F.row_number().over(w)).filter(
        F.col("r") <= n_drop
    )
    kept = urm.join(top.select("item_id"), "item_id", "left_anti")
    return kept.agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("item_id").alias("n_items"),
        F.countDistinct("user_id").alias("n_users"),
    )


register(
    QuerySpec(
        "remove_top_popular",
        q_remove_top_popular,
        f"""
        WITH {URM_CTE},
        pop AS (SELECT item_id, COUNT(*) AS pop FROM urm GROUP BY 1),
        nd AS (SELECT CAST(FLOOR(COUNT(*) * 0.10) AS BIGINT) AS n_drop FROM pop),
        top AS (
            SELECT item_id FROM (
                SELECT item_id, ROW_NUMBER() OVER (ORDER BY pop DESC, item_id ASC) AS r
                FROM pop
            ) CROSS JOIN nd WHERE r <= n_drop
        ),
        kept AS (SELECT * FROM urm WHERE item_id NOT IN (SELECT item_id FROM top))
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT item_id) AS BIGINT) AS n_items,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM kept
        """,
        doc="remove top-popular items (Recommender_utils.py:135-170)",
    )
)


# ---------------------------------------------------------------------------
# negative-item sampling (split_train_validation.py:141-260,
# EvaluatorNegativeItemSample) — deterministic bounded-proposal variant
# ---------------------------------------------------------------------------
def _bounded_negatives(
    users: DataFrame,
    items: DataFrame,
    seen: list[DataFrame],
    k: int = 5,
    n_props: int = 64,
) -> DataFrame:
    """k deterministic pseudo-random unseen items per user — O(U·n_props).

    Scale shape: the former formulation enumerated the full user×item
    complement (O(U·I) rows — 10¹³ at 10⁷ users × 10⁶ items, a window
    over ~n_items candidates per user just to keep 5).  This generator
    instead proposes a BOUNDED ``n_props`` pseudo-random item indices per
    user (two Lehmer/MINSTD rounds over portable int64 arithmetic —
    exactly reproducible in ANSI SQL, no engine RNG), maps them through
    the broadcast item index, dedupes by first proposal, anti-joins the
    seen sets, and keeps the first k: O(U·n_props) rows end to end, no
    cartesian anywhere.  ``n_props`` bounds the failure mode (a user with
    ≥ n_props-k seen proposals yields fewer than k negatives) — with
    n_props=64 and realistic seen/|I| ratios that probability is nil; the
    reference's retry-until-unseen sampler has the same contract
    (split_train_validation.py:141-260)."""
    # shared proposal stream (single source of truth for the Lehmer mix
    # that the SQL twins replicate — operators/splits.py)
    from ..operators.splits import bounded_item_proposals

    cand = bounded_item_proposals(users, items, n_props=n_props)
    first = Window.partitionBy("user_id", "item_id").orderBy("seq")
    cand = (
        cand.withColumn("_f", F.row_number().over(first))
        .filter(F.col("_f") == 1)
        .drop("_f")
    )
    for s in seen:
        cand = cand.join(
            s.select("user_id", "item_id"), ["user_id", "item_id"], "left_anti"
        )
    wr = Window.partitionBy("user_id").orderBy("seq")
    return (
        cand.withColumn("neg_rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("neg_rank") <= k)
        .drop("seq")
    )


def _neg_sql(extra_excl: str = "") -> str:
    """SQL twin of :func:`_bounded_negatives` (k=5, n_props=64) — defines
    CTE ``negatives(user_id, item_id, neg_rank)`` given train/test CTEs."""
    return f"""
        items_idx AS (
            SELECT item_id, ROW_NUMBER() OVER (ORDER BY item_id) - 1 AS idx
            FROM (SELECT DISTINCT item_id FROM train)
        ),
        nitems AS (SELECT COUNT(*) AS n FROM items_idx),
        props AS (
            SELECT u.user_id, s.seq,
                   ((((u.user_id * 1000003 + s.seq) % 1000003619) * 48271
                     % 2147483647) * 16807 % 2147483647) % nitems.n AS idx
            FROM (SELECT DISTINCT user_id FROM test) u
            CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS seq) s
            CROSS JOIN nitems
        ),
        cand0 AS (
            SELECT p.user_id, i.item_id, p.seq,
                   ROW_NUMBER() OVER (PARTITION BY p.user_id, i.item_id
                                      ORDER BY p.seq) AS _f
            FROM props p JOIN items_idx i USING (idx)
        ),
        negatives AS (
            SELECT user_id, item_id,
                   CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY seq) AS INT) AS neg_rank
            FROM cand0 c
            WHERE _f = 1
              AND NOT EXISTS (SELECT 1 FROM train t
                   WHERE t.user_id = c.user_id AND t.item_id = c.item_id)
              {extra_excl}
            QUALIFY neg_rank <= 5
        )
    """


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 pseudo-random unobserved items per test user.

    The reference samples uniformly (seeded NumPy); for engine portability
    the 'random' draw is a portable Lehmer mix over (user, proposal-seq) —
    same distributional role, exactly reproducible in SQL, and BOUNDED:
    see :func:`_bounded_negatives` for the scale shape.
    """
    train, test = _train_test(spark, sf_dir)
    users = test.select("user_id").distinct()
    items = train.select("item_id").distinct()
    return _bounded_negatives(users, items, seen=[train], k=5)


register(
    QuerySpec(
        "negative_samples",
        q_negative_samples,
        f"""
        WITH {URM_CTE},
        {_SPLIT_SQL},
        {_neg_sql()}
        SELECT user_id, item_id, neg_rank FROM negatives
        """,
        doc="negative-item sampling (split_train_validation.py:141-260)",
    )
)


# ---------------------------------------------------------------------------
# EvaluatorNegativeItemSample (Evaluator.py:745-829): rank only the
# candidate set = user's test items ∪ sampled negatives
# ---------------------------------------------------------------------------
def q_negative_sample_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopPop ranked WITHIN each user's (test ∪ 5 negatives) candidate set;
    precision/recall/MRR at cutoff 5 averaged over users."""
    from ..evaluation.metrics import ranking_metrics

    train, test = _train_test(spark, sf_dir)
    pop = train.groupBy("item_id").agg(F.count("*").cast("double").alias("score"))
    users = test.select("user_id").distinct()
    items = train.select("item_id").distinct()
    # negatives: 5 bounded-proposal unobserved items per user (mirrors the
    # negative_samples query / split_train_validation.py:141-260); both
    # train AND test count as seen here
    negatives = _bounded_negatives(
        users, items, seen=[train, test], k=5
    ).select("user_id", "item_id")
    candidates = test.unionByName(negatives).dropDuplicates(
        ["user_id", "item_id"]
    )
    scored = candidates.join(F.broadcast(pop), "item_id", "left").fillna(
        0.0, subset=["score"]
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("score").desc(), F.col("item_id").asc()
    )
    recs = (
        scored.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("user_id", "item_id", "rank")
    )
    m = ranking_metrics(recs, test, cutoff=5)
    return m.select("n_users_evaluated", "precision", "recall", "mrr")


register(
    QuerySpec(
        "negative_sample_eval",
        q_negative_sample_eval,
        f"""
        WITH {URM_CTE},
        {_SPLIT_SQL},
        pop AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS score
                FROM train GROUP BY 1),
        {_neg_sql(
            "AND NOT EXISTS (SELECT 1 FROM test t2 "
            "WHERE t2.user_id = c.user_id AND t2.item_id = c.item_id)"
        )},
        candidates AS (
            SELECT DISTINCT user_id, item_id FROM (
                SELECT user_id, item_id FROM test
                UNION ALL SELECT user_id, item_id FROM negatives
            )
        ),
        recs AS (
            SELECT user_id, item_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY COALESCE(p.score, 0.0) DESC, item_id ASC) AS rank
            FROM candidates LEFT JOIN pop p USING (item_id)
            QUALIFY rank <= 5
        ),
        ntest AS (SELECT user_id, COUNT(*) AS n_test FROM test GROUP BY 1),
        lab AS (
            SELECT r.user_id, r.rank, n.n_test,
                   CASE WHEN t.item_id IS NOT NULL THEN 1 ELSE 0 END AS is_hit
            FROM recs r
            JOIN ntest n USING (user_id)
            LEFT JOIN test t ON r.user_id = t.user_id AND r.item_id = t.item_id
        ),
        pu AS (
            SELECT user_id, ANY_VALUE(n_test) AS n_test,
                   SUM(is_hit) AS n_hits,
                   MIN(CASE WHEN is_hit = 1 THEN rank END) AS fhr
            FROM lab GROUP BY user_id
        ),
        per_user AS (
            SELECT nt.user_id,
                   COALESCE(p.n_hits / 5.0, 0.0) AS precision,
                   COALESCE(p.n_hits * 1.0 / nt.n_test, 0.0) AS recall,
                   COALESCE(1.0 / p.fhr, 0.0) AS rr
            FROM ntest nt LEFT JOIN pu p USING (user_id)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users_evaluated,
               AVG(precision) AS precision,
               AVG(recall) AS recall,
               AVG(rr) AS mrr
        FROM per_user
        """,
        doc="candidate-set evaluation (EvaluatorNegativeItemSample, "
        "Evaluator.py:745-829)",
    )
)


# ---------------------------------------------------------------------------
# BM25-weighted ItemKNN (the KNN feature-weighting sweep,
# run_parameter_search.py:163-216; weighting math IR_feature_weighting.py)
# ---------------------------------------------------------------------------
def q_bm25_weighted_itemknn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URM re-weighted with okapi BM25 (items as rows, users as terms),
    then the standard cosine top-10 — ItemKNNCF(feature_weighting='BM25')."""
    urm = _urm(spark, sf_dir)
    n_items = urm.select("item_id").distinct()
    df_user = urm.groupBy("user_id").agg(F.count("*").cast("double").alias("df"))
    row_sum = urm.groupBy("item_id").agg(F.count("*").cast("double").alias("rs"))
    avg_len = row_sum.agg(F.avg("rs").alias("al"))
    n_rows = n_items.agg(F.count("*").cast("double").alias("n"))
    weighted = (
        urm.join(F.broadcast(df_user), "user_id")
        .join(F.broadcast(row_sum), "item_id")
        .crossJoin(F.broadcast(avg_len))
        .crossJoin(F.broadcast(n_rows))
        .select(
            "user_id",
            "item_id",
            (
                (1.0 * 2.2 / (1.2 * (0.25 + 0.75 * F.col("rs") / F.col("al")) + 1.0))
                * F.log(F.col("n") / (1.0 + F.col("df")))
            ).alias("value"),
        )
    )
    sims = similarity_scores(weighted, "cosine")
    return similarity_top_k(sims, 10, round_digits=9)


register(
    QuerySpec(
        "bm25_weighted_itemknn",
        q_bm25_weighted_itemknn,
        f"""
        WITH {URM_CTE},
        dfu AS (SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS df FROM urm GROUP BY 1),
        rs AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS rs FROM urm GROUP BY 1),
        al AS (SELECT AVG(rs) AS al FROM rs),
        nr AS (SELECT CAST(COUNT(DISTINCT item_id) AS DOUBLE) AS n FROM urm),
        wtd AS (
            SELECT u.user_id, u.item_id,
                   (1.0 * 2.2 / (1.2 * (0.25 + 0.75 * rs.rs / al.al) + 1.0))
                     * ln(nr.n / (1.0 + dfu.df)) AS value
            FROM urm u
            JOIN dfu USING (user_id)
            JOIN rs USING (item_id)
            CROSS JOIN al CROSS JOIN nr
        ),
        n2 AS (SELECT item_id, SUM(value * value) AS sq FROM wtd GROUP BY 1),
        d AS (
            SELECT a.item_id AS item_i, b.item_id AS item_j,
                   SUM(a.value * b.value) AS dot
            FROM wtd a JOIN wtd b
              ON a.user_id = b.user_id AND a.item_id <> b.item_id
            GROUP BY 1, 2
        )
        SELECT item_i, item_j,
               dot / (sqrt(ni.sq) * sqrt(nj.sq) + 1e-6) AS sim,
               CAST(ROW_NUMBER() OVER (PARTITION BY item_j
                    ORDER BY round(dot / (sqrt(ni.sq) * sqrt(nj.sq) + 1e-6), 9) DESC,
                             item_i ASC) AS INT) AS rank
        FROM d JOIN n2 ni ON d.item_i = ni.item_id
               JOIN n2 nj ON d.item_j = nj.item_id
        QUALIFY rank <= 10
        """,
        doc="BM25-weighted ItemKNN (run_parameter_search.py:163-216)",
    )
)


# ---------------------------------------------------------------------------
# IALS confidence matrix (IALSRecommender.py:99-123)
# ---------------------------------------------------------------------------
def q_confidence_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C = 1 + alpha·r (linear) and 1 + alpha·log(1 + r/eps) (log variant)."""
    rated = _rated(spark, sf_dir)
    alpha, eps = 20.0, 1.0
    return rated.select(
        "user_id",
        "item_id",
        (1.0 + alpha * F.col("rating")).alias("conf_linear"),
        (1.0 + alpha * F.log(1.0 + F.col("rating") / eps)).alias("conf_log"),
    )


register(
    QuerySpec(
        "confidence_matrix",
        q_confidence_matrix,
        f"""
        WITH {RATED_CTE}
        SELECT user_id, item_id,
               1.0 + 20.0 * rating AS conf_linear,
               1.0 + 20.0 * ln(1.0 + rating / 1.0) AS conf_log
        FROM rated
        """,
        doc="IALS confidence build (IALSRecommender.py:99-123)",
    )
)


# ---------------------------------------------------------------------------
# DIVERSITY_SIMILARITY (metrics.py:642-696): mean pairwise (1 − sim) inside
# each user's rec list, similarity = item cosine on train
# ---------------------------------------------------------------------------
def q_diversity_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    train, test = _train_test(spark, sf_dir)
    users = test.select("user_id").distinct()
    cand = toppop_scores(train.withColumn("value", F.lit(1.0)), users, cutoff=5)
    recs = recommend_top_k(cand, 5, train=train).select(
        "user_id", "item_id"
    )
    sims = similarity_scores(
        train.withColumn("value", F.lit(1.0)), "cosine"
    )
    r1 = recs.select("user_id", F.col("item_id").alias("item_i"))
    r2 = recs.select("user_id", F.col("item_id").alias("item_j"))
    pairs = r1.join(r2, "user_id").filter(F.col("item_i") != F.col("item_j"))
    with_sim = pairs.join(sims, ["item_i", "item_j"], "left").fillna(
        0.0, subset=["sim"]
    )
    per_user = with_sim.groupBy("user_id").agg(
        F.avg(1.0 - F.col("sim")).alias("div_u")
    )
    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users_evaluated"),
        F.avg("div_u").alias("diversity_similarity"),
    )


register(
    QuerySpec(
        "diversity_similarity",
        q_diversity_similarity,
        f"""
        WITH {URM_CTE},
        {_SPLIT_SQL},
        pop AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS score
                FROM train GROUP BY 1),
        eu AS (SELECT DISTINCT user_id FROM test),
        cand AS (SELECT eu.user_id, p.item_id, p.score FROM eu CROSS JOIN pop p),
        unseen AS (
            SELECT c.* FROM cand c
            LEFT JOIN train t ON c.user_id = t.user_id AND c.item_id = t.item_id
            WHERE t.user_id IS NULL
        ),
        recs AS (
            SELECT user_id, item_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                     ORDER BY score DESC, item_id ASC) AS rank
                FROM unseen
            ) WHERE rank <= 5
        ),
        n AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS n FROM train GROUP BY 1),
        d AS (
            SELECT a.item_id AS item_i, b.item_id AS item_j,
                   CAST(COUNT(*) AS DOUBLE) AS dot
            FROM train a JOIN train b
              ON a.user_id = b.user_id AND a.item_id <> b.item_id
            GROUP BY 1, 2
        ),
        s AS (
            SELECT item_i, item_j, dot / (sqrt(ni.n) * sqrt(nj.n) + 1e-6) AS sim
            FROM d JOIN n ni ON d.item_i = ni.item_id
                   JOIN n nj ON d.item_j = nj.item_id
        ),
        pairs AS (
            SELECT r1.user_id, r1.item_id AS item_i, r2.item_id AS item_j
            FROM recs r1 JOIN recs r2
              ON r1.user_id = r2.user_id AND r1.item_id <> r2.item_id
        ),
        pu AS (
            SELECT p.user_id, AVG(1.0 - COALESCE(s.sim, 0.0)) AS div_u
            FROM pairs p LEFT JOIN s USING (item_i, item_j)
            GROUP BY p.user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users_evaluated,
               AVG(div_u) AS diversity_similarity
        FROM pu
        """,
        doc="DIVERSITY_SIMILARITY (metrics.py:642-696)",
    )
)


# ---------------------------------------------------------------------------
# multi-cutoff evaluation (Evaluator.py:516-522; cutoffs [5,10,20] at
# run_hyperparameter_tuning.py:41-58)
# ---------------------------------------------------------------------------
def q_toppop_eval_multi_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..evaluation.metrics import multi_cutoff_metrics

    train, test = _train_test(spark, sf_dir)
    users = test.select("user_id").distinct()
    cand = toppop_scores(train.withColumn("value", F.lit(1.0)), users, cutoff=20)
    recs = recommend_top_k(cand, 20, train=train).select(
        "user_id", "item_id", "rank"
    )
    return multi_cutoff_metrics(recs, test, cutoffs=(5, 10, 20))


def _multi_cutoff_oracle() -> str:
    per_cutoff = []
    for c in (5, 10, 20):
        per_cutoff.append(f"""
            SELECT {c} AS cutoff, nt.user_id,
                   COALESCE(p.hits_{c} / {c}.0, 0.0) AS precision,
                   COALESCE(p.hits_{c} * 1.0 / nt.n_test, 0.0) AS recall,
                   COALESCE(p.apnum_{c} / LEAST(nt.n_test, {c}), 0.0) AS ap,
                   COALESCE(1.0 / p.fhr_{c}, 0.0) AS rr,
                   COALESCE(p.dcg_{c} / i{c}.idcg, 0.0) AS ndcg,
                   COALESCE(CAST(p.hits_{c} AS DOUBLE), 0.0) AS hits
            FROM ntest nt
            LEFT JOIN pu p ON nt.user_id = p.user_id
            LEFT JOIN idcg i{c} ON LEAST(nt.n_test, {c}) = i{c}.n
        """)
    cutoff_aggs = ",\n                   ".join(
        f"SUM(CASE WHEN rank <= {c} THEN is_hit ELSE 0 END) AS hits_{c},\n"
        f"                   SUM(CASE WHEN rank <= {c} THEN is_hit * cum_hits * 1.0 / rank ELSE 0 END) AS apnum_{c},\n"
        f"                   MIN(CASE WHEN rank <= {c} AND is_hit = 1 THEN rank END) AS fhr_{c},\n"
        f"                   SUM(CASE WHEN rank <= {c} THEN is_hit / log2(rank + 1.0) ELSE 0 END) AS dcg_{c}"
        for c in (5, 10, 20)
    )
    union = " UNION ALL ".join(per_cutoff)
    return f"""
        WITH {URM_CTE},
        {_SPLIT_SQL},
        pop AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS score
                FROM train GROUP BY 1),
        eu AS (SELECT DISTINCT user_id FROM test),
        cand AS (SELECT eu.user_id, pop.item_id, pop.score FROM eu CROSS JOIN pop),
        unseen AS (
            SELECT c.* FROM cand c
            LEFT JOIN train t ON c.user_id = t.user_id AND c.item_id = t.item_id
            WHERE t.user_id IS NULL
        ),
        recs AS (
            SELECT user_id, item_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY score DESC, item_id ASC) AS rank
            FROM unseen QUALIFY rank <= 20
        ),
        ntest AS (SELECT user_id, COUNT(*) AS n_test FROM test GROUP BY 1),
        lab AS (
            SELECT r.user_id, r.rank, n.n_test,
                   CASE WHEN t.item_id IS NOT NULL THEN 1 ELSE 0 END AS is_hit
            FROM recs r
            JOIN ntest n USING (user_id)
            LEFT JOIN test t ON r.user_id = t.user_id AND r.item_id = t.item_id
        ),
        cum AS (
            SELECT *, SUM(is_hit) OVER (PARTITION BY user_id ORDER BY rank
                                        ROWS UNBOUNDED PRECEDING) AS cum_hits
            FROM lab
        ),
        pu AS (
            SELECT user_id,
                   {cutoff_aggs}
            FROM cum GROUP BY user_id
        ),
        idcg AS (
            SELECT i AS n, SUM(1.0 / log2(i + 1.0)) OVER (ORDER BY i
                           ROWS UNBOUNDED PRECEDING) AS idcg
            FROM range(1, 21) t(i)
        ),
        per_user AS ({union})
        SELECT CAST(cutoff AS INT) AS cutoff,
               CAST(COUNT(*) AS BIGINT) AS n_users_evaluated,
               AVG(precision) AS precision,
               AVG(recall) AS recall,
               AVG(ap) AS map,
               AVG(rr) AS mrr,
               AVG(ndcg) AS ndcg,
               AVG(hits) AS hit_rate
        FROM per_user GROUP BY cutoff
    """


register(
    QuerySpec(
        "toppop_eval_multi_cutoff",
        q_toppop_eval_multi_cutoff,
        _multi_cutoff_oracle(),
        doc="multi-cutoff evaluation from one recommend pass "
        "(Evaluator.py:516-522)",
    )
)


# ---------------------------------------------------------------------------
# weighted-relevance NDCG (metrics.py:182-211: gains 2^rel − 1 with test
# ratings as relevance)
# ---------------------------------------------------------------------------
def q_weighted_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..evaluation.metrics import weighted_ndcg
    from ..functions.hashing import bucket_hash

    rated = _rated(spark, sf_dir)
    tagged = rated.withColumn(
        "split",
        F.when(
            bucket_hash(F.col("user_id"), F.col("item_id")) < 698, 0
        ).otherwise(1),
    )
    train = tagged.filter(F.col("split") == 0).select("user_id", "item_id")
    test_rated = tagged.filter(F.col("split") == 1).select(
        "user_id", "item_id", "rating"
    )
    users = test_rated.select("user_id").distinct()
    cand = toppop_scores(train.withColumn("value", F.lit(1.0)), users, cutoff=10)
    recs = recommend_top_k(cand, 10, train=train).select(
        "user_id", "item_id", "rank"
    )
    return weighted_ndcg(recs, test_rated, cutoff=10)


register(
    QuerySpec(
        "weighted_ndcg",
        q_weighted_ndcg,
        f"""
        WITH {RATED_CTE},
        tagged AS (
            SELECT *, CASE WHEN ((user_id * 1000003 + item_id * 7919) % 997
                                 + 997) % 997 < 698
                           THEN 0 ELSE 1 END AS split
            FROM rated
        ),
        train AS (SELECT user_id, item_id FROM tagged WHERE split = 0),
        test_rated AS (SELECT user_id, item_id, rating FROM tagged WHERE split = 1),
        pop AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS score
                FROM train GROUP BY 1),
        eu AS (SELECT DISTINCT user_id FROM test_rated),
        cand AS (SELECT eu.user_id, pop.item_id, pop.score FROM eu CROSS JOIN pop),
        unseen AS (
            SELECT c.* FROM cand c
            LEFT JOIN train t ON c.user_id = t.user_id AND c.item_id = t.item_id
            WHERE t.user_id IS NULL
        ),
        recs AS (
            SELECT user_id, item_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY score DESC, item_id ASC) AS rank
            FROM unseen QUALIFY rank <= 10
        ),
        ideal AS (
            SELECT user_id,
                   SUM((pow(2.0, rating) - 1.0) / log2(i + 1.0)) AS idcg
            FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                     ORDER BY rating DESC, item_id ASC) AS i
                FROM test_rated
            ) WHERE i <= 10
            GROUP BY user_id
        ),
        dcg AS (
            SELECT r.user_id,
                   SUM((pow(2.0, t.rating) - 1.0) / log2(r.rank + 1.0)) AS dcg
            FROM recs r JOIN test_rated t USING (user_id, item_id)
            GROUP BY r.user_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users_evaluated,
               AVG(COALESCE(d.dcg / i.idcg, 0.0)) AS ndcg
        FROM ideal i LEFT JOIN dcg d USING (user_id)
        """,
        doc="graded-relevance NDCG (metrics.py:182-211, 2^rel−1 gains)",
    )
)


# ---------------------------------------------------------------------------
# UserKNN-CF serving (KNN/UserKNNCFRecommender.py:32-54 fit +
# BaseSimilarityMatrixRecommender.py:99-120 user-based scoring)
# ---------------------------------------------------------------------------
def q_userknn_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UserKNN-CF top-10: user-user cosine W (topK=10 per user_j) →
    scores = W·URM → remove seen → per-user ranking.

    W comes from the distributed blocked kernel (operators/blocked_topk
    .py — user adjacency over items, same routing rationale as
    user_cosine_topk); scoring + ranking are the relational join/window
    path.  Scores are float sums → ranked on round(score, 9)."""
    from ..operators.blocked_topk import blocked_cosine_topk
    from ..operators.scoring import user_based_scores

    train, test = _train_test(spark, sf_dir)
    train_v = train.withColumn("value", F.lit(1.0))
    as_adj = train_v.select(
        F.col("user_id").alias("item_id"),
        F.col("item_id").alias("nbr"),
    )
    w = blocked_cosine_topk(
        adj=as_adj, k=10, adj_key=f"{sf_dir}:urm_train_adj"
    ).select(
        F.col("item_i").alias("user_i"),
        F.col("item_j").alias("user_j"),
        "sim",
    )
    scores = user_based_scores(train_v, w)
    users = test.select("user_id").distinct()
    scores = scores.join(users, "user_id", "left_semi")
    return recommend_top_k(scores, 10, train=train, round_digits=9)


register(
    QuerySpec(
        "userknn_recommendations",
        q_userknn_recommendations,
        f"""
        WITH {URM_CTE},
        {_SPLIT_SQL},
        n AS (SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n FROM train GROUP BY 1),
        d AS (
            SELECT a.user_id AS user_i, b.user_id AS user_j,
                   CAST(COUNT(*) AS DOUBLE) AS dot
            FROM train a JOIN train b
              ON a.item_id = b.item_id AND a.user_id <> b.user_id
            GROUP BY 1, 2
        ),
        s AS (
            SELECT user_i, user_j,
                   dot / (sqrt(ni.n) * sqrt(nj.n) + 1e-6) AS sim,
                   ROW_NUMBER() OVER (PARTITION BY user_j
                        ORDER BY round(dot / (sqrt(ni.n) * sqrt(nj.n) + 1e-6), 9) DESC,
                                 user_i ASC) AS rnk
            FROM d JOIN n ni ON d.user_i = ni.user_id
                   JOIN n nj ON d.user_j = nj.user_id
            QUALIFY rnk <= 10
        ),
        eu AS (SELECT DISTINCT user_id FROM test),
        scores AS (
            SELECT s.user_i AS user_id, t.item_id, SUM(s.sim) AS score
            FROM s JOIN train t ON s.user_j = t.user_id
            WHERE s.user_i IN (SELECT user_id FROM eu)
            GROUP BY 1, 2
        ),
        unseen AS (
            SELECT sc.* FROM scores sc
            LEFT JOIN train tr
              ON sc.user_id = tr.user_id AND sc.item_id = tr.item_id
            WHERE tr.user_id IS NULL
        )
        SELECT user_id, item_id, score,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY round(score, 9) DESC, item_id ASC) AS INT) AS rank
        FROM unseen
        QUALIFY rank <= 10
        """,
        doc="UserKNN-CF serving: kernel W + W·URM scoring "
        "(UserKNNCFRecommender.py:32-54, "
        "BaseSimilarityMatrixRecommender.py:99-120)",
    )
)


# ---------------------------------------------------------------------------
# item PageRank (power iteration over the co-occurrence graph — extension)
# ---------------------------------------------------------------------------
def q_item_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..recommenders.graph import item_pagerank

    urm = _urm(spark, sf_dir)
    return item_pagerank(urm, damping=0.85, n_iters=2)


register(
    QuerySpec(
        "item_pagerank",
        q_item_pagerank,
        f"""
        WITH {URM_CTE},
        edges AS (
            SELECT a.item_id AS item_i, b.item_id AS item_j,
                   CAST(COUNT(*) AS DOUBLE) AS w
            FROM urm a JOIN urm b
              ON a.user_id = b.user_id AND a.item_id <> b.item_id
            GROUP BY 1, 2
        ),
        ow AS (SELECT item_i, SUM(w) AS out_w FROM edges GROUP BY 1),
        trans AS (
            SELECT item_i, item_j, w / out_w AS p
            FROM edges JOIN ow USING (item_i)
        ),
        nodes AS (SELECT DISTINCT item_i AS item_id FROM edges),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        r0 AS (SELECT item_id, 1.0 / n AS pagerank FROM nodes CROSS JOIN nn),
        r1 AS (
            SELECT nodes.item_id,
                   0.15 / nn.n + 0.85 * COALESCE(c.c, 0.0) AS pagerank
            FROM nodes CROSS JOIN nn
            LEFT JOIN (
                SELECT t.item_j AS item_id, SUM(t.p * r.pagerank) AS c
                FROM trans t JOIN r0 r ON t.item_i = r.item_id
                GROUP BY 1
            ) c USING (item_id)
        ),
        r2 AS (
            SELECT nodes.item_id,
                   0.15 / nn.n + 0.85 * COALESCE(c.c, 0.0) AS pagerank
            FROM nodes CROSS JOIN nn
            LEFT JOIN (
                SELECT t.item_j AS item_id, SUM(t.p * r.pagerank) AS c
                FROM trans t JOIN r1 r ON t.item_i = r.item_id
                GROUP BY 1
            ) c USING (item_id)
        )
        SELECT item_id, pagerank FROM r2
        """,
        doc="item PageRank: 2 power iterations over the co-occurrence "
        "graph, teleport 0.15 (random-walk centrality extension)",
    )
)
