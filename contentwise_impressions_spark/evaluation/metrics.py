"""Ranking-evaluation metrics as one DataFrame aggregation.

Reference: Base/Evaluation/metrics.py + Evaluator.py (SURVEY.md §2.9).
The reference streams user batches through per-metric Python accumulator
objects with a `merge_with_other` partial-merge contract (metrics.py:57-62)
— exactly Spark's partial-aggregation contract, so every metric below is a
built-in agg expression over the recs⋈test join; no UDAFs.

Faithfully preserved reference quirks:
- NDCG uses gains 2^rel − 1 with test ratings as relevance
  (metrics.py:182-211); for implicit data rel=1 → binary gain 1.
- HIT_RATE is the SUM of hits averaged over users (Evaluator.py:251,329),
  not the any-hit indicator.
- PRECISION divides by the cutoff, PRECISION_RECALL_MIN_DEN by
  min(#test, cutoff) (metrics.py:138-157).
- MAP normalizes by min(#test, cutoff) (metrics.py:39-75).
- F1 is computed from the ALREADY-AVERAGED precision/recall
  (Evaluator.py:253-259).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _idcg_table(spark, max_cutoff: int) -> DataFrame:
    """(n, idcg) for n = 1..max_cutoff: idcg(n) = Σ_{i=1..n} 1/log2(i+1)."""
    w = (
        Window.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spark.range(1, max_cutoff + 1)
        .select(F.col("id").alias("i"))
        .withColumn("idcg", F.sum(1.0 / F.log2(F.col("i") + 1.0)).over(w))
        .select(F.col("i").alias("n"), "idcg")
    )


def ranking_metrics(
    recs: DataFrame, test: DataFrame, cutoff: int = 10
) -> DataFrame:
    """All accuracy metrics at one cutoff, averaged over evaluated users.

    `recs`: (user_id, item_id, rank) with rank 1..cutoff.
    `test`: (user_id, item_id) held-out positives.
    Users evaluated = users with >= 1 test interaction (Evaluator.py:184-211).
    Returns one row: n_users_evaluated, precision, precision_min_den, recall,
    map, mrr, ndcg, arhr, hit_rate, f1.
    """
    spark = recs.sparkSession
    test_pairs = test.select("user_id", "item_id").dropDuplicates(
        ["user_id", "item_id"]
    )
    n_test_per_user = test_pairs.groupBy("user_id").agg(
        F.count("*").alias("n_test")
    )

    # recs ⋈ test → hit flags; keep every rec row of evaluated users
    labeled = (
        recs.join(n_test_per_user, "user_id", "inner")  # evaluated users only
        .join(
            test_pairs.withColumn("is_hit", F.lit(1)),
            ["user_id", "item_id"],
            "left",
        )
        .withColumn("is_hit", F.coalesce(F.col("is_hit"), F.lit(0)))
    )

    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    labeled = labeled.withColumn("cum_hits", F.sum("is_hit").over(w_cum))

    n_hits, n_recs = F.sum("is_hit"), F.count("*")
    per_user = labeled.groupBy("user_id", "n_test").agg(
        n_hits.alias("n_hits"),
        n_recs.alias("n_recs"),
        F.sum(
            F.col("is_hit") * F.col("cum_hits") / F.col("rank")
        ).alias("ap_num"),
        F.min(F.when(F.col("is_hit") == 1, F.col("rank"))).alias("first_hit_rank"),
        F.sum(F.col("is_hit") / F.col("rank")).alias("arhr"),
        F.sum(F.col("is_hit") / F.log2(F.col("rank") + 1.0)).alias("dcg"),
        # ROC_AUC numerator (metrics.py:104-120): for each hit at rank r,
        # count non-hits ranked after it, (n_recs−r) − (n_hits−cum_hits);
        # the sum over hits expands into per-user aggregates (an exact
        # integer identity, so no whole-user window is needed)
        (
            n_hits * n_recs
            - F.sum(F.col("is_hit") * F.col("rank"))
            - n_hits * n_hits
            + F.sum(F.col("is_hit") * F.col("cum_hits"))
        ).alias("auc_num"),
    )

    idcg = _idcg_table(spark, cutoff)
    per_user = (
        per_user.withColumn("den", F.least(F.col("n_test"), F.lit(cutoff)))
        .join(F.broadcast(idcg), F.col("den") == F.col("n"), "left")
        .select(
            "user_id",
            (F.col("n_hits") / F.lit(float(cutoff))).alias("precision"),
            (F.col("n_hits") / F.col("den")).alias("precision_min_den"),
            (F.col("n_hits") / F.col("n_test")).alias("recall"),
            (F.col("ap_num") / F.col("den")).alias("ap"),
            F.coalesce(1.0 / F.col("first_hit_rank"), F.lit(0.0)).alias("rr"),
            (F.col("dcg") / F.col("idcg")).alias("ndcg"),
            F.col("arhr"),
            F.col("n_hits").cast("double").alias("hits"),
            # metrics.py:111-120: no negatives in list → 1.0; no hits → 0.0
            F.when(F.col("n_recs") == F.col("n_hits"), F.lit(1.0))
            .when(F.col("n_hits") == 0, F.lit(0.0))
            .otherwise(
                F.col("auc_num")
                / (F.col("n_hits") * (F.col("n_recs") - F.col("n_hits")))
            )
            .alias("roc_auc"),
        )
    )

    # users with test items but no recs at all still count in the mean
    # (the reference counts every user it evaluates, Evaluator.py:251)
    evaluated = n_test_per_user.join(
        per_user, "user_id", "left"
    ).fillna(
        0.0,
        subset=[
            "precision",
            "precision_min_den",
            "recall",
            "ap",
            "rr",
            "ndcg",
            "arhr",
            "hits",
            "roc_auc",
        ],
    )

    agg = evaluated.agg(
        F.count("*").cast("bigint").alias("n_users_evaluated"),
        F.avg("precision").alias("precision"),
        F.avg("precision_min_den").alias("precision_min_den"),
        F.avg("recall").alias("recall"),
        F.avg("ap").alias("map"),
        F.avg("rr").alias("mrr"),
        F.avg("ndcg").alias("ndcg"),
        F.avg("arhr").alias("arhr"),
        F.avg("hits").alias("hit_rate"),
        F.avg("roc_auc").alias("roc_auc"),
    )
    return agg.withColumn(
        "f1",
        F.when(
            (F.col("precision") + F.col("recall")) > 0,
            2.0
            * F.col("precision")
            * F.col("recall")
            / (F.col("precision") + F.col("recall")),
        ).otherwise(F.lit(0.0)),
    )


def beyond_accuracy_metrics(
    recs: DataFrame, train: DataFrame, cutoff: int = 10
) -> DataFrame:
    """All beyond-accuracy metrics in one pass over the rec lists.

    Reference formulas (Base/Evaluation/metrics.py):
    - NOVELTY (:538-586): mean self-information —
      per user Σ_{rec, pop>0} −log2(pop_i / n_interactions) / n_items,
      averaged over evaluated users (catalog n_items, train interactions).
    - AVERAGE_POPULARITY (:592-636): per user mean of pop_i / max_pop,
      averaged over users.
    - COVERAGE_ITEM (:310-323): distinct recommended / catalog items.
    - COVERAGE_USER (:348-370): users with >= 1 rec / train users.
    - DIVERSITY_GINI (:401-442): inverted-range Gini over the distribution
      of per-item recommendation counts (zero-occurrence items ignored):
      2·Σ_i ((n+1−i)/(n+1)) · c_i/Σc, c ascending.
    - SHANNON_ENTROPY (:485-530) and DIVERSITY_HERFINDAHL (:447-479) over
      the same count distribution.
    - DIVERSITY_MEAN_INTER_LIST (:702-810) closed form:
      (U²−U − (Σc² − U·k)/k) / (U²−U).
    All are aggregates of the per-item rec-count table — one shuffle.
    """
    spark = recs.sparkSession
    pop = train.groupBy("item_id").agg(F.count("*").cast("double").alias("pop"))
    totals = train.agg(
        F.count("*").cast("double").alias("n_interactions"),
        F.countDistinct("item_id").cast("double").alias("n_items"),
        F.countDistinct("user_id").cast("double").alias("n_train_users"),
    )
    max_pop = pop.agg(F.max("pop").alias("max_pop"))

    # per-user novelty / avg-popularity contributions
    per_user = (
        recs.join(F.broadcast(pop), "item_id", "left")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(max_pop))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("pop") > 0,
                    -F.log2(F.col("pop") / F.col("n_interactions"))
                    / F.col("n_items"),
                ).otherwise(F.lit(0.0))
            ).alias("novelty_u"),
            (F.sum(F.coalesce(F.col("pop"), F.lit(0.0)) / F.col("max_pop"))
             / F.count("*")).alias("avgpop_u"),
        )
    )
    user_aggs = per_user.agg(
        F.count("*").cast("double").alias("n_users_evaluated"),
        F.avg("novelty_u").alias("novelty"),
        F.avg("avgpop_u").alias("avg_popularity"),
    )

    # per-item recommendation counts (nonzero only, by construction).
    # sum(c·i) with i the ascending sort index is tie-invariant (items
    # sharing count c occupy ranks cl+1..cl+m whose index sum is a closed
    # form), so the prefix window runs over DISTINCT counts — never a
    # per-row global sort (see functions/stats.gini_coefficient).
    counts = recs.groupBy("item_id").agg(F.count("*").cast("double").alias("c"))
    by_c = counts.groupBy("c").agg(F.count("*").cast("double").alias("m"))
    w_c = Window.orderBy(F.col("c").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    with_prefix = by_c.withColumn(
        "cl", F.coalesce(F.sum("m").over(w_c), F.lit(0.0))
    )
    count_aggs = with_prefix.agg(
        F.sum("m").alias("n_rec_items"),
        F.sum(F.col("c") * F.col("m")).alias("sum_c"),
        F.sum(F.col("c") * F.col("c") * F.col("m")).alias("sum_c2"),
        F.sum(
            F.col("c")
            * (F.col("m") * F.col("cl") + F.col("m") * (F.col("m") + 1) / 2.0)
        ).alias("sum_ci"),
        F.sum(F.col("c") * F.log2("c") * F.col("m")).alias("sum_clogc"),
    )

    cov = recs.agg(
        F.countDistinct("item_id").cast("double").alias("n_distinct_rec_items"),
        F.countDistinct("user_id").cast("double").alias("n_rec_users"),
    )

    joined = (
        user_aggs.crossJoin(count_aggs).crossJoin(cov).crossJoin(totals)
    )
    n, sc, sc2, sci = (
        F.col("n_rec_items"),
        F.col("sum_c"),
        F.col("sum_c2"),
        F.col("sum_ci"),
    )
    u, k = F.col("n_users_evaluated"), F.lit(float(cutoff))
    return joined.select(
        F.col("n_users_evaluated").cast("bigint").alias("n_users_evaluated"),
        "novelty",
        "avg_popularity",
        (F.col("n_distinct_rec_items") / F.col("n_items")).alias("coverage_item"),
        (F.col("n_rec_users") / F.col("n_train_users")).alias("coverage_user"),
        # 2·Σ((n+1−i)/(n+1))·c_i/Σc = 2·((n+1)·Σc − Σc·i)/((n+1)·Σc)
        (
            2.0 * ((n + 1.0) * sc - sci) / ((n + 1.0) * sc)
        ).alias("diversity_gini"),
        (F.log2(sc) - F.col("sum_clogc") / sc).alias("shannon_entropy"),
        (1.0 - sc2 / (sc * sc)).alias("herfindahl"),
        (
            ((u * u - u) - (sc2 - u * k) / k) / (u * u - u)
        ).alias("mean_inter_list"),
    )


def multi_cutoff_metrics(
    recs: DataFrame, test: DataFrame, cutoffs: tuple = (5, 10, 20)
) -> DataFrame:
    """Accuracy metrics at SEVERAL cutoffs from one recommendation pass.

    Reference contract: the Evaluator computes all cutoffs from one
    recommend() call at max(cutoffs) (Evaluator.py:516-522, cutoff_list
    [5,10,20] at run_hyperparameter_tuning.py:41-58).  One labeled-recs
    table, one grouped aggregation per user with per-cutoff conditional
    sums, one final average — the cutoff dimension is unpivoted into rows:
    output (cutoff, n_users_evaluated, precision, recall, map, mrr, ndcg,
    hit_rate).
    """
    spark = recs.sparkSession
    max_c = max(cutoffs)
    test_pairs = test.select("user_id", "item_id").dropDuplicates(
        ["user_id", "item_id"]
    )
    n_test = test_pairs.groupBy("user_id").agg(F.count("*").alias("n_test"))
    labeled = (
        recs.filter(F.col("rank") <= max_c)
        .join(n_test, "user_id", "inner")
        .join(
            test_pairs.withColumn("is_hit", F.lit(1)),
            ["user_id", "item_id"],
            "left",
        )
        .withColumn("is_hit", F.coalesce(F.col("is_hit"), F.lit(0)))
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    labeled = labeled.withColumn("cum_hits", F.sum("is_hit").over(w_cum))

    aggs = []
    for c in cutoffs:
        within = F.col("rank") <= c
        hit_in = F.col("is_hit") * within.cast("int")
        aggs += [
            F.sum(hit_in).alias(f"hits_{c}"),
            F.sum(hit_in * F.col("cum_hits") / F.col("rank")).alias(f"apnum_{c}"),
            F.min(F.when((F.col("is_hit") == 1) & within, F.col("rank"))).alias(
                f"fhr_{c}"
            ),
            F.sum(hit_in / F.log2(F.col("rank") + 1.0)).alias(f"dcg_{c}"),
        ]
    per_user = labeled.groupBy("user_id", "n_test").agg(*aggs)

    idcg = _idcg_table(spark, max_c)
    # unpivot the per-cutoff columns with ONE stack() projection — a
    # unionByName of per-cutoff branches would recompute the whole labeled
    # pipeline once per cutoff (measured 3.6x the single-cutoff query)
    stack_args = ", ".join(
        f"{int(c)}, hits_{c}, apnum_{c}, fhr_{c}, dcg_{c}" for c in cutoffs
    )
    rows = (
        per_user.selectExpr(
            "user_id",
            "n_test",
            f"stack({len(cutoffs)}, {stack_args})"
            " as (cutoff, hits, apnum, fhr, dcg)",
        )
        .withColumn("den", F.least(F.col("n_test"), F.col("cutoff")))
        .join(F.broadcast(idcg), F.col("den") == F.col("n"), "left")
        .select(
            F.col("cutoff").cast("int").alias("cutoff"),
            "user_id",
            (F.col("hits") / F.col("cutoff").cast("double")).alias("precision"),
            (F.col("hits") / F.col("n_test")).alias("recall"),
            (F.col("apnum") / F.col("den")).alias("ap"),
            F.coalesce(1.0 / F.col("fhr"), F.lit(0.0)).alias("rr"),
            (F.col("dcg") / F.col("idcg")).alias("ndcg"),
            F.col("hits").cast("double").alias("hits"),
        )
    )

    evaluated = (
        n_test.select("user_id")
        .crossJoin(
            spark.createDataFrame([(int(c),) for c in cutoffs], "cutoff int")
        )
        .join(rows, ["cutoff", "user_id"], "left")
        .fillna(0.0, subset=["precision", "recall", "ap", "rr", "ndcg", "hits"])
    )
    return (
        evaluated.groupBy("cutoff")
        .agg(
            F.count("*").cast("bigint").alias("n_users_evaluated"),
            F.avg("precision").alias("precision"),
            F.avg("recall").alias("recall"),
            F.avg("ap").alias("map"),
            F.avg("rr").alias("mrr"),
            F.avg("ndcg").alias("ndcg"),
            F.avg("hits").alias("hit_rate"),
        )
    )


def weighted_ndcg(
    recs: DataFrame, test_rated: DataFrame, cutoff: int = 10
) -> DataFrame:
    """NDCG with graded relevance — the reference's exact formulation
    (metrics.py:182-211): gains 2^rel − 1 with TEST RATINGS as relevance,
    IDCG from the user's own ratings sorted descending, truncated at
    min(#test, cutoff).

    `test_rated`: (user_id, item_id, rating).  Returns one row:
    (n_users_evaluated, ndcg).
    """
    test_pairs = test_rated.dropDuplicates(["user_id", "item_id"])
    w_ideal = Window.partitionBy("user_id").orderBy(
        F.col("rating").desc(), F.col("item_id").asc()
    )
    ideal = (
        test_pairs.withColumn("i", F.row_number().over(w_ideal))
        .filter(F.col("i") <= cutoff)
        .groupBy("user_id")
        .agg(
            F.sum(
                (F.pow(2.0, F.col("rating")) - 1.0) / F.log2(F.col("i") + 1.0)
            ).alias("idcg")
        )
    )
    labeled = recs.filter(F.col("rank") <= cutoff).join(
        test_pairs, ["user_id", "item_id"], "inner"
    )
    dcg = labeled.groupBy("user_id").agg(
        F.sum(
            (F.pow(2.0, F.col("rating")) - 1.0) / F.log2(F.col("rank") + 1.0)
        ).alias("dcg")
    )
    per_user = (
        ideal.join(dcg, "user_id", "left")
        .select(
            "user_id",
            F.coalesce(F.col("dcg") / F.col("idcg"), F.lit(0.0)).alias("ndcg_u"),
        )
    )
    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users_evaluated"),
        F.avg("ndcg_u").alias("ndcg"),
    )
