"""Golden-value metric tests ported from the reference's hand-computed
fixtures (Base/Evaluation/metrics_Test.py:150-314, metrics.py:835-938).

The fixtures are literal: pos_items = {2,4,5,10} against three ranked
lists of 5.  Our ranking_metrics aggregates per-user then averages, so each
list becomes one synthetic user and single-user results must equal the
reference's per-list values exactly.
"""

from __future__ import annotations

import math

import pytest

from contentwise_impressions_spark.evaluation.metrics import (
    beyond_accuracy_metrics,
    ranking_metrics,
)

POS_ITEMS = [2, 4, 5, 10]
LIST_1 = [1, 2, 3, 4, 5]
LIST_2 = [10, 5, 2, 4, 3]
LIST_3 = [1, 3, 6, 7, 8]


def _frames(spark, ranked, pos):
    recs = spark.createDataFrame(
        [(1, item, r + 1) for r, item in enumerate(ranked)],
        ["user_id", "item_id", "rank"],
    )
    test = spark.createDataFrame([(1, p) for p in pos], ["user_id", "item_id"])
    return recs, test


@pytest.mark.parametrize(
    "ranked,precision,recall,rr",
    [
        (LIST_1, 3.0 / 5, 3.0 / 4, 1.0 / 2),  # metrics_Test.py:196-244
        (LIST_2, 4.0 / 5, 1.0, 1.0),
        (LIST_3, 0.0, 0.0, 0.0),
    ],
)
def test_precision_recall_rr_goldens(spark, ranked, precision, recall, rr):
    recs, test = _frames(spark, ranked, POS_ITEMS)
    m = ranking_metrics(recs, test, cutoff=5).collect()[0]
    assert m["precision"] == pytest.approx(precision)
    assert m["recall"] == pytest.approx(recall)
    assert m["mrr"] == pytest.approx(rr)


def test_map_goldens(spark):
    # metrics_Test.py:249-270: MAP = Σ(P@hit_i)/min(|pos|, len(list))
    recs, test = _frames(spark, LIST_1, POS_ITEMS)
    m = ranking_metrics(recs, test, cutoff=5).collect()[0]
    assert m["map"] == pytest.approx((1.0 / 2 + 2.0 / 4 + 3.0 / 5) / 4)

    list_4 = [11, 12, 13, 14, 15, 16, 2, 4, 5, 10]
    recs4, test4 = _frames(spark, list_4, POS_ITEMS)
    m4 = ranking_metrics(recs4, test4, cutoff=10).collect()[0]
    assert m4["map"] == pytest.approx(
        (1.0 / 7 + 2.0 / 8 + 3.0 / 9 + 4.0 / 10) / 4
    )

    list_5 = [2, 11, 12, 13, 14, 15, 4, 5, 10, 16]
    recs5, test5 = _frames(spark, list_5, POS_ITEMS)
    m5 = ranking_metrics(recs5, test5, cutoff=10).collect()[0]
    assert m5["map"] == pytest.approx(
        (1.0 / 1 + 2.0 / 7 + 3.0 / 8 + 4.0 / 9) / 4
    )


def test_auc_golden(spark):
    # metrics_Test.py:157-168: pos {2,4} in [1..5] → (2/3 + 1/3)/2
    recs, test = _frames(spark, LIST_1, [2, 4])
    m = ranking_metrics(recs, test, cutoff=5).collect()[0]
    assert m["roc_auc"] == pytest.approx((2.0 / 3 + 1.0 / 3) / 2)

    # metrics.py:111-120 edge cases: a list of only hits scores 1.0, a list
    # without hits 0.0
    edges = [(LIST_2, POS_ITEMS + [3], 1.0), (LIST_3, POS_ITEMS, 0.0)]
    for ranked, pos, auc in edges:
        recs, test = _frames(spark, ranked, pos)
        m = ranking_metrics(recs, test, cutoff=5).collect()[0]
        assert m["roc_auc"] == auc
    # all three as users of one frame: per-user AUCs, then the mean
    users = [(LIST_1, [2, 4])] + [(lst, pos) for lst, pos, _ in edges]
    recs = spark.createDataFrame(
        [(u, item, r + 1) for u, (lst, _) in enumerate(users)
         for r, item in enumerate(lst)],
        ["user_id", "item_id", "rank"],
    )
    test = spark.createDataFrame(
        [(u, p) for u, (_, pos) in enumerate(users) for p in pos],
        ["user_id", "item_id"],
    )
    m = ranking_metrics(recs, test, cutoff=5).collect()[0]
    assert m["roc_auc"] == pytest.approx((0.5 + 1.0 + 0.0) / 3)


def test_ndcg_binary_golden(spark):
    # metrics.py:182-211 with implicit rel=1: DCG = Σ 1/log2(rank+1) at hit
    # ranks {2,4,5}; IDCG over min(|pos|, cutoff)=4 ideal positions
    recs, test = _frames(spark, LIST_1, POS_ITEMS)
    m = ranking_metrics(recs, test, cutoff=5).collect()[0]
    dcg = 1 / math.log2(3) + 1 / math.log2(5) + 1 / math.log2(6)
    idcg = sum(1 / math.log2(i + 1) for i in range(1, 5))
    assert m["ndcg"] == pytest.approx(dcg / idcg)


def test_multi_user_average(spark):
    recs = spark.createDataFrame(
        [(u, item, r + 1) for u, lst in [(1, LIST_1), (2, LIST_2), (3, LIST_3)]
         for r, item in enumerate(lst)],
        ["user_id", "item_id", "rank"],
    )
    test = spark.createDataFrame(
        [(u, p) for u in (1, 2, 3) for p in POS_ITEMS], ["user_id", "item_id"]
    )
    m = ranking_metrics(recs, test, cutoff=5).collect()[0]
    assert m["n_users_evaluated"] == 3
    assert m["precision"] == pytest.approx((3 / 5 + 4 / 5 + 0) / 3)
    assert m["recall"] == pytest.approx((3 / 4 + 1 + 0) / 3)
    assert m["hit_rate"] == pytest.approx((3 + 4 + 0) / 3)  # summed hits/user


def test_gini_diversity_uniform_is_one(spark):
    # metrics_Test.py:16-30: uniform recommendation counts → gini-div ≈ 1
    recs = spark.createDataFrame(
        [(u, u * 10 + i, i + 1) for u in range(10) for i in range(10)],
        ["user_id", "item_id", "rank"],
    )
    train = spark.createDataFrame(
        [(u, it) for u in range(10) for it in range(100)],
        ["user_id", "item_id"],
    )
    m = beyond_accuracy_metrics(recs, train, cutoff=10).collect()[0]
    assert m["diversity_gini"] == pytest.approx(1.0)
    assert m["shannon_entropy"] == pytest.approx(math.log2(100))
    assert m["herfindahl"] == pytest.approx(1 - 100 / 100**2)


def test_mean_inter_list_identical_lists_is_zero(spark):
    # metrics_Test.py:48-90 / metrics.py:702-810: all users get the SAME
    # list → MeanInterList diversity is exactly 0 (the TopPop case)
    recs = spark.createDataFrame(
        [(u, item, item) for u in range(5) for item in (1, 2, 3)],
        ["user_id", "item_id", "rank"],
    )
    train = spark.createDataFrame(
        [(u, it) for u in range(5) for it in (1, 2, 3)], ["user_id", "item_id"]
    )
    m = beyond_accuracy_metrics(recs, train, cutoff=3).collect()[0]
    assert m["mean_inter_list"] == pytest.approx(0.0)
