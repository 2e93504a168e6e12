"""Hyperparameter-search driver tests: tune ItemKNN (topK, shrink) on the
events URM with MAP@10 objective — the reference's KNN sweep in miniature
(run_hyperparameter_tuning.py:101-113)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from contentwise_impressions_spark.evaluation.metrics import ranking_metrics
from contentwise_impressions_spark.operators.scoring import (
    item_based_scores,
    recommend_top_k,
)
from contentwise_impressions_spark.operators.similarity import (
    similarity_scores,
    similarity_top_k,
)
from contentwise_impressions_spark.operators.splits import deterministic_split
from contentwise_impressions_spark.recommenders.knn import itemknn_recommend
from contentwise_impressions_spark.sources.interactions import implicit_urm
from contentwise_impressions_spark.sources.tables import load_table
from contentwise_impressions_spark.tuning import (
    Categorical,
    Integer,
    Real,
    fit_with_early_stopping,
    random_search,
    results_table,
)


def _train_val(spark, sf_dir):
    urm = implicit_urm(load_table(spark, sf_dir, "events"))
    tagged = deterministic_split(urm, "user_id", "item_id", [0.7, 0.1, 0.2])
    train = tagged.filter(F.col("split") == 0).select("user_id", "item_id").cache()
    val = tagged.filter(F.col("split") == 1).select("user_id", "item_id").cache()
    train.count(), val.count()
    return train, val


@pytest.fixture(scope="module")
def split(spark, sf_dir):
    return _train_val(spark, sf_dir)


@pytest.mark.parametrize("kind", ["cosine", "dice"])
def test_itemknn_semi_join_is_exact(spark, sf01_dir, kind):
    """itemknn_recommend ranks only the holdout users; ranking_metrics
    aggregates only users with holdout rows, so every metric must equal the
    one over the unrestricted operator chain (all train users ranked).
    Runs at sf0.01 so validation hits exist (MAP > 0)."""
    train, val = _train_val(spark, sf01_dir)
    shrink, top_k = 5.0, 15
    restricted = ranking_metrics(
        itemknn_recommend(train, val, kind, shrink, top_k), val, cutoff=10
    ).collect()[0]

    train_v = train.withColumn("value", F.lit(1.0))
    w = similarity_top_k(
        similarity_scores(train_v, kind, shrink=shrink), top_k
    ).select("item_i", "item_j", "sim")
    full_recs = recommend_top_k(
        item_based_scores(train_v, w), 10, train=train, round_digits=9
    )
    full = ranking_metrics(full_recs, val, cutoff=10).collect()[0]

    assert restricted["map"] > 0.0
    assert restricted.asDict().keys() == full.asDict().keys()
    for col, v in full.asDict().items():
        assert restricted[col] == pytest.approx(v, rel=1e-12, abs=1e-12), col


def test_random_search_finds_best(split):
    train, val = split
    space = {
        "top_k": Integer(2, 20),
        "shrink": Real(0.0, 10.0),
        "kind": Categorical(("cosine", "jaccard")),
    }

    def map10(p):
        recs = itemknn_recommend(train, val, **p)
        return ranking_metrics(recs, val, cutoff=10).collect()[0]["map"]

    best, hist = random_search(space, map10, n_cases=4, seed=7)
    assert len(hist) == 4
    assert hist["metric"].max() == pytest.approx(
        hist[hist["is_best"]]["metric"].iloc[-1]
    )
    assert set(best) == {"top_k", "shrink", "kind"}
    tbl = results_table({"ItemKNNCF": hist})
    assert tbl.iloc[0]["best_metric"] == hist["metric"].max()


def test_early_stopping_stops_and_keeps_best():
    # synthetic objective: improves for 3 validations then degrades
    state = {"epochs": 0}
    curve = {5: 0.1, 10: 0.2, 15: 0.3, 20: 0.25, 25: 0.2, 30: 0.15, 35: 0.1}

    best, best_epoch, best_metric = fit_with_early_stopping(
        run_epochs=lambda n: state.__setitem__("epochs", state["epochs"] + n),
        evaluate=lambda: curve[state["epochs"]],
        snapshot=lambda: state["epochs"],
        max_epochs=100,
        validate_every=5,
        patience=3,
    )
    assert best == 15 and best_epoch == 15 and best_metric == 0.3
    assert state["epochs"] == 30  # stopped after 3 worse validations


def test_random_search_resume(tmp_path):
    import pandas as pd

    space = {"x": Integer(0, 100)}
    _, fresh = random_search(space, lambda p: float(p["x"]), n_cases=5, seed=1)
    # legacy_format: the history earlier random-search runs wrote, which
    # has no was_random column
    for legacy_format in (False, True):
        calls = []

        def objective(p):
            calls.append(p["x"])
            return float(p["x"])

        hist_path = str(tmp_path / f"hist_{legacy_format}.parquet")
        _, h1 = random_search(
            space, objective, n_cases=3, seed=1, history_path=hist_path
        )
        assert len(calls) == 3
        if legacy_format:
            pd.read_parquet(hist_path).drop(columns=["was_random"]).to_parquet(
                hist_path, index=False
            )
        # resume with more cases: the first 3 must replay, only 2 new
        # trials run, and the cases match one uninterrupted run
        _, h2 = random_search(
            space, objective, n_cases=5, seed=1, history_path=hist_path
        )
        assert len(calls) == 3 + 2
        assert h2["resumed"].tolist() == [True, True, True, False, False]
        assert (h2.iloc[:3]["metric"].values == h1["metric"].values).all()
        assert h2["param_x"].tolist() == fresh["param_x"].tolist()


def test_latex_results_renders():
    import pandas as pd

    from contentwise_impressions_spark.tuning import latex_results, results_table

    hist = pd.DataFrame(
        {
            "case": [0, 1],
            "param_top_k": [10, 20],
            "metric": [0.1, 0.3],
            "train_eval_sec": [1.0, 2.0],
            "is_best": [True, True],
        }
    )
    tex = latex_results(results_table({"ItemKNN_CF": hist}))
    assert r"\begin{tabular}" in tex and r"\toprule" in tex
    assert "0.3000" in tex  # best metric row
    assert r"ItemKNN\_CF" in tex  # underscore escaped


def test_seconds_to_biggest_unit():
    import numpy as np

    from contentwise_impressions_spark.functions.timing import (
        seconds_to_biggest_unit,
        timeit,
    )

    assert seconds_to_biggest_unit(30) == (30, "sec")
    assert seconds_to_biggest_unit(90) == (1.5, "min")
    assert seconds_to_biggest_unit(7200) == (2.0, "hour")
    v, u = seconds_to_biggest_unit(86400 * 3)
    assert (v, u) == (3.0, "day")
    # array rescaled in place alongside the promotion
    arr = np.array([60.0, 120.0])
    v, u, out = seconds_to_biggest_unit(120.0, arr)
    assert u == "min" and list(out) == [1.0, 2.0]

    @timeit
    def f(x):
        return x + 1

    assert f(1) == 2 and f.__name__ == "f"


# ---------------------------------------------------------------------------
# GP-EI Bayesian search (SearchBayesianSkopt.py:21-271 without skopt)
# ---------------------------------------------------------------------------
def _smooth_objective(params):
    # smooth unimodal surface over the mixed space: optimum at
    # (alpha=0.3, topk=40, kind='cosine')
    import math

    x = params["alpha"]
    t = params["topk"]
    bonus = 0.2 if params["kind"] == "cosine" else 0.0
    return -((x - 0.3) ** 2) - ((t - 40) / 100.0) ** 2 + bonus


_SPACE = {
    "alpha": Real(0.0, 1.0),
    "topk": Integer(5, 100),
    "kind": Categorical(("cosine", "jaccard", "dice")),
}


def test_bayesian_beats_random_fixed_budget():
    from contentwise_impressions_spark.tuning import bayesian_search

    budget = 30
    best_b, hist_b = bayesian_search(
        _SPACE, _smooth_objective, n_cases=budget, n_random_starts=10, seed=7
    )
    best_r, hist_r = random_search(
        _SPACE, _smooth_objective, n_cases=budget, seed=7
    )
    assert len(hist_b) == budget
    assert hist_b["metric"].max() > hist_r["metric"].max()
    # the GP phase should concentrate near the optimum
    assert abs(best_b["alpha"] - 0.3) < abs(best_r["alpha"] - 0.3) + 0.05
    assert best_b["kind"] == "cosine"


def test_bayesian_search_resumable(tmp_path):
    from contentwise_impressions_spark.tuning import bayesian_search

    path = str(tmp_path / "bayes_history.parquet")
    calls = []

    def obj(params):
        calls.append(params)
        return _smooth_objective(params)

    full_best, full_hist = bayesian_search(
        _SPACE, obj, n_cases=18, n_random_starts=8, seed=11, history_path=path
    )
    n_first = len(calls)
    assert n_first == 18

    # resume with a larger budget: the 18 finished cases replay for free
    best2, hist2 = bayesian_search(
        _SPACE, obj, n_cases=24, n_random_starts=8, seed=11, history_path=path
    )
    assert len(calls) == n_first + 6
    assert hist2["resumed"].sum() == 18
    assert hist2["metric"].max() >= full_hist["metric"].max()


def test_tuning_end_to_end_composite(spark, sf01_dir):
    """Driver-gate composite (tuning_end_to_end): table shape, seeded
    determinism of the chosen configuration, and a refit-quality floor.
    Runs at sf0.01 — the sf0.001 interaction log is too sparse for ANY
    top-10 recommendation to hit the 20% holdout (test MAP 0 for every
    model), which would make the quality floor vacuous."""
    from contentwise_impressions_spark.plans.modelops import q_tuning_end_to_end
    from contentwise_impressions_spark.plans.shared import (
        release_session_payloads,
    )

    out = q_tuning_end_to_end(spark, sf01_dir).toPandas()
    assert list(out.columns) == [
        "phase", "case_id", "kind", "top_k", "shrink",
        "val_map", "is_best", "test_map",
    ]
    search = out[out["phase"] == "search"]
    refit = out[out["phase"] == "refit"]
    assert len(search) == 4 and len(refit) == 1
    # the refit row carries the winning search configuration
    best = search[search["is_best"]].iloc[-1]
    r = refit.iloc[0]
    assert (r["kind"], r["top_k"]) == (best["kind"], best["top_k"])
    assert abs(r["shrink"] - best["shrink"]) < 1e-12
    # quality floor: training on 80% against the 20% holdout must rank
    # SOMETHING (MAP > 0 — a broken fit or empty refit would be 0/NaN)
    assert r["test_map"] > 0.0
    # seeded determinism: a fresh run (payload caches dropped) picks the
    # identical parameter sequence and metrics (rtol for float agg order)
    release_session_payloads(spark)
    out2 = q_tuning_end_to_end(spark, sf01_dir).toPandas()
    assert out2["kind"].tolist() == out["kind"].tolist()
    assert out2["top_k"].tolist() == out["top_k"].tolist()
    for col in ("shrink", "val_map", "test_map"):
        a = out[col].astype(float).fillna(-1.0)
        b = out2[col].astype(float).fillna(-1.0)
        assert ((a - b).abs() < 1e-9).all(), col

    # the pinned REFIT_BEST constants (tuning_refit_metrics, the oracled
    # refit stage) must stay equal to the search's actual winner, and the
    # standalone refit query must reproduce the composite's test metric
    from contentwise_impressions_spark.plans.modelops import (
        REFIT_BEST,
        q_tuning_refit_metrics,
    )

    assert REFIT_BEST["kind"] == r["kind"]
    assert REFIT_BEST["top_k"] == r["top_k"]
    assert abs(REFIT_BEST["shrink"] - r["shrink"]) < 1e-12
    standalone = q_tuning_refit_metrics(spark, sf01_dir).toPandas()
    assert abs(standalone["map"].iloc[0] - r["test_map"]) < 1e-9
