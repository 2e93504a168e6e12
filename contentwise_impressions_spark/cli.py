"""CLI analogs of the reference's entry points.

- run_generate_splits  (reference run_generate_splits.py): read the event
  log, dedup, deterministic 70/10/20 split, persist per-split parquet —
  the whole §3.1 lifecycle as one job, no driver materialization.
- run_statistics       (notebook_generate_statistics analog): emit the
  statistics JSON.
- run_tuning           (run_hyperparameter_tuning.py analog): search the
  ItemKNN space with the random-search driver, print the results table;
  persists the per-case history parquet for results gathering / resume.
- run_results_gathering (run_results_gathering.py analog): load persisted
  search histories and render the LaTeX results table
  (ResultFolderLoader.py:482-860).

Usage: python -m contentwise_impressions_spark.cli <command> [sf_dir] [out]
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import functions as F

from .operators.splits import deterministic_split
from .plans.stats_suite import full_statistics
from .session import get_spark
from .sources.interactions import events_as_interactions, implicit_urm
from .sources.tables import load_table


def run_generate_splits(sf_dir: str, out_dir: str) -> None:
    spark = get_spark("cwi-generate-splits")
    urm = implicit_urm(load_table(spark, sf_dir, "events"))
    tagged = deterministic_split(urm, "user_id", "item_id", [0.7, 0.1, 0.2])
    (
        tagged.withColumn(
            "split_name",
            F.element_at(
                F.array(F.lit("train"), F.lit("validation"), F.lit("test")),
                F.col("split") + 1,
            ),
        )
        .write.mode("overwrite")
        .partitionBy("split_name")
        .parquet(f"{out_dir}/urm_splits")
    )
    counts = {
        r["split"]: r["cnt"]
        for r in tagged.groupBy("split").agg(F.count("*").alias("cnt")).collect()
    }
    print(json.dumps({"splits": counts}))


def run_statistics(sf_dir: str, out_path: str | None = None) -> None:
    spark = get_spark("cwi-statistics")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    inter = events_as_interactions(load_table(spark, sf_dir, "events"))
    stats = full_statistics(inter)
    doc = json.dumps(stats, default=str, indent=2, sort_keys=True)
    if out_path:
        with open(out_path, "w") as f:
            f.write(doc)
    print(doc)


def run_tuning(sf_dir: str, history_dir: str | None = None) -> None:
    from .evaluation.metrics import ranking_metrics
    from .recommenders.knn import itemknn_recommend
    from .tuning import Categorical, Integer, Real, random_search, results_table

    spark = get_spark("cwi-tuning")
    urm = implicit_urm(load_table(spark, sf_dir, "events"))
    tagged = deterministic_split(urm, "user_id", "item_id", [0.7, 0.1, 0.2])
    train = tagged.filter(F.col("split") == 0).select("user_id", "item_id").cache()
    val = tagged.filter(F.col("split") == 1).select("user_id", "item_id").cache()
    test = tagged.filter(F.col("split") == 2).select("user_id", "item_id")

    def fit_eval(fit_pairs, holdout, p):
        recs = itemknn_recommend(fit_pairs, holdout, **p)
        return ranking_metrics(recs, holdout, cutoff=10).collect()[0]["map"]

    space = {
        "top_k": Integer(5, 50),
        "shrink": Real(0.0, 20.0),
        "kind": Categorical(("cosine", "jaccard", "dice")),
    }
    history_path = None
    if history_dir:
        os.makedirs(history_dir, exist_ok=True)
        history_path = os.path.join(history_dir, "ItemKNNCF.parquet")
    best, hist = random_search(
        space,
        lambda p: fit_eval(train, val, p),
        n_cases=8,
        seed=42,
        history_path=history_path,
    )
    print(results_table({"ItemKNNCF": hist}).to_string(index=False))
    print("best:", json.dumps(best))
    # last-test refit (SearchBayesianSkopt's evaluate_on_test="last"):
    # retrain on train+validation with the winning params, report test MAP
    test_map = fit_eval(train.unionAll(val), test, best)
    print("refit test MAP@10:", test_map)


def run_results_gathering(history_dir: str) -> None:
    import glob

    import pandas as pd

    from .tuning import latex_results, results_table

    histories = {
        os.path.splitext(os.path.basename(p))[0]: pd.read_parquet(p)
        for p in sorted(glob.glob(f"{history_dir}/*.parquet"))
    }
    if not histories:
        raise SystemExit(f"no search histories under {history_dir}")
    print(latex_results(results_table(histories)))


_USAGE = """usage: cwi-spark <command> [args]

commands:
  statistics [sf_dir] [out_path]   dataset statistics suite (default cmd)
  generate-splits [sf_dir] [out]   build+cache train/val/test splits
  tuning [sf_dir] [history_dir]    resumable random search over ItemKNN
  results-gathering [history_dir]  LaTeX results table from search histories
"""


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "statistics"
    if cmd in ("--help", "-h", "help"):
        print(_USAGE)
        return
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    if cmd == "generate-splits":
        run_generate_splits(sf_dir, sys.argv[3] if len(sys.argv) > 3 else "/tmp/cwi_out")
    elif cmd == "statistics":
        run_statistics(sf_dir, sys.argv[3] if len(sys.argv) > 3 else None)
    elif cmd == "tuning":
        run_tuning(sf_dir, sys.argv[3] if len(sys.argv) > 3 else None)
    elif cmd == "results-gathering":
        run_results_gathering(sys.argv[2] if len(sys.argv) > 2 else "/tmp/cwi_hist")
    else:
        raise SystemExit(f"unknown command: {cmd}\n{_USAGE}")


if __name__ == "__main__":
    main()
