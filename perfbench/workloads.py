"""The three workloads: input shapes, one pass each, and its output checks.

Each pass follows a composition in ``contentwise_impressions_spark/cli.py``
and calls the program's public functions directly, one span per layer call.
Every layer's output is materialised inside its span (persist + count, a
parquet write, or a collected row), the same way whether or not the tracer
is enabled.  Checks run after the pass, outside its wall-clock.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from contentwise_impressions_spark.evaluation.metrics import ranking_metrics
from contentwise_impressions_spark.operators.scoring import (
    item_based_scores,
    recommend_top_k,
)
from contentwise_impressions_spark.operators.similarity import (
    pair_dots,
    similarity_scores,
    similarity_top_k,
)
from contentwise_impressions_spark.operators.splits import deterministic_split
from contentwise_impressions_spark.plans.stats_suite import (
    complex_statistics,
    paper_statistics,
    timestamp_distribution,
)
from contentwise_impressions_spark.sources.interactions import (
    events_as_interactions,
    implicit_urm,
)
from contentwise_impressions_spark.sources.tables import load_table, write_table
from contentwise_impressions_spark.tuning import (
    Categorical,
    Integer,
    Real,
    random_search,
)

from gen import Shape
from oracle import CUTOFF, Oracle, compare_recs, compare_values
from spans import Tracer

SPLIT_NAMES = ("train", "validation", "test")
#: the pipeline workload's model: cosine ItemKNN with shrink and top-K
ITEMKNN = {"kind": "cosine", "shrink": 10.0, "top_k": 20}
#: run_tuning's search space; a fixed search seed, so every input seed
#: searches the same parameter sequence (seed 2's two cases: cosine with
#: top_k 43, dice with top_k 24)
SPACE = {
    "top_k": Integer(5, 50),
    "shrink": Real(0.0, 20.0),
    "kind": Categorical(("cosine", "jaccard", "dice")),
}
N_CASES = 2
SEARCH_SEED = 2


@dataclass
class Ctx:
    spark: SparkSession
    data_dir: str
    out_dir: str


@dataclass
class PassOut:
    """What one pass measured and produced.  ``checks`` holds thunks run
    after the clock stops; each returns None or a mismatch description."""

    wall_s: float = 0.0
    users: int = 0
    cases: list[float] = field(default_factory=list)
    checks: dict[str, Callable[[], str | None]] = field(default_factory=dict)
    release: list[DataFrame] = field(default_factory=list)
    #: W rows and recommendations kept, and each fit's (splits, params)
    w_rows: int = 0
    recs: int = 0
    fits: list[tuple[tuple[int, ...], dict]] = field(default_factory=list)


@dataclass(frozen=True)
class Workload:
    name: str
    shape: Shape
    expect: Callable[[Oracle], dict]
    run_pass: Callable[[Ctx, Tracer, dict, Oracle], PassOut]
    #: operations per pass, for counting a pass that raised as failed
    ops: int
    #: nominal seconds of one warm pass on a 4-core host; a run of S
    #: seconds measures round(S / pass_s) passes
    pass_s: float
    #: untimed passes first: a JVM's first pass is 2-3x slower than the
    #: plateau and the next one still 10-20% slower; tuning_search's pass
    #: already repeats its calls three times, so one is enough there
    warm_passes: int


# -- shared layer calls -----------------------------------------------------


def _read_urm(ctx: Ctx, tracer: Tracer, out: PassOut) -> tuple[DataFrame, int]:
    with tracer.span("sources.read"):
        urm = implicit_urm(load_table(ctx.spark, ctx.data_dir, "events")).persist()
        rows = urm.count()
    out.release.append(urm)
    return urm, rows


def _split(urm: DataFrame, tracer: Tracer, out: PassOut) -> tuple[DataFrame, dict]:
    with tracer.span("operators.splits.split"):
        tagged = deterministic_split(urm, "user_id", "item_id", [0.7, 0.1, 0.2]).persist()
        counts = {
            r["split"]: r["cnt"]
            for r in tagged.groupBy("split").agg(F.count("*").alias("cnt")).collect()
        }
    out.release.append(tagged)
    return tagged, counts


def _pairs(tagged: DataFrame, *splits: int) -> DataFrame:
    return tagged.filter(F.col("split").isin(*splits)).select("user_id", "item_id")


@dataclass
class Fit:
    w: DataFrame
    recs: DataFrame
    metrics: dict


def _fit_eval(
    train: DataFrame, holdout: DataFrame, p: dict, tracer: Tracer, out: PassOut, fit_splits
) -> Fit:
    """cli.run_tuning's fit_eval with each layer's output materialised."""
    train_v = train.withColumn("value", F.lit(1.0))
    with tracer.span("operators.similarity.fit"):
        w = (
            similarity_top_k(
                similarity_scores(train_v, p["kind"], shrink=p["shrink"]), p["top_k"]
            )
            .select("item_i", "item_j", "sim")
            .persist()
        )
        out.w_rows += w.count()
    with tracer.span("operators.scoring.recommend"):
        recs = (
            recommend_top_k(
                item_based_scores(train_v, w), CUTOFF, train=train, round_digits=9
            )
            .select("user_id", "item_id", "score", "rank")
            .persist()
        )
        out.recs += recs.count()
    with tracer.span("evaluation.metrics"):
        metrics = (
            ranking_metrics(recs.select("user_id", "item_id", "rank"), holdout, cutoff=CUTOFF)
            .collect()[0]
            .asDict()
        )
    out.fits.append((fit_splits, p))
    return Fit(w, recs, metrics)


def _expect_counts(oracle: Oracle, out: PassOut, rows: int, counts: dict) -> None:
    want = oracle.split_counts()
    out.checks["sources.read"] = lambda: compare_values(rows, sum(want.values()), "urm rows")
    out.checks["operators.splits.split"] = lambda: compare_values(counts, want, "split counts")


# -- itemknn_pipeline -------------------------------------------------------


def _expect_itemknn(oracle: Oracle) -> dict:
    oracle.anchor_itemknn()
    return {"fit": oracle.itemknn((0,), 2, **ITEMKNN)}


def _pass_itemknn(ctx: Ctx, tracer: Tracer, expected: dict, oracle: Oracle) -> PassOut:
    out = PassOut()
    t0 = time.perf_counter()
    urm, rows = _read_urm(ctx, tracer, out)
    tagged, counts = _split(urm, tracer, out)
    fit = _fit_eval(_pairs(tagged, 0), _pairs(tagged, 2), ITEMKNN, tracer, out, (0,))
    out.wall_s = time.perf_counter() - t0
    out.users = fit.metrics["n_users_evaluated"]
    out.release += [fit.w, fit.recs]
    w_rows = out.w_rows

    want = expected["fit"]
    _expect_counts(oracle, out, rows, counts)
    out.checks["operators.similarity.fit"] = lambda: compare_values(
        w_rows, want["w_rows"], "W rows"
    )
    out.checks["operators.scoring.recommend"] = lambda: compare_recs(
        fit.recs.toPandas(), want["recs"]
    )
    out.checks["evaluation.metrics"] = lambda: compare_values(
        fit.metrics, want["metrics"], "metrics"
    )
    return out


def fan_out(ctx: Ctx, fits: list[tuple[tuple[int, ...], dict]]) -> tuple[int, int]:
    """Rows from ``pair_dots`` and from ``item_based_scores`` summed over a
    pass's fits: the work the kept W rows and recommendations came from.
    Traced run only; each count is an extra, untimed Spark job."""
    tagged = deterministic_split(
        implicit_urm(load_table(ctx.spark, ctx.data_dir, "events")),
        "user_id", "item_id", [0.7, 0.1, 0.2],
    )
    pairs = candidates = 0
    for splits, p in fits:
        train_v = _pairs(tagged, *splits).withColumn("value", F.lit(1.0))
        w = similarity_top_k(
            similarity_scores(train_v, p["kind"], shrink=p["shrink"]), p["top_k"]
        ).select("item_i", "item_j", "sim")
        pairs += pair_dots(train_v).count()
        candidates += item_based_scores(train_v, w).count()
    return pairs, candidates


# -- splits_statistics ------------------------------------------------------


def _expect_stats(oracle: Oracle) -> dict:
    return {"stats": oracle.statistics()}


def _pass_stats(ctx: Ctx, tracer: Tracer, expected: dict, oracle: Oracle) -> PassOut:
    out = PassOut()
    spark, path = ctx.spark, f"{ctx.out_dir}/urm_splits"
    t0 = time.perf_counter()
    # cli.run_generate_splits
    urm, rows = _read_urm(ctx, tracer, out)
    tagged, counts = _split(urm, tracer, out)
    with tracer.span("sources.write"):
        names = F.array(*(F.lit(n) for n in SPLIT_NAMES))
        write_table(
            tagged.withColumn("split_name", F.element_at(names, F.col("split") + 1)),
            path,
            partition_by=["split_name"],
        )
    # cli.run_statistics: full_statistics' cached scan and its three parts
    with tracer.span("sources.read"):
        inter = events_as_interactions(load_table(spark, ctx.data_dir, "events")).cache()
        inter.count()
    out.release.append(inter)
    with tracer.span("plans.stats_suite.paper"):
        paper = paper_statistics(inter)
    with tracer.span("plans.stats_suite.complex"):
        cplx = complex_statistics(inter)
    with tracer.span("plans.stats_suite.timestamps"):
        stamps = timestamp_distribution(inter)
    out.wall_s = time.perf_counter() - t0
    out.users = paper["n_users"]

    _expect_counts(oracle, out, rows, counts)
    want_written = {SPLIT_NAMES[s]: n for s, n in oracle.split_counts().items()}
    out.checks["sources.write"] = lambda: compare_values(
        oracle.written_split_counts(path), want_written, "written splits"
    )
    doc = {"paper": paper, "complex": cplx, "timestamps": stamps}
    out.checks["plans.stats_suite"] = lambda: compare_values(
        doc, expected["stats"], "statistics"
    )
    return out


# -- tuning_search ----------------------------------------------------------


def search_cases() -> list[dict]:
    """The parameter sequence random_search draws at SEARCH_SEED."""
    drawn: list[dict] = []
    random_search(SPACE, lambda p: drawn.append(p) or 0.0, n_cases=N_CASES, seed=SEARCH_SEED)
    return drawn


def _expect_tuning(oracle: Oracle) -> dict:
    cases = [oracle.itemknn((0,), 1, **p)["metrics"] for p in search_cases()]
    best = max(range(len(cases)), key=lambda i: (cases[i]["map"], -i))
    oracle.itemknn((0, 1), 2, **search_cases()[best])  # warm the memo for the refit
    return {"cases": cases}


def _pass_tuning(ctx: Ctx, tracer: Tracer, expected: dict, oracle: Oracle) -> PassOut:
    out = PassOut()
    t0 = time.perf_counter()
    # cli.run_tuning
    urm, rows = _read_urm(ctx, tracer, out)
    tagged, counts = _split(urm, tracer, out)
    with tracer.span("operators.splits.split"):
        train = _pairs(tagged, 0).cache()
        val = _pairs(tagged, 1).cache()
        train.count(), val.count()
    out.release += [train, val]
    got: list[dict] = []

    def objective(p: dict) -> float:
        c0 = time.perf_counter()
        with tracer.span("tuning.objective"):
            fit = _fit_eval(train, val, p, tracer, out, (0,))
            fit.w.unpersist()
            fit.recs.unpersist()
        out.cases.append(time.perf_counter() - c0)
        got.append(fit.metrics)
        return fit.metrics["map"]

    with tracer.span("tuning.search"):
        best, _ = random_search(SPACE, objective, n_cases=N_CASES, seed=SEARCH_SEED)
    with tracer.span("tuning.refit"):
        refit = _fit_eval(train.unionAll(val), _pairs(tagged, 2), best, tracer, out, (0, 1))
        refit.w.unpersist()
        refit.recs.unpersist()
    out.wall_s = time.perf_counter() - t0
    out.users = sum(m["n_users_evaluated"] for m in got) + refit.metrics["n_users_evaluated"]

    _expect_counts(oracle, out, rows, counts)
    out.checks["tuning.objective"] = lambda: compare_values(got, expected["cases"], "cases")

    def check_refit() -> str | None:
        maps = [m["map"] for m in expected["cases"]]
        chosen = search_cases().index(best)
        if maps[chosen] < max(maps) - 1e-12:
            return f"search picked case {chosen}, map {maps[chosen]} < {max(maps)}"
        want = oracle.itemknn((0, 1), 2, **best)["metrics"]
        return compare_values(refit.metrics, want, "refit metrics")

    out.checks["tuning.refit"] = check_refit
    return out


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "itemknn_pipeline",
            Shape(users=2000, items=500, zipf=1.0, activity_mean=6.0, activity_sigma=1.0),
            _expect_itemknn,
            _pass_itemknn,
            ops=5,
            pass_s=4.6,
            warm_passes=2,
        ),
        Workload(
            "splits_statistics",
            Shape(users=20000, items=2000, zipf=1.0, activity_mean=8.0, activity_sigma=1.0),
            _expect_stats,
            _pass_stats,
            ops=4,
            pass_s=4.0,
            warm_passes=2,
        ),
        Workload(
            "tuning_search",
            Shape(users=1000, items=300, zipf=1.0, activity_mean=5.0, activity_sigma=1.0),
            _expect_tuning,
            _pass_tuning,
            ops=4,
            pass_s=9.0,
            warm_passes=1,
        ),
    )
}
