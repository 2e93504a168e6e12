"""Hyperparameter search driver + early stopping + results gathering.

Reference (SURVEY.md §2.10):
- SearchBayesianSkopt — ParameterTuning/SearchBayesianSkopt.py:21-271:
  50 cases / 15 random starts of gp_minimize over Real/Integer/Categorical
  spaces, objective = validation MAP@cutoff, metadata + best model saved,
  optional refit on train+validation scored on test
  (run_parameter_search.py:263-268,679-684).
- Early stopping — Base/Incremental_Training_Early_Stopping.py:91-262:
  validate every N epochs, keep best, stop after K non-improving rounds.
- Results gathering — run_results_gathering.py / Utils/ResultFolderLoader.

skopt isn't available in this environment, so `bayesian_search` implements
the same loop shape with a dependency-free numpy surrogate: 15 random
starts, then a GP (RBF kernel, Cholesky posterior) + Expected-Improvement
acquisition over candidate samples — the gp_minimize contract (n_random
starts, per-case metadata, resumability) without skopt.  `random_search`
is the same loop with every case a random start (the reference's own first
15 evaluations are exactly this).  Trials are independent Spark jobs, so a
ThreadPool can overlap them (scheduler pools), mirroring the reference's
process-pool KNN sweep (run_parameter_search.py:470-475).
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Real:
    low: float
    high: float
    prior: str = "uniform"  # or "log-uniform"


@dataclass(frozen=True)
class Integer:
    low: int
    high: int


@dataclass(frozen=True)
class Categorical:
    choices: tuple


def _sample(space: dict[str, Any], rng: np.random.Generator) -> dict[str, Any]:
    out = {}
    for name, dim in space.items():
        if isinstance(dim, Real):
            if dim.prior == "log-uniform":
                out[name] = float(
                    np.exp(rng.uniform(np.log(dim.low), np.log(dim.high)))
                )
            else:
                out[name] = float(rng.uniform(dim.low, dim.high))
        elif isinstance(dim, Integer):
            out[name] = int(rng.integers(dim.low, dim.high + 1))
        elif isinstance(dim, Categorical):
            out[name] = dim.choices[rng.integers(0, len(dim.choices))]
        else:
            raise TypeError(f"unknown dimension type for {name}: {dim!r}")
    return out


def _encode(params: dict[str, Any], space: dict[str, Any]) -> np.ndarray:
    """Map params to [0,1]^D: Real → min-max (log-space for log-uniform
    priors), Integer → min-max, Categorical → one-hot (the skopt
    convention)."""
    vec: list[float] = []
    for name in sorted(space):
        dim = space[name]
        v = params[name]
        if isinstance(dim, Real):
            lo, hi = dim.low, dim.high
            if dim.prior == "log-uniform":
                vec.append(
                    (np.log(v) - np.log(lo)) / (np.log(hi) - np.log(lo))
                )
            else:
                vec.append((v - lo) / (hi - lo))
        elif isinstance(dim, Integer):
            rng_ = max(1, dim.high - dim.low)
            vec.append((v - dim.low) / rng_)
        elif isinstance(dim, Categorical):
            vec.extend(
                1.0 if c == v else 0.0 for c in dim.choices
            )
    return np.asarray(vec, dtype=np.float64)


class _GP:
    """Minimal RBF-kernel Gaussian process for the EI surrogate.

    y is standardized internally; the length scale is the median pairwise
    distance of the observed points (the standard heuristic), so no
    hyper-hyperparameter fitting is needed for a 50-case budget."""

    def __init__(self, noise: float = 1e-6):
        self.noise = noise

    def fit(self, X: np.ndarray, y: np.ndarray) -> "_GP":
        self.X = X
        self.y_mu, self.y_sd = float(np.mean(y)), float(np.std(y) or 1.0)
        yz = (y - self.y_mu) / self.y_sd
        d = np.sqrt(
            ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
        )
        off = d[~np.eye(len(X), dtype=bool)]
        self.ls = float(np.median(off[off > 0])) if (off > 0).any() else 1.0
        K = np.exp(-0.5 * (d / self.ls) ** 2) + (
            self.noise + 1e-8
        ) * np.eye(len(X))
        self.L = np.linalg.cholesky(K)
        self.alpha = np.linalg.solve(
            self.L.T, np.linalg.solve(self.L, yz)
        )
        return self

    def predict(self, Xc: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        d = np.sqrt(((Xc[:, None, :] - self.X[None, :, :]) ** 2).sum(-1))
        Ks = np.exp(-0.5 * (d / self.ls) ** 2)
        mu = Ks @ self.alpha
        v = np.linalg.solve(self.L, Ks.T)
        var = np.maximum(1.0 - (v**2).sum(0), 1e-12)
        return (
            mu * self.y_sd + self.y_mu,
            np.sqrt(var) * self.y_sd,
        )


def _norm_cdf(z: np.ndarray) -> np.ndarray:
    import math

    return np.vectorize(
        lambda t: 0.5 * (1.0 + math.erf(t / math.sqrt(2.0)))
    )(z)


def _expected_improvement(
    mu: np.ndarray, sigma: np.ndarray, best: float
) -> np.ndarray:
    z = (mu - best) / sigma
    pdf = np.exp(-0.5 * z**2) / np.sqrt(2 * np.pi)
    return (mu - best) * _norm_cdf(z) + sigma * pdf


def bayesian_search(
    space: dict[str, Any],
    objective: Callable[[dict[str, Any]], float],
    n_cases: int = 50,
    n_random_starts: int = 15,
    seed: int = 42,
    maximize: bool = True,
    n_candidates: int = 256,
    history_path: str | None = None,
) -> tuple[dict[str, Any], pd.DataFrame]:
    """GP-EI Bayesian optimization over the same space vocabulary as
    `random_search` — the SearchBayesianSkopt contract
    (ParameterTuning/SearchBayesianSkopt.py:21-271: gp_minimize, 50 cases
    / 15 random starts) without the skopt dependency.

    `objective(params) -> metric` runs one trial (fit + evaluate as Spark
    jobs).  After `n_random_starts` seeded random cases, each case fits the
    GP on all observations and evaluates the candidate (from `n_candidates`
    fresh space samples) with the highest Expected Improvement.  History
    mirrors the reference's search metadata: params, metric, wall-clock
    per case, best-so-far flag.  With `history_path`, completed cases
    replay from the persisted parquet (params are stored per case — the
    GP-chosen points depend on observed metrics), mirroring
    SearchBayesianSkopt's metadata-zip resume (:72-130).
    """
    import os

    rng = np.random.default_rng(seed)
    rows: list[dict[str, Any]] = []
    X: list[np.ndarray] = []
    ys: list[float] = []
    best_metric, best_params = None, None

    replay: list[dict[str, Any]] = []
    if history_path and os.path.exists(history_path):
        prev = pd.read_parquet(history_path)
        for _, r in prev.iterrows():
            replay.append(
                {
                    "params": {
                        k.replace("param_", ""): r[k]
                        for k in prev.columns
                        if k.startswith("param_")
                    },
                    "metric": float(r["metric"]),
                    # which branch the live run took (1 draw vs n_candidates
                    # draws) — needed to replay the exact RNG consumption;
                    # None for history files written before this column
                    # (including the older random-search-only format)
                    "was_random": (
                        bool(r["was_random"]) if "was_random" in prev.columns else None
                    ),
                }
            )

    def _coerce(params: dict[str, Any]) -> dict[str, Any]:
        # parquet round-trip loses python types; restore per dimension
        out = {}
        for name, dim in space.items():
            v = params[name]
            if isinstance(dim, Real):
                out[name] = float(v)
            elif isinstance(dim, Integer):
                out[name] = int(v)
            else:
                out[name] = v
        return out

    for case in range(n_cases):
        resumed = case < len(replay)
        if resumed:
            params = _coerce(replay[case]["params"])
            metric, elapsed = replay[case]["metric"], 0.0
            # keep the RNG stream aligned draw-for-draw with the
            # uninterrupted run: the persisted was_random flag records
            # which branch (1 draw vs n_candidates draws) the live run
            # took — the degenerate-metrics fallback (len(set(ys)) < 2)
            # can make a post-start case random, so the case index alone
            # does not determine the branch
            was_random = replay[case]["was_random"]
            if was_random is None:  # pre-flag history: best-effort heuristic
                was_random = case < n_random_starts or len(set(ys)) < 2
            for _ in range(1 if was_random else n_candidates):
                _sample(space, rng)
        else:
            was_random = case < n_random_starts or len(set(ys)) < 2
            if was_random:
                params = _sample(space, rng)
            else:
                cands = [_sample(space, rng) for _ in range(n_candidates)]
                sign = 1.0 if maximize else -1.0
                gp = _GP().fit(np.vstack(X), sign * np.asarray(ys))
                mu, sigma = gp.predict(
                    np.vstack([_encode(c, space) for c in cands])
                )
                ei = _expected_improvement(mu, sigma, sign * best_metric)
                params = cands[int(np.argmax(ei))]
            t0 = time.perf_counter()
            metric = float(objective(params))
            elapsed = time.perf_counter() - t0
        X.append(_encode(params, space))
        ys.append(metric)
        better = (
            best_metric is None
            or (metric > best_metric if maximize else metric < best_metric)
        )
        if better:
            best_metric, best_params = metric, params
        rows.append(
            {
                "case": case,
                **{f"param_{k}": v for k, v in params.items()},
                "metric": metric,
                "train_eval_sec": round(elapsed, 3),
                "is_best": better,
                "resumed": resumed,
                "was_random": bool(was_random),
            }
        )
        if history_path:
            pd.DataFrame(rows).to_parquet(history_path, index=False)
    return best_params, pd.DataFrame(rows)


def random_search(
    space: dict[str, Any],
    objective: Callable[[dict[str, Any]], float],
    n_cases: int = 15,
    seed: int = 42,
    maximize: bool = True,
    history_path: str | None = None,
) -> tuple[dict[str, Any], pd.DataFrame]:
    """Seeded random search; returns (best_params, history).

    `bayesian_search` with every case a random start: the same seeded
    parameter sequence case for case, the same per-case history, and the
    same `history_path` resume (history files without a ``was_random``
    column replay too — every case of a random search is random).
    """
    return bayesian_search(
        space,
        objective,
        n_cases=n_cases,
        n_random_starts=n_cases,
        seed=seed,
        maximize=maximize,
        history_path=history_path,
    )


def fit_with_early_stopping(
    run_epochs: Callable[[int], None],
    evaluate: Callable[[], float],
    snapshot: Callable[[], Any],
    max_epochs: int = 100,
    validate_every: int = 5,
    patience: int = 5,
    maximize: bool = True,
) -> tuple[Any, int, float]:
    """The reference's early-stopping contract
    (Incremental_Training_Early_Stopping.py:91-262): train
    `validate_every` epochs at a time, keep the best snapshot, stop after
    `patience` non-improving validations.  Returns (best_model,
    best_epoch, best_metric)."""
    best, best_epoch, best_metric = None, 0, None
    worse = 0
    epoch = 0
    while epoch < max_epochs:
        step = min(validate_every, max_epochs - epoch)
        run_epochs(step)
        epoch += step
        metric = float(evaluate())
        if best_metric is None or (
            metric > best_metric if maximize else metric < best_metric
        ):
            best, best_epoch, best_metric = snapshot(), epoch, metric
            worse = 0
        else:
            worse += 1
            if worse >= patience:
                break
    return best, best_epoch, best_metric


def results_table(histories: dict[str, pd.DataFrame]) -> pd.DataFrame:
    """Gather per-algorithm search histories into the summary table the
    reference renders to LaTeX (ResultFolderLoader.py:482-860): best
    metric, best params, total search time per algorithm."""
    rows = []
    for algo, hist in histories.items():
        best = hist.loc[hist["metric"].idxmax()]
        rows.append(
            {
                "algorithm": algo,
                "best_metric": best["metric"],
                "n_cases": len(hist),
                "search_sec": hist["train_eval_sec"].sum(),
                **{
                    k.replace("param_", ""): v
                    for k, v in best.items()
                    if k.startswith("param_")
                },
            }
        )
    return pd.DataFrame(rows)


def latex_results(
    table: pd.DataFrame,
    caption: str = "Hyperparameter search results",
    float_fmt: str = "{:.4f}",
) -> str:
    """Render the results table as a LaTeX tabular — the
    run_results_gathering.py artifact (ResultFolderLoader.py:482-860
    writes accuracy / beyond-accuracy / time / hyperparameter tables).
    Hand-rolled (the reference hand-assembles its LaTeX too), so there is
    no template-engine dependency."""

    def fmt(v: Any) -> str:
        if isinstance(v, float):
            return float_fmt.format(v)
        return str(v).replace("_", r"\_")

    cols = list(table.columns)
    lines = [
        r"\begin{table}[t]",
        r"\centering",
        rf"\caption{{{caption}}}",
        r"\begin{tabular}{l" + "r" * (len(cols) - 1) + "}",
        r"\toprule",
        " & ".join(fmt(c) for c in cols) + r" \\",
        r"\midrule",
    ]
    for _, row in table.iterrows():
        lines.append(" & ".join(fmt(v) for v in row.tolist()) + r" \\")
    lines += [r"\bottomrule", r"\end{tabular}", r"\end{table}"]
    return "\n".join(lines)
