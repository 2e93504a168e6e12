from .search import (
    Categorical,
    Integer,
    Real,
    bayesian_search,
    fit_with_early_stopping,
    latex_results,
    random_search,
    results_table,
)

__all__ = [
    "Categorical",
    "Integer",
    "Real",
    "bayesian_search",
    "random_search",
    "fit_with_early_stopping",
    "results_table",
    "latex_results",
]
