"""Expected outputs, computed with DuckDB from the same generated parquet.

The SQL reuses the engine registry's oracle fragments: ``URM_CTE`` and
``URM_EVENTS_CTE`` (plans/recsys.py), ``_SPLIT_SQL`` (plans/mlops.py) and
the metric tail of the ``toppop_eval_metrics`` twin.  The ItemKNN query
generalises the ``itemknn_recommendations`` twin to any kind, shrink and
neighbourhood size; :meth:`Oracle.anchor_itemknn` checks on every input that
at the twin's own settings it returns exactly what the twin returns.

Float expressions are written in the engine's evaluation order, so
similarities agree bit for bit; score sums differ only in summation order
and are compared at ``round(score, 9)``, as the registry does.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from contentwise_impressions_spark.operators.similarity import EPS
from contentwise_impressions_spark.plans.mlops import _SPLIT_SQL
from contentwise_impressions_spark.plans.recsys import URM_CTE, URM_EVENTS_CTE
from contentwise_impressions_spark.plans.registry import all_oracle_sql

CUTOFF = 10
REL_TOL = 1e-9
SCORE_TOL = 1e-9


def _metrics_tail() -> str:
    """``ntest AS (...) ... SELECT`` of the toppop_eval_metrics twin: the
    accuracy metrics of any ``recs(user_id, item_id, rank)`` against
    ``test(user_id, item_id)``."""
    sql = all_oracle_sql()["toppop_eval_metrics"]
    marker = "ntest AS ("
    if sql.count(marker) != 1:
        raise RuntimeError("toppop_eval_metrics twin changed shape; update the oracle")
    return sql[sql.index(marker):]


def _sim_sql(kind: str, shrink: float) -> str:
    s = f"CAST('{float(shrink) + EPS!r}' AS DOUBLE)"
    if kind == "cosine":
        return f"dot / (sqrt(ni.n) * sqrt(nj.n) + {s})"
    if kind == "jaccard":
        return f"dot / (ni.n + nj.n - dot + {s})"
    if kind == "dice":
        return f"dot / (ni.n + nj.n + {s})"
    raise ValueError(f"no oracle for similarity kind {kind!r}")


def _itemknn_ctes(kind: str, shrink: float, top_k: int) -> str:
    """CTEs ending in ``w`` (top-K neighbours) and ``recs`` (top-10 per
    train user, seen items removed), over a ``train(user_id, item_id)``."""
    return f"""
        n AS (SELECT item_id, CAST(COUNT(*) AS DOUBLE) AS n FROM train GROUP BY 1),
        d AS (
            SELECT a.item_id AS item_i, b.item_id AS item_j,
                   CAST(COUNT(*) AS DOUBLE) AS dot
            FROM train a JOIN train b
              ON a.user_id = b.user_id AND a.item_id <> b.item_id
            GROUP BY 1, 2
        ),
        sims AS (
            SELECT item_i, item_j, {_sim_sql(kind, shrink)} AS sim
            FROM d JOIN n ni ON d.item_i = ni.item_id
                   JOIN n nj ON d.item_j = nj.item_id
        ),
        w AS (
            SELECT item_i, item_j, sim FROM sims
            QUALIFY ROW_NUMBER() OVER (PARTITION BY item_j
                                       ORDER BY sim DESC, item_i ASC) <= {int(top_k)}
        ),
        scores AS (
            SELECT t.user_id, w.item_j AS item_id, SUM(w.sim) AS score
            FROM train t JOIN w ON t.item_id = w.item_i
            GROUP BY 1, 2
        ),
        unseen AS (
            SELECT sc.* FROM scores sc
            LEFT JOIN train t ON sc.user_id = t.user_id AND sc.item_id = t.item_id
            WHERE t.user_id IS NULL
        ),
        recs AS (
            SELECT user_id, item_id, score,
                   CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                        ORDER BY round(score, 9) DESC, item_id ASC) AS INT) AS rank
            FROM unseen QUALIFY rank <= {CUTOFF}
        )"""


class Oracle:
    """DuckDB connection over one generated ``events.parquet``."""

    def __init__(self, events_path: str, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        self.con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')"
        )
        self.con.execute(
            f"CREATE TABLE tagged AS WITH {URM_CTE}, {_SPLIT_SQL} "
            "SELECT user_id, item_id, split FROM tagged"
        )
        self._tail = _metrics_tail()
        self._itemknn = {}

    def close(self) -> None:
        self.con.close()

    def split_counts(self) -> dict[int, int]:
        rows = self.con.execute(
            "SELECT split, COUNT(*) FROM tagged GROUP BY 1"
        ).fetchall()
        return {int(s): int(c) for s, c in rows}

    def written_split_counts(self, path: str) -> dict[str, int]:
        """Rows per ``split_name`` partition of a hive-partitioned write."""
        rows = self.con.execute(
            f"SELECT split_name, COUNT(*) FROM read_parquet('{path}/*/*.parquet', "
            "hive_partitioning = true) GROUP BY 1"
        ).fetchall()
        return {str(s): int(c) for s, c in rows}

    def itemknn(
        self, fit: tuple[int, ...], hold: int, kind: str, shrink: float, top_k: int
    ) -> dict:
        """W size, recommendations and metric row of one ItemKNN fit on the
        ``fit`` splits, evaluated on the ``hold`` split.  Memoised."""
        key = (fit, hold, kind, float(shrink), int(top_k))
        if key not in self._itemknn:
            self._itemknn[key] = self._run_itemknn(*key)
        return self._itemknn[key]

    def _run_itemknn(self, fit, hold, kind, shrink, top_k) -> dict:
        c = self.con
        splits = ", ".join(str(int(s)) for s in fit)
        c.execute(
            "CREATE OR REPLACE TEMP TABLE train AS SELECT user_id, item_id "
            f"FROM tagged WHERE split IN ({splits})"
        )
        c.execute(
            "CREATE OR REPLACE TEMP TABLE test AS SELECT user_id, item_id "
            f"FROM tagged WHERE split = {int(hold)}"
        )
        ctes = _itemknn_ctes(kind, shrink, top_k)
        w_rows = c.execute(f"WITH {ctes} SELECT COUNT(*) FROM w").fetchone()[0]
        recs = c.execute(
            f"WITH {ctes} SELECT user_id, item_id, score, rank FROM recs"
        ).df()
        metrics = c.execute(f"WITH {ctes}, {self._tail}").df().iloc[0].to_dict()
        return {"w_rows": int(w_rows), "recs": recs, "metrics": metrics}

    def anchor_itemknn(self) -> None:
        """At the registry twin's settings (cosine, no shrink, 10 neighbours,
        test users only) the generalised query must equal the twin."""
        twin = self.con.execute(all_oracle_sql()["itemknn_recommendations"]).df()
        ours = self.itemknn((0,), 2, "cosine", 0.0, 10)["recs"]
        test_users = self.con.execute(
            "SELECT DISTINCT user_id FROM tagged WHERE split = 2"
        ).df()["user_id"]
        ours = ours[ours["user_id"].isin(test_users)]
        problem = compare_recs(ours, twin)
        if problem:
            raise RuntimeError(f"oracle disagrees with the registry twin: {problem}")

    def statistics(self) -> dict:
        """The ``full_statistics`` document (plans/stats_suite.py)."""
        c = self.con
        c.execute(
            f"CREATE OR REPLACE TEMP TABLE ev AS WITH {URM_EVENTS_CTE} SELECT * FROM ev"
        )
        n, nu, ni, first_ts, max_ts = c.execute(
            "SELECT COUNT(*), COUNT(DISTINCT user_id), COUNT(DISTINCT item_id), "
            "MIN(ts), MAX(ts) FROM ev"
        ).fetchone()
        paper = {
            "n_interactions": n,
            "n_users": nu,
            "n_items": ni,
            "first_ts": first_ts,
            "max_ts": max_ts,
        }
        for key in ("user_id", "item_id"):
            lo, mean, hi = c.execute(
                f"SELECT MIN(cnt), AVG(cnt), MAX(cnt) FROM "
                f"(SELECT {key}, COUNT(*) AS cnt FROM ev GROUP BY 1)"
            ).fetchone()
            paper[f"per_{key}_activity"] = {"min": lo, "mean": mean, "max": hi}
        paper["density"] = n / (nu * ni)
        gini = c.execute(
            """
            SELECT (SUM(2.0 * i * x) - (COUNT(*) + 1) * SUM(x)) / (COUNT(*) * SUM(x))
            FROM (SELECT x, ROW_NUMBER() OVER (ORDER BY x ASC) AS i
                  FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS x FROM ev GROUP BY user_id))
            """
        ).fetchone()[0]
        top = c.execute(
            "SELECT user_id, COUNT(*) AS cnt FROM ev GROUP BY 1 "
            "ORDER BY cnt DESC, user_id ASC LIMIT 20"
        ).fetchall()
        by_hour = dict(c.execute("SELECT hour(ts), COUNT(*) FROM ev GROUP BY 1").fetchall())
        by_dow = dict(c.execute("SELECT isodow(ts), COUNT(*) FROM ev GROUP BY 1").fetchall())
        return {
            "paper": paper,
            "complex": {"user_activity_gini": gini, "top20_users": top},
            "timestamps": {"by_hour": by_hour, "by_isodow": by_dow},
        }


def compare_recs(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when both hold the same (user, item, rank) rows and the scores
    agree to ``SCORE_TOL``; otherwise a short description of the first
    difference."""
    cols = ["user_id", "item_id", "rank"]
    g = got.sort_values(["user_id", "rank"]).reset_index(drop=True)
    w = want.sort_values(["user_id", "rank"]).reset_index(drop=True)
    if len(g) != len(w):
        return f"{len(g)} recommendations, expected {len(w)}"
    for col in cols:
        bad = (g[col].astype("int64") != w[col].astype("int64")).to_numpy()
        if bad.any():
            i = int(bad.argmax())
            return f"{col} differs at user {w.user_id[i]} rank {w['rank'][i]}"
    diff = (g["score"].round(9) - w["score"].round(9)).abs()
    if (diff > SCORE_TOL).any():
        return f"score differs by {diff.max():.3g}"
    return None


def compare_values(got, want, path: str = "") -> str | None:
    """Recursive equality; floats to a relative ``REL_TOL``."""
    if isinstance(want, dict):
        if not isinstance(got, dict) or set(map(str, got)) != set(map(str, want)):
            return f"{path}: keys {sorted(map(str, got or {}))} != {sorted(map(str, want))}"
        by_str = {str(k): v for k, v in got.items()}
        for k, v in want.items():
            problem = compare_values(by_str[str(k)], v, f"{path}.{k}")
            if problem:
                return problem
        return None
    if isinstance(want, (list, tuple)):
        if not isinstance(got, (list, tuple)) or len(got) != len(want):
            return f"{path}: {got!r} != {want!r}"
        for i, (a, b) in enumerate(zip(got, want)):
            problem = compare_values(a, b, f"{path}[{i}]")
            if problem:
                return problem
        return None
    if isinstance(want, float) or isinstance(got, float):
        if got is None or not math.isclose(float(got), float(want), rel_tol=REL_TOL, abs_tol=1e-12):
            return f"{path}: {got!r} != {want!r}"
        return None
    if got != want:
        return f"{path}: {got!r} != {want!r}"
    return None
