"""Trailing-window active users (rolling distinct over periods).

The MAU/WAU family: for every period p, how many distinct users were
active at least once in the trailing W periods (p−W+1 … p]?  A
rolling COUNT DISTINCT is not window-aggregable (distinct doesn't
decompose over frames), so both engines express it the same way: each
(user, period) activity fact contributes to the W windows it falls
in — a ×W explode that feeds straight into a distinct aggregate, the
same explode-into-aggregate shape as the bootstrap/randomization kit.

Two surfaces:

* :func:`trailing_active` — EXACT: dedup to (user, period), explode
  the W offsets, count distinct users per window period.  Integer
  day/period arithmetic identical to operators/retention.py (fixed
  Monday epoch, explicit floor), everything a long — hash-oracles
  against :func:`trailing_active_sql`.
* :func:`trailing_active_hll` — the 100-TB path: the same explode,
  but per-window HYPERLOGLOG states via plans/agg.sketch_by_key
  (map-side partial blobs, blob-only shuffle), bounded memory per
  window regardless of user cardinality; within the HLL error bound
  of the exact path (gated in tests).

Only windows containing ≥ 1 activity appear (empty trailing windows
have no generating fact row) — documented, identical in both
engines.  Scale shape: one (user, period) distinct (the only
row-scale shuffle), ×W codegen explode, map-side-combinable distinct
or sketch aggregate on the window key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .retention import activity_periods as _activity_periods, period_sql as _period_sql


def _activity(df: DataFrame, user_col: str, ts_col: str, period_days: int):
    # single source of the engine-parity-critical period arithmetic:
    # operators/retention.activity_periods (review finding — two hand-
    # synced copies of the epoch/floor expression were a drift hazard)
    return _activity_periods(df, user_col, ts_col, period_days)


def _windows(act: DataFrame, window_periods: int) -> DataFrame:
    if window_periods < 1:
        raise ValueError(f"window_periods must be >= 1, got {window_periods}")
    return act.select(
        "__u",
        "__p",
        F.explode(F.sequence(F.lit(0), F.lit(window_periods - 1))).alias("__o"),
    ).select("__u", (F.col("__p") + F.col("__o")).alias("period"))


def trailing_active(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    window_periods: int = 4,
    period_days: int = 7,
) -> DataFrame:
    """(period, n_active) — exact trailing-window distinct users."""
    act = _activity(df, user_col, ts_col, period_days)
    return (
        _windows(act, window_periods)
        .groupBy("period")
        .agg(F.countDistinct("__u").cast("long").alias("n_active"))
    )


def trailing_active_hll(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    *,
    window_periods: int = 4,
    period_days: int = 7,
    precision: int = 14,
) -> DataFrame:
    """(period, n_active_est) — the sketch path: per-window HLL
    states, blob-only shuffle, memory bounded by 2^precision per
    window.  Error within the standard 1.04/√m bound of
    :func:`trailing_active` (gated in tests)."""
    from ..operators.hll import HyperLogLog
    from ..plans.agg import sketch_by_key

    act = _activity(df, user_col, ts_col, period_days)
    w = _windows(act, window_periods).select(
        "period", F.col("__u").cast("string").alias("__key")
    )
    return sketch_by_key(
        w,
        ["period"],
        "__key",
        lambda: HyperLogLog(p=precision),
        lambda sk: float(sk.estimate()),
        "n_active_est",
    )


def trailing_active_sql(
    table: str,
    user: str,
    ts: str,
    *,
    window_periods: int = 4,
    period_days: int = 7,
) -> str:
    """DuckDB twin of :func:`trailing_active`."""
    if window_periods < 1:
        raise ValueError(f"window_periods must be >= 1, got {window_periods}")
    period = _period_sql(ts, period_days)
    return f"""
        WITH act AS (
            SELECT DISTINCT {user} AS u, {period} AS p
            FROM {table}
            WHERE ({user}) IS NOT NULL AND ({ts}) IS NOT NULL
        ),
        w AS (
            SELECT u, p + CAST(o.range AS BIGINT) AS period
            FROM act CROSS JOIN range(0, {window_periods}) o
        )
        SELECT period, count(DISTINCT u)::bigint AS n_active
        FROM w GROUP BY period
    """
