"""Matheron / Cressie estimators as SQL text (variogram.rs:41-65).

Both estimators decompose into (Σ per-pair term, pair count), so Catalyst's
partial+final HashAggregate is exact; normalization happens once, in a final
select (SURVEY.md §2.2).  Each formula is written once and rendered per
dialect (functions/sqltext): ``SPARK`` for the operators, ``ORACLE`` for
the DuckDB oracle queries.
"""

from __future__ import annotations

from gstools_core_spark.functions.sqltext import SPARK, Dialect


def estimate(diff: str, estimator: str = "m") -> str:
    """Per-pair term; no literals, so both dialects render the same text."""
    if estimator == "c":
        return f"sqrt(abs({diff}))"
    return f"({diff}) * ({diff})"


def normalize(
    sum_expr: str, cnt_expr: str, estimator: str = "m", dialect: Dialect = SPARK
) -> str:
    """Final-select normalization; count 0 guarded to 1 (variogram.rs:48-51)."""
    d = dialect
    cf = f"greatest(CAST({cnt_expr} AS DOUBLE), {d.num(1.0)})"
    if estimator == "c":
        r = f"({sum_expr} / {cf})"
        den = d.add(0.457, f"{d.num(0.494)} / {cf}")
        return (
            f"{d.mul(0.5, f'({r} * {r} * {r} * {r})')}"
            f" / ({den} + {d.num(0.045)} / ({cf} * {cf}))"
        )
    return f"{sum_expr} / ({d.mul(2.0, cf)})"
