"""Distance formulas as SQL text (JVM-side, whole-stage-codegen friendly).

Each formula is written once and rendered per dialect (functions/sqltext):
``SPARK`` for ``selectExpr``/``F.expr`` in the operators, ``ORACLE`` for
the DuckDB oracle queries.  Arguments are SQL fragments (quoted column
names, ``a.lat``, ...).

Euclid uses mul/add/sqrt only — identical IEEE results in Spark, DuckDB and
numpy, which keeps half-open bin assignment deterministic across engines
(reference semantics: variogram.rs:92-103, 107-123).
"""

from __future__ import annotations

from collections.abc import Sequence

from gstools_core_spark.functions.sqltext import SPARK, Dialect


def euclid(a: Sequence[str], b: Sequence[str]) -> str:
    """sqrt(Σ Δc²) for any dimension; squares via multiplication, not pow.
    No literals, so both dialects render the same text."""
    terms = " + ".join(f"({x} - {y}) * ({x} - {y})" for x, y in zip(a, b))
    return f"sqrt({terms})"


def haversine(
    lat1: str, lon1: str, lat2: str, lon2: str, dialect: Dialect = SPARK
) -> str:
    """Great-circle central angle in RADIANS (no Earth-radius scaling),
    matching variogram.rs:107-118.  Inputs in degrees.

    ``arg`` is clamped to 1: rounding can push it one ulp above 1 for
    near-antipodal pairs, where sqrt(1 − arg) would be NaN and the pair
    would silently vanish from every range predicate.  The identical
    least/minimum clamp is applied in kernels.haversine_dist, so the
    engines stay bitwise-matched."""
    two, one = dialect.num(2.0), dialect.num(1.0)
    sdlat = f"sin(radians({lat1} - {lat2}) / {two})"
    sdlon = f"sin(radians({lon1} - {lon2}) / {two})"
    arg = (
        f"least({sdlat} * {sdlat} + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * {sdlon} * {sdlon}, {one})"
    )
    return dialect.mul(2.0, f"atan2(sqrt({arg}), sqrt({one} - {arg}))")
