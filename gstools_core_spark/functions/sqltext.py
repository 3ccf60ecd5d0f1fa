"""SQL-text rendering for the plan builders and the DuckDB oracle.

The geostat operators build each projection as ONE SQL expression string
(``selectExpr`` / ``F.expr`` / ``where(str)``) instead of a tree of
``Column`` calls: every Column method or function is a py4j round trip
from the driver to the JVM, and a plan of a few hundred of them cost as
much to build as to run on small inputs.

A formula is written once, as a function of a :class:`Dialect`, and
rendered two ways:

* ``SPARK`` renders the expression trees the Column API built, so
  optimized plans stay string-identical: doubles carry the ``D`` suffix
  (in Spark SQL text ``1.0`` is a DECIMAL literal), and a literal on the
  LEFT of ``*`` or ``+`` goes to the right, where PySpark's reflected
  operators put it (``2.0 * col`` builds ``col * 2.0``).  IEEE ``*`` and
  ``+`` commute, so values do not depend on the order; plans do.
* ``ORACLE`` renders the DuckDB oracle's text: plain ``2.0`` literals,
  operands in written order.
"""

from __future__ import annotations

import math
import numbers
from dataclasses import dataclass


@dataclass(frozen=True)
class Dialect:
    double_suffix: str
    literal_last: bool

    def num(self, x: float) -> str:
        """A DOUBLE literal."""
        x = float(x)
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(x):
            return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
        if x == 0.0 and math.copysign(1.0, x) < 0:
            return f"-(0.0{self.double_suffix})"  # the parser drops a literal's -0 sign
        return f"{x!r}{self.double_suffix}"

    def mul(self, k: float, e: str) -> str:
        """``k * e`` for a literal ``k``; ``e`` is atomic or parenthesized."""
        return f"{e} * {self.num(k)}" if self.literal_last else f"{self.num(k)} * {e}"

    def add(self, k: float, e: str) -> str:
        """``k + e`` for a literal ``k``; ``e`` binds at least as tightly as +."""
        return f"{e} + {self.num(k)}" if self.literal_last else f"{self.num(k)} + {e}"


SPARK = Dialect("D", True)
ORACLE = Dialect("", False)


def lit(v) -> str:
    """A Spark SQL literal typed like ``F.lit(v)``: bool → BOOLEAN, int →
    INT (BIGINT beyond 32 bits), float → DOUBLE."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, numbers.Integral):
        return str(int(v))
    return SPARK.num(v)


def q(name: str) -> str:
    """A column name as one quoted identifier."""
    return "`" + name.replace("`", "``") + "`"
