"""SQL-text literals and identifiers for plans parsed in the JVM.

A ``pyspark.sql.functions`` tree costs py4j round trips per expression node
(PySpark 4.1: ``F.col`` 13, ``col + lit`` 27, as each Column call records
its call site), so the clustering, search and aggregation plans are SQL
text parsed in the JVM in one call each.  A spliced value must parse back
to itself:

* :func:`dbl` spells a double so that it parses back to the identical bits
  (``repr`` round-trips IEEE doubles; the ``D`` suffix makes the literal a
  DOUBLE, not a DECIMAL);
* :func:`string` spells a string so that it parses back to the exact same
  characters under either setting of ``spark.sql.parser.escapedStringLiterals``:
  the only characters the two settings read differently are ``\\`` and
  ``'``, and those are spliced in as ``chr(92)`` / ``chr(39)``, never quoted
  (``$`` too, as ``chr(36)``, so no ``${var}`` substitution applies).
  Constant folding turns the ``concat`` back into one literal before filter
  push-down, so a term filter still reaches the parquet scan;
* :func:`name` back-quotes a column name.
"""

from __future__ import annotations

import math
import re

#: characters never written inside a quoted literal: the two that the
#: escapedStringLiterals settings read differently, and ``$``, which opens a
#: ``${var}`` substitution (``spark.sql.variable.substitute``)
_SPLICED = re.compile(r"(['\\$])")


def dbl(x: float) -> str:
    """A DOUBLE literal that parses back to exactly ``x``."""
    x = float(x)
    if math.isfinite(x):
        return repr(x) + "D"
    return f"CAST('{x!r}' AS DOUBLE)"  # 'inf', '-inf' or 'nan'


def name(col: str) -> str:
    """A back-quoted column identifier."""
    return "`" + col.replace("`", "``") + "`"


def string(s: str) -> str:
    """A STRING expression that parses back to exactly ``s``."""
    parts = [f"chr({ord(p)})" if _SPLICED.fullmatch(p) else f"'{p}'" for p in _SPLICED.split(s) if p]
    if not parts:
        return "''"
    return parts[0] if len(parts) == 1 else f"concat({', '.join(parts)})"
