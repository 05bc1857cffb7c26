"""Driver values as Spark SQL text: the one renderer operator code uses
to put a Python value or a column name into an expression string.

Why text: every Column-API call (``F.col``, ``F.lit``, an operator on a
Column) is a Py4J round trip, ~5 of them per call on a 4-core box, so a
query-path expression built node by node costs hundreds of round trips
before its one job runs — a 64-d query vector as ``F.lit(list)`` alone
is ~500. The same expression rendered as one string crosses the boundary
in one ``F.expr`` (4 round trips) and parses to the same Catalyst tree.

Rendering rules (each round-trips exactly through Spark's parser):

- a float is ``repr(x) + 'D'`` — ``repr`` is the shortest string that
  reads back to the same double, and the ``D`` suffix makes it a DOUBLE
  literal (a bare ``0.5`` would be DECIMAL). NaN and ±infinity have no
  literal form and go through ``CAST('…' AS DOUBLE)``;
- an int is its decimal digits (INT when it fits, else BIGINT — the
  type ``F.lit`` gives it); a bool is ``true`` / ``false``; None is NULL;
- a string is single-quoted with ``\\`` and ``'`` backslash-escaped, so
  no input can end the literal early (quotes, ``--``, newlines and
  non-ASCII stay inside it);
- a list or tuple is ``array(...)`` of its rendered elements;
- an identifier is back-quoted with back-quotes doubled.
"""

from __future__ import annotations

import math
import numbers


def ident(name: str) -> str:
    """A column or field name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def literal(value) -> str:
    """A Python value as a Spark SQL literal (rules in the module doc)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, numbers.Integral):
        return str(int(value))
    if isinstance(value, numbers.Real):
        x = float(value)
        if math.isnan(x):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(x):
            return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
        return repr(x) + "D"
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(value, (list, tuple)):
        return "array(" + ", ".join(literal(v) for v in value) + ")"
    raise TypeError(f"no SQL literal for {type(value).__name__}: {value!r}")
