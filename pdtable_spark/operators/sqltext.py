"""Quoting for operator expressions spelled as Spark SQL text.

The array/text builders parse as one SQL string on the JVM (one py4j call)
instead of a nested Column-lambda tree (tens of round-trips per build);
every name and constant they interpolate goes through this module, so an
odd column name or a non-finite threshold cannot change the parse.

Which builders take what:

- a column NAME (quoted here with :func:`ident`): ``text.shingles``,
  ``text.shingle_hashes``, ``text.fingerprint``, ``text.gopher_pass_all``
  and every DataFrame-level operator's ``*_col`` argument;
- SQL TEXT (a quoted name, a field path such as ``ea.v``, a lambda
  variable or a nested expression): ``similarity.dot`` / ``norm`` /
  ``cosine``, ``similarity._as_double``, ``_cell_scores``,
  ``_cell_ranking``, ``_rhp_bucket_sql`` and the ``*_sql`` fragment
  functions of ``text``.
"""

from __future__ import annotations

import math


def ident(name: str) -> str:
    """``name`` as a backtick-quoted identifier (embedded backticks
    doubled), so dots, spaces and backticks stay part of the name."""
    return "`" + name.replace("`", "``") + "`"


def str_lit(s: str) -> str:
    """``s`` as a Spark SQL string literal (escaped-backslash spelling —
    the parser's default escape handling would otherwise eat regex
    backslashes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def num(v) -> str:
    """A number as SQL text of the type and value ``F.lit(v)`` gives:
    ints stay integral, floats become DOUBLE literals (a bare ``3.0``
    parses as DECIMAL), and NaN / ±inf, which have no literal spelling,
    become casts from their string names."""
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return "CAST('Infinity' AS DOUBLE)" if v > 0 else "CAST('-Infinity' AS DOUBLE)"
        return f"{v!r}D"
    return str(int(v))
