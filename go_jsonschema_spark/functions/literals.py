"""Large constant arrays as ONE parsed SQL expression.

``F.lit(list)`` expands to ``array(*[lit(v) for v in list])`` inside
pyspark — one py4j round trip PER ELEMENT (a 2,400-window probe literal
cost ~1.2 s of pure driver time per query build, measured r7, guide
§7.3 "planning very large expression trees").  Rendering the same
literal as one SQL ``array(...)`` string crosses the bridge once; the
parsed expression tree and every element value are identical, so plans
and results cannot change.

Only exact-rendering cases take the fast path; anything else falls back
to the element-wise builder, keeping these helpers drop-in safe.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, functions as F

__all__ = ["lit_bigints", "lit_doubles", "lit_matrix", "lit_strings"]

_CONTROL = re.compile(r"[\x00-\x1f\x7f]")


def lit_bigints(vals: list[int]) -> Column:
    """``array<bigint>`` literal from Python ints in one parsed
    expression; non-int (or out-of-int64-range) input falls back to the
    element-wise path."""
    if vals and all(
        isinstance(v, int) and not isinstance(v, bool)
        and -(1 << 63) <= v < (1 << 63)
        for v in vals
    ):
        return F.expr("array(" + ",".join(f"{v}L" for v in vals) + ")")
    return F.lit(list(vals)).cast("array<bigint>")


def lit_doubles(vals: list[float]) -> Column:
    """Flat ``array<double>`` literal in one parsed expression.
    ``repr(float)`` is the shortest round-trip form, so Java's parser
    returns the bit-identical double; non-finite values (no SQL literal
    syntax) fall back to the element-wise path."""
    if all(math.isfinite(v) for v in vals):
        return F.expr(
            "array(" + ",".join(repr(v) + "D" for v in vals) + ")")
    return F.array(*[F.lit(v) for v in vals])


def lit_matrix(rows: list[list[float]]) -> Column:
    """Nested ``array<array<double>>`` literal, same contract as
    :func:`lit_doubles`."""
    if all(math.isfinite(v) for r in rows for v in r):
        return F.expr("array(" + ",".join(
            "array(" + ",".join(repr(v) + "D" for v in r) + ")"
            for r in rows) + ")")
    return F.array(*[F.array(*[F.lit(v) for v in r]) for r in rows])


def _sql_str(s: str) -> str | None:
    """Render ``s`` as a single-quoted Spark SQL string literal, or None
    when a character could interact with the lexer beyond the standard
    backslash escapes (control chars).  Backslash and quote are escaped;
    everything else round-trips verbatim through the UTF-8 parser."""
    if _CONTROL.search(s):
        return None
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def lit_strings(vals: list[str]) -> Column:
    """``array<string>`` literal in one parsed expression; elements the
    renderer cannot safely quote (control characters, non-strings) fall
    back to the element-wise path."""
    rendered = []
    for v in vals:
        r = _sql_str(v) if isinstance(v, str) else None
        if r is None:
            return F.lit(list(vals)).cast("array<string>")
        rendered.append(r)
    if not rendered:
        return F.lit([]).cast("array<string>")
    return F.expr("array(" + ",".join(rendered) + ")")
