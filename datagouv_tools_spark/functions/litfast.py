"""Wide literal arrays in ONE py4j round-trip.

Driver-side query construction is part of every query's latency: each
``F.lit`` / ``F.array`` / ``Column`` operator call is a py4j socket
round-trip (~0.5-1 ms on this box), so the idiomatic
``F.array(*[F.lit(v) for v in vals])`` for a 64-wide constant costs
~1,100 round-trips (~200 ms measured) — per query BUILD, i.e. on every
bench repeat and on every re-submission of the query in production.
Rendering the same constant as ONE SQL expression string and parsing it
with a single ``F.expr`` call costs 3 round-trips (~0.7 ms measured),
and constant-folds to the IDENTICAL ``Literal`` the loop form folds to,
so plans and results are unchanged (equivalence is test-pinned).

Doubles are rendered as ``CAST('<repr>' AS DOUBLE)``: Python ``repr``
emits the shortest string that round-trips to the same IEEE double, and
``Double.parseDouble`` of that string yields the bit-identical value, so
no precision is lost crossing the text boundary.

Strings holding a quote or a backslash are rendered from their UTF-8
bytes as a hex literal (``decode(X'..', 'UTF-8')``), which no parser
setting reads differently — ``spark.sql.parser.escapedStringLiterals``
only changes how escapes inside quoted strings are read — and which
constant-folds to the same string ``Literal``.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "lit_bigint_array",
    "lit_double_array",
    "lit_bigint_matrix",
    "lit_double_matrix",
    "sql_double",
    "sql_ref",
    "sql_string",
]


def sql_double(v: float) -> str:
    """Exact double literal for SQL text: shortest-repr string cast,
    which Double.parseDouble round-trips bit-for-bit."""
    return _fmt_double(v)


def sql_string(s: str) -> str:
    """SQL string literal that evaluates to ``s`` under any session
    setting: ``'s'`` when ``s`` holds neither a quote nor a backslash,
    otherwise ``decode(X'<UTF-8 hex>', 'UTF-8')``, so no escape is ever
    rendered for the parser to read."""
    if "\\" not in s and "'" not in s:
        return "'" + s + "'"
    return f"decode(X'{s.encode('utf-8').hex().upper()}', 'UTF-8')"


def sql_ref(name: str) -> str:
    """SQL text reference with ``F.col`` semantics: dots split the name
    into parts (struct fields / alias qualifiers) and each part is
    backtick-quoted, mirroring Spark's quoteIfNeeded over nameParts —
    so ``'q.vec'`` renders ``` `q`.`vec` ```, not one opaque
    identifier."""
    return ".".join(
        "`" + p.replace("`", "``") + "`" for p in name.split(".")
    )

_BIGINT_MIN = -(1 << 63)
_BIGINT_MAX = (1 << 63) - 1


def _fmt_bigint(v: object) -> str:
    i = int(v)
    if not isinstance(v, (int,)) and i != v:
        raise ValueError(f"non-integral value {v!r} for a BIGINT literal")
    if not (_BIGINT_MIN <= i <= _BIGINT_MAX):
        raise ValueError(f"{i} overflows BIGINT")
    return f"{i}L"


def _fmt_double(v: object) -> str:
    x = float(v)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"CAST('{x!r}' AS DOUBLE)"


def _array_expr(rendered: Sequence[str], empty_type: str) -> str:
    if not rendered:
        return f"CAST(array() AS ARRAY<{empty_type}>)"
    return "array(" + ",".join(rendered) + ")"


def lit_bigint_array(vals: Iterable[object]) -> Column:
    """array<bigint> literal Column, one ``F.expr`` round-trip."""
    return F.expr(_array_expr([_fmt_bigint(v) for v in vals], "BIGINT"))


def lit_double_array(vals: Iterable[object]) -> Column:
    """array<double> literal Column, one ``F.expr`` round-trip."""
    return F.expr(_array_expr([_fmt_double(v) for v in vals], "DOUBLE"))


def lit_bigint_matrix(rows: Iterable[Iterable[object]]) -> Column:
    """array<array<bigint>> literal Column, one ``F.expr`` round-trip."""
    inner = [_array_expr([_fmt_bigint(v) for v in r], "BIGINT") for r in rows]
    return F.expr(_array_expr(inner, "ARRAY<BIGINT>"))


def lit_double_matrix(rows: Iterable[Iterable[object]]) -> Column:
    """array<array<double>> literal Column, one ``F.expr`` round-trip."""
    inner = [_array_expr([_fmt_double(v) for v in r], "DOUBLE") for r in rows]
    return F.expr(_array_expr(inner, "ARRAY<DOUBLE>"))
