"""Literal array builders that cost ONE py4j round-trip.

``F.array(*[F.lit(x) for x in vals])`` issues 2+ py4j socket round-trips
per element; a 16x16-codeword PQ codebook built that way costs ~2,000
round-trips ≈ 1.7 s of pure driver-side socket chatter per query build
(measured with cProfile: `recv_into` under `pyspark...lit`). The guide's
§5 rule — the driver should do almost no work — applies to plan
CONSTRUCTION too. These helpers render the same literal as one SQL
expression string and hand it to Catalyst in a single ``F.expr`` call;
the parsed result is the same ``CreateArray(Literal...)`` tree, so plans
and results are bit-identical.

Exactness: ``repr(float)`` is the shortest decimal that round-trips to
the same IEEE-754 double, and Spark's parser reads ``...D`` literals with
``Double.parseDouble`` — bit-identical to ``F.lit(x)``. Strings have
their quotes doubled; a backslash is never rendered, because its reading
depends on the session's parser mode: :func:`sql_string` refuses such a
string and :func:`lit_strings` builds that array with ``F.lit`` instead.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, functions as F


def sql_double(x: float) -> str:
    """Exact SQL double literal for ``x`` (handles nan/inf)."""
    x = float(x)
    if math.isnan(x) or math.isinf(x):
        return f"CAST('{x}' AS DOUBLE)"
    return repr(x) + "D"


def sql_string(s: str) -> str:
    """SQL string literal. Quotes are escaped by doubling (``''``), which
    both of Spark's parser modes accept. A backslash reads as an escape in
    the default ``spark.sql.parser.escapedStringLiterals=false`` mode and
    literally in the legacy one, so a string holding one raises
    ValueError rather than render one way and be read the other."""
    if "\\" in s:
        raise ValueError(
            "sql_string is only exact under the default "
            "escapedStringLiterals=false parser mode for backslashes; "
            "use F.lit for strings containing backslashes"
        )
    return "'" + s.replace("'", "''") + "'"


def lit_doubles(vals) -> Column:
    """``array<double>`` literal in one round-trip."""
    return F.expr("array(" + ",".join(sql_double(v) for v in vals) + ")")


def lit_double_matrix(rows) -> Column:
    """``array<array<double>>`` literal in one round-trip."""
    body = ",".join(
        "array(" + ",".join(sql_double(v) for v in row) + ")" for row in rows
    )
    return F.expr(f"array({body})")


def lit_strings(vals) -> Column:
    """``array<string>`` literal in one round-trip; with ``F.lit`` per
    element when any value holds a backslash (see :func:`sql_string`)."""
    vals = list(vals)
    if any("\\" in v for v in vals):
        return F.array(*map(F.lit, vals))
    return F.expr("array(" + ",".join(sql_string(v) for v in vals) + ")")
