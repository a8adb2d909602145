"""Quoting for caller-supplied text spliced into rendered Spark SQL.

Operators that build expressions as SQL text (one ``F.expr`` or
``selectExpr`` parse instead of a py4j round trip per Column node) route
every caller-supplied name and value through these two functions:

  * ``quote_ident`` — a backtick-quoted identifier, embedded backticks
    doubled, so any column name (spaces, dots, backticks) is one name;
  * ``quote_string`` — a single-quoted string literal, backslashes
    doubled and quotes escaped, so the parser's escape processing hands
    back the value unchanged (a regex ``\\d`` stays ``\\d``).

Leaf module: it imports nothing, so every layer imports it at module top.
"""

from __future__ import annotations


def quote_ident(name: str) -> str:
    """``name`` as one backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def quote_string(value: str) -> str:
    """``value`` as a Spark SQL string literal that parses back to itself."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
