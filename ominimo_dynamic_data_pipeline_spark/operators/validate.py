"""Declarative field-validation rule language.

Re-expresses the reference's rule language (``/root/reference/src/validator.py:19-110``)
with identical semantics and error labels.  Every check is one row of
``RULES``: an argument parser, a pass condition written as a Spark SQL
template, and an error-label template — the SURVEY.md §2.3 table in code.
``tag_validations`` renders the whole rule set into two SQL expressions
(the verdict and the error array) added in one projection: no UDFs, one
codegen'd predicate, two parser round trips however many checks there are.

Load-bearing semantics pinned by tests (tests/test_validator.py):
  * Null-permissiveness: range/date/pattern checks PASS null values; only
    ``notNull``/``notEmpty`` assert presence.  ``isNumeric``/``isInteger``
    additionally require non-null.
  * Error labels embed the parsed float (``min:18`` -> ``..._at_least_18.0``).
  * ``dateBefore``/``dateAfter`` are INCLUSIVE (<= / >=) despite the names;
    they pass when either side is null and fail when both are non-null and
    either does not parse as ``yyyy-MM-dd``.
  * Unknown checks raise ``ValueError`` (the reference passed them with an
    ``unknown_validation_*`` label, ``validator.py:106-108``).

Rendering: the field is a dotted struct path with each part backtick-quoted
(the resolution ``F.col(field)`` gives); patterns, ``inList`` values and
labels are string literals that parse back to themselves; numeric bounds
are ``CAST('<repr>' AS DOUBLE)`` so exponents and ``inf`` survive.

Scale notes: validation is a single narrow projection — no shuffle, fully
whole-stage-codegen'd, safe at any scale.  The OK/KO split is two filters
over one tagged frame; callers that consume both should ``cache()`` the
tagged frame (see ``ValidationResult.tagged``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Callable, Mapping, NamedTuple, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ominimo_dynamic_data_pipeline_spark.functions.sql_text import (
    quote_ident,
    quote_string,
)

ERRORS_COL = "validation_errors"
VALID_COL = "is_valid"


class _Field(str):
    """A parsed argument naming another field (rendered as a column)."""


def _path(field: str) -> str:
    return ".".join(quote_ident(part) for part in field.split("."))


def _number(field: str, arg: str) -> dict[str, Any]:
    return {"a": float(arg)}


_RANGE_RE = re.compile(r"^\s*(-?\d+(?:\.\d+)?)-(-?\d+(?:\.\d+)?)\s*$")


def _range(field: str, arg: str) -> dict[str, Any]:
    # regex, not split('-'): a negative lower bound like 'range:-5-10'
    # must parse as (-5, 10), and malformed args must name the field/rule
    # instead of raising a bare float('') ValueError at compile time.
    m = _RANGE_RE.match(arg)
    if m is None:
        raise ValueError(
            f"invalid range rule 'range:{arg}' for field '{field}': "
            "expected 'min-max' with numeric bounds (negative ok, e.g. "
            "'range:-5-10')"
        )
    return {"lo": float(m.group(1)), "hi": float(m.group(2))}


_LENGTH_RE = re.compile(r"^\s*(\d+)-(\d+)\s*$")


def _length(field: str, arg: str) -> dict[str, Any]:
    m = _LENGTH_RE.match(arg)
    if m is None:
        raise ValueError(
            f"invalid length rule 'length:{arg}' for field '{field}': "
            "expected 'min-max' with non-negative integer bounds"
        )
    return {"lo": int(m.group(1)), "hi": int(m.group(2))}


def _values(field: str, arg: str) -> dict[str, Any]:
    values = tuple(v for v in arg.split("|") if v != "")
    if not values:
        raise ValueError(
            f"invalid inList rule for field '{field}': expected "
            "'inList:a|b|c' with at least one value"
        )
    return {"a": values}


def _other_field(field: str, arg: str) -> dict[str, Any]:
    return {"a": _Field(arg)}


def _text(field: str, arg: str) -> dict[str, Any]:
    return {"a": arg}


class Rule(NamedTuple):
    # (field, arg) -> template values; None for checks that take no arg
    parse: Callable[[str, str], dict[str, Any]] | None
    cond: str  # pass condition over {c} {n} {d} {email} and the values
    label: str  # error label after "<field>:", over the values


_EMAIL_RE = r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"


# {c} the field, {n} the field as a double, {d} the field as a date.  The
# conditions carry the reference's null guards: a null field or an
# unparseable value gives TRUE or FALSE.  (isInteger on a number beyond
# the INT range still gives NULL, whose row lands in neither split.)
RULES: dict[str, Rule] = {
    "notEmpty": Rule(None, "{c} IS NOT NULL AND {c} != ''", "must_be_non_empty"),
    "notNull": Rule(None, "{c} IS NOT NULL", "must_not_be_null"),
    "isNumeric": Rule(None, "{c} IS NOT NULL AND {n} IS NOT NULL", "must_be_numeric"),
    "isInteger": Rule(
        None,
        "{c} IS NOT NULL AND {n} IS NOT NULL AND {n} = try_cast({n} AS INT)",
        "must_be_integer",
    ),
    "min": Rule(
        _number,
        "{c} IS NULL OR ({n} IS NOT NULL AND {n} >= {a})",
        "must_be_at_least_{a}",
    ),
    "max": Rule(
        _number,
        "{c} IS NULL OR ({n} IS NOT NULL AND {n} <= {a})",
        "must_be_at_most_{a}",
    ),
    "range": Rule(
        _range,
        "{c} IS NULL OR ({n} IS NOT NULL AND {n} >= {lo} AND {n} <= {hi})",
        "must_be_between_{lo}_and_{hi}",
    ),
    "isDate": Rule(None, "{c} IS NULL OR {d} IS NOT NULL", "must_be_valid_date"),
    "dateBefore": Rule(
        _other_field,
        "{c} IS NULL OR {a} IS NULL OR ({d} IS NOT NULL AND"
        " try_to_date({a}, 'yyyy-MM-dd') IS NOT NULL AND"
        " {d} <= try_to_date({a}, 'yyyy-MM-dd'))",
        "must_be_before_{a}",
    ),
    "dateAfter": Rule(
        _other_field,
        "{c} IS NULL OR {a} IS NULL OR ({d} IS NOT NULL AND"
        " try_to_date({a}, 'yyyy-MM-dd') IS NOT NULL AND"
        " {d} >= try_to_date({a}, 'yyyy-MM-dd'))",
        "must_be_after_{a}",
    ),
    "pattern": Rule(_text, "{c} IS NULL OR {c} RLIKE {a}", "must_match_pattern"),
    # engine extensions beyond the reference's 12 checks (same
    # null-permissive semantics: only notNull/notEmpty assert presence)
    "isEmail": Rule(None, "{c} IS NULL OR {c} RLIKE {email}", "must_be_valid_email"),
    "inList": Rule(_values, "{c} IS NULL OR {c} IN ({a})", "must_be_one_of_{a}"),
    "length": Rule(
        _length,
        "{c} IS NULL OR (length({c}) >= {lo} AND length({c}) <= {hi})",
        "length_must_be_between_{lo}_and_{hi}",
    ),
}


def _sql(value: Any) -> str:
    if isinstance(value, _Field):
        return _path(value)
    if isinstance(value, str):
        return quote_string(value)
    if isinstance(value, float):
        return f"CAST('{value!r}' AS DOUBLE)"
    if isinstance(value, int):
        return str(value)
    return ", ".join(_sql(v) for v in value)


def _label(value: Any) -> str:
    return "|".join(value) if isinstance(value, tuple) else str(value)


def build_check(field: str, check: str) -> tuple[str, str]:
    """Compile one ``(field, check)`` pair into (SQL pass-condition, label)."""
    name, sep, arg = check.partition(":")
    rule = RULES.get(name)
    if rule is None or (rule.parse is None) == bool(sep):
        raise ValueError(f"Unknown validation check {check!r} for field {field!r}")
    values = rule.parse(field, arg) if rule.parse else {}
    c = _path(field)
    cond = rule.cond.format(
        c=c,
        n=f"try_cast({c} AS DOUBLE)",
        d=f"try_to_date({c}, 'yyyy-MM-dd')",
        email=quote_string(_EMAIL_RE),
        **{k: _sql(v) for k, v in values.items()},
    )
    label = rule.label.format(**{k: _label(v) for k, v in values.items()})
    return cond, f"{field}:{label}"


@dataclass
class ValidationResult:
    """OK/KO split plus the shared tagged frame for multi-action reuse."""

    tagged: DataFrame  # original columns + is_valid + validation_errors
    ok: DataFrame  # passing rows, bookkeeping columns removed
    ko: DataFrame  # failing rows + validation_errors


def tag_validations(df: DataFrame, rules: Sequence[Mapping[str, Any]]) -> DataFrame:
    """Add ``is_valid`` and ``validation_errors`` in a single projection.

    Validity is the conjunction of every (field, check) condition; the errors
    array holds the label of every failing check, in rule order.
    """
    compiled = [
        build_check(rule["field"], check)
        for rule in rules
        for check in rule.get("validations") or []
    ]
    if compiled:
        is_valid = " AND ".join(f"({cond})" for cond, _ in compiled)
        cases = ", ".join(
            f"CASE WHEN NOT ({cond}) THEN {quote_string(label)} END"
            for cond, label in compiled
        )
        errors = f"array_compact(array({cases}))"
    else:
        is_valid, errors = "true", "CAST(array() AS ARRAY<STRING>)"
    return df.withColumns({VALID_COL: F.expr(is_valid), ERRORS_COL: F.expr(errors)})


def apply_validations(
    df: DataFrame,
    rules: Sequence[Mapping[str, Any]],
    cache_tagged: bool = False,
) -> ValidationResult:
    """Split ``df`` into OK and KO streams per the rule set.

    With no rules the OK frame is the input and KO is the empty relation
    (``df.limit(0)`` — Catalyst propagates emptiness), matching the
    reference's contract.
    """
    if not any(rule.get("validations") for rule in rules or []):
        empty = df.limit(0).withColumn(ERRORS_COL, F.array().cast("array<string>"))
        return ValidationResult(tagged=df, ok=df, ko=empty)

    tagged = tag_validations(df, rules)
    if cache_tagged:
        tagged = tagged.cache()
    ok = tagged.filter(F.col(VALID_COL)).drop(VALID_COL, ERRORS_COL)
    ko = tagged.filter(~F.col(VALID_COL)).drop(VALID_COL)
    return ValidationResult(tagged=tagged, ok=ok, ko=ko)
