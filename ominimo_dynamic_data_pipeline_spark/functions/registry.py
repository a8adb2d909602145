"""Scalar function registry for the ``add_fields`` operator.

The reference supports exactly one function, ``current_timestamp``
(``/root/reference/src/transformations.py:280-291``), raising on anything
else.  We keep the raise-on-unknown contract over a fixed table of seven
functions, and make the clock injectable so golden tests are deterministic
(SURVEY.md §7 "What's hard" (3)).

Functions may take params from the field config:
  {"name": "ingestion_dt", "function": "current_timestamp"}
  {"name": "source_tag",   "function": "literal", "value": "batch-7"}
  {"name": "price_eur",    "function": "expr", "expr": "price * 0.92"}
"""

from __future__ import annotations

from typing import Any, Callable, Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F

# name -> builder(field config, fixed-clock Column override or None)
_FUNCTIONS: dict[str, Callable[[Mapping[str, Any], Column | None], Column]] = {
    "current_timestamp": lambda cfg, clock: (
        clock if clock is not None else F.current_timestamp()
    ),
    "current_date": lambda cfg, clock: (
        clock.cast("date") if clock is not None else F.current_date()
    ),
    "literal": lambda cfg, clock: F.lit(cfg.get("value")),
    "uuid": lambda cfg, clock: F.expr("uuid()"),
    "monotonically_increasing_id": lambda cfg, clock: F.monotonically_increasing_id(),
    "input_file_name": lambda cfg, clock: F.input_file_name(),
    "expr": lambda cfg, clock: F.expr(cfg["expr"]),
}


def build_function_column(
    cfg: Mapping[str, Any], clock: Column | None = None
) -> Column:
    """Resolve a field config to a Column; unknown function -> ValueError
    (same contract as the reference)."""
    func = cfg.get("function")
    builder = _FUNCTIONS.get(func)
    if builder is None:
        raise ValueError(
            f"Unsupported add_fields function: {func!r} for field {cfg.get('name')!r}"
        )
    return builder(cfg, clock)
