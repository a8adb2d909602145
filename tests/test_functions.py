"""The ``add_fields`` function table: every name builds its Column, and an
unknown name raises."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ominimo_dynamic_data_pipeline_spark.functions import build_function_column

CLOCK = dt.datetime(2024, 5, 1, 10, 0, 0)


# function -> (extra field config, check on the built value)
CASES = {
    "current_timestamp": ({}, lambda v: v == CLOCK),
    "current_date": ({}, lambda v: v == CLOCK.date()),
    "literal": ({"value": "batch-7"}, lambda v: v == "batch-7"),
    "uuid": ({}, lambda v: len(v) == 36 and v.count("-") == 4),
    "monotonically_increasing_id": ({}, lambda v: v == 0),
    "input_file_name": ({}, lambda v: v == ""),
    "expr": ({"expr": "x * 2"}, lambda v: v == 42),
}


@pytest.mark.parametrize("function", list(CASES))
def test_add_fields_function(spark, function):
    extra, check = CASES[function]
    cfg = {"name": "y", "function": function, **extra}
    df = spark.createDataFrame([(21,)], schema="x int").coalesce(1)
    clock = F.to_timestamp(F.lit(CLOCK.isoformat(sep=" ")))
    value = df.select(build_function_column(cfg, clock)).first()[0]
    assert check(value), value


def test_add_fields_unknown_function_raises():
    with pytest.raises(ValueError, match="Unsupported add_fields function: 'nope'"):
        build_function_column({"name": "y", "function": "nope"})
