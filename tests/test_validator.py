"""Unit tests pinning the null-permissive validation semantics
(SURVEY.md §2.3 table; reference /root/reference/src/validator.py:19-110)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from ominimo_dynamic_data_pipeline_spark.operators.validate import (
    apply_validations,
    build_check,
    tag_validations,
)


def _verdicts(spark, values, check, field="f"):
    """Run one check over a one-column frame; return {value: (ok, errors)}."""
    rows = [Row(id=i, f=v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, schema="id int, f string")
    tagged = tag_validations(df, [{"field": field, "validations": [check]}])
    out = {r["id"]: (r["is_valid"], list(r["validation_errors"])) for r in tagged.collect()}
    return [out[i] for i in range(len(values))]


def test_not_empty(spark):
    res = _verdicts(spark, ["x", "", None], "notEmpty")
    assert [r[0] for r in res] == [True, False, False]
    assert res[1][1] == ["f:must_be_non_empty"]


def test_not_null(spark):
    res = _verdicts(spark, ["x", "", None], "notNull")
    assert [r[0] for r in res] == [True, True, False]
    assert res[2][1] == ["f:must_not_be_null"]


def test_is_numeric(spark):
    res = _verdicts(spark, ["12", "12.5", "abc", None, " 7 "], "isNumeric")
    # try_cast trims whitespace, so " 7 " is numeric; null FAILS isNumeric.
    assert [r[0] for r in res] == [True, True, False, False, True]
    assert res[2][1] == ["f:must_be_numeric"]
    assert res[3][1] == ["f:must_be_numeric"]


def test_is_integer(spark):
    res = _verdicts(spark, ["12", "12.5", "abc", None], "isInteger")
    assert [r[0] for r in res] == [True, False, False, False]
    assert res[1][1] == ["f:must_be_integer"]


def test_min_null_permissive(spark):
    res = _verdicts(spark, ["18", "17.9", None, "abc"], "min:18")
    # null PASSES; non-numeric fails (numeric_col null -> condition false).
    assert [r[0] for r in res] == [True, False, True, False]
    assert res[1][1] == ["f:must_be_at_least_18.0"]  # label embeds parsed float


def test_max(spark):
    res = _verdicts(spark, ["100", "100.1", None], "max:100")
    assert [r[0] for r in res] == [True, False, True]
    assert res[1][1] == ["f:must_be_at_most_100.0"]


def test_range(spark):
    res = _verdicts(spark, ["5", "0.5", "11", None], "range:1-10")
    assert [r[0] for r in res] == [True, False, False, True]
    assert res[1][1] == ["f:must_be_between_1.0_and_10.0"]


def test_range_negative_bounds(spark):
    res = _verdicts(spark, ["-3", "-6", "10", "11", None], "range:-5-10")
    assert [r[0] for r in res] == [True, False, True, False, True]
    assert res[1][1] == ["f:must_be_between_-5.0_and_10.0"]


def test_range_malformed_arg_names_field_and_rule():
    with pytest.raises(ValueError, match="range:1--"):
        build_check("f", "range:1--")
    with pytest.raises(ValueError, match="field 'age'"):
        build_check("age", "range:low-high")


def test_is_email_extension(spark):
    res = _verdicts(
        spark,
        ["a.b+c@example.co", "not-an-email", "x@y", None],
        "isEmail",
    )
    assert [r[0] for r in res] == [True, False, False, True]
    assert res[1][1] == ["f:must_be_valid_email"]


def test_in_list_extension(spark):
    res = _verdicts(spark, ["red", "blue", "mauve", None], "inList:red|blue")
    assert [r[0] for r in res] == [True, True, False, True]
    assert res[2][1] == ["f:must_be_one_of_red|blue"]
    with pytest.raises(ValueError, match="inList"):
        build_check("f", "inList:")


def test_length_extension(spark):
    res = _verdicts(spark, ["ab", "a", "abcdef", None], "length:2-5")
    assert [r[0] for r in res] == [True, False, False, True]
    assert res[1][1] == ["f:length_must_be_between_2_and_5"]
    with pytest.raises(ValueError, match="length:x-y"):
        build_check("f", "length:x-y")


def test_is_date(spark):
    res = _verdicts(spark, ["2024-01-31", "not-a-date", None, "2024-13-01"], "isDate")
    assert [r[0] for r in res] == [True, False, True, False]
    assert res[1][1] == ["f:must_be_valid_date"]


def test_date_before_inclusive_and_null_permissive(spark):
    df = spark.createDataFrame(
        [
            ("2024-01-01", "2025-01-01"),  # before -> OK
            ("2025-01-01", "2025-01-01"),  # equal -> OK (inclusive)
            ("2025-01-02", "2025-01-01"),  # after -> KO
            (None, "2025-01-01"),  # null side -> OK
            ("2024-01-01", None),  # null other -> OK
            ("garbage", "2025-01-01"),  # unparseable, both non-null -> KO
        ],
        schema="a string, b string",
    )
    tagged = tag_validations(df, [{"field": "a", "validations": ["dateBefore:b"]}])
    got = [r["is_valid"] for r in tagged.collect()]
    assert got == [True, True, False, True, True, False]
    ko = [r for r in tagged.collect() if not r["is_valid"]]
    assert all(list(r["validation_errors"]) == ["a:must_be_before_b"] for r in ko)


def test_date_after(spark):
    df = spark.createDataFrame(
        [("2025-01-01", "2024-01-01"), ("2023-01-01", "2024-01-01")],
        schema="a string, b string",
    )
    tagged = tag_validations(df, [{"field": "a", "validations": ["dateAfter:b"]}])
    got = [(r["is_valid"], list(r["validation_errors"])) for r in tagged.collect()]
    assert got == [(True, []), (False, ["a:must_be_after_b"])]


def test_pattern(spark):
    res = _verdicts(spark, ["ABC-123", "abc-123", None], r"pattern:^[A-Z]{3}-\d{3}$")
    assert [r[0] for r in res] == [True, False, True]
    assert res[1][1] == ["f:must_match_pattern"]


def test_unknown_check_strict_raises():
    with pytest.raises(ValueError, match="Unknown validation check"):
        build_check("f", "bogusCheck")


def test_split_partition_invariants(spark):
    """ok ∪ ko == input, ok ∩ ko == ∅, every KO row has ≥1 error."""
    df = spark.createDataFrame(
        [(str(i), str(10 + i)) for i in range(20)] + [(None, "x"), ("k", None)],
        schema="a string, b string",
    )
    res = apply_validations(
        df, [{"field": "a", "validations": ["notNull", "isNumeric"]}]
    )
    ok_rows = res.ok.count()
    ko = res.ko.collect()
    assert ok_rows + len(ko) == df.count()
    assert all(len(r["validation_errors"]) >= 1 for r in ko)
    assert "validation_errors" not in res.ok.columns
    assert "is_valid" not in res.ok.columns and "is_valid" not in res.ko.columns


def test_no_rules_returns_input_and_empty_ko(spark):
    df = spark.createDataFrame([("x",)], schema="f string")
    res = apply_validations(df, [])
    assert res.ok.count() == 1
    assert res.ko.count() == 0
    assert "validation_errors" in res.ko.columns


def test_field_name_with_space(spark):
    df = spark.createDataFrame([("5",), ("0",), (None,)], schema="`my field` string")
    tagged = tag_validations(df, [{"field": "my field", "validations": ["min:1"]}])
    got = [(r["is_valid"], list(r["validation_errors"])) for r in tagged.collect()]
    assert got == [
        (True, []),
        (False, ["my field:must_be_at_least_1.0"]),
        (True, []),
    ]


def test_struct_path_field(spark):
    df = spark.createDataFrame(
        [(("ABC-123",),), (("abc",),), ((None,),)],
        schema="vehicle struct<plate: string>",
    )
    rules = [{"field": "vehicle.plate", "validations": [r"pattern:^[A-Z]{3}-\d{3}$"]}]
    got = [
        (r["is_valid"], list(r["validation_errors"]))
        for r in tag_validations(df, rules).collect()
    ]
    assert got == [
        (True, []),
        (False, ["vehicle.plate:must_match_pattern"]),
        (True, []),
    ]


def test_pattern_with_quote_and_backslash_class(spark):
    res = _verdicts(spark, ["O'12", "O12", "O'1x", None], r"pattern:^O'\d{2}$")
    assert [r[0] for r in res] == [True, False, False, True]
    assert res[1][1] == ["f:must_match_pattern"]


def test_in_list_values_with_quote(spark):
    res = _verdicts(spark, ["O'Brien", "Smith", "OBrien", None], "inList:O'Brien|Smith")
    assert [r[0] for r in res] == [True, True, False, True]
    assert res[2][1] == ["f:must_be_one_of_O'Brien|Smith"]


def test_min_exponent_bound(spark):
    res = _verdicts(spark, ["0.00001", "0.000009", "1", None], "min:1e-05")
    assert [r[0] for r in res] == [True, False, True, True]
    assert res[1][1] == ["f:must_be_at_least_1e-05"]


def test_tag_validations_construction_budget(spark):
    """Rendering the whole rule set as SQL keeps construction to a handful
    of gateway round trips, however many checks the rules hold."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    df = spark.createDataFrame([], schema="a string, b string")
    rules = [
        {
            "field": "a",
            "validations": [
                "notEmpty", "notNull", "isNumeric", "isInteger", "min:1",
                "max:9", "range:1-9", "isDate", "dateBefore:b", "dateAfter:b",
                r"pattern:^\d+$", "isEmail", "inList:x|y", "length:1-5",
            ],
        }
    ]
    client = spark.sparkContext._gateway._gateway_client
    orig = client.send_command
    calls = 0

    def counting(command, *args, **kwargs):
        nonlocal calls
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls += 1
        return orig(command, *args, **kwargs)

    client.send_command = counting
    try:
        tag_validations(df, rules)
    finally:
        client.send_command = orig
    assert calls <= 40, calls
