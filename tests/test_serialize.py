"""Serialization (model_dump analog), alias handling, decimal
enforcement."""

from __future__ import annotations

import json

from satya_spark.coerce import coerce
from satya_spark.compiler import compile_spec
from satya_spark.serialize import dump, dump_json
from satya_spark.spec import FieldSpec, TableSpec


SPEC = TableSpec(
    name="s",
    fields=(
        FieldSpec("a", "string", alias="renamed_a"),
        FieldSpec("b", "int"),
        FieldSpec("c", "string", required=False),
    ),
)


def test_dump_include_exclude_alias(spark):
    df = spark.createDataFrame([("x", 1, None)], "a string, b int, c string")
    assert dump(df, SPEC).columns == ["a", "b", "c"]
    assert dump(df, SPEC, by_alias=True).columns == ["renamed_a", "b", "c"]
    assert dump(df, SPEC, include=["a", "b"]).columns == ["a", "b"]
    assert dump(df, SPEC, exclude=["b"]).columns == ["a", "c"]


def test_dump_json_exclude_none(spark):
    df = spark.createDataFrame([("x", 1, None)], "a string, b int, c string")
    doc = json.loads(dump_json(df, SPEC).collect()[0]["json"])
    assert doc == {"a": "x", "b": 1}  # null c dropped
    doc2 = json.loads(
        dump_json(df, SPEC, exclude_none=False).collect()[0]["json"]
    )
    assert doc2 == {"a": "x", "b": 1, "c": None}


def test_decimal_enforcement(spark):
    """max_digits/decimal_places (declared-but-unenforced in the
    reference core, SURVEY.md §2.3): DecimalType(p,s) enforces
    naturally — overflow coerces to null and fails 'required'."""
    spec = TableSpec(
        name="d", fields=(FieldSpec("amt", "decimal(4,2)", required=True),)
    )
    df = spark.createDataFrame([("12.34",), ("123.45",), ("bad",)], ["amt"])
    coerced = coerce(df, spec)
    rows = compile_spec(spec).with_validation(coerced).collect()
    assert str(rows[0]["amt"]) == "12.34" and rows[0]["valid"]
    assert rows[1]["amt"] is None and not rows[1]["valid"]  # 5 digits > p=4
    assert rows[2]["amt"] is None and not rows[2]["valid"]

