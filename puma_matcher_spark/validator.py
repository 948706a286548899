"""Stage-boundary schema validation.

Reference: matching/pipepline/DataFrameValidator.scala:22-55 — checks that
every expected field exists with the same dtype (name + type, nullability
ignored), i.e. the actual frame may carry extra columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def has_column(df: DataFrame, name: str, dtype) -> bool:
    """DataFrameValidator.hasColumn (reference :22-39): name + dtype match."""
    for f in df.schema.fields:
        if f.name == name:
            return f.dataType == dtype
    return False


def assert_compliant(df: DataFrame, expected: StructType, ctx: str = "") -> DataFrame:
    missing = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in expected.fields
        if not has_column(df, f.name, f.dataType)
    ]
    if missing:
        actual = ", ".join(f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields)
        raise ValueError(
            f"schema mismatch{' in ' + ctx if ctx else ''}: "
            f"missing/mistyped {missing}; actual [{actual}]"
        )
    return df
