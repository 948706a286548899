"""Physical-plan inspection utilities.

The engine's scale guarantees are properties of the *plan*, not the code:
filters must reach the scan, small dims must broadcast, self-joins must
not degenerate to cartesian products.  These helpers make those
properties assertable in tests (tests/test_plans.py) so a regression in
plan shape fails CI, not the 100 TB run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    jdf = df._jdf
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jdf.queryExecution().explainString(mode)


def observed_metrics(df: DataFrame) -> dict[str, dict]:
    """``{name: {metric: value}}`` for every ``df.observe(name, ...)`` in
    ``df``'s plan, read from the query execution that an action on ``df``
    itself ran — an eager ``localCheckpoint`` does; ``count()`` plans a
    new query and does not, and before the action every metric reads
    empty.  Named observations read this way never touch
    ``pyspark.sql.Observation``: once a session has registered one of
    those, its ObservationManager (not serializable) rides along with
    every MLlib model that keeps a training summary, and transforming
    such a model fails with "Task not serializable" (Spark 4.1)."""
    to_java = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    metrics = to_java(df._jdf.queryExecution().observedMetrics())
    return {
        name: {f: row.get(i) for i, f in enumerate(row.schema().fieldNames())}
        for name, row in metrics.items()
    }


def count_occurrences(df: DataFrame, token: str) -> int:
    return formatted_plan(df).count(token)


def has_cartesian(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


def num_shuffles(df: DataFrame) -> int:
    """Exchange operators in the plan (ReusedExchange not counted)."""
    plan = formatted_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line and "(" in line
    )


def scan_read_schemas(df: DataFrame) -> list[tuple[str, str]]:
    """(location, read_schema) per scan — formatted plans print a
    Location line followed by a ReadSchema line per file scan."""
    out = []
    location = ""
    for line in formatted_plan(df).splitlines():
        if "Location:" in line:
            location = line.strip()
        elif "ReadSchema" in line:
            out.append((location, line.strip()))
    return out


def partition_filters(df: DataFrame) -> list[str]:
    """PartitionFilters lines per file scan — non-empty entries mean the
    scan prunes whole partition directories before reading any data."""
    return [
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PartitionFilters" in line
    ]


def pushed_filters(df: DataFrame) -> list[str]:
    return [
        line.strip()
        for line in formatted_plan(df).splitlines()
        if "PushedFilters" in line
    ]


def assert_no_cartesian(df: DataFrame, ctx: str = "") -> DataFrame:
    if has_cartesian(df):
        raise AssertionError(
            f"plan contains a cartesian/nested-loop join{' in ' + ctx if ctx else ''}"
        )
    return df


def assert_column_pruned(df: DataFrame, table: str, forbidden_col: str) -> DataFrame:
    """Assert no scan of ``table`` reads ``forbidden_col``."""
    for location, schema in scan_read_schemas(df):
        if table in location and forbidden_col in schema:
            raise AssertionError(
                f"scan of {table} reads unpruned column {forbidden_col}: {schema}"
            )
    return df
