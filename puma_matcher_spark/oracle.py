"""Local Spark↔DuckDB parity harness — mimics the driver's correctness gate
(row-count + schema + order-insensitive value comparison) so mismatches are
caught before a round submission.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import SparkSession

from puma_matcher_spark.sources.testdata import RAW_TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in RAW_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / 0.0 and fix float repr instability
        return round(v + 0.0, 9)
    if isinstance(v, bool):
        return bool(v)
    return v


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    mismatches: list = field(default_factory=list)

    def __str__(self):
        s = "OK " if self.ok else "FAIL"
        msg = f"[{s}] {self.name}: spark={self.spark_rows} oracle={self.oracle_rows}"
        for mm in self.mismatches[:5]:
            msg += f"\n    {mm}"
        return msg


def compare_query(
    spark: SparkSession,
    con: duckdb.DuckDBPyConnection,
    name: str,
    spark_fn,
    sql: str,
    sf_dir: str,
) -> CompareResult:
    sdf = spark_fn(spark, sf_dir)
    cols = sorted(sdf.columns)
    spark_rows = [
        tuple(_norm(r[c]) for c in cols) for r in sdf.collect()
    ]
    odf = con.sql(sql)
    ocols_order = list(odf.columns)
    if sorted(ocols_order) != cols:
        return CompareResult(
            name,
            False,
            len(spark_rows),
            -1,
            [f"column mismatch: spark={cols} oracle={sorted(ocols_order)}"],
        )
    idx = [ocols_order.index(c) for c in cols]
    oracle_rows = [tuple(_norm(row[i]) for i in idx) for row in odf.fetchall()]
    mismatches = []
    if len(spark_rows) != len(oracle_rows):
        mismatches.append(f"row count {len(spark_rows)} vs {len(oracle_rows)}")
    s_sorted = sorted(spark_rows, key=repr)
    o_sorted = sorted(oracle_rows, key=repr)
    if not mismatches and s_sorted != o_sorted:
        shown = 0
        for a, b in zip(s_sorted, o_sorted):
            if a != b:
                mismatches.append(f"spark={a} oracle={b}")
                shown += 1
                if shown >= 5:
                    break
    return CompareResult(
        name, not mismatches, len(spark_rows), len(oracle_rows), mismatches
    )


def run_all(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Compare every registered query that has an oracle twin (or only
    ``names``) against DuckDB; one CompareResult per query.  A requested
    name that is not registered or has no twin raises ValueError before
    any query runs."""
    from puma_matcher_spark.queries import REGISTRY

    if names:
        unchecked = [
            n for n in names if n not in REGISTRY or REGISTRY[n].oracle is None
        ]
        if unchecked:
            raise ValueError(
                f"no oracle twin to compare (unregistered or oracle-less): "
                f"{unchecked}"
            )
    con = duck_connection(sf_dir)
    results = []
    for name, spec in REGISTRY.items():
        if names and name not in names:
            continue
        if spec.oracle is None:
            continue
        try:
            results.append(
                compare_query(spark, con, name, spec.spark_fn, spec.oracle, sf_dir)
            )
        except Exception as e:  # surface per-query failures, keep going
            results.append(
                CompareResult(name, False, -1, -1, [f"EXC {type(e).__name__}: {e}"])
            )
    return results
