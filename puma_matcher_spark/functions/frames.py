"""Small frames built from driver-side rows.

``spark.createDataFrame(<list>)`` parallelizes the rows through a Python
``map`` (a PythonRDD): the first job that reads such a frame forks the
pyspark daemon and its workers, 5 Python processes on a 4-core host.
The same rows sent as an Arrow table are parsed on the JVM side, so
reading them starts no Python process.  Collecting a first 10-row frame
in a fresh session on 4 cores took 1.8-2.3 s from a list and 0.7-1.2 s
from Arrow (three runs each).  ``local_frame`` is the one path every
driver-built frame in the library takes.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows: Iterable[tuple], ddl: str) -> DataFrame:
    """``rows`` (tuples in column order) as a DataFrame of exactly the
    schema in ``ddl`` (e.g. ``"id BIGINT, name STRING"``): names, types
    and nullability.  Built from an Arrow table, so its lineage holds no
    Python worker."""
    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
