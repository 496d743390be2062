"""Driver-built relations: the one path from Python rows to a DataFrame.

``spark.createDataFrame(list)`` pickles the rows into a Python RDD, so
every evaluation of the frame forks Python workers; a hand-written
``VALUES`` SQL literal needs quote escaping, and Spark unescapes
``\\n``, ``\\t`` and ``\\b`` inside it. An Arrow table below
``spark.sql.execution.arrow.localRelationThreshold`` is planned as a JVM
``LocalRelation`` instead: no Python worker, no Spark job, and every
value arrives byte for byte.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: T.StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a LocalRelation.

    ``schema`` is a StructType or a DDL string. A null in a
    non-nullable field raises ``ValueError``.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    arrays = [pa.array(c, type=f.type) for c, f in zip(columns, arrow)]
    for f, a in zip(arrow, arrays):
        if not f.nullable and a.null_count:
            raise ValueError(f"null in non-nullable column {f.name!r}")
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)
