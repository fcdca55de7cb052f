"""Arrow local-relation builder for tiny driver-literal frames (r13).

``spark.createDataFrame`` on a Python LIST takes the Python-RDD path:
the plan carries a ``Scan ExistingRDD`` leaf whose partitions
round-trip a Python worker on EVERY action that re-executes the
subtree (~0.3 s per action measured at 16 rows, plus ~1.6 s of
worker spin-up for a session's first list frame), while the
Arrow path plans a pure-JVM ``LocalTableScan`` with an
identical schema. The engine's centroid tables, codebooks, salt maps
and band tables are all driver literals that sit UNDER hot subtrees
(crossJoins, broadcasts) and re-execute once per probe/action — they
belong on the JVM path.

`sources/txsql.py:_lit_frame` solves the same problem for its tiny
string frames with literal SELECTs; this helper is the general-schema
variant (arrays, timestamps). It hands Spark a ``pyarrow.Table``,
which plans a ``LocalTableScan`` whatever the session's
``spark.sql.execution.arrow.pyspark.enabled`` setting — a pandas frame
would fall back to the ExistingRDD path when that conf is off.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows, ddl) -> DataFrame:
    """A ``LocalTableScan`` DataFrame from driver-side ``rows`` (list
    of tuples) with the schema given by ``ddl`` (DDL string or
    StructType). Empty input builds the empty frame directly. Naive
    datetimes are read as UTC (the session time zone the engine
    pins)."""
    schema = StructType.fromDDL(ddl) if isinstance(ddl, str) else ddl
    if not rows:
        return spark.createDataFrame([], schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type)
         for col, f in zip(zip(*rows), arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, schema)
