"""One-row result frames built on the JVM.

``spark.createDataFrame([...])`` ships a pickled Python RDD, so running
the frame starts Python workers for a single row.  ``one_row`` builds
the same row from typed literals over ``spark.range(1)``: a plain
JVM plan with no ``ExistingRDD`` scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def one_row(spark: SparkSession, ddl: str, *values) -> DataFrame:
    """A one-row frame of ``values``, named and typed by the simple DDL
    field list ``ddl`` (``"nodes long, ratio double"``)."""
    fields = [f.split() for f in ddl.split(",")]
    if len(fields) != len(values):
        raise ValueError(f"{len(values)} values for {len(fields)} fields: {ddl!r}")
    return spark.range(1).select(
        *(F.lit(v).cast(t).alias(name) for (name, t), v in zip(fields, values))
    )
