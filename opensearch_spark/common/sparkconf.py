"""Small Spark helpers shared across modules: conf lookups and the
driver-held frames that requests build."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerating platforms
    that set it to a non-numeric value (e.g. ``auto`` under managed AQE):
    falls back to the session's default parallelism instead of crashing
    every positions-based query with a ValueError (round-4 review). One
    authoring site — was copy-pasted at four call sites."""
    raw = spark.conf.get("spark.sql.shuffle.partitions", None)
    try:
        return int(raw)
    except (TypeError, ValueError):
        return int(spark.sparkContext.defaultParallelism)


def local_frame(spark: SparkSession, data, schema: str) -> DataFrame:
    """A small driver-built frame (a list of row tuples, a dict of columns
    or a pandas frame) as a JVM-local relation, so no Spark job and no
    Python worker runs to build or read it. ``createDataFrame(list)``
    parallelizes a Python RDD (one 4-task Python job per use); a non-empty
    pandas frame goes through Arrow into a ``LocalRelation``, which also
    carries each float64 exactly. An empty pandas frame would take the RDD
    path again, so no rows become a SQL relation the optimizer folds to an
    empty ``LocalRelation``."""
    struct = StructType.fromDDL(schema)
    pdf = pd.DataFrame(data, columns=struct.names)
    if len(pdf):
        return spark.createDataFrame(pdf, struct)
    cols = ", ".join(f"CAST(NULL AS {f.dataType.simpleString()}) AS `{f.name}`"
                     for f in struct.fields)
    return spark.sql(f"SELECT {cols} WHERE false")
