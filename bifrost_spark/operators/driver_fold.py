"""Exact driver folds for iterative operators over small inputs.

An iterative algorithm on Spark (label propagation, greedy merge learning)
costs a few jobs per round, and each round's plan is planned, code-generated
and JIT-compiled anew.  When the loop's whole input fits on the driver, one
job gathers it, the driver runs the same algorithm in Python, and the result
goes back as an Arrow-backed local relation (a ``LocalTableScan``: no job, no
Python worker).  Larger inputs keep the Spark loop; both paths return the
same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType

# Inputs up to this many rows are folded on the driver.  The folds are
# linear in the rows; at the bound, measured on one core of a 4-vCPU VM,
# union-find over 50,000 random pairs took 0.1 s and five BPE merges over
# 50,000 words of 2-12 letters 1.5 s.  The fixtures stay far below it (the
# sf0.1 documents have 31 distinct words).
DRIVER_FOLD_ROWS = 50_000


def collect_bounded(df: DataFrame) -> list[Row] | None:
    """All rows of ``df`` when it has at most ``DRIVER_FOLD_ROWS`` of them,
    else ``None``.  One action: the limit stops the scan one row past the
    bound.  Over the bound the caller's Spark loop computes ``df`` again."""
    rows = df.limit(DRIVER_FOLD_ROWS + 1).collect()
    return rows if len(rows) <= DRIVER_FOLD_ROWS else None


def local_relation(spark: SparkSession, columns: dict[str, list], schema: StructType) -> DataFrame:
    """A local relation over driver-side column lists, shipped as Arrow."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), schema=schema)
