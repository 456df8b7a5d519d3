"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def rebalance(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions than
    the cluster has cores.

    Compute-heavy column work (minhash signatures, shingle transforms,
    hyperplane projections) inherits the scan's partitioning; a small
    single-file parquet table arrives as 1 partition and serializes the whole
    operator on one core. At real corpus scale (files >> maxPartitionBytes)
    the scan already yields >= cores partitions and this is a no-op — so the
    shuffle cost is only ever paid on inputs small enough for it to be cheap.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """A typed, empty DataFrame of ``schema`` (nullable fields) planned in
    the JVM: a zero-row limit over a one-row range, which the optimizer
    folds to an empty local relation, so a union with it runs no task.
    ``createDataFrame([], schema)`` instead converts the empty list in a
    Python-worker job."""
    return spark.range(1).limit(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )
