"""The one way to read a scale-factor table.

A scale-factor directory holds one ``{name}.parquet`` per table. The
test tables are single files of one row group, so their scan is one
split: every stage Catalyst keeps below the first exchange then runs
as one task. ``spread`` round-robins such a frame to
``defaultParallelism`` partitions — but only when it has fewer, since
at real scale the scan is already wide and an unconditional
repartition would shuffle the whole corpus for nothing. ``cents``
(Spark) and ``cents_sql`` (DuckDB) turn the DOUBLE money columns into
BIGINT cents, the floor of the value times 100, because sums are exact
— equal on both engines under any partitioning — only on integers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    p = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df if df.rdd.getNumPartitions() >= p else df.repartition(p)


def documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(table(spark, sf_dir, "documents"))


def cents(c: Column) -> Column:
    return F.floor(c * 100).cast("long")


def cents_sql(expr: str) -> str:
    return f"CAST(floor({expr} * 100) AS BIGINT)"
