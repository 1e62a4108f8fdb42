"""SQL surface: register the engine's tables as views so users can run
plain `spark.sql` against them (the reference's users consume gold tables
through Athena SQL; here the same queries run in-engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sources.files import TESTDATA_TABLES, read_testdata


def register_testdata_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    for name in tables:
        read_testdata(spark, sf_dir, name).createOrReplaceTempView(name)


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Pass-through kept as the engine's official SQL entry point."""
    return spark.sql(query)
