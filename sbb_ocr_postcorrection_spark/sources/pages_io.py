"""Pages-table sources and sinks (SURVEY.md §2.1).

The reference moved data through five ad-hoc file formats (JSON corpus
dumps, SQLite, .npy, pickle, plain text — S5-S10); here one canonical
schema flows through partitioned parquet (Iceberg-layout emulation; the
container has no Iceberg jars — swapping the writer for
``df.writeTo(...).overwritePartitions()`` is sink-local).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """S1-analog scan with the schema pinned (no inference — the reference's
    only declared schema was its SQLite DDL; ours is explicit everywhere)."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def write_extractions(df: DataFrame, path: str) -> None:
    """S6/S10-analog sink: idempotent overwrite of (dt, bkt) partitions
    (requires spark.sql.sources.partitionOverwriteMode=dynamic, set by
    pipeline.build_session). Never a blind append — contrast the
    reference's append=True default (preprocessing/database.py:14-15)."""
    df.write.mode("overwrite").partitionBy("dt", "bkt").parquet(path)

