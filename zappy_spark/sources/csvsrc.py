"""CSV ingest/egress with the same scale posture as jsonl.py: explicit
schema always (inference is an extra full pass and infers unstable
types across shards), PERMISSIVE quarantine with the raw line
retained for replay, bounded file sizes on write.

CSV is the interchange format structured feeds arrive in (exports,
labeling vendors, spreadsheets); the quarantine path matters more
than for JSONL because quoting/escaping damage is endemic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def write_csv(
    df: DataFrame,
    path: str,
    max_records_per_file: int = 100_000,
    partition_by: str | None = None,
) -> None:
    w = (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .option("header", True)
    )
    if partition_by:
        w = w.partitionBy(partition_by)
    w.csv(path)


def read_csv_corpus(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """PERMISSIVE read: rows that fail the schema land whole in
    ``_corrupt_record`` instead of killing the job; pair with
    ``split_corrupt``. The corrupt column is appended to the
    caller's schema here so callers declare only real fields."""
    full = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
    )
    return (
        spark.read.schema(full)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """ONE-scan split into (clean, quarantine) — same contract as
    jsonl.split_corrupt, including the SPARK-21610 checkpoint (Spark
    disallows filtering a raw CSV read on only the corrupt
    column; the checkpoint also makes both consumers share the
    scan)."""
    from pyspark.sql import functions as F

    df = df.localCheckpoint(eager=False)
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantined = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, quarantined
