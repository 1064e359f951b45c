"""JSONL corpus ingest/egress — the interchange format training-data
pipelines actually live on (one JSON doc per line, gzip-friendly,
append-only).

Scale posture:
- Reads ALWAYS pass an explicit schema: schema inference is a full
  extra pass over 100 TB and infers unstable types across shards.
- PERMISSIVE mode with a retained ``_corrupt_record`` column — a
  malformed shard must not kill a 12-hour ingest; the audit splits
  clean rows from quarantined lines in ONE scan (no re-read), and
  the quarantine frame keeps the raw line for replay.
- Writes bound file sizes via ``maxRecordsPerFile`` and partition by
  a layout column when given — the same small-files discipline as
  operators/pipeline.py::write_dataset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def write_jsonl(
    df: DataFrame,
    path: str,
    max_records_per_file: int = 100_000,
    partition_by: str | None = None,
) -> None:
    """Write a corpus as JSONL shards with bounded file sizes."""
    w = df.write.mode("overwrite").option(
        "maxRecordsPerFile", max_records_per_file
    )
    if partition_by:
        w = w.partitionBy(partition_by)
    w.json(path)


def read_jsonl_corpus(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Open a JSONL corpus with an explicit schema and a retained
    corrupt-record column (PERMISSIVE mode). The returned frame has
    ``schema``'s columns plus ``_corrupt_record`` (null for clean
    rows)."""
    full = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """ONE-scan split of a PERMISSIVE read into (clean, quarantine):
    clean drops the corrupt column; quarantine keeps the raw line
    for replay after the producer is fixed. Spark requires
    materializing the frame before referencing the corrupt column in
    a filter (SPARK-21610); a lazy local checkpoint does that and
    makes the two consumers share the single scan. Its blocks are
    freed once both returned frames are garbage-collected."""
    df = df.localCheckpoint(eager=False)
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, quarantine
