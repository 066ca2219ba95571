"""Transcript-table sources (SURVEY §2.1 S1-S6).

The reference's five crawler plugins (local/FTP/SSH/S3/HTTP) all produce
the same record contract; in Spark the "plugin" is just the reader format
and path scheme — s3a:// paths hit S3 natively, etc. What we own is the
schema contract + validation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

_COLS = [f.name for f in TRANSCRIPT_SCHEMA.fields]

# catalog-table input scheme ("table:NAME") — the one spelling of the
# prefix contract; see read_transcripts
TABLE_INPUT_PREFIX = "table:"

# snapshot-table input scheme ("snap:ROOT" = current snapshot,
# "snap:ROOT@N" = time travel to snapshot N) — plans/snapshot_table.py
SNAP_INPUT_PREFIX = "snap:"


def parse_snap_input(path: str) -> tuple[str, int | None]:
    """Split a ``snap:ROOT[@N]`` input path into (root, snapshot_id|None).
    The @N suffix is only parsed when N is all digits, so table roots
    containing '@' stay addressable."""
    body = path[len(SNAP_INPUT_PREFIX):]
    root, sep, suffix = body.rpartition("@")
    if sep and suffix.isdigit():
        return root, int(suffix)
    return body, None


class SchemaError(ValueError):
    pass


def validate_schema(df: DataFrame) -> DataFrame:
    """Assert the input carries the contract columns; project + cast to the
    canonical shape (the settings-validator analog,
    settings/.../FsCrawlerValidator.java:49)."""
    missing = [c for c in _COLS if c not in df.columns]
    if missing:
        raise SchemaError(f"transcripts input missing columns: {missing}")
    return df.select(
        F.col("conv_id").cast("string").alias("conv_id"),
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("role").cast("string").alias("role"),
        F.col("text").cast("string").alias("text"),
        F.col("tool").cast("string").alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
    )


def read_transcripts(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """S1/S4: parquet (or json/csv) transcripts from any Hadoop-FS scheme
    (file://, s3a://, hdfs://...), or a catalog table via ``table:NAME``
    (the Iceberg-input shape at real scale — a bucketed table input lets
    the incremental tick's diff join co-locate with zero shuffle, see
    plans/bucketed.py).

    validate_schema's casts are no-ops (removed by SimplifyCasts) when
    the table already matches the contract types, so a bucketed table's
    output partitioning survives the projection; a mistyped column keeps
    its cast and legitimately re-shuffles."""
    if path.startswith(TABLE_INPUT_PREFIX):
        return validate_schema(spark.table(path[len(TABLE_INPUT_PREFIX):]))
    if path.startswith(SNAP_INPUT_PREFIX):
        # snapshot-table input (plans/snapshot_table.py): the read binds
        # to ONE manifest's file list, so the job sees a consistent table
        # even while writers keep committing — and an explicit @N reads
        # history (time travel)
        from fscrawler_spark.plans.snapshot_table import SnapshotTable

        root, sid = parse_snap_input(path)
        return validate_schema(SnapshotTable(root).read(spark, snapshot_id=sid))
    reader = spark.read
    if fmt == "json":
        df = reader.schema(TRANSCRIPT_SCHEMA).json(path)
    elif fmt == "csv":
        df = reader.schema(TRANSCRIPT_SCHEMA).option("header", "true").csv(path)
    else:
        df = reader.parquet(path)
    return validate_schema(df)
