"""Summary/statistics operators (SURVEY §2.1 S9, §2.5 A1-A4).

Per-partition lineage/metrics live in plans/pipeline.bucket_metrics; here
is the remaining aggregate: the folder-document analog (one summary row
per conversation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def parse_failure_flag(error_col: Column | str = "error") -> Column:
    """1 when the row is a GENUINE parse failure, 0 otherwise.

    needs_ocr is excluded: it is a dispatch outcome awaiting a later OCR
    pass (T5), not a broken document — it has its own counter
    (bucket_metrics.needs_ocr) so the two counters partition the error
    space instead of double-counting. 'encrypted' STAYS a failure:
    content is genuinely unavailable."""
    c = F.col(error_col) if isinstance(error_col, str) else error_col
    return F.when(c.isNotNull() & (c != F.lit("needs_ocr")), 1).otherwise(0)


def conversation_summary(docs: DataFrame) -> DataFrame:
    """S9 folder-index analog: one row per conversation with the facts the
    reference stores per directory (FsParser.java:1576-1642), plus
    extraction health counters.

    Scale note: groupBy(conv_id) on the OUTPUT table; mega-conversations
    are a single group, but the aggregate is all sums/counts (partial
    aggregation map-side), so skew only affects one reducer's final merge
    of pre-aggregated rows — safe without salting.
    """
    return docs.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("turn_count"),
        F.min("turn_idx").alias("first_turn"),
        F.max("turn_idx").alias("last_turn"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.sum(F.col("file.filesize")).cast("long").alias("bytes_in"),
        F.sum(F.coalesce(F.octet_length("extracted"), F.lit(0))).cast("long").alias("bytes_out"),
        F.sum(parse_failure_flag()).cast("long").alias("parse_failures"),
        F.count_distinct("mime").cast("long").alias("mime_kinds"),
    )
