"""Round-3 module-review fixes: byte semantics, null handling, PII
precision, metadata-only mode.

Reference parity: Fs.index_content (metadata-only crawl), file.filesize
as BYTES.
"""

from pyspark.sql import functions as F

from fscrawler_spark.config import ExtractSettings


def test_size_gate_keeps_null_text(spark):
    from fscrawler_spark.operators.filters import size_gate_predicate

    df = spark.createDataFrame(
        [("a", None), ("b", "x" * 10), ("c", "x" * 500)], "id string, text string"
    )
    kept = df.filter(size_gate_predicate(F.col("text"), 100))
    assert {r["id"] for r in kept.collect()} == {"a", "b"}


def test_filesize_is_bytes_not_chars(spark):
    from fscrawler_spark.operators.extract import extract_transcripts

    df = spark.createDataFrame(
        [("c", 0, "user", "中文テキスト解析", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    row = extract_transcripts(df, ExtractSettings(num_buckets=2)).first()
    assert row["file"]["filesize"] == len("中文テキスト解析".encode())  # 24, not 8


def test_phone_redaction_does_not_eat_digit_run_tails(spark):
    from fscrawler_spark.functions.curation import redact_pii

    df = spark.createDataFrame(
        [
            ("a", "2023.456.7890 units shipped"),   # NOT a phone
            ("b", "call 555-123-4567 now"),         # a phone mid-string
            ("c", "555-123-4567 leads"),            # a phone at line start
            ("d", "+1-234-567-8901 intl"),          # + prefix still matches
        ],
        "id string, text string",
    )
    got = {r["id"]: r["red"] for r in df.select("id", redact_pii("text").alias("red")).collect()}
    assert got["a"] == "2023.456.7890 units shipped"
    assert got["b"] == "call <PHONE> now"
    assert got["c"] == "<PHONE> leads"
    assert got["d"] == "<PHONE> intl"


def test_repetition_stats_emits_zero_rows_for_short_docs(spark):
    from fscrawler_spark.functions.curation import repetition_stats

    df = spark.createDataFrame(
        [("long", "a b a b a b"), ("one", "single"), ("nul", None)],
        "doc_id string, text string",
    )
    rows = {r["id"]: r for r in repetition_stats(df).collect()}
    assert set(rows) == {"long", "one", "nul"}  # every doc has a row
    assert rows["one"]["ngram_total"] == 0
    assert rows["one"]["rep_fraction"] == 0.0
    assert rows["nul"]["ngram_total"] == 0
    assert rows["long"]["ngram_total"] == 5


def test_index_content_false_stores_metadata_only(spark):
    from fscrawler_spark.operators.extract import extract_transcripts

    df = spark.createDataFrame(
        [("c", 0, "user", "<html><body><p>hello world</p></body></html>", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    row = extract_transcripts(df, ExtractSettings(num_buckets=2, index_content=False)).first()
    assert row["extracted"] is None and row["spans"] == []
    # the parse still ran: mime/meta/file describe the payload
    assert row["mime"] == "text/html"
    assert row["file"]["checksum"]
    on = extract_transcripts(df, ExtractSettings(num_buckets=2)).first()
    assert on["extracted"] is not None


def test_index_content_false_filters_still_apply(spark):
    """F2 content filters must gate on the PARSE output even in
    metadata-only mode (nulled stored content must not turn the filter
    into keep-all)."""
    from fscrawler_spark.operators.extract import extract_transcripts

    df = spark.createDataFrame(
        [("c", 0, "user", "keep confidential data", None, None),
         ("c", 1, "user", "nothing to see", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    st = ExtractSettings(num_buckets=2, index_content=False, filters=("confidential",))
    rows = extract_transcripts(df, st).collect()
    assert [r["turn_idx"] for r in rows] == [0]
    assert rows[0]["extracted"] is None  # still metadata-only
