"""Round-2 T13/T14 parsed-object column + T5 needs_ocr dispatch tests.

Golden-style unit tests mirroring the reference's XmlDocParserTest /
TikaDocParserTest shape (exact map entries, failure tolerance), plus the
Spark-side plumbing: object column in the pipeline output, needs_ocr
countable in lineage metrics.
"""

import os

from pyspark.sql import functions as F

from fscrawler_spark.config import ExtractSettings
from fscrawler_spark.functions.extractors import (
    extract,
    extract_object,
    sniff_mime,
)


# --- extract_object golden tests (XmlDocParser.java:44-82 semantics) -----


def test_json_object_nested_paths():
    obj = extract_object('{"a": {"b": 1, "c": "x"}, "d": [true, "y"], "e": 1.5}', "application/json")
    assert obj == {"a.b": "1", "a.c": "x", "d.0": "true", "d.1": "y", "e": "1.5"}


def test_json_object_scalar_root_and_null():
    assert extract_object('"just a string"', "application/json") == {"$": "just a string"}
    # null scalar serializes JSON-canonically
    assert extract_object('{"k": null}', "application/json") == {"k": "null"}


def test_json_object_duplicate_keys_keep_last():
    assert extract_object('{"k": "a", "k": "b"}', "application/json") == {"k": "b"}


def test_json_object_malformed_is_none():
    assert extract_object('{"unterminated": ', "application/json") is None


def test_xml_object_text_nodes_as_dollar_and_attributes():
    obj = extract_object(
        '<?xml version="1.0"?><doc id="7"><title>T</title><body lang="en">hello</body></doc>',
        "application/xml",
    )
    assert obj == {
        "doc.@id": "7",
        "doc.title.$": "T",
        "doc.body.@lang": "en",
        "doc.body.$": "hello",
    }


def test_xml_object_namespace_stripped_and_whitespace_only():
    obj = extract_object(
        '<a:root xmlns:a="urn:x"><a:kid>v</a:kid></a:root>', "application/xml"
    )
    assert obj == {"root.kid.$": "v"}
    # whitespace-only text nodes carry no object entries
    assert extract_object("<doc>   \n</doc>", "application/xml") is None


def test_xml_object_malformed_is_none():
    assert extract_object("<doc><open>", "application/xml") is None


def test_object_only_for_structured_mimes():
    assert extract_object("plain words", "text/plain") is None
    assert extract_object("<html><body>x</body></html>", "text/html") is None


# --- T5 needs_ocr dispatch ------------------------------------------------


def test_image_magics_dispatch_to_needs_ocr():
    for payload, mime in [
        ("\x89PNG\r\n\x1a\nBYTES", "image/png"),
        ("\xff\xd8\xffJFIFBYTES", "image/jpeg"),
        ("GIF89aBYTES", "image/gif"),
        ("II*\x00BYTES", "image/tiff"),
        ("MM\x00*BYTES", "image/tiff"),
    ]:
        assert sniff_mime(payload) == mime
        r = extract(payload)
        assert (r.mime, r.extracted, r.error) == (mime, None, "needs_ocr"), payload[:8]


def test_broken_binary_still_parse_error():
    """needs_ocr must be distinguishable from genuinely broken rows."""
    r = extract("PK\x00\x01 corrupted")
    assert (r.mime, r.error) == ("application/octet-stream", "parse_error")
    r = extract("ENC:deadbeef")
    assert r.error == "encrypted"


# --- Spark-side plumbing ---------------------------------------------------


def test_pipeline_emits_object_column_when_enabled(spark):
    from fscrawler_spark.operators.extract import extract_transcripts

    rows = [
        ("c", 0, "user", '{"a": {"b": "v"}}', None, None),
        ("c", 1, "user", "<?xml version='1.0'?><d><k>x</k></d>", None, None),
        ("c", 2, "user", "plain", None, None),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    src = spark.createDataFrame(rows, schema)
    out = extract_transcripts(src, ExtractSettings(parse_object=True)).orderBy("turn_idx")
    got = out.select("turn_idx", "object").collect()
    assert got[0]["object"] == {"a.b": "v"}
    assert got[1]["object"] == {"d.k.$": "x"}
    assert got[2]["object"] is None
    # default settings: no object column at all (hot path unchanged)
    assert "object" not in extract_transcripts(src).columns


def test_needs_ocr_countable_in_metrics(spark, tmp_path):
    from fscrawler_spark.plans.pipeline import run_extraction_job

    rows = [
        ("c", 0, "user", "\x89PNG\r\n\x1a\nimgbytes", None, None),
        ("c", 1, "user", "PK\x00\x01 broken", None, None),
        ("c", 2, "user", "fine text", None, None),
    ]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    inp = str(tmp_path / "in.parquet")
    spark.createDataFrame(rows, schema).write.parquet(inp)
    out = str(tmp_path / "out")
    run_extraction_job(spark, inp, out, ExtractSettings(num_buckets=4))
    m = (
        spark.read.parquet(os.path.join(out, "metrics"))
        .agg(F.sum("needs_ocr").alias("o"), F.sum("parse_failures").alias("f"))
        .collect()[0]
    )
    # the image row counts ONLY as needs_ocr; parse_failures is the
    # genuinely broken row — the two counters partition the error space
    assert m["o"] == 1
    assert m["f"] == 1
