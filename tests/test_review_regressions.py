"""Regression tests for the round-1 code-review findings — each test
pins one bug that was empirically confirmed and fixed."""

import os
import warnings

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.config import ExtractSettings
from fscrawler_spark.functions import dedup
from fscrawler_spark.functions.extractors import extract, extract_raw_meta
from fscrawler_spark.operators.deletes import apply_deletes
from fscrawler_spark.operators.extract import extract_transcripts
from fscrawler_spark.operators.search import SearchRequest, execute_search
from fscrawler_spark.plans.pipeline import run_extraction_job


def _turns(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    ).withColumns(
        {
            "role": F.lit("user"),
            "tool": F.lit(None).cast("string"),
            "ts": F.lit("2024-01-01 00:00:00").cast("timestamp"),
        }
    )


def test_bare_lt_is_text_not_tag():
    # '5 < 6' must keep ' 6 ...' (HTML5: '<' + non-letter is text)
    r = extract("<html><body><p>5 < 6 is certainly true</p></body></html>")
    assert r.extracted == "5 < 6 is certainly true"
    r2 = extract("<?xml version='1.0'?><doc>1 < 2</doc>")
    assert r2.extracted == "1 < 2"
    # '<' + whitespace + letter is ALSO text (second-pass review finding)
    r3 = extract("<html><body><p>a < b is certainly true</p></body></html>")
    assert r3.extracted == "a < b is certainly true"


def test_title_without_head_not_in_content():
    r = extract("<html><title>My Page Title</title><body><p>real body content here okay</p></body></html>")
    assert r.title == "My Page Title"
    assert r.extracted == "real body content here okay"


def test_svg_title_not_document_title():
    r = extract(
        "<html><head></head><body><svg><title>icon label</title></svg>"
        "<p>body text content words</p></body></html>"
    )
    assert r.title is None
    assert r.extracted == "body text content words"


def test_meta_tag_with_gt_in_content():
    raw = extract_raw_meta('<html><head><meta name="desc" content="a > b"></head></html>', "text/html")
    assert raw == {"desc": "a > b"}


def test_json_raw_meta_canonical_scalars():
    raw = extract_raw_meta('{"ok": true, "n": 3, "s": "x"}', "application/json")
    assert raw == {"ok": "true", "n": "3", "s": "x"}


def test_checksum_algo_validated():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="checksum_algo"):
        ExtractSettings(checksum_algo="SHA256")


def test_apply_deletes_handles_fully_emptied_bucket(spark, tmp_path):
    src = _turns(spark, [("solo-conv", i, f"text {i}") for i in range(10)] + [("other", 0, "keep me")])
    out = str(tmp_path / "out")
    st = ExtractSettings(num_buckets=4, skew_salt=1)
    docs = extract_transcripts(src, st)
    docs.write.mode("overwrite").partitionBy("part_bucket").parquet(out)
    before = spark.read.parquet(out)
    # delete EVERY row of solo-conv — its bucket(s) may become empty
    victims = before.filter(F.col("conv_id") == "solo-conv").select("conv_id", "turn_idx")
    n = apply_deletes(spark, out, victims)
    assert n == 10
    after = spark.read.parquet(out)
    assert after.filter(F.col("conv_id") == "solo-conv").count() == 0
    assert after.filter(F.col("conv_id") == "other").count() == 1


def test_multi_key_sort_applies_all_keys(spark):
    df = spark.createDataFrame(
        [(1, "b"), (1, "a"), (2, "c")], "k int, v string"
    )
    req = SearchRequest(size=3, sort=(("k", "desc"), ("v", "asc")))
    rows = [(r["k"], r["v"]) for r in execute_search(df, req).collect()]
    assert rows == [(2, "c"), (1, "a"), (1, "b")]


def test_changed_vs_snapshot_respects_md5(spark):
    from fscrawler_spark.operators.incremental import changed_vs_snapshot

    cur = spark.createDataFrame([("c", 0, "same")], "conv_id string, turn_idx int, text string")
    prev = cur.select(
        "conv_id", "turn_idx", F.struct(F.md5("text").alias("checksum")).alias("file")
    )
    assert changed_vs_snapshot(cur, prev, checksum_algo="md5").count() == 0
    # and the mismatch case the bug produced: sha256 vs md5 flags everything
    assert changed_vs_snapshot(cur, prev, checksum_algo="sha256").count() == 1


def test_meta_tag_attribute_order_reversed():
    raw = extract_raw_meta('<html><head><meta content="Jane" name="author"></head></html>', "text/html")
    assert raw == {"author": "Jane"}


def test_connected_components_warns_when_unconverged(spark):
    # a 6-hop chain with max_iters=2 cannot converge -> RuntimeWarning
    pairs = spark.createDataFrame(
        [(i, i + 1, 0.9) for i in range(6)], "id_a long, id_b long, jaccard double"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup.connected_components(pairs, max_iters=2)
        assert any("not converged" in str(x.message) for x in w)


def test_metrics_backfilled_after_crash(spark, transcripts_dir, tmp_path):
    st = ExtractSettings(num_buckets=8, skew_salt=4)
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "crash")
    with pytest.raises(RuntimeError):
        run_extraction_job(spark, inp, out, st, fail_after_buckets=2)
    # crash happened BEFORE any metrics write; resume must cover all buckets
    run_extraction_job(spark, inp, out, st)
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.select("part_bucket").distinct().count() == st.num_buckets
