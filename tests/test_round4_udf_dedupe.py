"""Round 4: adaptive in-batch memoization of identical turn texts
(udfs.make_extract_udf probes each Arrow batch and extracts only the
unique texts when duplication shows up). The invariant under test:
output is BYTE-IDENTICAL to the direct path — build_extract_batch over
per-row extract — for any mix of mimes, nulls, and duplication levels."""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from fscrawler_spark.config import ExtractSettings
from fscrawler_spark.functions.extractors import extract
from fscrawler_spark.functions.udfs import (
    _DEDUPE_MIN_BATCH,
    build_extract_batch,
    limit_for,
    make_extract_udf,
)
from fscrawler_spark.operators.extract import extract_transcripts

HTML = "<html><head><title>T</title></head><body><p>kept body text</p></body></html>"
JSON_DOC = '{"k": "key skipped", "v": "value kept"}'
PDF = "%PDF-1.4\nlayout line one\n%%Page: 2\nlayout line two"
XML = "<?xml version='1.0'?><doc><a>alpha</a><b>beta</b></doc>"
PLAIN = "just plain text with nothing special"


def _raw(settings: ExtractSettings):
    """The underlying python function of the Arrow UDF (no Spark)."""
    return make_extract_udf(settings).func


def _direct(settings: ExtractSettings):
    """The reference: every row extracted on its own, no memoization."""
    return lambda arr: build_extract_batch(
        ((t, extract(t, limit_for(settings, t))) for t in arr.to_pylist()), settings
    )


def _rows(texts):
    return pa.array(texts, pa.string())


def test_dedupe_path_matches_direct_on_duplicate_heavy_batch():
    base = [HTML, JSON_DOC, PDF, XML, PLAIN, "", "ENC:secret", None]
    texts = base * ((_DEDUPE_MIN_BATCH * 2) // len(base) + 1)
    arr = _rows(texts)
    out_dedupe = _raw(ExtractSettings())(arr)
    out_direct = _direct(ExtractSettings())(arr)
    assert out_dedupe.to_pylist() == out_direct.to_pylist()
    # null text must still yield the non-null None-extract struct
    i_null = texts.index(None)
    row = out_dedupe[i_null].as_py()
    assert row is not None and row["mime"] == "text/plain"


def test_dedupe_path_matches_direct_on_unique_batch():
    texts = [f"{PLAIN} #{i}" if i % 3 else f"<p>doc {i}</p>" for i in range(_DEDUPE_MIN_BATCH + 50)]
    arr = _rows(texts)
    assert (
        _raw(ExtractSettings())(arr).to_pylist()
        == _direct(ExtractSettings())(arr).to_pylist()
    )


def test_small_batches_skip_the_probe():
    texts = [HTML, HTML, None, PLAIN] * 8  # well under _DEDUPE_MIN_BATCH
    arr = _rows(texts)
    assert (
        _raw(ExtractSettings())(arr).to_pylist()
        == _direct(ExtractSettings())(arr).to_pylist()
    )


def test_raw_metadata_and_object_ride_through_dedupe():
    texts = [JSON_DOC, XML, HTML, None] * (_DEDUPE_MIN_BATCH // 2)
    arr = _rows(texts)
    s = ExtractSettings(raw_metadata=True, parse_object=True)
    assert _raw(s)(arr).to_pylist() == _direct(s)(arr).to_pylist()


@pytest.mark.parametrize("dup_factor", [1, 6])
def test_spark_e2e_equality_across_paths(spark, tmp_path, dup_factor):
    """Through real Spark batching: every extract_transcripts row equals
    the direct per-row extract of its text at any duplication level."""
    rows = []
    for c in range(60):
        for t in range(dup_factor):
            rows.append((f"conv-{c}", t, "user", [HTML, JSON_DOC, PLAIN, None][c % 4], None))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.lit("2026-01-01T00:00:00Z").cast("timestamp"))
    settings = ExtractSettings(num_buckets=4)
    key = ["conv_id", "turn_idx"]
    got = [
        r.asDict(recursive=True)
        for r in extract_transcripts(df, settings)
        .select(*key, "mime", "extracted", "spans", "error")
        .orderBy(*key)
        .collect()
    ]
    rows.sort(key=lambda r: (r[0], r[1]))
    ref = _direct(settings)(_rows([r[3] for r in rows])).to_pylist()
    assert got == [
        {"conv_id": r[0], "turn_idx": r[1], **{k: x[k] for k in ("mime", "extracted", "spans", "error")}}
        for r, x in zip(rows, ref)
    ]
