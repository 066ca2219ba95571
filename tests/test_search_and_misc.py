"""Search DSL lowering, lang-detect column, CLI."""

import os

from pyspark.sql import functions as F

from fscrawler_spark.config import ExtractSettings
from fscrawler_spark.operators.extract import extract_transcripts
from fscrawler_spark.operators.search import (
    Bool,
    Match,
    Prefix,
    Range,
    SearchRequest,
    Term,
    execute_search,
)

SF_DIR = "/root/testdata/sf0.001"


def docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


# --- search DSL -----------------------------------------------------------------

def test_term_and_range(spark):
    req = SearchRequest(
        query=Bool(must=(Term("lang", "en"), Range("n_chars", gte=100, lt=300))),
        size=1000,
        fields=("doc_id", "lang", "n_chars"),
    )
    rows = execute_search(docs(spark), req).collect()
    assert rows and all(r["lang"] == "en" and 100 <= r["n_chars"] < 300 for r in rows)


def test_match_or_semantics(spark):
    req = SearchRequest(query=Match("text", "spark window"), size=10_000)
    got = execute_search(docs(spark), req).count()
    expected = (
        docs(spark)
        .filter(
            F.array_contains(F.split(F.lower("text"), r"\s+"), "spark")
            | F.array_contains(F.split(F.lower("text"), r"\s+"), "window")
        )
        .count()
    )
    assert got == expected > 0


def test_prefix_mustnot_and_sort_limit(spark):
    req = SearchRequest(
        query=Bool(must=(Prefix("source", "src1"),), must_not=(Term("lang", "zh"),)),
        size=5,
        sort=(("n_chars", "desc"),),
        fields=("doc_id", "source", "lang", "n_chars"),
    )
    rows = execute_search(docs(spark), req).collect()
    assert len(rows) == 5
    assert all(r["source"].startswith("src1") and r["lang"] != "zh" for r in rows)
    chars = [r["n_chars"] for r in rows]
    assert chars == sorted(chars, reverse=True)


def test_search_filter_pushdown(spark):
    """Term/Range predicates must reach the parquet scan (PushedFilters)."""
    req = SearchRequest(query=Bool(must=(Term("lang", "en"), Range("n_chars", gte=100))))
    plan = (
        execute_search(docs(spark), req)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan
    assert "IsNotNull(lang)" in plan or "EqualTo(lang,en)" in plan


# --- lang detect column (T9) --------------------------------------------------------

def test_lang_detect_meta_column(spark):
    src = spark.createDataFrame(
        [
            ("c", 0, "the fox and the dog are in the barn and it is that time"),
            ("c", 1, "el perro y la casa de los gatos en un lugar con las cosas"),
        ],
        "conv_id string, turn_idx int, text string",
    ).withColumns(
        {
            "role": F.lit("user"),
            "tool": F.lit(None).cast("string"),
            "ts": F.lit("2024-01-01 00:00:00").cast("timestamp"),
        }
    )
    out = extract_transcripts(src, ExtractSettings(num_buckets=2, lang_detect=True))
    rows = {r["turn_idx"]: r["meta"]["language"] for r in out.collect()}
    assert rows[0] == "en" and rows[1] == "es"


# --- raw metadata (T8) ----------------------------------------------------------

def test_raw_metadata_capture(spark):
    src = spark.createDataFrame(
        [
            (
                "c",
                0,
                '<html><head><title>t</title><meta name="author" content="Ada">'
                '<meta name="dc.date" content="2024-01-01"></head>'
                "<body><p>real content body text here</p></body></html>",
            ),
            ("c", 1, '{"title": "Doc", "count": 3, "nested": {"x": 1}}'),
            ("c", 2, "plain text no metadata"),
        ],
        "conv_id string, turn_idx int, text string",
    ).withColumns(
        {
            "role": F.lit("user"),
            "tool": F.lit(None).cast("string"),
            "ts": F.lit("2024-01-01 00:00:00").cast("timestamp"),
        }
    )
    out = extract_transcripts(src, ExtractSettings(num_buckets=2, raw_metadata=True))
    rows = {r["turn_idx"]: r["meta"]["raw"] for r in out.collect()}
    assert rows[0] == {"author": "Ada", "dc:date": "2024-01-01"}  # dots -> colons
    assert rows[1] == {"title": "Doc", "count": "3"}  # scalars only
    assert rows[2] is None
    # default off: no raw maps materialized
    out2 = extract_transcripts(src, ExtractSettings(num_buckets=2))
    assert all(r["meta"]["raw"] is None for r in out2.collect())


# --- settings variants --------------------------------------------------------------

def test_indexed_chars_percent(spark):
    src = spark.createDataFrame(
        [("c", 0, "x" * 100)],
        "conv_id string, turn_idx int, text string",
    ).withColumns(
        {
            "role": F.lit("user"),
            "tool": F.lit(None).cast("string"),
            "ts": F.lit("2024-01-01 00:00:00").cast("timestamp"),
        }
    )
    # 10% of a 100-char payload -> 10 extracted chars (Percentage.java analog)
    out = extract_transcripts(src, ExtractSettings(num_buckets=2, indexed_chars_percent=0.1))
    r = out.collect()[0]
    assert r["extracted"] == "x" * 10


def test_store_source_attachment(spark):
    import base64

    src = spark.createDataFrame(
        [("c", 0, "payload body")],
        "conv_id string, turn_idx int, text string",
    ).withColumns(
        {
            "role": F.lit("user"),
            "tool": F.lit(None).cast("string"),
            "ts": F.lit("2024-01-01 00:00:00").cast("timestamp"),
        }
    )
    out = extract_transcripts(src, ExtractSettings(num_buckets=2, store_source=True))
    r = out.collect()[0]
    assert base64.b64decode(r["attachment"]).decode() == "payload body"


def test_cli_restart_full_rescan(transcripts_dir, tmp_path):
    import json
    import subprocess
    import sys

    out = str(tmp_path / "restart_out")
    args = [
        sys.executable, "-m", "fscrawler_spark.cli",
        "--input", os.path.join(transcripts_dir, "transcripts.parquet"),
        "--output", out, "--num-buckets", "4", "--master", "local[4]",
    ]
    r1 = subprocess.run(args, capture_output=True, text=True, timeout=300, cwd="/root/repo")
    assert r1.returncode == 0, r1.stderr[-1500:]
    # without --restart: no-op; with --restart: full rescan
    r2 = subprocess.run(args + ["--restart"], capture_output=True, text=True, timeout=300, cwd="/root/repo")
    assert r2.returncode == 0, r2.stderr[-1500:]
    line = [l for l in r2.stdout.splitlines() if l.startswith("{")][0]
    assert len(json.loads(line)["written_buckets"]) == 4


# --- CLI --------------------------------------------------------------------------

def test_cli_end_to_end(transcripts_dir, tmp_path):
    import subprocess
    import sys

    out = str(tmp_path / "cli_out")
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "fscrawler_spark.cli",
            "--input",
            os.path.join(transcripts_dir, "transcripts.parquet"),
            "--output",
            out,
            "--num-buckets",
            "4",
            "--master",
            "local[4]",
            "--loop",
            "2",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    assert len(lines) == 2
    import json

    first, second = json.loads(lines[0]), json.loads(lines[1])
    assert len(first["written_buckets"]) == 4
    assert second["written_buckets"] == []  # loop 2 is a checkpointed no-op
    assert os.path.exists(os.path.join(out, "docs"))
