"""Tests: sources + schema validation, delete application, conversation
summary."""

import os

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.config import ExtractSettings
from fscrawler_spark.operators.deletes import apply_deletes
from fscrawler_spark.operators.extract import extract_transcripts
from fscrawler_spark.operators.stats import conversation_summary
from fscrawler_spark.plans.pipeline import run_extraction_job
from fscrawler_spark.sources.transcripts import (
    SchemaError,
    read_transcripts,
    validate_schema,
)

SETTINGS = ExtractSettings(num_buckets=8)


# --- sources -------------------------------------------------------------------

def test_validate_schema_missing_column(spark):
    df = spark.createDataFrame([("c", 0)], "conv_id string, turn_idx int")
    with pytest.raises(SchemaError, match="missing columns"):
        validate_schema(df)


def test_read_transcripts_casts(spark, transcripts_dir):
    df = read_transcripts(spark, os.path.join(transcripts_dir, "transcripts.parquet"))
    assert [f.name for f in df.schema.fields] == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


# --- deletes -------------------------------------------------------------------

def test_apply_deletes_rewrites_only_affected_buckets(spark, transcripts_dir, tmp_path):
    out = str(tmp_path / "deltest")
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    run_extraction_job(spark, inp, out, SETTINGS)
    docs_path = os.path.join(out, "docs")
    docs = spark.read.parquet(docs_path)
    total = docs.count()
    victims = docs.select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx").limit(25)
    victims_rows = [(r["conv_id"], r["turn_idx"]) for r in victims.collect()]
    vdf = spark.createDataFrame(victims_rows, "conv_id string, turn_idx int")
    n = apply_deletes(spark, docs_path, vdf)
    assert n == 25
    after = spark.read.parquet(docs_path)
    assert after.count() == total - 25
    assert after.join(vdf, ["conv_id", "turn_idx"]).count() == 0


# --- summaries --------------------------------------------------------------------

def test_conversation_summary(spark, transcripts_dir):
    src = spark.read.parquet(os.path.join(transcripts_dir, "transcripts.parquet"))
    docs = extract_transcripts(src, SETTINGS)
    summ = conversation_summary(docs)
    mega = summ.filter(F.col("conv_id") == "megaconv-0").collect()[0]
    expected_turns = src.filter(F.col("conv_id") == "megaconv-0").count()
    assert mega["turn_count"] == expected_turns
    assert mega["last_turn"] == expected_turns - 1
    assert mega["bytes_in"] > 0


# --- cli dry run -------------------------------------------------------------------

def test_cli_dry_run(transcripts_dir, tmp_path):
    import json
    import subprocess
    import sys

    out = str(tmp_path / "dry_out")
    r = subprocess.run(
        [
            sys.executable, "-m", "fscrawler_spark.cli",
            "--input", os.path.join(transcripts_dir, "transcripts.parquet"),
            "--output", out, "--dry-run", "--master", "local[4]",
        ],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr[-1500:]
    assert not os.path.exists(out)  # nothing written
    assert "ArrowEvalPython" in r.stdout or "Physical Plan" in r.stdout
    line = [l for l in r.stdout.splitlines() if l.startswith('{"dry_run"')][0]
    d = json.loads(line)
    assert sum(v[0] for v in d["by_mime"].values()) == 3000
