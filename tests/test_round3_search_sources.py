"""Round-3 review fixes on the search algebra, sources, REST and
streaming modules: ES zero_terms_query parity, semantic highlight/sort,
sentinel-collision immunity (exclude_self), partitioned streaming sink,
StatusServer lifecycle.

Reference parity notes: ES `match` with zero analyzed tokens matches NO
documents (zero_terms_query default "none").
"""

import os

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.operators.search import (
    Bool,
    Match,
    SearchRequest,
    Semantic,
    Term,
    execute_search,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_match_zero_terms_matches_nothing(spark):
    df = spark.createDataFrame([("a", "hello world"), ("b", "x")], "id string, text string")
    assert execute_search(df, SearchRequest(query=Match("text", "   "), size=10)).count() == 0
    # and inside Bool.must it must not silently drop the clause
    req = SearchRequest(query=Bool(must=(Match("text", ""), Term("id", "a"))), size=10)
    assert execute_search(df, req).count() == 0


def test_semantic_honors_sort_and_highlight(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    vec = e.filter(F.col("vec_id") == 3).select("embedding").first()[0]
    e2 = e.withColumn("text", F.concat(F.lit("doc "), F.col("vec_id")))
    req = SearchRequest(
        query=Semantic("embedding", tuple(vec), k=5, id_col="vec_id", exact=True),
        size=5,
        sort=(("vec_id", "desc"),),
        highlight=("text",),
    )
    rows = execute_search(e2, req).collect()
    ids = [r["vec_id"] for r in rows]
    assert ids == sorted(ids, reverse=True)  # explicit sort overrides rank
    # highlight column exists on the semantic path (passthrough: a pure
    # knn query carries no text terms to wrap)
    assert rows[0]["text_highlight"] == rows[0]["text"]


def test_semantic_sentinel_id_collision_cannot_hide_a_row(spark):
    """A real corpus row with id == the numeric sentinel (-1) must still
    be searchable: the synthetic query row no longer excludes it."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(10)
    vec = e.filter(F.col("vec_id") == 3).select("embedding").first()[0]
    poisoned = e.withColumn(
        "vec_id", F.when(F.col("vec_id") == 3, F.lit(-1)).otherwise(F.col("vec_id"))
    )
    req = SearchRequest(
        query=Semantic("embedding", tuple(vec), k=3, id_col="vec_id", exact=True),
        size=3,
        fields=("vec_id",),
    )
    got = [r["vec_id"] for r in execute_search(poisoned, req).collect()]
    assert got[0] == -1  # identical vector ranks first despite id == sentinel


def test_streaming_sink_uses_partition_directories(spark, transcripts_dir, tmp_path):
    from fscrawler_spark.streaming.micro_batch import run_streaming_extraction

    stream_in = tmp_path / "sin"
    stream_in.mkdir()
    os.symlink(
        os.path.join(transcripts_dir, "transcripts.parquet"),
        stream_in / "transcripts.parquet",
    )
    out = str(tmp_path / "sout")
    run_streaming_extraction(spark, str(stream_in), out, str(tmp_path / "sckpt"))
    # batch-sink layout: docs/part_bucket=N/ directories, so the
    # bucket-scoped machinery (staged swaps, dynamic overwrite) applies
    parts = [d for d in os.listdir(out) if d.startswith("part_bucket=")]
    assert parts, f"expected part_bucket=N dirs, got {os.listdir(out)}"
    got = spark.read.parquet(out)
    assert "part_bucket" in got.columns  # recovered as partition column


def test_bucket_swap_refuses_streaming_sink_dir(spark, transcripts_dir, tmp_path):
    """stage_and_swap_buckets must refuse a _spark_metadata-owned dir:
    reads of a streaming sink output go through the sink log, so a swap
    would desync files from the log."""
    from fscrawler_spark.operators.deletes import stage_and_swap_buckets
    from fscrawler_spark.streaming.micro_batch import run_streaming_extraction

    stream_in = tmp_path / "sin2"
    stream_in.mkdir()
    os.symlink(
        os.path.join(transcripts_dir, "transcripts.parquet"),
        stream_in / "transcripts.parquet",
    )
    out = str(tmp_path / "sout2")
    run_streaming_extraction(spark, str(stream_in), out, str(tmp_path / "sckpt2"))
    rows = spark.read.parquet(out)
    with pytest.raises(ValueError, match="_spark_metadata"):
        stage_and_swap_buckets(spark, out, rows, [0])


def test_streaming_refuses_legacy_unpartitioned_output(spark, transcripts_dir, tmp_path):
    from fscrawler_spark.streaming.micro_batch import run_streaming_extraction

    out = tmp_path / "legacy_out"
    # fake a pre-partitionBy output: a root-level part file
    spark.range(3).coalesce(1).write.parquet(str(out))
    stream_in = tmp_path / "sin3"
    stream_in.mkdir()
    os.symlink(
        os.path.join(transcripts_dir, "transcripts.parquet"),
        stream_in / "transcripts.parquet",
    )
    with pytest.raises(ValueError, match="UNPARTITIONED"):
        run_streaming_extraction(spark, str(stream_in), str(out), str(tmp_path / "ck3"))


def test_apply_deletes_noop_on_fully_emptied_table(spark, transcripts_dir, tmp_path):
    """Deleting every row, then re-running the same delete (the
    documented idempotent contract) must return 0, not AnalysisException
    on the emptied directory."""
    from fscrawler_spark.config import ExtractSettings
    from fscrawler_spark.operators.deletes import apply_deletes
    from fscrawler_spark.plans.pipeline import run_extraction_job

    out = str(tmp_path / "empty_all")
    run_extraction_job(
        spark,
        os.path.join(transcripts_dir, "transcripts.parquet"),
        out,
        ExtractSettings(num_buckets=4),
    )
    docs_path = os.path.join(out, "docs")
    all_keys = spark.read.parquet(docs_path).select("conv_id", "turn_idx")
    all_keys = spark.createDataFrame(all_keys.collect(), "conv_id string, turn_idx int")
    assert apply_deletes(spark, docs_path, all_keys) > 0
    assert apply_deletes(spark, docs_path, all_keys) == 0  # idempotent no-op


def test_status_server_stop_before_start_does_not_deadlock(tmp_path):
    from fscrawler_spark.rest import StatusServer

    srv = StatusServer(str(tmp_path), port=0)
    srv.stop()  # must return (releasing the port), not deadlock
