"""Round-3 control-plane parity: HTTP status endpoint (CrawlerApi.java:
55-151), nextCheck early-wake (FsParser.java:488-556, 1401-1417) and
pack_sequences auto-split of oversize groups."""

import json
import os
import time
import urllib.request

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.config import ExtractSettings
from fscrawler_spark.plans.pipeline import (
    job_status,
    run_extraction_job,
    schedule_next_check,
    should_wake,
    sleep_until_next_run,
)
from fscrawler_spark.rest import StatusServer


def _http(method: str, url: str) -> dict:
    req = urllib.request.Request(url, method=method)
    with urllib.request.urlopen(req, timeout=5) as r:
        return json.loads(r.read())


def test_status_server_serves_job_status_and_pause_roundtrip(spark, transcripts_dir, tmp_path):
    out = str(tmp_path / "job")
    run_extraction_job(
        spark, os.path.join(transcripts_dir, "transcripts.parquet"), out,
        ExtractSettings(num_buckets=4),
    )
    with StatusServer(out, port=0) as srv:
        base = f"http://127.0.0.1:{srv.port}"
        got = _http("GET", f"{base}/status")
        assert got == job_status(out)
        assert got["state"] == "COMPLETED"

        assert _http("POST", f"{base}/pause") == {"pause_requested": True}
        assert _http("GET", f"{base}/_crawler/status")["paused_requested"] is True
        assert _http("POST", f"{base}/resume") == {"pause_requested": False}
        assert _http("GET", f"{base}/status")["paused_requested"] is False

        with pytest.raises(urllib.error.HTTPError):
            _http("GET", f"{base}/nope")


def test_status_server_during_paused_run(spark, transcripts_dir, tmp_path):
    """The endpoint reads the manifest file only, so it reflects a job
    that paused mid-run (the reference's REST /status while PAUSED)."""
    from fscrawler_spark.plans.pipeline import request_pause

    out = str(tmp_path / "job")
    request_pause(out)  # honored before the first wave
    res = run_extraction_job(
        spark, os.path.join(transcripts_dir, "transcripts.parquet"), out,
        ExtractSettings(num_buckets=4),
    )
    assert res["status"] == "paused"
    with StatusServer(out, port=0) as srv:
        got = _http("GET", f"http://127.0.0.1:{srv.port}/status")
        assert got == job_status(out)
        assert got["state"] == "PAUSED"
        assert got["pending_buckets"] > 0


def test_should_wake_computation():
    # full update-rate elapsed -> timeout
    assert should_wake(15.0, 15.0, None, 1000.0) == "timeout"
    assert should_wake(16.0, 15.0, 2000.0, 1000.0) == "timeout"
    # persisted next_check in the past -> early wake
    assert should_wake(1.0, 15.0, 999.0, 1000.0) == "next_check"
    assert should_wake(1.0, 15.0, 1000.0, 1000.0) == "next_check"
    # nothing due -> keep sleeping
    assert should_wake(1.0, 15.0, 2000.0, 1000.0) is None
    assert should_wake(1.0, 15.0, None, 1000.0) is None


def test_sleep_until_next_run_wakes_on_persisted_next_check(tmp_path):
    out = str(tmp_path)
    # next_check already in the past -> immediate early wake
    schedule_next_check(out, -5.0)
    t0 = time.monotonic()
    assert sleep_until_next_run(out, max_wait_s=30.0, poll_s=0.05) == "next_check"
    assert time.monotonic() - t0 < 5.0
    # next_check far in the future -> plain timeout
    schedule_next_check(out, 3600.0)
    assert sleep_until_next_run(out, max_wait_s=0.15, poll_s=0.05) == "timeout"


def test_cli_rest_port_and_next_check(spark, transcripts_dir, tmp_path, capsys):
    """--rest-port starts the endpoint for the run's duration and every
    loop persists next_check (the updateCheckpointAsCompleted analog)."""
    from fscrawler_spark.cli import main

    out = str(tmp_path / "job")
    rc = main(
        [
            "--input", os.path.join(transcripts_dir, "transcripts.parquet"),
            "--output", out,
            "--num-buckets", "4",
            "--rest-port", "0",
            "--update-rate", "1ms",
        ],
        spark=spark,
    )
    assert rc == 0
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert lines[0]["rest"].startswith("http://127.0.0.1:")
    st = job_status(out)
    assert st["state"] == "COMPLETED"
    assert st["next_check"] is not None and st["next_check"] > time.time() - 60


def test_pack_sequences_rejects_reserved_chunk_column(spark):
    """A user column named like the internal chunk key must error
    explicitly, never be clobbered/dropped (and '_chunk' is NOT
    reserved — users may own it)."""
    from fscrawler_spark.functions.curation import pack_sequences

    ok = spark.createDataFrame(
        [("s", 1, 5, "x")], "shard string, turn_idx int, n_tokens int, _chunk string"
    )
    out = pack_sequences(ok, token_col="n_tokens", max_tokens=10,
                         part_col="shard", order_cols=("turn_idx",), max_group_rows=2)
    assert out.select("_chunk").first()["_chunk"] == "x"

    bad = ok.withColumnRenamed("_chunk", "__fsc_pack_chunk")
    with pytest.raises(ValueError, match="reserved column"):
        pack_sequences(bad, token_col="n_tokens", max_tokens=10,
                       part_col="shard", order_cols=("turn_idx",), max_group_rows=2)


def test_pack_sequences_auto_splits_oversize_groups(spark):
    """VERDICT r2 #10: a single mega-shard must not materialize as ONE
    pandas frame. 1M rows in one part_col group, chunked at 200k: runs
    without OOM-shaped behavior, every pack stays within max_tokens, and
    pack ids are unique per (group, pack)."""
    from fscrawler_spark.functions.curation import pack_sequences

    n, chunk = 1_000_000, 200_000
    df = (
        spark.range(n)
        .select(
            F.lit("shard-0").alias("shard"),
            F.col("id").alias("seq"),
            F.lit(7).cast("long").alias("tok"),
        )
    )
    packed = pack_sequences(
        df, token_col="tok", max_tokens=70, part_col="shard", order_cols=("seq",),
        max_group_rows=chunk,
    )
    stats = packed.groupBy("pack_id").agg(
        F.sum("tok").alias("total"), F.count(F.lit(1)).alias("rows")
    )
    agg = stats.agg(
        F.count(F.lit(1)).alias("packs"),
        F.max("total").alias("max_total"),
        F.sum("rows").alias("rows"),
    ).collect()[0]
    assert agg["rows"] == n
    assert agg["max_total"] <= 70
    # 10 rows/pack exactly; 5 chunks of 200k rows = 20k packs each, no spill-over
    assert agg["packs"] == n // 10


def test_pack_sequences_chunked_matches_unchunked_at_small_scale(spark):
    """Below the chunk threshold the auto-split is a no-op: identical
    pack assignments (chunk 0 offset = 0)."""
    from fscrawler_spark.functions.curation import pack_sequences

    rows = [("s", i, (i % 5) + 1) for i in range(50)]
    df = spark.createDataFrame(rows, "shard string, seq long, tok long")
    a = pack_sequences(df, "tok", 7, "shard", ("seq",), max_group_rows=1_000_000)
    b = pack_sequences(df, "tok", 7, "shard", ("seq",), max_group_rows=None)
    va = sorted((r["seq"], r["pack_id"]) for r in a.collect())
    vb = sorted((r["seq"], r["pack_id"]) for r in b.collect())
    assert va == vb
