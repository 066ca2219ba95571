"""Round-2 control-plane + durability tests: partition-overwrite-mode
safety, settings-fingerprint resume guard, restart cleanup, empty-input
metrics, pause/resume/status, bounded wave re-drive, idempotent staged
deletes.
"""

import os

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.config import ExtractSettings
from fscrawler_spark.operators.deletes import apply_deletes
from fscrawler_spark.plans.checkpoint import CheckpointManifest, SettingsMismatchError
from fscrawler_spark.plans.pipeline import (
    clear_pause,
    job_status,
    request_pause,
    restart_clean,
    run_extraction_job,
)

SETTINGS = ExtractSettings(num_buckets=8, skew_salt=4)


def _docs_sorted(spark, out):
    return (
        spark.read.parquet(os.path.join(out, "docs"))
        .drop("spans", "meta")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )


def test_resume_survives_static_partition_overwrite_mode(spark, transcripts_dir, tmp_path):
    """ADVICE-high regression: under the session default 'static' mode,
    the first wave of a resumed run used to DELETE all previously
    completed bucket partitions. The job must force dynamic mode itself."""
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "static_resume")
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        with pytest.raises(RuntimeError, match="injected failure"):
            run_extraction_job(spark, inp, out, SETTINGS, fail_after_buckets=2)
        run_extraction_job(spark, inp, out, SETTINGS)
        assert spark.conf.get(key) == "static"  # caller's conf restored
    finally:
        spark.conf.set(key, prev)
    src = spark.read.parquet(inp)
    docs = spark.read.parquet(os.path.join(out, "docs"))
    assert docs.count() == src.count()  # completed buckets NOT lost
    assert docs.select("part_bucket").distinct().count() == SETTINGS.num_buckets


def test_resume_refuses_changed_num_buckets(spark, transcripts_dir, tmp_path):
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "mismatch_buckets")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(spark, inp, out, SETTINGS, fail_after_buckets=2)
    with pytest.raises(SettingsMismatchError, match="num_buckets"):
        run_extraction_job(spark, inp, out, ExtractSettings(num_buckets=16, skew_salt=4))


def test_resume_refuses_changed_settings_fingerprint(spark, transcripts_dir, tmp_path):
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "mismatch_settings")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(spark, inp, out, SETTINGS, fail_after_buckets=2)
    changed = ExtractSettings(num_buckets=8, skew_salt=4, indexed_chars=123)
    with pytest.raises(SettingsMismatchError, match="fingerprint"):
        run_extraction_job(spark, inp, out, changed)


def test_restart_clean_removes_stale_rows(spark, transcripts_dir, tmp_path):
    """--restart must not leave rows from conversations that disappeared
    from the input (dynamic overwrite alone cannot empty their buckets)."""
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "restart")
    run_extraction_job(spark, inp, out, SETTINGS)
    # shrink the input: drop one conversation entirely
    src = spark.read.parquet(inp)
    victim = src.select("conv_id").first()["conv_id"]
    shrunk = str(tmp_path / "shrunk.parquet")
    src.filter(F.col("conv_id") != victim).write.parquet(shrunk)

    restart_clean(out)
    assert not os.path.exists(os.path.join(out, "_checkpoint.json"))
    run_extraction_job(spark, shrunk, out, SETTINGS)
    docs = spark.read.parquet(os.path.join(out, "docs"))
    assert docs.filter(F.col("conv_id") == victim).count() == 0
    # metrics hold exactly one generation of lineage rows
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.select("run_id").distinct().count() == 1


def test_empty_input_job_completes_with_zero_metrics(spark, tmp_path):
    """ADVICE-low: filters dropping every row must not crash the metrics
    read-back (UNABLE_TO_INFER_SCHEMA) — zero lineage rows are emitted."""
    inp = str(tmp_path / "empty_in.parquet")
    spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.parquet(inp)
    out = str(tmp_path / "empty_out")
    res = run_extraction_job(spark, inp, out, SETTINGS)
    assert res["status"] == "completed"
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.count() == SETTINGS.num_buckets
    assert metrics.agg(F.sum("turn_count")).collect()[0][0] == 0


def test_bucket_metrics_conv_count_is_exact(spark):
    from fscrawler_spark.plans.pipeline import bucket_metrics

    n = 2000
    df = spark.range(n).select(
        F.concat(F.lit("c"), F.col("id")).alias("conv_id"),
        F.lit(0).alias("part_bucket"),
        F.struct(F.lit(1).alias("filesize")).alias("file"),
        F.lit("x").alias("extracted"),
        F.lit(None).cast("string").alias("error"),
        F.array().cast("array<long>").alias("spans"),
    )
    row = bucket_metrics(df, "r").collect()[0]
    assert row["conv_count"] == n  # count_distinct, not approx


def test_pause_honored_between_waves_and_resume_identical(spark, transcripts_dir, tmp_path):
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "paused")

    def hook(wi, wave):
        if wi == 0:
            request_pause(out)  # operator hits pause mid-run

    res = run_extraction_job(spark, inp, out, SETTINGS, wave_hook=hook)
    assert res["status"] == "paused"
    assert 0 < len(res["written_buckets"]) < SETTINGS.num_buckets
    st = job_status(out)
    assert st["state"] == "PAUSED"
    assert st["paused_requested"] is True
    assert st["pending_buckets"] == SETTINGS.num_buckets - len(res["written_buckets"])

    # resume: clear the request, run to completion, byte-identical output
    clear_pause(out)
    res2 = run_extraction_job(spark, inp, out, SETTINGS)
    assert res2["status"] == "completed"
    assert job_status(out)["state"] == "COMPLETED"

    clean = str(tmp_path / "clean")
    run_extraction_job(spark, inp, clean, SETTINGS)
    assert _docs_sorted(spark, out) == _docs_sorted(spark, clean)


def test_pause_requested_before_run_stops_immediately(spark, transcripts_dir, tmp_path):
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "prepaused")
    request_pause(out)
    res = run_extraction_job(spark, inp, out, SETTINGS)
    assert res["status"] == "paused"
    assert res["written_buckets"] == []


def test_wave_failure_is_retried_and_recorded(spark, transcripts_dir, tmp_path):
    """Bounded driver re-drive (FsCrawlerCheckpoint retryCount/lastError):
    one injected wave failure -> retry succeeds, manifest records it."""
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "redrive")
    fails = {"left": 1}

    def flaky(wi, wave):
        if wi == 1 and fails["left"]:
            fails["left"] -= 1
            raise OSError("transient sink failure")

    res = run_extraction_job(spark, inp, out, SETTINGS, wave_hook=flaky)
    assert res["status"] == "completed"
    assert sorted(res["written_buckets"]) == list(range(SETTINGS.num_buckets))
    m = CheckpointManifest.load_or_create(os.path.join(out, "_checkpoint.json"))
    # retry_count counts CONSECUTIVE failures (reference semantics): the
    # successful retry reset it; last_error keeps the failure history
    assert m.retry_count == 0
    assert "transient sink failure" in m.last_error


def test_wave_failure_exhausts_bounded_retries(spark, transcripts_dir, tmp_path):
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "exhaust")
    st = ExtractSettings(num_buckets=8, skew_salt=4, max_wave_retries=1)

    def always_fail(wi, wave):
        raise OSError("permanent sink failure")

    with pytest.raises(OSError, match="permanent"):
        run_extraction_job(spark, inp, out, st, wave_hook=always_fail)
    m = CheckpointManifest.load_or_create(os.path.join(out, "_checkpoint.json"))
    assert m.retry_count == 2  # initial + 1 bounded retry
    assert "permanent sink failure" in m.last_error
    assert job_status(out)["retry_count"] == 2


def test_cli_control_verbs_need_no_input(tmp_path, capsys):
    """--status/--pause/--resume-paused are control-plane verbs: they must
    work without --input (and without a SparkSession)."""
    import json as _json

    from fscrawler_spark.cli import main

    out = str(tmp_path / "job")
    assert main(["--status", "--output", out]) == 0
    assert _json.loads(capsys.readouterr().out)["state"] == "NOT_STARTED"
    assert main(["--pause", "--output", out]) == 0
    capsys.readouterr()
    assert main(["--resume-paused", "--output", out]) == 0
    capsys.readouterr()
    # a crawl without --input is a clean error, not an argparse crash
    assert main(["--output", out]) == 2
    capsys.readouterr()
    # malformed value-type arguments: clean exit 2, no traceback
    assert main(["--input", "x", "--output", out, "--indexed-chars", "abc"]) == 2
    capsys.readouterr()
    assert main(["--input", "x", "--output", out, "--ignore-above", "junk"]) == 2
    capsys.readouterr()
    assert main(["--input", "x", "--output", out, "--update-rate=-5s"]) == 2
    capsys.readouterr()


def test_cli_value_type_arguments(spark, transcripts_dir, tmp_path, capsys):
    """--ignore-above takes ByteSizeValue syntax, --indexed-chars takes a
    percentage — the reference's human-readable config forms."""
    from fscrawler_spark.cli import main

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "cli_vt")
    rc = main(
        ["--input", inp, "--output", out, "--ignore-above", "1kb",
         "--indexed-chars", "50%", "--num-buckets", "4"],
        spark=spark,  # externally owned: the CLI must not stop it
    )
    assert rc == 0
    capsys.readouterr()
    docs = spark.read.parquet(os.path.join(out, "docs"))
    src = spark.read.parquet(inp)
    # the 1kb size gate dropped the oversize turns (BYTE length, F3)
    assert docs.count() == src.filter(F.octet_length("text") <= 1024).count()
    # 50% cap: extracted length never exceeds ceil(source/2) for plain turns
    joined = docs.filter(F.col("mime") == "text/plain").join(
        src.select("conv_id", "turn_idx", F.length("text").alias("srclen")),
        ["conv_id", "turn_idx"],
    )
    bad = joined.filter(F.length("extracted") > F.ceil(F.col("srclen") / 2)).count()
    assert bad == 0


def test_apply_deletes_recovers_interrupted_swap(spark, transcripts_dir, tmp_path):
    """Crash window: live bucket moved aside but staged result not yet
    renamed in. The next apply_deletes call must restore the bucket
    (preferring the staged post-delete copy) instead of silently losing
    its rows."""
    import shutil

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "recjob")
    run_extraction_job(spark, inp, out, SETTINGS)
    docs_path = os.path.join(out, "docs")
    total = spark.read.parquet(docs_path).count()

    # simulate the crash: pick a bucket, move its live dir into a stage
    # dir under the aside_ name (as the swap does), leaving no staged copy
    bucket_dirs = [d for d in os.listdir(docs_path) if d.startswith("part_bucket=")]
    victim = bucket_dirs[0]
    stage = docs_path + "__delete_stage_deadbeef"
    os.makedirs(stage)
    shutil.move(os.path.join(docs_path, victim), os.path.join(stage, "aside_" + victim))

    # next delete call recovers the bucket before applying its own keys
    no_keys = spark.createDataFrame([("nope", -1)], "conv_id string, turn_idx int")
    assert apply_deletes(spark, docs_path, no_keys) == 0
    assert spark.read.parquet(docs_path).count() == total
    assert not os.path.exists(stage)


def test_apply_deletes_idempotent_and_counts(spark, transcripts_dir, tmp_path):
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "deljob")
    run_extraction_job(spark, inp, out, SETTINGS)
    docs_path = os.path.join(out, "docs")
    docs = spark.read.parquet(docs_path)
    victims = docs.select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx").limit(25)
    victims_rows = victims.collect()
    vdf = spark.createDataFrame(victims_rows, "conv_id string, turn_idx int")

    total_before = docs.count()
    # duplicate keys in the delete set must not inflate the count
    vdf = vdf.unionByName(vdf.limit(5))
    n = apply_deletes(spark, docs_path, vdf)
    assert n == 25
    after = spark.read.parquet(docs_path)
    assert after.count() == total_before - 25
    assert after.join(vdf, ["conv_id", "turn_idx"]).count() == 0
    # no staging leftovers
    parent = os.path.dirname(docs_path)
    assert not [d for d in os.listdir(parent) if "__delete_stage_" in d]
    # idempotent: re-applying the same keys is a no-op
    assert apply_deletes(spark, docs_path, vdf) == 0
