"""Round-3 review fixes on config validation, CLI contract, checkpoint
counters, artifact shipping, multimodal id typing and langid ties.

Reference parity: remove_deleted / continue_on_error knobs
(settings/Fs.java), FsCrawlerCheckpoint files_processed counter,
fail-fast crawl semantics.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.config import ExtractSettings


# --- settings validation ----------------------------------------------------

@pytest.mark.parametrize(
    "kwargs",
    [
        {"num_buckets": 0},
        {"skew_salt": 0},
        {"indexed_chars": -5},
        {"indexed_chars_percent": -0.3},
        {"indexed_chars_percent": 1.5},
        {"ignore_above": -1},
        {"max_wave_retries": -1},
        {"checkpoint_waves": 0},
    ],
)
def test_settings_reject_bad_numeric_knobs(kwargs):
    with pytest.raises(ValueError):
        ExtractSettings(**kwargs)


def test_cli_rejects_negative_indexed_chars(spark, transcripts_dir, tmp_path, capsys):
    from fscrawler_spark.cli import main

    rc = main(
        [
            "--input", os.path.join(transcripts_dir, "transcripts.parquet"),
            "--output", str(tmp_path / "o"),
            "--indexed-chars=-30%",
        ],
        spark=spark,
    )
    assert rc == 2
    assert "error:" in capsys.readouterr().err


def test_cli_settings_drift_exits_cleanly(spark, transcripts_dir, tmp_path, capsys):
    """Non-incremental resume with drifted settings: clean exit 2, not a
    traceback (the CLI's own promise)."""
    from fscrawler_spark.cli import main

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "drift")
    assert main(["--input", inp, "--output", out, "--num-buckets", "8"], spark=spark) == 0
    capsys.readouterr()
    rc = main(["--input", inp, "--output", out, "--num-buckets", "16"], spark=spark)
    assert rc == 2
    err = capsys.readouterr().err
    assert "error:" in err and "Traceback" not in err


# --- incremental knobs ------------------------------------------------------

def _run_full(spark, transcripts_dir, tmp_path, name, **kw):
    from fscrawler_spark.plans.pipeline import run_extraction_job

    out = str(tmp_path / name)
    settings = ExtractSettings(num_buckets=8, **kw)
    run_extraction_job(
        spark, os.path.join(transcripts_dir, "transcripts.parquet"), out, settings
    )
    return out, settings


def test_incremental_dry_run_previews_without_writing(spark, transcripts_dir, tmp_path):
    from fscrawler_spark.plans.pipeline import run_incremental_update

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out, settings = _run_full(spark, transcripts_dir, tmp_path, "dry")
    before = spark.read.parquet(os.path.join(out, "docs")).count()
    # shrink the input: some conversations vanish -> deletions in preview
    src = spark.read.parquet(inp)
    convs = [r["conv_id"] for r in src.select("conv_id").distinct().limit(3).collect()]
    small_in = str(tmp_path / "small_in")
    src.filter(~F.col("conv_id").isin(convs)).write.parquet(small_in)

    manifest_before = json.load(open(os.path.join(out, "_checkpoint.json")))
    res = run_incremental_update(spark, small_in, out, settings, dry_run=True)
    assert res["dry_run"] is True
    assert res["deleted"] > 0
    assert res["touched_buckets"]  # delete-only buckets ARE in the preview
    # nothing written, manifest untouched
    assert spark.read.parquet(os.path.join(out, "docs")).count() == before
    assert json.load(open(os.path.join(out, "_checkpoint.json"))) == manifest_before
    # the REAL tick then performs what the preview predicted
    real = run_incremental_update(spark, small_in, out, settings)
    assert real["deleted"] == res["deleted"]
    assert sorted(real["touched_buckets"]) == res["touched_buckets"]


def test_incremental_remove_deleted_false_keeps_rows(spark, transcripts_dir, tmp_path):
    from fscrawler_spark.plans.pipeline import run_incremental_update

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out, _ = _run_full(spark, transcripts_dir, tmp_path, "keep")
    before = spark.read.parquet(os.path.join(out, "docs")).count()
    src = spark.read.parquet(inp)
    convs = [r["conv_id"] for r in src.select("conv_id").distinct().limit(3).collect()]
    small_in = str(tmp_path / "keep_in")
    src.filter(~F.col("conv_id").isin(convs)).write.parquet(small_in)

    settings = ExtractSettings(num_buckets=8, remove_deleted=False)
    res = run_incremental_update(spark, small_in, out, settings)
    assert res["deleted"] == 0
    assert spark.read.parquet(os.path.join(out, "docs")).count() == before


def test_files_processed_counter_tracks_rows(spark, transcripts_dir, tmp_path):
    out, _ = _run_full(spark, transcripts_dir, tmp_path, "fp")
    rows = spark.read.parquet(os.path.join(out, "docs")).count()
    manifest = json.load(open(os.path.join(out, "_checkpoint.json")))
    assert manifest["files_processed"] == rows


def test_continue_on_error_false_fails_fast(spark, tmp_path):
    """The fixture generator plants encrypted/broken payloads; with
    continue_on_error=False the job must FAIL (reference fail-fast)
    while the error-carrying rows stay inspectable on disk."""
    from fscrawler_spark.datagen import generate_transcripts
    from fscrawler_spark.plans.pipeline import run_extraction_job

    paths = generate_transcripts(str(tmp_path / "data"), n_turns=2000, seed=11)
    settings = ExtractSettings(num_buckets=4, continue_on_error=False)
    out = str(tmp_path / "ff")
    with pytest.raises(RuntimeError, match="parse failure"):
        run_extraction_job(spark, paths["transcripts"], out, settings)
    # STICKY: the failing run marked its buckets completed, so a rerun
    # takes the not-pending path — it must re-derive the failure from
    # the table and fail again, not report 'completed'
    with pytest.raises(RuntimeError, match="parse failure"):
        run_extraction_job(spark, paths["transcripts"], out, settings)
    # the error is visible on the status surface
    manifest = json.load(open(os.path.join(out, "_checkpoint.json")))
    assert "FAIL_FAST" in (manifest["last_error"] or "")
    # opting back into continue_on_error completes over the same table
    ok = ExtractSettings(num_buckets=4, continue_on_error=True)
    assert run_extraction_job(spark, paths["transcripts"], out, ok)["status"] == "completed"


def test_restart_clean_removes_crashed_stage_dirs(spark, transcripts_dir, tmp_path):
    """A crashed-swap sibling dir (docs__delete_stage_*) must not survive
    --restart: recover_stale_stage would resurrect pre-restart buckets
    into the fresh table."""
    import os as _os

    from fscrawler_spark.plans.pipeline import restart_clean

    out = tmp_path / "rs"
    (out / "docs").mkdir(parents=True)
    (out / "docs__delete_stage_ab12" ).mkdir()
    (out / "docs__delete_stage_ab12" / "aside_part_bucket=3").mkdir()
    restart_clean(str(out))
    assert not [d for d in _os.listdir(out) if d.startswith("docs")]


def test_resume_false_still_refuses_drifted_settings(spark, transcripts_dir, tmp_path):
    from fscrawler_spark.plans.checkpoint import SettingsMismatchError
    from fscrawler_spark.plans.pipeline import run_extraction_job

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "rf")
    run_extraction_job(spark, inp, out, ExtractSettings(num_buckets=8))
    with pytest.raises(SettingsMismatchError):
        run_extraction_job(spark, inp, out, ExtractSettings(num_buckets=16), resume=False)


def test_interrupted_restart_refuses_runs_until_finished(spark, transcripts_dir, tmp_path):
    """A torn restart (marker present) must refuse both job entry points
    — not report 'completed' over a half-deleted table."""
    from fscrawler_spark.plans.pipeline import (
        restart_clean,
        run_extraction_job,
        run_incremental_update,
    )

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "torn")
    st = ExtractSettings(num_buckets=4)
    run_extraction_job(spark, inp, out, st)
    (tmp_path / "torn" / "_restarting").write_text("torn\n")
    with pytest.raises(RuntimeError, match="_restarting"):
        run_extraction_job(spark, inp, out, st)
    with pytest.raises(RuntimeError, match="_restarting"):
        run_incremental_update(spark, inp, out, st)
    # finishing the restart clears the marker and unblocks
    restart_clean(out, spark=spark)
    assert run_extraction_job(spark, inp, out, st)["status"] == "completed"


def test_tick_fails_fast_before_mutating(spark, tmp_path):
    from fscrawler_spark.datagen import generate_transcripts
    from fscrawler_spark.plans.pipeline import run_extraction_job, run_incremental_update

    paths = generate_transcripts(str(tmp_path / "d2"), n_turns=1500, seed=5)
    out = str(tmp_path / "tick_ff")
    ok = ExtractSettings(num_buckets=4)  # full run tolerant
    run_extraction_job(spark, paths["transcripts"], out, ok)
    before = spark.read.parquet(os.path.join(out, "docs")).count()
    # change some turns so the delta (which contains broken payloads at
    # this seed) is non-empty, then tick with fail-fast
    src = spark.read.parquet(paths["transcripts"])
    changed_in = str(tmp_path / "changed_in")
    src.withColumn(
        "text",
        F.when(
            F.col("turn_idx") == 0,
            # PREPEND the binary magic: the sniff window is the head, so
            # every edited turn re-extracts as a parse_error
            F.concat(F.lit("PK\x00\x01 "), F.col("text")),
        ).otherwise(F.col("text")),
    ).write.parquet(changed_in)
    strict = ExtractSettings(num_buckets=4, continue_on_error=False)
    # the dry-run preview predicts the refusal read-only (no raise, no
    # manifest mutation)
    preview = run_incremental_update(spark, changed_in, out, strict, dry_run=True)
    assert preview["would_fail_fast"] > 0
    with pytest.raises(RuntimeError, match="incremental delta"):
        run_incremental_update(spark, changed_in, out, strict)
    # nothing was written
    assert spark.read.parquet(os.path.join(out, "docs")).count() == before


# --- artifact / multimodal / langid ----------------------------------------

def test_pyfiles_zip_is_per_process_and_cached(tmp_path):
    from fscrawler_spark import artifact

    a = artifact.build_pyfiles_zip()
    b = artifact.build_pyfiles_zip()
    assert a == b  # cached within the process
    assert os.path.basename(a) != "fscrawler_spark_pyfiles.zip"  # not the shared name
    explicit = artifact.build_pyfiles_zip(str(tmp_path / "x.zip"))
    assert explicit.endswith("x.zip")


