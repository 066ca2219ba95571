"""Round 5 self-review regression fixes.

1. ``compact()`` re-CLUSTERS by the stat/pruning keys instead of
   round-robin ``repartition`` — round-robin sprayed every output file
   across the full key range, defeating stats pruning for every later
   keyed upsert/delete (each would rewrite ALL compacted files).
2. A non-bucketed tick (parquet or snapshot-diff) over a table with a
   bootstrapped snapshot index refreshes the index partition-scoped
   instead of leaving it permanently invalidated (which would cost the
   next bucketed fallback tick an O(corpus) rebuild).
3. ``sft_examples(context_turns=None)``'s overflow guard fires only for
   TARGET-role turns (the rows that become examples), as documented — a
   long non-target tail must not fail a job whose every emitted example
   is within the bound.
"""

import datetime as dt
import os

from pyspark.sql import functions as F

from fscrawler_spark.config import ExtractSettings
from fscrawler_spark.functions.assembly import sft_examples
from fscrawler_spark.plans import bucketed as snap
from fscrawler_spark.plans.pipeline import run_extraction_job, run_incremental_update
from fscrawler_spark.plans.snapshot_table import SnapshotTable, file_may_match
from fscrawler_spark.sources.transcripts import TRANSCRIPT_SCHEMA

SETTINGS = ExtractSettings(num_buckets=8, skew_salt=4)


def _df(spark, rows):
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def _rows(conv, lo, hi):
    return [
        (
            conv,
            i,
            "user" if i % 2 == 0 else "assistant",
            f"text {conv} {i}",
            None,
            dt.datetime(2026, 1, 1) + dt.timedelta(minutes=i),
        )
        for i in range(lo, hi)
    ]


# ---------------------------------------------------------------- 1 ----


def test_compact_preserves_key_clustering(spark, tmp_path):
    """Compacted files must cover NARROW, ordered key ranges (range
    clustering), not each span the whole table (round-robin)."""
    t = SnapshotTable(str(tmp_path / "t"))
    # three small files, EACH spanning the full conv range — the worst
    # pre-compaction layout
    for batch in range(3):
        rows = []
        for conv in ("a", "b", "c", "d"):
            rows += _rows(f"conv-{conv}", batch * 50, batch * 50 + 50)
        t.append(spark, _df(spark, rows).coalesce(1))
    entries = t.files()
    assert len(entries) == 3
    total = sum(e.length for e in entries)
    # target sized so all three classify as "small" and n_out == 2
    target = max(-(-total // 2), 2 * max(e.length for e in entries) + 2)
    res = t.compact(spark, target_file_bytes=target)
    assert res["rewritten"] == 3 and res["new_files"] >= 2
    new = t.files()
    # range clustering ⇒ files are ORDERED and non-overlapping on the
    # lead key (allowing a shared boundary value)
    bounds = sorted(
        ((e.stats["conv_id"]["min"], e.stats["conv_id"]["max"]) for e in new),
        key=lambda b: b[0],
    )
    for (lo1, hi1), (lo2, hi2) in zip(bounds, bounds[1:]):
        assert hi1 <= lo2, f"overlapping compacted ranges {hi1!r} > {lo2!r}"
    # and stats pruning works again: one conv key must NOT touch every file
    preds = [("conv_id", "=", "conv-a")]
    matched = [e for e in new if file_may_match(e, preds)]
    assert 1 <= len(matched) < len(new)


# ---------------------------------------------------------------- 2 ----


def test_parquet_tick_refreshes_bootstrapped_index(spark, transcripts_dir, tmp_path):
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "out")
    run_extraction_job(spark, inp, out, SETTINGS)
    fp = SETTINGS.fingerprint()
    try:
        # bootstrap the index via one bucketed tick
        run_incremental_update(spark, inp, out, SETTINGS, layout="bucketed")
        assert snap.snapshot_is_valid(spark, out, SETTINGS.num_buckets, fp)

        # mutating PARQUET tick: used to invalidate-and-abandon the index
        inp_v2 = str(tmp_path / "v2.parquet")
        src = spark.read.parquet(inp)
        src.withColumn(
            "text",
            F.when(
                F.col("turn_idx") % 13 == 2, F.concat(F.col("text"), F.lit(" IDX"))
            ).otherwise(F.col("text")),
        ).write.mode("overwrite").parquet(inp_v2)
        res = run_incremental_update(spark, inp_v2, out, SETTINGS, layout="parquet")
        assert res["layout"] == "parquet" and res["changed"] > 0
        assert snap.snapshot_is_valid(spark, out, SETTINGS.num_buckets, fp)

        # and the refreshed index serves a correct bucketed tick: a no-op
        # tick over the same input must see ZERO changes (a stale index
        # would re-detect the parquet tick's rows)
        res2 = run_incremental_update(spark, inp_v2, out, SETTINGS, layout="bucketed")
        assert res2["changed"] == 0 and res2["deleted"] == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {snap.snapshot_table_name(out)}")


# ---------------------------------------------------------------- 3 ----


def test_sft_unbounded_guard_ignores_non_target_turns(spark):
    """Targets early, long non-target tail: every EXAMPLE is within the
    bound, so the job must succeed (the guard used to fire on the tail
    rows the filter was about to drop)."""
    rows = [("c0", 0, "user", "q0"), ("c0", 1, "assistant", "a0"), ("c0", 2, "user", "q1"), ("c0", 3, "assistant", "a1")]
    rows += [("c0", i, "user", f"tail {i}") for i in range(4, 20)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    got = sft_examples(df, context_turns=None, max_unbounded_context=5).collect()
    assert sorted(r.turn_idx for r in got) == [1, 3]
    # a TARGET turn past the bound still fails loudly
    rows.append(("c0", 20, "assistant", "late"))
    df2 = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string")
    import pytest

    with pytest.raises(Exception, match="max_unbounded_context"):
        sft_examples(df2, context_turns=None, max_unbounded_context=5).collect()
