"""Snapshot-manifest table layer (plans/snapshot_table.py): atomic
commits, snapshot isolation, time travel, stats pruning, manifest diffs.

The Iceberg-shaped substrate the ``snap:`` input mode and the
O(changed-files) incremental tick stand on — each property here is one
the tick's correctness proof assumes."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from fscrawler_spark.plans.snapshot_table import (
    CommitConflictError,
    FileEntry,
    SnapshotTable,
    file_may_match,
)
from fscrawler_spark.sources.transcripts import TRANSCRIPT_SCHEMA


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


def _collected(df):
    return sorted((r.conv_id, r.turn_idx, r.text) for r in df.collect())


def test_overwrite_read_roundtrip(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df = _df(spark, _rows("c1", 0, 10))
    sid = t.overwrite(spark, df)
    assert sid == 1 and t.current_id() == 1
    assert _collected(t.read(spark)) == _collected(df)
    h = t.history()
    assert h[-1]["operation"] == "overwrite" and h[-1]["rows"] == 10


def test_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 5)))
    t.append(spark, _df(spark, _rows("b", 0, 7)))
    assert t.snapshot_ids() == [1, 2]
    assert t.read(spark).count() == 12
    old = t.read(spark, snapshot_id=1)
    assert _collected(old) == _collected(_df(spark, _rows("a", 0, 5)))


def test_snapshot_isolation_under_concurrent_commit(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark, _df(spark, _rows("a", 0, 5)))
    bound = t.read(spark)  # binds to snapshot 1's file list
    t.append(spark, _df(spark, _rows("b", 0, 5)))
    # the bound plan still reads only snapshot 1, after the commit
    assert bound.count() == 5
    assert t.read(spark).count() == 10


def test_commit_conflict_is_exclusive(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark, _df(spark, _rows("a", 0, 3)))
    schema_json = t.manifest()["schema"]
    files = t.files()
    # two committers that both read current=1 race to publish v2:
    # the second one must get a conflict, never a clobber
    t._commit(spark, files, "replace", parent_id=1, schema_json=schema_json)
    with pytest.raises(CommitConflictError):
        t._commit(spark, files, "replace", parent_id=1, schema_json=schema_json)


def test_append_rebases_after_concurrent_commit(spark, tmp_path, monkeypatch):
    """Append's optimistic-commit loop (Iceberg retry): a concurrent
    commit landing between append's current-read and its commit must not
    lose EITHER update — the loop re-reads current, rebases the file
    list, and re-commits without re-staging the data files."""
    root = str(tmp_path / "t")
    t = SnapshotTable(root)
    t.overwrite(spark, _df(spark, _rows("a", 0, 5)))
    other = SnapshotTable(root)
    real = SnapshotTable._commit
    state = {"raced": False}

    def racing(self, sp, files, op, parent_id, schema_json, extra=None, parent_manifest=None):
        if not state["raced"] and op == "append":
            state["raced"] = True
            # another writer lands a same-parent commit FIRST (a replace
            # keeping the same files): the append's first attempt now
            # EEXISTs and must rebase
            real(other, sp, other.files(), "replace", parent_id, schema_json)
        return real(self, sp, files, op, parent_id, schema_json, extra, parent_manifest=parent_manifest)

    monkeypatch.setattr(SnapshotTable, "_commit", racing)
    t.append(spark, _df(spark, _rows("b", 0, 4)))
    assert state["raced"]
    assert t.current_id() == 3  # v2 = racer, v3 = rebased append
    got = _collected(t.read(spark))
    assert len(got) == 9  # neither update lost
    assert {c for c, _, _ in got} == {"a", "b"}


def test_compact_rebases_over_concurrent_append(spark, tmp_path, monkeypatch):
    """Compaction under a live stream: a row-preserving rewrite commutes
    with an append landing between its current-read and its commit — the
    rebase must keep BOTH the compacted files and the appended file."""
    root = str(tmp_path / "t")
    t = SnapshotTable(root)
    t.append(spark, _df(spark, _rows("a", 0, 4)).coalesce(1))
    t.append(spark, _df(spark, _rows("b", 0, 4)).coalesce(1))
    other = SnapshotTable(root)
    real = SnapshotTable._commit
    state = {"raced": False}

    def racing(self, sp, files, op, parent_id, schema_json, extra=None, parent_manifest=None):
        if not state["raced"] and op == "replace":
            state["raced"] = True
            sid = real(
                other,
                sp,
                other.files() + _late_entries(sp, other),
                "append",
                parent_id,
                schema_json,
            )
        return real(self, sp, files, op, parent_id, schema_json, extra, parent_manifest=parent_manifest)

    def _late_entries(sp, tb):
        from fscrawler_spark.plans.snapshot_table import _collect_entries

        rels = tb._stage_data_files(_df(sp, _rows("late", 0, 3)).coalesce(1), "late0")
        return _collect_entries(sp, tb.root, rels, ("conv_id", "turn_idx"))

    monkeypatch.setattr(SnapshotTable, "_commit", racing)
    res = t.compact(spark, target_file_bytes=1024 * 1024)
    assert state["raced"] and res["rewritten"] == 2
    got = _collected(t.read(spark))
    assert len(got) == 11  # 4 + 4 compacted + 3 appended mid-compaction
    assert {c for c, _, _ in got} == {"a", "b", "late"}


def test_keyed_mutation_fail_fasts_on_conflict(spark, tmp_path, monkeypatch):
    """upsert must NOT silently rebase: its touched-file set was computed
    against the old current, so a concurrent commit raises and the caller
    re-runs the whole operation."""
    root = str(tmp_path / "t")
    t = SnapshotTable(root)
    t.append(spark, _df(spark, _rows("a", 0, 4)).coalesce(1))
    other = SnapshotTable(root)
    real = SnapshotTable._commit
    state = {"raced": False}

    def racing(self, sp, files, op, parent_id, schema_json, extra=None, parent_manifest=None):
        if not state["raced"] and op == "replace":
            state["raced"] = True
            real(other, sp, other.files(), "append", parent_id, schema_json)
        return real(self, sp, files, op, parent_id, schema_json, extra, parent_manifest=parent_manifest)

    monkeypatch.setattr(SnapshotTable, "_commit", racing)
    delta = _df(spark, [("a", 0, "user", "EDITED", None, dt.datetime(2026, 1, 1))])
    with pytest.raises(CommitConflictError):
        t.upsert(spark, delta)


def test_torn_manifest_is_unreachable(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark, _df(spark, _rows("a", 0, 3)))
    # a crashed committer's temp file is ignored by every reader
    with open(os.path.join(t.snap_dir, ".tmp-crashed"), "w") as f:
        f.write('{"snapshot_id": 99')
    assert t.snapshot_ids() == [1]
    assert t.current_id() == 1


def test_stats_pruning_reduces_files_read(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    # three appends with DISJOINT turn_idx ranges -> disjoint file stats
    t.append(spark, _df(spark, _rows("a", 0, 50)).coalesce(1))
    t.append(spark, _df(spark, _rows("a", 100, 150)).coalesce(1))
    t.append(spark, _df(spark, _rows("a", 200, 250)).coalesce(1))
    all_files = {os.path.basename(p) for p in t.read(spark).inputFiles()}
    assert len(all_files) == 3
    pruned = t.read(spark, predicates=[("turn_idx", "between", (100, 149))])
    pruned_files = {os.path.basename(p) for p in pruned.inputFiles()}
    assert len(pruned_files) == 1
    # pruning is an IO optimization, never a semantics change
    want = t.read(spark).filter("turn_idx between 100 and 149")
    assert _collected(pruned.filter("turn_idx between 100 and 149")) == _collected(want)


def test_pruning_is_conservative_on_missing_stats():
    e = FileEntry("data/x.parquet", 1, 1, stats={})
    assert file_may_match(e, [("turn_idx", "=", 5)])
    e2 = FileEntry("data/y.parquet", 1, 1, stats={"turn_idx": {"min": 0, "max": 3, "nulls": 0}})
    assert not file_may_match(e2, [("turn_idx", "=", 5)])
    assert file_may_match(e2, [("turn_idx", "<=", 0)])
    assert not file_may_match(e2, [("turn_idx", ">", 3)])
    # incomparable literal: conservative keep
    assert file_may_match(e2, [("turn_idx", "=", "not-an-int")])


def test_fully_pruned_read_keeps_schema(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark, _df(spark, _rows("a", 0, 5)))
    empty = t.read(spark, predicates=[("turn_idx", ">", 10_000)])
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        f.name for f in TRANSCRIPT_SCHEMA.fields
    ]


def test_stats_match_data(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark, _df(spark, _rows("conv9", 3, 40)).coalesce(1))
    (entry,) = t.files()
    assert entry.rows == 37
    assert entry.stats["turn_idx"] == {"min": 3, "max": 39, "nulls": 0}
    assert entry.stats["conv_id"]["min"] == "conv9"
    # ts stats ride as ISO strings (string order == chronological order)
    assert entry.stats["ts"]["min"].startswith("2026-01-01T00:03")


def test_replace_diff_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 5)).coalesce(1))
    t.append(spark, _df(spark, _rows("b", 0, 5)).coalesce(1))
    victim = [e.path for e in t.files() if e.stats["conv_id"]["min"] == "a"]
    assert len(victim) == 1
    sid = t.replace(spark, victim, _df(spark, _rows("a2", 0, 3)).coalesce(1))
    d = t.diff(2, sid)
    assert [e.path for e in d["removed"]] == victim
    assert len(d["added"]) == 1
    # time travel: the replaced file's rows are still readable at v2
    assert t.read(spark, snapshot_id=2).count() == 10
    assert _collected(t.read(spark)) == _collected(
        _df(spark, _rows("b", 0, 5) + _rows("a2", 0, 3))
    )
    with pytest.raises(ValueError, match="not in snapshot"):
        t.replace(spark, ["data/nope.parquet"], None)


def test_expire_unreferenced(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 5)).coalesce(1))
    t.append(spark, _df(spark, _rows("b", 0, 5)).coalesce(1))
    victim = [e.path for e in t.files() if e.stats["conv_id"]["min"] == "a"]
    t.replace(spark, victim, _df(spark, _rows("a2", 0, 3)).coalesce(1))
    deleted = t.expire_unreferenced(keep_snapshots=1)
    assert deleted == victim  # only the no-longer-referenced file dies
    assert not os.path.exists(os.path.join(t.root, victim[0]))
    assert t.snapshot_ids() == [3]
    assert t.read(spark).count() == 8  # current snapshot untouched
    with pytest.raises(FileNotFoundError):
        t.read(spark, snapshot_id=2)


def test_distributed_stats_collection(spark, tmp_path):
    # >16 files routes stats collection through the mapInArrow path
    t = SnapshotTable(str(tmp_path / "t"))
    df = _df(spark, _rows("a", 0, 200)).repartition(20)
    t.overwrite(spark, df)
    entries = t.files()
    assert len(entries) >= 17
    assert sum(e.rows for e in entries) == 200
    assert all(e.stats.get("turn_idx") for e in entries if e.rows)


def test_remove_orphans(spark, tmp_path):
    """Crash-leaked files (no manifest references them) are swept past the
    age fence; referenced files and YOUNG unreferenced files survive."""
    root = str(tmp_path / "t")
    t = SnapshotTable(root)
    t.append(spark, _df(spark, _rows("a", 0, 4)).coalesce(1))
    # simulate a crash between staging renames and the commit
    leaked = os.path.join(t.data_dir, "deadbeef-0.parquet")
    with open(leaked, "wb") as f:
        f.write(b"PAR1junk")
    stage = os.path.join(root, "_stage-deadbeef")
    os.makedirs(stage)
    # young files are fenced off (an in-flight commit's staging)
    assert t.remove_orphans(older_than_s=3600) == []
    assert os.path.exists(leaked) and os.path.isdir(stage)
    # past the fence they are swept; referenced files survive
    removed = t.remove_orphans(older_than_s=0)
    assert removed == [os.path.join("data", "deadbeef-0.parquet"), "_stage-deadbeef"]
    assert not os.path.exists(leaked) and not os.path.isdir(stage)
    assert _collected(t.read(spark)) and t.read(spark).count() == 4
    # idempotent
    assert t.remove_orphans(older_than_s=0) == []


def test_remove_orphans_sweeps_torn_manifest_temps(spark, tmp_path):
    """A committer that crashed inside _commit (mkstemp'd, never linked)
    leaves a .tmp-* manifest in _snap/ — unreachable to readers, flagged
    by doctor, and reclaimed by the same vacuum behind the same fence."""
    root = str(tmp_path / "t")
    t = SnapshotTable(root)
    t.append(spark, _df(spark, _rows("a", 0, 4)).coalesce(1))
    torn = os.path.join(t.snap_dir, ".tmp-crashed")
    with open(torn, "w") as f:
        f.write("{}")
    # readers never resolve it
    assert t.current_id() == 1 and t.read(spark).count() == 4
    # young temp is fenced (a live commit's in-flight mkstemp)
    assert t.remove_orphans(older_than_s=3600) == []
    assert os.path.exists(torn)
    removed = t.remove_orphans(older_than_s=0)
    assert removed == [os.path.join("_snap", ".tmp-crashed")]
    assert not os.path.exists(torn)
    # the table itself is untouched and still committable
    t.append(spark, _df(spark, _rows("b", 0, 2)).coalesce(1))
    assert t.read(spark).count() == 6


def test_cli_table_vacuum(spark, tmp_path, capsys):
    import json as _json

    from fscrawler_spark.cli import main as cli_main

    root = str(tmp_path / "t")
    t = SnapshotTable(root)
    t.append(spark, _df(spark, _rows("a", 0, 3)).coalesce(1))
    with open(os.path.join(t.data_dir, "leak-0.parquet"), "wb") as f:
        f.write(b"PAR1x")
    assert cli_main(["--output", root, "--table-vacuum", "0"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["removed_orphans"] == [os.path.join("data", "leak-0.parquet")]
    assert t.read(spark).count() == 3
    # negative fence refuses cleanly
    assert cli_main(["--output", root, "--table-vacuum", "-1"]) == 2


def test_expire_refuses_keep_zero(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark, _df(spark, _rows("a", 0, 3)))
    with pytest.raises(ValueError, match="keep >= 1"):
        t.expire_unreferenced(keep_snapshots=0)


def test_cli_table_history_and_expire(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 5)).coalesce(1))
    victim = [e.path for e in t.files()]
    t.replace(spark, victim, _df(spark, _rows("b", 0, 4)).coalesce(1))

    assert main(["--output", t.root, "--table-history"]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["current"] == 2 and len(out["history"]) == 2
    assert out["history"][-1]["operation"] == "replace"

    assert main(["--output", t.root, "--table-history", "--table-expire", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out["expired_files"] == victim
    assert [h["snapshot_id"] for h in out["history"]] == [2]

    # contract: bad args exit 2 with a message, never a traceback
    assert main(["--output", t.root, "--table-expire", "1"]) == 2
    assert main(["--output", t.root, "--table-history", "--table-expire", "0"]) == 2
    assert main(["--output", str(tmp_path / "nope"), "--table-history"]) == 2


def test_diff_integrity_guard(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark, _df(spark, _rows("a", 0, 5)).coalesce(1))
    # hand-forge a manifest claiming a different length for the same path
    m = t.manifest()
    m["files"][0]["length"] += 1
    m["snapshot_id"], m["parent_id"] = 2, 1
    with open(t._manifest_path(2), "w") as f:
        json.dump(m, f)
    from fscrawler_spark.plans.snapshot_table import SnapshotIntegrityError

    with pytest.raises(SnapshotIntegrityError):
        t.diff(1, 2)
