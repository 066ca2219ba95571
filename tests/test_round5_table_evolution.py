"""Round 5 snapshot-table round-out: rollback commits, additive schema
evolution and the optimistic append-retry loop."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from fscrawler_spark.plans.snapshot_table import SnapshotTable
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


def _texts(df):
    return sorted((r.conv_id, r.turn_idx) for r in df.collect())


# --- rollback ----------------------------------------------------------


def test_rollback_restores_contents_as_new_snapshot(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 5)))  # v1
    t.append(spark, _df(spark, _rows("b", 0, 3)))  # v2
    t.overwrite(spark, _df(spark, _rows("oops", 0, 1)))  # v3: the bad commit
    sid = t.rollback(spark, 2)
    assert sid == 4 and t.current_id() == 4
    assert _texts(t.read(spark)) == _texts(t.read(spark, snapshot_id=2))
    m = t.manifest(4)
    assert m["operation"] == "rollback" and m["rolled_back_to"] == 2
    # the bad snapshot stays readable for forensics
    assert _texts(t.read(spark, snapshot_id=3)) == [("oops", 0)]
    # a manifest-diff across the rollback sees exactly the file swap
    d = t.diff(3, 4)
    assert len(d["removed"]) >= 1 and len(d["added"]) >= 1


def test_rollback_to_current_is_noop_and_unknown_raises(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 2)))
    assert t.rollback(spark, 1) == 1
    assert t.current_id() == 1
    with pytest.raises(FileNotFoundError):
        t.rollback(spark, 99)


# --- additive schema evolution ------------------------------------------


def test_append_with_new_column_evolves_schema(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 4)))  # v1: base schema
    wide = _df(spark, _rows("b", 0, 3)).withColumn(
        "quality", __import__("pyspark.sql.functions", fromlist=["lit"]).lit(0.5)
    )
    t.append(spark, wide)  # v2: +quality
    got = t.read(spark)
    assert "quality" in got.columns
    rows = {(r.conv_id, r.turn_idx): r.quality for r in got.collect()}
    assert rows[("b", 0)] == 0.5
    assert rows[("a", 0)] is None  # old files read NULL in the new column
    # time travel keeps the OLD schema
    assert "quality" not in t.read(spark, snapshot_id=1).columns


def test_append_type_change_is_refused(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 2)))
    bad = _df(spark, _rows("b", 0, 2)).withColumn(
        "turn_idx", F.col("turn_idx").cast("string")
    )
    with pytest.raises(ValueError, match="type"):
        t.append(spark, bad)
    assert t.current_id() == 1  # nothing committed


def test_append_may_omit_nullable_but_not_required_columns(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 2)))
    narrow = _df(spark, _rows("b", 0, 2)).drop("tool")  # tool is nullable
    t.append(spark, narrow)
    got = {(r.conv_id, r.turn_idx): r.tool for r in t.read(spark).collect()}
    assert got[("b", 1)] is None
    # a non-nullable table column cannot be omitted
    import pyspark.sql.types as T

    req = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
    ])
    t2 = SnapshotTable(str(tmp_path / "t2"))
    t2.append(spark, spark.createDataFrame([("x", 1)], req))
    with pytest.raises(ValueError, match="non-nullable"):
        t2.append(spark, spark.createDataFrame([(2,)], "v long"))


def test_replace_evolves_schema_too(spark, tmp_path):
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 2)))
    victims = [e.path for e in t.files()]
    add = _df(spark, _rows("c", 0, 1)).withColumn("tag", F.lit("new"))
    t.replace(spark, victims, add)
    got = t.read(spark)
    assert "tag" in got.columns
    assert {r.tag for r in got.collect()} == {"new"}


# --- optimistic append retry ---------------------------------------------


def test_append_retries_past_a_conflicting_commit(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 3)))  # v1
    # simulate a racing writer: pre-publish v2 out from under this handle
    # (a valid manifest — a copy of v1 under the next version name)
    m = dict(t.manifest(1))
    m["snapshot_id"], m["parent_id"] = 2, 1
    with open(os.path.join(str(tmp_path / "t"), "_snap", "v00000002.json"), "w") as f:
        json.dump(m, f)
    sid = t.append(spark, _df(spark, _rows("b", 0, 2)))
    assert sid == 3  # rebased onto the interloper, not clobbered
    assert _texts(t.read(spark)) == _texts(t.read(spark, snapshot_id=1)) + [
        ("b", 0), ("b", 1)
    ]


def test_cli_table_rollback(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 4)).coalesce(1))
    t.overwrite(spark, _df(spark, _rows("bad", 0, 1)).coalesce(1))

    assert main(["--output", t.root, "--table-rollback", "1"]) == 0
    out = json.loads(capsys.readouterr().out.strip())
    assert out == {"root": t.root, "rolled_back_to": 1, "new_snapshot": 3}
    assert _texts(t.read(spark)) == _texts(t.read(spark, snapshot_id=1))

    # contract: bad args exit 2 with a message, never a traceback
    assert main(["--output", t.root, "--table-rollback", "42"]) == 2
    assert main(["--output", str(tmp_path / "nope"), "--table-rollback", "1"]) == 2


# --- stats-pruned upsert / delete (MERGE INTO shape) ----------------------


def _mk_sharded_table(spark, tmp_path, n_convs=8):
    """One data file per conv (repartition by range on conv_id) so the
    stats pruning has distinct per-file key ranges to work with."""
    t = SnapshotTable(str(tmp_path / "t"))
    for c in range(n_convs):
        t_rows = _rows(f"conv{c:02d}", 0, 5)
        t.append(spark, _df(spark, t_rows).coalesce(1))
    return t


def test_upsert_rewrites_only_touched_files(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _mk_sharded_table(spark, tmp_path)
    before_files = {e.path for e in t.files()}
    assert len(before_files) == 8
    # change one turn of conv03, insert a brand-new conv
    delta = _df(spark, [
        ("conv03", 2, "user", "EDITED", None, dt.datetime(2026, 2, 1)),
        ("convZZ", 0, "user", "fresh", None, dt.datetime(2026, 2, 1)),
    ])
    res = t.upsert(spark, delta)
    # pruning: only conv03's file could match ("convZZ" is outside every
    # range except possibly none) — never all 8
    assert res["files_rewritten"] <= 2
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read(spark).collect()}
    assert got[("conv03", 2)] == "EDITED"
    assert got[("convZZ", 0)] == "fresh"
    assert got[("conv03", 1)] == "text conv03 1"  # sibling rows kept
    assert len(got) == 8 * 5 + 1
    # untouched files carried over by REFERENCE (same path in both snaps)
    after_files = {e.path for e in t.files()}
    assert len(before_files & after_files) >= 6


def test_upsert_equals_full_recompute(spark, tmp_path):
    """Parity twin: upsert == rebuild-from-scratch with the same rows."""
    t = _mk_sharded_table(spark, tmp_path, n_convs=4)
    delta = _df(spark, [
        ("conv00", 0, "assistant", "redone", "toolx", dt.datetime(2026, 3, 1)),
        ("conv02", 4, "user", "also redone", None, dt.datetime(2026, 3, 1)),
        ("convNEW", 7, "user", "inserted", None, dt.datetime(2026, 3, 1)),
    ])
    t.upsert(spark, delta)
    got = sorted(tuple(r) for r in t.read(spark).collect())

    base = {(r[0], r[1]): r for c in range(4) for r in _rows(f"conv{c:02d}", 0, 5)}
    for r in delta.collect():
        base[(r.conv_id, r.turn_idx)] = tuple(r)
    want = sorted(tuple(v) for v in base.values())
    assert got == want


def test_upsert_refuses_duplicate_delta_keys(spark, tmp_path):
    t = _mk_sharded_table(spark, tmp_path, n_convs=2)
    dup = _df(spark, _rows("conv00", 0, 1) + _rows("conv00", 0, 1))
    with pytest.raises(ValueError, match="duplicate"):
        t.upsert(spark, dup)
    with pytest.raises(ValueError, match="missing key"):
        t.upsert(spark, _df(spark, _rows("conv00", 0, 1)).drop("turn_idx"))


def test_upsert_with_schema_evolution(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _mk_sharded_table(spark, tmp_path, n_convs=3)
    delta = _df(spark, _rows("conv01", 0, 1)).withColumn("score", F.lit(0.9))
    t.upsert(spark, delta)
    got = {(r.conv_id, r.turn_idx): r.score for r in t.read(spark).collect()}
    assert got[("conv01", 0)] == 0.9
    assert got[("conv00", 0)] is None


def test_delete_rows_prunes_and_deletes(spark, tmp_path):
    t = _mk_sharded_table(spark, tmp_path)
    keys = spark.createDataFrame(
        [("conv05", 1), ("conv05", 3), ("convNOPE", 0)],
        "conv_id string, turn_idx int",
    )
    res = t.delete_rows(spark, keys)
    assert res["files_rewritten"] <= 2  # only conv05's file (+ maybe edge)
    got = {(r.conv_id, r.turn_idx) for r in t.read(spark).collect()}
    assert ("conv05", 1) not in got and ("conv05", 3) not in got
    assert ("conv05", 2) in got
    assert len(got) == 8 * 5 - 2
    # a delete matching nothing touches nothing
    res2 = t.delete_rows(
        spark,
        spark.createDataFrame([("convXX", 9)], "conv_id string, turn_idx int"),
    )
    assert res2["files_rewritten"] == 0
    assert t.current_id() == res["snapshot_id"]


def test_upsert_numeric_lead_key_prunes_in_native_order(spark, tmp_path):
    """String-compare on numeric bounds would think 10 < 9; native-type
    bounds must prune file k=9..9 for a delta key of 10."""
    t = SnapshotTable(str(tmp_path / "t"))
    for k in (9, 10, 100):
        t.append(
            spark,
            spark.createDataFrame([(k, f"v{k}")], "k long, v string").coalesce(1),
            stat_cols=("k",),
        )
    res = t.upsert(
        spark,
        spark.createDataFrame([(10, "edited")], "k long, v string"),
        keys=("k",),
        stat_cols=("k",),
    )
    assert res["files_rewritten"] == 1
    got = dict((r.k, r.v) for r in t.read(spark).collect())
    assert got == {9: "v9", 10: "edited", 100: "v100"}


# --- doctor checks for snapshot tables ------------------------------------


def test_doctor_snapshot_table_checks(spark, tmp_path):
    from fscrawler_spark.plans.doctor import check_snapshot_table

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 4)).coalesce(1))
    t.append(spark, _df(spark, _rows("b", 0, 4)).coalesce(1))
    assert check_snapshot_table(t.root) == []  # healthy: silent
    assert check_snapshot_table(str(tmp_path / "not_a_table")) == []

    # in-place rewrite of a referenced data file -> length-drift ERROR
    victim = os.path.join(t.root, t.files()[0].path)
    with open(victim, "ab") as f:
        f.write(b"junk")
    codes = {f["code"] for f in check_snapshot_table(t.root)}
    assert "table_file_length_drift" in codes

    # missing referenced file -> ERROR
    os.remove(victim)
    codes = {f["code"] for f in check_snapshot_table(t.root)}
    assert "table_file_missing" in codes

    # orphan data file + torn manifest temp -> WARNs
    open(os.path.join(t.root, "data", "zzz-orphan.parquet"), "wb").close()
    open(os.path.join(t.root, "_snap", ".tmp-torn"), "wb").close()
    fnd = check_snapshot_table(t.root)
    codes = {f["code"] for f in fnd}
    assert "table_orphan_data_files" in codes
    assert "table_torn_manifest_temp" in codes
    sev = {f["code"]: f["severity"] for f in fnd}
    assert sev["table_orphan_data_files"] == "WARN"
    assert sev["table_file_missing"] == "ERROR"


def test_doctor_snapshot_table_chain_findings(spark, tmp_path):
    from fscrawler_spark.plans.doctor import check_snapshot_table

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 2)).coalesce(1))
    t.append(spark, _df(spark, _rows("b", 0, 2)).coalesce(1))
    t.append(spark, _df(spark, _rows("c", 0, 2)).coalesce(1))
    # expire v1 -> v2's parent is gone: a benign WARN, not an ERROR
    t.expire_unreferenced(keep_snapshots=2)
    fnd = check_snapshot_table(t.root)
    assert {f["code"] for f in fnd} == {"table_parent_expired"}
    assert all(f["severity"] == "WARN" for f in fnd)

    # forged manifest id -> ERROR
    p = os.path.join(t.root, "_snap", "v00000003.json")
    m = json.load(open(p))
    m["snapshot_id"] = 99
    json.dump(m, open(p, "w"))
    codes = {f["code"] for f in check_snapshot_table(t.root)}
    assert "table_manifest_id_drift" in codes

    # empty _snap dir -> ERROR
    t2root = str(tmp_path / "t2")
    os.makedirs(os.path.join(t2root, "_snap"))
    codes = {f["code"] for f in check_snapshot_table(t2root)}
    assert codes == {"table_no_snapshots"}


def test_doctor_cli_covers_table_root(spark, tmp_path, capsys):
    """--doctor over a snapshot-table root surfaces table findings."""
    from fscrawler_spark.cli import main

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark, _df(spark, _rows("a", 0, 3)).coalesce(1))
    victim = os.path.join(t.root, t.files()[0].path)
    with open(victim, "ab") as f:
        f.write(b"x")
    rc = main(["--output", t.root, "--doctor"], spark=spark)
    out = capsys.readouterr().out
    assert rc == 3  # ERROR findings exit 3
    assert "table_file_length_drift" in out


def test_cluster_by_sharpens_pruning(spark, tmp_path):
    """Unclustered writes leave every file spanning the whole key range
    (every upsert rewrites everything); cluster_by yields narrow per-file
    ranges so the same upsert touches a strict subset."""
    rows = [r for c in range(16) for r in _rows(f"conv{c:02d}", 0, 4)]
    delta = _df(spark, [("conv07", 1, "user", "X", None, dt.datetime(2026, 4, 1))])

    t_un = SnapshotTable(str(tmp_path / "un"))
    t_un.overwrite(spark, _df(spark, rows).repartition(8))  # round-robin: wide ranges
    r_un = t_un.upsert(spark, delta)

    t_cl = SnapshotTable(str(tmp_path / "cl"))
    t_cl.overwrite(spark, _df(spark, rows).repartition(8), cluster_by=("conv_id",))
    r_cl = t_cl.upsert(spark, delta)

    assert r_cl["files_rewritten"] < r_un["files_rewritten"]
    assert r_cl["files_rewritten"] >= 1
    # contents identical either way
    assert _texts(t_cl.read(spark)) == _texts(t_un.read(spark))
    with pytest.raises(ValueError, match="cluster_by"):
        t_cl.append(spark, _df(spark, rows[:1]), cluster_by=("nope",))


def test_cli_table_upsert_and_delete(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark, _df(spark, _rows("a", 0, 6)), cluster_by=("conv_id",))
    _df(spark, [("a", 2, "user", "EDIT", None, dt.datetime(2026, 5, 1))]) \
        .write.parquet(str(tmp_path / "delta"))
    assert main(["--output", t.root, "--table-upsert", str(tmp_path / "delta")], spark=spark) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["operation"] == "upsert" and out["files_rewritten"] >= 1
    got = {(r.conv_id, r.turn_idx): r.text for r in t.read(spark).collect()}
    assert got[("a", 2)] == "EDIT" and len(got) == 6

    spark.createDataFrame([("a", 0)], "conv_id string, turn_idx int") \
        .write.parquet(str(tmp_path / "dkeys"))
    assert main(["--output", t.root, "--table-delete", str(tmp_path / "dkeys")], spark=spark) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["operation"] == "delete"
    assert t.read(spark).count() == 5

    # contract: bad args exit 2 with a message, never a traceback
    assert main(["--output", str(tmp_path / "nope"), "--table-upsert",
                 str(tmp_path / "delta")], spark=spark) == 2
    dup = str(tmp_path / "dup")
    _df(spark, _rows("a", 0, 1) + _rows("a", 0, 1)).write.parquet(dup)
    assert main(["--output", t.root, "--table-upsert", dup], spark=spark) == 2


def test_cli_table_compact(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    t = SnapshotTable(str(tmp_path / "t"))
    for c in range(4):
        t.append(spark, _df(spark, _rows(f"c{c}", 0, 3)).coalesce(1))
    before = _texts(t.read(spark))
    assert len(t.files()) == 4

    assert main(["--output", t.root, "--table-compact"], spark=spark) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["operation"] == "compact" and out["rewritten"] == 4
    assert len(t.files()) < 4
    assert _texts(t.read(spark)) == before  # rows byte-equal, layout only

    # already packed: declarative no-op
    assert main(["--output", t.root, "--table-compact"], spark=spark) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rewritten"] == 0

    # contract: bad args exit 2 with a message, never a traceback
    assert main(["--output", str(tmp_path / "nope"), "--table-compact"], spark=spark) == 2
    assert main(["--output", t.root, "--table-compact", "0"], spark=spark) == 2


def test_ts_flavor_upsert_still_widens_nullability(spark, tmp_path):
    """The ts/ntz compatibility path keeps the stored flavor, but a more
    nullable incoming column must still widen the stored nullable flag —
    the new data files genuinely hold NULLs."""
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "tsn"))
    base = spark.createDataFrame(
        [("c0", 0, dt.datetime(2026, 1, 1))],
        "conv_id string, turn_idx int, ts timestamp not null",
    )
    t.overwrite(spark, base)
    assert t.schema()["ts"].nullable is False
    delta = spark.createDataFrame(
        [("c1", 1, None)], "conv_id string, turn_idx int, ts timestamp_ntz"
    )
    t.upsert(spark, delta, keys=("conv_id", "turn_idx"))
    assert t.schema()["ts"].nullable is True  # widened across the flavor gap
    assert t.read(spark).filter(F.col("ts").isNull()).count() == 1
