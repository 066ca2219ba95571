"""Bucketed-table support: co-located incremental joins without shuffle.

The J1/J2 incremental joins (current input vs previous snapshot) are the
only big-big joins in the system. At 100 TB you do NOT want to shuffle
both sides every run: persist both tables bucketed by conv_id
(`bucketBy` + saveAsTable); Spark then sort-merge-joins matching buckets
with ZERO Exchange on either side — the classic co-located join.

This module owns the ``layout="bucketed"`` storage path of the
incremental tick (plans/pipeline.run_incremental_update):

* a **snapshot index** — a narrow managed table
  (conv_id, turn_idx, checksum, attrs, part_bucket), PARTITIONED BY
  part_bucket and BUCKETED BY (conv_id, turn_idx) — derived from the
  docs parquet after every mutation. The docs parquet stays the source
  of truth (the staged-swap machinery in operators/deletes.py keeps
  operating on it unchanged); the index exists so the tick's
  corpus-scale diff never shuffles the corpus.
* ``colocated_tick_delta`` — ONE full-outer co-located join between the
  bucketed input table and the snapshot index that yields BOTH delta
  sets (new/changed keys and deleted keys) with zero Exchange on either
  side. This replaces the parquet path's two corpus-scale joins
  (changed_vs_snapshot's left_anti + deleted_keys' left_anti), which
  each shuffle both full sides — the reference's steady-state loop is
  exactly this diff (core/.../FsParser.java:1147-1215), so at 10^12
  turns this join IS the workload.
* a ``_snapshot.json`` marker for crash safety: the marker is removed
  before any tick mutation and rewritten only after docs AND index are
  back in sync. A missing/mismatched marker ⇒ the index is rebuilt from
  the docs parquet (correct, one-time cost), never trusted.

On Iceberg the same effect comes from bucket(conv_id) partition
transforms + storage-partitioned joins; the bucketBy managed table is
the sandbox-testable equivalent.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SNAPSHOT_MARKER = "_snapshot.json"
# attr columns compared by the tick's change detection (must match the
# parquet path's attr_cols in run_incremental_update)
SNAPSHOT_ATTRS = ("role", "tool", "ts")


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int = 32,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> None:
    """Persist as a bucketed managed table (overwrite).

    Bucket keys must EXACTLY match the later join keys: Spark's
    co-partition check requires all cluster keys by default
    (spark.sql.requireAllClusterKeysForCoPartition), so bucketing on a
    subset would still shuffle.
    """
    spark = df.sparkSession
    # a killed prior session can leave the managed LOCATION on disk while
    # the fresh metastore has no such table — saveAsTable then refuses
    # with LOCATION_ALREADY_EXISTS even in overwrite mode. Drop the table
    # if known, and clear an orphaned location if not.
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(wh.removeprefix("file:"), table.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, *keys)
        .sortBy(*keys)
        .format("parquet")
        .saveAsTable(table)
    )


# ---------------------------------------------------------------------------
# snapshot index: the tick's co-located diff side
# ---------------------------------------------------------------------------


def snapshot_table_name(output_dir: str) -> str:
    """Deterministic catalog name for the snapshot index of one output
    table. Catalog identifiers can't carry paths, so the path is hashed;
    abspath first so `out` and `./out` share one index."""
    digest = hashlib.md5(os.path.abspath(output_dir).encode()).hexdigest()[:12]
    return f"fsc_snapshot_{digest}"


def _marker_path(output_dir: str) -> str:
    return os.path.join(output_dir, SNAPSHOT_MARKER)


def invalidate_snapshot(output_dir: str) -> None:
    """Called by every entry point that is ABOUT to mutate the docs
    parquet (full job, tick in either layout, restart). From this moment
    the index may disagree with the docs table, so the marker must go
    first — a crash mid-mutation then forces a rebuild instead of a
    silent stale diff (which would re-extract nothing for rows the crash
    rolled back)."""
    try:
        os.remove(_marker_path(output_dir))
    except FileNotFoundError:
        pass


def drop_snapshot(spark: SparkSession, output_dir: str) -> None:
    """restart_clean hook: drop index table + marker with the rest of the
    output state."""
    spark.sql(f"DROP TABLE IF EXISTS {snapshot_table_name(output_dir)}")
    invalidate_snapshot(output_dir)


def _snapshot_rows(spark: SparkSession, out_data: str, buckets: list[int] | None = None) -> DataFrame:
    """Narrow projection of the docs parquet that the diff needs: keys,
    stored checksum, compared attrs, bucket. Column-pruned scan — at
    100 TB this reads ~5 small columns of the corpus, never `content`."""
    df = spark.read.parquet(out_data)
    if buckets is not None:
        df = df.filter(F.col("part_bucket").isin([int(b) for b in buckets]))
    return df.select(
        "conv_id",
        "turn_idx",
        F.col("file.checksum").alias("_ck"),
        *SNAPSHOT_ATTRS,
        "part_bucket",
    )


def _write_snapshot(df: DataFrame, table: str, num_buckets: int, mode: str) -> None:
    """Partitioned by part_bucket (so per-tick refresh is partition-scoped
    DDL, not a table rewrite) AND bucketed+sorted by the join keys (so the
    diff join co-locates). Bucket count = num_buckets: one physical layout
    knob, already fingerprint-guarded by the manifest."""
    (
        df.write.mode(mode)
        .partitionBy("part_bucket")
        .bucketBy(num_buckets, "conv_id", "turn_idx")
        .sortBy("conv_id", "turn_idx")
        .format("parquet")
        .saveAsTable(table)
    )


def commit_snapshot_marker(output_dir: str, num_buckets: int, fingerprint: str) -> None:
    payload = {
        "table": snapshot_table_name(output_dir),
        "token": uuid.uuid4().hex,
        "num_buckets": num_buckets,
        "settings_fingerprint": fingerprint,
    }
    tmp = _marker_path(output_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, _marker_path(output_dir))


def snapshot_is_valid(spark: SparkSession, output_dir: str, num_buckets: int, fingerprint: str) -> bool:
    """The index is trusted only when the marker exists, matches the live
    settings, and the table is still in the catalog. Anything else ⇒
    rebuild (never guess)."""
    try:
        with open(_marker_path(output_dir)) as f:
            m = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return False
    return (
        m.get("table") == snapshot_table_name(output_dir)
        and m.get("num_buckets") == num_buckets
        and m.get("settings_fingerprint") == fingerprint
        and spark.catalog.tableExists(snapshot_table_name(output_dir))
    )


def ensure_snapshot(
    spark: SparkSession,
    output_dir: str,
    out_data: str,
    num_buckets: int,
    fingerprint: str,
    has_parquet: bool,
) -> tuple[str, bool]:
    """Return (table_name, rebuilt). Rebuilds the full index from the docs
    parquet when the marker can't be trusted — a one-time corpus-narrow
    scan, amortized over every later delta-scaled tick."""
    table = snapshot_table_name(output_dir)
    if snapshot_is_valid(spark, output_dir, num_buckets, fingerprint):
        return table, False
    if has_parquet:
        rows = _snapshot_rows(spark, out_data)
    else:
        # emptied table (documented no-op state): an EMPTY index with the
        # right schema keeps the diff valid — everything in the input is new
        rows = spark.createDataFrame(
            [],
            "conv_id string, turn_idx int, _ck string, role string, "
            "tool string, ts timestamp, part_bucket int",
        )
    _write_snapshot(rows, table, num_buckets, mode="overwrite")
    commit_snapshot_marker(output_dir, num_buckets, fingerprint)
    return table, True


def refresh_snapshot_buckets(
    spark: SparkSession,
    output_dir: str,
    out_data: str,
    num_buckets: int,
    fingerprint: str,
    buckets: list[int],
    has_parquet: bool,
) -> None:
    """Delta-scaled index maintenance after a tick: drop exactly the
    mutated part_bucket partitions and re-append them from the (already
    rewritten) docs parquet. Work is O(touched buckets), not O(corpus).
    The marker commit LAST makes the whole refresh atomic-or-rebuild."""
    table = snapshot_table_name(output_dir)
    todo = sorted({int(b) for b in buckets})
    # one DDL round-trip per 500 partitions, not per partition — a wide
    # tick over a 10k-bucket table must not serialize 10k catalog calls
    for i in range(0, len(todo), 500):
        specs = ", ".join(f"PARTITION (part_bucket={b})" for b in todo[i : i + 500])
        spark.sql(f"ALTER TABLE {table} DROP IF EXISTS {specs}")
    if has_parquet and buckets:
        _write_snapshot(
            _snapshot_rows(spark, out_data, buckets=list(buckets)),
            table,
            num_buckets,
            mode="append",
        )
    commit_snapshot_marker(output_dir, num_buckets, fingerprint)


def colocated_tick_delta(
    spark: SparkSession,
    input_df: DataFrame,
    snapshot_table: str,
    checksum_algo: str = "sha256",
    attr_cols: tuple[str, ...] = SNAPSHOT_ATTRS,
) -> DataFrame:
    """The tick's ONE corpus-scale join: full-outer input ⋈ snapshot on
    exactly the bucket keys, checksum/attr comparison as a post-join
    filter (join keys must equal bucket keys or co-partitioning is
    rejected — spark.sql.requireAllClusterKeysForCoPartition).

    Returns the delta only: (conv_id, turn_idx, changed, in_prev,
    deleted); unchanged rows are dropped immediately after the join, so
    downstream sees O(delta) rows.

      changed  — row is new or its checksum/attrs differ (re-extract)
      in_prev  — row exists in the snapshot (its stale copy must purge)
      deleted  — row vanished from the input (J2 delete set)

    Semantics match the parquet path exactly: null text equals null text
    (eqNullSafe — a null-checksum row is unchanged, not perpetually
    re-extracted), and attr comparison is null-safe per column. When both
    sides are bucketed on (conv_id, turn_idx) this plans with ZERO
    Exchange (pinned by tests/test_bucketed.py); with a plain-path input
    only the input side shuffles — the corpus-sized snapshot never moves.
    """
    if checksum_algo not in ("sha256", "md5"):
        raise ValueError(f"checksum_algo must be 'sha256' or 'md5', got {checksum_algo!r}")
    ck = F.sha2(F.col("text"), 256) if checksum_algo == "sha256" else F.md5(F.col("text"))
    cur = input_df.select(
        "conv_id",
        "turn_idx",
        ck.alias("_ck"),
        *[F.col(c).alias(f"_cur_{c}") for c in attr_cols],
        F.lit(True).alias("_cur_present"),
    )
    snap = spark.table(snapshot_table).select(
        "conv_id",
        "turn_idx",
        F.col("_ck").alias("_ck_prev"),
        *[F.col(c).alias(f"_prev_{c}") for c in attr_cols],
        F.lit(True).alias("_prev_present"),
    )
    same = F.col("_ck").eqNullSafe(F.col("_ck_prev"))
    for c in attr_cols:
        same = same & F.col(f"_cur_{c}").eqNullSafe(F.col(f"_prev_{c}"))
    joined = cur.join(snap, ["conv_id", "turn_idx"], "full_outer")
    deleted = F.col("_cur_present").isNull()
    changed = ~deleted & (F.col("_prev_present").isNull() | ~same)
    return (
        joined.filter(deleted | changed)
        .select(
            "conv_id",
            "turn_idx",
            changed.alias("changed"),
            F.coalesce(F.col("_prev_present"), F.lit(False)).alias("in_prev"),
            deleted.alias("deleted"),
        )
    )
