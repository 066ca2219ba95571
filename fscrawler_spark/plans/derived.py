"""Incremental derived-table maintenance over the snapshot-table
changelog — the materialized-view analog of Iceberg's incremental read
feeding a MERGE (reference intent: fscrawler re-crawls and re-indexes
only changed files, core/.../FsParser.java:1200-1215; here the same
delta-sized loop maintains DOWNSTREAM tables derived from a published
results table).

``sync_derived_table(spark, upstream, derived, transform, keys)`` keeps
``derived == transform(upstream.read())`` while doing only O(delta)
work per sync:

- first sync bootstraps: one ``overwrite(transform(full upstream))``,
  clustered on the keys so later keyed commits prune sharply;
- later syncs consume ``upstream.read_changes(cursor, current)`` —
  which reads ONLY the manifest-diffed files — transform just the
  inserted/updated rows, and apply them with ONE atomic stats-pruned
  MERGE+DELETE (`apply_delta`); the corpus is never rescanned;
- the cursor (upstream table uuid + snapshot id) rides the derived
  table's OWN commit summary, so "delta applied" and "cursor advanced"
  are one atomic rename — a crash either replays the same changelog
  range against the same base (keyed upserts/deletes are idempotent)
  or has already moved on; there is no side-channel state file to
  drift;
- a FILTERING transform stays correct across updates: a row whose new
  version no longer passes the filter is DELETED from the derived
  table (its key is in the postimage set but absent from the transform
  output), never left stale.

``transform`` must be row-wise over the key grain: its output must
carry every key column, at most one row per key (``apply_delta``
refuses duplicates), and each output row may depend only on the input
row with the same key — aggregations across keys would need the full
recompute path, not a changelog. Column-level changes (add/drop/rename
of NON-key columns) are fine and flow through additive schema
evolution on the derived side.

Safety rails mirror the publish correspondence
(plans/pipeline._publish_to_table): the cursor must sit in the derived
table's CURRENT manifest — any external commit to the derived table
evicts it, and the next sync refuses loudly rather than merging onto
drifted contents (``force_bootstrap=True`` rebuilds). An upstream
identity change (different table uuid at the same root) refuses the
same way. An expired cursor snapshot or a range crossing a
schema-rewriting ``overwrite()`` upstream cannot be diffed — those
re-bootstrap automatically (reported in the result), because the
derived table must follow wholesale rewrites.

100 TB shape: bootstrap is the one corpus-scale pass (unavoidable —
it materializes the view); every steady-state sync reads the diffed
files only, shuffles delta-sized frames through transform +
apply_delta's touched-file rewrite, and commits O(metadata). A sync
with nothing to do commits nothing; a sync whose changelog nets to
zero rows (compaction upstream) advances the cursor with a
metadata-only commit so later syncs never re-diff a range already
known empty.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import os

from fscrawler_spark.plans.snapshot_table import (
    CHANGE_COLS,
    FileEntry,
    SchemaRewriteError,
    SnapshotTable,
)
from fscrawler_spark.session import materialize


def _cursor_extra(upstream: SnapshotTable, snapshot_id: int) -> dict:
    return {
        "derived_of_root": upstream.root,
        "derived_of_uuid": upstream.table_uuid(),
        "derived_from_snapshot": snapshot_id,
    }


def _validate_transform_output(out: DataFrame, keys: Sequence[str]) -> None:
    missing = [k for k in keys if k not in out.columns]
    if missing:
        raise ValueError(
            f"transform output is missing key column(s) {missing} — a "
            "derived table is maintained at the key grain; keep the keys "
            f"in the projection (got columns {out.columns})"
        )


def sync_derived_table(
    spark: SparkSession,
    upstream: SnapshotTable | str,
    derived: SnapshotTable | str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    cluster_by: Sequence[str] | None = None,
    force_bootstrap: bool = False,
) -> dict:
    """Bring ``derived`` up to date with ``upstream`` (module contract
    above). ``transform=None`` is the identity (a table mirror).
    ``cluster_by`` defaults to ``keys`` for the bootstrap overwrite.
    Returns ``{"mode": bootstrap|delta|cursor-advance|noop, ...}`` with
    the range consumed and the apply counters."""
    up = upstream if isinstance(upstream, SnapshotTable) else SnapshotTable(upstream)
    dv = derived if isinstance(derived, SnapshotTable) else SnapshotTable(derived)
    fn = transform if transform is not None else (lambda df: df)
    keys = list(keys)
    if not keys:
        raise ValueError("keys must name at least one column")
    if not up.exists():
        raise FileNotFoundError(f"no upstream snapshot table at {up.root}")
    # a table cannot derive from itself: every sync would commit a new
    # cursor snapshot that advances its own "upstream", so it never
    # reaches noop — unbounded snapshot growth under --loop. Catch both
    # the same path and an aliased path to the same table (uuid match).
    if os.path.realpath(up.root) == os.path.realpath(dv.root) or (
        dv.exists()
        and up.table_uuid() is not None
        and dv.table_uuid() == up.table_uuid()
    ):
        raise ValueError(
            f"derived table {dv.root} IS the upstream table — a table "
            "cannot be synced onto itself (each sync would commit a new "
            "snapshot forever); point --output at a separate view root"
        )
    cur = up.current_id()  # resolve ONCE; the whole sync binds to it

    def bootstrap(reason: str | None) -> dict:
        out = fn(up.read(spark, snapshot_id=cur))
        _validate_transform_output(out, keys)
        sid = dv.overwrite(
            spark,
            out,
            cluster_by=cluster_by if cluster_by is not None else keys,
            extra=_cursor_extra(up, cur),
        )
        res = {
            "mode": "bootstrap",
            "upstream_snapshot": cur,
            "derived_snapshot": sid,
        }
        if reason:
            res["bootstrap_reason"] = reason
        return res

    if not dv.exists():
        return bootstrap(None)
    if force_bootstrap:
        return bootstrap("forced")
    m = dv.manifest()
    base = m.get("derived_from_snapshot")
    if base is None:
        raise ValueError(
            f"{dv.root} exists but its current snapshot carries no sync "
            "cursor — it is not a derived table of anything (or an "
            "external commit landed since the last sync, and merging a "
            "delta onto drifted contents would corrupt it); pass "
            "force_bootstrap=True to rebuild it from upstream"
        )
    if m.get("derived_of_uuid") != up.table_uuid():
        raise ValueError(
            f"{dv.root} derives from table uuid "
            f"{m.get('derived_of_uuid')!r} (root "
            f"{m.get('derived_of_root')!r}) but {up.root} is "
            f"{up.table_uuid()!r} — a different table now lives there; "
            "pass force_bootstrap=True to re-derive from it"
        )
    if base == cur:
        return {
            "mode": "noop",
            "upstream_snapshot": cur,
            "derived_snapshot": dv.current_id(),
        }
    try:
        # the changelog's keyed full-outer join (and the caller's
        # transform below) feed FOUR+ downstream actions (two counts,
        # apply_delta's key probes + touched-file collect + the staging
        # write) — materialize each delta-sized frame ONCE instead of
        # re-reading the diffed files and re-shuffling per action.
        # session.materialize is durable when a checkpoint dir is set;
        # without one a lost executor fails the sync, which is
        # idempotently re-runnable.
        ch = materialize(up.read_changes(spark, base, cur, keys=keys))
    except FileNotFoundError:
        # the cursor snapshot expired upstream — the range cannot be
        # diffed anymore; the view must be rebuilt
        return bootstrap("cursor-expired")
    except SchemaRewriteError:
        return bootstrap("upstream-schema-rewrite")
    drop = list(CHANGE_COLS)
    post = ch.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop(*drop)
    out = fn(post)
    _validate_transform_output(out, keys)  # column check BEFORE any job
    out = materialize(out)
    # a filtering transform: UPDATE-postimage keys the transform dropped
    # must be DELETED downstream, or an update that now fails the filter
    # leaves its old derived row stale forever. Filtered-out INSERTs are
    # excluded: an inserted key was absent at the cursor snapshot, so it
    # cannot exist downstream — including it would only drive pointless
    # stats-pruned file rewrites on views that filter most of a busy
    # upstream.
    upd_post = ch.filter(F.col("_change_type") == "update_postimage").drop(*drop)
    filtered_out = upd_post.select(*keys).join(
        out.select(*keys), on=keys, how="left_anti"
    )
    deletes = (
        ch.filter(F.col("_change_type") == "delete")
        .select(*keys)
        .unionByName(filtered_out)
        .distinct()
    )
    extra = _cursor_extra(up, cur)
    n_up = out.count()
    n_del = deletes.count()
    prev = dv.current_id()
    if n_up or n_del:
        applied = dv.apply_delta(
            spark,
            out if n_up else None,
            deletes if n_del else None,
            keys=keys,
            extra=extra,
        )
        if applied["snapshot_id"] != prev:
            return {
                "mode": "delta",
                "upstream_from": base,
                "upstream_snapshot": cur,
                "derived_snapshot": applied["snapshot_id"],
                "rows_upserted": n_up,
                "keys_deleted": n_del,
                "files_rewritten": applied["files_rewritten"],
            }
        # pure delete where every key missed the table: apply_delta
        # declared a no-op without committing — still advance the cursor
    # nothing to apply (compaction-only range, or all-missed deletes):
    # advance the cursor with an O(metadata) commit (rollback's shape)
    # so later syncs never re-diff this range
    sid = dv._commit(
        spark,
        [FileEntry.from_dict(d) for d in m["files"]],
        "sync-cursor",
        prev,
        m["schema"],
        extra,
        parent_manifest=m,
    )
    return {
        "mode": "cursor-advance",
        "upstream_from": base,
        "upstream_snapshot": cur,
        "derived_snapshot": sid,
        "rows_upserted": 0,
        "keys_deleted": 0,
        "files_rewritten": 0,
    }


def sync_view_dag(
    spark: SparkSession,
    upstream: SnapshotTable | str,
    views: Sequence[dict],
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    force_bootstrap: bool = False,
) -> dict:
    """Maintain a DAG of derived views off one upstream table in a
    single call — the packaged form of "views chain": each view syncs
    off either the root upstream (``"upstream": None``, the default) or
    another view in the list (``"upstream": "<view name>"``), in
    topological order, so a delta entering the root flows through every
    level in one pass, each edge doing O(that edge's delta) work.

    ``views``: sequence of ``{"name": str, "root": str,
    "transform": callable|None, "upstream": str|None,
    "keys": Sequence[str]|None}`` — per-view keys default to the
    call-level ``keys`` (a transform that coarsens the grain needs its
    own). Validation refuses duplicate names, duplicate roots, unknown
    or cyclic upstream references — a cycle would sync a view off a
    descendant's STALE table and silently converge to nothing.

    Returns ``{name: sync result}`` in execution order. A failing view
    aborts the pass with its name attached; the already-synced prefix
    is durable (each sync is an atomic commit), so re-running after a
    fix just no-ops the prefix.

    100 TB shape: identical to running sync_derived_table per edge —
    this helper adds ordering + validation only, no extra jobs.
    """
    names = [v.get("name") for v in views]
    if len(set(names)) != len(names) or not all(
        isinstance(n, str) and n for n in names
    ):
        raise ValueError(f"view names must be unique and non-empty (got {names})")
    missing_root = [v["name"] for v in views if not v.get("root")]
    if missing_root:
        raise ValueError(f"view(s) {missing_root} have no 'root' — each view is a table")
    up_obj = upstream if isinstance(upstream, SnapshotTable) else SnapshotTable(upstream)
    roots = [os.path.realpath(str(v["root"])) for v in views]
    if len(set(roots)) != len(roots):
        raise ValueError("two views share a root — each view needs its own table")
    # the upstream's own root must not appear ANYWHERE in the DAG: a view
    # aliasing it via an intermediate parent would dodge the per-edge
    # self-sync guard, and force_bootstrap would then OVERWRITE the
    # published upstream table with view contents
    up_real = os.path.realpath(up_obj.root)
    clash = [v["name"] for v, r in zip(views, roots) if r == up_real]
    if clash:
        raise ValueError(
            f"view(s) {clash} use the upstream table's root {up_obj.root} — "
            "a view cannot overwrite its own source; give it its own root"
        )
    by_name = {v["name"]: v for v in views}
    for v in views:
        parent = v.get("upstream")
        if parent is not None and parent not in by_name:
            raise ValueError(
                f"view {v['name']!r} syncs off unknown upstream {parent!r} "
                f"(known: {sorted(by_name)})"
            )
    # topological order (Kahn); anything left over is a cycle
    order: list[str] = []
    done: set[str] = set()
    pending = list(views)
    while pending:
        progressed = False
        for v in list(pending):
            parent = v.get("upstream")
            if parent is None or parent in done:
                order.append(v["name"])
                done.add(v["name"])
                pending.remove(v)
                progressed = True
        if not progressed:
            cyc = sorted(v["name"] for v in pending)
            raise ValueError(
                f"view DAG has a cycle through {cyc} — a cyclic sync would "
                "read a descendant's stale table and never converge"
            )
    results: dict[str, dict] = {}
    for name in order:
        v = by_name[name]
        parent = v.get("upstream")
        src = up_obj if parent is None else SnapshotTable(by_name[parent]["root"])
        # explicit None check, NOT truthiness: an explicitly-empty keys
        # list must reach sync_derived_table's loud empty-keys guard,
        # never silently fall back to the call-level default grain
        view_keys = v["keys"] if v.get("keys") is not None else keys
        try:
            results[name] = sync_derived_table(
                spark,
                src,
                v["root"],
                transform=v.get("transform"),
                keys=view_keys,
                force_bootstrap=force_bootstrap,
            )
        except (ValueError, FileNotFoundError, RuntimeError) as e:
            # wrap ONLY the message-carrying classes our stack raises —
            # exotic exceptions (with semantic attributes a bare-string
            # ctor would drop) propagate unmodified
            raise type(e)(f"view {name!r} (root {v['root']}): {e}") from e
    return results
