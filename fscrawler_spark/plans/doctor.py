"""Output-table consistency checker ("doctor") — read-only diagnosis of
a job directory's invariants.

The engine maintains several cross-artifact invariants (manifest ↔ docs
parquet ↔ metrics ↔ snapshot index ↔ markers); crashes, kills and
operator slips can violate them in ways each individual entry point
only partially detects at its own boundary. `check_output` verifies
them ALL in one pass and reports findings instead of acting — the
operator (or a wrapper) decides between rerun / restart_clean / manual
repair. Reference analog: the reference exposes job state over REST
(CrawlerApi.java:55-151) but has no integrity checker; with a
distributed table and multi-artifact bookkeeping this engine needs one.

Scale shape: everything is either a driver-local file read or a
column-pruned aggregate over (part_bucket) — one narrow scan of docs,
one of metrics. No mutation, ever; safe against a live job (results may
be transiently inconsistent while a job runs — the lock finding says
so).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _finding(sev: str, code: str, msg: str) -> dict:
    return {"severity": sev, "code": code, "message": msg}


def check_output(spark: SparkSession, output_dir: str) -> dict:
    """Diagnose ``output_dir``. Returns {"ok": bool, "findings": [...]};
    ok means no ERROR-severity findings (WARNs may remain)."""
    from fscrawler_spark.operators.deletes import _STAGE_MARK, has_parquet_files
    from fscrawler_spark.plans import bucketed as snap
    from fscrawler_spark.plans.pipeline import _pid_alive, _read_lock_holder

    findings: list[dict] = []
    out_data = os.path.join(output_dir, "docs")
    out_metrics = os.path.join(output_dir, "metrics")
    ckpt_path = os.path.join(output_dir, "_checkpoint.json")

    if not os.path.isdir(output_dir):
        return {
            "ok": False,
            "findings": [_finding("ERROR", "missing_dir", f"{output_dir} does not exist")],
        }

    # --- markers ---------------------------------------------------------
    if os.path.exists(os.path.join(output_dir, "_restarting")):
        findings.append(
            _finding(
                "ERROR",
                "torn_restart",
                "_restarting marker present: an interrupted restart_clean "
                "must be finished (CLI --restart) before any job runs",
            )
        )
    lock_path = os.path.join(output_dir, "_job.lock")
    if os.path.exists(lock_path):
        holder = _read_lock_holder(lock_path)
        pid = holder["pid"]
        if pid > 0 and _pid_alive(pid):
            findings.append(
                _finding(
                    "WARN",
                    "job_running",
                    f"_job.lock held by live pid {pid} "
                    f"({holder.get('what', '?')}) — results below may be "
                    "transiently inconsistent while it runs",
                )
            )
        else:
            findings.append(
                _finding(
                    "WARN",
                    "stale_lock",
                    "_job.lock holder is dead — the next job will break it "
                    "automatically",
                )
            )
    try:
        stage_dirs = [
            n for n in os.listdir(output_dir) if n.startswith("docs" + _STAGE_MARK)
        ]
    except OSError:
        stage_dirs = []
    if stage_dirs:
        findings.append(
            _finding(
                "WARN",
                "stale_stage",
                f"{len(stage_dirs)} interrupted bucket-swap stage dir(s) "
                "present — the next tick recovers them automatically "
                f"({stage_dirs[:3]}...)",
            )
        )

    # --- manifest --------------------------------------------------------
    manifest = None
    if os.path.exists(ckpt_path):
        try:
            with open(ckpt_path) as f:
                manifest = json.load(f)
            if not isinstance(manifest, dict):
                manifest = None
                raise ValueError("manifest JSON is not an object")
            # the SAME migration the loader applies (shared helper — the
            # two views must never drift)
            from fscrawler_spark.plans.checkpoint import migrate_manifest_dict

            manifest = migrate_manifest_dict(manifest)
        except (OSError, ValueError):
            findings.append(
                _finding(
                    "ERROR",
                    "corrupt_manifest",
                    "_checkpoint.json is unreadable/corrupt — entry points "
                    "will recover it as a FRESH manifest (full re-run)",
                )
            )
    else:
        findings.append(
            _finding("WARN", "no_manifest", "no _checkpoint.json: no run has started")
        )

    have_docs = has_parquet_files(spark, out_data)
    per_bucket_actual: dict[int, int] = {}
    if have_docs:
        try:
            per_bucket_actual = {
                int(r["part_bucket"]): int(r["n"])
                for r in spark.read.parquet(out_data)
                .groupBy("part_bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        except Exception as e:  # torn dir the reader refuses: a FINDING, not a crash
            findings.append(
                _finding(
                    "ERROR",
                    "unreadable_docs",
                    f"docs parquet exists but cannot be read ({type(e).__name__}) "
                    "— torn in-flight write or corrupt footer",
                )
            )
            return {"ok": False, "findings": findings}

    if isinstance(manifest, dict):
        try:
            num_buckets = int(manifest.get("num_buckets", 0) or 0)
            completed = {int(b) for b in manifest.get("completed", [])}
        except (TypeError, ValueError):
            # valid JSON, garbage field types: the corrupt class the
            # doctor diagnoses, never a traceback
            findings.append(
                _finding(
                    "ERROR",
                    "corrupt_manifest",
                    "_checkpoint.json has malformed field types "
                    "(num_buckets/completed) — entry points will refuse or "
                    "recover it; restore from a rerun",
                )
            )
            manifest = None
            num_buckets, completed = 0, set()
    if isinstance(manifest, dict):
        state = manifest.get("state")
        pending = set(range(num_buckets)) - completed if num_buckets else set()
        if state == "COMPLETED" and pending:
            findings.append(
                _finding(
                    "ERROR",
                    "completed_with_pending",
                    f"manifest says COMPLETED but {len(pending)} bucket(s) "
                    f"were never marked done: {sorted(pending)[:8]}",
                )
            )
        # docs rows in buckets the manifest never completed. While a run
        # is mid-flight (RUNNING/PAUSED — incl. a dead one) this is the
        # DOCUMENTED crash window between a wave write and
        # mark_completed, healed by the next run's dynamic partition
        # overwrite — a WARN. On a COMPLETED manifest it is a foreign
        # write or bucketing drift — an ERROR.
        rogue = sorted(set(per_bucket_actual) - completed)
        if rogue and state == "COMPLETED":
            findings.append(
                _finding(
                    "ERROR",
                    "rogue_buckets",
                    f"docs parquet holds bucket(s) the manifest never "
                    f"completed: {rogue[:8]} — foreign write or num_buckets "
                    "drift (manifest fingerprint should have refused it)",
                )
            )
        elif rogue:
            findings.append(
                _finding(
                    "WARN",
                    "crash_window_buckets",
                    f"bucket(s) {rogue[:8]} written but not yet marked "
                    "completed (kill between wave write and checkpoint) — "
                    "the next run overwrites them; no action needed",
                )
            )
        if state == "COMPLETED" and not have_docs and completed:
            # legitimate after a delete-everything tick; surface as info-WARN
            findings.append(
                _finding(
                    "WARN",
                    "empty_table",
                    "manifest COMPLETED but the docs table holds no parquet "
                    "(emptied by deletions is a valid state)",
                )
            )
        # recorded manifest-diff base: {root, snapshot_id} pointing at the
        # snap: input table this output equals. A vanished root or expired
        # snapshot is self-healing (the tick warns, full-diffs, re-records)
        # but worth surfacing — at scale the fallback is a corpus-sized
        # diff the operator probably wants to know is coming.
        base = manifest.get("input_snapshot")
        if isinstance(base, dict) and base.get("root"):
            from fscrawler_spark.plans.snapshot_table import SnapshotTable

            _t = SnapshotTable(base["root"])
            if not _t.exists():
                findings.append(
                    _finding(
                        "WARN",
                        "diff_base_table_missing",
                        f"recorded diff base table {base['root']} no longer "
                        "exists — the next snap: tick full-diffs (corpus-"
                        "sized) and re-records",
                    )
                )
            elif not os.path.exists(_t._manifest_path(base["snapshot_id"])):
                findings.append(
                    _finding(
                        "WARN",
                        "diff_base_snapshot_expired",
                        f"recorded diff base snapshot {base['snapshot_id']} "
                        f"of {base['root']} has been expired — the next "
                        "snap: tick full-diffs and re-records",
                    )
                )

    # --- metrics reconcile ----------------------------------------------
    # a run killed between its wave writes and the lineage append is a
    # DOCUMENTED crash window the next run backfills (_write_lineage /
    # the not-pending backfill): severity depends on the manifest state
    mid_flight = isinstance(manifest, dict) and manifest.get("state") != "COMPLETED"
    meter_sev = "WARN" if mid_flight else "ERROR"
    meter_hint = (
        " (manifest is mid-flight: the next run backfills lineage; no action needed)"
        if mid_flight
        else ""
    )
    if have_docs and has_parquet_files(spark, out_metrics):
        # the LATEST lineage row per bucket must reconcile with the table;
        # run_id is uuid-random, so "latest" = max insertion order is not
        # recoverable — instead require that for each bucket SOME lineage
        # row matches the current count (every mutation appends a fresh
        # row for every bucket it touches, so the current state always has
        # a matching row unless a write bypassed lineage). DISTINCT pairs
        # only: the raw history grows one row per (tick x bucket) forever
        # and must never ride to the driver whole.
        rows = (
            spark.read.parquet(out_metrics)
            .select("part_bucket", "turn_count")
            .distinct()
            .collect()
        )
        by_bucket: dict[int, set[int]] = {}
        for r in rows:
            by_bucket.setdefault(int(r["part_bucket"]), set()).add(int(r["turn_count"]))
        unreconciled = sorted(
            b
            for b, n in per_bucket_actual.items()
            if n not in by_bucket.get(b, set())
        )
        if unreconciled:
            findings.append(
                _finding(
                    meter_sev,
                    "metrics_mismatch",
                    f"bucket(s) {unreconciled[:8]} have no lineage row "
                    "matching their current row count — a write bypassed "
                    f"metrics (or metrics were lost){meter_hint}",
                )
            )
        unmetered = sorted(set(per_bucket_actual) - set(by_bucket))
        if unmetered:
            findings.append(
                _finding(
                    meter_sev,
                    "unmetered_buckets",
                    f"bucket(s) {unmetered[:8]} hold data but have NO "
                    f"lineage rows at all{meter_hint}",
                )
            )
    elif have_docs:
        findings.append(
            _finding(
                meter_sev,
                "no_metrics",
                "docs parquet exists but the metrics table is empty/missing "
                f"— a completed run always meters its buckets{meter_hint}",
            )
        )

    # --- snapshot index (bucketed-layout ticks) --------------------------
    marker = os.path.join(output_dir, snap.SNAPSHOT_MARKER)
    if os.path.exists(marker):
        table = snap.snapshot_table_name(output_dir)
        if not spark.catalog.tableExists(table):
            findings.append(
                _finding(
                    "WARN",
                    "snapshot_marker_orphan",
                    f"snapshot marker present but catalog table {table} is "
                    "gone — the next bucketed tick rebuilds the index",
                )
            )
        else:
            # compare even when docs is EMPTY: a committed marker over a
            # non-empty index and an emptied table is the worst drift —
            # the next bucketed tick would silently re-extract nothing
            snap_n = spark.table(table).count()
            docs_n = sum(per_bucket_actual.values())
            if snap_n != docs_n:
                findings.append(
                    _finding(
                        "ERROR",
                        "snapshot_drift",
                        f"snapshot index holds {snap_n} rows vs {docs_n} in "
                        "docs — marker should have been invalidated; remove "
                        f"{snap.SNAPSHOT_MARKER} to force a rebuild",
                    )
                )

    # --- dedup store (plans/dedup_store) ---------------------------------
    from fscrawler_spark.plans.dedup_store import _SIG_VERSION
    from fscrawler_spark.plans.dedup_store import _paths as dedup_paths

    dp = dedup_paths(output_dir)
    if os.path.isdir(dp["root"]):
        dmeta = None
        if not os.path.exists(dp["meta"]):
            findings.append(
                _finding(
                    "WARN",
                    "dedup_meta_missing",
                    "dedup/ exists without _dedup_meta.json — not a store "
                    "this engine wrote (or torn before bootstrap); delete "
                    "the dir to re-bootstrap",
                )
            )
        else:
            try:
                with open(dp["meta"]) as f:
                    dmeta = json.load(f)
                if not isinstance(dmeta, dict):
                    raise ValueError("dedup meta is not an object")
            except (OSError, ValueError):
                dmeta = None
                findings.append(
                    _finding(
                        "ERROR",
                        "corrupt_dedup_meta",
                        "dedup/_dedup_meta.json is unreadable — ticks will "
                        "refuse; delete the dedup/ dir to re-bootstrap",
                    )
                )
        if isinstance(dmeta, dict):
            if dmeta.get("dirty"):
                findings.append(
                    _finding(
                        "ERROR",
                        "dedup_store_dirty",
                        "dedup store is DIRTY (a tick died mid-upsert; the "
                        "three tables may be torn) — delete the dedup/ dir "
                        "to re-bootstrap",
                    )
                )
            elif (dmeta.get("params") or {}).get("sig_version") != _SIG_VERSION:
                findings.append(
                    _finding(
                        "WARN",
                        "dedup_sig_stale",
                        "dedup store was signed under an older signature "
                        "scheme — the next tick refuses; delete the dedup/ "
                        "dir to re-sign",
                    )
                )
            elif has_parquet_files(spark, dp["state"]):
                # clean store: every band/cluster id must be a signed id
                # (a violation means a torn multi-table upsert the dirty
                # marker somehow missed)
                state_ids = spark.read.parquet(dp["state"]).select("id")
                for tbl in ("band_index", "clusters"):
                    if not has_parquet_files(spark, dp[tbl]):
                        continue
                    orphans = (
                        spark.read.parquet(dp[tbl])
                        .select("id")
                        .distinct()
                        .join(state_ids, "id", "left_anti")
                        .count()
                    )
                    if orphans:
                        findings.append(
                            _finding(
                                "ERROR",
                                f"dedup_orphan_{tbl}",
                                f"{orphans} id(s) in dedup/{tbl} have no "
                                "state row — torn upsert; delete the dedup/ "
                                "dir to re-bootstrap",
                            )
                        )

    # --- assembly store (plans/assembly_store) ---------------------------
    from fscrawler_spark.plans.assembly_store import _ASM_VERSION
    from fscrawler_spark.plans.assembly_store import _paths as asm_paths

    ap = asm_paths(output_dir)
    if os.path.isdir(ap["root"]):
        ameta = None
        if not os.path.exists(ap["meta"]):
            findings.append(
                _finding(
                    "WARN",
                    "assembly_meta_missing",
                    "assembled/ exists without _assembly_meta.json — not a "
                    "store this engine wrote (or torn before bootstrap); "
                    "delete the dir to re-bootstrap",
                )
            )
        else:
            try:
                with open(ap["meta"]) as f:
                    ameta = json.load(f)
                if not isinstance(ameta, dict):
                    raise ValueError("assembly meta is not an object")
            except (OSError, ValueError):
                ameta = None
                findings.append(
                    _finding(
                        "ERROR",
                        "corrupt_assembly_meta",
                        "assembled/_assembly_meta.json is unreadable — ticks "
                        "will refuse; delete the assembled/ dir to "
                        "re-bootstrap",
                    )
                )
        if isinstance(ameta, dict):
            if ameta.get("dirty"):
                findings.append(
                    _finding(
                        "ERROR",
                        "assembly_store_dirty",
                        "assembly store is DIRTY (a tick died mid-upsert; "
                        "docs/state may be torn) — delete the assembled/ "
                        "dir to re-bootstrap",
                    )
                )
            elif (ameta.get("params") or {}).get("asm_version") != _ASM_VERSION:
                findings.append(
                    _finding(
                        "WARN",
                        "assembly_version_stale",
                        "assembly store was rendered under an older template "
                        "version — the next tick refuses; delete the "
                        "assembled/ dir to re-render",
                    )
                )
            elif has_parquet_files(spark, ap["state"]) and has_parquet_files(
                spark, ap["docs"]
            ):
                # clean store: docs and state must cover the SAME
                # conversations (either direction dangling means a torn
                # two-table upsert the dirty marker somehow missed)
                s_ids = spark.read.parquet(ap["state"]).select("conv_id")
                d_ids = spark.read.parquet(ap["docs"]).select("conv_id")
                for label, a, b in (
                    ("docs_without_state", d_ids, s_ids),
                    ("state_without_docs", s_ids, d_ids),
                ):
                    dangling = a.distinct().join(b, "conv_id", "left_anti").count()
                    if dangling:
                        findings.append(
                            _finding(
                                "ERROR",
                                f"assembly_{label}",
                                f"{dangling} conv_id(s) dangle "
                                f"({label.replace('_', ' ')}) — torn upsert; "
                                "delete the assembled/ dir to re-bootstrap",
                            )
                        )

    # --- export root (functions/export) -----------------------------------
    shards_dir = os.path.join(output_dir, "shards")
    manifest_dir = os.path.join(output_dir, "manifest")
    if os.path.isdir(shards_dir) != os.path.isdir(manifest_dir):
        missing = "manifest" if os.path.isdir(shards_dir) else "shards"
        findings.append(
            _finding(
                "ERROR",
                "export_half_written",
                f"export root has shards/ xor manifest/ ({missing}/ is "
                "missing) — torn export; re-run --export (the layout is "
                "deterministic, a re-run is byte-identical)",
            )
        )
    elif os.path.isdir(shards_dir):
        from fscrawler_spark.functions.export import verify_export

        for msg in verify_export(spark, output_dir):
            findings.append(
                _finding(
                    "ERROR",
                    "export_manifest_mismatch",
                    f"{msg} — truncated/duplicated shard data or a stale "
                    "manifest; re-run --export before training on this",
                )
            )

    # --- snapshot table (when --output IS a table root) --------------------
    findings.extend(check_snapshot_table(output_dir))

    ok = not any(f["severity"] == "ERROR" for f in findings)
    return {"ok": ok, "findings": findings}


def check_snapshot_table(root: str) -> list[dict]:
    """Consistency checks for a snapshot-manifest table at ``root``
    (plans/snapshot_table.py) — pure metadata walk, no SparkSession:
    manifest chain linkage, schema parseability, referenced-file
    existence + recorded-length integrity (the immutability contract),
    orphaned data files (crash leaks — bytes, not corruption), torn
    manifest temps. No-op (empty list) when root has no _snap/ dir."""
    import pyspark.sql.types as T

    from fscrawler_spark.plans.snapshot_table import SNAP_DIR, SnapshotTable

    snap_dir = os.path.join(root, SNAP_DIR)
    if not os.path.isdir(snap_dir):
        return []
    findings: list[dict] = []
    t = SnapshotTable(root)
    ids = t.snapshot_ids()
    if not ids:
        findings.append(
            _finding(
                "ERROR",
                "table_no_snapshots",
                f"{snap_dir} exists but holds no complete manifest — the "
                "table was never committed or every manifest is torn",
            )
        )
        return findings
    referenced: dict[str, int] = {}
    for sid in ids:
        try:
            m = t.manifest(sid)
        except (OSError, ValueError) as e:
            findings.append(
                _finding("ERROR", "table_manifest_unreadable", f"snapshot {sid}: {e}")
            )
            continue
        if m.get("snapshot_id") != sid:
            findings.append(
                _finding(
                    "ERROR",
                    "table_manifest_id_drift",
                    f"manifest v{sid:08d} records snapshot_id="
                    f"{m.get('snapshot_id')} — file was renamed or forged",
                )
            )
        parent = m.get("parent_id")
        if parent is not None and parent >= sid:
            findings.append(
                _finding(
                    "ERROR",
                    "table_parent_not_older",
                    f"snapshot {sid} claims parent {parent} (>= itself): "
                    "the commit chain is not append-only",
                )
            )
        if parent is not None and parent not in ids:
            findings.append(
                _finding(
                    "WARN",
                    "table_parent_expired",
                    f"snapshot {sid}'s parent {parent} is expired (normal "
                    "after expire_unreferenced; diffs from it will fall back)",
                )
            )
        try:
            T.StructType.fromJson(json.loads(m["schema"]))
        except Exception as e:
            findings.append(
                _finding(
                    "ERROR",
                    "table_schema_unparseable",
                    f"snapshot {sid}: stored schema does not parse ({e})",
                )
            )
        for f in m.get("files", []):
            referenced[f["path"]] = f["length"]
    # iterate the tag FILES, not tags() (which silently skips torn refs
    # — the exact state this check exists to surface: a torn tag is not
    # protecting its snapshot from expiration)
    for fname in sorted(os.listdir(snap_dir)):
        if not (fname.startswith("tag-") and fname.endswith(".json")):
            continue
        name = fname[4:-5]
        try:
            with open(os.path.join(snap_dir, fname)) as fh:
                sid = int(json.load(fh)["snapshot_id"])
        except (OSError, ValueError, KeyError, TypeError) as e:
            findings.append(
                _finding(
                    "ERROR",
                    "table_tag_torn",
                    f"tag file {fname} is torn/unreadable ({e}) — this "
                    "pin is NOT protecting any snapshot (expire will GC "
                    "it as unreferenced) and reads by the tag fail; drop "
                    "and re-create the tag",
                )
            )
            continue
        if sid not in ids:
            findings.append(
                _finding(
                    "ERROR",
                    "table_tag_dangling",
                    f"tag {name!r} points at snapshot {sid}, which no "
                    "longer exists (expired out-of-band or forged) — "
                    "reads by this tag fail; drop the tag or restore the "
                    "manifest. expire_unreferenced itself never expires "
                    "a tagged snapshot",
                )
            )
    for rel, length in sorted(referenced.items()):
        ap = os.path.join(root, rel)
        if not os.path.exists(ap):
            findings.append(
                _finding(
                    "ERROR",
                    "table_file_missing",
                    f"data file {rel} is referenced by a retained snapshot "
                    "but missing on disk — reads of that snapshot will fail; "
                    "restore the file or expire the snapshots referencing it",
                )
            )
        elif os.path.getsize(ap) != length:
            findings.append(
                _finding(
                    "ERROR",
                    "table_file_length_drift",
                    f"data file {rel} is {os.path.getsize(ap)} bytes but the "
                    f"manifest recorded {length} — a data file was rewritten "
                    "in place; data files are immutable (mutate via "
                    "replace/upsert/overwrite)",
                )
            )
    data_dir = os.path.join(root, "data")
    if os.path.isdir(data_dir):
        orphans = [
            n
            for n in sorted(os.listdir(data_dir))
            if n.endswith(".parquet") and os.path.join("data", n) not in referenced
        ]
        if orphans:
            findings.append(
                _finding(
                    "WARN",
                    "table_orphan_data_files",
                    f"{len(orphans)} data file(s) referenced by no retained "
                    f"snapshot (e.g. {orphans[0]}) — leaked bytes from a "
                    "crashed stage or expired history; reclaim with "
                    "--table-vacuum (remove_orphans)",
                )
            )
    temps = [n for n in os.listdir(snap_dir) if n.startswith(".tmp-")]
    if temps:
        findings.append(
            _finding(
                "WARN",
                "table_torn_manifest_temp",
                f"{len(temps)} torn manifest temp file(s) in _snap/ — a "
                "committer crashed mid-publish; unreachable garbage, "
                "reclaim with --table-vacuum (remove_orphans)",
            )
        )
    return findings
