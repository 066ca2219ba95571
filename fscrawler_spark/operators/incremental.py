"""Incremental-scan semantics: change detection, deletion detection,
tag merge (SURVEY §2.3 J1/J2/J3).

All three are join-shaped and declarative so Catalyst picks the physical
strategy; the small sides (tag tables, watermarks) broadcast, the big
anti-joins sort-merge with AQE skew splitting.
"""

from __future__ import annotations

import pyarrow as pa  # module top: arrow_udf type hints must resolve at import
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def changed_since(df: DataFrame, last_run_ts, slack_seconds: int = 2) -> DataFrame:
    """J1 — watermark change detection (FsParser.java:1200-1215).

    Keep turns with ts newer than the previous run's scan date, minus a
    2s boundary slack (the reference rounds scanDate down 2s to avoid
    boundary loss, issue #82 / FsParser.java:377-379). A pure partition-/
    predicate-pushdown filter: on a ts-partitioned table this prunes whole
    partitions before any I/O.
    """
    return df.filter(
        F.col("ts") > (F.lit(last_run_ts).cast("timestamp") - F.expr(f"INTERVAL {slack_seconds} SECONDS"))
    )


def changed_vs_snapshot(
    df: DataFrame,
    prev: DataFrame,
    checksum_algo: str = "sha256",
    attr_cols: tuple[str, ...] = (),
) -> DataFrame:
    """J1 (content variant) — re-extract only turns that are new or whose
    payload checksum changed vs the previous run's output (the ACL-hash /
    mtime comparison analog, FsParser.java:1147-1215).

    left_anti on (identity, checksum): unchanged turns drop out. This is
    the fixture-scale/parquet-layout diff: it shuffles both sides. At
    scale use the tick's ``layout="bucketed"`` path instead
    (plans/bucketed.colocated_tick_delta) — the same semantics as ONE
    full-outer co-located join with zero Exchange (plan-pinned in
    tests/test_round4_bucketed_tick.py).
    ``checksum_algo`` MUST match the settings.checksum_algo the snapshot
    was written with, else every turn looks changed.

    ``attr_cols``: passthrough attribute columns (role/tool/ts) also
    compared — the checksum covers only ``text``, so a metadata-only edit
    would otherwise never re-extract (the reference's ACL-hash comparison
    catches attribute changes the same way). Compared null-safely: a
    null-tool row equals a null-tool row.
    """
    if checksum_algo not in ("sha256", "md5"):
        raise ValueError(f"checksum_algo must be 'sha256' or 'md5', got {checksum_algo!r}")
    ck = F.sha2(F.col("text"), 256) if checksum_algo == "sha256" else F.md5(F.col("text"))
    cur = df.withColumn("_ck", ck)
    prev_keys = prev.select(
        "conv_id", "turn_idx", F.col("file.checksum").alias("_ck"), *attr_cols
    )
    cond = (
        (cur["conv_id"] == prev_keys["conv_id"])
        & (cur["turn_idx"] == prev_keys["turn_idx"])
        # null-safe: a null-text row (null checksum both sides) is
        # UNCHANGED, not perpetually re-extracted
        & cur["_ck"].eqNullSafe(prev_keys["_ck"])
    )
    for c in attr_cols:
        cond = cond & cur[c].eqNullSafe(prev_keys[c])
    return cur.join(prev_keys, cond, "left_anti").drop("_ck")


def snapshot_file_delta(
    old_rows: DataFrame,
    new_rows: DataFrame,
    checksum_algo: str = "sha256",
    attr_cols: tuple[str, ...] = (),
) -> DataFrame:
    """J1+J2 from a snapshot-manifest diff: the O(changed-files) tick.

    ``old_rows`` / ``new_rows`` are the rows of the data files REMOVED /
    ADDED between two input-table snapshots (plans/snapshot_table.diff)
    — both delta-sized, the corpus's unchanged files never read. One
    full-outer join on the key yields every tick decision at once:

    * ``changed``  — row present in the new files and either absent from
      the old files or different (checksum or any attr, null-safely):
      re-extract. A row that merely MOVED files unmodified (compaction)
      lands on both sides equal and drops out.
    * ``deleted``  — row present only in the old files: remove.
    * ``in_old``   — the purge hint (the row had a prior version).

    Same change semantics as ``changed_vs_snapshot`` (checksum over
    ``text`` + null-safe attr compare) so the two diff paths classify
    edits identically; the reference analog is the same scan-date/hash
    comparison (FsParser.java:1147-1215) — but fed by metadata instead
    of a corpus walk. Both sides must be key-unique (the transcript
    contract; duplicate keys would fan the join out).

    Output: the new-side contract columns (null for deleted keys) +
    ``in_old``/``changed``/``deleted`` flags.
    """
    if checksum_algo not in ("sha256", "md5"):
        raise ValueError(f"checksum_algo must be 'sha256' or 'md5', got {checksum_algo!r}")

    def ck(col):
        return F.sha2(col, 256) if checksum_algo == "sha256" else F.md5(col)

    contract = list(new_rows.columns)
    o = old_rows.select(
        "conv_id",
        "turn_idx",
        ck(F.col("text")).alias("_ck_old"),
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"_old_{c}") for c in attr_cols],
    )
    n = new_rows.withColumn("_ck_new", ck(F.col("text"))).withColumn(
        "_in_new", F.lit(True)
    )
    j = n.join(o, ["conv_id", "turn_idx"], "full_outer")
    attrs_same = F.lit(True)
    for c in attr_cols:
        attrs_same = attrs_same & F.col(c).eqNullSafe(F.col(f"_old_{c}"))
    changed = F.col("_in_new").isNotNull() & (
        F.col("_in_old").isNull()
        | ~F.col("_ck_new").eqNullSafe(F.col("_ck_old"))
        | ~attrs_same
    )
    deleted = F.col("_in_old").isNotNull() & F.col("_in_new").isNull()
    return j.select(
        *contract,
        F.coalesce(F.col("_in_old"), F.lit(False)).alias("in_old"),
        changed.alias("changed"),
        deleted.alias("deleted"),
    )


def deleted_keys(prev: DataFrame, current: DataFrame) -> DataFrame:
    """J2 — deletion detection (FsParser.java:1010-1057): keys present in
    the previous output but absent from the current input form the delete
    set (Iceberg MERGE/DELETE target)."""
    return prev.select("conv_id", "turn_idx").join(
        current.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti"
    )


def deep_merge_json(tags: object, doc: object):
    """The exact DocUtils.merge(mainNode=tags, updateNode=doc) semantics
    (beans/.../DocUtils.java:125-148) over parsed JSON values:

    * key in both, both objects  -> recursive merge (tags side rules)
    * key in both, both arrays   -> element-wise recursive merge over the
      TAGS array's length (extra doc elements are not appended — the
      reference iterates mainNode's size)
    * key in both, scalar        -> tags value kept
    * key only in doc            -> copied into the result
    """
    if isinstance(tags, dict) and isinstance(doc, dict):
        out = {}
        for k, tv in tags.items():
            if k in doc:
                out[k] = deep_merge_json(tv, doc[k])
            else:
                out[k] = tv
        for k, dv in doc.items():
            if k not in tags:
                out[k] = dv
        return out
    if isinstance(tags, list) and isinstance(doc, list):
        return [
            deep_merge_json(tv, doc[i]) if i < len(doc) else tv
            for i, tv in enumerate(tags)
        ]
    return tags  # scalar or type conflict: main (tags) node rules


def merge_tags_deep(
    docs: DataFrame, conv_tags: DataFrame, doc_col: str = "external", out_col: str | None = None
) -> DataFrame:
    """J3 nested variant: per-conversation tag JSON deep-merged into a
    per-row JSON column with the reference's DocUtils.merge semantics
    (Doc.external analog — the free-form payload the .meta.yml tags file
    populates, FsParser.java:908-936,1334-1343).

    docs[doc_col]: JSON string (or null). conv_tags: (conv_id,
    tags_json:string) — broadcast side. Runs as one Arrow-batched UDF
    over only the matched rows' JSON; not on the extraction hot path.
    """
    import json as _json

    out_col = out_col or doc_col

    @F.arrow_udf("string")
    def _merge(doc_js: pa.Array, tag_js: pa.Array) -> pa.Array:
        out = []
        for d, t in zip(doc_js.to_pylist(), tag_js.to_pylist()):
            if not t:
                out.append(d)
                continue
            try:
                tv = _json.loads(t)
                if tv == {} or tv == [] or tv is None:
                    # DocUtils.getMergedDoc returns the doc UNCHANGED for
                    # empty tags (tagsNode.isEmpty() early return) — no
                    # re-serialization, byte-identical passthrough
                    out.append(d)
                    continue
                dv = _json.loads(d) if d else None
                merged = deep_merge_json(tv, dv) if dv is not None else tv
                # merged rows are canonically re-serialized (sorted keys,
                # raw unicode); untouched rows keep their original bytes
                out.append(_json.dumps(merged, sort_keys=True, ensure_ascii=False))
            except Exception:
                # unparseable tags: keep the doc side untouched (the
                # reference raises config errors at load time; at row
                # scope we keep the record, continue_on_error style)
                out.append(d)
        return pa.array(out, pa.string())

    conv_side = conv_tags.select("conv_id", F.col("tags_json").alias("_tags_json"))
    tagged = docs.join(F.broadcast(conv_side), "conv_id", "left")
    return tagged.withColumn(out_col, _merge(F.col(doc_col), F.col("_tags_json"))).drop(
        "_tags_json"
    )
