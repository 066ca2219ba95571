"""Snapshot-manifest table format: Iceberg-shaped metadata over parquet.

The north-star deployment reads and writes *Iceberg tables*; this sandbox
cannot install an Iceberg catalog, so this module re-derives the three
Iceberg properties the engine actually leans on, over plain parquet plus
JSON manifests — the same trick the checkpoint manifest plays for run
state (plans/checkpoint.py), lifted to table data:

1. **Atomic snapshot commits with optimistic concurrency.** A snapshot is
   an immutable JSON manifest (``_snap/v%08d.json``) listing every data
   file (path, length, row count, per-column min/max stats). Publishing
   is an exclusive ``os.link`` of a fully-fsynced temp file onto the next
   version name — the link either creates the manifest completely or
   fails with EEXIST (another committer won), exactly Iceberg's
   rename-based commit arbitration. Readers resolve "current" as the
   highest complete manifest, so a torn write is unreachable garbage,
   never a corrupt table.
2. **Snapshot isolation + time travel.** A read binds to one manifest's
   explicit file list; concurrent commits are invisible until re-read,
   and any historical snapshot stays readable (``read(snapshot_id=N)``)
   because data files are immutable — mutation is copy-on-write
   (``replace``), never in-place.
3. **File-level stats pruning and manifest diffs.** Per-file min/max
   stats come from the parquet FOOTERS (collected distributed, one task
   per file batch — no data pages read), so a predicate can discard
   whole files driver-side before Spark plans a single task; and two
   manifests diff into (added, removed) file lists by name — the basis
   of the incremental tick's O(changed-files) delta
   (plans/pipeline.run_incremental_update with a ``snap:`` input), the
   engine's answer to the reference's full rescan-per-loop
   (core/.../FsParser.java:488-556, which re-walks the whole tree every
   update_rate even when nothing changed).

At 100 TB: manifests are metadata (one JSON row per data file — ~800k
files at 128 MB each, a few hundred MB of JSON; real Iceberg shards this
into avro manifest *lists*, and swapping this module for a real catalog
keeps every caller unchanged because the API is file-list-shaped).
Stats collection is a distributed footer scan, the commit is O(1), and
pruning/diffing are driver-side set ops over the metadata — nothing here
scales with row count.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import tempfile
import uuid
from dataclasses import dataclass
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from fscrawler_spark.session import materialize

SNAP_DIR = "_snap"
DATA_DIR = "data"
_V_RE = re.compile(r"^v(\d{8})\.json$")
# tag names start with a letter so snap:ROOT@SUFFIX stays unambiguous
# (an all-digit suffix is a snapshot id, never a tag)
_TAG_RE = re.compile(r"^[A-Za-z][A-Za-z0-9._-]{0,63}$")

# columns whose footer min/max ride the manifest by default — the three
# the engine prunes on (key ranges for bucket routing, ts for watermark
# reads à la changed_since)
DEFAULT_STAT_COLS = ("conv_id", "turn_idx", "ts")


class CommitConflictError(RuntimeError):
    """Another committer published this version first (optimistic
    concurrency): re-read current and retry the commit."""


class SchemaRewriteError(ValueError):
    """A changelog range crosses a schema-rewriting overwrite() (type
    change / dropped column) — the from-side files cannot be read under
    the to-side schema, so the range cannot be diffed; read the two
    snapshots separately (derived-table syncs re-bootstrap on this)."""


# summary keys the derived-table sync (plans/derived) stamps on every
# view commit; defined HERE so row-preserving maintenance commits
# (compact, rollback) can carry them forward without importing the
# derived module (which imports this one)
DERIVED_CURSOR_KEYS = ("derived_of_root", "derived_of_uuid", "derived_from_snapshot")


class SnapshotIntegrityError(RuntimeError):
    """A manifest references a data file whose on-disk length changed —
    the immutability contract was violated out-of-band."""


@dataclass(frozen=True)
class FileEntry:
    """One immutable data file inside a snapshot."""

    path: str  # RELATIVE to the table root ("data/<uuid>-0.parquet")
    length: int
    rows: int
    # {"col": {"min": scalar, "max": scalar, "nulls": int}} — JSON-safe
    # scalars (timestamps as ISO-8601 strings, which compare correctly
    # as strings); {} when the footer carries no stats for the column
    stats: dict

    def to_dict(self) -> dict:
        return {
            "path": self.path,
            "length": self.length,
            "rows": self.rows,
            "stats": self.stats,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "FileEntry":
        return cls(
            path=d["path"], length=d["length"], rows=d["rows"], stats=d.get("stats", {})
        )


def _json_scalar(v):
    """Footer stat -> JSON-safe scalar that still ORDERS correctly when
    compared against a predicate literal of the same column type."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None  # undecodable byte stats: drop (conservative keep)
    # datetime.datetime: NAIVE-UTC, FIXED-precision ISO-8601. Two
    # normalizations, both load-bearing for lexical==chronological:
    # - bare isoformat() omits ".000000" on whole-second values, so a
    #   mixed-precision pair compares wrong (a "...T00:00:00.000000"
    #   literal sorts above a stored "...T00:00:00" equal instant);
    # - pyarrow returns tz-AWARE stats (parquet TIMESTAMP_MICROS is
    #   UTC-adjusted) while caller literals are usually naive — a
    #   trailing "+00:00" breaks the comparison the same way. Predicate
    #   literals run through this same function (file_may_match), so
    #   both sides land in the one canonical form; naive caller
    #   datetimes are interpreted as UTC.
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    # datetime.date / time: ISO-8601 strings sort chronologically
    iso = getattr(v, "isoformat", None)
    return iso() if iso else str(v)


def _footer_stats(path: str, cols: Sequence[str]) -> tuple[int, dict]:
    """(row_count, {col: {min,max,nulls}}) from ONE parquet footer.

    Aggregates row-group statistics; a column with stats missing on ANY
    row group reports no stats at all (pruning must stay conservative).
    """
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = {md.schema.column(i).path: i for i in range(md.num_columns)}
    out: dict = {}
    for col in cols:
        ci = names.get(col)
        if ci is None:
            continue
        mins, maxs, nulls, ok = [], [], 0, True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mins.append(st.min)
            maxs.append(st.max)
            nulls += st.null_count or 0
        if not ok or not mins:
            continue
        lo, hi = _json_scalar(min(mins)), _json_scalar(max(maxs))
        if lo is None or hi is None:
            continue
        out[col] = {"min": lo, "max": hi, "nulls": nulls}
    return md.num_rows, out


def _collect_entries(
    spark: SparkSession, root: str, rel_paths: list[str], stat_cols: Sequence[str]
) -> list[FileEntry]:
    """Distributed footer-stats collection: one row per data file, footer
    reads fanned out over the cluster (at 800k files this is the only
    non-driver-side step of a commit). The collect is bounded — manifest
    metadata, one small row per file."""
    cols = list(stat_cols)

    def entry(rel: str) -> FileEntry:
        ap = os.path.join(root, rel)
        nrows, stats = _footer_stats(ap, cols)
        return FileEntry(rel, os.path.getsize(ap), nrows, stats)

    if len(rel_paths) <= 16:
        # tiny commits: a driver loop beats a Spark job's scheduling cost
        return [entry(rel) for rel in rel_paths]

    def gen(batches):
        import pyarrow as pa

        for b in batches:
            es = [entry(rel) for rel in b.column(0).to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([e.path for e in es], pa.string()),
                    pa.array([e.length for e in es], pa.int64()),
                    pa.array([e.rows for e in es], pa.int64()),
                    pa.array([json.dumps(e.stats) for e in es], pa.string()),
                ],
                ["rel", "length", "rows", "stats"],
            )

    paths_df = spark.createDataFrame([(p,) for p in rel_paths], "rel string")
    n_parts = min(len(rel_paths), spark.sparkContext.defaultParallelism)
    rows = (
        paths_df.repartition(n_parts)
        .mapInArrow(gen, "rel string, length long, rows long, stats string")
        .collect()
    )
    by_rel = {r["rel"]: r for r in rows}
    return [
        FileEntry(rel, by_rel[rel]["length"], by_rel[rel]["rows"], json.loads(by_rel[rel]["stats"]))
        for rel in rel_paths
    ]


def _stat_cmp_value(entry_stats: dict, col: str):
    s = entry_stats.get(col)
    if not s:
        return None
    return s


def file_may_match(entry: FileEntry, predicates: Iterable[tuple]) -> bool:
    """Conservative file-level predicate check: False ONLY when the
    file's stats PROVE no row can match. Predicates are
    ``(col, op, value)`` with op in {'=','<','<=','>','>=','between'}
    ('between' takes a (lo, hi) value). Unknown column / missing stats /
    type mismatch -> keep the file.

    Timestamp predicates: pass datetime objects (normalized here to the
    same fixed-precision ISO form the stats are stored in) or ISO strings
    WITH microseconds ("...T00:00:00.000000") — a bare-seconds string
    compares lexically below the stored fixed-precision equal instant and
    could prune a file that matches."""
    for col, op, val in predicates:
        s = _stat_cmp_value(entry.stats, col)
        if s is None:
            continue
        if op == "between":
            val = tuple(_json_scalar(v) for v in val)
        else:
            val = _json_scalar(val)
        lo, hi = s["min"], s["max"]
        try:
            if op == "=" and (val < lo or val > hi):
                return False
            if op == "<" and lo >= val:
                return False
            if op == "<=" and lo > val:
                return False
            if op == ">" and hi <= val:
                return False
            if op == ">=" and hi < val:
                return False
            if op == "between":
                vlo, vhi = val
                if hi < vlo or lo > vhi:
                    return False
        except TypeError:
            continue  # incomparable literal vs stat type: keep
    return True


# metadata columns read_changes() appends to the table schema
CHANGE_COLS = ("_change_type", "_from_snapshot", "_to_snapshot")


def _strip_null_flags(dt: T.DataType) -> T.DataType:
    """The type with every nested nullability flag forced permissive —
    the shape two types must share to be the SAME type for schema
    evolution (nullability evolves by widening, it is not a type
    change)."""
    if isinstance(dt, T.MapType):
        return T.MapType(
            _strip_null_flags(dt.keyType), _strip_null_flags(dt.valueType), True
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_strip_null_flags(dt.elementType), True)
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _strip_null_flags(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt


def _widen_null_flags(a: T.DataType, b: T.DataType) -> T.DataType:
    """``a`` with every nested nullability flag OR'd with ``b``'s —
    callers guarantee the two strip to the same type. Widening only:
    a table column never becomes less nullable."""
    if isinstance(a, T.MapType):
        return T.MapType(
            _widen_null_flags(a.keyType, b.keyType),
            _widen_null_flags(a.valueType, b.valueType),
            a.valueContainsNull or b.valueContainsNull,
        )
    if isinstance(a, T.ArrayType):
        return T.ArrayType(
            _widen_null_flags(a.elementType, b.elementType),
            a.containsNull or b.containsNull,
        )
    if isinstance(a, T.StructType):
        bf = {f.name: f for f in b.fields}
        return T.StructType(
            [
                T.StructField(
                    f.name,
                    _widen_null_flags(f.dataType, bf[f.name].dataType),
                    f.nullable or bf[f.name].nullable,
                )
                for f in a.fields
            ]
        )
    return a


def _needs_canon(dt: T.DataType, floats: bool = False) -> bool:
    """True when a value of this type can be logically equal but
    binary-unequal — i.e. it contains a map anywhere (Spark maps carry
    insertion order, and parquet round-trips it, so the same logical map
    can surface with entries in different orders), or, with ``floats``,
    a float/double anywhere (-0.0 == 0.0 but serializes apart)."""
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return floats
    if isinstance(dt, T.ArrayType):
        return _needs_canon(dt.elementType, floats)
    if isinstance(dt, T.StructType):
        return any(_needs_canon(f.dataType, floats) for f in dt.fields)
    return False


def _canon_expr(col, dt: T.DataType):
    """Order-canonical comparison form of ``col``: every map at any
    nesting depth becomes its ``array_sort(map_entries(...))`` — a
    comparable type (Spark refuses equality on MapType outright) with a
    deterministic entry order — and every float/double becomes
    ``x + 0.0`` (IEEE: -0.0 + 0.0 = 0.0; NaN and NULL pass through), so
    a hash over it cannot tell -0.0 from 0.0. Subtrees with neither pass
    through untouched, so the expression stays a pure codegen projection
    and a no-op for such columns."""
    from pyspark.sql import functions as F

    if isinstance(dt, T.MapType):
        entries = F.map_entries(col)
        if _needs_canon(dt.keyType, True) or _needs_canon(dt.valueType, True):
            entries = F.transform(
                entries,
                lambda e: F.struct(
                    _canon_expr(e["key"], dt.keyType).alias("key"),
                    _canon_expr(e["value"], dt.valueType).alias("value"),
                ),
            )
        return F.array_sort(entries)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return col + F.lit(0.0).cast(dt)
    if isinstance(dt, T.ArrayType) and _needs_canon(dt.elementType, True):
        return F.transform(col, lambda x: _canon_expr(x, dt.elementType))
    if isinstance(dt, T.StructType) and _needs_canon(dt, True):
        rebuilt = F.struct(
            *[_canon_expr(col[f.name], f.dataType).alias(f.name) for f in dt.fields]
        )
        # F.struct over a NULL struct yields a struct of NULLs, not NULL —
        # keep the distinction (NULL file-struct != struct of NULL fields)
        return F.when(col.isNull(), F.lit(None)).otherwise(rebuilt)
    return col


class SnapshotTable:
    """A parquet table governed by snapshot manifests (module doc)."""

    def __init__(self, root: str):
        self.root = root
        self.snap_dir = os.path.join(root, SNAP_DIR)
        self.data_dir = os.path.join(root, DATA_DIR)

    # -- metadata ---------------------------------------------------------

    def exists(self) -> bool:
        return os.path.isdir(self.snap_dir) and self.snapshot_ids() != []

    def snapshot_ids(self) -> list[int]:
        if not os.path.isdir(self.snap_dir):
            return []
        out = []
        for name in os.listdir(self.snap_dir):
            m = _V_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def current_id(self) -> int:
        ids = self.snapshot_ids()
        if not ids:
            raise FileNotFoundError(f"no snapshots at {self.root}")
        return ids[-1]

    # -- tags (named snapshot refs; Iceberg tag analog) -------------------
    #
    # A tag pins a snapshot under a stable name ("the dataset v3 trained
    # on"): read(tag=...) time-travels to it forever, and
    # expire_unreferenced keeps tagged snapshots (and their files) alive
    # regardless of the keep window — retention follows the refs, like
    # Iceberg's. One file per tag (_snap/tag-<name>.json): creation is
    # atomic create-new (hard link, refuses an existing tag without
    # force), move/drop are single renames/unlinks — no read-modify-write
    # races, no shared refs file to corrupt. Names start with a letter so
    # a tag can never collide with snap:ROOT@N's all-digit snapshot
    # suffix.

    def _tag_path(self, name: str) -> str:
        return os.path.join(self.snap_dir, f"tag-{name}.json")

    @staticmethod
    def _validate_tag_name(name: str) -> None:
        if not _TAG_RE.match(name or ""):
            raise ValueError(
                f"invalid tag name {name!r}: must start with a letter and "
                "contain only letters, digits, '.', '_', '-' (max 64 chars)"
            )

    def tag(self, name: str, snapshot_id: int | None = None, force: bool = False) -> int:
        """Pin ``snapshot_id`` (default: current) under ``name``. Refuses
        to move an existing tag unless ``force`` (tags are meant to be
        immutable dataset versions). Returns the pinned snapshot id."""
        self._validate_tag_name(name)
        sid = self.current_id() if snapshot_id is None else snapshot_id
        self.manifest(sid)  # raises if it never existed / was expired
        path = self._tag_path(name)
        fd, tmp = tempfile.mkstemp(prefix=".tmp-tag-", dir=self.snap_dir)
        try:
            with os.fdopen(fd, "w") as f:
                json.dump({"name": name, "snapshot_id": sid}, f)
                # same durability contract as _commit: the ref must be on
                # disk before we report success — a torn/empty tag file
                # would silently release the pin (expire could then GC
                # the "pinned" snapshot)
                f.flush()
                os.fsync(f.fileno())
            if force:
                os.replace(tmp, path)  # atomic move-or-create
            else:
                try:
                    os.link(tmp, path)  # atomic create-NEW: EEXIST if tagged
                except FileExistsError:
                    raise ValueError(
                        f"tag {name!r} already exists at {self.root} "
                        f"(-> snapshot {self.resolve_tag(name)}); pass "
                        "force=True to move it"
                    ) from None
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        # narrow the tag-vs-expire race: a concurrent expire_unreferenced
        # that snapshotted the refs BEFORE this tag existed may be
        # deleting sid right now — re-verify and fail LOUDLY rather than
        # return a dangling pin (expire re-reads refs before deleting,
        # so both sides must lose for a pin to dangle silently)
        if not os.path.exists(self._manifest_path(sid)):
            try:
                os.remove(path)
            except FileNotFoundError:
                pass
            raise FileNotFoundError(
                f"snapshot {sid} was expired while tagging it — the tag "
                "was not created; re-run against a retained snapshot"
            )
        return sid

    def tags(self) -> dict[str, int]:
        """{name: snapshot_id} for every readable tag on the table. The
        NAME IS THE FILENAME (tag-<name>.json) — the address
        resolve_tag/drop_tag use — never the JSON body, so a copied or
        forged file can't list a name that doesn't resolve. Torn files
        are skipped here (doctor reports them as table_tag_torn)."""
        if not os.path.isdir(self.snap_dir):
            return {}
        out: dict[str, int] = {}
        for fname in sorted(os.listdir(self.snap_dir)):
            if not (fname.startswith("tag-") and fname.endswith(".json")):
                continue
            try:
                with open(os.path.join(self.snap_dir, fname)) as f:
                    out[fname[4:-5]] = int(json.load(f)["snapshot_id"])
            except (OSError, ValueError, KeyError, TypeError):
                continue  # torn/concurrently-dropped tag: doctor reports
        return out

    def resolve_tag(self, name: str) -> int:
        self._validate_tag_name(name)
        try:
            with open(self._tag_path(name)) as f:
                return int(json.load(f)["snapshot_id"])
        except FileNotFoundError:
            raise FileNotFoundError(
                f"no tag {name!r} at {self.root} (tags: "
                f"{sorted(self.tags()) or 'none'})"
            ) from None
        except (ValueError, KeyError, TypeError) as e:
            # incl. JSONDecodeError: a torn ref must surface as the
            # standard clean-message error class, not a JSON traceback
            raise ValueError(
                f"tag {name!r} at {self.root} is torn/unreadable ({e}) — "
                "its pin is NOT protecting any snapshot; drop and re-tag"
            ) from None

    def drop_tag(self, name: str) -> int:
        """Remove the tag (the snapshot becomes expirable again).
        Returns the snapshot id it pointed to."""
        sid = self.resolve_tag(name)
        try:
            os.remove(self._tag_path(name))
        except FileNotFoundError:
            pass  # concurrent drop: outcome identical
        return sid

    def _manifest_path(self, sid: int) -> str:
        return os.path.join(self.snap_dir, f"v{sid:08d}.json")

    def manifest(self, snapshot_id: int | None = None) -> dict:
        sid = self.current_id() if snapshot_id is None else snapshot_id
        p = self._manifest_path(sid)
        if not os.path.exists(p):
            raise FileNotFoundError(f"snapshot {sid} does not exist at {self.root}")
        with open(p) as f:
            return json.load(f)

    def files(
        self,
        snapshot_id: int | None = None,
        predicates: Iterable[tuple] | None = None,
    ) -> list[FileEntry]:
        m = self.manifest(snapshot_id)
        entries = [FileEntry.from_dict(d) for d in m["files"]]
        if predicates:
            entries = [e for e in entries if file_may_match(e, predicates)]
        return entries

    def history(self) -> list[dict]:
        """Commit log (Iceberg ``table.history()`` analog). Non-core
        manifest keys (the ``extra`` summary a committer attached, e.g. a
        publish's run_id/counters) ride along under ``summary``."""
        core = {"format_version", "snapshot_id", "parent_id", "operation", "schema", "files"}
        out = []
        for sid in self.snapshot_ids():
            m = self.manifest(sid)
            row = {
                "snapshot_id": m["snapshot_id"],
                "parent_id": m["parent_id"],
                "operation": m["operation"],
                "files": len(m["files"]),
                "rows": sum(f["rows"] for f in m["files"]),
            }
            summary = {k: v for k, v in m.items() if k not in core}
            if summary:
                row["summary"] = summary
            out.append(row)
        return out

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.manifest()["schema"]))

    def table_uuid(self) -> str | None:
        """This table's lineage identity: minted at the first commit and
        carried forward through every snapshot, so two tables that happen
        to share a root path over time (drop-and-recreate) are
        distinguishable. ``None`` only for a legacy current manifest that
        predates the field (its next commit mints one)."""
        return self.manifest().get("table_uuid")

    # -- reads ------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        predicates: Iterable[tuple] | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Bind a DataFrame to ONE snapshot's (optionally stats-pruned)
        explicit file list — snapshot isolation by construction: commits
        after this call cannot change what the plan reads. The stored
        schema is applied so an empty (fully pruned) read keeps the
        table's exact shape.

        The snapshot id is resolved ONCE: passing snapshot_id=None down
        to read_entries would re-resolve "current" there, and a commit
        racing in between (e.g. an overwrite() changing a column type)
        would bind THIS snapshot's files to the NEWER snapshot's schema —
        exactly the torn read this method promises cannot happen."""
        if tag is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR tag, not both")
            snapshot_id = self.resolve_tag(tag)
        sid = self.current_id() if snapshot_id is None else snapshot_id
        m = self.manifest(sid)
        entries = [FileEntry.from_dict(d) for d in m["files"]]
        if predicates:
            entries = [e for e in entries if file_may_match(e, predicates)]
        return self.read_entries(spark, entries, snapshot_id=sid)

    def read_entries(
        self,
        spark: SparkSession,
        entries: Sequence[FileEntry],
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """DataFrame over an explicit FileEntry subset (e.g. one side of a
        manifest diff), with the named snapshot's stored schema — an empty
        subset keeps the table's exact shape."""
        schema = T.StructType.fromJson(json.loads(self.manifest(snapshot_id)["schema"]))
        if not entries:
            return spark.createDataFrame([], schema)
        paths = [os.path.join(self.root, e.path) for e in entries]
        return spark.read.schema(schema).parquet(*paths)

    def diff(self, from_id: int, to_id: int) -> dict:
        """Manifest diff: {'added': [FileEntry], 'removed': [FileEntry]}
        by file name. Immutability is defended, not assumed: a path
        present in both with a different recorded length means someone
        rewrote a data file in place -> SnapshotIntegrityError."""
        a = {e.path: e for e in self.files(from_id)}
        b = {e.path: e for e in self.files(to_id)}
        for p in a.keys() & b.keys():
            if a[p].length != b[p].length:
                raise SnapshotIntegrityError(
                    f"data file {p} changed length between snapshots "
                    f"{from_id} and {to_id} ({a[p].length} -> {b[p].length}); "
                    "data files are immutable — mutate via replace()/overwrite()"
                )
        return {
            "added": [b[p] for p in sorted(b.keys() - a.keys())],
            "removed": [a[p] for p in sorted(a.keys() - b.keys())],
        }

    def read_changes(
        self,
        spark: SparkSession,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
        keys: Sequence[str] | None = ("conv_id", "turn_idx"),
    ) -> DataFrame:
        """Row-level changelog between two snapshots (Iceberg incremental
        read / Delta CDF analog): the table's columns plus
        ``_change_type`` in {'insert', 'delete', 'update_preimage',
        'update_postimage'} and the ``_from_snapshot``/``_to_snapshot``
        bounds. This is the delta-sized input for "re-curate only what
        changed": a downstream job consumes the changelog instead of
        re-reading the corpus.

        Scale shape: only the manifest-diffed files are ever read —
        O(files touched between the snapshots), never O(corpus) — and
        the one shuffle is the keyed full-outer join of those two file
        sets. Copy-on-write rewrites carry bystander rows into new
        files; the keyed join cancels them (a key present on both sides
        with equal non-key values emits nothing), so a compaction-only
        range yields an EMPTY changelog. Map-typed fields compare by
        canonical sorted-entry form (_canon_expr), not binary layout.

        Net semantics over multi-commit ranges fall out of diffing the
        ENDPOINT manifests: a row inserted then deleted inside the range
        is absent; inserted then updated is one 'insert' at its final
        value; updated twice is one preimage (from-value) + one
        postimage (to-value).

        ``keys`` must uniquely identify live rows on each side (the
        table's mutation contract already requires this); NULL or
        duplicate keys in the diffed files refuse loudly. ``keys=None``
        degrades to the file-level raw stream — every row of a removed
        file as 'delete', every added-file row as 'insert', WITHOUT
        bystander cancellation (exact, but noisy under copy-on-write).
        """
        import functools

        from pyspark.sql import functions as F

        to_id = self.current_id() if to_snapshot_id is None else to_snapshot_id
        if from_snapshot_id > to_id:
            raise ValueError(
                f"from_snapshot_id {from_snapshot_id} is newer than "
                f"to_snapshot_id {to_id} — a changelog reads forward"
            )
        schema = T.StructType.fromJson(json.loads(self.manifest(to_id)["schema"]))
        cols = [f.name for f in schema.fields]
        clash = [c for c in CHANGE_COLS if c in cols]
        if clash:
            raise ValueError(
                f"table schema already has changelog column(s) {clash} — "
                "rename them or read snapshots directly"
            )
        # both sides are read under the TO schema: ADDITIVE evolution makes
        # that safe (older files NULL-fill net-new columns, same rule as
        # read()), but an overwrite() may rewrite the schema wholesale —
        # refuse a range whose from-side files could not parse under the
        # to-side schema, rather than crash mid-job or drop preimages
        from_schema = T.StructType.fromJson(
            json.loads(self.manifest(from_snapshot_id)["schema"])
        )
        to_types = {f.name: f.dataType for f in schema.fields}
        ts_pair = {T.TimestampType(), T.TimestampNTZType()}
        for f in from_schema.fields:
            have = to_types.get(f.name)
            bad = have is None or (
                _strip_null_flags(have) != _strip_null_flags(f.dataType)
                and not (have in ts_pair and f.dataType in ts_pair)
            )
            if bad:
                raise SchemaRewriteError(
                    f"snapshot {from_snapshot_id}'s column {f.name!r} "
                    f"({f.dataType.simpleString()}) "
                    + (
                        "was dropped"
                        if have is None
                        else f"changed type to {have.simpleString()}"
                    )
                    + f" by snapshot {to_id} — the range crosses a "
                    "schema-rewriting overwrite(); read the two snapshots "
                    "separately"
                )
        # key-spec validation BEFORE the empty-range early return, so a
        # probe of an idle table still surfaces a bad key spec
        by_name = to_types
        if keys is not None:
            keys = list(keys)
            if not keys:
                raise ValueError(
                    "keys must name at least one column — pass keys=None for "
                    "the raw file-level stream"
                )
            missing = [k for k in keys if k not in cols]
            if missing:
                raise ValueError(
                    f"key column(s) {missing} not in table schema {cols}"
                )
            unjoinable = [k for k in keys if _needs_canon(by_name[k])]
            if unjoinable:
                raise ValueError(
                    f"key column(s) {unjoinable} contain map types — not "
                    "joinable; pick scalar keys or keys=None"
                )
        out_fields = list(schema.fields) + [
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_from_snapshot", T.IntegerType(), False),
            T.StructField("_to_snapshot", T.IntegerType(), False),
        ]
        out_schema = T.StructType(out_fields)
        tail = [
            F.lit(from_snapshot_id).cast("int").alias("_from_snapshot"),
            F.lit(to_id).cast("int").alias("_to_snapshot"),
        ]
        if from_snapshot_id == to_id:
            return spark.createDataFrame([], out_schema)
        d = self.diff(from_snapshot_id, to_id)
        old = self.read_entries(spark, d["removed"], snapshot_id=to_id)
        new = self.read_entries(spark, d["added"], snapshot_id=to_id)
        if keys is None:
            return (
                old.select(*cols, F.lit("delete").alias("_change_type"), *tail)
                .unionByName(
                    new.select(*cols, F.lit("insert").alias("_change_type"), *tail)
                )
            )
        self._validate_changelog_keys(old, new, keys)
        nonkeys = [c for c in cols if c not in keys]
        # The keyed diff DECIDES on a slim proxy and MOVES payloads once
        # (guide §8): each side ships only (keys, presence, three
        # independent hashes of the canonicalized non-key columns)
        # through the full-outer join — the old shape shuffled both
        # sides' complete row structs (text and all) just to compare
        # mostly-unchanged bystanders, which dominated the changelog
        # cost under copy-on-write rewrites. Rows that differ (or
        # appear/vanish) come out of the join as a delta-sized key set;
        # their full values are then fetched by re-reading the SAME
        # diffed files with a keyed join per side — payload bytes never
        # ride the comparison shuffle. Map-bearing columns hash via
        # their canonical sorted-entry form and floats/doubles as
        # x + 0.0 (_canon_expr), so neither map layout nor -0.0 vs 0.0
        # fakes a change. "Unchanged" is hash equality over 128
        # independent bits: a type-aware xxhash64 plus an xxhash64 over a
        # null-structure-EXPLICIT canonical JSON serialization — the
        # type-aware stream alone skips null inputs at every nesting
        # level (NULL struct == struct of NULLs, [1,NULL,2] == [1,2]),
        # which the JSON stream keeps distinct. Miss probability per
        # changed row ~2^-64-and-then-some — the same checksum-equality
        # contract the extraction tick's change detection (sha256) has
        # always used.
        def hash_inputs():
            return [_canon_expr(F.col(c), by_name[c]) for c in nonkeys]

        def prep_slim(df: DataFrame, side: str) -> DataFrame:
            sel = [F.col(k) for k in keys] + [F.lit(True).alias(f"_{side}_present")]
            if nonkeys:
                hi = hash_inputs()
                # _h4 hashes a null-structure-explicit serialization: the
                # type-aware hash expressions SKIP null inputs at every
                # nesting level, so a NULL struct and a struct of NULL
                # fields hash identically — to_json with
                # ignoreNullFields=false keeps them distinct (pinned by
                # test_null_struct_vs_struct_of_nulls); it serializes the
                # CANON form, so map entry order still cannot fake a
                # change
                named = [e.alias(c) for e, c in zip(hi, nonkeys)]
                sel += [
                    F.xxhash64(*hi).alias(f"_{side}_h1"),
                    F.xxhash64(
                        F.to_json(
                            F.struct(*named), {"ignoreNullFields": "false"}
                        )
                    ).alias(f"_{side}_h2"),
                ]
            return df.select(*sel)

        j = prep_slim(old, "old").join(prep_slim(new, "new"), on=keys, how="full_outer")
        if nonkeys:
            unchanged = (
                (F.col("_old_h1") == F.col("_new_h1"))
                & (F.col("_old_h2") == F.col("_new_h2"))
            )
        else:
            unchanged = F.lit(True)  # key-only table: a key on both sides is a no-op
        kind = (
            F.when(F.col("_old_present").isNull(), F.lit("insert"))
            .when(F.col("_new_present").isNull(), F.lit("delete"))
            .when(unchanged, F.lit(None).cast("string"))
            .otherwise(F.lit("update"))
        )
        # delta-sized by construction; materialized so the two
        # payload-attach joins below don't re-run the slim join (and so
        # AQE sees its true—small—size)
        keyed = materialize(
            j.select(*keys, kind.alias("_kind")).filter(F.col("_kind").isNotNull())
        )
        if not nonkeys:
            return keyed.select(
                *keys, F.col("_kind").alias("_change_type"), *tail
            )
        old_kinds = keyed.filter(F.col("_kind").isin("delete", "update"))
        new_kinds = keyed.filter(F.col("_kind").isin("insert", "update"))
        out_old = old.join(old_kinds, on=keys).select(
            *cols,
            F.when(F.col("_kind") == "delete", F.lit("delete"))
            .otherwise(F.lit("update_preimage"))
            .alias("_change_type"),
        )
        out_new = new.join(new_kinds, on=keys).select(
            *cols,
            F.when(F.col("_kind") == "insert", F.lit("insert"))
            .otherwise(F.lit("update_postimage"))
            .alias("_change_type"),
        )
        return out_old.unionByName(out_new).select(*cols, "_change_type", *tail)

    @staticmethod
    def _validate_changelog_keys(
        old: DataFrame, new: DataFrame, keys: Sequence[str]
    ) -> None:
        """NULL or duplicate keys inside the diffed files make keyed
        classification ambiguous — refuse with which side/why. ONE
        bounded job, ONE key-pruned scan per side (round 6: the former
        four probe subtrees scanned each side twice and ran a full
        groupBy; one aggregate per side decides both conditions —
        duplicates exist iff distinct non-NULL key tuples < non-NULL
        rows, count_distinct skipping exactly the NULL-bearing rows the
        null counter tallies)."""
        import functools

        from pyspark.sql import functions as F

        null_pred = functools.reduce(
            lambda a, b: a | b, (F.col(k).isNull() for k in keys)
        )
        probes = [
            df.agg(
                F.lit(side).alias("side"),
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(null_pred, 1).otherwise(0)).alias("n_null"),
                F.count_distinct(*[F.col(k) for k in keys]).alias("n_distinct"),
            )
            for df, side in ((old, "removed"), (new, "added"))
        ]
        for r in probes[0].unionByName(probes[1]).collect():
            why = None
            if (r["n_null"] or 0) > 0:
                why = "NULL"
            elif (r["n_distinct"] or 0) < (r["n"] or 0) - (r["n_null"] or 0):
                why = "duplicate"
            if why:
                raise ValueError(
                    f"{why} key value(s) {list(keys)} in the range's "
                    f"{r['side']} files — keyed changelog needs unique "
                    "non-NULL keys; use keys=None for the raw file-level stream"
                )

    # -- writes -----------------------------------------------------------

    def _stage_data_files(self, df: DataFrame, commit_uuid: str) -> list[str]:
        """Write df's partitions as immutable data files under data/.

        Spark writes to a scratch dir; the part files are then renamed to
        uuid-prefixed names under data/ (same-filesystem rename — on an
        object store this is the upload step; the COMMIT is the manifest
        link either way, so a crash here leaks unreferenced files, never
        a broken table)."""
        os.makedirs(self.data_dir, exist_ok=True)
        stage = os.path.join(self.root, f"_stage-{commit_uuid}")
        # Spark's legacy INT96 timestamp encoding writes NO footer stats
        # (deprecated physical type) — snapshot data files use int64
        # micros (Iceberg's own encoding) so ts participates in pruning.
        # Scoped set/restore: other writers in the session keep their
        # configured encoding.
        spark = df.sparkSession
        key = "spark.sql.parquet.outputTimestampType"
        prev = spark.conf.get(key)
        spark.conf.set(key, "TIMESTAMP_MICROS")
        try:
            df.write.mode("overwrite").parquet(stage)
        finally:
            spark.conf.set(key, prev)
        rels = []
        i = 0
        for name in sorted(os.listdir(stage)):
            if not name.endswith(".parquet"):
                continue
            rel = os.path.join(DATA_DIR, f"{commit_uuid}-{i}.parquet")
            os.replace(os.path.join(stage, name), os.path.join(self.root, rel))
            rels.append(rel)
            i += 1
        shutil.rmtree(stage, ignore_errors=True)
        return rels

    # manifest keys the format owns — an ``extra`` that collides would
    # silently clobber the file list / schema and corrupt every later read
    _RESERVED_KEYS = frozenset(
        {
            "format_version",
            "snapshot_id",
            "parent_id",
            "operation",
            "schema",
            "files",
            "table_uuid",
        }
    )

    def _commit(
        self,
        spark: SparkSession,
        files: list[FileEntry],
        operation: str,
        parent_id: int | None,
        schema_json: str,
        extra: dict | None = None,
        parent_manifest: dict | None = None,
    ) -> int:
        """``parent_manifest``: the already-parsed manifest of
        ``parent_id`` when the caller holds it — at the module's stated
        scale a manifest is hundreds of MB of JSON, so committers that
        just read the parent for its file list / schema must not force a
        second parse here."""
        next_id = (parent_id or 0) + 1
        if extra:
            bad = self._RESERVED_KEYS & extra.keys()
            if bad:
                raise ValueError(
                    f"extra contains reserved manifest key(s) {sorted(bad)} — "
                    "summary fields must not collide with the table format"
                )
        manifest = {
            "format_version": 1,
            "snapshot_id": next_id,
            "parent_id": parent_id,
            "operation": operation,
            "schema": schema_json,
            "files": [e.to_dict() for e in files],
        }
        if extra:
            manifest.update(extra)
        # table identity survives every commit: minted at the FIRST commit
        # (or on first contact with a legacy lineage that predates the
        # field) and carried forward verbatim — the tick's diff base and
        # the publish correspondence pin to it, so a drop-and-recreate at
        # the same root can never be mistaken for the table it replaced
        # (snapshot ids are table-local and restart at 1).
        parent_m: dict | None = parent_manifest
        if parent_id is not None and parent_m is None:
            try:
                parent_m = self.manifest(parent_id)
            except FileNotFoundError:
                parent_m = None  # parent expired mid-commit-loop: rebase will retry
        manifest["table_uuid"] = (
            (parent_m or {}).get("table_uuid") or uuid.uuid4().hex
        )
        os.makedirs(self.snap_dir, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.snap_dir, prefix=".tmp-")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(manifest, f)
                f.flush()
                os.fsync(f.fileno())
            target = self._manifest_path(next_id)
            try:
                # atomic-exclusive publish: link() cannot clobber — the
                # second committer of the same version gets EEXIST
                os.link(tmp, target)
            except FileExistsError:
                raise CommitConflictError(
                    f"snapshot {next_id} at {self.root} was committed by "
                    "another writer; re-read current and retry"
                ) from None
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
        return next_id

    def _schema_json(self, df: DataFrame) -> str:
        return json.dumps(df.schema.jsonValue())

    def _evolve_schema(self, stored_json: str, df: DataFrame, operation: str) -> str:
        """Additive schema evolution (Iceberg add-column semantics, by
        NAME since this format has no field ids):

        - a column in both MUST keep its exact type — type promotion is
          not supported and raising beats silently corrupting reads;
        - a NET-NEW df column extends the table schema (appended after
          the existing fields, nullable); old data files simply lack the
          parquet column, and because every read applies the stored
          schema explicitly, Spark fills it with NULL — no rewrite;
        - a df that OMITS existing nullable columns is fine the same way
          (its new files read back NULL there); omitting a non-nullable
          column is refused.
        """
        def compatible(a, b) -> bool:
            if _strip_null_flags(a) == _strip_null_flags(b):
                # nullability is NOT a type change: flag-only mismatches
                # appear spontaneously (unionByName widens a map's
                # valueContainsNull; parquet read-back differs from the
                # in-memory frame) and cannot corrupt reads — the stored
                # schema is WIDENED below instead, never narrowed
                return True
            # the two timestamp flavors are interchangeable HERE: data
            # files store int64 micros either way (TIMESTAMP_MICROS is
            # forced at staging) and every read applies the STORED
            # schema, so mixing ltz/ntz writers cannot corrupt — and
            # Spark 4 sessions routinely produce one flavor in memory
            # and the other from parquet read-back
            ts = (T.TimestampType(), T.TimestampNTZType())
            return a in ts and b in ts

        stored = T.StructType.fromJson(json.loads(stored_json))
        by_name = {f.name: f for f in stored.fields}
        widened = False
        for f in df.schema.fields:
            have = by_name.get(f.name)
            if have is None:
                continue
            if not compatible(have.dataType, f.dataType):
                raise ValueError(
                    f"{operation}: column {f.name!r} is {f.dataType.simpleString()} "
                    f"but the table stores {have.dataType.simpleString()} — type "
                    "changes need an explicit overwrite(), not schema evolution"
                )
            # widen stored nullability where the incoming data is more
            # nullable: the new files may genuinely hold NULLs there, and
            # every read applies the STORED schema
            if _strip_null_flags(have.dataType) == _strip_null_flags(f.dataType):
                wide = _widen_null_flags(have.dataType, f.dataType)
                if wide != have.dataType or (f.nullable and not have.nullable):
                    by_name[f.name] = T.StructField(
                        have.name, wide, have.nullable or f.nullable
                    )
                    widened = True
            elif f.nullable and not have.nullable:
                # the ts-flavor compatibility path: the stored flavor is
                # kept, but the top-level nullable flag must still widen —
                # the new files can hold NULLs
                by_name[f.name] = T.StructField(have.name, have.dataType, True)
                widened = True
        df_names = {f.name for f in df.schema.fields}
        for f in stored.fields:
            if f.name not in df_names and not f.nullable:
                raise ValueError(
                    f"{operation}: df omits non-nullable table column {f.name!r}"
                )
        new_fields = [f for f in df.schema.fields if f.name not in by_name]
        if not new_fields and not widened:
            return stored_json
        evolved = T.StructType(
            [by_name[f.name] for f in stored.fields]
            + [T.StructField(f.name, f.dataType, True) for f in new_fields]
        )
        return json.dumps(evolved.jsonValue())

    @staticmethod
    def _clustered(df: DataFrame, cluster_by: Sequence[str] | None) -> DataFrame:
        """Iceberg write-ordering analog: range-partition + sort the rows
        by the named columns before staging, so each data file covers a
        NARROW key range and the footer min/max stats prune sharply —
        the difference between a keyed upsert rewriting one file and
        rewriting all of them. One Exchange, caller's choice; never
        implicit (a pre-partitioned pipeline must not be re-shuffled)."""
        if not cluster_by:
            return df
        missing = [c for c in cluster_by if c not in df.columns]
        if missing:
            raise ValueError(f"cluster_by: {missing} not in df columns")
        return df.repartitionByRange(*cluster_by).sortWithinPartitions(*cluster_by)

    def overwrite(
        self,
        spark: SparkSession,
        df: DataFrame,
        stat_cols: Sequence[str] = DEFAULT_STAT_COLS,
        cluster_by: Sequence[str] | None = None,
        extra: dict | None = None,
    ) -> int:
        """Replace the whole table contents in one atomic snapshot. Old
        snapshots stay readable (their files are not deleted).
        ``cluster_by`` range-clusters the rows so file stats prune
        sharply (see _clustered). ``extra`` lands in the manifest
        (Iceberg snapshot-summary analog)."""
        df = self._clustered(df, cluster_by)
        cu = uuid.uuid4().hex[:12]
        rels = self._stage_data_files(df, cu)
        entries = _collect_entries(spark, self.root, rels, stat_cols)
        parent = self.snapshot_ids()[-1] if self.snapshot_ids() else None
        return self._commit(
            spark, entries, "overwrite", parent, self._schema_json(df), extra
        )

    def append(
        self,
        spark: SparkSession,
        df: DataFrame,
        stat_cols: Sequence[str] = DEFAULT_STAT_COLS,
        extra: dict | None = None,
        cluster_by: Sequence[str] | None = None,
    ) -> int:
        """Add df's rows as new data files; existing files carry over.
        Additive schema evolution by name (see _evolve_schema): new df
        columns extend the table schema, old files read NULL there.
        ``cluster_by`` range-clusters the new files (see _clustered)."""
        df = self._clustered(df, cluster_by)
        cu = uuid.uuid4().hex[:12]
        rels = self._stage_data_files(df, cu)
        entries = _collect_entries(spark, self.root, rels, stat_cols)
        # optimistic commit loop (Iceberg's retry): append commutes with
        # any concurrent commit, so on conflict re-read current, rebase
        # the file list, and re-commit — data files are staged once.
        last: CommitConflictError | None = None
        for _ in range(5):
            parent_m: dict | None = None
            if self.snapshot_ids():
                parent = self.current_id()
                # ONE parse per attempt: file list, schema, and _commit's
                # table_uuid carry-forward all come off this dict
                parent_m = self.manifest(parent)
                base = [FileEntry.from_dict(d) for d in parent_m["files"]]
                schema_json = self._evolve_schema(parent_m["schema"], df, "append")
            else:
                parent, base, schema_json = None, [], self._schema_json(df)
            try:
                return self._commit(
                    spark,
                    base + entries,
                    "append",
                    parent,
                    schema_json,
                    extra,
                    parent_manifest=parent_m,
                )
            except CommitConflictError as e:
                last = e
        raise last

    def replace(
        self,
        spark: SparkSession,
        remove_paths: Sequence[str],
        add_df: DataFrame | None,
        stat_cols: Sequence[str] = DEFAULT_STAT_COLS,
        extra: dict | None = None,
        retry_on_conflict: bool = False,
    ) -> int:
        """Copy-on-write mutation: drop the named files (RELATIVE paths)
        from the snapshot and add add_df's rows as new files — the
        MERGE/rewrite primitive every upsert/compaction reduces to.
        Old files stay on disk for time travel. ``extra`` lands in the
        manifest (Iceberg snapshot-summary analog).

        Concurrency (Iceberg commit-validation analog): by default a
        concurrent commit raises CommitConflictError — correct for KEYED
        mutations (upsert/delete), whose touched-file set was computed
        against the old current: a concurrent append could hold matching
        keys, so silently rebasing would mint duplicate/ghost rows; the
        caller must re-run the whole op. ``retry_on_conflict=True`` opts
        a ROW-PRESERVING rewrite (compaction) into an optimistic rebase
        loop: it commutes with any commit that leaves our remove set
        intact (e.g. a live streaming sink appending between our read
        and commit), so re-read current, re-verify every remove_path is
        still present (one vanished ⇒ real conflict ⇒ raise), carry the
        NEW current's other files, and re-commit — data files are staged
        once."""
        added: list[FileEntry] = []
        staged = False
        last: CommitConflictError | None = None
        rm = set(remove_paths)
        for _ in range(5 if retry_on_conflict else 1):
            parent = self.current_id()
            # ONE parse per attempt (see _commit's parent_manifest doc)
            parent_m = self.manifest(parent)
            base = {
                e.path: e for e in (FileEntry.from_dict(d) for d in parent_m["files"])
            }
            missing = [p for p in remove_paths if p not in base]
            if missing:
                if staged:
                    raise CommitConflictError(
                        f"replace: {missing} were removed by a concurrent "
                        f"commit at {self.root}; re-read current and retry "
                        "the whole operation"
                    )
                raise ValueError(
                    f"replace: {missing} not in snapshot {parent} at {self.root}"
                )
            kept = [e for p, e in sorted(base.items()) if p not in rm]
            if add_df is not None and not staged:
                cu = uuid.uuid4().hex[:12]
                rels = self._stage_data_files(add_df, cu)
                added = _collect_entries(spark, self.root, rels, stat_cols)
            staged = True
            schema_json = parent_m["schema"]
            if add_df is not None:
                schema_json = self._evolve_schema(schema_json, add_df, "replace")
            try:
                return self._commit(
                    spark,
                    kept + added,
                    "replace",
                    parent,
                    schema_json,
                    extra,
                    parent_manifest=parent_m,
                )
            except CommitConflictError as e:
                last = e
        raise last

    def rollback(self, spark: SparkSession, to_snapshot_id: int) -> int:
        """Roll the table back to an earlier snapshot's exact contents —
        committed as a NEW snapshot (Iceberg ``rollback_to_snapshot``):
        history stays linear and append-only, "current = highest" keeps
        holding, and the bad snapshots remain readable for forensics
        until expire_unreferenced. Data files are shared, not copied —
        the commit is O(metadata)."""
        m = self.manifest(to_snapshot_id)  # raises if it never existed/expired
        parent = self.current_id()
        if to_snapshot_id == parent:
            return parent  # no-op: already current
        # a derived table rolls its sync cursor back WITH its contents:
        # the target snapshot's cursor (if any) matches the reverted data,
        # so later syncs replay from there instead of refusing
        extra = {"rolled_back_to": to_snapshot_id}
        extra.update({k: m[k] for k in DERIVED_CURSOR_KEYS if k in m})
        return self._commit(
            spark,
            [FileEntry.from_dict(d) for d in m["files"]],
            "rollback",
            parent,
            m["schema"],
            extra,
        )

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        stat_cols: Sequence[str] = DEFAULT_STAT_COLS,
        cluster_by: Sequence[str] | None = None,
    ) -> dict:
        """Copy-on-write small-file compaction (Iceberg rewriteDataFiles
        analog): bin-pack every data file smaller than half the target
        into ~target-sized files via one replace() commit. Rows are
        byte-equal, only the file layout changes — so a manifest-diff
        tick across a compaction classifies every moved row as unchanged
        (snapshot_file_delta's moved-row case) and does zero work. Old
        files stay readable for time travel until expire_unreferenced.

        Returns {"rewritten": n_files, "new_files": m, "snapshot_id": id}
        — a no-op ({"rewritten": 0, ...}) when fewer than two files are
        below the threshold (rewriting one file alone shrinks nothing).

        A derived table's sync cursor (DERIVED_CURSOR_KEYS) is carried
        forward: compaction is row-preserving, so routine maintenance
        must not evict the cursor and force a corpus-scale re-bootstrap.
        (If a sync commits concurrently, the carried cursor can be one
        sync STALE — harmless: replaying an already-applied changelog
        range is idempotent by keyed-upsert construction.)
        """
        cur_m = self.manifest() if self.exists() else {}
        carry = {k: cur_m[k] for k in DERIVED_CURSOR_KEYS if k in cur_m}
        entries = self.files()
        small = [e for e in entries if e.length < target_file_bytes // 2]
        if len(small) < 2:
            return {
                "rewritten": 0,
                "new_files": 0,
                "snapshot_id": self.current_id(),
            }
        total = sum(e.length for e in small)
        n_out = max(1, -(-total // target_file_bytes))  # ceil
        df = self.read_entries(spark, small)
        # re-CLUSTER, never round-robin: repartition(n) would spray each
        # output file across the full key range, so every later keyed
        # upsert/delete's stats pruning (_touched_files) would match ALL
        # compacted files and rewrite them — the exact failure _clustered's
        # doc warns about. Default to the stat columns (they ARE the
        # pruning keys); a table without them degrades to round-robin.
        keys = [c for c in (cluster_by or stat_cols) if c in df.columns]
        if keys:
            packed = df.repartitionByRange(n_out, *keys).sortWithinPartitions(*keys)
        else:
            packed = df.repartition(n_out)
        # retry_on_conflict: compaction is row-preserving, so it commutes
        # with a live streaming sink's appends — only a concurrent removal
        # of one of OUR small files is a real conflict
        sid = self.replace(
            spark,
            [e.path for e in small],
            packed,
            stat_cols=stat_cols,
            extra=carry or None,
            retry_on_conflict=True,
        )
        before = {e.path for e in entries}
        after = {e.path for e in self.files(sid)}
        return {
            "rewritten": len(small),
            "new_files": len(after - before),
            "snapshot_id": sid,
        }

    def _touched_files(
        self, keys_df: DataFrame, keys: Sequence[str]
    ) -> list[FileEntry]:
        """Stats-pruned candidate set for a keyed mutation: the data
        files whose per-column min/max COULD contain any key in
        ``keys_df``. Shape at scale: the manifest is metadata (one
        bounds row per file), so it broadcasts INTO the distinct-keys
        frame; the range join's output is at most O(files) rows and
        only file paths ever come back to the driver — the corpus is
        never scanned. Files without stats on the first key are
        conservatively touched."""
        from pyspark.sql import functions as F

        entries = self.files()
        lead = keys[0]
        # bounds must compare in the key's NATIVE type — a string compare
        # on numeric bounds mis-orders ("10" < "9"); unsupported lead
        # types degrade to conservative (rewrite-everything), never wrong
        dt = keys_df.schema[lead].dataType
        if isinstance(dt, (T.StringType,)):
            sql_t, conv = "string", str
        elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            sql_t, conv = "long", int
        elif isinstance(dt, (T.FloatType, T.DoubleType)):
            sql_t, conv = "double", float
        else:
            return entries
        bounded, unbounded = [], []
        for e in entries:
            s = e.stats.get(lead) or {}
            if s.get("min") is None or s.get("max") is None:
                unbounded.append(e)
            else:
                bounded.append(e)
        if not bounded:
            return entries
        spark = keys_df.sparkSession
        bounds = spark.createDataFrame(
            [
                (e.path, conv(e.stats[lead]["min"]), conv(e.stats[lead]["max"]))
                for e in bounded
            ],
            f"path string, lo {sql_t}, hi {sql_t}",
        )
        dk = keys_df.select(F.col(lead).cast(sql_t).alias("k")).distinct()
        touched_paths = {
            r.path
            for r in dk.join(
                F.broadcast(bounds),
                (F.col("k") >= F.col("lo")) & (F.col("k") <= F.col("hi")),
            )
            .select("path")
            .distinct()
            .collect()
        }
        return unbounded + [e for e in bounded if e.path in touched_paths]

    def upsert(
        self,
        spark: SparkSession,
        delta_df: DataFrame,
        keys: Sequence[str] = ("conv_id", "turn_idx"),
        stat_cols: Sequence[str] = DEFAULT_STAT_COLS,
    ) -> dict:
        """Copy-on-write MERGE (Iceberg ``MERGE INTO`` shape): rows in
        ``delta_df`` replace same-key rows, new keys insert — in ONE
        atomic commit that rewrites ONLY the data files whose stats
        ranges can contain a delta key (everything else carries over by
        reference). Work is O(touched files + delta), never O(corpus):
        kept rows come from an anti-join of just the touched files
        against the (broadcastable) delta keys. Duplicate or NULL keys
        WITHIN delta_df are the caller's bug and refuse loudly — which
        rows win would be nondeterministic / NULL keys never join.
        Schema evolution composes (the delta may add columns, per
        _evolve_schema). Thin wrapper over apply_delta — ONE
        implementation of the MERGE core."""
        return self.apply_delta(spark, delta_df, None, keys=keys, stat_cols=stat_cols)

    def delete_rows(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        keys: Sequence[str] = ("conv_id", "turn_idx"),
        stat_cols: Sequence[str] = DEFAULT_STAT_COLS,
    ) -> dict:
        """Copy-on-write keyed DELETE: drop every row matching a key in
        ``keys_df``, rewriting only the stats-touched files (same
        pruning as upsert). A key that matches nothing is a no-op row,
        not an error — deletes are declarative. NULL keys refuse loudly
        (an anti-join can never match them, so the delete would be a
        silent no-op). Thin wrapper over apply_delta."""
        return self.apply_delta(spark, None, keys_df, keys=keys, stat_cols=stat_cols)

    @staticmethod
    def _validate_mutation_keys(
        df: DataFrame, keys: Sequence[str], what: str, check_dups: bool
    ) -> None:
        """Shared key validation for every keyed mutation: missing key
        columns, NULL keys (a range join / anti-join can never match
        NULL — the mutation would silently duplicate on upsert and no-op
        on delete, forever), and (upserts only) duplicate keys, whose
        winner would be nondeterministic. ONE bounded job: the dup/null
        probes union into a single limit-1 scan of the delta."""
        from pyspark.sql import functions as F

        if not keys:
            raise ValueError("keyed mutation needs at least one key column")
        for k in keys:
            if k not in df.columns:
                raise ValueError(f"{what} is missing key column {k!r}")
        import functools

        null_pred = functools.reduce(
            lambda a, b: a | b, (F.col(k).isNull() for k in keys)
        )
        nulls = df.select(*keys).filter(null_pred).limit(1)
        if check_dups:
            dups = (
                df.groupBy(*keys)
                .count()
                .filter(F.col("count") > 1)
                .select(*keys)
                .limit(1)
            )
            bad = nulls.unionByName(dups).limit(1).count()
            if bad:
                # one more bounded probe only on the failure path, to say
                # WHICH contract broke
                if nulls.count():
                    raise ValueError(
                        f"{what}_df has NULL in key column(s) {list(keys)} — "
                        "keyed mutations cannot match NULL keys; filter or "
                        "fill them first"
                    )
                raise ValueError(f"{what}_df has duplicate keys — dedupe it first")
        elif nulls.count():
            raise ValueError(
                f"{what}_df has NULL in key column(s) {list(keys)} — keyed "
                "mutations cannot match NULL keys; filter or fill them first"
            )

    def apply_delta(
        self,
        spark: SparkSession,
        upsert_df: DataFrame | None,
        delete_keys_df: DataFrame | None,
        keys: Sequence[str] = ("conv_id", "turn_idx"),
        stat_cols: Sequence[str] = DEFAULT_STAT_COLS,
        extra: dict | None = None,
    ) -> dict:
        """MERGE + DELETE in ONE atomic commit: rows in ``upsert_df``
        replace same-key rows / insert, keys in ``delete_keys_df`` drop —
        the combined copy-on-write shape an incremental extraction tick
        publishes with (a separate upsert then delete would leave a
        window where a crash strands the table between the two). Same
        stats pruning as upsert/delete_rows: only files whose footer
        ranges can contain an affected key are rewritten; everything
        else carries over by reference. ``extra`` lands in the snapshot
        manifest (Iceberg snapshot-summary analog) so the tick's
        run_id/counters ride the table's own history."""
        empty_keys = None
        if upsert_df is None and delete_keys_df is None:
            raise ValueError("apply_delta: nothing to do — both inputs are None")
        if upsert_df is not None:
            self._validate_mutation_keys(upsert_df, keys, "upsert", check_dups=True)
            empty_keys = upsert_df.select(*keys).limit(0)
        if delete_keys_df is not None:
            self._validate_mutation_keys(delete_keys_df, keys, "delete", check_dups=False)
            if empty_keys is None:
                empty_keys = delete_keys_df.select(*keys).limit(0)
        up_keys = upsert_df.select(*keys) if upsert_df is not None else empty_keys
        del_keys = (
            delete_keys_df.select(*keys) if delete_keys_df is not None else empty_keys
        )
        all_keys = up_keys.unionByName(del_keys).distinct()
        touched = self._touched_files(all_keys, keys)
        kept = None
        if touched:
            kept = self.read_entries(spark, touched).join(
                all_keys, on=list(keys), how="left_anti"
            )
        if upsert_df is not None and kept is not None:
            new_rows = kept.unionByName(upsert_df, allowMissingColumns=True)
        elif upsert_df is not None:
            new_rows = upsert_df
        else:
            new_rows = kept  # pure delete (None when nothing touched)
        if not touched and upsert_df is None:
            # declarative no-op: every delete key missed the table
            return {
                "snapshot_id": self.current_id(),
                "files_rewritten": 0,
                "files_total": len(self.files()),
            }
        sid = self.replace(
            spark,
            [e.path for e in touched],
            new_rows,
            stat_cols=stat_cols,
            extra=extra,
        )
        return {
            "snapshot_id": sid,
            "files_rewritten": len(touched),
            "files_total": len(self.files(sid)),
        }

    def remove_orphans(self, older_than_s: float = 3600.0) -> list[str]:
        """GC for files NO snapshot references (Iceberg
        ``remove_orphan_files`` analog) — the leak class
        ``expire_unreferenced`` cannot see: a crash between
        ``_stage_data_files``'s renames and the manifest commit leaves
        data files (and ``_stage-*`` scratch dirs) that never entered any
        manifest; a crash inside ``_commit`` before its cleanup leaves a
        torn ``.tmp-*`` manifest in ``_snap/`` (unreachable — readers only
        resolve ``v*.json``). Deletes all three classes behind the age
        fence, returns the removed relative paths.

        ``older_than_s`` is the safety fence (Iceberg's default is 3
        DAYS for the same reason): a LIVE committer has already renamed
        its files into data/ but not yet linked its manifest — sweeping
        young files would yank them out from under the in-flight commit.
        Only files older than the fence are candidates; at one commit a
        minute and an hourly fence, nothing in flight is ever eligible.
        """
        import time

        if older_than_s < 0:
            raise ValueError("older_than_s must be >= 0")
        if not os.path.isdir(self.root):
            return []
        referenced: set[str] = set()
        for sid in self.snapshot_ids():
            try:
                referenced.update(e.path for e in self.files(sid))
            except FileNotFoundError:
                continue  # expired by a concurrent expire_unreferenced
        now = time.time()
        removed: list[str] = []
        if os.path.isdir(self.data_dir):
            for name in sorted(os.listdir(self.data_dir)):
                rel = os.path.join(DATA_DIR, name)
                if rel in referenced:
                    continue
                ap = os.path.join(self.root, rel)
                try:
                    if now - os.stat(ap).st_mtime < older_than_s:
                        continue
                    os.remove(ap)
                except OSError:
                    continue  # vanished/unstattable: someone else swept it
                removed.append(rel)
        # crashed staging scratch dirs (never renamed into data/)
        for name in sorted(os.listdir(self.root)):
            if not name.startswith("_stage-"):
                continue
            ap = os.path.join(self.root, name)
            try:
                if now - os.stat(ap).st_mtime < older_than_s:
                    continue
                shutil.rmtree(ap, ignore_errors=True)
            except OSError:
                continue
            removed.append(name)
        # torn manifest temps from a committer that crashed mid-publish
        # (mkstemp'd, possibly fsync'd, never linked): same fence — a LIVE
        # commit's temp is younger than any sane older_than_s
        if os.path.isdir(self.snap_dir):
            for name in sorted(os.listdir(self.snap_dir)):
                if not name.startswith(".tmp-"):
                    continue
                ap = os.path.join(self.snap_dir, name)
                try:
                    if now - os.stat(ap).st_mtime < older_than_s:
                        continue
                    os.remove(ap)
                except OSError:
                    continue
                removed.append(os.path.join(SNAP_DIR, name))
        return removed

    def expire_unreferenced(self, keep_snapshots: int = 1) -> list[str]:
        """GC: drop manifests older than the newest ``keep_snapshots`` and
        delete data files no retained snapshot references (Iceberg
        ``expireSnapshots`` analog). TAGGED snapshots are retained
        regardless of the keep window — retention follows the refs, so a
        pinned dataset version (and every data file it references) stays
        readable until its tag is dropped. Returns deleted file paths."""
        if keep_snapshots < 1:
            raise ValueError("expire_unreferenced must keep >= 1 snapshot")
        ids = self.snapshot_ids()
        if len(ids) <= keep_snapshots:
            return []
        tagged = set(self.tags().values())
        keep_ids = sorted(set(ids[-keep_snapshots:]) | (tagged & set(ids)))
        keep_set = set(keep_ids)
        referenced = set()
        for sid in keep_ids:
            try:
                referenced.update(e.path for e in self.files(sid))
            except FileNotFoundError:
                # a concurrent expire with a smaller keep window already
                # dropped this retained-by-US snapshot; its files were only
                # deletable if no survivor references them, so skipping is
                # exactly what that expire decided
                continue
        # RE-READ the refs just before deleting: a tag() that raced in
        # after the first read re-verifies its manifest post-link, so as
        # long as one side sees the other, no pin dangles silently —
        # this read is the expire half of that handshake
        for sid in set(self.tags().values()) - keep_set:
            if sid not in ids:
                continue
            keep_set.add(sid)
            try:
                referenced.update(e.path for e in self.files(sid))
            except FileNotFoundError:
                continue
        deleted = []
        for sid in ids:
            if sid in keep_set:
                continue
            try:
                entries = self.files(sid)
            except FileNotFoundError:
                continue  # concurrently expired: nothing left to do for it
            for e in entries:
                if e.path not in referenced:
                    ap = os.path.join(self.root, e.path)
                    try:
                        os.remove(ap)
                    except FileNotFoundError:
                        pass  # already swept (TOCTOU with a concurrent GC)
                    deleted.append(e.path)
            try:
                os.remove(self._manifest_path(sid))
            except FileNotFoundError:
                pass
        return sorted(set(deleted))
