"""The CLI verb table (cli.VERBS): one-verb-per-invocation exclusivity,
the declared companion sets, and flag ownership.

Exclusivity is derived from the table, so a pair of verbs the table does
not declare companions must be refused BEFORE any SparkSession starts or
table opens — these tests make get_spark raise and check that the
--output directory is left exactly as it was."""

from __future__ import annotations

import itertools
import json
import os

import pytest
from pyspark.sql import functions as F

from fscrawler_spark import cli
from fscrawler_spark.plans.snapshot_table import SnapshotTable

# one well-formed value per selector (None: a store_true flag)
SELECTOR_VALUE = {
    "--table-history": None,
    "--table-vacuum": "0",
    "--table-upsert": "delta",
    "--table-delete": "keys",
    "--table-changes": "1",
    "--sync-derived": "up",
    "--sync-dag": "spec.json",
    "--table-tag": "v2",
    "--table-drop-tag": "v1",
    "--table-rollback": "1",
    "--table-compact": "1",
    "--dedup-lines": "3",
    "--report": None,
    "--export": "2",
    "--dedup-spans": "30",
    "--chunk": "8",
    "--mix": "web=1.0",
    "--mix-budget": "1000",
    "--dsir-select": "2",
    "--quality-filter": "0.0",
    "--decontaminate": "bench",
    "--ppl-filter": "head",
    "--tokenize": "5",
    "--semantic-dedup": "0.9",
    "--embed": "16",
}
# flags a selector cannot run without (VERBS' `needs`)
SELECTOR_NEEDS = {
    "--dsir-select": ["--dsir-target", "target"],
    "--quality-filter": ["--quality-pos", "pos", "--quality-neg", "neg"],
}

SELECTORS = [v for v in cli.VERBS if v is not cli.CRAWL]
# flags no verb owns: --input (each verb's `input` says whether it reads
# it), where the verb writes, how Spark runs, the table keys, and the
# extraction settings (validated for every verb)
SHARED = (
    "--input", "--output", "--master", "--rest-port", "--table-keys",
    "--indexed-chars", "--ignore-above", "--includes", "--excludes", "--filters",
    "--num-buckets", "--skew-salt", "--lang-detect", "--store-source",
)


def _argv(verb):
    val = SELECTOR_VALUE.get(verb.flag)
    return [verb.flag] + ([] if val is None else [val]) + SELECTOR_NEEDS.get(verb.flag, [])


def _companions(a, b):
    """The table lets a and b run together: declared companions, or one
    borrows the other's selector as a modifier (--dry-run --incremental)."""
    return b.flag in a.companions + a.borrows or a.flag in b.companions + b.borrows


EXCLUSIVE_PAIRS = [
    (a, b) for a, b in itertools.combinations(SELECTORS, 2) if not _companions(a, b)
]


@pytest.fixture
def no_session(monkeypatch):
    import fscrawler_spark.session as session

    def refuse(*a, **k):
        raise AssertionError("a refused invocation must not start a SparkSession")

    monkeypatch.setattr(session, "get_spark", refuse)


def _listing(root):
    return sorted(
        (os.path.relpath(os.path.join(d, f), root), os.path.getsize(os.path.join(d, f)),
         os.path.getmtime(os.path.join(d, f)))
        for d, _dirs, files in os.walk(root)
        for f in files
    )


def _spec(tmp_path):
    spec = tmp_path / "spec.json"
    spec.write_text(json.dumps({"upstream": "up", "views": [{"name": "v", "root": "v"}]}))
    return str(spec)


@pytest.mark.parametrize(
    "a,b", EXCLUSIVE_PAIRS, ids=[f"{a.flag}+{b.flag}" for a, b in EXCLUSIVE_PAIRS]
)
def test_exclusive_verb_pair_refused(a, b, tmp_path, capsys, no_session):
    out = tmp_path / "out"
    out.mkdir()
    (out / "sentinel").write_text("x")
    before = _listing(str(out))
    argv = ["--output", str(out)] + _argv(a) + _argv(b)
    if a.input or b.input:
        argv += ["--input", str(tmp_path / "in")]
    argv = [_spec(tmp_path) if x == "spec.json" else x for x in argv]
    assert cli.main(argv) == 2
    assert "cannot combine" in capsys.readouterr().err
    assert _listing(str(out)) == before


# crawl flags the running verb does not read select a crawl of their own
UNREAD_CRAWL_FLAGS = [
    ["--dry-run", "--incremental", "--loop", "2"],
    ["--dry-run", "--incremental", "--update-rate", "5s"],
    ["--dry-run", "--incremental", "--publish-table", "t"],
    ["--dry-run", "--publish-table", "t"],
    ["--dry-run", "--restart"],
]


@pytest.mark.parametrize(
    "extra", UNREAD_CRAWL_FLAGS, ids=[" ".join(x) for x in UNREAD_CRAWL_FLAGS]
)
def test_crawl_flag_the_runner_ignores_refused(extra, tmp_path, capsys, no_session):
    out = tmp_path / "out"
    out.mkdir()
    (out / "sentinel").write_text("x")
    before = _listing(str(out))
    argv = ["--output", str(out), "--input", str(tmp_path / "in")] + extra
    assert cli.main(argv) == 2
    assert "cannot combine" in capsys.readouterr().err
    assert _listing(str(out)) == before


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """A real two-snapshot table carrying tag v1 — the shape the
    silently-skipping pairs used to run their first verb against."""
    t = SnapshotTable(str(tmp_path_factory.mktemp("verbtbl") / "t"))
    rows = spark.range(0, 20).select(
        F.concat(F.lit("c"), (F.col("id") % 4).cast("string")).alias("conv_id"),
        (F.col("id") / 4).cast("int").alias("turn_idx"),
        F.col("id").cast("string").alias("extracted"),
        F.col("id").alias("doc_id"),
    )
    t.overwrite(spark, rows)
    t.tag("v1")
    t.upsert(spark, rows.filter("id < 3").withColumn("extracted", F.lit("edit")))
    return t


# each exited 0 having run only its first verb (and the rollback mutated)
SILENT_SKIPS = [
    ["--table-tag", "v2", "--near-dup"],
    ["--table-vacuum", "0", "--table-history"],
    ["--table-vacuum", "0", "--clean-text", "--input", "{root}"],
    ["--table-rollback", "1", "--table-history"],
    ["--table-history", "--clean-text", "--input", "{root}"],
    ["--table-compact", "1", "--clean-text", "--input", "{root}"],
    ["--table-changes", "1", "--near-dup"],
    ["--semantic-dedup", "0.9", "--table-history"],
]


@pytest.mark.parametrize("extra", SILENT_SKIPS, ids=[" ".join(x) for x in SILENT_SKIPS])
def test_silently_skipped_pair_now_refused(extra, table, capsys, no_session):
    before = _listing(table.root)
    current = table.current_id()
    argv = ["--output", table.root] + [x.format(root=table.root) for x in extra]
    assert cli.main(argv) == 2
    assert "cannot combine" in capsys.readouterr().err
    assert _listing(table.root) == before
    assert table.current_id() == current


# every companion combination an existing CLI test runs, with the verb
# whose runner must run it
COMPANION_RUNS = [
    (["--input", "x", "--num-buckets", "4", "--near-dup"], "crawl"),
    (["--near-dup", "--assemble-store"], "--near-dup"),
    (["--input", "x", "--incremental", "--num-buckets", "4", "--assemble-store"],
     "--incremental"),
    (["--input", "x", "--incremental", "--near-dup", "--assemble-store"], "--incremental"),
    (["--input", "x", "--dry-run", "--incremental"], "--dry-run"),
    (["--input", "x", "--dry-run", "--master", "local[4]"], "--dry-run"),
    (["--input", "x", "--incremental", "--layout", "bucketed"], "--incremental"),
    (["--input", "x", "--publish-table", "t"], "crawl"),
    (["--input", "x", "--incremental", "--publish-table", "t"], "--incremental"),
    (["--input", "x", "--restart", "--num-buckets", "4"], "crawl"),
    (["--input", "x", "--rest-port", "0", "--update-rate", "1ms"], "crawl"),
    (["--compact", "--input", "x", "--num-buckets", "8", "--skew-salt", "4"], "--compact"),
    (["--table-history", "--table-expire", "1"], "--table-history"),
    (["--table-tag", "release@1", "--tag-force"], "--table-tag"),
    (["--table-changes", "1", "--changes-out", "d"], "--table-changes"),
    (["--table-changes", "1:2", "--table-keys", "none"], "--table-changes"),
    (["--sync-derived", "up", "--loop", "2"], "--sync-derived"),
    (["--sync-derived", "up", "--force-bootstrap"], "--sync-derived"),
    (["--sync-derived", "up", "--view-filter", "x", "--view-select", "y"], "--sync-derived"),
    (["--sync-dag", "spec.json", "--loop", "2"], "--sync-dag"),
    (["--input", "x", "--assemble", "--assemble-spans", "assistant",
      "--assemble-max-turns", "4", "--assemble-tools"], "--assemble"),
    (["--input", "x", "--pref-pairs", "--sft-context", "1"], "--pref-pairs"),
    (["--input", "x", "--decontaminate", "b", "--decon-semantic", "0.9",
      "--decon-max-benchmark", "3"], "--decontaminate"),
    (["--input", "x", "--ppl-filter", "head", "--ppl-target", "s", "--ppl-cuts", "0.5,0.75"],
     "--ppl-filter"),
]


@pytest.mark.parametrize(
    "extra,runner", COMPANION_RUNS, ids=[" ".join(x) for x, _ in COMPANION_RUNS]
)
def test_companion_combination_accepted(extra, runner, tmp_path):
    parser = cli.build_parser()
    spec = _spec(tmp_path)
    argv = ["--output", str(tmp_path)] + [spec if x == "spec.json" else x for x in extra]
    args = parser.parse_args(argv)
    assert cli.validate(args, parser).flag == runner


def test_every_flag_has_exactly_one_owner():
    """A flag added without a verb spec (or the shared list) fails here
    instead of regrowing a hand-written validator."""
    declared = {}
    for v in cli.VERBS:
        for f in ([v.flag] if v is not cli.CRAWL else []) + v.owned():
            declared.setdefault(f, []).append(v.flag)
    flags = [
        a.option_strings[-1]
        for a in cli.build_parser()._actions
        if a.option_strings and a.dest != "help"
    ]
    assert len(flags) == 97
    for f in flags:
        owners = declared.get(f, [])
        if f in SHARED:
            assert owners == [], (f, owners)
        else:
            assert len(owners) == 1, (f, owners)
    borrowed = {f for v in cli.VERBS for f in v.reads()}
    assert borrowed <= set(declared), borrowed - set(declared)
    assert set(declared) | set(SHARED) == set(flags)
