"""CLI entry point — the FsCrawlerCli analog, declared as one verb table.

Reference: FsCrawlerCli.java:96-140 (--loop, --restart, job dir). Here a
crawl "job" is one spark-submit invocation:

    spark-submit --py-files fscrawler_spark.zip -m fscrawler_spark.cli \\
        --input /data/transcripts --output /data/extracted \\
        [--loop N] [--restart] [--indexed-chars 100000] ...

--restart clears the checkpoint manifest (full re-scan); --loop N
repeats the scan N times, each loop incremental via the checkpoint.

Every other mode is a verb. VERBS declares each verb once: its selector
flag, the flags it owns or borrows, the range checks on them, the verbs
it may run with, whether it reads --input and needs a SparkSession, and
its runner. validate() derives every "requires", range and "cannot
combine" error from that table before any JVM starts or table opens;
main() then runs the one selected runner.

One verb per invocation. The companion sets are the only exceptions: a
crawl or an --incremental tick with --near-dup and/or --assemble-store
(the store ticks run after each loop), and the two store ticks together
(standalone, on --output alone). --dry-run reads --incremental as a
modifier (a preview of the tick), not as a second verb. No verb flag
means a crawl, and so does --input, --restart, --publish-table, --loop
or --update-rate that the running verb does not read.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="fscrawler-spark", description=__doc__)
    # not required=True: the control verbs (--status/--pause/--resume-paused)
    # need only --output; crawl runs validate --input in main()
    p.add_argument("--input", default=None, help="transcripts parquet path")
    p.add_argument("--output", required=True, help="output table directory")
    p.add_argument("--loop", type=int, default=1, help="number of scan loops (default 1)")
    p.add_argument(
        "--update-rate",
        default=None,
        help="sleep between loops, reference TimeValue syntax ('15m', '30s'; "
        "default: no sleep) — fs.update_rate analog, settings/Fs.java:38",
    )
    p.add_argument("--restart", action="store_true", help="ignore checkpoint, full rescan")
    p.add_argument(
        "--incremental",
        action="store_true",
        help="steady-state tick over an existing output: re-extract only "
        "new/changed turns, apply deletions (the reference's recurring "
        "update_rate scan body, FsParser.java:488-556)",
    )
    p.add_argument(
        "--indexed-chars",
        default="100000",
        help="max extracted chars per turn; int, or a percentage of the "
        "source length like '30%%' (TikaDocParser.java:141-156)",
    )
    p.add_argument(
        "--ignore-above",
        default=None,
        help="skip turns larger than this; bytes or '2kb'/'1mb' "
        "(ByteSizeValue syntax, FsParser.java:960-974)",
    )
    p.add_argument("--includes", nargs="*", default=[])
    p.add_argument("--excludes", nargs="*", default=["*/~*"])
    p.add_argument("--filters", nargs="*", default=[], help="content regexes (all must match)")
    p.add_argument("--num-buckets", type=int, default=32)
    p.add_argument(
        "--layout",
        choices=["parquet", "bucketed"],
        default=None,
        help="incremental-tick diff layout: 'bucketed' routes the "
        "corpus-scale change/delete diff through the co-located snapshot "
        "index (zero-shuffle with a table: input; see plans/bucketed.py). "
        "Default: self-selecting — the layout recorded in the table's "
        "checkpoint manifest, else 'bucketed' when a valid snapshot index "
        "exists on disk, else 'parquet'",
    )
    p.add_argument(
        "--publish-table",
        default=None,
        metavar="ROOT",
        help="also publish the run's output to the snapshot table at ROOT "
        "(plans/snapshot_table.py): full runs bootstrap a clustered "
        "overwrite; --incremental ticks apply ONLY the tick's delta as "
        "one atomic stats-pruned MERGE+DELETE commit while the recorded "
        "correspondence holds (Iceberg write-back, north_star)",
    )
    p.add_argument("--skew-salt", type=int, default=8)
    p.add_argument("--lang-detect", action="store_true")
    p.add_argument("--store-source", action="store_true")
    p.add_argument("--master", default=None)
    p.add_argument(
        "--dry-run",
        action="store_true",
        help="simulate: print plan + would-write counts, write nothing "
        "(REST ?simulate analog, rest/DocumentApi.java:89-92)",
    )
    p.add_argument(
        "--status",
        action="store_true",
        help="print the job status snapshot and exit "
        "(GET /_crawler/status analog, rest/CrawlerApi.java:55-151)",
    )
    p.add_argument(
        "--pause",
        action="store_true",
        help="request a running/future job to pause between waves "
        "(POST /_crawler/pause analog)",
    )
    p.add_argument(
        "--resume-paused",
        action="store_true",
        help="clear a pause request; the next run continues pending waves "
        "(POST /_crawler/resume analog)",
    )
    p.add_argument(
        "--table-history",
        action="store_true",
        help="treat --output as a SNAPSHOT TABLE root (plans/snapshot_table.py) "
        "and print its commit log as JSON, then exit (no SparkSession; "
        "Iceberg table.history() analog)",
    )
    p.add_argument(
        "--table-expire",
        type=int,
        default=None,
        metavar="KEEP",
        help="with --table-history: first expire all but the newest KEEP "
        "snapshots of the --output table and GC data files no retained "
        "snapshot references (Iceberg expireSnapshots analog)",
    )
    p.add_argument(
        "--table-vacuum",
        type=float,
        nargs="?",
        const=3600.0,
        default=None,
        metavar="AGE_S",
        help="delete the --output snapshot table's ORPHAN data files — "
        "files no snapshot references (crash leftovers a staging rename "
        "left behind; Iceberg remove_orphan_files analog) — plus stale "
        "_stage-* scratch dirs, keeping anything younger than AGE_S "
        "seconds (default 3600, the in-flight-commit safety fence); "
        "print the removed paths, exit (no SparkSession)",
    )
    p.add_argument(
        "--table-upsert",
        metavar="DELTA",
        default=None,
        help="MERGE a parquet table of rows into the --output snapshot "
        "table by --table-keys: same-key rows replace, new keys insert, "
        "rewriting only the data files whose stats ranges can hold a "
        "delta key (snapshot_table.upsert)",
    )
    p.add_argument(
        "--table-delete",
        metavar="KEYS",
        default=None,
        help="delete rows of the --output snapshot table matching the "
        "keys in a parquet table (columns = --table-keys); same stats "
        "pruning as --table-upsert",
    )
    p.add_argument(
        "--table-keys",
        default="conv_id,turn_idx",
        help="comma-separated key columns for --table-upsert/--table-delete/"
        "--table-changes (default conv_id,turn_idx; --table-changes also "
        "accepts 'none' for the raw file-level stream)",
    )
    p.add_argument(
        "--table-changes",
        metavar="FROM[:TO]",
        default=None,
        help="read the --output snapshot table's row-level changelog "
        "between two snapshots (Iceberg incremental read / Delta CDF "
        "analog: _change_type in insert/delete/update_preimage/"
        "update_postimage, bystander rows of copy-on-write rewrites "
        "cancelled by --table-keys); FROM/TO are snapshot ids or TAG "
        "names (what changed between train-v2 and train-v3); TO "
        "defaults to current; print per-type counts as JSON, optionally "
        "writing rows to --changes-out",
    )
    p.add_argument(
        "--changes-out",
        metavar="DIR",
        default=None,
        help="with --table-changes: write the changelog rows as parquet "
        "here (sorted by key within partitions for stable listings)",
    )
    p.add_argument(
        "--sync-derived",
        metavar="UPSTREAM_ROOT",
        default=None,
        help="keep the --output snapshot table in sync with the UPSTREAM "
        "snapshot table as an identity mirror (materialized-view "
        "maintenance over the changelog: first run bootstraps, later "
        "runs consume read_changes O(delta) and apply ONE atomic "
        "MERGE+DELETE; the cursor rides the derived table's own commit "
        "summary); keyed by --table-keys; print the sync result as JSON "
        "(library callers pass a transform for non-identity views)",
    )
    p.add_argument(
        "--force-bootstrap",
        action="store_true",
        help="with --sync-derived: rebuild the derived table from "
        "upstream even if it exists without (or with a drifted) cursor",
    )
    p.add_argument(
        "--sync-dag",
        metavar="SPEC_JSON",
        default=None,
        help="maintain a whole DAG of derived views in one pass (the "
        "multi-view form of --sync-derived): SPEC_JSON is a file "
        '{"upstream": ROOT, "views": [{"name", "root", '
        '"upstream": view-name|null, "filter": SQL, '
        '"select": [SQL, ...], "keys": [col, ...]}]} — filter/select '
        "use the --view-filter/--view-select grammar (keys always "
        "retained); views sync in topological order so one root delta "
        "flows through every level; prints one JSON line with per-view "
        "results; --force-bootstrap rebuilds every view",
    )
    p.add_argument(
        "--view-filter",
        metavar="SQL_EXPR",
        default=None,
        help="with --sync-derived: maintain a FILTERED view — only "
        "upstream rows where this SQL boolean expression holds (e.g. "
        "\"error IS NULL\"); rows updated out of the filter are deleted "
        "downstream, never left stale",
    )
    p.add_argument(
        "--view-select",
        metavar="SQL_EXPR",
        action="append",
        default=None,
        help="with --sync-derived: project the view's columns — "
        "repeatable, one SQL expression per use (alias with AS, e.g. "
        "\"length(extracted) AS n_chars\"); the key columns "
        "(--table-keys) are always retained",
    )
    p.add_argument(
        "--table-tag",
        metavar="NAME[@N]",
        default=None,
        help="pin a named tag on the --output snapshot table (Iceberg tag "
        "analog): NAME pins the current snapshot, NAME@N pins snapshot N; "
        "tagged snapshots survive --table-expire until the tag is dropped "
        "(retention follows the refs); refuses to move an existing tag "
        "unless --tag-force; read back with snap:ROOT@NAME at --input",
    )
    p.add_argument(
        "--tag-force",
        action="store_true",
        help="with --table-tag: move the tag if it already exists",
    )
    p.add_argument(
        "--table-drop-tag",
        metavar="NAME",
        default=None,
        help="drop a tag from the --output snapshot table (its snapshot "
        "becomes expirable again)",
    )
    p.add_argument(
        "--table-rollback",
        type=int,
        default=None,
        metavar="SNAPSHOT",
        help="roll the --output snapshot table back to SNAPSHOT's exact "
        "contents as a NEW commit (Iceberg rollback_to_snapshot analog; "
        "O(metadata), no SparkSession), print the new snapshot id, exit",
    )
    p.add_argument(
        "--table-compact",
        type=int,
        nargs="?",
        const=128,
        default=None,
        metavar="TARGET_MB",
        help="bin-pack the --output snapshot table's small data files into "
        "~TARGET_MB files (default 128) as one copy-on-write commit "
        "(Iceberg rewriteDataFiles analog; rows byte-equal, a manifest-"
        "diff tick across it does zero work), print the rewrite stats, exit",
    )
    p.add_argument(
        "--compact",
        action="store_true",
        help="treat --input as a STREAMING file-sink directory and compact "
        "it into a fresh batch table at --output (one-way migration; "
        "streaming/micro_batch.compact_streaming_output)",
    )
    p.add_argument(
        "--doctor",
        action="store_true",
        help="read-only consistency check of --output (manifest vs docs vs "
        "metrics vs snapshot index vs markers); exit 0 = healthy (warnings "
        "allowed), 3 = ERROR-severity findings "
        "(plans/doctor.py)",
    )
    p.add_argument(
        "--dedup-lines",
        type=int,
        default=None,
        metavar="MIN_DOCS",
        help="one-shot curation pass: read the docs table at --input (an "
        "extraction output root or its docs/ dir), strip every line whose "
        "trimmed form appears in >= MIN_DOCS distinct docs (CCNet/"
        "RefinedWeb boilerplate removal, curation.strip_repeated_lines), "
        "and write the curated table to --output with removed_lines/"
        "kept_lines audit columns",
    )
    p.add_argument(
        "--clean-text",
        action="store_true",
        help="one-shot curation pass: read the docs table at --input, "
        "normalize extracted text (NFC, control-char strip, mojibake "
        "repair — functions/normalize.clean_text; ASCII rows stay "
        "JVM-side), and write the curated table to --output with "
        "changed/mojibake audit counters",
    )
    p.add_argument(
        "--c4-filter",
        action="store_true",
        help="one-shot curation pass: C4 recipe (Raffel 2020) — clean "
        "each doc's lines (terminal punct, >=5 words, javascript/policy "
        "boilerplate), drop pages failing the page gate, write kept rows "
        "with extracted replaced by the cleaned text plus a "
        "c4_lines_removed audit column; stats report per-reason drops",
    )
    p.add_argument(
        "--c4-min-sentences",
        type=int,
        default=None,
        help="page gate sentence floor for --c4-filter (default 3)",
    )
    p.add_argument(
        "--gopher-filter",
        action="store_true",
        help="one-shot curation pass: Gopher rule gate (Rae 2021) — drop "
        "docs failing any rule, text unchanged; stats report per-reason "
        "drops",
    )
    p.add_argument(
        "--report",
        action="store_true",
        help="one-shot pass: corpus statistics report (plans/report.py) — "
        "per-group + total docs/null/error/char/word counts in ONE rollup "
        "aggregate; writes the report table to --output and prints it",
    )
    p.add_argument(
        "--report-group",
        default=None,
        help="group column for --report (default mime)",
    )
    p.add_argument(
        "--export",
        type=int,
        default=None,
        metavar="N_SHARDS",
        help="one-shot pass: export the docs table at --input as N_SHARDS "
        "deterministic training shards under --output/shards plus a "
        "verifiable --output/manifest (functions/export.py: md5 epoch "
        "permutation, hash shards, XOR checksums; no global sort)",
    )
    p.add_argument(
        "--export-seed",
        type=int,
        default=0,
        help="epoch seed for --export (a new seed is a new permutation)",
    )
    p.add_argument(
        "--export-format",
        default="parquet",
        choices=("parquet", "json"),
        help="shard file format for --export (json = JSONL shard files)",
    )
    p.add_argument(
        "--export-curriculum",
        default=None,
        metavar="STAGE_COL",
        help="curriculum export: order each shard's stream stage-major by "
        "this integer difficulty-bin column (easy-to-hard), seeded "
        "permutation within each stage (export.curriculum_order); shard "
        "assignment stays stage-stratified",
    )
    p.add_argument(
        "--dedup-spans",
        type=int,
        default=None,
        metavar="MIN_LEN",
        help="one-shot curation pass: read the docs table at --input, "
        "strip every text span of >= MIN_LEN chars that repeats across "
        "documents (exact-substring dedup, Lee et al. 2021 — "
        "functions/exact_substr.strip_duplicate_spans, cross-doc "
        "semantics), and write the curated table to --output with a "
        "dup_chars_removed audit column",
    )
    p.add_argument(
        "--chunk",
        type=int,
        default=None,
        metavar="MAX_TOKENS",
        help="one-shot curation pass: read the docs table at --input and "
        "split every doc into fixed-size whitespace-token windows of at "
        "most MAX_TOKENS tokens (curation.chunk_documents — context-length "
        "prep; combine with --chunk-stride for overlap), writing one row "
        "per chunk to --output with chunk_idx/tok_start/n_tokens audit "
        "columns",
    )
    p.add_argument(
        "--chunk-stride",
        type=int,
        default=None,
        metavar="STRIDE",
        help="window start step for --chunk (default MAX_TOKENS = "
        "disjoint; smaller = overlapping windows)",
    )
    p.add_argument(
        "--assemble",
        action="store_true",
        help="one-shot assembly pass: read the extraction table at --input "
        "and stitch each conversation's turns, in stable turn order, into "
        "ONE training document under the <|role|> template "
        "(assembly.assemble_conversations), writing (conv_id, doc, "
        "n_turns, n_chars) to --output",
    )
    p.add_argument(
        "--assemble-max-turns",
        type=int,
        default=None,
        metavar="N",
        help="keep only the first N turns of each conversation for "
        "--assemble (the mega-conversation bound)",
    )
    p.add_argument(
        "--assemble-spans",
        default=None,
        metavar="ROLE",
        help="with --assemble: also emit train_spans — [start, end) char "
        "offsets into doc covering the TEXT of every ROLE turn (header "
        "and separators excluded) — the SFT loss mask over the assembled "
        "representation; slicing doc at each span reproduces the turn "
        "text exactly",
    )
    p.add_argument(
        "--assemble-tools",
        action="store_true",
        help="render tool-call turns with a tool= attribute in the header "
        "(<|assistant tool=search|>) for --assemble/--sft-pairs/"
        "--assemble-store, using the docs table's tool column",
    )
    p.add_argument(
        "--sft-pairs",
        action="store_true",
        help="one-shot assembly pass: read the extraction table at --input "
        "and emit one (prompt, response) SFT example per --sft-role turn, "
        "the prompt being its rendered --sft-context turn window "
        "(assembly.sft_examples), written to --output",
    )
    p.add_argument(
        "--sft-context",
        type=int,
        default=None,
        metavar="TURNS",
        help="context-window bound for --sft-pairs prompts (default 8 "
        "preceding turns)",
    )
    p.add_argument(
        "--sft-role",
        default=None,
        metavar="ROLE",
        help="the response role for --sft-pairs (default assistant)",
    )
    p.add_argument(
        "--pref-pairs",
        action="store_true",
        help="one-shot assembly pass: build --sft-pairs examples, then group "
        "them by identical prompt and emit one (prompt, chosen, rejected) "
        "DPO/RM preference pair per prompt with >= 2 distinct responses, "
        "chosen/rejected by quality_score (assembly.preference_pairs), "
        "written to --output; --sft-context/--sft-role shape the examples",
    )
    p.add_argument(
        "--pref-margin",
        type=float,
        default=None,
        metavar="GAP",
        help="minimum chosen-rejected score gap for --pref-pairs "
        "(default 0.0 — any distinct-response pair)",
    )
    p.add_argument(
        "--mix",
        default=None,
        metavar="RATES",
        help="one-shot composition pass: read the docs table at --input and "
        "keep/replicate rows per --mix-group at 'GROUP=RATE[,GROUP=RATE...]' "
        "expected-copy rates (rate 0.25 keeps a quarter, 2.5 = two epochs "
        "plus a sampled half — The Pile/DoReMi source mixing, "
        "functions/mixing.mix_corpus); writes --output with an epoch column",
    )
    p.add_argument(
        "--mix-budget",
        type=int,
        default=None,
        metavar="TOKENS",
        help="one-shot composition pass: downsample every --mix-group group "
        "of the docs table at --input to ~TOKENS tokens "
        "(functions/mixing.sample_to_token_budget over "
        "text_analysis.token_count); prints the computed per-group rates",
    )
    p.add_argument(
        "--mix-group",
        default="mime",
        metavar="COL",
        help="grouping column for --mix/--mix-budget (default: mime)",
    )
    p.add_argument(
        "--mix-default",
        type=float,
        default=1.0,
        metavar="RATE",
        help="rate for groups absent from --mix's list (default: 1.0)",
    )
    p.add_argument(
        "--dsir-select",
        type=int,
        default=None,
        metavar="K",
        help="one-shot composition pass: train a DSIR importance model "
        "(Xie et al. 2023; hashed-ngram target vs raw log-ratios, "
        "functions/mixing.train_importance_model) of the docs table at "
        "--dsir-target over the docs table at --input, then select the K "
        "most target-like docs by deterministic Gumbel-top-k and write "
        "them to --output with log_weight/sample_key audit columns",
    )
    p.add_argument(
        "--dsir-target",
        default=None,
        metavar="PATH",
        help="target-domain docs table for --dsir-select (an extraction "
        "output root or its docs/ dir)",
    )
    p.add_argument(
        "--quality-filter",
        type=float,
        default=None,
        metavar="THRESHOLD",
        help="one-shot curation pass: train a fastText-style NB quality "
        "classifier (quality_classifier.train_quality_classifier) on the "
        "labeled seed tables at --quality-pos/--quality-neg, score the "
        "docs table at --input, and write the rows whose log-odds exceed "
        "THRESHOLD (0.0 = Bayes boundary; raise for precision) to "
        "--output with a log_odds audit column",
    )
    p.add_argument(
        "--quality-pos",
        default=None,
        metavar="PATH",
        help="positive ('keep more like this') seed docs table for "
        "--quality-filter (an extraction output root or its docs/ dir)",
    )
    p.add_argument(
        "--quality-neg",
        default=None,
        metavar="PATH",
        help="negative ('junk') seed docs table for --quality-filter",
    )
    p.add_argument(
        "--decontaminate",
        default=None,
        metavar="BENCH_PATH",
        help="one-shot curation pass: drop every doc in the docs table at "
        "--input sharing >= --decon-min-hits distinct --decon-ngrams-word "
        "n-grams with any doc of the benchmark table at BENCH_PATH (an "
        "extraction output root or its docs/ dir) — the removal half of "
        "the eval-leakage scan (curation.decontaminate); write survivors "
        "to --output",
    )
    p.add_argument(
        "--decon-ngrams",
        type=int,
        default=None,
        metavar="N",
        help="n-gram length for --decontaminate (default: 8 — long grams "
        "keep hits specific)",
    )
    p.add_argument(
        "--decon-min-hits",
        type=int,
        default=None,
        metavar="K",
        help="distinct shared n-grams per (doc, bench item) pair needed "
        "to drop the doc for --decontaminate (default: 2)",
    )
    p.add_argument(
        "--decon-fuzzy",
        type=float,
        default=None,
        metavar="SIM",
        help="switch --decontaminate to NEAR-duplicate matching: drop "
        "docs whose word-shingle Jaccard vs any benchmark item is >= SIM "
        "(curation.fuzzy_decontaminate — MinHash/LSH with recall-first "
        "banding + exact-Jaccard verify; catches paraphrased eval "
        "leakage the exact n-gram scan misses). Excludes "
        "--decon-ngrams/--decon-min-hits",
    )
    p.add_argument(
        "--decon-semantic",
        type=float,
        default=None,
        metavar="SIM",
        help="switch --decontaminate to EMBEDDING-space matching: drop "
        "docs whose hashed-feature embedding cosine vs any benchmark "
        "item is >= SIM (curation.semantic_decontaminate — benchmark "
        "collected once and broadcast, corpus side a pure map, no "
        "corpus shuffle). Excludes the n-gram knobs and --decon-fuzzy",
    )
    p.add_argument(
        "--decon-dim",
        type=int,
        default=None,
        metavar="DIM",
        help="embedding dimension for --decon-semantic (default 256)",
    )
    p.add_argument(
        "--decon-max-benchmark",
        type=int,
        default=None,
        metavar="N",
        help="benchmark-size bound for --decon-fuzzy/--decon-semantic "
        "(default 100000): both broadcast the benchmark side, so a "
        "corpus-sized table is refused with exit 2 — raise this "
        "deliberately if the benchmark truly is that large",
    )
    p.add_argument(
        "--ppl-model",
        choices=["char", "word"],
        default="char",
        help="LM family for --ppl-filter: 'char' = character-trigram "
        "add-k (the oracle-parity twin, default), 'word' = hashed "
        "word-trigram stupid backoff (closer to CCNet's KenLM "
        "semantics; lm_quality.train_word_lm). Swapping models changes "
        "ppl values and therefore bucket membership — a deliberate, "
        "documented model swap",
    )
    p.add_argument(
        "--ppl-filter",
        default=None,
        metavar="BUCKETS",
        help="one-shot curation pass: CCNet perplexity bucketing "
        "(lm_quality.perplexity_buckets) — train a char n-gram LM on the "
        "docs table at --ppl-target (default: the --input table itself), "
        "score every --input doc, split head/middle/tail at the "
        "--ppl-cuts quantiles, and write only the comma-listed BUCKETS "
        "(e.g. 'head' or 'head,middle') to --output with ppl/ppl_bucket "
        "audit columns. Unscorable docs (null/too-short text) keep a "
        "NULL bucket and are always dropped",
    )
    p.add_argument(
        "--ppl-target",
        default=None,
        metavar="PATH",
        help="trusted seed docs table to train the LM for --ppl-filter "
        "(CCNet trains on Wikipedia, not the crawl; default: --input)",
    )
    p.add_argument(
        "--ppl-cuts",
        default=None,
        metavar="LO,HI",
        help="head/middle and middle/tail perplexity quantiles for "
        "--ppl-filter (default: 0.3333,0.6667)",
    )
    p.add_argument(
        "--tokenize",
        type=int,
        default=None,
        metavar="N_MERGES",
        help="one-shot composition pass: train a byte-pair-encoding "
        "vocabulary of N_MERGES merges on the docs table at --input "
        "(bpe.train_bpe; skipped when --bpe-merges is given), encode "
        "every doc (bpe_tokens/n_bpe_tokens columns), and write the "
        "encoded docs to --output/docs plus the reusable merges table "
        "to --output/merges",
    )
    p.add_argument(
        "--bpe-merges",
        default=None,
        metavar="PATH",
        help="reuse a previously trained merges table (a --tokenize "
        "run's --output/merges) instead of training on --input",
    )
    p.add_argument(
        "--semantic-dedup",
        type=float,
        default=None,
        metavar="SIM",
        help="one-shot pass over an EMBEDDINGS table at --input "
        "(vec_id + embedding columns): SemDeDup (Abbas et al. 2023, "
        "embeddings.semantic_dedup) — cluster vectors into "
        "--semantic-cells coarse cells, link within-cell pairs with "
        "cosine >= SIM, and write (id, cluster_id, is_keeper) to --output",
    )
    p.add_argument(
        "--semantic-cells",
        type=int,
        default=None,
        metavar="N",
        help="cell count for --semantic-dedup (default: corpus_count/512 "
        "clamped to [16, 65536] — cells of ~512 vectors)",
    )
    p.add_argument(
        "--embed",
        type=int,
        default=None,
        metavar="DIM",
        help="one-shot pass: read the docs table at --input and write a "
        "DIM-dimensional deterministic hashed-feature embedding table "
        "(vec_id, embedding) to --output (embeddings.text_embeddings — "
        "feature-hashed word n-grams, unit-L2; vocabulary-free and "
        "reproducible on any cluster). The output IS the embeddings-table "
        "contract: feed it to --semantic-dedup in a second invocation",
    )
    p.add_argument(
        "--embed-ngrams",
        type=int,
        default=None,
        metavar="N",
        help="word n-gram order for --embed (default 1 = unigrams)",
    )
    p.add_argument(
        "--redact-pii",
        action="store_true",
        help="one-shot curation pass: read the docs table at --input, "
        "replace PII occurrences with typed placeholder tags "
        "(curation.redact_pii — precision-first email/phone/ssn/ipv4 "
        "patterns, all whole-stage-codegen regexp chains) and write to "
        "--output with a pii_found map<kind,count> audit column "
        "(pre-redaction counts)",
    )
    p.add_argument(
        "--pii-kinds",
        default=None,
        metavar="K1,K2",
        help="comma-separated subset of PII kinds to REDACT for "
        "--redact-pii (default: all; the pii_found audit column always "
        "counts every kind)",
    )
    p.add_argument(
        "--near-dup",
        action="store_true",
        help="maintain the persisted near-dup store under --output "
        "(plans/dedup_store: content-diff, delta-only MinHash+LSH, "
        "cluster upserts). Composable with a crawl or --incremental "
        "(the dedup tick runs after each loop), or standalone with just "
        "--output (one tick over the existing docs table)",
    )
    p.add_argument(
        "--assemble-store",
        action="store_true",
        help="maintain the persisted conversation-assembly store under "
        "--output (plans/assembly_store: per-conversation fingerprint "
        "diff, delta-only re-assembly, partition-scoped upserts). "
        "Composable with a crawl or --incremental (the assembly tick "
        "runs after each loop), or standalone with just --output (one "
        "tick over the existing docs table); honors --assemble-max-turns",
    )
    p.add_argument(
        "--near-dup-threshold",
        type=float,
        default=0.8,
        metavar="J",
        help="exact-Jaccard verify threshold for --near-dup (default 0.8)",
    )
    p.add_argument(
        "--rest-port",
        type=int,
        default=None,
        help="serve GET /status, POST /pause, POST /resume over HTTP while "
        "the job runs (0 = pick a free port; the reference's --rest "
        "control plane, rest/CrawlerApi.java:55-151)",
    )
    return p


class CliError(Exception):
    """A usage or input error: main() prints it and exits 2."""


# --- shared helpers ---------------------------------------------------------


def _view_transform(vf, vs, keys):
    """The --view-filter/--view-select grammar as a sync transform —
    ONE definition shared by --sync-derived and --sync-dag so the two
    surfaces can never drift: optional SQL predicate, then a projection
    of SQL expressions with the key columns always retained (bare keys
    in the select list are deduped, not duplicated). None/None -> None
    (identity sync)."""
    if vf is None and vs is None:
        return None

    def transform(df, _vf=vf, _vs=vs, _keys=tuple(keys)):
        from pyspark.sql import functions as F

        if _vf:
            df = df.filter(F.expr(_vf))
        if _vs:
            user = [e for e in _vs if str(e).strip() not in _keys]
            df = df.selectExpr(*_keys, *user)
        return df

    return transform


def _read_docs_table(spark, input_path: str, flag: str | None = None):
    """Load the docs table behind a curation verb's --input (or a
    secondary table such as --dsir-target, named by ``flag`` in errors):
    an extraction output root, its docs/ dir directly, or a SNAPSHOT
    TABLE — `snap:ROOT[@N|@TAG]` or a bare root holding `_snap/` (e.g. a
    --publish-table target), read with snapshot isolation so a curation
    pass over a table live ticks keep publishing to sees ONE consistent
    snapshot; `@N` time-travels, `@TAG` resolves a named tag (a TAG
    suffix is only honored when ROOT is a snapshot table carrying that
    tag, so roots containing '@' stay addressable). Raises CliError."""
    from fscrawler_spark.plans.snapshot_table import SNAP_DIR, _TAG_RE, SnapshotTable
    from fscrawler_spark.sources.transcripts import parse_snap_input

    def fail(msg):
        return CliError(f"{flag}: {msg}" if flag else msg)

    snap_root = sid = None
    if input_path.startswith("snap:"):
        snap_root, sid = parse_snap_input(input_path)
        if sid is None:
            root, sep, suffix = snap_root.rpartition("@")
            # a literal directory named ROOT@x always wins over the tag
            # grammar, keeping '@'-bearing roots addressable; cheap isdir
            # short-circuits before the table's _snap listing
            if (
                sep
                and _TAG_RE.match(suffix)
                and not os.path.isdir(os.path.join(snap_root, SNAP_DIR))
            ):
                t0 = SnapshotTable(root)
                if t0.exists():
                    try:
                        snap_root, sid = root, t0.resolve_tag(suffix)
                    except (FileNotFoundError, ValueError) as e:
                        # missing tag OR a torn tag file
                        raise fail(str(e)) from None
    elif os.path.isdir(os.path.join(input_path, SNAP_DIR)):
        snap_root = input_path
    if snap_root is not None:
        t = SnapshotTable(snap_root)
        if not t.exists():
            raise fail(f"no snapshot table at {snap_root}")
        try:
            docs = t.read(spark, snapshot_id=sid)
        except FileNotFoundError as e:
            raise fail(str(e)) from None
        where = f"snapshot table {snap_root}"
    else:
        where = input_path
        sub = os.path.join(input_path, "docs")
        if os.path.isdir(sub):
            where = sub
        try:
            docs = spark.read.parquet(where)
        except Exception as e:
            raise fail(f"cannot read docs table at {where}: {e}") from None
    if "doc_id" not in docs.columns or "extracted" not in docs.columns:
        raise fail(
            f"{where} is not an extraction docs table "
            f"(needs doc_id + extracted; has {docs.columns})"
        )
    return docs


def _doc_order(df) -> list[str]:
    """The stable row order curated tables are written in."""
    return [c for c in ("conv_id", "turn_idx") if c in df.columns] or ["doc_id"]


def _write(spark, df, path: str, order=None):
    """Overwrite ``path`` with ``df`` sorted within partitions by
    ``order`` (default: _doc_order) for stable listings; return the
    written table read back."""
    df.sortWithinPartitions(*(order or _doc_order(df))).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _open_table(args):
    """The snapshot table at --output, which must exist."""
    from fscrawler_spark.plans.snapshot_table import SnapshotTable

    t = SnapshotTable(args.output)
    if not t.exists():
        raise CliError(f"no snapshot table at {args.output}")
    return t


def _table_keys(args) -> tuple[str, ...]:
    return tuple(k.strip() for k in args.table_keys.split(",") if k.strip())


def _settings(args):
    """ExtractSettings from the shared extraction flags. A bad value —
    type or range, ExtractSettings validates every numeric knob — is a
    usage error, never a traceback."""
    from fscrawler_spark.config import (
        DEFAULT_INDEXED_CHARS,
        ExtractSettings,
        parse_byte_size,
        parse_percentage,
    )

    try:
        ic = str(args.indexed_chars).strip()
        ic_percent = parse_percentage(ic) if ic.endswith("%") else None
        return ExtractSettings(
            indexed_chars=int(ic) if ic_percent is None else DEFAULT_INDEXED_CHARS,
            indexed_chars_percent=ic_percent,
            ignore_above=parse_byte_size(args.ignore_above),
            includes=tuple(args.includes),
            excludes=tuple(args.excludes),
            filters=tuple(args.filters),
            num_buckets=args.num_buckets,
            skew_salt=args.skew_salt,
            lang_detect=args.lang_detect,
            store_source=args.store_source,
        )
    except ValueError as e:
        raise CliError(f"invalid argument value: {e}") from None


# --- value checks: check(flag, value, args) raises CliError; a check that
# parses the value returns the parsed form, which validate() stores in place
# of the raw string so the runner never parses it again ----------------------


def _min(lo):
    def check(flag, v, args):
        if v < lo:
            raise CliError(f"{flag} must be >= {lo}, got {v}")

    return check


def _within(lo, hi, label=None):
    def check(flag, v, args):
        if not lo <= v <= hi:
            raise CliError(f"{label or flag} must be in [{lo}, {hi}], got {v}")

    return check


def _similarity(flag, v, args):
    if not 0.0 < v <= 1.0:
        raise CliError(f"{flag} SIM must be in (0, 1], got {v}")


def _stride(flag, v, args):
    if not 1 <= v <= args.chunk:
        raise CliError(
            f"--chunk-stride must be in [1, --chunk={args.chunk}], got {v} "
            "(a stride past the window drops tokens)"
        )


def _update_rate(flag, v, args):
    from fscrawler_spark.config import parse_time_value

    try:
        sleep_s = parse_time_value(v)
    except ValueError as e:
        raise CliError(f"invalid argument value: {e}") from None
    if sleep_s < 0:
        raise CliError(f"--update-rate must be >= 0, got {v!r}")
    return sleep_s


def _named_keys(flag, v, args):
    if not _table_keys(args):
        raise CliError(f"--table-keys must name at least one column (got {v!r})")


def _sync_keys(flag, v, args):
    if v.strip().lower() == "none":
        raise CliError(
            "--table-keys none is the raw file-level stream sentinel for "
            "--table-changes; a derived-table sync is keyed — name real "
            "key columns (default conv_id,turn_idx)"
        )
    _named_keys(flag, v, args)


_CHANGES_GRAMMAR = "--table-changes wants FROM[:TO] snapshot ids or tag names, got {!r}"


def _changes_range(flag, v, args):
    # arity BEFORE tag resolution, so '1:2:3' (or 'v2:x:3') gets the
    # grammar error, not a misleading tag lookup
    if len(v.split(":")) > 2:
        raise CliError(_CHANGES_GRAMMAR.format(v))


def _mix_rates(text: str) -> dict[str, float]:
    """'GROUP=RATE[,GROUP=RATE...]' -> {group: rate}; rate ranges
    (negative, inf, sub-resolution) are mixing._split_rate's to refuse."""
    rates = {}
    for part in text.split(","):
        name, sep, val = part.partition("=")
        try:
            if not sep or not name.strip():
                raise ValueError(part)
            rates[name.strip()] = float(val)
        except ValueError:
            raise CliError(
                f"--mix expects GROUP=RATE[,GROUP=RATE...], got {part!r}"
            ) from None
    return rates


def _ppl_keep(text: str) -> list[str]:
    keep = [b.strip() for b in text.split(",") if b.strip()]
    if not keep or any(b not in ("head", "middle", "tail") for b in keep):
        raise CliError(f"--ppl-filter takes a comma list of head/middle/tail, got {text!r}")
    return keep


def _ppl_cuts(text: str) -> tuple[float, float]:
    try:
        lo, hi = (float(x) for x in text.split(","))
    except ValueError:
        raise CliError(f"--ppl-cuts must be 'LO,HI' floats, got {text!r}") from None
    if not 0.0 < lo < hi < 1.0:
        raise CliError(f"--ppl-cuts must satisfy 0 < LO < HI < 1, got {lo},{hi}")
    return lo, hi


def _pii_kinds(text: str) -> tuple[str, ...]:
    from fscrawler_spark.functions.curation import PII_PATTERNS

    known = {k for k, _p, _t in PII_PATTERNS}
    bad = [k for k in text.split(",") if k not in known]
    if bad:
        raise CliError(f"unknown --pii-kinds {bad}; known: {sorted(known)}")
    return tuple(text.split(","))


def _is_str_list(x) -> bool:
    return isinstance(x, list) and all(isinstance(s, str) for s in x)


def _dag_spec(args):
    """The --sync-dag SPEC_JSON as (upstream root, default keys, views);
    relative roots resolve against --output, so one spec file drives
    any deployment directory."""

    def rel(p: str) -> str:
        return p if os.path.isabs(p) else os.path.join(args.output, p)

    try:
        with open(args.sync_dag) as f:
            spec = json.load(f)
    except (OSError, json.JSONDecodeError) as e:
        raise CliError(f"cannot read --sync-dag spec: {e}") from None
    up = spec.get("upstream") if isinstance(spec, dict) else None
    views_spec = spec.get("views") if isinstance(spec, dict) else None
    if not isinstance(up, str) or not isinstance(views_spec, list) or not views_spec:
        raise CliError('--sync-dag spec must be {"upstream": ROOT, "views": [{...}, ...]}')
    keys = _table_keys(args)
    views = []
    for v in views_spec:
        if not isinstance(v, dict):
            raise CliError(f"--sync-dag views must be objects, got {v!r}")
        name, vf, vs, vk = v.get("name"), v.get("filter"), v.get("select"), v.get("keys")
        if vf is not None and not isinstance(vf, str):
            raise CliError(
                f"view {name!r}: 'filter' must be a SQL expression string, got {vf!r}"
            )
        if vs is not None and not _is_str_list(vs):
            raise CliError(f"view {name!r}: 'select' must be a list of SQL expression strings")
        if vk is not None and not _is_str_list(vk):
            # a bare string would be iterated per-CHARACTER as key columns
            raise CliError(f"view {name!r}: 'keys' must be a list of column names, got {vk!r}")
        vkeys = vk if vk is not None else keys
        views.append({
            "name": name,
            "root": rel(str(v["root"])) if v.get("root") else v.get("root"),
            "upstream": v.get("upstream"),
            "keys": vkeys,
            "transform": _view_transform(vf, vs, vkeys),
        })
    return rel(up), keys, views


# --- runners: run(spark, args, docs) -> exit code ---------------------------
# ``docs`` is the --input docs table for verbs declared input="docs",
# else None; ``spark`` is None for sessionless verbs.


def _run_status(_spark, args, _docs):
    from fscrawler_spark.plans.pipeline import job_status

    print(json.dumps(job_status(args.output)))
    return 0


def _run_pause(_spark, args, _docs):
    """--pause / --resume-paused: set or clear the pause request."""
    from fscrawler_spark.plans.pipeline import clear_pause, request_pause

    (request_pause if args.pause else clear_pause)(args.output)
    print(json.dumps({"pause_requested": args.pause}))
    return 0


def _run_table_history(_spark, args, _docs):
    t = _open_table(args)
    expired = (
        [] if args.table_expire is None
        else t.expire_unreferenced(keep_snapshots=args.table_expire)
    )
    print(json.dumps({
        "root": args.output,
        "current": t.current_id(),
        "tags": t.tags(),
        "history": t.history(),
        "expired_files": expired,
    }))
    return 0


def _run_table_vacuum(_spark, args, _docs):
    removed = _open_table(args).remove_orphans(older_than_s=args.table_vacuum)
    print(json.dumps({"root": args.output, "removed_orphans": removed}))
    return 0


def _run_table_tag(_spark, args, _docs):
    t = _open_table(args)
    name, sep, suffix = args.table_tag.rpartition("@")
    if not (sep and suffix.isdigit()):
        name, suffix = args.table_tag, None
    sid = t.tag(name, None if suffix is None else int(suffix), force=args.tag_force)
    print(json.dumps({"root": args.output, "tag": name, "snapshot_id": sid}))
    return 0


def _run_table_drop_tag(_spark, args, _docs):
    sid = _open_table(args).drop_tag(args.table_drop_tag)
    print(json.dumps({
        "root": args.output, "dropped_tag": args.table_drop_tag, "was_snapshot": sid,
    }))
    return 0


def _run_table_rollback(_spark, args, _docs):
    # metadata-only commit: rollback never touches data files or Spark
    sid = _open_table(args).rollback(None, args.table_rollback)
    print(json.dumps({
        "root": args.output, "rolled_back_to": args.table_rollback, "new_snapshot": sid,
    }))
    return 0


def _run_table_compact(spark, args, _docs):
    res = _open_table(args).compact(spark, target_file_bytes=args.table_compact * 1024 * 1024)
    print(json.dumps({**res, "operation": "compact"}))
    return 0


def _run_table_changes(spark, args, _docs):
    t = _open_table(args)
    spec = args.table_changes.split(":")

    def bound(s):
        # a snapshot id or a TAG name ("what changed between train-v2 and
        # train-v3"); tags start with a letter so the grammar is unambiguous
        if s.isdigit():
            return int(s)
        try:
            return t.resolve_tag(s)
        except ValueError as e:
            if "torn" in str(e):
                raise
            raise CliError(_CHANGES_GRAMMAR.format(args.table_changes)) from None

    from_id = bound(spec[0])
    # resolve "current" ONCE so the printed bound is the one read
    to_id = bound(spec[1]) if len(spec) > 1 and spec[1] else t.current_id()
    keys = None if args.table_keys.strip().lower() in ("", "none") else _table_keys(args)
    ch = t.read_changes(spark, from_id, to_id, keys=keys)
    if args.changes_out is not None:
        ch = _write(spark, ch, args.changes_out, list(keys) if keys else ["_change_type"])
    counts = {r["_change_type"]: r["count"] for r in ch.groupBy("_change_type").count().collect()}
    print(json.dumps({
        "operation": "changes",
        "from_snapshot": from_id,
        "to_snapshot": to_id,
        "counts": counts,
        "rows": sum(counts.values()),
        "out": args.changes_out,
    }))
    return 0


def _run_table_upsert(spark, args, _docs):
    t = _open_table(args)
    res = t.upsert(spark, spark.read.parquet(args.table_upsert), keys=_table_keys(args))
    print(json.dumps({**res, "operation": "upsert"}))
    return 0


def _run_table_delete(spark, args, _docs):
    t = _open_table(args)
    res = t.delete_rows(spark, spark.read.parquet(args.table_delete), keys=_table_keys(args))
    print(json.dumps({**res, "operation": "delete"}))
    return 0


def _repeat_sync(args, sync_once):
    """--loop N --update-rate T on a sync = continuous view maintenance
    (the crawl loop's analog for the derived tier): one JSON line per
    pass; --force-bootstrap rebuilds on the FIRST pass only."""
    sleep_s = args.update_rate
    for i in range(args.loop):
        print(json.dumps({**sync_once(args.force_bootstrap and i == 0), "loop": i + 1}))
        if sleep_s and i + 1 < args.loop:
            time.sleep(sleep_s)
    return 0


def _run_sync_derived(spark, args, _docs):
    from fscrawler_spark.plans.derived import sync_derived_table

    keys = _table_keys(args)
    transform = _view_transform(args.view_filter, args.view_select, keys)
    return _repeat_sync(args, lambda force: {
        **sync_derived_table(
            spark, args.sync_derived, args.output,
            transform=transform, keys=keys, force_bootstrap=force,
        ),
        "operation": "sync-derived",
    })


def _run_sync_dag(spark, args, _docs):
    from fscrawler_spark.plans.derived import sync_view_dag

    up, keys, views = args.sync_dag
    return _repeat_sync(args, lambda force: {
        "operation": "sync-dag",
        "views": sync_view_dag(spark, up, views, keys=keys, force_bootstrap=force),
    })


def _run_doctor(spark, args, _docs):
    from fscrawler_spark.plans.doctor import check_output

    res = check_output(spark, args.output)
    print(json.dumps(res))
    return 0 if res["ok"] else 3


def _run_compact(spark, args, _docs):
    from fscrawler_spark.streaming.micro_batch import compact_streaming_output

    print(json.dumps(compact_streaming_output(spark, args.input, args.output, args.settings)))
    return 0


def _run_page_gate(spark, args, docs, verb: str, flags_col, keep_cols=None, extra_stats=None):
    """Shared drive for the page-gate verbs (--c4-filter /
    --gopher-filter): flag -> per-reason drop audit -> write survivors in
    deterministic order -> one JSON stats line. Variable parts: the
    FILTER+AUDIT struct column, an optional transform applied to the
    surviving rows while ``_q`` is still attached (C4 swaps in the
    cleaned text), and extra stats computed over the written output."""
    from pyspark.sql import functions as F

    flagged = docs.withColumn("_q", flags_col)
    total = docs.count()
    dropped_by = {
        r["reason"]: r["n"]
        for r in flagged.select(F.explode("_q.fail_reasons").alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out = flagged.filter(F.col("_q.passes"))
    if keep_cols is not None:
        out = keep_cols(out)
    written = _write(spark, out.drop("_q"), args.output)
    stats = {verb: True, "total": total, "kept": written.count(), "dropped_by_reason": dropped_by}
    if extra_stats is not None:
        stats.update(extra_stats(written))
    stats["output"] = args.output
    print(json.dumps(stats))
    return 0


def _run_c4_filter(spark, args, docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions.curation import c4_quality_flags

    min_sentences = 3 if args.c4_min_sentences is None else args.c4_min_sentences

    def swap_in_cleaned(out):
        return out.withColumn("extracted", F.col("_q.cleaned_text")).withColumn(
            "c4_lines_removed", F.col("_q.n_lines") - F.col("_q.n_lines_kept")
        )

    def lines_removed(written):
        n = written.agg(F.sum("c4_lines_removed")).collect()[0][0] or 0
        return {"lines_removed_in_kept": int(n)}

    # re-filtering a previous --c4-filter output: drop its stale audit
    # column before re-attaching
    return _run_page_gate(
        spark, args, docs.drop("c4_lines_removed"), "c4_filter",
        c4_quality_flags("extracted", min_sentences=min_sentences),
        keep_cols=swap_in_cleaned, extra_stats=lines_removed,
    )


def _run_gopher_filter(spark, args, docs):
    from fscrawler_spark.functions.curation import gopher_quality_flags

    return _run_page_gate(spark, args, docs, "gopher_filter", gopher_quality_flags("extracted"))


def _run_dedup_lines(spark, args, docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions.curation import strip_repeated_lines

    curated = strip_repeated_lines(
        docs, id_col="doc_id", text_col="extracted", min_docs=args.dedup_lines
    ).withColumnsRenamed({"id": "doc_id", "text": "extracted"})
    # keep the full original row; only `extracted` is replaced
    written = _write(spark, docs.drop("extracted").join(curated, "doc_id"), args.output)
    removed = written.agg(F.sum("removed_lines")).collect()[0][0] or 0
    print(json.dumps({
        "dedup_lines": args.dedup_lines,
        "docs": written.count(),
        "removed_lines_total": int(removed),
        "output": args.output,
    }))
    return 0


def _run_clean_text(spark, args, docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions.normalize import clean_text, mojibake_score

    out = docs.withColumn("moji_before", mojibake_score(F.col("extracted"))).withColumn(
        "extracted", clean_text(F.col("extracted"))
    )
    stats = _write(spark, out, args.output).agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("moji_before").alias("moji"),
        F.sum(mojibake_score(F.col("extracted"))).alias("moji_after"),
    ).collect()[0]
    print(json.dumps({
        "clean_text": True,
        "docs": stats["docs"],
        "mojibake_before": int(stats["moji"] or 0),
        "mojibake_after": int(stats["moji_after"] or 0),
        "output": args.output,
    }))
    return 0


def _run_report(spark, args, docs):
    from fscrawler_spark.plans.report import corpus_report

    group = args.report_group or "mime"
    corpus_report(docs, group_col=group).orderBy("group").write.mode("overwrite").parquet(
        args.output
    )
    rows = [r.asDict() for r in spark.read.parquet(args.output).orderBy("group").collect()]
    print(json.dumps({
        "report": True,
        "group_col": group,
        "groups": len(rows) - 1,  # minus the <all> row
        "rows": rows,
        "output": args.output,
    }))
    return 0


def _run_export(spark, args, docs):
    from fscrawler_spark.functions.export import export_shards, verify_export

    if args.export_curriculum is not None and args.export_curriculum not in docs.columns:
        raise CliError(
            f"--export-curriculum column {args.export_curriculum!r} not on the docs table"
        )
    stats = export_shards(
        docs, args.output, n_shards=args.export,
        id_col="doc_id", seed=args.export_seed, text_col="extracted",
        fmt=args.export_format, stage_col=args.export_curriculum,
    )
    problems = verify_export(spark, args.output)
    print(json.dumps({
        "export": True,
        "shards": stats["shards"],
        "rows": stats["rows"],
        "seed": args.export_seed,
        "format": args.export_format,
        "curriculum": args.export_curriculum,
        "verify_findings": problems,
        "output": args.output,
    }))
    return 0 if not problems else 1


def _run_dedup_spans(spark, args, docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions.exact_substr import strip_duplicate_spans

    before = docs.select(F.sum(F.length("extracted"))).collect()[0][0] or 0
    out = strip_duplicate_spans(
        docs, id_col="doc_id", text_col="extracted",
        min_len=args.dedup_spans, cross_doc_only=True,
    )
    written = _write(spark, out, args.output)
    after = written.select(F.sum(F.length("extracted"))).collect()[0][0] or 0
    print(json.dumps({
        "dedup_spans": args.dedup_spans,
        "docs": written.count(),
        "chars_removed": int(before - after),
        "output": args.output,
    }))
    return 0


def _run_mix(spark, args, docs):
    """--mix (explicit per-group rates) and --mix-budget (rates computed
    to hit a token budget) — one runner, one output contract."""
    from pyspark.sql import functions as F

    from fscrawler_spark.functions import mixing

    if args.mix_group not in docs.columns:
        raise CliError(
            f"--mix-group column {args.mix_group!r} not in docs table (has {docs.columns})"
        )
    if args.mix is not None:
        rates = args.mix
        out = mixing.mix_corpus(
            docs, args.mix_group, rates, key_col="doc_id", default_rate=args.mix_default
        )
    else:
        from fscrawler_spark.functions.text_analysis import token_count

        out, rates = mixing.sample_to_token_budget(
            docs.withColumn("_tok", token_count(F.col("extracted"))),
            args.mix_group, "_tok", args.mix_budget, key_col="doc_id",
        )
        out = out.drop("_tok")
    written = _write(spark, out, args.output, [*_doc_order(out), "epoch"])
    groups = {
        ("<null>" if r["g"] is None else str(r["g"])): r["n"]
        for r in written.groupBy(F.col(args.mix_group).alias("g"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    print(json.dumps({
        "mix_group": args.mix_group,
        "rates": rates,
        "rows": sum(groups.values()),
        "rows_by_group": groups,
        "output": args.output,
    }))
    return 0


def _run_chunk(spark, args, docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions.curation import chunk_documents

    chunks = chunk_documents(
        docs, id_col="doc_id", text_col="extracted",
        max_tokens=args.chunk, stride=args.chunk_stride,
    ).withColumnsRenamed({"id": "doc_id", "chunk_text": "extracted"})
    # one output row per chunk, original metadata re-attached
    out = docs.drop("extracted").join(chunks, "doc_id")
    stats = _write(spark, out, args.output, [*_doc_order(out), "chunk_idx"]).agg(
        F.count(F.lit(1)).alias("chunks"),
        F.count_distinct("doc_id").alias("docs"),
        F.max("n_tokens").alias("widest"),
    ).collect()[0]
    print(json.dumps({
        "chunk": args.chunk,
        "stride": args.chunk_stride or args.chunk,
        "docs": stats["docs"],
        "chunks": stats["chunks"],
        "max_chunk_tokens": stats["widest"],
        "output": args.output,
    }))
    return 0


def _assembly_tool_kw(docs, args) -> dict:
    """Refuse a docs table the assembly verbs cannot stitch; return the
    --assemble-tools keyword for the assembly functions."""
    missing = [c for c in ("conv_id", "turn_idx", "role") if c not in docs.columns]
    if missing:
        raise CliError(
            f"assembly verbs need conv_id/turn_idx/role on the docs table; missing {missing}"
        )
    if args.assemble_tools and "tool" not in docs.columns:
        raise CliError("--assemble-tools needs a tool column on the docs table")
    return {"tool_col": "tool"} if args.assemble_tools else {}


def _run_assemble(spark, args, docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions.assembly import assemble_conversations

    out = assemble_conversations(
        docs, text_col="extracted", max_turns=args.assemble_max_turns,
        spans_role=args.assemble_spans, **_assembly_tool_kw(docs, args),
    )
    aggs = [
        F.count(F.lit(1)).alias("convs"),
        F.sum("n_turns").alias("turns"),
        F.sum("n_chars").alias("chars"),
    ]
    if args.assemble_spans is not None:
        aggs.append(F.sum(F.size("train_spans")).alias("spans"))
    stats = _write(spark, out, args.output, ["conv_id"]).agg(*aggs).collect()[0]
    line = {
        "assemble": True,
        "max_turns": args.assemble_max_turns,
        "conversations": stats["convs"],
        "turns_kept": int(stats["turns"] or 0),
        "chars": int(stats["chars"] or 0),
        "output": args.output,
    }
    if args.assemble_spans is not None:
        line["spans_role"] = args.assemble_spans
        line["train_spans"] = int(stats["spans"] or 0)
    print(json.dumps(line))
    return 0


def _sft_examples(docs, args):
    """The --sft-pairs examples (also --pref-pairs' candidates), with the
    role and context bound they were built with."""
    from fscrawler_spark.functions.assembly import sft_examples

    role = args.sft_role if args.sft_role is not None else "assistant"
    context = args.sft_context or 8
    ex = sft_examples(
        docs, text_col="extracted", target_role=role, context_turns=context,
        **_assembly_tool_kw(docs, args),
    )
    return ex, role, context


def _run_sft_pairs(spark, args, docs):
    from pyspark.sql import functions as F

    out, role, context = _sft_examples(docs, args)
    stats = _write(spark, out, args.output).agg(
        F.count(F.lit(1)).alias("examples"),
        F.count_distinct("conv_id").alias("convs"),
        F.sum(F.length("prompt") + F.length("response")).alias("chars"),
    ).collect()[0]
    print(json.dumps({
        "sft_pairs": True,
        "role": role,
        "context_turns": context,
        "examples": stats["examples"],
        "conversations": stats["convs"],
        "chars": int(stats["chars"] or 0),
        "output": args.output,
    }))
    return 0


def _run_pref_pairs(spark, args, docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions.assembly import preference_pairs

    ex, role, context = _sft_examples(docs, args)
    margin = args.pref_margin or 0.0
    stats = _write(spark, preference_pairs(ex, min_margin=margin), args.output, ["prompt"]).agg(
        F.count(F.lit(1)).alias("pairs"),
        F.sum("n_candidates").alias("cands"),
        F.avg(F.col("chosen_score") - F.col("rejected_score")).alias("gap"),
    ).collect()[0]
    print(json.dumps({
        "pref_pairs": True,
        "role": role,
        "context_turns": context,
        "min_margin": margin,
        "pairs": stats["pairs"],
        "candidates": int(stats["cands"] or 0),
        "mean_gap": None if stats["gap"] is None else round(float(stats["gap"]), 6),
        "output": args.output,
    }))
    return 0


def _run_dsir_select(spark, args, docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions import mixing

    target = _read_docs_table(spark, args.dsir_target, "--dsir-target")
    # fused train+select path: one gram pass over the corpus
    # (mixing.dsir_select) instead of the modular two-pass
    picked = mixing.dsir_select(
        docs, target, k=args.dsir_select, text_col="extracted", id_col="doc_id"
    ).withColumnsRenamed({"id": "doc_id"})
    # re-selecting from a previous dsir output: drop its stale audit
    # columns before re-attaching (COLUMN_ALREADY_EXISTS)
    out = docs.drop("log_weight", "sample_key").join(picked, "doc_id")
    stats = _write(spark, out, args.output).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("log_weight").alias("lo"),
        F.max("log_weight").alias("hi"),
    ).collect()[0]
    print(json.dumps({
        "dsir_select": args.dsir_select,
        "selected": stats["n"],
        "log_weight_min": stats["lo"],
        "log_weight_max": stats["hi"],
        "output": args.output,
    }))
    return 0


def _run_quality_filter(spark, args, docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions.quality_classifier import (
        classify_quality,
        train_quality_classifier,
    )

    pos = _read_docs_table(spark, args.quality_pos, "--quality-pos")
    neg = _read_docs_table(spark, args.quality_neg, "--quality-neg")
    model = train_quality_classifier(pos, neg, text_col="extracted")
    scored = classify_quality(docs, model, text_col="extracted", threshold=args.quality_filter)
    total = docs.count()
    # re-filtering a previous quality-filter output is a natural
    # workflow: drop its stale audit column before re-attaching
    out = docs.drop("log_odds").join(scored.filter("keep").select("doc_id", "log_odds"), "doc_id")
    stats = _write(spark, out, args.output).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("log_odds").alias("lo"),
        F.max("log_odds").alias("hi"),
    ).collect()[0]
    print(json.dumps({
        "quality_filter": args.quality_filter,
        "prior_log_odds": model.prior_log_odds,
        "total": total,
        "kept": stats["n"],
        "log_odds_min": stats["lo"],
        "log_odds_max": stats["hi"],
        "output": args.output,
    }))
    return 0


def _run_decontaminate(spark, args, docs):
    from fscrawler_spark.functions import curation

    bench = _read_docs_table(spark, args.decontaminate, "--decontaminate")
    total = docs.count()
    cols = dict(
        id_col="doc_id", text_col="extracted", bench_id_col="doc_id", bench_text_col="extracted"
    )
    max_bench = args.decon_max_benchmark or 100_000
    if args.decon_semantic is not None:
        extra = {"semantic_cosine": args.decon_semantic, "dim": args.decon_dim or 256}
        out = curation.semantic_decontaminate(
            docs, bench, **cols, threshold=args.decon_semantic,
            dim=extra["dim"], max_benchmark=max_bench,
        )
    elif args.decon_fuzzy is not None:
        extra = {"fuzzy_jaccard": args.decon_fuzzy}
        out = curation.fuzzy_decontaminate(
            docs, bench, **cols, threshold=args.decon_fuzzy, max_benchmark=max_bench
        )
    else:
        extra = {"ngrams": args.decon_ngrams or 8, "min_hits": args.decon_min_hits or 2}
        out = curation.decontaminate(
            docs, bench, **cols, n=extra["ngrams"], min_hits=extra["min_hits"]
        )
    kept = _write(spark, out, args.output).count()
    print(json.dumps({
        "decontaminate": True,
        **extra,
        "total": total,
        "kept": kept,
        "dropped": total - kept,
        "output": args.output,
    }))
    return 0


def _run_ppl_filter(spark, args, docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions.lm_quality import (
        perplexity_buckets,
        train_char_lm,
        train_word_lm,
    )

    keep, cuts = args.ppl_filter, args.ppl_cuts or (1 / 3, 2 / 3)
    seed = docs
    if args.ppl_target is not None:
        seed = _read_docs_table(spark, args.ppl_target, "--ppl-target")
    train = train_word_lm if args.ppl_model == "word" else train_char_lm
    lm = train(seed, text_col="extracted")
    total = docs.count()
    # re-filtering a previous ppl-filter output: drop its stale audit
    # columns before re-attaching
    bucketed = perplexity_buckets(
        docs.drop("ppl", "ppl_bucket"), lm, text_col="extracted", cuts=cuts
    )
    by_bucket = {
        ("<null>" if r["b"] is None else r["b"]): r["n"]
        for r in bucketed.groupBy(F.col("ppl_bucket").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    kept = _write(spark, bucketed.filter(F.col("ppl_bucket").isin(keep)), args.output).count()
    print(json.dumps({
        "ppl_filter": keep,
        "model": args.ppl_model,
        "cuts": list(cuts),
        "trained_on": args.ppl_target or "input",
        "total": total,
        "kept": kept,
        "by_bucket": by_bucket,
        "output": args.output,
    }))
    return 0


def _run_tokenize(spark, args, docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions.bpe import bpe_encode, merges_table, train_bpe

    if args.bpe_merges is not None:
        try:
            rows = spark.read.parquet(args.bpe_merges).orderBy("rank").select(
                "left", "right"
            ).collect()
        except Exception as e:
            raise CliError(
                f"--bpe-merges: cannot read merges table at {args.bpe_merges}: {e}"
            ) from None
        merges = [(r["left"], r["right"]) for r in rows][: args.tokenize]
    else:
        merges = train_bpe(docs, text_col="extracted", num_merges=args.tokenize)
    # re-tokenizing a previous output: drop its stale audit columns
    out = bpe_encode(
        docs.drop("bpe_tokens", "n_bpe_tokens"), merges, text_col="extracted"
    ).withColumn(
        "n_bpe_tokens",
        F.when(F.col("bpe_tokens").isNull(), F.lit(None).cast("int")).otherwise(
            F.size("bpe_tokens")
        ),
    )
    written = _write(spark, out, os.path.join(args.output, "docs"))
    merges_table(spark, merges).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(args.output, "merges")
    )
    stats = written.agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_bpe_tokens").alias("toks")
    ).collect()[0]
    print(json.dumps({
        "tokenize": args.tokenize,
        "merges": len(merges),
        "trained": args.bpe_merges is None,
        "rows": stats["n"],
        "total_tokens": stats["toks"],
        "output": args.output,
    }))
    return 0


def _run_embed(spark, args, docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions.embeddings import text_embeddings

    ngrams = args.embed_ngrams or 1
    emb = text_embeddings(
        docs, id_col="doc_id", text_col="extracted", dim=args.embed, ngrams=ngrams
    )
    # the vector stack's centroid path (--semantic-dedup / IVF) requires
    # INTEGER ids; extraction doc_ids are strings, so emit a
    # deterministic int64 surrogate and keep doc_id alongside for
    # mapping results back (collision budget n^2/2^65 — the same one
    # hashed_shingles accepts)
    if dict(docs.dtypes).get("doc_id") not in ("tinyint", "smallint", "int", "bigint"):
        emb = emb.select(
            F.xxhash64("vec_id").alias("vec_id"), F.col("vec_id").alias("doc_id"), "embedding"
        )
    stats = _write(spark, emb, args.output, ["vec_id"]).agg(
        F.count(F.lit(1)).alias("docs"),
        F.count_distinct("vec_id").alias("ids"),
        F.sum(
            (F.aggregate("embedding", F.lit(0.0), lambda a, x: a + F.abs(x)) > 0).cast("long")
        ).alias("nonzero"),
    ).collect()[0]
    print(json.dumps({
        "embed": args.embed,
        "ngrams": ngrams,
        "docs": stats["docs"],
        # ids < docs would mean surrogate collisions — surfaced, not
        # silently absorbed
        "distinct_vec_ids": stats["ids"],
        # zero vectors = NULL/blank extractions; they can never
        # semantic-match anything downstream
        "nonzero_vectors": int(stats["nonzero"] or 0),
        "output": args.output,
    }))
    return 0


def _run_redact_pii(spark, args, docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions.curation import PII_PATTERNS, pii_counts, redact_pii

    all_kinds = [k for k, _p, _t in PII_PATTERNS]
    kinds = args.pii_kinds
    # audit BEFORE redacting: pii_found counts every kind on the original
    # text even when only a subset is redacted
    out = docs.withColumn("pii_found", pii_counts(F.col("extracted"))).withColumn(
        "extracted", redact_pii(F.col("extracted"), kinds)
    )
    stats = _write(spark, out, args.output).agg(
        F.count(F.lit(1)).alias("docs"),
        *[F.sum(F.element_at("pii_found", k)).alias(k) for k in all_kinds],
    ).collect()[0]
    print(json.dumps({
        "redact_pii": True,
        "kinds_redacted": sorted(kinds or all_kinds),
        "docs": stats["docs"],
        "found": {k: int(stats[k] or 0) for k in all_kinds},
        "output": args.output,
    }))
    return 0


def _run_semantic_dedup(spark, args, _docs):
    from pyspark.sql import functions as F

    from fscrawler_spark.functions import embeddings as emb_ops

    try:
        vecs = spark.read.parquet(args.input)
    except Exception as e:
        raise CliError(f"cannot read embeddings table at {args.input}: {e}") from None
    if "vec_id" not in vecs.columns or "embedding" not in vecs.columns:
        raise CliError(
            f"{args.input} is not an embeddings table "
            f"(needs vec_id + embedding; has {vecs.columns})"
        )
    n_corpus = vecs.count()
    if n_corpus == 0:
        # sampled_centroids would hand numpy a zero-row matrix
        raise CliError(f"embeddings table at {args.input} is empty")
    n_cells = args.semantic_cells or max(16, min(65536, n_corpus // 512))
    out = emb_ops.semantic_dedup(vecs, n_cells=n_cells, threshold=args.semantic_dedup)
    stats = _write(spark, out, args.output, ["cluster_id", "id"]).agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("cluster_id").alias("clusters")
    ).collect()[0]
    print(json.dumps({
        "semantic_dedup": args.semantic_dedup,
        "n_cells": n_cells,
        "clustered_vectors": stats["n"],
        "clusters": stats["clusters"],
        "output": args.output,
    }))
    return 0


def _run_dry_run(spark, args, _docs):
    if args.incremental:
        # preview the TICK's plan, not a full-corpus extraction: the real
        # delta (checksum anti-join + deletions) is what "would write"
        from fscrawler_spark.plans.pipeline import run_incremental_update

        res = run_incremental_update(
            spark, args.input, args.output, args.settings, dry_run=True, layout=args.layout
        )
        print(json.dumps(res))
        return 0
    from pyspark.sql import functions as F

    from fscrawler_spark.operators.extract import extract_transcripts
    from fscrawler_spark.sources.transcripts import read_transcripts

    docs = extract_transcripts(read_transcripts(spark, args.input), args.settings)
    docs.explain("formatted")
    counts = docs.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
    )
    by_mime = {r["mime"]: [r["n"], r["errors"]] for r in counts.collect()}
    print(json.dumps({"dry_run": True, "by_mime": by_mime}))
    return 0


def _store_ticks(spark, args) -> dict:
    """Tick every requested persisted store over the docs at --output."""
    ticks = {}
    if args.near_dup:
        from fscrawler_spark.plans.dedup_store import dedup_tick

        ticks["near_dup"] = dedup_tick(spark, args.output, threshold=args.near_dup_threshold)
    if args.assemble_store:
        from fscrawler_spark.plans.assembly_store import assembly_tick

        ticks["assembled"] = assembly_tick(
            spark, args.output, max_turns=args.assemble_max_turns,
            tool_col="tool" if args.assemble_tools else None,
        )
    return ticks


def _run_store_ticks(spark, args, _docs):
    # standalone: one tick of EVERY requested store, on --output alone
    print(json.dumps(_store_ticks(spark, args)))
    return 0


def _run_crawl(spark, args, _docs):
    """A crawl or an --incremental tick, --loop times; the store ticks
    composed with it run after each loop."""
    from fscrawler_spark.plans import pipeline

    if args.restart:
        pipeline.restart_clean(args.output, spark=spark)
    sleep_s = args.update_rate
    for i in range(args.loop):
        if args.incremental:
            res = pipeline.run_incremental_update(
                spark, args.input, args.output, args.settings,
                layout=args.layout, publish_table=args.publish_table,
            )
        else:
            res = pipeline.run_extraction_job(
                spark, args.input, args.output, args.settings,
                publish_table=args.publish_table,
            )
        res.update(_store_ticks(spark, args))
        print(json.dumps({"loop": i + 1, **{k: v for k, v in res.items() if k != "output"}}))
        if sleep_s is not None:
            # persist when the next run is due (nextCheck analog); a
            # delete-heavy tick schedules HALF the update rate so
            # follow-up deletions are noticed sooner — and any external
            # actor can pull next_check forward to wake the loop early
            delay = sleep_s / 2 if (args.incremental and res.get("deleted")) else sleep_s
            pipeline.schedule_next_check(args.output, delay)
        if sleep_s and i + 1 < args.loop:
            reason = pipeline.sleep_until_next_run(args.output, sleep_s)
            if reason != "timeout":
                print(json.dumps({"woke_early": reason}))
    return 0


# --- the verb table -----------------------------------------------------------


@dataclass(frozen=True, eq=False)
class Verb:
    """One CLI verb. Flags are named as typed; an entry "--a/--b" in
    ``owns`` declares flags that share one "require" message."""

    flag: str  # the selector ("crawl" for the implied crawl, module doc)
    run: Callable  # run(spark, args, docs) -> exit code
    owns: tuple[str, ...] = ()  # flags this verb declares; each flag has one owner
    # flags another verb owns that this one reads too; a borrowed selector
    # makes that verb a modifier of this one
    borrows: tuple[str, ...] = ()
    needs: tuple[str, ...] = ()  # flags the selector cannot run without
    # owned flag -> the flags it requires (default: the verbs that read it)
    requires: dict = field(default_factory=dict)
    # owned flag -> the owned flags it makes inapplicable
    excludes: dict = field(default_factory=dict)
    # flag -> check(flag, value, args); runs when the flag is set and owned
    # here, or is a shared flag and this verb is selected; a parsed value it
    # returns replaces the raw one on args
    checks: dict = field(default_factory=dict)
    companions: tuple[str, ...] = ()  # verbs it may run with (symmetric)
    input: str | None = None  # "path", "docs" (read as a docs table), None (no --input)
    session: bool = True
    kind: str = ""  # how a "cannot combine" message describes it

    def owned(self) -> list[str]:
        return _flags(self.owns)

    def reads(self) -> list[str]:
        return _flags(self.owns + self.borrows)


def _flags(entries) -> list[str]:
    return [f for e in entries for f in e.split("/")]


_CURATION = "is a one-shot curation pass"

CRAWL = Verb(
    "crawl", _run_crawl, input="path",
    owns=("--restart", "--publish-table", "--loop", "--update-rate"),
    checks={"--loop": _min(1), "--update-rate": _update_rate},
    companions=("--near-dup", "--assemble-store"),
)

VERBS = (
    # control plane (CrawlerApi analog) and snapshot-table metadata verbs
    Verb("--status", _run_status, session=False),
    Verb("--pause", _run_pause, session=False),
    Verb("--resume-paused", _run_pause, session=False),
    Verb(
        "--table-history", _run_table_history, session=False,
        owns=("--table-expire",), checks={"--table-expire": _min(1)},
    ),
    Verb(
        "--table-vacuum", _run_table_vacuum, session=False,
        checks={"--table-vacuum": _min(0)},
    ),
    Verb("--table-tag", _run_table_tag, session=False, owns=("--tag-force",)),
    Verb("--table-drop-tag", _run_table_drop_tag, session=False),
    Verb("--table-rollback", _run_table_rollback, session=False),
    # snapshot-table data verbs and derived-view syncs
    Verb("--table-compact", _run_table_compact, checks={"--table-compact": _min(1)}),
    Verb(
        "--table-changes", _run_table_changes, owns=("--changes-out",),
        checks={"--table-changes": _changes_range},
    ),
    Verb("--table-upsert", _run_table_upsert, checks={"--table-keys": _named_keys}),
    Verb("--table-delete", _run_table_delete, checks={"--table-keys": _named_keys}),
    Verb(
        "--sync-derived", _run_sync_derived,
        owns=("--view-filter/--view-select", "--force-bootstrap"),
        borrows=("--loop", "--update-rate"),
        checks={"--table-keys": _sync_keys},
    ),
    Verb(
        "--sync-dag", _run_sync_dag,
        borrows=("--force-bootstrap", "--loop", "--update-rate"),
        checks={"--table-keys": _sync_keys, "--sync-dag": lambda f, v, a: _dag_spec(a)},
    ),
    Verb("--doctor", _run_doctor, kind="is a standalone read-only check"),
    Verb("--compact", _run_compact, input="path", kind="is a one-shot migration"),
    # one-shot curation passes over the docs table at --input
    Verb(
        "--dedup-lines", _run_dedup_lines, input="docs", kind=_CURATION,
        checks={"--dedup-lines": _min(2)},
    ),
    Verb("--clean-text", _run_clean_text, input="docs", kind=_CURATION),
    Verb(
        "--c4-filter", _run_c4_filter, input="docs", kind=_CURATION,
        owns=("--c4-min-sentences",), checks={"--c4-min-sentences": _min(0)},
    ),
    Verb("--gopher-filter", _run_gopher_filter, input="docs", kind=_CURATION),
    Verb("--report", _run_report, input="docs", kind=_CURATION, owns=("--report-group",)),
    Verb(
        "--export", _run_export, input="docs", kind=_CURATION,
        owns=("--export-seed", "--export-format", "--export-curriculum"),
        checks={"--export": _min(1)},
    ),
    Verb(
        "--dedup-spans", _run_dedup_spans, input="docs", kind=_CURATION,
        checks={"--dedup-spans": _min(2)},
    ),
    Verb(
        "--mix", _run_mix, input="docs", kind=_CURATION,
        owns=("--mix-group", "--mix-default"),
        checks={"--mix": lambda f, v, a: _mix_rates(v)},
    ),
    Verb("--mix-budget", _run_mix, input="docs", kind=_CURATION, borrows=("--mix-group",)),
    Verb(
        "--chunk", _run_chunk, input="docs", kind=_CURATION,
        owns=("--chunk-stride",), checks={"--chunk": _min(1), "--chunk-stride": _stride},
    ),
    Verb(
        "--assemble", _run_assemble, input="docs", kind=_CURATION,
        owns=("--assemble-max-turns", "--assemble-spans", "--assemble-tools"),
        checks={"--assemble-max-turns": _min(1)},
    ),
    Verb(
        "--sft-pairs", _run_sft_pairs, input="docs", kind=_CURATION,
        owns=("--sft-context/--sft-role",), borrows=("--assemble-tools",),
        checks={"--sft-context": _min(1)},
    ),
    Verb(
        "--pref-pairs", _run_pref_pairs, input="docs", kind=_CURATION,
        owns=("--pref-margin",), borrows=("--sft-context/--sft-role", "--assemble-tools"),
        checks={"--pref-margin": _min(0)},
    ),
    Verb(
        "--dsir-select", _run_dsir_select, input="docs", kind=_CURATION,
        owns=("--dsir-target",), needs=("--dsir-target",),
        checks={"--dsir-select": _min(1)},
    ),
    Verb(
        "--quality-filter", _run_quality_filter, input="docs", kind=_CURATION,
        owns=("--quality-pos/--quality-neg",), needs=("--quality-pos", "--quality-neg"),
    ),
    Verb(
        "--decontaminate", _run_decontaminate, input="docs", kind=_CURATION,
        owns=(
            "--decon-ngrams/--decon-min-hits", "--decon-fuzzy", "--decon-semantic",
            "--decon-dim", "--decon-max-benchmark",
        ),
        requires={
            "--decon-dim": ("--decon-semantic",),
            "--decon-max-benchmark": ("--decon-fuzzy", "--decon-semantic"),
        },
        excludes={
            "--decon-fuzzy": ("--decon-ngrams", "--decon-min-hits"),
            "--decon-semantic": ("--decon-fuzzy", "--decon-ngrams", "--decon-min-hits"),
        },
        checks={
            "--decon-ngrams": _min(1),
            "--decon-min-hits": _min(1),
            "--decon-fuzzy": _similarity,
            "--decon-semantic": _similarity,
            "--decon-dim": _within(1, 4096),
            "--decon-max-benchmark": _min(1),
        },
    ),
    Verb(
        "--ppl-filter", _run_ppl_filter, input="docs", kind=_CURATION,
        owns=("--ppl-model", "--ppl-target/--ppl-cuts"),
        checks={
            "--ppl-filter": lambda f, v, a: _ppl_keep(v),
            "--ppl-cuts": lambda f, v, a: _ppl_cuts(v),
        },
    ),
    Verb(
        "--tokenize", _run_tokenize, input="docs", kind=_CURATION,
        owns=("--bpe-merges",), checks={"--tokenize": _min(1)},
    ),
    Verb(
        "--embed", _run_embed, input="docs", kind=_CURATION, owns=("--embed-ngrams",),
        checks={"--embed": _within(1, 4096, "--embed DIM"), "--embed-ngrams": _min(1)},
    ),
    Verb(
        "--redact-pii", _run_redact_pii, input="docs", kind=_CURATION,
        owns=("--pii-kinds",), checks={"--pii-kinds": lambda f, v, a: _pii_kinds(v)},
    ),
    # reads an EMBEDDINGS table, not the docs table
    Verb(
        "--semantic-dedup", _run_semantic_dedup, input="path", kind="is a one-shot pass",
        owns=("--semantic-cells",),
        checks={"--semantic-dedup": _similarity, "--semantic-cells": _min(1)},
    ),
    # the crawl family; the first selected verb of a companion set runs it
    # --dry-run reads --incremental as a modifier: it previews the tick
    Verb("--dry-run", _run_dry_run, input="path", borrows=("--incremental", "--layout")),
    Verb(
        "--incremental", _run_crawl, input="path", owns=("--layout",),
        requires={"--layout": ("--incremental",)},
        borrows=("--publish-table", "--loop", "--update-rate"),
        companions=("--near-dup", "--assemble-store"),
    ),
    CRAWL,
    Verb(
        "--near-dup", _run_store_ticks, owns=("--near-dup-threshold",),
        companions=("--assemble-store",),
    ),
    Verb(
        "--assemble-store", _run_store_ticks,
        borrows=("--assemble-max-turns", "--assemble-tools"),
    ),
)


def _either(names) -> str:
    names = list(names)
    if len(names) < 3:
        return " or ".join(names)
    return ", ".join(names[:-1]) + ", or " + names[-1]


def validate(args, parser: argparse.ArgumentParser) -> Verb:
    """The one validation pass: select the verbs the flags ask for,
    refuse every combination and value the table does not allow, and
    return the verb whose runner main() runs. Raises CliError."""
    actions = {a.option_strings[-1]: a for a in parser._actions if a.option_strings}

    def is_set(flag):
        return getattr(args, actions[flag].dest) != actions[flag].default

    def value(flag):
        return getattr(args, actions[flag].dest)

    chosen = [v for v in VERBS if v is not CRAWL and is_set(v.flag)]
    # a verb whose selector another chosen verb borrows is only that
    # verb's modifier: it does not run, so its own flags are not read
    modifiers = {f for v in chosen for f in v.borrows}
    chosen = [v for v in chosen if v.flag not in modifiers]
    read = {f for v in chosen for f in v.reads()}
    crawl_by = [f for f in CRAWL.owned() if is_set(f) and f not in read]
    if args.input is not None and not any(v.input for v in chosen):
        crawl_by.insert(0, "--input")
    selected = [v for v in VERBS if v in chosen or (v is CRAWL and (crawl_by or not chosen))]

    def name(v):
        return v.flag if v is not CRAWL else "/".join(crawl_by) or "a crawl"

    for i, a in enumerate(selected):
        for b in selected[i + 1:]:
            if b.flag not in a.companions and a.flag not in b.companions:
                kind = f" {a.kind} and" if a.kind else ""
                raise CliError(
                    f"{name(a)}{kind} cannot combine with {name(b)} — one verb per invocation"
                )
    for v in VERBS:
        for entry in v.owns:
            flags = entry.split("/")
            if not any(is_set(f) for f in flags):
                continue
            if entry in v.requires:
                alts = v.requires[entry]
                if any(is_set(f) for f in alts):
                    continue
            else:
                readers = [w for w in VERBS if set(flags) & set(w.reads())]
                if any(w in selected for w in readers):
                    continue
                alts = [w.flag for w in readers]
            word = "require" if len(flags) > 1 else "requires"
            raise CliError(f"{entry} {word} {_either(alts)}")
    for v in selected:
        if not all(is_set(f) for f in v.needs):
            raise CliError(f"{v.flag} requires {' AND '.join(v.needs)}")
        for f, others in v.excludes.items():
            if is_set(f) and any(is_set(o) for o in others):
                raise CliError(f"{'/'.join(others)} do not apply with {f}")
    no_input = [name(v) for v in selected if v.input and args.input is None]
    if no_input:
        raise CliError(
            f"{'/'.join(no_input)} cannot run without --input "
            "(crawls, ticks and one-shot passes need --input)"
        )
    for v in VERBS:
        for f, check in v.checks.items():
            if is_set(f) and (v in selected or f in v.owned()):
                parsed = check(f, value(f), args)
                if parsed is not None:
                    setattr(args, actions[f].dest, parsed)
    args.settings = _settings(args)
    return selected[0]


def main(argv: list[str] | None = None, spark=None) -> int:
    """CLI entry. ``spark``: optional externally-owned session (tests /
    embedding callers) — the CLI then neither creates nor stops it."""
    parser = build_parser()
    args = parser.parse_args(argv)
    try:
        verb = validate(args, parser)
    except CliError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2

    from pyspark.errors import AnalysisException

    from fscrawler_spark.session import get_spark

    rest_server = None
    owns_session = spark is None and verb.session
    # everything from the server start onward sits inside the try: a
    # get_spark failure (bad --master, port conflict) must not leak the
    # bound HTTP thread into the host process
    try:
        if args.rest_port is not None:
            from fscrawler_spark.rest import StatusServer

            rest_server = StatusServer(
                args.output,
                port=args.rest_port,
                # GET /table serves the publish target's metadata when one
                # is configured, else the output dir itself (if a table)
                table_root=args.publish_table,
            ).start()
            print(json.dumps({"rest": f"http://{rest_server.host}:{rest_server.port}"}))
        if owns_session:
            spark = get_spark(app="fscrawler-spark-cli", master=args.master)
        docs = _read_docs_table(spark, args.input) if verb.input == "docs" else None
        return verb.run(spark, args, docs)
    except (CliError, ValueError, FileNotFoundError, RuntimeError, AnalysisException) as e:
        # a table, spec or input found unusable at run time, or the
        # library's own refusal (SettingsMismatchError,
        # SnapshotIntegrityError, a bad view expression, ...)
        print(f"error: {e}", file=sys.stderr)
        return 2
    finally:
        if rest_server is not None:
            rest_server.stop()
        if owns_session and spark is not None:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
