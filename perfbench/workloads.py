"""The two workloads, and the curation probes a traced ``extract_cold``
run adds. Each workload is a closed loop of cycles driven by ``run.py``:
one client (the benchmark process) runs one cycle at a time.

A workload gives:

* ``prepare()``      seeded inputs, cached, and committed to the tables the
                     program reads, outside every timer;
* ``bootstrap()``    state a cycle needs, timed into ``setup_s``;
* ``before_cycle()`` untimed preparation (load generation, cleanup);
* ``cycle(span, probes)`` the timed unit of work; ``span`` wraps each call
                     into the program (a no-op when tracing is off), and
                     ``probes`` adds the read-only probes a traced cycle
                     makes between its calls;
* ``check(result)``  the output check of one cycle, outside the timer;
* ``final_check()``  the output check of the whole run;
* ``probe(tracer, when)`` the per-layer calls of a traced run, each forced
                     with a noop sink or a count under its own span;
* ``layer_metrics(spans, result)`` the per-layer metrics of a traced run.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import inputs


class CheckFailed(AssertionError):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    # untimed cycles after bootstrap. The first cycle of a session pays for
    # Spark's code generation, the Python workers' start and most of the
    # JIT; CPU per cycle keeps falling for several cycles after that
    warmup_cycles = 1
    # timed cycles at least, even past --seconds: while the JIT still
    # settles, a run that timed fewer cycles would read systematically
    # higher
    min_cycles = 1

    def __init__(self, spark, root: str, work: str, seed: int):
        self.spark = spark
        self.root = root
        self.work = os.path.join(work, self.name)
        self.seed = seed
        os.makedirs(self.work, exist_ok=True)

    def bootstrap(self) -> None:
        pass

    def before_cycle(self) -> None:
        pass

    def final_check(self) -> None:
        pass

    def probe(self, tracer, when: str) -> None:
        pass


class ExtractCold(Workload):
    """From-scratch ``run_extraction_job`` over seeded transcripts."""

    name = "extract_cold"
    n_turns = 20_000
    sample_rows = 400
    warmup_cycles = 2
    min_cycles = 3

    def prepare(self) -> None:
        from fscrawler_spark.config import ExtractSettings

        self.inp = inputs.transcripts(self.root, self.seed, self.n_turns)
        self.settings = ExtractSettings()
        exp = pq.read_table(self.inp["expected"])
        # a fixed sample: evenly spaced rows of the expected table
        step = max(1, exp.num_rows // self.sample_rows)
        self.sample = exp.take(list(range(0, exp.num_rows, step))).to_pylist()
        self.out = os.path.join(self.work, "out")

    def before_cycle(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def cycle(self, span, probes: bool = False) -> dict:
        from fscrawler_spark.plans.pipeline import run_extraction_job

        with span("plans.extraction_job"):
            return run_extraction_job(self.spark, self.inp["transcripts"], self.out, self.settings)

    def check(self, res: dict) -> None:
        _expect(res["status"] == "completed", f"job status {res['status']}")
        lineage = self.spark.read.parquet(os.path.join(self.out, "metrics"))
        rows_out = lineage.agg(F.sum("turn_count")).first()[0]
        _expect(rows_out == self.inp["n_turns"], f"rows out {rows_out} != rows in {self.inp['n_turns']}")
        keys = self.spark.createDataFrame(
            [(r["conv_id"], r["turn_idx"]) for r in self.sample], "conv_id string, turn_idx int"
        )
        got = {
            (r["conv_id"], r["turn_idx"]): r
            for r in self.spark.read.parquet(os.path.join(self.out, "docs"))
            .join(F.broadcast(keys), ["conv_id", "turn_idx"])
            .select("conv_id", "turn_idx", "extracted", "mime", "error")
            .collect()
        }
        _expect(len(got) == len(self.sample), f"sample rows found {len(got)} of {len(self.sample)}")
        for e in self.sample:
            g = got[(e["conv_id"], e["turn_idx"])]
            _expect(
                (g["extracted"], g["mime"], g["error"])
                == (e["expected_text"], e["expected_mime"], e["expected_error"]),
                f"turn {e['conv_id']}/{e['turn_idx']} differs from the expected table",
            )

    def probe(self, tracer, when: str) -> None:
        from fscrawler_spark.functions.extractors import extract
        from fscrawler_spark.functions.sniff import sniff_mime_col
        from fscrawler_spark.functions.udfs import limit_for, make_extract_udf
        from fscrawler_spark.operators.extract import extract_transcripts
        from fscrawler_spark.plans.pipeline import bucket_metrics
        from fscrawler_spark.sources.transcripts import read_transcripts

        path = self.inp["transcripts"]
        if when == "after":
            with tracer.span("plans.bucket_metrics"):
                bucket_metrics(self.spark.read.parquet(os.path.join(self.out, "docs")), "probe").collect()
            self.curation = Curation(self.spark, self.root, self.seed)
            self.curation.probe(tracer)
            return
        with tracer.span("sources.scan"):
            _noop(read_transcripts(self.spark, path))
        # the function probes read an in-memory copy, so the scan is not
        # counted in them
        src = read_transcripts(self.spark, path).cache()
        src.count()
        try:
            with tracer.span("functions.sniff"):
                _noop(src.select(sniff_mime_col(F.col("text"))))
            with tracer.span("functions.extract_udf"):
                _noop(src.select(make_extract_udf(self.settings)(F.col("text"))))
        finally:
            src.unpersist()
        texts = pq.read_table(path, columns=["text"]).column("text").to_pylist()
        with tracer.span("functions.extract_py"):
            for t in texts:
                extract(t, limit_for(self.settings, t))
        with tracer.span("operators.extract_plan"):
            _noop(extract_transcripts(read_transcripts(self.spark, path), self.settings))

    def layer_metrics(self, spans: dict, res: dict) -> dict:
        lin = (
            self.spark.read.parquet(os.path.join(self.out, "metrics"))
            .agg(*[F.sum(c).alias(c) for c in ("parse_failures", "span_count", "bytes_in", "bytes_out")])
            .first()
        )
        job = spans["plans.extraction_job"]
        return {
            "sources.scan_s": spans["sources.scan"]["self_s"],
            "functions.sniff_s": spans["functions.sniff"]["self_s"],
            "functions.extract_udf_s": spans["functions.extract_udf"]["self_s"],
            "functions.extract_py_turns_per_s": self.inp["n_turns"] / spans["functions.extract_py"]["self_s"],
            "functions.parse_failures": lin["parse_failures"],
            "functions.span_count": lin["span_count"],
            "operators.extract_plan_s": spans["operators.extract_plan"]["self_s"],
            # the salted bucket writes are the heaviest multi-task stage
            "operators.extract_task_skew": job["task_skew"],
            "plans.extraction_job_self_s": job["self_s"] - spans["operators.extract_plan"]["self_s"],
            "plans.bucket_metrics_s": spans["plans.bucket_metrics"]["self_s"],
            "plans.extract_jobs": job["jobs"],
            "plans.extract_tasks": job["tasks"],
            "plans.extract_shuffle_bytes": job["shuffle_bytes"],
            "plans.bytes_out_per_byte_in": lin["bytes_out"] / lin["bytes_in"],
            **self.curation.layer_metrics(spans),
        }


def _view(df):
    """The derived view the tick keeps in sync: a filtered projection."""
    return df.filter(F.col("error").isNull()).select(
        "conv_id", "turn_idx", F.length("extracted").alias("n_chars")
    )


def _hash_agg(df, cols: list[str]) -> tuple:
    """Order-independent fingerprint of a table: row count, the sum of
    the low 32 bits of each row's hash (cannot overflow), and the XOR of
    the full hashes."""
    h = F.xxhash64(*cols)
    return tuple(df.agg(F.count(F.lit(1)), F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))), F.bit_xor(h)).first())


class TickMaintain(Workload):
    """Snapshot-table steady state: each cycle, one input file is
    rewritten (untimed load generation), then the timed cycle runs the
    manifest-diff tick with publish, the derived-view sync, and expiry of
    the three tables the cycle grew."""

    name = "tick_maintain"
    n_turns = 8_000
    n_files = 8
    warmup_cycles = 2
    min_cycles = 2
    # shape of every timed tick's delta, over the victim file's rows in
    # key order: EDIT_EVERY-th rows change text, and the two groups
    # GROUP_A / GROUP_B take turns being deleted and re-inserted
    EDIT_EVERY, GROUP_EVERY = 10, 20

    def prepare(self) -> None:
        """Seeded input, committed as a snapshot table of ``n_files``
        conv-clustered files, and the two rewrites of its victim file."""
        from fscrawler_spark.config import ExtractSettings
        from fscrawler_spark.plans.snapshot_table import SnapshotTable

        self.inp = inputs.transcripts(self.root, self.seed, self.n_turns)
        self.settings = ExtractSettings()
        self.in_root = os.path.join(self.work, "input")
        self.out = os.path.join(self.work, "out")
        self.pub_root = os.path.join(self.work, "published")
        self.view_root = os.path.join(self.work, "view")
        # the committed input table is cached per seed and size too, and
        # each run starts from a fresh copy of it
        cached = os.path.join(inputs.cache_root(self.root), f"snapshot-s{self.seed}-n{self.n_turns}-f{self.n_files}")
        if not os.path.isdir(cached):
            tmp = f"{cached}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            SnapshotTable(tmp).overwrite(
                self.spark,
                self.spark.read.parquet(self.inp["transcripts"]).repartitionByRange(
                    self.n_files, "conv_id", "turn_idx"
                ),
            )
            try:
                os.rename(tmp, cached)
            except OSError:  # another run finished the same entry first
                shutil.rmtree(tmp, ignore_errors=True)
        shutil.copytree(cached, self.in_root)
        self.stbl = SnapshotTable(self.in_root)
        self._make_versions()

    def bootstrap(self) -> None:
        from fscrawler_spark.plans.derived import sync_derived_table
        from fscrawler_spark.plans.pipeline import run_extraction_job
        from fscrawler_spark.plans.snapshot_table import SnapshotTable

        run_extraction_job(
            self.spark, f"snap:{self.in_root}", self.out, self.settings, publish_table=self.pub_root
        )
        self.pub = SnapshotTable(self.pub_root)
        sync_derived_table(self.spark, self.pub, self.view_root, _view)
        self.view = SnapshotTable(self.view_root)

    def _make_versions(self) -> None:
        """Two rewrites X and Y of the victim file (the one holding the
        smallest conv_id). X drops GROUP_A, Y drops GROUP_B, and each tags
        the edited rows differently, so every X<->Y tick changes and
        deletes the same number of rows."""
        entry = min(self.stbl.files(), key=lambda e: e.stats["conv_id"]["min"])
        self.victim = entry.path
        orig = pq.read_table(os.path.join(self.in_root, entry.path)).sort_by(
            [("conv_id", "ascending"), ("turn_idx", "ascending")]
        )
        n = orig.num_rows
        ga = [i for i in range(n) if i % self.GROUP_EVERY == 7]
        gb = [i for i in range(n) if i % self.GROUP_EVERY == 17][: len(ga)]
        ga = ga[: len(gb)]
        self.versions = {"orig": orig}
        for tag, drop in (("X", set(ga)), ("Y", set(gb))):
            texts = orig.column("text").to_pylist()
            for i in range(0, n, self.EDIT_EVERY):
                if texts[i] is not None:
                    texts[i] = f"{texts[i]} [rev {tag}]"
            t = orig.set_column(orig.schema.get_field_index("text"), "text", pa.array(texts, pa.string()))
            self.versions[tag] = t.take([i for i in range(n) if i not in drop])
        self.version_paths = {}
        for tag in ("X", "Y"):
            p = os.path.join(self.work, f"victim-{tag}.parquet")
            pq.write_table(self.versions[tag], p, coerce_timestamps="us", allow_truncated_timestamps=True)
            self.version_paths[tag] = p
        self.current = "orig"

    @staticmethod
    def _delta(old: pa.Table, new: pa.Table) -> tuple[int, int]:
        def keyed(t):
            return {(c, i): x for c, i, x in zip(t.column("conv_id").to_pylist(),
                                                 t.column("turn_idx").to_pylist(),
                                                 t.column("text").to_pylist())}

        o, n = keyed(old), keyed(new)
        changed = sum(1 for k, v in n.items() if k not in o or o[k] != v)
        return changed, len(o.keys() - n.keys())

    def before_cycle(self) -> None:
        nxt = "Y" if self.current == "X" else "X"
        before = {e.path for e in self.stbl.files()}
        self.stbl.replace(
            self.spark, [self.victim], self.spark.read.parquet(self.version_paths[nxt]).coalesce(1)
        )
        (self.victim,) = {e.path for e in self.stbl.files()} - before
        self.planted = self._delta(self.versions[self.current], self.versions[nxt])
        self.current = nxt
        self.pub_before = self.pub.current_id()

    def cycle(self, span, probes: bool = False) -> dict:
        from fscrawler_spark.plans.derived import sync_derived_table
        from fscrawler_spark.plans.pipeline import run_incremental_update

        with span("plans.incremental_update"):
            tick = run_incremental_update(
                self.spark, f"snap:{self.in_root}", self.out, self.settings,
                publish_table=self.pub_root,
            )
        if probes:
            # read-only probe of the changelog the sync is about to consume
            with span("plans.read_changes") as rec:
                rec["probe"] = True
                _noop(self.pub.read_changes(self.spark, self.pub_before, self.pub.current_id()))
        with span("plans.derived_sync"):
            sync = sync_derived_table(self.spark, self.pub, self.view_root, _view)
        with span("plans.expire"):
            for t in (self.stbl, self.pub, self.view):
                t.expire_unreferenced(1)
        return {"tick": tick, "sync": sync}

    def check(self, res: dict) -> None:
        tick, sync = res["tick"], res["sync"]
        _expect(tick["layout"] == "snapshot-diff", f"tick layout {tick['layout']}")
        _expect((tick["changed"], tick["deleted"]) == self.planted,
                f"tick changed/deleted {(tick['changed'], tick['deleted'])} != planted {self.planted}")
        _expect(tick["published"]["mode"] == "delta", f"publish mode {tick['published']['mode']}")
        _expect(sync["mode"] == "delta", f"view sync mode {sync['mode']}")

    def final_check(self) -> None:
        from fscrawler_spark.operators.extract import extract_transcripts
        from fscrawler_spark.sources.transcripts import read_transcripts

        cols = ["conv_id", "turn_idx", "mime", "extracted", "error", "part_bucket"]
        fresh = extract_transcripts(read_transcripts(self.spark, f"snap:{self.in_root}"), self.settings)
        docs = self.spark.read.parquet(os.path.join(self.out, "docs"))
        _expect(_hash_agg(docs, cols) == _hash_agg(fresh, cols),
                "docs table differs from a fresh extraction of the final input")
        vcols = ["conv_id", "turn_idx", "n_chars"]
        _expect(_hash_agg(self.view.read(self.spark), vcols) == _hash_agg(_view(self.pub.read(self.spark)), vcols),
                "view differs from the transform of the published table")

    def probe(self, tracer, when: str) -> None:
        from fscrawler_spark.operators.incremental import snapshot_file_delta
        from fscrawler_spark.sources.transcripts import read_transcripts

        if when != "before":
            return
        prev, cur = self.stbl.snapshot_ids()[-2:]
        with tracer.span("plans.snapshot_diff"):
            d = self.stbl.diff(prev, cur)
        with tracer.span("operators.snapshot_file_delta"):
            _noop(snapshot_file_delta(self.stbl.read_entries(self.spark, d["removed"], prev),
                                      self.stbl.read_entries(self.spark, d["added"], cur)))
        with tracer.span("sources.scan"):
            _noop(read_transcripts(self.spark, f"snap:{self.in_root}"))

    def layer_metrics(self, spans: dict, res: dict) -> dict:
        tick, sync = res["tick"], res["sync"]
        upd = spans["plans.incremental_update"]
        return {
            "sources.scan_s": spans["sources.scan"]["self_s"],
            "operators.snapshot_file_delta_s": spans["operators.snapshot_file_delta"]["self_s"],
            "plans.snapshot_diff_s": spans["plans.snapshot_diff"]["self_s"],
            "plans.incremental_update_s": upd["self_s"],
            "plans.read_changes_s": spans["plans.read_changes"]["self_s"],
            "plans.derived_sync_s": spans["plans.derived_sync"]["self_s"],
            "plans.expire_s": spans["plans.expire"]["self_s"],
            "plans.tick_jobs": upd["jobs"],
            "plans.sync_jobs": spans["plans.derived_sync"]["jobs"],
            "plans.tick_shuffle_bytes": upd["shuffle_bytes"],
            "plans.input_files_read_ratio": tick["input_files_read"] / len(self.stbl.files()),
            "plans.out_files_rewritten_ratio": tick["published"]["files_rewritten"] / len(self.pub.files()),
            "plans.view_files_rewritten_ratio": sync["files_rewritten"] / len(self.view.files()),
            "plans.turns_reextracted": tick["changed"],
        }


class Curation:
    """The curation layers, traced as probes of ``extract_cold``: near-dup
    clustering stage by stage, exact-substring flags and the word-LM
    perplexity split, over a seeded docs table with planted exact
    duplicates, near-duplicates and one hot gram. They are not a timed
    workload of their own (see README.md)."""

    n_docs = 4_000
    near_recall_min = 0.8  # share of planted near-duplicate pairs that must cluster
    threshold = 0.8
    min_len = 50
    max_bucket = 1000  # lsh_candidate_pairs' default cap
    spans = ("functions.minhash", "functions.lsh_candidates", "functions.verify", "functions.cc",
             "functions.exact_substr", "functions.word_lm_train", "functions.ppl_score")

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.inp = inputs.curate_docs(root, seed, self.n_docs)

    def probe(self, tracer) -> None:
        from fscrawler_spark.functions import dedup
        from fscrawler_spark.functions.exact_substr import duplicate_span_flags
        from fscrawler_spark.functions.lm_quality import perplexity_buckets, train_word_lm
        from fscrawler_spark.session import materialize

        df = self.spark.read.parquet(self.inp["docs"])
        # each near-dup stage is materialized so the next one does not
        # recompute it
        with tracer.span("functions.minhash"):
            sigs = materialize(dedup.minhash_signatures_fast(df, id_col="doc_id"))
        with tracer.span("functions.lsh_candidates"):
            cands = materialize(dedup.lsh_candidate_pairs(sigs, max_bucket=self.max_bucket))
        with tracer.span("functions.verify"):
            verified = materialize(dedup.verify_candidates(df, cands, id_col="doc_id", threshold=self.threshold))
        with tracer.span("functions.cc"):
            clusters = dedup.connected_components(verified).collect()
        with tracer.span("functions.exact_substr"):
            flagged = duplicate_span_flags(df, min_len=self.min_len).select("doc_id").collect()
        with tracer.span("functions.word_lm_train"):
            lm = train_word_lm(df)
        with tracer.span("functions.ppl_score"):
            buckets = perplexity_buckets(df, lm).groupBy("ppl_bucket").count().collect()
        self.counts = {
            "candidate_pairs": cands.count(),
            "verified_pairs": verified.count(),
            "bucket_rows_capped": dedup.lsh_bucket_stats(sigs)
            .filter(F.col("n") > self.max_bucket)
            .agg(F.coalesce(F.sum("n"), F.lit(0)))
            .first()[0],
        }
        self.check({r["id"]: r["cluster_id"] for r in clusters}, {r["doc_id"] for r in flagged},
                   {r["ppl_bucket"]: r["count"] for r in buckets})

    def check(self, clusters: dict, flagged: set, buckets: dict) -> None:
        for a, b in self.inp["exact_pairs"]:
            _expect(a in clusters and clusters.get(a) == clusters.get(b),
                    f"exact duplicates {a},{b} not in one cluster")
        near = self.inp["near_pairs"]
        hit = sum(1 for a, b in near if a in clusters and clusters.get(a) == clusters.get(b))
        _expect(hit >= self.near_recall_min * len(near), f"near-dup recall {hit}/{len(near)}")
        missing = set(self.inp["hot_docs"]) - flagged
        _expect(not missing, f"{len(missing)} hot-gram docs not flagged")
        _expect(sum(buckets.values()) == self.inp["n_docs"], "perplexity buckets lost docs")

    def layer_metrics(self, spans: dict) -> dict:
        c = self.counts
        return {
            "functions.minhash_s": spans["functions.minhash"]["self_s"],
            "functions.lsh_candidates_s": spans["functions.lsh_candidates"]["self_s"],
            "functions.verify_s": spans["functions.verify"]["self_s"],
            "functions.cc_s": spans["functions.cc"]["self_s"],
            "functions.exact_substr_s": spans["functions.exact_substr"]["self_s"],
            "functions.word_lm_train_s": spans["functions.word_lm_train"]["self_s"],
            "functions.ppl_score_s": spans["functions.ppl_score"]["self_s"],
            "functions.candidate_pairs": c["candidate_pairs"],
            "functions.verified_pairs": c["verified_pairs"],
            "functions.verify_yield": c["verified_pairs"] / c["candidate_pairs"] if c["candidate_pairs"] else 0.0,
            "functions.cc_jobs": spans["functions.cc"]["jobs"],
            "functions.bucket_rows_capped": c["bucket_rows_capped"],
            "functions.exact_substr_task_skew": spans["functions.exact_substr"]["task_skew"],
            "functions.curate_shuffle_bytes": sum(spans[n]["shuffle_bytes"] for n in self.spans),
            "functions.curate_spill_bytes": sum(spans[n]["spill_bytes"] for n in self.spans),
        }


WORKLOADS = {w.name: w for w in (ExtractCold, TickMaintain)}
