"""Round 4 smaller items: ANN count-cache amortization, REST
GET /checkpoint, standard-analyzer Match parity."""

import json
import os
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.config import ExtractSettings
from fscrawler_spark.functions import embeddings
from fscrawler_spark.plans.pipeline import run_extraction_job
from fscrawler_spark.rest import StatusServer


def _http(method: str, url: str) -> dict:
    req = urllib.request.Request(url, method=method)
    with urllib.request.urlopen(req, timeout=5) as r:
        return json.loads(r.read())


# --- ANN plan-time count amortization --------------------------------------


def test_second_ann_bits_resolution_triggers_no_count_job(spark, monkeypatch):
    """lsh_topk + cosine_near_dup_pairs over the SAME corpus plan must
    pay ONE cardinality count (a full scan at 100 TB),
    not one each."""
    corpus = spark.range(0, 500).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(8)), lambda i: (F.col("id") % 7 + i).cast("float")).alias(
            "embedding"
        ),
    )
    embeddings.clear_count_cache()
    calls = {"n": 0}
    cls = type(corpus)  # the CONCRETE class (pyspark 4 subclasses DataFrame)
    orig = cls.count

    def counting(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(cls, "count", counting)
    b1 = embeddings._resolve_bits(corpus, None, 100, None, "op1")
    b2 = embeddings._resolve_bits(corpus, None, 100, None, "op2")
    # a semantically identical plan built AGAIN (new DataFrame object)
    corpus2 = spark.range(0, 500).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(8)), lambda i: (F.col("id") % 7 + i).cast("float")).alias(
            "embedding"
        ),
    )
    b3 = embeddings._resolve_bits(corpus2, None, 100, None, "op3")
    assert b1 == b2 == b3
    assert calls["n"] == 1
    # explicit corpus_count still bypasses both the cache and the job
    embeddings._resolve_bits(corpus, None, 100, 500, "op4")
    assert calls["n"] == 1
    # cache invalidation restores the count job
    embeddings.clear_count_cache()
    embeddings._resolve_bits(corpus, None, 100, None, "op5")
    assert calls["n"] == 2


# --- REST GET /checkpoint ---------------------------------------------------


def test_rest_checkpoint_route_serves_manifest(spark, transcripts_dir, tmp_path):
    out = str(tmp_path / "job")
    run_extraction_job(
        spark,
        os.path.join(transcripts_dir, "transcripts.parquet"),
        out,
        ExtractSettings(num_buckets=4),
    )
    with StatusServer(out, port=0) as srv:
        base = f"http://127.0.0.1:{srv.port}"
        got = _http("GET", f"{base}/checkpoint")
        with open(os.path.join(out, "_checkpoint.json")) as f:
            assert got == json.load(f)
        assert len(got["completed"]) == 4 and got["state"] == "COMPLETED"
        # alias route serves the same object
        assert _http("GET", f"{base}/_crawler/checkpoint") == got


def test_rest_checkpoint_404_before_first_run(tmp_path):
    out = str(tmp_path / "empty")
    os.makedirs(out)
    with StatusServer(out, port=0) as srv:
        with pytest.raises(urllib.error.HTTPError) as ei:
            _http("GET", f"http://127.0.0.1:{srv.port}/checkpoint")
        assert ei.value.code == 404


# --- per-output job lock ----------------------------------------------------


def test_job_lock_blocks_live_holder_and_breaks_stale(spark, transcripts_dir, tmp_path):
    import json as _json
    import subprocess

    from fscrawler_spark.plans.pipeline import run_incremental_update

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "locked")
    os.makedirs(out)
    # live FOREIGN holder: a real subprocess we keep alive (never pid 1 —
    # in a container pytest itself can be pid 1)
    other = subprocess.Popen(["sleep", "300"])
    try:
        with open(os.path.join(out, "_job.lock"), "w") as f:
            _json.dump({"pid": other.pid, "what": "other", "started": 0}, f)
        with pytest.raises(RuntimeError, match="another job"):
            run_extraction_job(spark, inp, out, ExtractSettings(num_buckets=4))
        # dry_run never touches the lock (but needs a completed table —
        # checked again below once one exists)
        os.remove(os.path.join(out, "_job.lock"))
        # stale holder (dead pid) -> broken, job runs, lock gone after
        with open(os.path.join(out, "_job.lock"), "w") as f:
            _json.dump({"pid": 2 ** 22 + 12345, "what": "crashed", "started": 0}, f)
        res = run_extraction_job(spark, inp, out, ExtractSettings(num_buckets=4))
        assert res["status"] == "completed"
        assert not os.path.exists(os.path.join(out, "_job.lock"))
        # a real tick refuses a live foreign lock; the read-only preview ignores it
        with open(os.path.join(out, "_job.lock"), "w") as f:
            _json.dump({"pid": other.pid, "what": "other", "started": 0}, f)
        preview = run_incremental_update(
            spark, inp, out, ExtractSettings(num_buckets=4), dry_run=True
        )
        assert preview["dry_run"] is True
        with pytest.raises(RuntimeError, match="another job"):
            run_incremental_update(spark, inp, out, ExtractSettings(num_buckets=4))
        os.remove(os.path.join(out, "_job.lock"))
    finally:
        other.kill()
        other.wait()


def test_job_lock_refuses_second_thread_and_guards_release(tmp_path):
    """Same-process contention is arbitrated by the registry (the pid
    file cannot see threads), and release() removes only its OWN lock."""
    import json as _json

    from fscrawler_spark.plans.pipeline import _JobLock

    out = str(tmp_path / "d")
    a = _JobLock(out, "job-a")
    try:
        with pytest.raises(RuntimeError, match="THIS process"):
            _JobLock(out, "job-b")  # same thread or another: registry refuses
        # a different SPELLING of the same dir must collide too (realpath
        # keying) — else the same-pid-is-stale rule would break a live
        # sibling's lock
        with pytest.raises(RuntimeError, match="THIS process"):
            _JobLock(os.path.join(str(tmp_path), ".", "d"), "job-b2")
    finally:
        a.release()
    assert not os.path.exists(os.path.join(out, "_job.lock"))
    # release() of a lock broken-and-replaced must NOT delete the new one
    b = _JobLock(out, "job-b")
    b._unregister()  # simulate operator force-breaking b's registry view
    os.remove(b.path)
    c = _JobLock(out, "job-c")
    b.release()  # b's token no longer matches -> must leave c's file alone
    assert os.path.exists(c.path)
    with open(c.path) as f:
        assert _json.load(f)["what"] == "job-c"
    c.release()


# --- standard-analyzer Match parity ----------------------------------------


def test_match_strips_punctuation_like_es_standard_analyzer(spark):
    from fscrawler_spark.operators.search import Match, analyze_terms

    df = spark.createDataFrame(
        [
            (1, "Say hello! to the world."),
            (2, "no greeting here"),
            (3, "HELLO?!?"),
            (4, "the hello-world program"),
        ],
        "id int, text string",
    )
    hits = lambda q: {r["id"] for r in df.filter(Match("text", q).to_column()).collect()}
    # punctuation in the DOCUMENT never blocks a hit
    assert hits("hello") == {1, 3, 4}
    # punctuation in the QUERY is stripped by analysis
    assert hits("hello!") == {1, 3, 4}
    assert analyze_terms("Hello, World!") == ["hello", "world"]
    # all-punctuation analyzes to zero terms -> matches nothing
    assert hits("?!...") == set()


def test_match_tokenization_parity_with_duckdb_twin(spark):
    """The engine and the DuckDB oracle must tokenize identically on
    punctuation/unicode — the exact divergence the old whitespace
    analyzer had."""
    import duckdb

    from fscrawler_spark.operators.search import ANALYZER_SPLIT

    texts = [
        "Say hello! to the world.",
        "comma,separated,words",
        "wörld — ünïcode; tests",
        "under_score and hyphen-ated",
        "  leading/trailing  ",
    ]
    sdf = spark.createDataFrame([(t,) for t in texts], "text string").select(
        F.split(F.lower(F.col("text")), ANALYZER_SPLIT).alias("toks")
    )
    spark_toks = [[t for t in r["toks"] if t] for r in sdf.collect()]
    duck = duckdb.sql(
        "SELECT string_split_regex(lower(t), '[^\\p{L}\\p{N}]+') FROM (SELECT unnest(?) AS t)",
        params=[texts],
    ).fetchall()
    duck_toks = [[t for t in row[0] if t] for row in duck]
    assert spark_toks == duck_toks


def test_analyzer_three_way_parity_on_random_unicode(spark):
    """analyze_terms (Python, query side) vs ANALYZER_SPLIT (Java regex,
    column side) vs the DuckDB RE2 twin on 300 seeded random strings
    mixing ascii, punctuation, unicode letters, digits and whitespace —
    the three tokenizers must agree exactly or match() and its oracle
    silently drift."""
    import random

    import duckdb

    from fscrawler_spark.operators.search import ANALYZER_SPLIT, analyze_terms

    rng = random.Random(20260817)
    alphabet = (
        "abc XYZ 012 \t\n .,;:!?()[]{}<>/\\'\"-_=+*&^%$#@~`|"
        "äöüßéèêñç 漢字 кирилл θεσ ॐ ｱｲｳ 🙂—…·«»"
    )
    cases = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40))) for _ in range(300)
    ]
    sdf = spark.createDataFrame([(t,) for t in cases], "text string").select(
        F.split(F.lower(F.col("text")), ANALYZER_SPLIT).alias("toks")
    )
    spark_toks = [[t for t in r["toks"] if t] for r in sdf.collect()]
    duck = duckdb.sql(
        "SELECT string_split_regex(lower(t), '[^\\p{L}\\p{N}]+') FROM (SELECT unnest(?) AS t)",
        params=[cases],
    ).fetchall()
    duck_toks = [[t for t in row[0] if t] for row in duck]
    py_toks = [analyze_terms(t) for t in cases]
    for i, (s, d, p) in enumerate(zip(spark_toks, duck_toks, py_toks)):
        assert s == d == p, f"case {i}: {cases[i]!r}\nspark={s}\nduck={d}\npy={p}"


def test_highlighter_uses_analyzed_terms(spark):
    from fscrawler_spark.operators.search import Match, SearchRequest, execute_search

    df = spark.createDataFrame([(1, "big Data rocks")], "doc_id int, text string")
    req = SearchRequest(
        query=Match("text", "data!"), size=10, fields=("doc_id",), highlight=("text",)
    )
    rows = execute_search(df, req).collect()
    assert rows and rows[0]["text_highlight"] == "big <em>Data</em> rocks"


# --- widen: parallelism floor for CPU-amplified operators -------------------


def test_widen_is_noop_on_already_wide_plans(spark):
    """An input with >= defaultParallelism partitions (the 100-TB scan
    case) must pass through UNCHANGED — no round-robin Exchange added."""
    from fscrawler_spark.session import widen

    target = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    df = spark.range(0, 1000, 1, numPartitions=target)  # exchange-free AND wide
    assert df.rdd.getNumPartitions() >= target
    out = widen(df)
    assert "RoundRobinPartitioning" not in out._jdf.queryExecution().executedPlan().toString()


def test_widen_never_executes_shuffle_derived_inputs(spark):
    """The AQE sharp edge: df.rdd on a plan containing an Exchange
    EXECUTES every upstream shuffle stage at plan time (AQE materializes
    query stages to pick the final plan) and the work is discarded.
    widen must therefore skip the probe for shuffle-derived inputs —
    their parallelism already comes from shuffle_partitions/AQE, never
    byte-sized input splits — running ZERO jobs and returning the plan
    untouched."""
    from fscrawler_spark.session import widen

    df = spark.range(500).withColumn("k", F.col("id") % 7)
    agg = df.groupBy("k").count()
    joined = df.join(agg, "k")

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    out = widen(joined)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "widen executed upstream stages at plan time"
    assert out is joined


def test_widen_lifts_narrow_scans_and_preserves_values(spark, tmp_path):
    """A single-file parquet scan plans 1-2 splits; widen must lift it to
    the session's parallelism, and the minhash signatures computed over
    the widened plan must be IDENTICAL to a 1-partition compute (the
    explode+min aggregate is partitioning-insensitive)."""
    from fscrawler_spark.functions import dedup
    from fscrawler_spark.session import widen

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 5} tail words here") for i in range(200)],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(p)
    narrow = spark.read.parquet(p)
    target = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    assert narrow.rdd.getNumPartitions() < target
    assert widen(narrow).rdd.getNumPartitions() == target
    # value invariance: signatures via the library (internally widened)
    # == signatures computed on a coalesce(1) plan with widen disabled
    lib = {
        (r.id, tuple(r.sig))
        for r in dedup.minhash_signatures_fast(narrow, num_hashes=8).collect()
    }
    import fscrawler_spark.functions.dedup as dmod

    orig = dmod.widen_slim
    dmod.widen_slim = lambda df, idc, txtc: df.select(idc, txtc).coalesce(1)
    try:
        one = {
            (r.id, tuple(r.sig))
            for r in dedup.minhash_signatures_fast(narrow, num_hashes=8).collect()
        }
    finally:
        dmod.widen_slim = orig
    assert lib == one
