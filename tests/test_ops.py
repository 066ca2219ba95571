"""Tests for incremental joins, text analysis, dedup, embeddings and
the streaming job."""

import os

from pyspark.sql import functions as F

from fscrawler_spark.functions import dedup, embeddings, text_analysis
from fscrawler_spark.operators import incremental

SF_DIR = "/root/testdata/sf0.001"


def docs_df(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def emb_df(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


# --- incremental (J1/J2/J3) ---------------------------------------------------

def test_changed_since_watermark(spark):
    df = spark.createDataFrame(
        [("c", 0, "2024-01-01 00:00:05"), ("c", 1, "2024-01-01 00:00:00")],
        "conv_id string, turn_idx int, ts_s string",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    out = incremental.changed_since(df, "2024-01-01 00:00:03")
    # 2s slack: keeps ts > 00:00:01 -> only turn 0... turn 1 at :00 dropped
    assert [r["turn_idx"] for r in out.collect()] == [0]


def test_changed_vs_snapshot(spark):
    cur = spark.createDataFrame(
        [("c", 0, "same"), ("c", 1, "edited"), ("c", 2, "new")],
        "conv_id string, turn_idx int, text string",
    )
    prev = spark.createDataFrame(
        [("c", 0, "same"), ("c", 1, "original")],
        "conv_id string, turn_idx int, text string",
    ).select(
        "conv_id",
        "turn_idx",
        F.struct(F.sha2("text", 256).alias("checksum")).alias("file"),
    )
    out = incremental.changed_vs_snapshot(cur, prev)
    assert sorted(r["turn_idx"] for r in out.collect()) == [1, 2]


def test_deleted_keys(spark):
    prev = spark.createDataFrame([("c", 0), ("c", 1), ("d", 0)], "conv_id string, turn_idx int")
    cur = spark.createDataFrame([("c", 0)], "conv_id string, turn_idx int")
    out = incremental.deleted_keys(prev, cur)
    assert sorted((r["conv_id"], r["turn_idx"]) for r in out.collect()) == [("c", 1), ("d", 0)]


def test_deep_merge_json_docutils_semantics():
    """Golden cases mirroring DocUtils.merge (beans/DocUtils.java:125-148)."""
    from fscrawler_spark.operators.incremental import deep_merge_json

    tags = {
        "external": {"tenantId": 23, "arr": [{"a": 1}, {"a": 2}]},
        "meta": {"title": "forced"},
    }
    doc = {
        "content": "This is a test",
        "external": {"docOnly": "x", "arr": [{"a": 9, "b": 9}, {"a": 9}, {"a": 3}]},
        "meta": {"title": "doc title", "author": "me"},
    }
    out = deep_merge_json(tags, doc)
    assert out["content"] == "This is a test"          # doc-only copied
    assert out["external"]["tenantId"] == 23           # tags-only kept
    assert out["external"]["docOnly"] == "x"           # nested doc-only copied
    assert out["meta"]["title"] == "forced"            # scalar conflict: tags win
    assert out["meta"]["author"] == "me"
    # arrays: element-wise over the TAGS array length (extra doc elems dropped)
    assert out["external"]["arr"] == [{"a": 1, "b": 9}, {"a": 2}]


def test_merge_tags_deep_udf(spark):
    docs = spark.createDataFrame(
        [("c", '{"k": 1, "nested": {"x": "doc"}}'), ("d", None), ("e", '{"z": 0}')],
        "conv_id string, external string",
    )
    tags = spark.createDataFrame(
        [("c", '{"nested": {"x": "tag", "y": 2}}'), ("d", '{"fresh": true}')],
        "conv_id string, tags_json string",
    )
    out = {
        r["conv_id"]: r["external"]
        for r in incremental.merge_tags_deep(docs, tags).collect()
    }
    import json

    assert json.loads(out["c"]) == {"k": 1, "nested": {"x": "tag", "y": 2}}
    assert json.loads(out["d"]) == {"fresh": True}  # null doc side -> tags
    assert out["e"] == '{"z": 0}'  # no tags row -> untouched


def test_merge_tags_deep_empty_tags_passthrough(spark):
    """DocUtils.getMergedDoc early-returns the doc unchanged for empty
    tags — byte-identical passthrough, no re-serialization."""
    original = '{"b": 1,   "a": "é"}'  # odd spacing + unicode preserved
    docs = spark.createDataFrame([("c", original)], "conv_id string, external string")
    tags = spark.createDataFrame([("c", "{}")], "conv_id string, tags_json string")
    out = incremental.merge_tags_deep(docs, tags).collect()[0]["external"]
    assert out == original


# --- text analysis -------------------------------------------------------------

def test_token_count_and_quality(spark):
    df = spark.createDataFrame([("the cat sat on a mat",), ("",), ("   ",)], "text string")
    rows = df.select(
        text_analysis.token_count(F.col("text")).alias("n"),
        text_analysis.quality_score(F.col("text")).alias("q"),
    ).collect()
    assert [r["n"] for r in rows] == [6, 0, 0]
    assert 0.0 <= rows[0]["q"] <= 1.0


def test_langid_udf(spark):
    df = spark.createDataFrame(
        [
            ("the quick fox is in the barn and it is fine",),
            ("el perro y la casa de los gatos en un lugar",),
            ("der hund und die katze ist in den garten mit",),
        ],
        "text string",
    )
    udf_got = [r[0] for r in df.select(text_analysis.langid_udf()(F.col("text"))).collect()]
    assert udf_got == ["en", "es", "de"]


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame([("b a c",), ("c b a",), ("a x y",)], "text string")
    fps = [r[0] for r in df.select(text_analysis.fingerprint(F.col("text"))).collect()]
    assert fps[0] == fps[1] != fps[2]


# --- dedup ----------------------------------------------------------------------

def dup_corpus(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (2, "The quick  brown fox jumps over the lazy dog near the river bank today"),  # exact dup (normalized)
            (3, "the quick brown fox jumps over the lazy dog near the river bank yesterday"),  # near dup
            (4, "completely different text about spark dataframe partition shuffle joins"),
            (5, "another unrelated document mentioning broadcast hash aggregation stages"),
        ],
        "doc_id long, text string",
    )


def test_exact_duplicates(spark):
    out = dedup.exact_duplicates(dup_corpus(spark)).collect()
    assert len(out) == 1
    assert out[0]["dup_count"] == 2 and out[0]["keeper_id"] == 1


def test_jaccard_pairs(spark):
    out = dedup.jaccard_pairs(dup_corpus(spark), threshold=0.5).collect()
    pairs = sorted((r["id_a"], r["id_b"]) for r in out)
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert all(a in (1, 2, 3) and b in (1, 2, 3) for a, b in pairs)


def test_minhash_lsh_finds_near_dups(spark):
    sigs = dedup.minhash_signatures(dup_corpus(spark), num_hashes=16)
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=16, bands=8).collect()
    got = sorted((r["id_a"], r["id_b"]) for r in pairs)
    assert (1, 2) in got  # exact dups always collide
    # near-dup 1-3 should collide in at least one band with 8 bands
    assert (1, 3) in got or (2, 3) in got
    assert (4, 5) not in got


def test_minhash_fast_finds_near_dups(spark):
    sigs = dedup.minhash_signatures_fast(dup_corpus(spark), num_hashes=16)
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=16, bands=8).collect()
    got = sorted((r["id_a"], r["id_b"]) for r in pairs)
    assert (1, 2) in got
    assert (1, 3) in got or (2, 3) in got
    assert (4, 5) not in got


def test_near_dup_pipeline_clusters(spark):
    corpus = dup_corpus(spark)
    out = {r["id"]: (r["cluster_id"], r["is_keeper"]) for r in dedup.near_dup_pipeline(corpus, threshold=0.5).collect()}
    # docs 1,2,3 form one near-dup cluster with keeper 1; 4,5 are not dups
    assert out[1] == (1, True)
    assert out[2][0] == 1 and not out[2][1]
    assert out[3][0] == 1 and not out[3][1]
    assert 4 not in out and 5 not in out


def test_connected_components_chain(spark):
    # a chain a-b, b-c, c-d must collapse to one cluster rooted at min id
    pairs = spark.createDataFrame(
        [(10, 20, 0.9), (20, 30, 0.9), (30, 40, 0.9), (100, 200, 0.9)],
        "id_a long, id_b long, jaccard double",
    )
    out = {r["id"]: r["cluster_id"] for r in dedup.connected_components(pairs).collect()}
    assert out == {10: 10, 20: 10, 30: 10, 40: 10, 100: 100, 200: 100}


def test_simhash_near_dups_close(spark):
    out = {r["id"]: r["simhash"] for r in dedup.simhash(dup_corpus(spark)).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(out[1], out[2]) == 0  # normalized-identical
    assert ham(out[1], out[3]) <= 6
    assert ham(out[1], out[4]) > 6


# --- embeddings ------------------------------------------------------------------

def test_brute_force_topk(spark):
    emb = emb_df(spark)
    q = emb.filter(F.col("vec_id") < 3)
    out = embeddings.brute_force_topk(emb, q, k=5)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        sims = [r["sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != qid for r in rs)


def test_lsh_topk_subset_of_bucket(spark):
    emb = emb_df(spark)
    q = emb.filter(F.col("vec_id") < 3)
    out = embeddings.lsh_topk(emb, q, k=5).collect()
    assert len(out) <= 15 and len(out) > 0


def test_cosine_near_dup_pairs_selfdup(spark):
    emb = emb_df(spark).limit(50)
    dup = emb.withColumn("vec_id", F.col("vec_id") + 100000)
    both = emb.unionByName(dup)
    pairs = embeddings.cosine_near_dup_pairs(both, threshold=0.999999).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert all((i, i + 100000) in found for i in range(50))


# --- streaming ---------------------------------------------------------------------

def test_streaming_extraction(spark, transcripts_dir, tmp_path):
    from fscrawler_spark.streaming.micro_batch import run_streaming_extraction

    stream_in = tmp_path / "stream_in"
    stream_in.mkdir()
    os.symlink(
        os.path.join(transcripts_dir, "transcripts.parquet"),
        stream_in / "transcripts.parquet",
    )
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "stream_ckpt")
    run_streaming_extraction(spark, str(stream_in), out, ckpt)
    got = spark.read.parquet(out)
    src = spark.read.parquet(os.path.join(transcripts_dir, "transcripts.parquet"))
    assert got.count() == src.count()
    # second drain with no new files: no duplicates (exactly-once)
    run_streaming_extraction(spark, str(stream_in), out, ckpt)
    assert spark.read.parquet(out).count() == src.count()
