"""Round-2 scale-path tests: random-hyperplane ANN LSH (recall vs brute
force, giant-bucket cap) and the MinHash-LSH giant-bucket guard.
"""

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.functions import dedup, embeddings

SF_DIR = "/root/testdata/sf0.001"


def test_lsh_recall_at_5_vs_brute_force(spark):
    """LSH guarantees probabilistic recall — measure it. The fixture
    embeddings are near-random (top-5 cosine ~0.32), the hardest case for
    hyperplane LSH; bits=4 x tables=32 measures 0.99 deterministically
    (seeded planes, fixed data). Assert the >=0.9 contract."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 20)
    truth = {(r.query_id, r.neighbor_id) for r in embeddings.brute_force_topk(e, q, k=5).collect()}
    got = {
        (r.query_id, r.neighbor_id)
        for r in embeddings.lsh_topk(e, q, k=5, bits=4, tables=32).collect()
    }
    assert len(truth) == 20 * 5
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"recall@5 = {recall}"


def test_ivf_full_probe_equals_brute_force(spark):
    """nprobe == n_centroids degenerates to an exact scan: results must
    equal brute force rank-for-rank."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    want = [(r.query_id, r.rank, r.neighbor_id) for r in embeddings.brute_force_topk(e, q, k=5).collect()]
    got = [
        (r.query_id, r.rank, r.neighbor_id)
        for r in embeddings.ivf_topk(e, q, k=5, n_centroids=16, nprobe=16).collect()
    ]
    assert sorted(got) == sorted(want)


def test_ivf_partial_probe_recall(spark):
    """nprobe=2 of 16 cells: recall beats the 2/16 random-probe floor
    because queries probe their OWN nearest cells (the IVF premise);
    measured 0.32 deterministically on the near-random fixture."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 20)
    truth = {(r.query_id, r.neighbor_id) for r in embeddings.brute_force_topk(e, q, k=5).collect()}
    got = {
        (r.query_id, r.neighbor_id)
        for r in embeddings.ivf_topk(e, q, k=5, n_centroids=16, nprobe=2).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.25


def test_hyperplane_buckets_are_data_independent(spark):
    """The round-1 quantizer used sign bits of the FIRST 8 dims: axis-
    aligned data collapsed into 2 buckets. Random hyperplanes must spread
    a worst-case axis-aligned corpus over many buckets."""
    import numpy as np

    rng = np.random.default_rng(0)
    # adversarial corpus: the first 8 dims are CONSTANT (the old scheme
    # bucketed on exactly those sign bits -> every vector in ONE bucket),
    # all variance lives in dims 8..63
    rows = [
        (i, [1.0] * 8 + [float(x) for x in rng.normal(0, 1, 56)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = embeddings.random_hyperplanes(64, bits=8, tables=1)
    stats = (
        embeddings._bucketed(df, "vec_id", "embedding", planes, "id", "v")
        .groupBy("table", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    # many distinct buckets, none dominating
    assert len(stats) > 10
    assert max(r["n"] for r in stats) < 100


def _near_dup_fixture(spark, cluster_n: int):
    """cluster_n identical vectors (one giant bucket) + one near-dup pair
    pointing the OPPOSITE direction (never shares a bucket with the
    cluster: every hyperplane dot flips sign)."""
    base = [1.0 if i % 2 else -1.0 for i in range(64)]
    anti = [-x for x in base]
    anti2 = [x * 1.0001 for x in anti]
    rows = [(i, base) for i in range(cluster_n)]
    rows += [(100_000, anti), (100_001, anti2)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ann_giant_bucket_cap_bounds_pairs(spark):
    df = _near_dup_fixture(spark, 300)
    capped = embeddings.cosine_near_dup_pairs(df, threshold=0.999, max_bucket=100).collect()
    # the mega-cluster is dropped; the opposite-direction pair survives
    assert {(r.id_a, r.id_b) for r in capped} == {(100_000, 100_001)}
    uncapped = embeddings.cosine_near_dup_pairs(df, threshold=0.999, max_bucket=None).count()
    assert uncapped == 300 * 299 // 2 + 1


def test_minhash_giant_bucket_guard(spark):
    """2000 identical near-empty texts share every band bucket: without
    the guard that is ~2M candidate pairs from one degenerate bucket.
    With the default cap they contribute none, while ordinary near-dups
    still pair through their (small) buckets."""
    junk = [(i, "ok") for i in range(2000)]
    normal = [
        (100_000, "the quick brown fox jumps over the lazy dog today"),
        (100_001, "the quick brown fox jumps over the lazy dog"),
    ]
    df = spark.createDataFrame(junk + normal, "id long, text string")
    sigs = dedup.minhash_signatures_fast(df, id_col="id")
    pairs = dedup.lsh_candidate_pairs(sigs).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(100_000, 100_001)}
    # the guard is auditable: the dropped bucket is visible in the stats
    stats = dedup.lsh_bucket_stats(sigs)
    assert stats.agg(F.max("n")).collect()[0][0] == 2000


def test_fast_minhash_recall(spark):
    """Recall self-check for the xxhash64 production path (which no SQL
    engine can reproduce bit-for-bit): LSH candidates must contain the
    overwhelming share of TRUE high-Jaccard pairs. 16 hashes / 4 bands
    gives P(candidate | s=0.9) ~= 0.986 per the banding formula;
    measured 1.0 deterministically on the near-dup fixture (seeded
    hash, fixed data) after the round-4 2^31-1 permutation-modulus fix
    — 0.975 before it, the correlated-permutation defect's visible
    cost. The md5 twin pipeline is value-hash-checked end-to-end by the
    q_near_dup_e2e oracle instead."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").alias("id"), "text"
    )
    mut = d.select(
        (F.col("id") + 100000).alias("id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    df = d.unionByName(mut)
    sigs = dedup.minhash_signatures_fast(df, id_col="id", num_hashes=16)
    cands = {(r.id_a, r.id_b) for r in dedup.lsh_candidate_pairs(sigs).collect()}
    true = {(r.id_a, r.id_b) for r in dedup.jaccard_pairs(df, id_col="id", threshold=0.9).collect()}
    assert len(true) > 500
    recall = len(true & cands) / len(true)
    assert recall >= 0.99, f"fast-path LSH recall = {recall}"


def test_simhash_pairs_pigeonhole(spark):
    """Hand-crafted fingerprints: pairs within max_hamming=3 found via
    band collision, pairs beyond excluded — and the pigeonhole guarantee
    (<=3 flips across 4 bands leaves one band intact) holds for flips
    spread across distinct bands."""
    base = 0b1010_1100_0011_0101_1111_0000_1010_0110
    rows = [
        (1, base),
        (2, base ^ 0b1),                       # hamming 1 (band 0)
        (3, base ^ (1 << 8) ^ (1 << 16) ^ (1 << 24)),  # hamming 3, three bands
        (4, base ^ (1 << 0) ^ (1 << 8) ^ (1 << 16) ^ (1 << 24)),  # hamming 4 vs base
        (5, ~base & 0xFFFFFFFF),               # hamming 32
    ]
    df = spark.createDataFrame(rows, "id long, simhash long")
    got = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash_near_dup_pairs(df).collect()}
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 3
    assert (1, 4) not in got  # hamming 4 > max
    assert (1, 5) not in got
    assert got[(3, 4)] == 1  # 3 and 4 differ only in bit 0


def test_connected_components_uses_reliable_checkpoint_when_set(spark, tmp_path):
    """With sc.setCheckpointDir, the iterative CC materializes via
    reliable checkpoints (executor-loss-safe at cluster scale)."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    try:
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
        pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
        out = {r.id: r.cluster_id for r in dedup.connected_components(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        import os as _os

        # setCheckpointDir alone creates the uuid dir — assert actual
        # rdd-* checkpoint payloads exist INSIDE it (the branch really ran)
        rdd_dirs = [
            e.name
            for u in _os.scandir(str(tmp_path / "ckpt"))
            for e in _os.scandir(u.path)
        ]
        assert any(n.startswith("rdd-") for n in rdd_dirs), rdd_dirs
    finally:
        sc._jsc.sc().setCheckpointDir(None)


def test_minhash_cap_none_restores_full_candidates(spark):
    rows = [(i, "same text for everyone here") for i in range(50)]
    df = spark.createDataFrame(rows, "id long, text string")
    sigs = dedup.minhash_signatures_fast(df, id_col="id")
    n = dedup.lsh_candidate_pairs(sigs, max_bucket=10).count()
    assert n == 0
    n_all = dedup.lsh_candidate_pairs(sigs, max_bucket=None).count()
    assert n_all == 50 * 49 // 2
