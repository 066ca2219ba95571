"""Round 4: SemDeDup (semantic dedup within embedding cells) and DSIR
(importance-resampling data selection) — each value-checked against a
pure-Python oracle that shares NO Spark code: hashlib md5 for the
cross-engine hash, numpy for the cosine/assignment math, union-find for
clusters.

References (public): Abbas et al. 2023, SemDeDup, arXiv:2303.09540;
Xie et al. 2023, DSIR, arXiv:2302.03169; Vieira 2014 (Gumbel-top-k).
"""
from __future__ import annotations

import hashlib
import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from fscrawler_spark.functions import embeddings, mixing

_BUCKETS = 1_000_000


def _md5_int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------


def _semantic_fixture():
    """12 planted near-dup vectors (4 groups x 3) + 8 spread singletons,
    dim 6, values rounded so Spark (array<double>) and numpy see
    IDENTICAL floats."""
    rng = np.random.default_rng(1234)
    rows = []
    vid = 1
    for _ in range(4):
        base = rng.normal(size=6)
        base /= np.linalg.norm(base)
        for _ in range(3):
            v = base + rng.normal(scale=1e-3, size=6)
            rows.append((vid, [round(float(x), 6) for x in v]))
            vid += 1
    for _ in range(8):
        v = rng.normal(size=6)
        v /= np.linalg.norm(v)
        rows.append((vid, [round(float(x), 6) for x in v]))
        vid += 1
    return rows


def _cosine_np(a, b):
    na, nb = np.linalg.norm(a), np.linalg.norm(b)
    if na == 0 or nb == 0:
        return 0.0
    return float(np.dot(a, b) / (na * nb))


def _oracle_semantic(rows, centroids, threshold, keep):
    """Pure-numpy SemDeDup: stable argmax assignment (ties -> lower cid,
    matching the UDF's stable argsort over cid-sorted centroids),
    within-cell exact pairs, union-find, keeper per ``keep``."""
    cids = [c for c, _ in centroids]
    mat = np.asarray([v for _, v in centroids], dtype=np.float64)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cell, cent_sim = {}, {}
    for vid, vec in rows:
        v = np.asarray(vec, dtype=np.float64)
        sims = (v / np.linalg.norm(v)) @ mat_n.T
        j = int(np.argsort(-sims, kind="stable")[0])
        cell[vid] = cids[j]
        cent_sim[vid] = _cosine_np(v, mat[j])
    parent = {vid: vid for vid, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    in_pairs = set()
    by_id = dict(rows)
    ids = sorted(by_id)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if cell[a] != cell[b]:
                continue
            if _cosine_np(np.asarray(by_id[a]), np.asarray(by_id[b])) >= threshold:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
                in_pairs.update((a, b))
    clusters = {vid: find(vid) for vid in in_pairs}
    keepers = {}
    for vid, cl in clusters.items():
        if keep == "min_id":
            cand = cl  # min-label CC root IS the min id
            keepers[cl] = min(keepers.get(cl, cand), cand)
        else:  # centroid_far: lowest cent_sim, ties to lower id
            best = keepers.get(cl)
            key = (cent_sim[vid], vid)
            if best is None or key < (cent_sim[best], best):
                keepers[cl] = vid
    return clusters, keepers


@pytest.fixture(scope="module")
def sem_df(spark):
    rows = _semantic_fixture()
    return rows, spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.mark.parametrize("keep", ["min_id", "centroid_far"])
def test_semantic_dedup_matches_numpy_oracle(spark, sem_df, keep):
    rows, df = sem_df
    cents = embeddings.sampled_centroids(df, 4)
    got = {
        r.id: (r.cluster_id, r.is_keeper)
        for r in embeddings.semantic_dedup(
            df, n_cells=4, threshold=0.9, keep=keep, centroids=cents
        ).collect()
    }
    clusters, keepers = _oracle_semantic(rows, cents, 0.9, keep)
    assert {i: c for i, (c, _) in got.items()} == clusters
    for vid, (cl, is_k) in got.items():
        assert is_k == (keepers[cl] == vid), (vid, cl, keepers)
    # the fixture plants 4 groups of 3; unless the hash-sampled centroids
    # split a planted group across cells, we must see >= 2 full clusters
    assert len(set(clusters.values())) >= 2


def test_semantic_dedup_one_cell_equals_brute_force(spark, sem_df):
    rows, df = sem_df
    # one cell -> every pair compared -> clusters == global threshold graph
    cents = embeddings.sampled_centroids(df, 1)
    got = {
        r.id: r.cluster_id
        for r in embeddings.semantic_dedup(
            df, threshold=0.9, centroids=cents
        ).collect()
    }
    ids = [v for v, _ in rows]
    by_id = dict(rows)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    touched = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if _cosine_np(np.asarray(by_id[a]), np.asarray(by_id[b])) >= 0.9:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
                touched.update((a, b))
    assert got == {i: find(i) for i in touched}


def test_semantic_dedup_pair_exchanges_carry_no_vectors(spark, sem_df):
    """Vectors may ride ONLY the cell-keyed candidate exchange; every
    later shuffle (pair dedup, CC, keeper window) is ids+scalars."""
    rows, df = sem_df
    out = embeddings.semantic_dedup(df, n_cells=4, threshold=0.9, keep="centroid_far")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for block in plan.split("Exchange hashpartitioning(")[1:]:
        head = block.split("\n", 1)[0]
        if head.startswith("cell"):
            continue  # the one expected vector-bearing exchange
        assert "v#" not in head and "embedding#" not in head, head


def test_semantic_dedup_validates_keep(sem_df):
    _, df = sem_df
    with pytest.raises(ValueError, match="keep must be"):
        embeddings.semantic_dedup(df, keep="best")


def test_cell_assignment_cap_drops_giant_cells(spark, sem_df):
    rows, df = sem_df
    cents = embeddings.sampled_centroids(df, 1)
    # every doc lands in the single cell; cap 5 < 20 drops the lot
    out = embeddings.semantic_dedup(df, threshold=0.5, max_cell=5, centroids=cents)
    assert out.count() == 0


# ---------------------------------------------------------------------------
# DSIR
# ---------------------------------------------------------------------------

RAW_DOCS = [
    (1, "the cat sat on the mat"),
    (2, "stock market prices fell sharply today"),
    (3, "the dog chased the cat around"),
    (4, "quarterly earnings beat analyst expectations"),
    (5, "a recipe for chocolate cake and tea"),
    (6, "bond yields and market volatility rose"),
    (7, None),
    (8, ""),
    (9, "the cat and the dog are friends"),
    (10, "central bank raised interest rates again"),
]
TARGET_DOCS = [
    (101, "stock market volatility and bond yields"),
    (102, "interest rates and quarterly earnings"),
    (103, "market prices analyst expectations"),
]
B, NS, ALPHA = 512, (1, 2), 1.0


def _grams(text, ns):
    if text is None:
        return []
    words = re.split(r"\s+", text.strip().lower())
    out = []
    for n in ns:
        if len(words) >= n:
            out += [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
    # the engine drops empty grams (the ''-unigram artifact of empty
    # text) so empty docs score the documented neutral 0.0
    return [g for g in out if g]


def _oracle_model(raw, target):
    rc, tc = {}, {}
    for docs, cnt in ((raw, rc), (target, tc)):
        for _, t in docs:
            for g in _grams(t, NS):
                b = _md5_int(g) % B
                cnt[b] = cnt.get(b, 0) + 1
    r_tot, t_tot = sum(rc.values()), sum(tc.values())
    return {
        b: math.log((tc.get(b, 0) + ALPHA) / (t_tot + ALPHA * B))
        - math.log((rc.get(b, 0) + ALPHA) / (r_tot + ALPHA * B))
        for b in range(B)
    }


def _oracle_weights(docs, model):
    return {
        i: sum(model[_md5_int(g) % B] for g in _grams(t, NS)) for i, t in docs
    }


@pytest.fixture(scope="module")
def dsir(spark):
    # hash_family="md5" throughout this fixture: the cross-engine family
    # the hashlib oracle can replicate. The production 'fast' family is
    # value-checked separately against the pure-Python XXH64 twin.
    raw = spark.createDataFrame(RAW_DOCS, "doc_id long, text string")
    target = spark.createDataFrame(TARGET_DOCS, "doc_id long, text string")
    model = mixing.train_importance_model(
        raw, target, buckets=B, ns=NS, alpha=ALPHA, hash_family="md5"
    )
    return raw, target, model


def test_importance_model_matches_python_oracle(dsir):
    _, _, model = dsir
    got = {r.b: r.log_ratio for r in model.collect()}
    want = _oracle_model(RAW_DOCS, TARGET_DOCS)
    assert set(got) == set(range(B))  # complete bucket space
    for b in range(B):
        assert got[b] == pytest.approx(want[b], rel=1e-12), b


def test_importance_scores_match_python_oracle(dsir):
    raw, _, model = dsir
    got = {
        r.id: r.log_weight
        for r in mixing.score_importance(raw, model, buckets=B, ns=NS, hash_family="md5").collect()
    }
    want = _oracle_weights(RAW_DOCS, _oracle_model(RAW_DOCS, TARGET_DOCS))
    assert set(got) == set(want)
    for i in want:
        assert got[i] == pytest.approx(want[i], rel=1e-9), i
    # finance docs must outscore pets/recipe docs — the point of DSIR
    assert min(got[2], got[4], got[6], got[10]) > max(got[1], got[3], got[5])
    # gram-less docs (NULL *and* empty text) are neutral 0.0, never dropped
    assert got[7] == 0.0 and got[8] == 0.0


def test_importance_resample_matches_python_oracle(dsir):
    raw, _, model = dsir
    got = [
        (r.id, r.sample_key)
        for r in mixing.importance_resample(
            raw, model, k=4, buckets=B, ns=NS, seed="s1", hash_family="md5"
        ).collect()
    ]
    weights = _oracle_weights(RAW_DOCS, _oracle_model(RAW_DOCS, TARGET_DOCS))
    keyed = []
    for i, w in weights.items():
        u = (_md5_int("s1" + str(i)) % _BUCKETS + 0.5) / _BUCKETS
        keyed.append((w + -math.log(-math.log(u)), i))
    want = sorted(keyed, key=lambda t: (-t[0], t[1]))[:4]
    assert [i for i, _ in got] == [i for _, i in want]
    for (gi, gk), (wk, wi) in zip(got, want):
        assert gk == pytest.approx(wk, rel=1e-9), (gi, wi)


def test_dsir_plans_stay_jvm_and_topk(dsir):
    raw, _, model = dsir
    score_plan = (
        mixing.score_importance(raw, model, buckets=B, ns=NS, hash_family="md5")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in score_plan  # model-sized side broadcast
    assert "EvalPython" not in score_plan and "ArrowEval" not in score_plan
    topk_plan = (
        mixing.importance_resample(raw, model, k=3, buckets=B, ns=NS, hash_family="md5")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in topk_plan  # top-k, never a full sort


def test_dsir_validates_params(dsir):
    raw, target, model = dsir
    with pytest.raises(ValueError, match="buckets must be positive"):
        mixing.train_importance_model(raw, target, buckets=0)
    with pytest.raises(ValueError, match="alpha must be positive"):
        mixing.train_importance_model(raw, target, alpha=0.0)
    with pytest.raises(ValueError, match="k must be positive"):
        mixing.importance_resample(raw, model, k=0)
    with pytest.raises(ValueError, match="hash_family must be"):
        mixing.train_importance_model(raw, target, hash_family="sha1")


def test_dsir_fast_family_matches_xxh64_twin(dsir):
    """The production 'fast' family, value-checked end-to-end against
    the pure-Python XXH64 twin (proven bit-identical to F.xxhash64 in
    test_round4_fasthash_oracle) — the same oracle strategy as the fast
    MinHash path."""
    import test_round4_fasthash_oracle as fh

    raw, target, model_md5 = dsir
    model = mixing.train_importance_model(
        raw, target, buckets=B, ns=NS, alpha=ALPHA, hash_family="fast"
    )
    got_model = {r.b: r.log_ratio for r in model.collect()}

    def fast_bucket(g):
        return fh.xxh64(g.encode()) % B  # pmod: xxh64 twin returns signed

    rc, tc = {}, {}
    for docs, cnt in ((RAW_DOCS, rc), (TARGET_DOCS, tc)):
        for _, t in docs:
            for g in _grams(t, NS):
                b = fast_bucket(g)
                cnt[b] = cnt.get(b, 0) + 1
    r_tot, t_tot = sum(rc.values()), sum(tc.values())
    for b in range(B):
        want = math.log((tc.get(b, 0) + ALPHA) / (t_tot + ALPHA * B)) - math.log(
            (rc.get(b, 0) + ALPHA) / (r_tot + ALPHA * B)
        )
        assert got_model[b] == pytest.approx(want, rel=1e-12), b
    got_w = {
        r.id: r.log_weight
        for r in mixing.score_importance(
            raw, model, buckets=B, ns=NS, hash_family="fast"
        ).collect()
    }
    want_w = {
        i: sum(got_model[fast_bucket(g)] for g in _grams(t, NS))
        for i, t in RAW_DOCS
    }
    for i in want_w:
        assert got_w[i] == pytest.approx(want_w[i], rel=1e-9), i


def test_empty_corpus_fails_loudly(spark, tmp_path):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="at least one centroid"):
        embeddings.make_ivf_assign_udf([])
    # semantic_dedup over an empty corpus: centroid sampling yields [],
    # and the failure names the cause instead of a numpy AxisError
    with pytest.raises(ValueError, match="empty corpus"):
        embeddings.semantic_dedup(empty, n_cells=4)


def test_semantic_pairs_drop_broken_vectors_before_join(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),
            (3, [0.0, 0.0]),          # zero norm
            (4, [float("nan"), 1.0]),  # NaN
        ],
        "vec_id long, embedding array<double>",
    )
    cents = embeddings.sampled_centroids(df, 1)
    cells = embeddings.cell_assignments(df, cents)
    pairs = embeddings.semantic_pairs(cells, 0.9)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2)}  # broken vectors produce no pairs
    # round 6: the drop decision and the normalization both live INSIDE
    # the grouped numpy stage now (source-precision squares, same
    # underflow/NaN semantics as the old JVM fold) — the plan must carry
    # NO interpreted per-element HOF; the raw vectors ride the one
    # cell-keyed exchange
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "transform(" not in plan
    assert "FlatMapGroupsInArrow" in plan


def test_new_ops_are_partitioning_stable(spark, sem_df, dsir):
    """Determinism claims hold at any parallelism: the same rows come
    back when the input arrives in a different partitioning (the same
    guarantee curation.deterministic_sample and mix_corpus pin)."""
    raw, _, model = dsir
    a = sorted(
        (r.id, round(r.sample_key, 9))
        for r in mixing.importance_resample(
            raw, model, k=4, buckets=B, ns=NS, seed="s1", hash_family="md5"
        ).collect()
    )
    b = sorted(
        (r.id, round(r.sample_key, 9))
        for r in mixing.importance_resample(
            raw.repartition(7), model, k=4, buckets=B, ns=NS, seed="s1",
            hash_family="md5",
        ).collect()
    )
    assert a == b
    rows, df = sem_df
    cents = embeddings.sampled_centroids(df, 4)
    one = sorted(
        (r.id, r.cluster_id, r.is_keeper)
        for r in embeddings.semantic_dedup(
            df, threshold=0.9, keep="centroid_far", centroids=cents
        ).collect()
    )
    two = sorted(
        (r.id, r.cluster_id, r.is_keeper)
        for r in embeddings.semantic_dedup(
            df.repartition(5), threshold=0.9, keep="centroid_far", centroids=cents
        ).collect()
    )
    assert one == two


# ---------------------------------------------------------------------------
# dsir_select: the fused one-gram-pass train+select path
# ---------------------------------------------------------------------------


def test_dsir_select_matches_modular_path(dsir):
    """The fused path must pick the SAME docs with the SAME keys as
    train_importance_model → importance_resample (scores are equal up
    to float summation order; the md5 family makes the comparison
    oracle-replicable too)."""
    raw, target, model = dsir
    modular = mixing.importance_resample(
        raw, model, k=4, buckets=B, ns=NS, seed="s1", hash_family="md5"
    ).collect()
    fused = mixing.dsir_select(
        raw, target, k=4, buckets=B, ns=NS, alpha=ALPHA, seed="s1",
        hash_family="md5",
    ).collect()
    assert [r.id for r in fused] == [r.id for r in modular]
    for f, m in zip(fused, modular):
        assert f.sample_key == pytest.approx(m.sample_key, rel=1e-9)
        assert f.log_weight == pytest.approx(m.log_weight, rel=1e-9)


def test_dsir_select_keeps_gramless_docs_neutral(dsir):
    """k = corpus size returns every doc, including the NULL-text and
    empty-text ones at the documented neutral log_weight 0.0 — the
    fused scoring path must preserve score_importance's left-join
    contract, not drop gram-less ids on the counts join."""
    raw, target, _ = dsir
    out = {
        r.id: r.log_weight
        for r in mixing.dsir_select(
            raw, target, k=len(RAW_DOCS), buckets=B, ns=NS, alpha=ALPHA,
            seed="s1", hash_family="md5",
        ).collect()
    }
    assert set(out) == {i for i, _ in RAW_DOCS}
    assert out[7] == 0.0 and out[8] == 0.0


def test_dsir_select_validates_params(dsir):
    raw, target, _ = dsir
    with pytest.raises(ValueError, match="k must be positive"):
        mixing.dsir_select(raw, target, k=0)
    with pytest.raises(ValueError, match="buckets must be positive"):
        mixing.dsir_select(raw, target, k=1, buckets=0)
    with pytest.raises(ValueError, match="alpha must be positive"):
        mixing.dsir_select(raw, target, k=1, alpha=0.0)
    with pytest.raises(ValueError, match="hash_family must be"):
        mixing.dsir_select(raw, target, k=1, hash_family="sha1")


def test_dsir_select_single_gram_pass_plan(dsir):
    """The fused plan reads the raw corpus's grams from the
    materialized counts artifact: the final plan scans a checkpointed
    RDD (lineage cut) and still lowers the tail to TakeOrderedAndProject
    — and a second scan of the raw side's gram explode must be absent
    (only the small TARGET side still explodes in-plan)."""
    raw, target, _ = dsir
    plan = (
        mixing.dsir_select(
            raw, target, k=3, buckets=B, ns=NS, alpha=ALPHA,
            hash_family="md5",
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Scan ExistingRDD" in plan  # the materialized counts artifact
