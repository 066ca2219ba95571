"""Incremental near-dup (functions/incremental_dedup.py): per-tick
dedup against a persisted band index must reproduce EXACTLY what the
one-shot near_dup_pipeline computes over the final corpus — including
transitive merges of prior clusters and bystander relabels — while
doing only delta-sized signature work.

Fixture geometry (3-word shingles; core = 42 words -> 40 shingles):
  X  = core + b0..b7        X' = X with b7->b8        (j ~= 0.88)
  Y  = core + c0..c7        Y' = Y with c7->c8        Y'' = core + c0..c11
  bridge = core             j(bridge, X/X'/Y/Y') = 40/48 ~= 0.83 >= 0.8
                            j(bridge, Y'') = 40/52 ~= 0.77 <  0.8
  so the bridge merges clusters {X, X'} and {Y, Y', Y''} WITHOUT ever
  pairing with Y'' — Y'' is the bystander that only the rep-relabel map
  can move. bands=8 (rows_per_band=2) keeps LSH recall ~1 at j=0.8.
"""

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.functions import dedup
from fscrawler_spark.functions.incremental_dedup import (
    band_index_for,
    incremental_near_dup,
)

CORE = " ".join(f"w{i}" for i in range(42))
X = CORE + " " + " ".join(f"b{i}" for i in range(8))
X2 = CORE + " " + " ".join(f"b{i}" for i in range(7)) + " b8"
Y = CORE + " " + " ".join(f"c{i}" for i in range(8))
Y2 = CORE + " " + " ".join(f"c{i}" for i in range(7)) + " c8"
Y3 = CORE + " " + " ".join(f"c{i}" for i in range(12))  # bystander
BRIDGE = CORE
R = " ".join(f"r{i}" for i in range(50))
R2 = " ".join(f"r{i}" for i in range(49)) + " r99"
LONER = " ".join(f"z{i}" for i in range(40))

TICK1 = [(1, X), (5, X2), (2, Y), (7, Y2), (8, Y3), (30, LONER)]
TICK2 = [(9, BRIDGE), (11, R), (12, R2)]

KW = dict(num_hashes=16, bands=8, threshold=0.8, max_bucket=1000)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _full(spark, rows):
    out = dedup.near_dup_pipeline(_df(spark, rows), id_col="doc_id", text_col="text", **KW)
    return {r.id: r.cluster_id for r in out.collect()}


def _run_ticks(spark, ticks):
    """Drive incremental_near_dup over successive addition ticks,
    upserting the persisted tables exactly as a caller would. Returns
    (accumulated clusters dict, band rows dict, last assignments)."""
    clusters: dict[int, int] = {}
    bands: dict[int, list] = {}
    seen: list = []
    last = None
    for rows in ticks:
        seen = seen + list(rows)
        store_b = (
            spark.createDataFrame(
                [(i, b, bk) for i, lst in bands.items() for b, bk in lst],
                "id long, band int, bucket string",
            )
            if bands
            else None
        )
        store_c = (
            spark.createDataFrame(list(clusters.items()), "id long, cluster_id long")
            if clusters
            else None
        )
        res = incremental_near_dup(
            _df(spark, rows), _df(spark, seen), store_b, store_c,
            id_col="doc_id", text_col="text", **KW,
        )
        last = {r.id: (r.cluster_id, r.is_keeper) for r in res["assignments"].collect()}
        for i, (c, _) in last.items():
            clusters[i] = c
        delta = {}
        for r in res["band_delta"].collect():
            delta.setdefault(r.id, []).append((r.band, r.bucket))
        bands.update(delta)  # upsert: replaces a changed doc's old rows
    return clusters, bands, last


def test_first_tick_equals_pipeline(spark):
    clusters, _, _ = _run_ticks(spark, [TICK1])
    assert clusters == _full(spark, TICK1)
    assert clusters == {1: 1, 5: 1, 2: 2, 7: 2, 8: 2}  # loner 30 absent


def test_incremental_merge_equals_full_recompute(spark):
    clusters, _, tick2_out = _run_ticks(spark, [TICK1, TICK2])
    assert clusters == _full(spark, TICK1 + TICK2)
    # the bridge merged both old clusters under rep 1 ...
    assert clusters[9] == 1 and clusters[2] == 1 and clusters[7] == 1
    # ... including the BYSTANDER Y'' (8), which never paired with the
    # bridge and can only move via the rep-relabel map
    assert tick2_out[8] == (1, False)
    # the fresh new-new cluster is labeled independently
    assert clusters[11] == 11 and clusters[12] == 11
    # keeper flags: exactly the rep of each touched cluster
    keepers = {i for i, (_, k) in tick2_out.items() if k}
    assert keepers == {1, 11}


def test_changed_doc_moves_without_regluing_old_cluster(spark):
    # tick 3: doc 5's text CHANGES from X-family to R-family — it must
    # join {11, 12} (and, being the smallest id, become its rep) while
    # cluster 1 keeps every other member and is NOT relabeled
    clusters, _, tick3_out = _run_ticks(spark, [TICK1, TICK2, [(5, R)]])
    assert tick3_out == {5: (5, True), 11: (5, False), 12: (5, False)}
    assert clusters[1] == 1 and clusters[2] == 1 and clusters[7] == 1
    assert clusters[8] == 1 and clusters[9] == 1 and clusters[5] == 5
    # equivalence with a clean recompute over the FINAL texts
    final = [(i, t) for i, t in TICK1 + TICK2 if i != 5] + [(5, R)]
    assert clusters == _full(spark, final)


def test_store_probe_is_semi_join_and_delta_sized_sigs(spark):
    # plan shape: the persisted index is probed behind a LeftSemi join
    # (it never rides a shuffle wider than the delta's bucket set)
    store_b = band_index_for(_df(spark, TICK1), id_col="doc_id", text_col="text",
                             num_hashes=16, bands=8)
    res = incremental_near_dup(
        _df(spark, TICK2), _df(spark, TICK1 + TICK2), store_b, None,
        id_col="doc_id", text_col="text", **KW,
    )
    # band_delta is MATERIALIZED (lineage cut): referenced by both sides
    # of the candidate self-join, the store probe and the returned delta,
    # so live it would re-run the signature pass per reference
    plan = res["band_delta"]._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan and "Exchange" not in plan
    # two LeftSemi joins gate the corpus-scale sides: the band-index
    # probe (delta bucket set) and verify_candidates' shingle prefilter
    pairs_plan = res["verified_pairs"]._jdf.queryExecution().analyzed().toString()
    assert pairs_plan.count("LeftSemi") >= 2


def test_hash_family_validation(spark):
    with pytest.raises(ValueError, match="hash_family"):
        incremental_near_dup(
            _df(spark, TICK2), _df(spark, TICK2), hash_family="sha1"
        )
