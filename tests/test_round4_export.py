"""Round 4: the export tier (functions/export.py — deterministic epoch
order, hash shards, verifiable manifest), quality-aware canonical
selection (dedup.keep_best_of_cluster), and within-doc line dedup
(curation.dedupe_doc_lines). Hand-computed fixtures, parallelism
stability, plan pins (no global sort; corpus rows never shuffle for
canonical selection), and the CLI --export drive. The DuckDB value twins
live in the driver oracle rows (q_export_manifest, q_canonical_dedup,
q_doc_line_dedup — see tests/test_oracle_parity.py).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.functions.curation import dedupe_doc_lines
from fscrawler_spark.functions.dedup import keep_best_of_cluster
from fscrawler_spark.functions.export import (
    export_shards,
    shard_manifest,
    training_order,
    verify_export,
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _corpus(spark, n=200):
    return (
        spark.range(n)
        .withColumnRenamed("id", "doc_id")
        .withColumn("text", F.concat(F.lit("doc body "), F.col("doc_id").cast("string")))
    )


# --- training_order / shards -------------------------------------------------


def test_order_is_deterministic_and_parallelism_stable(spark):
    d = _corpus(spark)
    a = training_order(d.repartition(8), seed=3, n_shards=4).select(
        "doc_id", "order_key", "shard"
    )
    b = training_order(d.repartition(2), seed=3, n_shards=4).select(
        "doc_id", "order_key", "shard"
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_new_seed_is_a_new_permutation(spark):
    d = _corpus(spark)
    o0 = {r["doc_id"]: r["order_key"] for r in training_order(d, seed=0).collect()}
    o1 = {r["doc_id"]: r["order_key"] for r in training_order(d, seed=1).collect()}
    assert set(o0) == set(o1)
    assert sum(o0[k] == o1[k] for k in o0) == 0  # md5 keys all move


def test_shards_partition_the_corpus_roughly_uniformly(spark):
    d = _corpus(spark, n=2000)
    counts = (
        training_order(d, seed=0, n_shards=8)
        .groupBy("shard").count().collect()
    )
    assert sorted(r["shard"] for r in counts) == list(range(8))
    sizes = [r["count"] for r in counts]
    assert max(sizes) < 2 * min(sizes)  # hash uniformity at n=2000


def test_training_order_plan_is_pure_projection(spark):
    plan = plan_of(training_order(_corpus(spark), seed=0, n_shards=4))
    assert "Exchange" not in plan
    assert "Python" not in plan  # codegen md5, no UDF


def test_export_layout_and_manifest_roundtrip(spark, tmp_path):
    d = _corpus(spark, n=300)
    p = str(tmp_path / "exp")
    stats = export_shards(d, p, n_shards=4, seed=7, text_col="text")
    assert stats["shards"] == 4 and stats["rows"] == 300
    assert verify_export(spark, p) == []

    # rows within a shard are sorted by (order_key, id) — the
    # reproducible training stream
    shards = spark.read.parquet(os.path.join(p, "shards"))
    for k in range(4):
        keys = [
            r["order_key"]
            for r in shards.filter(F.col("shard") == k).collect()
        ]
        # parquet read preserves file order per shard dir (one writer task)
        assert keys == sorted(keys)

    # manifest bytes column reflects the text payload
    m = spark.read.parquet(os.path.join(p, "manifest"))
    total_bytes = m.agg(F.sum("bytes")).collect()[0][0]
    expect = d.agg(F.sum(F.octet_length("text"))).collect()[0][0]
    assert total_bytes == expect


def test_verify_export_catches_a_stale_manifest(spark, tmp_path):
    d = _corpus(spark, n=100)
    p = str(tmp_path / "exp")
    export_shards(d, p, n_shards=2, seed=0)
    # simulate a partial rewrite: manifest now lies about shard 0
    # (materialize first — Spark cannot overwrite a path it is lazily
    # reading from)
    m = spark.read.parquet(os.path.join(p, "manifest"))
    rows = [r.asDict() for r in m.collect()]
    for r in rows:
        if r["shard"] == 0:
            r["n_rows"] += 1
    spark.createDataFrame(rows, m.schema).write.mode("overwrite").parquet(
        os.path.join(p, "manifest")
    )
    findings = verify_export(spark, p)
    assert findings and any("shard 0" in f for f in findings)


def test_export_validation(spark):
    with pytest.raises(ValueError, match="n_shards"):
        training_order(_corpus(spark), n_shards=0)
    with pytest.raises(ValueError, match="n_shards"):
        export_shards(_corpus(spark), "/tmp/never", n_shards=0)
    with pytest.raises(ValueError, match="training_order"):
        shard_manifest(_corpus(spark))


# --- keep_best_of_cluster ----------------------------------------------------


def _docs_clusters(spark):
    docs = spark.createDataFrame(
        [(i, q) for i, q in enumerate([5, 9, 9, 1, 7, 3, 8, 2])],
        "doc_id int, quality int",
    )
    clusters = spark.createDataFrame(
        # cluster 100: members 0,1,2 — quality 5,9,9 -> tie between 1,2 ->
        # max id 2 wins; cluster 200: members 3,4 -> 4 wins
        [(0, 100), (1, 100), (2, 100), (3, 200), (4, 200)],
        "id int, cluster_id int",
    )
    return docs, clusters


def test_keep_best_quality_with_max_id_tiebreak(spark):
    docs, clusters = _docs_clusters(spark)
    kept = sorted(r["doc_id"] for r in keep_best_of_cluster(docs, clusters).collect())
    # winners 2 and 4; unclustered 5,6,7 always survive
    assert kept == [2, 4, 5, 6, 7]


def test_multi_cluster_member_must_win_all(spark):
    docs, _ = _docs_clusters(spark)
    clusters = spark.createDataFrame(
        # doc 1 wins cluster 100 (quality 9 vs 5) but loses 300 (9 < 9
        # with higher id 2) -> dropped despite its win
        [(0, 100), (1, 100), (1, 300), (2, 300)],
        "id int, cluster_id int",
    )
    kept = sorted(r["doc_id"] for r in keep_best_of_cluster(docs, clusters).collect())
    assert 1 not in kept and 2 in kept and 0 not in kept


def test_canonical_selection_never_shuffles_full_docs(spark):
    docs = _corpus(spark, n=500).withColumn("quality", F.length("text"))
    clusters = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("id"), (F.col("doc_id") % 7).alias("cluster_id")
    )
    plan = plan_of(keep_best_of_cluster(docs, clusters, quality_col="quality"))
    # the winner agg and anti join shuffle slim (id[, quality]) rows only:
    # no exchange row may carry the text payload
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "text" not in ln, f"full docs row rides a shuffle: {ln}"


# --- dedupe_doc_lines ---------------------------------------------------------


def _dedupe(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(dedupe_doc_lines("text").alias("d")).collect()[0].d


def test_doc_line_dedup_keeps_first_occurrence_verbatim(spark):
    r = _dedupe(spark, "  padded nav  \nbody one.\npadded nav\nbody one.\nbody two.")
    # first occurrence keeps ORIGINAL bytes (padding included); later
    # trimmed-identical lines go, including the unpadded twin
    assert r.text.split("\n") == ["  padded nav  ", "body one.", "body two."]
    assert r.kept_lines == 3 and r.removed_lines == 2


def test_doc_line_dedup_blank_lines_are_structure(spark):
    r = _dedupe(spark, "a.\n\nb.\n\nc.")
    assert r.text == "a.\n\nb.\n\nc."
    assert r.removed_lines == 0


def test_doc_line_dedup_null_propagates(spark):
    df = spark.createDataFrame([(None,)], "text string")
    r = df.select(dedupe_doc_lines("text").alias("d")).collect()[0].d
    assert r.text is None and r.kept_lines is None and r.removed_lines is None


def test_doc_line_dedup_plan_all_jvm_no_shuffle(spark):
    df = _corpus(spark)
    plan = plan_of(df.select(dedupe_doc_lines("text").alias("d")))
    assert "Exchange" not in plan and "Python" not in plan


# --- CLI ----------------------------------------------------------------------


def test_cli_export(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    docs_dir = str(tmp_path / "docs")
    _corpus(spark, n=120).withColumnRenamed("text", "extracted").write.parquet(docs_dir)
    out = str(tmp_path / "exported")
    rc = main(["--input", docs_dir, "--output", out, "--export", "4",
               "--export-seed", "9"], spark=spark)
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert res["export"] and res["shards"] == 4 and res["rows"] == 120
    assert res["seed"] == 9 and res["verify_findings"] == []
    assert spark.read.parquet(os.path.join(out, "shards")).count() == 120


def test_cli_export_validation(tmp_path, capsys):
    from fscrawler_spark.cli import main

    assert main(["--input", "x", "--output", str(tmp_path / "o"),
                 "--export", "0"]) == 2
    assert "--export" in capsys.readouterr().err
    assert main(["--input", "x", "--output", str(tmp_path / "o"),
                 "--export-seed", "3"]) == 2
    assert "--export-seed requires --export" in capsys.readouterr().err


def test_doctor_checks_export_root(spark, tmp_path):
    from fscrawler_spark.plans.doctor import check_output

    p = str(tmp_path / "exp")
    export_shards(_corpus(spark, n=60), p, n_shards=2, seed=1)
    assert check_output(spark, p)["ok"]

    # stale manifest -> ERROR finding
    m = spark.read.parquet(os.path.join(p, "manifest"))
    rows = [r.asDict() for r in m.collect()]
    rows[0]["n_rows"] += 5
    spark.createDataFrame(rows, m.schema).write.mode("overwrite").parquet(
        os.path.join(p, "manifest")
    )
    res = check_output(spark, p)
    assert not res["ok"]
    assert any(f["code"] == "export_manifest_mismatch" for f in res["findings"])

    # half-written export root (shards without manifest)
    import shutil

    shutil.rmtree(os.path.join(p, "manifest"))
    res = check_output(spark, p)
    assert any(f["code"] == "export_half_written" for f in res["findings"])


def test_export_jsonl_format(spark, tmp_path):
    import glob

    d = _corpus(spark, n=80)
    p = str(tmp_path / "expj")
    stats = export_shards(d, p, n_shards=2, seed=4, text_col="text", fmt="json")
    assert stats["rows"] == 80
    files = glob.glob(os.path.join(p, "shards", "shard=*", "*.json"))
    assert files
    with open(files[0]) as fh:
        row = json.loads(fh.readline())
    assert "text" in row and "order_key" in row  # one JSON object per line
    # the integrity gate reads the JSONL layout back transparently
    assert verify_export(spark, p) == []


def test_export_format_validation(spark):
    with pytest.raises(ValueError, match="fmt"):
        export_shards(_corpus(spark), "/tmp/never-written", n_shards=2, fmt="csv")


def test_tokens_to_trainer_composition(spark, tmp_path):
    """The pieces compose end-to-end: exact BPE token counts ->
    greedy sequence packing -> deterministic shard export. What a real
    prepare-training-data run chains."""
    from fscrawler_spark.functions.bpe import bpe_encode, train_bpe
    from fscrawler_spark.functions.curation import pack_sequences

    docs = _corpus(spark, n=120).withColumn("conv", F.col("doc_id") % 10)
    merges = train_bpe(docs, text_col="text", num_merges=30, min_freq=2)
    counted = bpe_encode(docs, merges, text_col="text", out_col="toks").withColumn(
        "n_bpe_tokens", F.size("toks")
    ).drop("toks")
    packed = pack_sequences(
        counted, token_col="n_bpe_tokens", max_tokens=64,
        part_col="conv", order_cols=("doc_id",),
    )
    p = str(tmp_path / "prep")
    stats = export_shards(packed, p, n_shards=3, seed=11, text_col="text")
    assert stats["rows"] == 120 and verify_export(spark, p) == []
    shards = spark.read.parquet(os.path.join(p, "shards"))
    assert {"pack_id", "n_bpe_tokens", "order_key"} <= set(shards.columns)
    # every pack respects the budget (oversize-singleton rule unused here)
    over = (
        shards.groupBy("conv", "pack_id")
        .agg(F.sum("n_bpe_tokens").alias("tok"))
        .filter(F.col("tok") > 64)
        .count()
    )
    assert over == 0
