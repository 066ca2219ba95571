#!/usr/bin/env python3
"""Round-6 optimization harness (guide §1): per-query noop-sink timing
and .explain('formatted') capture for any subset of the battery, without
running the frozen bench.py's scaling/tick legs.

Usage:
  python bench_extra.py time  q_near_dup_fast q_semantic_dedup [--sf DIR] [--trials N]
  python bench_extra.py plan  q_near_dup_fast ... [--sf DIR] [--out plans/r06 --suffix _before]
  python bench_extra.py list

all_queries() is the one name -> callable(spark, sf_dir) registry:
__spark_entry__.queries(), bench.py's bench-local callables (the exact
workloads the frozen bench times) and two plans only tools/plan_audit.py
audits. Prints one JSON line per query: {"q": name, "secs": [..], "min": s}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _q_semantic_pairs(spark, sf_dir):
    """SemDeDup's candidate stage. semantic_dedup's tail is a materialized
    CC (its plan would audit as a bare LogicalRDD scan), so the audit
    covers the part with a corpus-scale plan."""
    from pyspark.sql import functions as F

    from fscrawler_spark.functions import embeddings as e

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    both = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 1_000_000))
    cents = e.sampled_centroids(both, 64)
    return e.semantic_pairs(e.cell_assignments(both, cents), 0.99)


def _q_bpe_encode(spark, sf_dir):
    """The corpus-scale BPE encode map; training runs its own histogram
    jobs, outside the plan under audit."""
    from fscrawler_spark.functions.bpe import bpe_encode, train_bpe

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    merges = train_bpe(d, text_col="text", num_merges=16)
    return bpe_encode(d, merges, text_col="text")


def all_queries():
    import bench as bench_mod
    import __spark_entry__ as entry_mod

    qs = dict(entry_mod.queries())
    qs["q_near_dup_fast"] = bench_mod._q_near_dup_fast
    qs["q_sft_pairs"] = bench_mod._q_sft_pairs
    qs["q_simhash"] = bench_mod._q_simhash
    qs["q_ann_topk"] = bench_mod._q_ann_topk
    qs["q_clean_text"] = bench_mod._q_clean_text
    qs["q_exact_substr"] = bench_mod._q_exact_substr
    qs["q_perplexity_buckets"] = bench_mod._q_perplexity_buckets
    qs["q_mix_budget"] = bench_mod._q_mix_budget
    qs["q_chunk"] = bench_mod._q_chunk
    qs["q_semantic_dedup"] = bench_mod._q_semantic_dedup
    qs["q_dsir_select"] = bench_mod._q_dsir_select
    qs["q_bpe"] = bench_mod._q_bpe
    qs["q_text_embed"] = bench_mod._q_text_embed
    qs["q_fuzzy_decon"] = bench_mod._q_fuzzy_decon
    qs["q_semantic_decon"] = bench_mod._q_semantic_decon
    qs["q_ppl_word"] = bench_mod._q_ppl_word
    qs["q_semantic_pairs"] = _q_semantic_pairs
    qs["q_bpe_encode"] = _q_bpe_encode
    return qs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["time", "plan", "list"])
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--out", default="plans/r06")
    ap.add_argument("--suffix", default="_before")
    args = ap.parse_args()

    qs = all_queries()
    if args.mode == "list":
        print("\n".join(sorted(qs)))
        return
    names = args.names or sorted(qs)
    for n in names:
        if n not in qs:
            raise SystemExit(f"unknown query {n!r}; see `bench_extra.py list`")

    from fscrawler_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app="bench-extra", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    try:
        if args.mode == "plan":
            os.makedirs(args.out, exist_ok=True)
            for n in names:
                df = qs[n](spark, args.sf)
                txt = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                )
                path = os.path.join(args.out, f"{n}{args.suffix}.txt")
                with open(path, "w") as f:
                    f.write(txt)
                print(f"wrote {path}")
            return
        # warmup session once (codegen + worker spin-up), mirroring bench.py
        qs["q_terms_agg"](spark, args.sf).write.format("noop").mode("overwrite").save()
        for n in names:
            secs = []
            for _ in range(max(1, args.trials)):
                spark.sparkContext.setJobDescription(f"bench_extra:{n}")
                t0 = time.perf_counter()
                qs[n](spark, args.sf).write.format("noop").mode("overwrite").save()
                secs.append(round(time.perf_counter() - t0, 3))
                spark.sparkContext.setJobDescription(None)
            print(json.dumps({"q": n, "secs": secs, "min": min(secs)}), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
