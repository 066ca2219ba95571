#!/usr/bin/env python3
"""Regenerate PLANS.md: physical-plan audits of the headline queries.

For each audited query we record the plan properties that matter at
100 TB — whether filters reached the scan (PushedFilters), how many
Exchanges (shuffles) the plan contains, which joins broadcast, and how
many Python boundaries it crosses (Arrow UDF evals / grouped maps —
everything else is JVM-side) — plus the first lines of the formatted
plan for inspection. Run from the repo root:

    python tools/plan_audit.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

AUDITED = [
    ("q_pipeline_transcripts", "extraction hot path: scan -> filter -> Arrow UDF -> project"),
    ("q_html_extract", "single-format extraction"),
    ("q_dedup_exact", "hash-groupBy dedup"),
    ("q_minhash_lsh_fast", "minhash explode -> hash agg -> banded self-join (guarded)"),
    ("q_ann_lsh", "hyperplane LSH candidates -> cosine top-k"),
    ("q_ann_ivf", "IVF-flat cells -> nprobe scan -> cosine top-k"),
    ("q_simhash_pairs", "simhash pigeonhole bands -> hamming verify"),
    ("q_tag_merge_deep", "broadcast tag join"),
    ("q_deletion_detection", "anti-join deletion detection"),
    ("q_contamination", "corpus grams x broadcast benchmark"),
    ("q_pack_sequences", "grouped-map sequence packing"),
    ("q_search_semantic", "semantic knn via ANN"),
    ("q_exact_substr_spans", "L-gram hash explode -> dup agg -> span merge fold"),
    ("q_line_dedup", "line explode -> banned-set join -> per-doc reassembly"),
    ("q_semantic_pairs", "SemDeDup: GEMM cell assign -> normalized within-cell dot pairs"),
    ("q_dsir_select", "DSIR: gram hash aggs -> broadcast model score -> Gumbel top-k"),
    ("q_assemble_conversations", "assembly: codegen render -> one conv_id Exchange -> sort_array agg"),
    ("q_sft_pairs", "SFT pairs: one Exchange -> partition-local window over a bounded frame"),
    ("q_preference_pairs", "preference pairs: sft window -> one prompt Exchange -> max/min struct agg"),
    ("q_c4_filter", "C4 recipe: line clean + page gate as one all-JVM projection"),
    ("q_bpe_encode", "BPE encode: broadcast merge ranks -> zero-shuffle Arrow map"),
    ("q_doc_line_dedup", "within-doc line dedup: all-JVM HOF projection"),
    ("q_canonical_dedup", "best-of-cluster keeper: slim max_by agg -> anti join"),
    ("q_export_manifest", "export manifest: permutation key -> one shard hash agg"),
    ("q_text_embed", "hashed-feature text embeddings: codegen gram+hash -> one Arrow bincount"),
    ("q_fuzzy_decon", "fuzzy decontamination: corpus bands x broadcast bench bands -> verify -> anti join"),
    ("q_semantic_decon", "semantic decontamination: broadcast-GEMM max-sim pure map -> anti join"),
]


def audit(df) -> dict:
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    formatted = qe.explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcasts": len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoop", plan)),
        # where Python runs: Arrow-batched UDF evals / grouped maps —
        # everything else is JVM-side (codegen-eligible operators)
        "python_boundaries": len(
            re.findall(r"ArrowEvalPython|FlatMapGroupsInArrow|MapInArrow", plan)
        ),
        "pushed_lines": [
            ln.strip() for ln in formatted.splitlines() if "PushedFilters" in ln and "[]" not in ln
        ][:3],
        "formatted_head": "\n".join(formatted.splitlines()[:28]),
    }


def main() -> None:
    from fscrawler_spark.session import get_spark

    spark = get_spark(app="plan-audit", master="local[4]", shuffle_partitions=4)
    try:
        _generate(spark)
    finally:
        spark.stop()


def _generate(spark) -> None:
    from bench_extra import all_queries

    qs = all_queries()
    out = ["# PLANS — physical-plan audit of the headline queries", "",
           f"Generated by `python tools/plan_audit.py` at {SF_DIR} (regenerate after plan-shape changes).",
           "",
           "| query | role | shuffles (Exchange) | broadcast joins | python boundaries | filters pushed to scan |",
           "|---|---|---|---|---|---|"]
    details = []
    for name, role in AUDITED:
        # one failing query (renamed key, missing table at a custom
        # SF_DIR) must not abort the whole regeneration with a stale
        # PLANS.md — record the error in place and keep going
        try:
            df = qs[name](spark, SF_DIR)
            a = audit(df)
        except Exception as e:
            out.append(f"| {name} | {role} | AUDIT FAILED | — | — | — |")
            details.append(f"## {name}\n\n*{role}*\n\nAUDIT FAILED: `{e!r}`\n")
            continue
        pushed = "yes" if a["pushed_lines"] else "—"
        out.append(
            f"| {name} | {role} | {a['exchanges']} | {a['broadcasts']} | {a['python_boundaries']} | {pushed} |"
        )
        det = [f"## {name}", "", f"*{role}*", ""]
        if a["pushed_lines"]:
            det.append("Pushed filters:")
            det.extend(f"- `{ln}`" for ln in a["pushed_lines"])
            det.append("")
        det.append("```")
        det.append(a["formatted_head"])
        det.append("```")
        det.append("")
        details.append("\n".join(det))
    out.append("")
    out.append(
        "Shuffle counts are the plan's Exchange operators (AQE may coalesce or\n"
        "convert to broadcast at runtime — counts here are the static upper bound).\n"
        "The extraction hot path's zero-Exchange property is additionally pinned by\n"
        "`tests/test_plan_quality.py::test_no_exchange_in_extraction_hot_path`.\n"
    )
    out.extend(details)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "PLANS.md")
    # preserve hand-written sections (measured A/Bs etc.): every block
    # between MANUAL markers survives regeneration. Non-greedy + findall:
    # a greedy .* would merge two blocks WITH the generated content
    # between them, duplicating it on each run
    manual_blocks: list[str] = []
    if os.path.exists(path):
        with open(path) as f:
            old = f.read()
        manual_blocks = re.findall(
            r"<!-- MANUAL-BEGIN -->.*?<!-- MANUAL-END -->", old, re.DOTALL
        )
    for i, block in enumerate(manual_blocks):
        out.insert(4 + 2 * i, block)
        out.insert(5 + 2 * i, "")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
