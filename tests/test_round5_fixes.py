"""Round 5: verdict/advice hardening fixes.

1. ``sft_examples(context_turns=None)`` is guarded: an unbounded prefix
   render past ``max_unbounded_context`` turns fails loudly (the last
   user-reachable skew bomb — a 10^6-turn conversation would otherwise
   render O(n^2) characters on one executor).
2. ``fuzzy_decontaminate`` refuses a corpus-sized "benchmark" before
   broadcasting it (same loud contract as semantic_decontaminate).
3. ``make_max_sim_udf`` treats NON-null empty-array embeddings as a dim
   mismatch (an external table full of [] must not make decontamination
   a silent no-op); NULL rows still score 0.0.
4. The CLI decon verbs exit 2 with a message on an oversized benchmark,
   and --decon-max-benchmark raises the bound deliberately.
"""

import json
import os

import pytest

from fscrawler_spark.functions.assembly import sft_examples
from fscrawler_spark.functions.curation import fuzzy_decontaminate

TURNS_SCHEMA = "conv_id string, turn_idx int, role string, text string"


def _long_conv(spark, n=12):
    rows = [("c0", i, "user" if i % 2 == 0 else "assistant", f"turn {i}") for i in range(n)]
    return spark.createDataFrame(rows, TURNS_SCHEMA)


def test_sft_unbounded_context_guard_raises(spark):
    df = _long_conv(spark, 12)
    out = sft_examples(df, context_turns=None, max_unbounded_context=5)
    with pytest.raises(Exception, match="max_unbounded_context"):
        out.collect()


def test_sft_unbounded_context_under_limit_unchanged(spark):
    df = _long_conv(spark, 8)
    got = sft_examples(df, context_turns=None, max_unbounded_context=10).collect()
    # 4 assistant turns, each with full-prefix prompt
    assert len(got) == 4
    longest = max(got, key=lambda r: r.turn_idx)
    assert longest.prompt.count("turn") == 7  # all 7 preceding turns


def test_sft_max_unbounded_context_validated(spark):
    with pytest.raises(ValueError, match="max_unbounded_context"):
        sft_examples(_long_conv(spark), context_turns=None, max_unbounded_context=0)


def test_sft_bounded_context_guard_inactive(spark):
    # a bounded window never trips the guard, whatever the limit
    got = sft_examples(_long_conv(spark, 12), context_turns=2, max_unbounded_context=1)
    assert got.count() == 6


def test_fuzzy_decon_refuses_oversized_benchmark(spark):
    docs = spark.createDataFrame(
        [(i, f"some corpus document number {i} with words") for i in range(4)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(i, f"benchmark item {i} text goes here") for i in range(10)],
        "bench_id long, text string",
    )
    with pytest.raises(ValueError, match="max_benchmark"):
        fuzzy_decontaminate(docs, bench, max_benchmark=5)
    # raising the bound deliberately works
    out = fuzzy_decontaminate(docs, bench, max_benchmark=100)
    assert out.count() == 4  # nothing actually matches


def test_max_sim_rejects_nonnull_empty_embeddings(spark):
    from fscrawler_spark.functions.embeddings import reference_max_sim

    ref = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    empties = spark.createDataFrame(
        [(10, []), (11, [])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="dim mismatch"):
        reference_max_sim(empties, ref).collect()
    # NULL rows remain excused at 0.0
    nulls = spark.createDataFrame(
        [(20, None), (21, [3.0, 4.0])], "vec_id long, embedding array<double>"
    )
    got = {r.id: r.ref_max_sim for r in reference_max_sim(nulls, ref).collect()}
    assert got[20] == 0.0 and got[21] == pytest.approx(0.8)


def test_cli_decon_semantic_oversized_benchmark_exits_2(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    def docs_table(name, n):
        p = str(tmp_path / name)
        spark.createDataFrame(
            [(i, "c", i, f"document text number {i}") for i in range(n)],
            "doc_id long, conv_id string, turn_idx int, extracted string",
        ).write.parquet(os.path.join(p, "docs"))
        return p

    src = docs_table("corpus", 4)
    bench = docs_table("bench", 8)
    out = str(tmp_path / "deconned")
    rc = main(
        ["--input", src, "--output", out, "--decontaminate", bench,
         "--decon-semantic", "0.95", "--decon-max-benchmark", "3"],
        spark=spark,
    )
    assert rc == 2
    assert "max_reference" in capsys.readouterr().err  # reference_max_sim's bound
    # raising the bound lets the same invocation pass
    rc2 = main(
        ["--input", src, "--output", out, "--decontaminate", bench,
         "--decon-semantic", "0.95", "--decon-max-benchmark", "1000"],
        spark=spark,
    )
    assert rc2 == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["total"] == 4


def test_cli_decon_max_benchmark_requires_decon_variant(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    rc = main(
        ["--input", "x", "--output", "y", "--decon-max-benchmark", "10"],
        spark=spark,
    )
    assert rc == 2
    assert "--decon-max-benchmark" in capsys.readouterr().err
