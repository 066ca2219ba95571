"""Curation operator semantics: deterministic sampling/splits, greedy
sequence packing, PII redaction, repetition quality, contamination."""

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.functions import curation


def test_deterministic_sample_stable_under_repartition(spark):
    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id for r in curation.deterministic_sample(df, 0.3, "doc_id").collect()}
    b = {
        r.doc_id
        for r in curation.deterministic_sample(df.repartition(13), 0.3, "doc_id").collect()
    }
    assert a == b
    assert 0.25 < len(a) / 2000 < 0.35
    # salt decorrelates
    c = {r.doc_id for r in curation.deterministic_sample(df, 0.3, "doc_id", salt="x").collect()}
    assert c != a
    with pytest.raises(ValueError):
        curation.deterministic_sample(df, 1.5, "doc_id")


def test_split_keeps_key_together_and_covers_all(spark):
    df = spark.createDataFrame(
        [(f"conv-{i % 40}", j) for i in range(40) for j in range(5)],
        "conv_id string, turn_idx int",
    )
    out = curation.train_val_test_split(df, key_col="conv_id", weights=(0.6, 0.2, 0.2))
    per_key = out.groupBy("conv_id").agg(F.count_distinct("split").alias("k")).collect()
    assert all(r["k"] == 1 for r in per_key)  # no leakage across splits
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits
    with pytest.raises(ValueError):
        curation.train_val_test_split(df, key_col="conv_id", weights=(0.5, 0.2, 0.2))


def test_pack_sequences_greedy_semantics(spark):
    rows = [
        ("a", 0, 100), ("a", 1, 100), ("a", 2, 60),   # 260 > 256 -> [100+100], [60..]
        ("a", 3, 90),                                  # 60+90=150 fits pack 1
        ("a", 4, 300),                                 # oversize -> own pack 2
        ("a", 5, 10),                                  # pack 3 (300+10 > 256)
        ("b", 0, 256),                                 # exactly max -> one pack
        ("b", 1, 1),                                   # 257 > 256 -> new pack
    ]
    df = spark.createDataFrame(rows, "src string, i int, tok long")
    got = {
        (r.src, r.i): r.pack_id
        for r in curation.pack_sequences(
            df, token_col="tok", max_tokens=256, part_col="src", order_cols=("i",)
        ).collect()
    }
    assert got == {
        ("a", 0): 0, ("a", 1): 0, ("a", 2): 1, ("a", 3): 1,
        ("a", 4): 2, ("a", 5): 3, ("b", 0): 0, ("b", 1): 1,
    }


def test_redact_pii_patterns(spark):
    df = spark.createDataFrame(
        [("mail a.b+c@x.co.uk call (555) 123-4567 or +1 555 123 4567 "
          "ssn 123-45-6789 host 10.0.0.1 end",)],
        "text string",
    )
    out = df.select(curation.redact_pii(F.col("text")).alias("r")).collect()[0]["r"]
    assert "<EMAIL>" in out and "@" not in out
    assert out.count("<PHONE>") == 2
    assert "<SSN>" in out and "123-45-6789" not in out
    assert "<IP>" in out and "10.0.0.1" not in out
    # kinds filter: only email
    out2 = df.select(curation.redact_pii(F.col("text"), kinds=("email",)).alias("r")).collect()[0]["r"]
    assert "<EMAIL>" in out2 and "123-45-6789" in out2


def test_pii_counts_map(spark):
    df = spark.createDataFrame([("a@b.io c@d.io ssn 111-22-3333",)], "text string")
    m = df.select(curation.pii_counts(F.col("text")).alias("m")).collect()[0]["m"]
    assert m["email"] == 2 and m["ssn"] == 1 and m["phone"] == 0


def test_null_keys_sample_and_split(spark):
    """NULL keys must not vanish from samples (rate=1.0 keeps ALL rows)
    and must land deterministically in one split group."""
    df = spark.createDataFrame([("a",), (None,), (None,)], "k string")
    assert curation.deterministic_sample(df, 1.0, "k").count() == 3
    out = curation.train_val_test_split(df, key_col="k").collect()
    null_splits = {r["split"] for r in out if r["k"] is None}
    assert len(null_splits) == 1  # one deterministic group


def test_pack_sequences_null_tokens(spark):
    """A NULL token count packs as 0 tokens instead of crashing the task."""
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, None), ("a", 3, 20)], "src string, i int, tok long"
    )
    got = {
        r.i: r.pack_id
        for r in curation.pack_sequences(df, "tok", 100, "src", ("i",)).collect()
    }
    assert got == {1: 0, 2: 0, 3: 0}


def test_simhash_bits_64(spark):
    from fscrawler_spark.functions import dedup

    df = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id long, text string")
    row = dedup.simhash(df, bits=64).collect()[0]
    assert isinstance(row["simhash"], int)  # bit 63 shift must not overflow plan build


def test_repetition_stats_known_values(spark):
    df = spark.createDataFrame(
        [(1, "go go go go"), (2, "all words differ here now"), (3, "one")],
        "doc_id long, text string",
    )
    got = {r.id: r for r in curation.repetition_stats(df, n=2).collect()}
    assert got[1]["ngram_total"] == 3 and got[1]["top_ngram_count"] == 3
    assert got[1]["rep_fraction"] == 1.0
    assert got[2]["top_ngram_count"] == 1
    # single-word doc has no bigrams (sequence guard) — emitted as an
    # explicit zero row since round 3, never silently dropped
    assert got[3]["ngram_total"] == 0 and got[3]["rep_fraction"] == 0.0


def test_value_type_parsers():
    """Reference value-type syntax (framework ByteSizeValue / TimeValue /
    Percentage parse semantics)."""
    from fscrawler_spark.config import parse_byte_size, parse_percentage, parse_time_value

    assert parse_byte_size("2kb") == 2048
    assert parse_byte_size("1m") == 1 << 20
    assert parse_byte_size("3GB") == 3 << 30
    assert parse_byte_size("1tb") == 1 << 40
    assert parse_byte_size("512b") == 512
    assert parse_byte_size("1024") == 1024
    assert parse_byte_size(77) == 77 and parse_byte_size(None) is None
    assert parse_time_value("15m") == 900.0
    assert parse_time_value("500ms") == 0.5
    assert parse_time_value("2h") == 7200.0
    with pytest.raises(ValueError, match="unit is missing"):
        parse_time_value("250")  # bare rejected, like TimeValue.java
    assert parse_percentage("30%") == 0.3
    assert parse_percentage("0.5") == 0.5
    assert parse_percentage(None) is None


def test_pack_sequences_property(spark):
    """Property: every pack's token total is <= max_tokens unless it holds
    a single oversize row, and pack ids are consecutive from 0 per group
    in order."""
    from hypothesis import given, settings as hsettings, strategies as st

    @hsettings(max_examples=12, deadline=None)
    @given(
        toks=st.lists(st.integers(min_value=0, max_value=150), min_size=1, max_size=24),
        cap=st.integers(min_value=50, max_value=200),
    )
    def check(toks, cap):
        rows = [("g", i, t) for i, t in enumerate(toks)]
        df = spark.createDataFrame(rows, "src string, i int, tok long")
        got = sorted(
            (r.i, r.pack_id, r.tok)
            for r in curation.pack_sequences(df, "tok", cap, "src", ("i",)).collect()
        )
        from collections import defaultdict

        sums = defaultdict(list)
        last_pack = -1
        for i, pack, tok in got:
            assert pack in (last_pack, last_pack + 1)  # consecutive, in order
            last_pack = max(last_pack, pack)
            sums[pack].append(tok)
        for members in sums.values():
            assert sum(members) <= cap or len(members) == 1  # oversize alone

    check()


def test_contamination_plan_broadcasts_benchmark(spark):
    """Scale shape: the benchmark n-gram side must broadcast so the
    corpus side never shuffles for the join."""
    corpus = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id long, text string")
    bench = spark.createDataFrame([(9, "a b c d e f g h")], "bench_id long, text string")
    plan = (
        curation.contamination_check(corpus, bench)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_single_shuffle(spark):
    df = spark.createDataFrame([("a", 1, 10)], "src string, i int, tok long")
    plan = (
        curation.pack_sequences(df, "tok", 100, "src", ("i",))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange") == 1  # only the part_col shuffle
    assert "FlatMapGroupsInArrow" in plan


@pytest.mark.parametrize("max_group_rows", [None, 2])
def test_pack_sequences_keeps_nullable_bigints_exact(spark, max_group_rows):
    """Passthrough columns cross the Python boundary as Arrow, so a
    nullable bigint above 2^53 comes back exact (a float64 round trip
    would turn 2^53+1 into 2^53)."""
    big = [2**53 + 1, None, 2**53 + 3]
    df = spark.createDataFrame(
        [("a", i, 10, v) for i, v in enumerate(big)],
        "src string, i int, tok long, v bigint",
    )
    out = curation.pack_sequences(
        df, "tok", 100, "src", ("i",), max_group_rows=max_group_rows
    )
    assert [r["v"] for r in out.orderBy("i").collect()] == big


def test_contamination_finds_lifted_window(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(1, f"prefix words {base} suffix words"), (2, "totally unrelated text "*5)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, base)], "bench_id long, text string")
    got = curation.contamination_check(corpus, bench, n=8, min_hits=1).collect()
    assert {(r.id, r.bench_id) for r in got} == {(1, 100)}
    hits = got[0]["hits"]
    assert hits == 3  # 10-word window contains 3 distinct 8-grams
