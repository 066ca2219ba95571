"""Round 4: BPE tokenizer training + encoding (functions/bpe.py,
Sennrich et al. 2016). The oracle is an INDEPENDENT naive Python
implementation written straight from the paper's pseudocode (collections
+ re, no shared helpers with the module), so an algorithmic slip in
either copy shows as a mismatch.
"""

import collections
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from fscrawler_spark.functions.bpe import (
    END,
    bpe_encode,
    learn_bpe_from_histogram,
    merges_table,
    train_bpe,
    word_histogram,
)

CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "wider wider wider new new",
    "the newest widest lowest",
]


# --- independent oracle (Sennrich 2016 pseudocode, stdlib only) -----------


def _oracle_learn(texts, num_merges, min_freq=2, lowercase=False):
    vocab = collections.Counter()
    for t in texts:
        if t is None:
            continue
        for w in (t.lower() if lowercase else t).split():
            vocab[" ".join(list(w) + [END])] += 1
    merges = []
    for _ in range(num_merges):
        pairs = collections.Counter()
        for word, freq in vocab.items():
            syms = word.split(" ")
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += freq
        if not pairs:
            break
        # max freq, ties -> lexicographically smallest pair
        best = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if best[1] < min_freq:
            break
        pair = best[0]
        pat = re.compile(
            r"(?<!\S)" + re.escape(pair[0] + " " + pair[1]) + r"(?!\S)"
        )
        vocab = collections.Counter(
            {pat.sub("".join(pair), w): f for w, f in vocab.items()}
        )
        merges.append(pair)
    return merges


def _oracle_encode_word(word, merges):
    syms = list(word) + [END]
    for a, b in merges:  # apply merges in learned order
        i = 0
        while i < len(syms) - 1:
            if syms[i] == a and syms[i + 1] == b:
                syms[i : i + 2] = [a + b]
            else:
                i += 1
    return syms


# --- training ---------------------------------------------------------------


def _df(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")


def test_merges_match_independent_oracle(spark):
    got = train_bpe(_df(spark, CORPUS), num_merges=12, min_freq=2)
    assert got == _oracle_learn(CORPUS, 12, min_freq=2)
    assert len(got) > 0


def test_min_freq_stops_early(spark):
    # one tiny doc: after the frequent merges are exhausted every pair is
    # freq 1 < min_freq=2 -> loop stops before num_merges
    texts = ["ab ab ab xyz"]
    got = train_bpe(_df(spark, texts), num_merges=50, min_freq=2)
    assert got == _oracle_learn(texts, 50, min_freq=2)
    assert len(got) < 50


def test_word_histogram_matches_duckdb(spark):
    sdf = _df(spark, CORPUS + [None, "", "   "])
    got = {
        (r["word"], r["freq"]) for r in word_histogram(sdf, "text").collect()
    }
    df = sdf.toPandas()  # noqa: F841 - DuckDB replacement scan reads it
    con = duckdb.connect()
    exp = set(
        con.execute(
            """
            SELECT word, count(*) AS freq FROM (
              SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
              FROM df WHERE text IS NOT NULL AND len(trim(text)) > 0
            ) GROUP BY word
            """
        ).fetchall()
    )
    assert got == exp


def test_training_is_partitioning_stable(spark):
    df = _df(spark, CORPUS * 3)
    a = train_bpe(df, num_merges=8)
    b = train_bpe(df.repartition(7), num_merges=8)
    assert a == b


def test_param_validation(spark):
    df = _df(spark, CORPUS)
    with pytest.raises(ValueError):
        train_bpe(df, num_merges=-1)
    with pytest.raises(ValueError):
        train_bpe(df, num_merges=1, min_freq=0)
    with pytest.raises(ValueError):
        train_bpe(df, num_merges=1, max_words=0)


def test_max_words_bound_is_deterministic():
    # bounded histogram cannot change merges when the cut only drops
    # freq-1 tail words that can never win a merge at min_freq=2
    hist = [("low", 9), ("lower", 4), ("zzz", 1), ("yyy", 1)]
    full = learn_bpe_from_histogram(hist, 6, min_freq=2)
    cut = learn_bpe_from_histogram(hist[:2], 6, min_freq=2)
    assert full == cut


# --- encoding ---------------------------------------------------------------


def test_encode_matches_oracle_and_round_trips(spark):
    merges = train_bpe(_df(spark, CORPUS), num_merges=10)
    texts = CORPUS + ["unseen tokens here", None, ""]
    out = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_encode(_df(spark, texts), merges).collect()
    }
    for i, t in enumerate(texts):
        if t is None:
            assert out[i] is None
            continue
        exp = []
        for w in t.split():
            exp.extend(_oracle_encode_word(w, merges))
        assert out[i] == exp, (t, out[i], exp)
        # round trip: tokens reassemble to the exact whitespace-normal text
        joined = "".join(out[i]).replace(END, " ").rstrip()
        assert joined == " ".join(t.split())


def test_token_count_and_merges_table(spark):
    merges = train_bpe(_df(spark, CORPUS), num_merges=10)
    mt = merges_table(spark, merges)
    assert [(r.left, r.right) for r in mt.orderBy("rank").collect()] == merges
    counts = {
        r["doc_id"]: len(r["toks"] or [])
        for r in bpe_encode(_df(spark, ["low low", None]), merges, out_col="toks").collect()
    }
    assert counts[1] == 0 and counts[0] >= 2


# --- plan shape -------------------------------------------------------------


def test_histogram_plan_one_exchange_no_python(spark):
    plan = word_histogram(_df(spark, CORPUS), "text")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2  # widen round-robin + agg hash exchange
    assert "hashpartitioning(word" in plan
    assert "EvalPython" not in plan  # explode/agg all JVM


def test_bounded_cut_uses_take_ordered(spark):
    hist = word_histogram(_df(spark, CORPUS), "text")
    plan = (
        hist.orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan  # never a global sort


def test_encode_plan_no_shuffle(spark):
    merges = [("l", "o")]
    plan = (
        bpe_encode(_df(spark, CORPUS), merges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # encoding rides the scan partitioning
    assert "ArrowEvalPython" in plan  # Arrow UDF, not row-at-a-time


# --- property tests (driver-side pure functions; no Spark per example) ------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_words_st = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=8), min_size=1, max_size=20
)


@settings(max_examples=200, deadline=None)
@given(words=_words_st, freqs=st.lists(st.integers(1, 9), min_size=20, max_size=20),
       n=st.integers(0, 30))
def test_property_merge_loop_matches_oracle(words, freqs, n):
    hist = [(w, f) for w, f in zip(words, freqs)]
    texts = [" ".join([w] * f) for w, f in hist]
    got = learn_bpe_from_histogram(
        [(w, sum(f for x, f in hist if x == w)) for w in dict.fromkeys(words)],
        n, min_freq=2,
    )
    assert got == _oracle_learn(texts, n, min_freq=2)


@settings(max_examples=200, deadline=None)
@given(corpus=_words_st, word=st.text(alphabet="abcdef", min_size=1, max_size=12),
       n=st.integers(0, 20))
def test_property_encode_matches_inorder_oracle_and_roundtrips(corpus, word, n):
    from fscrawler_spark.functions.bpe import _encode_word

    merges = _oracle_learn([" ".join(corpus)], n, min_freq=1)
    ranks = {p: i for i, p in enumerate(merges)}
    toks = _encode_word(word, ranks)
    # greedy lowest-rank merging == applying merges in learned order
    assert toks == _oracle_encode_word(word, merges)
    # concatenation is invariant under merging
    assert "".join(toks) == word + END


def test_histogram_no_empty_words_and_ws_parity(spark):
    """Round-4 review fix: texts ending in '\\n' used to emit a bogus
    '' histogram row (leading/trailing split tokens), and NBSP trained
    as a word character (Java \\s) while encoding split on it (Python
    str.split) — train/encode tokenizations now agree by construction
    on one explicit whitespace class."""
    df = spark.createDataFrame(
        [("hi\n",), ("a\u00a0b",), ("  \t ",), (None,)], "text string"
    )
    hist = {r["word"]: r["freq"] for r in word_histogram(df).collect()}
    assert hist == {"hi": 1, "a": 1, "b": 1}

    toks = [
        r["bpe_tokens"]
        for r in bpe_encode(df, [], text_col="text")
        .select("bpe_tokens")
        .collect()
    ]
    assert toks[0] == ["h", "i", END]
    assert toks[1] == ["a", END, "b", END]  # NBSP separates on BOTH sides
    assert toks[2] == []
    assert toks[3] is None
