"""Round 4: C4 cleaning recipe (curation.c4_quality_flags — Raffel et
al. 2020 §2.2). Hand-computed line fixtures per rule, a DuckDB value twin over a woven fixture, and plan
pins (all-JVM, no shuffle).
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from fscrawler_spark.functions.curation import (
    C4_POLICY_SUBSTRINGS,
    c4_quality_flags,
)

PAGE = "\n".join(
    [
        "This is a perfectly fine first sentence with many words.",  # kept
        "short line.",  # dropped: < 5 words
        "This line has plenty of words but no terminal punctuation",  # dropped
        "  A padded line that should be kept after trimming, yes it is.  ",  # kept, trimmed
        "Enable JavaScript to view the comments powered by Disqus.",  # dropped: javascript
        "This site uses cookies to improve your experience overall.",  # dropped: policy
        "Is this a question that still counts as a kept line?",  # kept: '?'
        'He said the quoted words end this line properly enough "fine"',  # dropped: ends in unquoted word? no — ends with '"' -> kept
        "",  # dropped: empty
    ]
)

KEPT = [
    "This is a perfectly fine first sentence with many words.",
    "A padded line that should be kept after trimming, yes it is.",
    "Is this a question that still counts as a kept line?",
    'He said the quoted words end this line properly enough "fine"',
]


def _clean(spark, text, **kw):
    return _flags(spark, text, **kw).cleaned_text


def _flags(spark, text, **kw):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(c4_quality_flags("text", **kw).alias("q")).collect()[0].q


def test_line_rules_hand_computed(spark):
    assert _clean(spark, PAGE) == "\n".join(KEPT)


def test_line_knobs(spark):
    # javascript/policy dropping is opt-out-able; word floor is a knob
    kept = _clean(
        spark, PAGE, drop_javascript_lines=False, drop_policy_lines=False
    )
    assert "JavaScript" in kept and "uses cookies" in kept
    assert "short line." in _clean(spark, PAGE, min_words_per_line=2)


def test_page_flags_hand_computed(spark):
    q = _flags(spark, PAGE)
    assert q.cleaned_text == "\n".join(KEPT)
    assert q.n_lines == PAGE.count("\n") + 1
    assert q.n_lines_kept == len(KEPT)
    # sentence approximation: terminal marks in the cleaned text
    assert q.n_sentences == sum(
        l.count(".") + l.count("!") + l.count("?") for l in KEPT
    )
    assert q.passes and q.fail_reasons == []


@pytest.mark.parametrize(
    "text,reason",
    [
        (None, "null_text"),
        ("One kept sentence only, nothing more to say today friend.", "too_few_sentences"),
        (
            "A config block {braces} inside an otherwise fine sentence here.\n"
            "Second sentence keeps the page long enough to pass count.\n"
            "Third sentence closes out the minimum sentence requirement now.",
            "has_curly_brace",
        ),
        (
            "Lorem ipsum dolor sit amet consectetur adipiscing elit sed do.\n"
            "Second sentence keeps the page long enough to pass count.\n"
            "Third sentence closes out the minimum sentence requirement now.",
            "has_lorem_ipsum",
        ),
    ],
)
def test_each_page_rule_trips(spark, text, reason):
    q = _flags(spark, text)
    assert not q.passes
    assert reason in q.fail_reasons, (reason, q.fail_reasons)


def test_bad_words_word_boundary(spark):
    three = (
        "The word badword appears inside this first full sentence here.\n"
        "Second sentence keeps the page long enough to pass count.\n"
        "Third sentence closes out the minimum sentence requirement now."
    )
    q = _flags(spark, three, bad_words=("badword",))
    assert "has_bad_word" in q.fail_reasons
    # substring inside a longer word does NOT trip (word boundary)
    q2 = _flags(spark, three.replace("badword", "notabadwordish"), bad_words=("badword",))
    assert "has_bad_word" not in q2.fail_reasons
    # default: no list vendored -> rule never fires
    assert "has_bad_word" not in _flags(spark, three).fail_reasons


def test_policy_substrings_are_public_list():
    assert "privacy policy" in C4_POLICY_SUBSTRINGS


def test_duckdb_value_twin(spark):
    # woven fixture: ids weave curly/lorem/short pages through clean ones
    rows = []
    for i in range(60):
        base = (
            f"Document {i} starts with a full first sentence right here.\n"
            f"tiny {i}.\n"
            f"The second kept sentence of document {i} lands here as well.\n"
            f"The third kept sentence of document {i} closes the page out."
        )
        if i % 5 == 0:
            base += "\nA brace {x} sneaks into this otherwise kept sentence."
        if i % 7 == 0:
            base += "\nLorem ipsum dolor sit amet is woven into this sentence."
        rows.append((i, base))
    sdf = spark.createDataFrame(rows, "doc_id int, text string")
    q = c4_quality_flags("text")
    got = {
        r["doc_id"]: (
            r["n_lines_kept"], r["n_sentences"], r["passes"],
            tuple(r["fail_reasons"]), r["cleaned_text"],
        )
        for r in sdf.select(
            "doc_id",
            q["n_lines_kept"].alias("n_lines_kept"),
            q["n_sentences"].alias("n_sentences"),
            q["passes"].alias("passes"),
            q["fail_reasons"].alias("fail_reasons"),
            q["cleaned_text"].alias("cleaned_text"),
        ).collect()
    }
    df = sdf.toPandas()  # noqa: F841 - DuckDB replacement scan
    con = duckdb.connect()
    exp_rows = con.execute(
        """
        WITH m AS (
          SELECT doc_id,
            list_transform(
              list_filter(string_split(text, chr(10)), l ->
                CASE WHEN len(trim(l)) > 0
                     THEN len(string_split_regex(trim(l), '\\s+')) ELSE 0 END >= 5
                AND regexp_matches(trim(l), '[.!?"'']$')
                AND NOT contains(lower(trim(l)), 'javascript')
                AND NOT contains(lower(trim(l)), 'terms of use')
                AND NOT contains(lower(trim(l)), 'privacy policy')
                AND NOT contains(lower(trim(l)), 'cookie policy')
                AND NOT contains(lower(trim(l)), 'uses cookies')
                AND NOT contains(lower(trim(l)), 'use of cookies')
                AND NOT contains(lower(trim(l)), 'use cookies')
              ), l -> trim(l)) AS kept
          FROM df
        ), c AS (
          SELECT doc_id, kept, array_to_string(kept, chr(10)) AS cleaned
          FROM m
        )
        SELECT doc_id, len(kept) AS n_kept,
               len(regexp_extract_all(cleaned, '[.!?]')) AS n_sent,
               contains(lower(cleaned), '{') OR contains(lower(cleaned), '}') AS curly,
               contains(lower(cleaned), 'lorem ipsum') AS lorem,
               cleaned
        FROM c
        """
    ).fetchall()
    for doc_id, n_kept, n_sent, curly, lorem, cleaned in exp_rows:
        reasons = []
        if n_sent < 3:
            reasons.append("too_few_sentences")
        if curly:
            reasons.append("has_curly_brace")
        if lorem:
            reasons.append("has_lorem_ipsum")
        assert got[doc_id] == (
            n_kept, n_sent, not reasons, tuple(reasons), cleaned
        ), doc_id


def test_plan_all_jvm_no_shuffle(spark):
    sdf = spark.createDataFrame([(1, PAGE)], "doc_id int, text string")
    plan = (
        sdf.select("doc_id", c4_quality_flags("text").alias("q"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_randomized_batch_matches_python_twin(spark):
    """200 seeded random multi-line texts vs an independent pure-Python
    twin of the full recipe (one Spark job for the whole batch)."""
    import random

    rng = random.Random(20260818)
    frags = [
        "plain words with no mark", "This sentence ends properly.",
        "short.", "Is it kept?", "No JavaScript here you say!",
        "we use cookies", "a { brace", "lorem ipsum inline",
        "   padded but fine sentence with enough words here.   ",
        "", "x", "one two three four five six.",
    ]
    texts = [
        "\n".join(rng.choice(frags) for _ in range(rng.randint(0, 8)))
        for _ in range(200)
    ]

    def keep(line):
        t = line.strip()
        words = t.split() if t else []
        if len(words) < 5 or not t or t[-1] not in '.!?"\'':
            return False
        low = t.lower()
        if "javascript" in low:
            return False
        return not any(s in low for s in C4_POLICY_SUBSTRINGS)

    def twin(text):
        kept = [l.strip() for l in text.split("\n") if keep(l)]
        cleaned = "\n".join(kept)
        low = cleaned.lower()
        reasons = []
        if sum(cleaned.count(c) for c in ".!?") < 3:
            reasons.append("too_few_sentences")
        if "{" in low or "}" in low:
            reasons.append("has_curly_brace")
        if "lorem ipsum" in low:
            reasons.append("has_lorem_ipsum")
        return (cleaned, len(kept), not reasons, tuple(reasons))

    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    q = c4_quality_flags("text")
    got = {
        r["doc_id"]: (
            r["cleaned"], r["kept"], r["passes"], tuple(r["reasons"])
        )
        for r in sdf.select(
            "doc_id",
            q["cleaned_text"].alias("cleaned"),
            q["n_lines_kept"].alias("kept"),
            q["passes"].alias("passes"),
            q["fail_reasons"].alias("reasons"),
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == twin(t), (i, repr(t), got[i], twin(t))


def test_whitespace_class_tab_nbsp(spark):
    """Round-4 review fix: F.trim strips only 0x20, so a leading tab
    inflated the split word count by an empty first token (4-word lines
    survived the <5 floor) and a trailing tab/NBSP defeated the
    terminal-punct check (good lines were dropped). The rules now trim
    ASCII whitespace + NBSP on both ends before judging."""
    tab_short = "\tone two three four."  # 4 real words -> dropped
    nbsp_tail = "A full proper sentence with enough words here.\u00a0"  # kept
    tab_tail = "Another proper sentence with plenty of words too.\t"  # kept
    nbsp_mid = "alpha\u00a0beta gamma delta epsilon zeta."  # NBSP splits: 6 words, kept
    page = "\n".join([tab_short, nbsp_tail, tab_tail, nbsp_mid])
    assert _clean(spark, page) == "\n".join(
        [
            "A full proper sentence with enough words here.",
            "Another proper sentence with plenty of words too.",
            nbsp_mid,
        ]
    )
