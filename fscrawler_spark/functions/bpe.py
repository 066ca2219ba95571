"""BPE tokenizer training + encoding over the corpus.

Reference scope: FSCrawler only *counts* terms (TermsAggregation,
``elasticsearch/.../FsCrawlerDocumentService.java`` term aggs surface);
a training-data engine additionally needs a real subword vocabulary.
This module implements byte-pair encoding (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units") with the
standard corpus-scale shape every production tokenizer trainer uses
(HF tokenizers, SentencePiece in BPE mode):

1. ONE distributed pass builds the word histogram — a codegen
   explode + hash aggregate with map-side partial combine. At 100 TB
   this is the only job that touches the corpus, and it reduces to
   ``O(distinct words)`` rows.
2. The merge loop runs on the DRIVER over the bounded histogram
   (``max_words`` top words by frequency — the histogram's long tail is
   freq-1 noise that can never win a merge above ``min_freq``). This is
   deliberate: pair-merge iterations are sequential by definition
   (merge k+1 depends on k), so distributing them buys nothing but
   per-iteration job overhead; the histogram is small (``max_words``
   rows) and the loop is O(num_merges * total symbol length).
3. Encoding is embarrassingly parallel: the merge table broadcasts to
   every executor and an Arrow UDF encodes each text,
   memoizing per-word encodings per batch (Zipf makes the hit rate
   high). No shuffle at all — encoding rides whatever partitioning the
   scan produced.

Words are whitespace pre-tokens with the Sennrich ``</w>`` end-of-word
marker, so ``decode == ' '.join(words)`` exactly (tested as a
round-trip invariant). Determinism: merge ties break on the
lexicographically smallest pair, and the histogram bound takes the top
``max_words`` by (freq DESC, word ASC) via TakeOrderedAndProject, so
training is partitioning-stable (pinned by tests).
"""

from __future__ import annotations

import functools
import re

import pyarrow as pa  # module top: arrow_udf type hints must resolve at import
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, StringType

from ..session import widen_slim
from .curation import WS_SPLIT_JAVA, ws_trim
from .memo import CappedMemo

# Worker-resident word->tokens memo (memo.py), keyed by the merge-table
# fingerprint so a re-trained tokenizer can never serve stale encodings.
_ENCODE_MEMO: dict[str, CappedMemo] = {}

END = "</w>"

# Python twin of curation.WS_SPLIT_JAVA (Java \s + NBSP), so the words
# the histogram trains on are EXACTLY the words the encode UDF splits —
# str.split() would additionally split on exotic Unicode whitespace the
# JVM histogram treats as word characters, skewing encodings off the
# trained distribution.
_WS_PY = re.compile("[ \t\n\x0b\f\r\u00a0]+")


def _py_words(text: str) -> list[str]:
    return [w for w in _WS_PY.split(text) if w]


def _words(text_col, lowercase: bool) -> F.Column:
    t = ws_trim(F.lower(text_col) if lowercase else text_col)
    arr = F.when(F.length(t) > 0, F.split(t, WS_SPLIT_JAVA)).otherwise(
        F.array().cast("array<string>")
    )
    return arr


def word_histogram(
    df: DataFrame, text_col: str = "text", lowercase: bool = False
) -> DataFrame:
    """``(word, freq)`` over the corpus: explode + one hash aggregate.

    The explode amplifies per-row CPU, so the slim projection is widened
    first (no-op at real scale, see session.widen). NULL/blank texts
    contribute nothing.
    """
    slim = widen_slim(df, text_col)
    return (
        slim.select(F.explode(_words(F.col(text_col), lowercase)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _bounded_histogram(
    hist: DataFrame, max_words: int
) -> list[tuple[str, int]]:
    # orderBy().limit() lowers to TakeOrderedAndProject: no global sort,
    # each task keeps a max_words heap. (freq DESC, word ASC) makes the
    # cut deterministic across partitionings.
    rows = (
        hist.orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(int(max_words))
        .collect()
    )
    return [(r["word"], int(r["freq"])) for r in rows]


def learn_bpe_from_histogram(
    histogram: list[tuple[str, int]],
    num_merges: int,
    min_freq: int = 2,
) -> list[tuple[str, str]]:
    """Driver-side Sennrich merge loop over a bounded word histogram.

    Each word is a symbol sequence ``chars + [</w>]``; every iteration
    picks the most frequent adjacent pair (ties: lexicographically
    smallest) and fuses it corpus-wide. Stops early when no pair
    reaches ``min_freq``.
    """
    if num_merges < 0 or min_freq < 1:
        raise ValueError(
            f"num_merges must be >= 0 and min_freq >= 1 "
            f"(got {num_merges}, {min_freq})"
        )
    vocab: dict[tuple[str, ...], int] = {}
    for word, freq in histogram:
        syms = tuple(word) + (END,)
        vocab[syms] = vocab.get(syms, 0) + int(freq)

    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, freq in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_freq:
            break
        (la, lb), _cnt = best
        fused = la + lb
        nxt: dict[tuple[str, ...], int] = {}
        for syms, freq in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == la and syms[i + 1] == lb:
                    out.append(fused)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + freq
        vocab = nxt
        merges.append((la, lb))
    return merges


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 200,
    min_freq: int = 2,
    max_words: int = 200_000,
    lowercase: bool = False,
) -> list[tuple[str, str]]:
    """Distributed histogram + driver merge loop. See module docstring
    for why this split is the right 100-TB shape."""
    if max_words < 1:
        raise ValueError(f"max_words must be >= 1 (got {max_words})")
    hist = word_histogram(df, text_col, lowercase=lowercase)
    return learn_bpe_from_histogram(
        _bounded_histogram(hist, max_words), num_merges, min_freq=min_freq
    )


def merges_table(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """The learned merges as a tiny DataFrame (rank, left, right,
    merged) — the persistable artifact a downstream encode job reads."""
    rows = [(i, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(rows, "rank int, left string, right string, merged string")


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def _word_memo(ranks_key: str, ranks: dict) -> CappedMemo:
    """The worker's word memo for one merge table. A module-level
    function, so the UDF closure pickles it by reference and every task
    on a reused worker shares ``_ENCODE_MEMO`` (a global the closure
    named itself would be pickled by value: a fresh dict per task)."""
    cache = _ENCODE_MEMO.get(ranks_key)
    if cache is None:
        # one live merge table per worker is the common case — drop
        # stale tables rather than growing per re-train
        _ENCODE_MEMO.clear()
        cache = _ENCODE_MEMO[ranks_key] = CappedMemo(functools.partial(_encode_word, ranks=ranks))
    return cache


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    lowercase: bool = False,
) -> DataFrame:
    """Append ``out_col: array<string>`` — the BPE token sequence.

    Merge ranks broadcast once per executor (the table is
    ``num_merges`` rows — KB-scale); encoding is an Arrow UDF whose
    per-word memo (memo.CappedMemo, keyed by the merge table's
    fingerprint) makes the common words free after the first hit, where
    the former per-batch cache re-derived them every 2000 rows. Values
    are a pure function of (word, merges), so caching cannot change any
    encoding. This is the sanctioned Python slow path:
    subword merging is genuinely not expressible in Catalyst
    expressions, and the UDF rides the scan partitioning (no shuffle).
    """
    import hashlib
    import pickle

    ranks = {pair: i for i, pair in enumerate(merges)}
    ranks_key = hashlib.md5(pickle.dumps(merges)).hexdigest()

    @F.arrow_udf(ArrayType(StringType()))
    def _enc(texts: pa.Array) -> pa.Array:
        cache = _word_memo(ranks_key, ranks)

        def enc(text):
            if text is None:
                return None
            toks: list[str] = []
            for w in _py_words(text.lower() if lowercase else text):
                toks.extend(cache[w])
            return toks

        return pa.array([enc(t) for t in texts.to_pylist()], pa.list_(pa.string()))

    return df.withColumn(out_col, _enc(F.col(text_col)))
