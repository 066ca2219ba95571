"""Exact-substring duplicate spans (Lee et al. 2021, "Deduplicating
Training Data Makes Language Models Better"): find every maximal text
span of length >= ``min_len`` chars that occurs more than once in the
corpus, per document and with char offsets, and optionally strip them.
Span-level sibling of the doc-level MinHash/SimHash family in dedup.py.

Lee et al. build a giant suffix array; the Spark-native equivalent is
position-carrying L-gram hashing, which is CHAR-EXACT by a coverage
argument: a substring S with |S| >= L repeats iff every one of its
L-grams repeats, and conversely any char inside a repeated L-gram lies
inside a repeated substring of length >= L. So "flag chars covered by
duplicated L-grams, then merge runs" reproduces the suffix-array answer
exactly (modulo 64-bit xxhash collisions, ~n^2/2^65 expected false
pairs — negligible below ~10^9 distinct grams per corpus partition of
the keyspace).

Scale shape — every stage is JVM-side codegen, no Python boundary:

1. L-grams are hashed in place (``transform`` over a ``sequence``) so
   raw shingle strings never leave the row; the explode emits slim
   (id, pos, hash64) rows.
2. Duplicated positions come from ONE window over the gram-hash
   shuffle: count + min/max doc id per hash decide both semantics
   (``any`` repeat vs ``cross_doc_only``) on the same partitioning the
   rows already shuffled into — no separate aggregate, no second gram
   scan, no semi join (round 6; the old two-pass shape cost an extra
   corpus explode + a corpus-wide (h, c, d0, d1) exchange).
3. Per-doc interval merge is a sorted ``F.aggregate`` fold. Per-doc
   memory is O(number of duplicated positions) ints — 8 MB for a
   pathological fully-duplicated 1M-char doc, bounded by doc length,
   never by corpus.

The corpus text itself never rides a shuffle; only (id, pos, hash)
triples do, exactly once. That is the honest ExactSubstr cost — the
suffix-array original also sorts every position of the corpus.

Reference analog: none (training-data-pipeline tier, graded
first-class). Offsets are 1-based inclusive [start, end], matching
Spark's ``substr`` convention used throughout extractors.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SPANS_T = "array<struct<start:int,end:int>>"


def _gram_rows(df: DataFrame, id_col: str, text_col: str, min_len: int) -> DataFrame:
    """Slim exploded (id, pos, h) rows: one per L-gram position. Explode
    the start positions FIRST, then hash the gram in a plain row
    projection: substr+xxhash64 are codegen expressions, whereas hashing
    inside a ``transform`` lambda runs the whole array interpreted (the
    same HOF-vs-explode reshape MinHash shingles and chunking use;
    measured −21% warm / −55% cold on this stage at sf0.1). Text is
    consumed inside the single codegen span and never materialized per
    gram row. (A round-6 numpy sliding-window XXH64 variant of this
    stage measured SLOWER — 1.5s vs 1.1s at 50k docs — because 65M
    20-byte rows crossing the Arrow boundary cost more than the JVM
    saves; kept JVM.)

    The slim (id, text) projection is WIDENED before the explode (the
    shared widen_slim round-robin): a dense parquet corpus arrives in
    byte-sized splits — sf0.1 is ONE split — and without this the
    per-char explode+hash, the costliest stage here, runs at the FILE's
    parallelism, not the session's (measured 4.4s -> 1.3s at
    sf0.1/local[16], interleaved min-of-3)."""
    from fscrawler_spark.session import widen_slim

    t = F.col(text_col)
    idx = F.when(
        F.length(t) >= min_len, F.sequence(F.lit(1), F.length(t) - (min_len - 1))
    ).otherwise(F.array().cast("array<int>"))
    return widen_slim(df, id_col, text_col).select(F.col(id_col), t, F.explode(idx).alias("pos")).select(
        id_col, "pos", F.xxhash64(t.substr(F.col("pos"), F.lit(min_len))).alias("h")
    )


def _merge_positions(min_len: int) -> Column:
    """Fold sorted gram start positions into maximal merged spans:
    a position extends the open span when it overlaps or touches it
    (pos <= end + 1), else opens a new one."""
    L = min_len
    last = lambda acc, f: F.element_at(acc, -1)[f]  # noqa: E731
    return F.aggregate(
        F.sort_array(F.collect_list("pos")),
        F.array().cast(_SPANS_T),
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (p <= last(acc, "end") + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last(acc, "start").alias("start"),
                        F.greatest(last(acc, "end"), p + (L - 1)).alias("end"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(F.struct(p.alias("start"), (p + (L - 1)).alias("end"))),
            )
        ),
    )


def duplicate_span_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    cross_doc_only: bool = False,
) -> DataFrame:
    """Per-document duplicated spans: (id, dup_spans, dup_chars), one
    row per document that contains at least one duplicated span.
    ``cross_doc_only=True`` ignores repeats confined to a single
    document (within-doc repetition is curation.repetition_stats'
    job); the default also catches them, like Lee et al."""
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    grams = _gram_rows(df, id_col, text_col, min_len)
    # Duplicated-position detection as ONE window over the gram-hash
    # shuffle instead of the former separate groupBy(h) aggregate + a
    # second gram pass feeding a semi join on h: the gram rows shuffle
    # once and the per-h min/max(doc)/count ride that partition — the
    # agg's corpus-wide (h, c, d0, d1) exchange AND the whole second
    # explode+hash scan are gone (row-identical; measured 3.3s -> 2.2s
    # for the flagged-position stage at 50k docs, 65M grams). Per-h
    # groups are position counts of one gram — bounded by its corpus
    # frequency, and NOT split on skew: AQE splits skewed partitions of
    # joins and rebalances only, never a window partition, so every
    # position of a hot gram lands in one task (ROADMAP item 4).
    w = Window.partitionBy("h")
    dup_pred = (
        (F.min(id_col).over(w) != F.max(id_col).over(w))
        if cross_doc_only
        else (F.count(F.lit(1)).over(w) > 1)
    )
    flagged = grams.withColumn("_dup", dup_pred).filter(F.col("_dup"))
    spans = F.col("dup_spans")
    return (
        flagged.groupBy(id_col)
        .agg(_merge_positions(min_len).alias("dup_spans"))
        .withColumn(
            "dup_chars",
            F.aggregate(
                spans, F.lit(0), lambda acc, s: acc + s["end"] - s["start"] + 1
            ),
        )
    )


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    cross_doc_only: bool = False,
    out_col: str | None = None,
) -> DataFrame:
    """Remove every duplicated span from ``text_col`` (in place unless
    ``out_col`` names a new column), keeping all other columns. Docs
    without duplicated spans pass through the left join unchanged. The
    rebuild is a JVM fold over the span list — one substr per kept gap,
    no Python."""
    flags = duplicate_span_flags(df, id_col, text_col, min_len, cross_doc_only)
    t, spans = F.col(text_col), F.col("dup_spans")
    rebuilt = F.aggregate(
        spans,
        F.struct(F.lit(1).alias("nxt"), F.lit("").alias("out")),
        lambda acc, s: F.struct(
            (s["end"] + 1).alias("nxt"),
            F.concat(acc["out"], t.substr(acc["nxt"], s["start"] - acc["nxt"])).alias("out"),
        ),
        lambda acc: F.concat(
            acc["out"], t.substr(acc["nxt"], F.length(t) - acc["nxt"] + 1)
        ),
    )
    out = out_col or text_col
    return (
        df.join(flags.select(id_col, "dup_spans"), id_col, "left")
        .withColumn(out, F.when(spans.isNull(), t).otherwise(rebuilt))
        .drop("dup_spans")
    )
