"""Text-analysis columns for a large-scale training-data pipeline:
language ID, quality scoring, token counting, fingerprinting.

Everything here is a JVM-side column expression (whole-stage codegen,
no Python boundary) except the n-gram language-ID model, which is an
Arrow UDF over precomputed profiles. Each helper has an
ANSI-SQL twin used by the DuckDB oracle in __spark_entry__.py.
"""

from __future__ import annotations

import pyarrow as pa  # module top: arrow_udf type hints must resolve at import
from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic stopword profiles for the heuristic language scorer.
LANG_PROFILES = {
    "en": {"the", "a", "of", "and", "to", "in", "is", "that", "it", "for"},
    "es": {"el", "la", "de", "que", "y", "en", "un", "por", "con", "los"},
    "de": {"der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"},
    "fr": {"le", "la", "de", "et", "les", "des", "un", "une", "dans", "est"},
}

EN_STOPWORDS = sorted(LANG_PROFILES["en"])


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/blank strings count 0.

    Counted as separator RUNS + 1 instead of sizing a split array —
    value-identical (split with limit -1 keeps leading/trailing empties,
    which is exactly runs+1 on the trimmed text) without allocating the
    throwaway token array per row."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.regexp_count(t, F.lit(r"\s+")) + 1
    )


def punct_ratio(text: Column) -> Column:
    """Fraction of non-space chars that are ASCII punctuation."""
    nospace = F.regexp_replace(text, r"\s+", "")
    punct = F.regexp_replace(nospace, r"[^!-/:-@\[-`{-~]", "")
    return F.when(F.length(nospace) == 0, F.lit(0.0)).otherwise(
        F.length(punct) / F.length(nospace)
    )


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    words = F.split(F.lower(F.trim(text)), r"\s+")
    sw = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    total = F.size(words)
    return F.when(total == 0, F.lit(0.0)).otherwise(hits / total)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards mid-length docs with low
    punctuation noise and a natural stopword rate. Deterministic; tuned for
    filtering, not ranking."""
    n = F.length(text)
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    sw = stopword_ratio(text)
    sw_score = F.lit(1.0) - F.least(F.abs(sw - F.lit(0.15)) * 3, F.lit(1.0))
    # NULL-in-NULL-out: F.least SKIPS null arguments, so without the
    # guard a NULL doc scored 0.333 (len_score collapsed to the 1.0
    # literal) — outranking real low-quality docs
    return F.when(
        text.isNotNull(), F.round((len_score + punct_pen + sw_score) / 3, 6)
    ).otherwise(F.lit(None).cast("double"))


def fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token set of the lowercased text (classic dedup fingerprinting; robust
    to word order / duplication)."""
    words = F.array_sort(F.array_distinct(F.split(F.lower(F.trim(text)), r"\s+")))
    return F.md5(F.array_join(words, " "))


def normalized_text(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def langid_udf():
    """Character-trigram cosine language ID as an Arrow UDF —
    the T9 analog (TikaDocParser.java:336-355 Optimaize detector)."""
    profiles = {
        "en": "the and ing ion to of in is it that for was with as his on be at by",
        "es": "de la que el en los se del las por un para con una su al es lo como",
        "de": "der die und den von zu das mit sich des auf ist im dem nicht ein",
        "fr": "de la le et les des en un du une que est pour qui dans par sur au",
        "zh": "的 一 是 了 我 不 人 在 他 有 这 个 上 们 来 到 时 大 地 为",
    }

    def trigrams(s: str) -> set[str]:
        s = " " + s.lower() + " "
        return {s[i : i + 3] for i in range(len(s) - 2)}

    prof_tris = {k: trigrams(v) for k, v in profiles.items()}

    @F.arrow_udf("string")
    def _langid(text: pa.Array) -> pa.Array:
        out = []
        for t in text.to_pylist():
            if not t:
                out.append("und")
                continue
            tt = trigrams(t[:2000])
            best, best_score = "und", 0.0
            for lang in sorted(prof_tris):
                prof = prof_tris[lang]
                inter = len(tt & prof)
                # true binary cosine (|A∩B| / sqrt(|A||B|)) — raw
                # intersection counts would bias toward languages with
                # larger trigram profiles
                score = inter / ((len(tt) * len(prof)) ** 0.5) if tt else 0.0
                if score > best_score:
                    best, best_score = lang, score
            out.append(best)
        return pa.array(out, pa.string())

    return _langid
