"""Training-data curation operators: the pieces a large-scale LLM data
pipeline needs AROUND extraction and dedup — stable sampling/splits,
sequence packing, PII redaction, repetition quality, and benchmark
contamination checks.

Everything except pack_sequences is a pure DataFrame composition (no
Python UDFs — whole-stage codegen, shuffles only where a groupBy/join
key demands one); pack_sequences alone carries running state and runs as
an applyInArrow grouped map. Determinism everywhere — sampling and
splits hash content keys rather than using RNG state, so adding
executors, re-running, or resuming never changes which rows are selected
(the property that makes 100-TB incremental pipelines reproducible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fscrawler_spark.functions.dedup import _md5_key
from fscrawler_spark.functions.text_analysis import EN_STOPWORDS
from fscrawler_spark.session import widen_slim

# hash-bucket denominator for sampling/splits: md5 (not xxhash64) so the
# selection is reproducible in ANY engine, oracle included
_BUCKETS = 1_000_000

# One whitespace definition for trims and word splits: Java's \s (Spark)
# is ASCII-only, RE2's \s (DuckDB oracle) additionally misses \x0B, and
# Python's \s is full-Unicode — relying on any engine's alias makes word
# counts disagree on tab/NBSP-padded web text. The class is therefore
# ASCII whitespace + NBSP, spelled per engine; bpe._WS_PY is the Python
# twin and the DuckDB oracles spell it [\s\x0B\x{00A0}].
WS_TRIM_JAVA = "^[\\s\\u00A0]+|[\\s\\u00A0]+$"
WS_SPLIT_JAVA = "[\\s\\u00A0]+"


def ws_trim(col) -> F.Column:
    """str.strip()-like trim: whitespace INCLUDING tab/\\r/NBSP from both
    ends. F.trim strips only 0x20, which silently inflates split-based
    word counts (a leading tab makes split emit an empty first token)."""
    return F.regexp_replace(col, WS_TRIM_JAVA, "")


def _hash_bucket(key_col, salt: str = "") -> F.Column:
    """Uniform bucket in [0, 1e6) from md5 of the key (+salt), built on
    the shared cross-engine salted hash (dedup._md5_key, which owns the
    NULL-as-'<null>' sentinel convention)."""
    return _md5_key(key_col, salt) % _BUCKETS


def _word_ngram_rows(
    df: DataFrame, id_col: str, text_col: str, n: int, outer: bool
) -> DataFrame:
    """(id, g) rows — one per word n-gram of the trimmed, lowercased
    text. The start positions explode FIRST and the gram is built in a
    plain row projection (slice+array_join are codegen expressions; the
    former ``transform`` lambda ran the whole gram array interpreted —
    the HOF-vs-explode reshape shared with MinHash shingles and
    exact-substr grams; −19% warm / −59% cold at sf0.1). Guard: Spark's
    sequence(1, 0) is DESCENDING [1, 0], not empty — docs shorter than
    n words must yield no grams. ``outer=True`` keeps them (and
    null-text docs) as one explicit null-gram marker row."""
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    k = F.size(words) - (n - 1)
    idx = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(F.array().cast("array<int>"))
    ex = F.explode_outer(idx) if outer else F.explode(idx)
    i = F.col("_i")
    return df.select(
        F.col(id_col).alias("id"), words.alias("_w"), ex.alias("_i")
    ).select(
        "id",
        F.when(i.isNotNull(), F.array_join(F.slice(F.col("_w"), i, n), " ")).alias("g"),
    )


def deterministic_sample(
    df: DataFrame, rate: float, key_col: str, salt: str = ""
) -> DataFrame:
    """Keep ~``rate`` of rows, selected by content-key hash — the same
    rows at any parallelism, on any engine, across resumes (unlike
    df.sample whose output depends on partitioning). ``salt`` decorrelates
    independent samples over the same keys."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    # rate quantizes DOWN to a multiple of 1/_BUCKETS (floor — round()
    # would silently oversample rates in (0.5, 1)/_BUCKETS by up to 2x);
    # a nonzero rate that floors to zero rows is a loud error, never an
    # empty frame (at 10^12 rows a 5e-7 sample is a real request)
    thresh = int(rate * _BUCKETS)
    if rate > 0 and thresh == 0:
        raise ValueError(
            f"rate={rate} is below this sampler's resolution "
            f"(1/{_BUCKETS}); smallest supported nonzero rate is "
            f"{1.0 / _BUCKETS}"
        )
    return df.filter(_hash_bucket(F.col(key_col), salt) < thresh)


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    weights: tuple[float, float, float] = (0.98, 0.01, 0.01),
    salt: str = "split",
) -> DataFrame:
    """Add a ``split`` column ('train'|'val'|'test') assigned by key hash:
    stable under reshuffling/resume, and rows sharing a key (e.g. all
    turns of a conversation) land in the SAME split — no leakage of one
    conversation across train and eval."""
    if abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {weights}")
    b = _hash_bucket(F.col(key_col), salt)
    t1 = int(weights[0] * _BUCKETS)
    t2 = t1 + int(weights[1] * _BUCKETS)
    return df.withColumn(
        "split",
        F.when(b < t1, "train").when(b < t2, "val").otherwise("test"),
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    max_tokens: int,
    part_col: str,
    order_cols: tuple[str, ...],
    max_group_rows: int | None = 1_000_000,
) -> DataFrame:
    """Greedy in-order sequence packing: assign each row a ``pack_id``
    (numbered per ``part_col`` group) so consecutive rows in
    ``order_cols`` order share a pack while their token total stays
    <= max_tokens; a row that doesn't fit starts a new pack (an oversize
    single row gets a pack alone; a NULL token count packs as 0 tokens).
    First-fit in arrival order — the packing streaming tokenizer
    pipelines use; one scan. Deterministic PROVIDED ``order_cols``
    uniquely orders rows within each ``part_col`` group — ties fall back
    to arrival order, which depends on upstream partitioning.

    Greedy packing carries running state row-to-row (the bin RESETS at a
    boundary), which no plain window function expresses (a cumsum
    ceil-division variant silently overflows packs at bin boundaries) —
    so this is an ``applyInArrow`` grouped map: sequential WITHIN a
    group, all ``part_col`` groups in parallel.

    Scale note: one shuffle on ``part_col`` (conversation, shard,
    bucket) — never a global order, which would serialize 10^12 rows
    through one task. An applyInArrow group materializes as ONE Arrow
    table in the worker, so a mega-group would OOM: groups larger than
    ``max_group_rows`` are auto-split into deterministic CONSECUTIVE
    chunks (row_number over ``order_cols`` — the window sorts with disk
    spill, unlike the Arrow materialization) and packed per chunk. A
    pack never spans a chunk boundary, so the split costs at most one
    underfull pack per chunk; pack ids stay unique and monotone within
    the group (chunk_idx * max_group_rows + within-chunk pack) but are
    only CONSECUTIVE when the group fit one chunk. The splitter adds a
    second exchange — pass max_group_rows=None when every group is known
    to be small (restores the single-shuffle plan and consecutive ids).
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    order = list(order_cols)
    # NOT df.schema.add(...): StructType.add MUTATES in place and
    # DataFrame caches its schema object — df.columns would grow a
    # phantom pack_id and applyInArrow would fail to resolve it
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("pack_id", T.LongType())]
    )

    def _pack_table(tbl, pack_offset: int):
        import pyarrow as pa
        import pyarrow.compute as pc

        # Arrow's sort is stable: ties keep arrival order
        keys = [(c, "ascending") for c in order]
        tbl = tbl.take(pc.sort_indices(tbl, keys, null_placement="at_end"))
        tokens = pc.cast(pc.fill_null(tbl.column(token_col), 0), pa.int64(), safe=False)
        packs = []
        acc = 0
        pack = -1
        for t in tokens.to_pylist():
            if pack < 0 or acc + t > max_tokens:
                pack += 1
                acc = t
            else:
                acc += t
            packs.append(pack + pack_offset)
        return tbl.append_column("pack_id", pa.array(packs, pa.int64()))

    if max_group_rows is None:
        def _pack(tbl):
            return _pack_table(tbl, 0)

        return df.groupBy(part_col).applyInArrow(_pack, schema=out_schema)

    if max_group_rows < 1:
        raise ValueError(f"max_group_rows must be >= 1, got {max_group_rows}")

    # collision-safe internal name: a user column named "_chunk" must
    # neither be clobbered nor dropped from the output schema
    chunk_col = "__fsc_pack_chunk"
    if chunk_col in df.columns:
        raise ValueError(f"input must not contain the reserved column {chunk_col!r}")
    w = Window.partitionBy(part_col).orderBy(*[F.col(c) for c in order])
    chunked = df.withColumn(
        chunk_col,
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(max_group_rows)).cast("long"),
    )

    def _pack_chunk(tbl):
        offset = tbl.column(chunk_col)[0].as_py() * max_group_rows
        return _pack_table(tbl.drop_columns([chunk_col]), offset)

    return chunked.groupBy(part_col, chunk_col).applyInArrow(_pack_chunk, schema=out_schema)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = 512,
    stride: int | None = None,
) -> DataFrame:
    """Split each document into fixed-size whitespace-token windows with
    optional overlap — the context-length prep that complements
    pack_sequences (packing joins SHORT docs into full sequences;
    chunking splits LONG ones; chunk first, pack the chunks after).

    Output: one row per chunk — (id, chunk_idx, tok_start, n_tokens,
    chunk_text) — tok_start 1-based, chunk_idx 0-based consecutive.
    Windows start every ``stride`` tokens (default max_tokens =
    disjoint). A window whose content the PREVIOUS window already fully
    covered (tail truncation: the previous one reached the doc's end) is
    not emitted, so no chunk is a suffix-duplicate of another. NULL or
    blank text emits zero rows.

    Scale shape: posexplode the window STARTS, then slice per chunk row
    — row-level slice/array_join stay inside whole-stage codegen, where
    the tempting alternative (transform(starts, s -> slice(...)) then
    explode the structs) runs interpreted per element and measured
    2-8x slower on interleaved A/B trials. No Python UDF, no key
    shuffle (plan-pinned in tests/test_round4_chunking.py); the slim
    (id, text) projection is widened first (session.widen docstring —
    explode-amplified CPU on byte-sized splits; at sf0.1 the small
    parquet plans ONE natural split, stranding every other core).
    Per-row memory is O(doc tokens), bounded by doc length, never
    corpus. Deterministic: boundaries depend only on the text, so
    re-runs and resumes emit identical chunk ids.
    """
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    stride = max_tokens if stride is None else stride
    if not 1 <= stride <= max_tokens:
        raise ValueError(
            f"stride must be in [1, max_tokens={max_tokens}], got {stride}"
            " (stride > max_tokens would silently drop tokens)"
        )
    t = F.trim(F.col(text_col))
    toks = F.when(F.length(t) > 0, F.split(t, r"\s+")).otherwise(
        F.array().cast("array<string>")
    )
    n = F.size(toks)
    w, s_ = max_tokens, stride
    starts = F.when(
        n > 0,
        F.filter(
            F.sequence(F.lit(1), n, F.lit(s_)),
            lambda s: (s == F.lit(1)) | (s - s_ + (w - 1) < n),
        ),
    ).otherwise(F.array().cast("array<int>"))
    exploded = widen_slim(df, id_col, text_col).select(
        F.col(id_col).alias("id"),
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_idx", "tok_start"),
    )
    window = F.slice(F.col("_toks"), F.col("tok_start"), w)
    return exploded.select(
        "id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "tok_start",
        F.size(window).alias("n_tokens"),
        F.array_join(window, " ").alias("chunk_text"),
    )


# --- PII redaction ----------------------------------------------------------

# deliberately conservative, precision-first patterns (a 100-TB pass that
# over-redacts code/numbers destroys data; recall-first scrubbing belongs
# in a dedicated pass with review). Kept ANSI-regex simple so the exact
# same patterns run on any engine.
# the phone pattern anchors its START with a captured boundary char
# (re-emitted via $1) instead of \b — \b fails before '+', and an
# unanchored start matched the TAIL of longer digit runs ('2023.456.7890
# units' became '2<PHONE> units'). Lookbehind would be cleaner but RE2
# (the DuckDB oracle engine) has none; (^|[^\d.]) runs on both engines.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"(^|[^\d.])((?:\+?\d{1,2}[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b)", "$1<PHONE>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def redact_pii(text_col, kinds: tuple[str, ...] | None = None) -> F.Column:
    """Replace PII occurrences with typed placeholder tags — chained
    regexp_replace, all inside whole-stage codegen."""
    out = text_col if hasattr(text_col, "cast") else F.col(text_col)
    for kind, pat, tag in PII_PATTERNS:
        if kinds is None or kind in kinds:
            out = F.regexp_replace(out, pat, tag)
    return out


def pii_counts(text_col) -> F.Column:
    """map<kind, count> of PII matches per row — audit before redacting."""
    col = text_col if hasattr(text_col, "cast") else F.col(text_col)
    entries = []
    for kind, pat, _tag in PII_PATTERNS:
        entries.append(F.lit(kind))
        entries.append(F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0))).cast("long"))
    return F.create_map(*entries)


# --- repetition quality -----------------------------------------------------


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Per-doc repetition metrics: (id, ngram_total, top_ngram_count,
    rep_fraction) where rep_fraction = occurrences of the most frequent
    word n-gram / total n-grams. High values flag degenerate loops
    (the 'repeated n-gram fraction' filter from data-quality pipelines
    à la Gopher/C4 rules).

    Shape: explode n-grams -> two hash aggregates keyed on id — linear,
    partial-aggregated map-side, no joins. EVERY input doc gets a row:
    explode_outer keeps docs with fewer than ``n`` words (or null text)
    as an explicit all-zero row (rep_fraction 0.0 = not repetitive) —
    a plain explode silently dropped them, and a downstream
    rep_fraction <= threshold join then dropped every short doc.
    """
    ex = _word_ngram_rows(df, id_col, text_col, n, outer=True)
    counts = ex.groupBy("id", "g").agg(
        # the null-gram marker row (zero n-grams) must count 0, not 1
        F.count(F.col("g")).alias("c")
    )
    return (
        counts.groupBy("id")
        .agg(
            F.sum("c").alias("ngram_total"),
            F.max("c").alias("top_ngram_count"),
        )
        .withColumn(
            "rep_fraction",
            F.when(
                F.col("ngram_total") > 0,
                F.floor(F.col("top_ngram_count") / F.col("ngram_total") * 1_000_000)
                / 1_000_000,
            ).otherwise(F.lit(0.0)),
        )
    )


# --- benchmark contamination ------------------------------------------------


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Flag corpus docs sharing >= min_hits distinct word n-grams with any
    benchmark item (the eval-leakage scan every training corpus needs).
    Returns (id, bench_id, hits).

    Shape: both sides explode to n-gram rows keyed by a 64-bit hash;
    inner join on the hash; DISTINCT grams per (doc, bench) pair. The
    benchmark side is small (eval suites are ~10^5 items) — it dedupes
    (tiny shuffle) and broadcasts, so the corpus side never shuffles
    until the sparse post-join count: scan -> explode -> broadcast-
    hash-join -> distinct count. Corpus grams stay duplicate-bearing
    (within-doc repeats ride to the join; the bench side being distinct
    bounds the blowup by doc length) so the gram hashing runs in the
    scan's codegen span instead of an interpreted array_distinct∘
    transform — count_distinct at the end restores exactly the old
    per-pair distinct-gram semantics. n=8 long-gram default keeps hits
    specific (and the n-gram table narrow).
    """

    def grams(d: DataFrame, idc: str, txtc: str, out_id: str) -> DataFrame:
        rows = _word_ngram_rows(d, idc, txtc, n, outer=False)
        return rows.select(F.col("id").alias(out_id), F.xxhash64("g").alias("gh"))

    c = grams(corpus, id_col, text_col, "id")
    b = grams(benchmark, bench_id_col, bench_text_col, "bench_id").dropDuplicates(
        ["bench_id", "gh"]
    )
    return (
        c.join(F.broadcast(b), "gh")
        .groupBy("id", "bench_id")
        .agg(F.count_distinct(F.col("gh")).alias("hits"))
        .filter(F.col("hits") >= min_hits)
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Drop every corpus doc that ``contamination_check`` flags against
    the benchmark — the removal half of the eval-leakage scan (flagging
    alone doesn't protect a training run; the drop does).

    Shape: the flagged-id set is a projection of contamination_check's
    output (corpus-grams broadcast-joined against the tiny distinct
    benchmark grams), distinct'd down to ids — small by construction
    (bounded by the docs that actually overlap an eval item) — then a
    LEFT ANTI join removes them. The anti join's left side is the only
    corpus-scale relation and AQE turns the right side into a broadcast
    when it is as small as contamination usually is; no corpus shuffle.
    """
    flagged = (
        contamination_check(
            corpus, benchmark, id_col, text_col, bench_id_col, bench_text_col,
            n=n, min_hits=min_hits,
        )
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return corpus.join(flagged, id_col, "left_anti")


def fuzzy_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket: int | None = None,
    hash_family: str = "fast",
    max_benchmark: int = 100_000,
) -> DataFrame:
    """NEAR-duplicate decontamination: drop every corpus doc whose
    word-shingle Jaccard against ANY benchmark item is >= ``threshold``
    — the paraphrase-tolerant complement of ``decontaminate`` (exact
    n-gram overlap misses an eval item that was lightly reworded or
    partially truncated on its way into the crawl; MinHash similarity
    does not). Same knobs as near_dup_pipeline but a RECALL-FIRST
    default banding: 16 hashes in 8 bands of 2 rows (near-dup dedup's
    4x4 s-curve has ~30% candidate recall at Jaccard 0.55 — acceptable
    when missing a dup costs bytes, not when missing eval leakage costs
    benchmark integrity; 8x2 recalls ~94% there and ~99.9% at 0.8).
    Precision is unaffected either way — verify_candidates re-checks
    every candidate with exact Jaccard.

    Shape at 100 TB: signatures are the shared one-explode aggregates;
    the candidate stage joins the CORPUS band rows against a BROADCAST
    of the benchmark band rows (a benchmark is thousands of items, not
    a second corpus — pinned with an explicit broadcast hint), so no
    corpus-vs-corpus self-join ever forms and the only corpus-scale
    exchanges are the signature agg and verify_candidates' prefiltered
    shingle lookup. Namespaced string ids ('c:'/'b:') keep the two
    tables' id spaces from colliding inside the shared verify machinery.

    ``max_bucket`` defaults to UNCAPPED here, deliberately diverging
    from the dedup pipelines: the giant-bucket guard exists to bound a
    corpus SELF-join's quadratic fan-out, but this join's fan-out per
    corpus band row is bounded by the (broadcast, benchmark-sized)
    bucket it lands in — and a benchmark passage crawled into the
    corpus 10^6 times is exactly the leakage this pass exists to drop;
    capping would silently exempt the most-contaminated docs. Set it
    only if a pathological all-identical corpus makes the candidate
    row count itself a problem.
    """
    from fscrawler_spark.functions.dedup import (
        _banded,
        cap_groups,
        minhash_signatures,
        minhash_signatures_fast,
        verify_candidates,
    )

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if hash_family not in ("fast", "md5"):
        raise ValueError(f"hash_family must be 'fast' or 'md5', got {hash_family!r}")
    # the benchmark side is BROADCAST below — a corpus-sized table passed
    # as the 'benchmark' would OOM every executor instead of failing with
    # a message. Same loud-refusal contract as semantic_decontaminate's
    # max_benchmark / reference_max_sim's max_reference (one count job on
    # the small side, ~free).
    n_bench = benchmark.count()
    if n_bench > max_benchmark:
        raise ValueError(
            f"benchmark has {n_bench} rows, above max_benchmark="
            f"{max_benchmark}: the benchmark band table is broadcast to "
            "every executor, so it must be an eval set, not a second "
            "corpus — raise max_benchmark deliberately if it truly is one"
        )
    sig_fn = minhash_signatures_fast if hash_family == "fast" else minhash_signatures
    # blank texts NEVER match: word_shingles' short-text convention gives
    # every wordless doc the same whole-text shingle, so without this
    # filter every empty extraction would 'contaminate' against an empty
    # bench item at Jaccard 1.0 — an empty doc leaks nothing (found
    # live: 24 empty docs were the only cross-seed 'contamination'
    # between two synthetic corpora). Blank = no words under the
    # engine's ASCII-\s splitter (F.trim strips 0x20 only — a "\t" doc
    # would slip past it and collapse to the shared " " shingle). Same
    # effective semantics as the semantic variant's zero-vector rule.
    _nonblank = F.length(F.regexp_replace(F.col("text"), r"\s+", "")) > 0
    c = corpus.select(
        F.concat(F.lit("c:"), F.col(id_col).cast("string")).alias("id"),
        F.col(text_col).alias("text"),
    ).filter(_nonblank)
    b = benchmark.select(
        F.concat(F.lit("b:"), F.col(bench_id_col).cast("string")).alias("id"),
        F.col(bench_text_col).alias("text"),
    ).filter(_nonblank)
    # shingle_k reaches BOTH stages: signatures generated at one k with
    # verification at another would band on a different similarity than
    # the one being thresholded (candidates lost before verify can see
    # them)
    c_bands = cap_groups(
        _banded(sig_fn(c, id_col="id", text_col="text",
                       num_hashes=num_hashes, shingle_k=shingle_k),
                num_hashes, bands),
        ["band", "bucket"],
        max_bucket,
    )
    b_bands = _banded(
        sig_fn(b, id_col="id", text_col="text",
               num_hashes=num_hashes, shingle_k=shingle_k),
        num_hashes, bands,
    )
    pairs = (
        c_bands.join(
            F.broadcast(b_bands.withColumnRenamed("id", "id_b")),
            ["band", "bucket"],
        )
        .select(F.col("id").alias("id_a"), "id_b")
        .distinct()
    )
    verified = verify_candidates(
        c.unionByName(b), pairs, id_col="id", text_col="text",
        shingle_k=shingle_k, threshold=threshold,
    )
    flagged = verified.select(
        # strip the 'c:' namespace back off; compared against the
        # original id CAST TO STRING, so any id type round-trips
        F.substring("id_a", 3, 2_147_483_647).alias("_contaminated_id")
    ).distinct()
    return corpus.join(
        flagged,
        F.col(id_col).cast("string") == F.col("_contaminated_id"),
        "left_anti",
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    threshold: float = 0.9,
    dim: int = 256,
    seed: int = 42,
    ngrams: int = 1,
    max_benchmark: int = 100_000,
) -> DataFrame:
    """Embedding-space decontamination: drop every corpus doc whose
    hashed-feature embedding cosine against ANY benchmark item is >=
    ``threshold`` — the third rung of the leakage ladder (exact n-grams
    -> shingle Jaccard -> vector cosine; each catches rewrites the
    previous one misses). With the built-in text_embeddings this is
    lexical-overlap cosine (hashed bag-of-n-grams); pipelines with a
    real encoder get true semantic matching by calling
    embeddings.reference_max_sim directly over their own embeddings
    tables — this wrapper is the text-level convenience.

    Shape at 100 TB: the benchmark embeds and collects ONCE (bounded by
    ``max_benchmark``, loud refusal above); the corpus side is
    text_embeddings' zero-key-shuffle map feeding reference_max_sim's
    broadcast GEMM — no join, no corpus shuffle anywhere except the
    final AQE-broadcast anti join removing the (small) flagged id set.
    """
    from fscrawler_spark.functions.embeddings import (
        reference_max_sim,
        text_embeddings,
    )

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    bvecs = text_embeddings(
        benchmark, id_col=bench_id_col, text_col=bench_text_col,
        dim=dim, seed=seed, ngrams=ngrams,
    )
    cvecs = text_embeddings(
        corpus, id_col=id_col, text_col=text_col,
        dim=dim, seed=seed, ngrams=ngrams,
    )
    sims = reference_max_sim(cvecs, bvecs, max_reference=max_benchmark)
    # embeddings are float32 on disk: a VERBATIM copy of a bench item
    # scores 0.9999999x, so a literal >= 1.0 would flag nothing — the
    # strictest setting silently off. The 1e-6 absorber applies ONLY when
    # the threshold itself is within 1e-6 of 1.0 (the verbatim-copy
    # setting): at any looser threshold the requested cut is honored
    # exactly, instead of also dropping docs genuinely up to 1e-6 below
    # it (round-5 advice fix — epsilon as rounding guard, not a global
    # threshold shift).
    eps = 1e-6 if threshold >= 1.0 - 1e-6 else 0.0
    flagged = (
        sims.filter(F.col("ref_max_sim") >= threshold - eps)
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return corpus.join(flagged, id_col, "left_anti")


# --- cross-document repeated-line (boilerplate) removal ---------------------


def _lines_exploded(
    df: DataFrame, id_col: str, text_col: str, sep: str, group_col: str | None = None
) -> DataFrame:
    """(id[, group], pos, line) — one row per line, original (un-trimmed)
    line content, 0-based position. Null-text docs explode to nothing
    (the callers re-attach them). The slim projection is widened first:
    line hashing is explode-amplified CPU, same starvation mode as
    shingling (session.widen docstring)."""
    cols = [id_col, text_col] + ([group_col] if group_col else [])
    extra = [F.col(group_col).alias("grp")] if group_col else []
    return widen_slim(df, *cols).select(
        F.col(id_col).alias("id"),
        *extra,
        F.posexplode(F.split(text_col, sep, -1)).alias("pos", "line"),
    )


def _line_key(line_col) -> F.Column:
    """Trimmed comparison key for a line: strips whitespace INCLUDING
    \\r and NBSP from both ends. Plain trim() strips only 0x20, so a
    corpus mixing Unix and Windows extractions would count
    'boilerplate' and 'boilerplate\\r' as two different lines, each
    possibly under min_docs — the repeated line silently survives in
    half the corpus. (Reassembly keeps the ORIGINAL bytes; only the
    frequency/ban comparison normalizes.)"""
    return ws_trim(line_col)


def line_frequencies(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_docs: int = 2,
    group_col: str | None = None,
) -> DataFrame:
    """Cross-document line frequency table: (line_hash, n_docs, line) for
    every distinct trimmed line appearing in >= ``min_docs`` DISTINCT
    docs — the banned-set half of CCNet/RefinedWeb-style boilerplate
    line removal (Wenzek et al., LREC 2020; Penedo et al., 2023: nav
    bars, cookie banners, and footers repeat verbatim across a domain's
    pages while real content does not).

    ``group_col`` scopes the counting the way CCNet does — per domain /
    source / shard: a line must repeat WITHIN a group to be flagged, so
    a phrase that happens to appear once on each of 10 unrelated sites
    never bans (output gains a ``grp`` column, and strip joins on it).

    Lines compare TRIMMED; blank lines (trim = '') are never counted —
    they are document structure, not repeatable content. Shape: explode
    -> per-doc distinct -> one hash aggregate keyed on the md5 line hash
    (two-phase count-distinct; no joins). ``sep`` is a Java regex; the
    md5 hash is the cross-engine family so the oracle can reproduce the
    table exactly.
    """
    ex = _lines_exploded(df, id_col, text_col, sep, group_col)
    keys = ["grp"] if group_col else []
    trimmed = ex.select(
        "id", *keys, _line_key(F.col("line")).alias("tline")
    ).filter(F.col("tline") != "")
    return (
        trimmed.groupBy(*keys, F.md5("tline").alias("line_hash"))
        .agg(
            F.count_distinct("id").alias("n_docs"),
            F.min("tline").alias("line"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def dedupe_doc_lines(text_col, sep: str = "\n") -> F.Column:
    """WITHIN-doc repeated-line removal: keep the FIRST occurrence of
    each trimmed-identical non-blank line inside one document (nav menus
    repeated mid-page, chat-log echo lines, scraped pagination blocks —
    the intra-document counterpart of strip_repeated_lines' cross-doc
    ban). Returns struct(text, kept_lines, removed_lines); NULL text
    propagates NULL fields. Blank lines are structure and always kept.

    Pure HOF column expression (split/transform/aggregate): zero
    shuffle, zero Python — it rides the extraction scan like
    c4_quality_flags. The first-occurrence pass is ONE left fold carrying
    (seen trimmed keys, kept original lines): each line is trimmed
    exactly once (in a transform projection feeding the fold) and
    checked against the seen-set — O(L · distinct) compares per doc.
    The former shape filtered with ``array_position(transform(lines,
    ws_trim), …)`` per element: HOF lambdas are interpreted and Catalyst
    does not CSE the trimmed array across elements, so every line
    re-trimmed the WHOLE document (O(L²) regexp evaluations — measured
    ~5x this stage at sf1.0, where L includes the woven fixture lines).
    Identical keep/drop semantics: first occurrence by trimmed key kept
    verbatim, blank lines always kept, never added to the seen set.
    Comparison keys use the shared ws_trim class.
    """
    col = text_col if hasattr(text_col, "cast") else F.col(text_col)
    lines = F.split(col, sep, -1)
    # (raw, t) per line: ws_trim runs ONCE per line here; the fold below
    # only extracts fields
    pairs_arr = F.transform(
        lines, lambda x: F.struct(x.alias("raw"), ws_trim(x).alias("t"))
    )
    acc0 = F.struct(
        F.array().cast("array<string>").alias("seen"),
        F.array().cast("array<string>").alias("kept"),
    )

    def _step(acc, e):
        is_blank = e["t"] == F.lit("")
        is_dup = F.exists(acc["seen"], lambda s: s == e["t"])
        return F.when(
            is_blank,
            F.struct(
                acc["seen"].alias("seen"),
                F.concat(acc["kept"], F.array(e["raw"])).alias("kept"),
            ),
        ).otherwise(
            F.when(is_dup, acc).otherwise(
                F.struct(
                    F.concat(acc["seen"], F.array(e["t"])).alias("seen"),
                    F.concat(acc["kept"], F.array(e["raw"])).alias("kept"),
                )
            )
        )

    jsep = sep if len(sep) == 1 else "\n"
    res = F.aggregate(
        pairs_arr,
        acc0,
        _step,
        lambda acc: F.struct(
            F.array_join(acc["kept"], jsep).alias("text"),
            F.size(acc["kept"]).cast("long").alias("kept_lines"),
            (F.size(lines) - F.size(acc["kept"])).cast("long").alias("removed_lines"),
        ),
    )
    # null text: the fold yields a NULL struct; callers read FIELDS of a
    # non-null struct (the old contract), so rebuild it with null fields
    return F.when(col.isNotNull(), res).otherwise(
        F.struct(
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("long").alias("kept_lines"),
            F.lit(None).cast("long").alias("removed_lines"),
        )
    )


def strip_repeated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    join_sep: str = "\n",
    min_docs: int = 5,
    banned: DataFrame | None = None,
    group_col: str | None = None,
) -> DataFrame:
    """Remove every line whose trimmed form appears in >= ``min_docs``
    distinct documents (or in a caller-supplied ``banned`` table from
    line_frequencies — compute it ONCE per corpus/domain and reuse it
    across strip calls and incremental ticks; pass the SAME group_col it
    was built with). ``group_col`` scopes banning per domain/source —
    the CCNet shape — so repetition only counts within a group. Returns
    (id, text, removed_lines, kept_lines) for EVERY input doc: null text
    passes through null, a doc whose every line is banned keeps ''.

    Scale shape: the banned table holds only lines repeated across docs
    (tiny next to the corpus — AQE broadcasts it in the common case, and
    the join is keyed on line_hash either way, never quadratic); the one
    corpus-scale shuffle is the groupBy(id) reassembly, unavoidable in
    any shape that re-orders lines back per doc. Blank lines are never
    stripped. Reassembly is lossless for fixed single-char separators
    (``sep`` regex "\\n" + ``join_sep`` "\\n"); a multi-char regex sep
    collapses each match to ``join_sep``.
    """
    if banned is None:
        banned = line_frequencies(df, id_col, text_col, sep, min_docs, group_col)
    keys = (["grp"] if group_col else []) + ["line_hash"]
    if group_col and "grp" not in banned.columns:
        raise ValueError(
            "banned table lacks the 'grp' column — it was built without "
            f"group_col but strip was called with group_col={group_col!r}"
        )
    ban_keys = banned.select(*keys).distinct().withColumn("_ban", F.lit(True))
    ex = _lines_exploded(df, id_col, text_col, sep, group_col)
    marked = ex.withColumn("line_hash", F.md5(_line_key(F.col("line")))).join(
        ban_keys, keys, "left"
    )
    # blank lines are structure: never removable regardless of frequency
    removable = F.col("_ban").isNotNull() & (_line_key(F.col("line")) != "")
    agg = marked.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~removable, F.struct(F.col("pos"), F.col("line")))
                    )
                ),
                lambda s: s.getField("line"),
            ),
            join_sep,
        ).alias("_clean"),
        F.sum(F.when(removable, 1).otherwise(0)).alias("removed_lines"),
        F.sum(F.when(~removable, 1).otherwise(0)).alias("kept_lines"),
    )
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_orig"))
    return (
        base.join(agg, "id", "left")
        .select(
            "id",
            F.when(F.col("_orig").isNotNull(), F.coalesce("_clean", F.lit(""))).alias(
                "text"
            ),
            F.coalesce("removed_lines", F.lit(0)).cast("long").alias("removed_lines"),
            F.coalesce("kept_lines", F.lit(0)).cast("long").alias("kept_lines"),
        )
    )


# --- Gopher-style rule-based quality gate ------------------------------------


def gopher_quality_flags(
    text_col,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> F.Column:
    """Gopher rule-based quality gate (Rae et al. 2021 §A1.1, the public
    MassiveText filter; defaults are the paper's): one struct column with
    every metric, every rule verdict, ``passes``, and ``fail_reasons``
    so a curation pipeline can both FILTER and AUDIT what it dropped.

    All rules are JVM column expressions over one projection — at 100 TB
    this rides the extraction scan for free (no shuffle, no Python).
    mean_word_len is non-space chars / word count (equal to the mean of
    per-word lengths, computed without a per-word aggregate). NULL text
    fails with reason 'null_text'; ratios over zero denominators fail
    their rule (try_divide -> NULL -> not >= threshold).
    """
    col = text_col if hasattr(text_col, "cast") else F.col(text_col)
    t = F.trim(col)
    words = F.when(F.length(t) > 0, F.split(t, r"\s+")).otherwise(
        F.array().cast("array<string>")
    )
    wc = F.size(words)
    nospace = F.regexp_replace(col, r"[\s ]+", "")
    mean_wl = F.try_divide(F.length(nospace), wc)
    symbols = F.regexp_count(col, F.lit(r"#|\.\.\.|…"))
    sym_ratio = F.try_divide(symbols, wc)
    lines = F.split(col, "\n", -1)
    n_lines = F.size(lines)
    bullet_frac = F.try_divide(
        F.size(F.filter(lines, lambda l: l.rlike(r"^[\s ]*[-*•]"))), n_lines
    )
    ellipsis_frac = F.try_divide(
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)[\s ]*$"))), n_lines
    )
    alpha_frac = F.try_divide(
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))), wc
    )
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    sw_hits = F.size(
        F.array_intersect(F.array_distinct(F.transform(words, F.lower)), sw)
    )

    rules = {
        "null_text": col.isNull(),
        "too_few_words": col.isNotNull() & (wc < min_words),
        "too_many_words": wc > max_words,
        "mean_word_len_out_of_range": col.isNotNull()
        & ~mean_wl.between(min_mean_word_len, max_mean_word_len),
        "symbol_heavy": sym_ratio > max_symbol_word_ratio,
        "bullet_heavy": bullet_frac > max_bullet_line_frac,
        "ellipsis_heavy": ellipsis_frac > max_ellipsis_line_frac,
        "low_alpha_words": col.isNotNull()
        & ~(alpha_frac >= min_alpha_word_frac),
        "too_few_stopwords": col.isNotNull() & (sw_hits < min_stopword_hits),
    }
    reasons = F.filter(
        F.array(
            *[F.when(cond, F.lit(name)) for name, cond in rules.items()]
        ),
        lambda r: r.isNotNull(),
    )
    return F.struct(
        wc.alias("word_count"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_word_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        sw_hits.alias("stopword_hits"),
        (F.size(reasons) == 0).alias("passes"),
        reasons.alias("fail_reasons"),
    )


# ---------------------------------------------------------------------------
# C4 cleaning (Raffel et al. 2020 §2.2, the public Colossal Clean Crawled
# Corpus recipe; the TFDS c4_utils.py reference behaviors). Complements
# gopher_quality_flags: Gopher is a page-level GATE, C4 is line-level
# CLEANING plus a page-level gate over what survives.
# ---------------------------------------------------------------------------

C4_TERMINAL_PUNCT = (".", "!", "?", '"', "'")
# public c4_utils policy-line substrings (lines dropped as boilerplate)
C4_POLICY_SUBSTRINGS = (
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
    "use of cookies",
    "use cookies",
)


def _c4_kept_lines(
    col,
    min_words_per_line: int,
    terminal_punct: tuple[str, ...],
    drop_javascript_lines: bool,
    drop_policy_lines: bool,
):
    import re as _re

    term_re = "[" + "".join(_re.escape(c) for c in terminal_punct) + "]$"

    def _keep(t):
        # t is already ws_trim'd: no leading empty split token can
        # inflate the word count, and a trailing tab/NBSP can't defeat
        # the terminal-punct check (the round-4 review's tab/NBSP bug)
        wc = F.when(
            F.length(t) > 0, F.size(F.split(t, WS_SPLIT_JAVA))
        ).otherwise(F.lit(0))
        low = F.lower(t)
        keep = (wc >= min_words_per_line) & t.rlike(term_re)
        if drop_javascript_lines:
            keep = keep & ~low.contains("javascript")
        if drop_policy_lines:
            for s in C4_POLICY_SUBSTRINGS:
                keep = keep & ~low.contains(s)
        return keep

    lines = F.split(col, "\n", -1)
    # output lines are TRIMMED, like the reference recipe's line.strip()
    # (full whitespace class, not F.trim's 0x20-only); trimming BEFORE
    # the filter keeps the rules and the output in agreement. ws_trim is
    # single-arg, so transform() passes only the element.
    return lines, F.filter(F.transform(lines, ws_trim), _keep)


def c4_quality_flags(
    text_col,
    min_sentences: int = 3,
    min_words_per_line: int = 5,
    terminal_punct: tuple[str, ...] = C4_TERMINAL_PUNCT,
    bad_words: tuple[str, ...] = (),
    drop_javascript_lines: bool = True,
    drop_policy_lines: bool = True,
) -> F.Column:
    """C4 page gate over the line-cleaned text: one struct column with
    the cleaned text, per-rule verdicts, ``passes`` and ``fail_reasons``
    (the same FILTER+AUDIT shape as gopher_quality_flags).

    Page rules (Raffel 2020): >= ``min_sentences`` sentences after line
    cleaning (sentence count approximated as terminal-mark occurrences —
    the reference uses an NLTK sentence splitter; the approximation is
    deliberate so the rule stays a codegen expression), no curly brace,
    no 'lorem ipsum', and no word from ``bad_words`` (word-boundary,
    case-insensitive; default empty — production passes the public
    LDNOOBW list, which this repo does not vendor). NULL text fails
    with 'null_text'.
    """
    import re as _re

    col = text_col if hasattr(text_col, "cast") else F.col(text_col)
    lines, kept = _c4_kept_lines(
        col, min_words_per_line, terminal_punct,
        drop_javascript_lines, drop_policy_lines,
    )
    cleaned = F.array_join(kept, "\n")
    low = F.lower(cleaned)
    n_sentences = F.when(
        col.isNull(), F.lit(None).cast("int")
    ).otherwise(F.regexp_count(cleaned, F.lit(r"[.!?]")))
    if bad_words:
        bad_re = (
            "(?i)\\b(" + "|".join(_re.escape(w.lower()) for w in bad_words) + ")\\b"
        )
        has_bad = low.rlike(bad_re)
    else:
        has_bad = F.lit(False)
    has_curly = low.contains("{") | low.contains("}")
    has_lorem = low.contains("lorem ipsum")

    rules = {
        "null_text": col.isNull(),
        "too_few_sentences": col.isNotNull() & (n_sentences < min_sentences),
        "has_curly_brace": has_curly,
        "has_lorem_ipsum": has_lorem,
        "has_bad_word": has_bad,
    }
    reasons = F.filter(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in rules.items()]),
        lambda r: r.isNotNull(),
    )
    return F.struct(
        F.when(col.isNotNull(), cleaned).alias("cleaned_text"),
        F.when(col.isNotNull(), F.size(lines)).alias("n_lines"),
        F.when(col.isNotNull(), F.size(kept)).alias("n_lines_kept"),
        n_sentences.alias("n_sentences"),
        (F.size(reasons) == 0).alias("passes"),
        reasons.alias("fail_reasons"),
    )
