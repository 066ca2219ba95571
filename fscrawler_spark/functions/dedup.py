"""Deduplication operators for training-data pipelines.

Four families, each a composition of built-in DataFrame ops (no Python
UDFs anywhere — everything stays in whole-stage codegen):

* exact          — hash groupBy on normalized text
* minhash + LSH  — shingle -> K minhashes -> banded buckets -> bucket join
* simhash        — bit-vote over token hashes (near-dup by hamming-ish band)
* n-gram Jaccard — exact pairwise similarity, for verification / small sets

Scale notes (100 TB): MinHash-LSH is the production path — candidate
generation is a shuffle on (band_id, band_hash) whose fan-in is bounded
by band width, never an O(n^2) cross join. Exact Jaccard exists to
verify LSH candidates (and as the oracle-checkable baseline at SF=0.01).
The cross-engine-stable hash for oracle parity is md5-prefix-as-int64;
for pure-Spark scale paths xxhash64 is the cheaper choice (see *_fast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fscrawler_spark.functions.text_analysis import normalized_text
from fscrawler_spark.session import widen_slim


def _md5_int(col) -> F.Column:
    """First 15 hex chars of md5 as a non-negative int64 — identical in
    Spark and DuckDB, the cross-engine hash for oracle-checked dedup."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _md5_key(key_col, salt: str = "") -> F.Column:
    """Salted cross-engine hash of an id-ish column: NULL keys hash as
    the literal '<null>' (one stable group, never silently vanishing).
    The ONE spelling of this convention — curation._hash_bucket and
    export.order_key both build on it, so the sentinel and salt layout
    cannot drift between the sampling and export families."""
    key = F.coalesce(key_col.cast("string"), F.lit("<null>"))
    return _md5_int(F.concat(F.lit(salt), key))


def _shingle_array(text_col, k: int, wrap, empty_type: str) -> F.Column:
    """Shared skeleton of the two shingle twins: distinct k-word
    shingles of the normalized text, each passed through ``wrap``
    (identity for the string family, F.xxhash64 fused into the lambda
    for the int64 family — one function so null/short-text semantics
    cannot drift between them).

    NULL text yields an EMPTY array, never [NULL]: a [NULL] shingle
    would hash to the same seed constant for every null-text doc,
    silently clustering all extraction-failed docs as mutual
    near-duplicates. Empty arrays explode to nothing — null-text docs
    simply have no signature and can never be candidates. Fewer than k
    words → one whole-text shingle."""
    words = F.split(normalized_text(text_col), " ")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    shingled = F.when(n < k, F.array(wrap(F.array_join(words, " ")))).otherwise(
        F.array_distinct(
            F.transform(idx, lambda i: wrap(F.array_join(F.slice(words, i + 1, k), " ")))
        )
    )
    col = text_col if hasattr(text_col, "cast") else F.col(text_col)
    return F.when(col.isNotNull(), shingled).otherwise(F.array().cast(empty_type))


def word_shingles(text_col, k: int = 3) -> F.Column:
    """k-word shingles of the normalized text (distinct, order-dropped;
    null/short-text semantics in _shingle_array). The cross-engine
    string family — the md5 oracle twin hashes these strings."""
    return _shingle_array(text_col, k, lambda s: s, "array<string>")


def hashed_shingles(text_col, k: int = 3) -> F.Column:
    """Distinct xxhash64 k-word shingle array — the int64 twin of
    ``transform(word_shingles(...), xxhash64)`` with the two nested
    string-array passes fused into ONE lambda whose body (slice →
    array_join → xxhash64) is a codegen expression, and array_distinct
    comparing 8-byte longs instead of k-word strings. Intersection and
    size semantics are unchanged absent 64-bit collisions (~n^2/2^65):
    distinct strings map to distinct hashes, so counts agree — the same
    collision budget verify_candidates/jaccard_pairs already accept.
    Null/short-text semantics are word_shingles' exactly (shared
    _shingle_array skeleton)."""
    return _shingle_array(text_col, k, F.xxhash64, "array<bigint>")


def hashed_shingle_sets(
    df: DataFrame, id_col: str, text_col, shingle_k: int = 3
) -> DataFrame:
    """(id, sh): the DataFrame-stage twin of
    ``select(id, hashed_shingles(text))`` — distinct xxhash64 k-word
    shingle arrays computed per task in the numpy Arrow kernel
    (fasthash.hashed_shingle_sets_np; the Column version evaluates the
    shingle transform as an interpreted HOF per element, measured the
    dominant verify_candidates cost). Values are identical up to
    element order, which no consumer observes (the arrays feed
    array_intersect counts and sizes only). Normalization stays the one
    JVM expression upstream; widen_slim parallelizes dense inputs."""
    from pyspark.sql import types as T

    col = text_col if hasattr(text_col, "cast") else F.col(text_col)
    norm = widen_slim(df, id_col, text_col).select(
        F.col(id_col).alias("id"), normalized_text(col).alias("_t")
    )
    id_type = norm.schema["id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("sh", T.ArrayType(T.LongType())),
        ]
    )
    k = shingle_k

    def _sh_batches(batches):
        import pyarrow as pa

        from fscrawler_spark.functions.fasthash import hashed_shingle_sets_np

        for b in batches:
            texts = b.column(1).to_pylist()
            offsets, values = hashed_shingle_sets_np(texts, k)
            sh_col = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()), pa.array(values, type=pa.int64())
            )
            yield pa.RecordBatch.from_arrays([b.column(0), sh_col], ["id", "sh"])

    return norm.mapInArrow(_sh_batches, out_schema)


_MIX_A = [0x9E3779B1, 0x85EBCA77, 0xC2B2AE3D, 0x27D4EB2F, 0x165667B1, 0x1B873593,
          0xCC9E2D51, 0x38B34327, 0x52DCE729, 0x61C88647, 0x7FEB352D, 0x3243F6A9,
          0x2545F491, 0x5BD1E995, 0x6C62272E, 0x45D9F3B3]


def minhash_signatures_fast(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """Production MinHash path: explode shingles once, ONE xxhash64 per
    shingle, then K multiply-add permutations of the 31-bit folded hash
    aggregated with min() in a single codegen'd hash aggregate.

    Why not nested array lambdas: higher-order functions are interpreted
    (no whole-stage codegen) and Catalyst does not CSE the shared shingle
    array across K array_min(transform(...)) projections — measured ~20x
    slower than this explode+groupBy shape. The groupBy shuffles on id,
    which is also the scalable shape (AQE splits skewed ids).
    ANSI-safe: 31-bit fold x 32-bit odd multiplier keeps products < 2^63.

    The permutation modulus MUST be the Mersenne prime 2^31-1 matching
    the folded domain: (a*h + b) mod p is then a bijection of [0, p)
    whose products wrap ~2^32 times (proper Carter-Wegman min-wise
    permutations). The round-4 review caught the original 2^61-1
    modulus barely wrapping over 31-bit inputs — near order-preserving,
    so the shingle with the globally minimal base hash won EVERY
    permutation and all K hash matches collapsed into one correlated
    coin flip: a J=0.957 pair agreed in 0/16 hashes on a real fixture,
    and simulation put the banded miss rate at 1.6% where true MinHash
    gives ~2e-9 (tests/test_round4_fasthash_oracle.py::
    test_permutations_decorrelate pins the fix).

    The slim (id, text) projection is widened to the session's
    parallelism first (session.widen): the signature kernel multiplies
    per-row CPU ~w×, so byte-sized input splits under-parallelize it
    badly on small-but-dense files (no-op at scale — see widen's
    docstring).

    Round 6 reshape (guide §4.2): the signatures are computed PER TASK
    in a numpy Arrow stage — shingle windows of the JVM-normalized text,
    batched spec-exact XXH64 (functions.fasthash, pinned bit-identical
    to Spark's xxhash64), the 31-bit fold, and all K permutation mins
    run vectorized — so the former row explode (one string build + one
    hash + K multiply-mod-min updates per shingle OCCURRENCE through a
    corpus-wide hash aggregate) and its groupBy SHUFFLE are gone
    entirely: signatures are a pure map stage. Values are unchanged
    (same shingles, same hash, same permutations, min per doc); per-doc
    array_distinct stays deliberately skipped (min over a multiset
    equals min over its set) — value-parity with the Python twin is
    pinned by tests/test_round4_fasthash_oracle.py. Assumes unique ids
    per row (every caller's contract; the old groupBy would have merged
    duplicate ids' shingle sets instead — an accident, not a feature).
    """
    from pyspark.sql import types as T

    col = text_col if hasattr(text_col, "cast") else F.col(text_col)
    norm = widen_slim(df, id_col, text_col).select(
        F.col(id_col).alias("id"), normalized_text(col).alias("_t")
    )
    id_type = norm.schema["id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )
    mixers = [_MIX_A[s % len(_MIX_A)] for s in range(num_hashes)]
    k = shingle_k

    def _sig_batches(batches):
        import numpy as np
        import pyarrow as pa

        from fscrawler_spark.functions.fasthash import minhash_sigs_np

        mix = np.asarray(mixers, dtype=np.int64)
        for b in batches:
            texts = b.column(1).to_pylist()
            keep, sigs = minhash_sigs_np(texts, mix, k)
            if not keep.any():
                continue
            n_kept, H = sigs.shape
            offsets = pa.array(
                np.arange(0, (n_kept + 1) * H, H, dtype=np.int32), type=pa.int32()
            )
            sig_col = pa.ListArray.from_arrays(offsets, pa.array(sigs.ravel(), type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [b.column(0).filter(pa.array(keep)), sig_col], ["id", "sig"]
            )

    return norm.mapInArrow(_sig_batches, out_schema)


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by normalized-text hash; emit groups with >1 member.
    Returns (text_hash, dup_count, keeper_id) — keeper = min id.

    NULL-text rows are excluded: md5(NULL) is one NULL groupBy key, so
    without the filter every extraction-failed doc would land in a
    single "duplicate" cluster and all but one would be marked for
    deletion — unknown content is not equal content.

    Deliberately NOT widened (unlike the shingle family): there is no
    explode amplification here — one md5 per row, then the groupBy's own
    exchange redistributes. The round-robin widen exchange carries the
    full texts and buys nothing; interleaved A/B at sf0.1/local[32]
    measured median 0.48s widened vs 0.31s without (the r4 bench
    regression on q_dedup_exact was exactly this exchange)."""
    return (
        df
        .select(
            F.col(id_col).alias("id"),
            F.md5(normalized_text(F.col(text_col))).alias("text_hash"),
        )
        .filter(F.col("text_hash").isNotNull())
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("id").alias("keeper_id"))
        .filter(F.col("dup_count") > 1)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signature per doc: for seed s, sig[s] = min over shingles of
    md5_int(s || shingle). Column-only; one row per doc, sig as array<long>.

    Docs with NO shingles (null text) emit no row — like the fast
    family, whose explode naturally drops them. Without the filter their
    all-NULL sigs would bucket to md5('') in every band (array_join
    omits NULLs), clustering every extraction-failed doc as mutual
    candidates."""
    df = widen_slim(df, id_col, text_col)
    sh = word_shingles(F.col(text_col), shingle_k)
    sig = F.array(
        *[
            F.array_min(
                F.transform(sh, lambda x: _md5_int(F.concat(F.lit(f"{s}:"), x)))
            ).alias(f"h{s}")
            for s in range(num_hashes)
        ]
    )
    return (
        df.select(F.col(id_col).alias("id"), sh.alias("_sh"), sig.alias("sig"))
        .filter(F.size("_sh") > 0)
        .drop("_sh")
    )


def cap_groups(df: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """Shared giant-bucket guard: drop groups over ``max_bucket`` members
    via a window count over the SAME keys the downstream join shuffles on
    (the exchange is shared, so the guard is ~free — see the A/B note in
    lsh_candidate_pairs). One implementation for MinHash bands, SimHash
    bands, and ANN buckets so cap semantics cannot drift."""
    if max_bucket is None:
        return df
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )


def _banded(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    # bands > num_hashes would make rows_per_band 0 (every doc hashes to
    # md5('') in every band -> one giant bucket the cap then DROPS: a
    # silent zero-duplicates result); a non-divisor silently ignores the
    # trailing signature hashes. Both are config errors — fail loudly.
    if not 1 <= bands <= num_hashes:
        raise ValueError(f"bands must be in [1, num_hashes={num_hashes}], got {bands}")
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} evenly "
            f"(trailing hashes would be silently ignored)"
        )
    # the PARAMETER must also match the actual signature length: a sig
    # built with fewer hashes would slice past its end -> empty slice ->
    # md5('') garbage buckets for the trailing bands. assert_true is a
    # per-row codegen'd comparison (~free) that fails the job loudly.
    sigs = sigs.withColumn(
        "sig",
        F.when(
            F.assert_true(
                F.size("sig") == num_hashes,
                F.lit(f"signature length != num_hashes={num_hashes}"),
            ).isNull(),
            F.col("sig"),
        ),
    )
    rows_per_band = num_hashes // bands
    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("id", F.explode(band_entries).alias("b")).select(
        "id", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )


def lsh_bucket_stats(sigs: DataFrame, num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """(band, bucket, n) distribution — audit which buckets the
    ``max_bucket`` guard would drop before running the candidate join."""
    return (
        _banded(sigs, num_hashes, bands)
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Band the signatures and join docs sharing any (band, band-hash)
    bucket. Output distinct (id_a < id_b) candidate pairs.

    The scale path: explode to bands (x``bands`` rows), shuffle on the
    bucket key, self-join within buckets.

    Giant-bucket guard: a degenerate bucket (millions of near-empty texts
    sharing a band signature) emits O(n^2) candidate pairs — AQE splits
    the JOIN, not the output cardinality. Buckets larger than
    ``max_bucket`` members are dropped from candidate generation (the
    window count reuses the same (band, bucket) partitioning the join
    shuffles on). Members of a dropped bucket can still pair through
    their OTHER bands, and byte-identical texts are caught upstream by
    exact_duplicates, so the guard costs recall only for mega-clusters
    that near-dup dedup would collapse to one keeper anyway. Audit what
    a cap drops via lsh_bucket_stats(). Reference pattern: every
    production MinHash pipeline (e.g. the SURVEY §7 rule "never
    groupBy(conv_id) on the hot path").
    """
    # A/B measured 5.45s guarded vs 5.48s unguarded at sf0.1; a
    # broadcast-anti-join variant was +15% because its aggregate branch
    # recomputes the signature subtree.
    banded = cap_groups(_banded(sigs, num_hashes, bands), ["band", "bucket"], max_bucket)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs >= threshold.

    Inverted-index join (explode shingles, join on shingle, count common)
    — still quadratic in the worst case, so at scale this runs ONLY on
    LSH candidates; standalone it is the SF<=0.01 oracle baseline.
    """
    df = widen_slim(df, id_col, text_col)
    # join on the shingle's 64-bit hash, not the string: cheaper shuffle
    # keys/compares; counts are unchanged absent xxhash64 collisions
    # (~n^2/2^65 — negligible at any realistic shingle cardinality)
    sh = df.select(
        F.col(id_col).alias("id"), hashed_shingles(F.col(text_col), shingle_k).alias("sh")
    )
    sizes = sh.select("id", F.size("sh").alias("n"))
    inv = sh.select("id", F.explode("sh").alias("s"))
    common = (
        inv.alias("a")
        .join(inv.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n": "n_b"}), "id_b")
        .withColumn("jaccard", F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def verify_candidates(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard computed ONLY on LSH candidate pairs — the scale-path
    verification step (LSH recall, exact precision). Joins each pair to
    its two shingle sets and intersects JVM-side (array_intersect).

    The shingle sets ride the candidate joins as xxhash64 arrays, not
    k-word string arrays (same trick as jaccard_pairs): intersection
    COUNTS are unchanged absent 64-bit collisions (~n^2/2^65), and the
    per-row join payload drops from ~k*8 bytes per shingle string to 8.

    A semi-join prefilter restricts the shingle table to ids that appear
    in ANY candidate pair before the equi-joins: without it both joins
    shuffle the WHOLE corpus's shingle arrays even when LSH produced
    candidates for 0.1% of documents. AQE turns the prefilter into a
    broadcast when the candidate id set is small (the common case); in
    the worst case it degrades to the shuffle the joins paid anyway.
    Fixture-scale cost (same-session min-of-3 at sf0.1, where candidates
    cover MOST docs so the filter prunes little): 8.4s with vs 7.9s
    without — the ~0.5s is the price of the 100-TB shape.

    ``candidates`` is MATERIALIZED here (session.materialize, 16-byte
    pair rows — bounded): it is referenced three times (the prefilter id
    projection + the pair join below, plus however many times the CALLER
    re-references the verified output), and with the round-6 vectorized
    signature stage the candidate subtree no longer dwarfs its output,
    flipping the round-4 live-vs-materialized A/B (re-measured
    interleaved at 100k docs: mat min 6.7s vs live 7.6s end-to-end).
    A broadcast of the materialized pair set was ALSO tried and REJECTED:
    it removes the very exchanges whose shuffle files let the shingle-set
    stage be computed once per execution, so the numpy kernel ran once
    per join side instead (interleaved A/B: broadcast 7.9-16.6s vs
    shuffle 6.5-8.2s).
    """
    from fscrawler_spark.session import materialize as _materialize

    candidates = _materialize(candidates.select("id_a", "id_b"))
    # one scan of candidates (explode both ids), not a two-projection
    # union — halves the candidate-subtree references this prefilter adds
    cand_ids = (
        candidates.select(F.explode(F.array("id_a", "id_b")).alias("id"))
        .distinct()
    )
    sh = hashed_shingle_sets(df, id_col, text_col, shingle_k).join(
        cand_ids, "id", "left_semi"
    )
    # two per-side equi-joins, NOT a single gathered join: a
    # gather-by-pair variant (explode pairs to (pair, side, id), one join
    # on id, first()-per-side aggregate — ~25% faster here) was tried and
    # REVERTED: incremental_near_dup's contract passes a corpus holding
    # BOTH texts of a changed doc (old + new rows under one id), and the
    # per-side joins verify a pair against EVERY version (any passing
    # combination keeps it), where first() picked one version
    # nondeterministically and dropped real matches
    # (test_changed_doc_moves_without_regluing_old_cluster caught it).
    return (
        candidates.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            # try_divide: two EMPTY shingle sets give 0/0 — NULL jaccard
            # (fails the threshold) instead of an ANSI DIVIDE_BY_ZERO
            # that kills the whole query
            F.try_divide(
                F.col("common"), F.size("sh_a") + F.size("sh_b") - F.col("common")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Duplicate clusters from verified pairs: iterative min-label
    propagation. Returns (id, cluster_id) where cluster_id = min id
    reachable.

    Scale notes: each iteration is one shuffle on id and propagates labels
    ONE hop, so convergence takes O(cluster diameter) rounds — near-dup
    clusters are tiny (diameter ~2-3) so 3-5 rounds in practice;
    ``max_iters`` bounds the pathological chain and a RuntimeWarning is
    raised if the graph has not converged by then (results would be
    under-merged). localCheckpoint() truncates the growing lineage.
    """
    # every iteration joins edges/labels repeatedly — without
    # materialization the ENTIRE upstream (minhash -> LSH -> verify)
    # recomputes per round. session.materialize uses a RELIABLE
    # checkpoint when sc.setCheckpointDir points at HDFS/S3 (a
    # 1000-executor run survives executor loss mid-iteration), else
    # localCheckpoint. Reliable checkpoint files are cleaned on RDD GC
    # only when spark.cleaner.referenceTracking.cleanCheckpoints=true
    # (get_spark sets it); on other sessions schedule a periodic sweep
    # of the checkpoint dir or orphans accumulate per run.
    from fscrawler_spark.session import materialize as _materialize

    # materialize the PAIR set before doubling it into directed edges:
    # the union references ``pairs`` twice, and when the upstream plan
    # has no exchange on its spine (the broadcast-verify shape) there is
    # no shuffle-stage reuse to stop the whole verify pipeline executing
    # once per reference
    p = _materialize(pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")))
    edges = _materialize(
        p.unionByName(p.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )
    # Round 1 fused into the init: with labels == id, the neighbor min is
    # just min(b) per a, so the first propagation needs no join at all —
    # one aggregate over the materialized edges replaces the old
    # init-distinct job PLUS the first loop round's two joins.
    labels = _materialize(
        edges.groupBy("a")
        .agg(F.min("b").alias("_nb"))
        .select(
            F.col("a").alias("id"),
            F.least(F.col("a"), F.col("_nb")).alias("cluster_id"),
        )
    )
    converged = False
    if max_iters <= 1:
        # no confirmation round will run: an edgeless graph is trivially
        # converged, anything else legitimately warns below
        converged = edges.head(1) is None
    for _ in range(max(0, max_iters - 1)):
        # One join + ONE aggregate per round: each id's new label is
        # min(own label, labels of every neighbor), computed by unioning
        # the own-label rows (marked) into the neighbor-label stream and
        # taking min per id. The _own marker lets the same aggregate
        # recover the previous label (exactly one own row per id), so
        # convergence is an EXACT per-row min<old check — labels only
        # ever decrease — carried on the materialized frame instead of
        # the old separate labels-vs-labels change-check join (one extra
        # corpus-of-ids shuffle per round, gone).
        merged = (
            edges.join(labels, edges.b == labels.id)
            .select(F.col("a").alias("id"), "cluster_id", F.lit(False).alias("_own"))
            .unionByName(labels.select("id", "cluster_id", F.lit(True).alias("_own")))
        )
        # the convergence check rides the SAME checkpoint action as an
        # Observation (any-row-changed = max of the per-row flags) —
        # the former filter(...).head(1) was one extra full pass over
        # the materialized labels per round, pure job overhead on the
        # converged round
        from pyspark.sql import Observation

        obs = Observation()
        new_labels = _materialize(
            merged.groupBy("id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                (
                    F.min("cluster_id")
                    < F.max(F.when(F.col("_own"), F.col("cluster_id")))
                ).alias("_changed"),
            )
            .observe(obs, F.max("_changed").alias("any_changed"))
        )
        changed = bool(obs.get["any_changed"])
        labels = new_labels.drop("_changed")
        if not changed:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: not converged after {max_iters} iterations; "
            "clusters may be under-merged (raise max_iters)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def near_dup_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = 1000,
    hash_family: str = "fast",
) -> DataFrame:
    """Production near-dup dedup: MinHash -> LSH buckets -> exact-Jaccard
    verify on candidates only -> connected components -> keeper = min id
    per cluster. Returns (id, cluster_id, is_keeper).

    hash_family: 'fast' (xxhash64, the 100TB path) or 'md5' (the
    cross-engine-stable twin, reproducible in DuckDB for oracle checks).
    """
    if hash_family not in ("fast", "md5"):
        raise ValueError(f"hash_family must be 'fast' or 'md5', got {hash_family!r}")
    sig_fn = minhash_signatures_fast if hash_family == "fast" else minhash_signatures
    sigs = sig_fn(df, id_col=id_col, text_col=text_col, num_hashes=num_hashes)
    # verify_candidates materializes the candidate pair set and joins it
    # through a shuffle, never a broadcast (its docstring: the broadcast
    # was tried and rejected) — the earlier live-vs-materialized A/B
    # predates the vectorized signature stage that flipped it.
    cands = lsh_candidate_pairs(sigs, num_hashes=num_hashes, bands=bands, max_bucket=max_bucket)
    verified = verify_candidates(df, cands, id_col=id_col, text_col=text_col, threshold=threshold)
    clusters = connected_components(verified)
    return clusters.withColumn("is_keeper", F.col("id") == F.col("cluster_id"))


def keep_best_of_cluster(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    member_col: str = "id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Quality-aware keeper selection: for each dup cluster keep the
    member with the HIGHEST ``quality_col`` (ties: highest id) and drop
    the rest; docs outside every cluster always survive. Returns the
    surviving ``docs`` rows unchanged.

    The upgrade over near_dup_pipeline's positional keeper (cluster_id =
    min id): production pipelines keep the best-of-cluster — longest
    extraction, highest quality score, preferred source — not whichever
    member hashed lowest. ``clusters`` is any (member_col, cluster_col)
    assignment (near_dup_pipeline output, semantic_dedup cells, a manual
    grouping). A doc in several clusters survives only if it wins ALL of
    them (losing any marks it a duplicate of some keeper).

    Scale shape: quality rides a SLIM (id, quality) projection joined to
    the cluster table — dup members only, ≪ corpus; winners are ONE
    max_by hash aggregate; the corpus itself is touched only by the
    final id-keyed left-anti join against the loser set (AQE broadcasts
    it when small). The full docs rows never shuffle.

    ``quality_col`` is any orderable column; coalesce NULLs to a floor
    value first — NULL ordering inside the max_by struct is otherwise
    engine-defined.
    """
    q = docs.select(F.col(id_col).alias("id"), F.col(quality_col).alias("q"))
    members = clusters.select(
        F.col(member_col).alias("id"), F.col(cluster_col).alias("cid")
    )
    scored = members.join(q, "id")
    winners = scored.groupBy("cid").agg(
        F.max_by(F.col("id"), F.struct(F.col("q"), F.col("id"))).alias("id")
    )
    # a LOST MEMBERSHIP (not merely "never won anything") marks a doc a
    # duplicate of that cluster's keeper — a doc in overlapping clusters
    # is dropped on its first loss even if it won elsewhere (its own win
    # is transitively represented by whatever beat it)
    losers = scored.join(winners, ["cid", "id"], "left_anti").select("id").distinct()
    return docs.join(
        losers.withColumnRenamed("id", id_col), id_col, "left_anti"
    )


def simhash_near_dup_pairs(
    sims: DataFrame,
    max_hamming: int = 3,
    bits: int = 32,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance (Manku/Jain/
    Sarma WWW'07 pigeonhole scheme, public): split the ``bits``-bit
    fingerprint into ``max_hamming + 1`` bands — any pair within
    ``max_hamming`` bit flips agrees EXACTLY on at least one band — so
    candidates join per (band, band-bits) bucket and verify with one
    JVM-side popcount of the XOR. Input: (id, simhash) from simhash().

    Same scale shape as MinHash-LSH candidates: keyed shuffle, never
    all-pairs, giant buckets capped (shared-exchange window count).
    Returns (id_a, id_b, hamming).
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    bands = max_hamming + 1
    width = bits // bands
    if width < 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least {bands} bands but the "
            f"fingerprint has only {bits} bits"
        )
    entries = []
    for b in range(bands):
        lo = b * width
        w = width + (bits - bands * width if b == bands - 1 else 0)  # last takes remainder
        # band bucket = the band's bits shifted DOWN, not masked in place:
        # an in-place mask for the top band would need a (1<<w)-1)<<lo
        # literal that can exceed a signed int64 (e.g. bits=64 bands=4),
        # which F.lit rejects. shiftrightunsigned keeps every literal
        # small and the grouping is the same up to a bijection.
        bucket = F.col("simhash") if w >= 64 else (
            F.shiftrightunsigned(F.col("simhash"), lo).bitwiseAND(F.lit((1 << w) - 1))
        )
        entries.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    banded = sims.select(
        F.col("id"), F.col("simhash"), F.explode(F.array(*entries)).alias("bb")
    ).select("id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    banded = cap_groups(banded, ["band", "bucket"], max_bucket)
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32) -> DataFrame:
    """SimHash: per token, hash to ``bits`` bits; each bit votes +1/-1;
    sign of the vote sum forms the fingerprint bit. Near-dups share most
    bits.

    Shape: ONE explode (tokens) -> ONE hash aggregate carrying ``bits``
    sum columns -> JVM-side bit assembly. An earlier variant exploded a
    second time by bit position: 32x the rows through the aggregate (32
    hash-map probes per token instead of 1) and 32 shuffle rows per id
    instead of one wide row (~3x the shuffle bytes with row overhead).
    Identical results; equal at toy SF, wins at scale.

    bits accepts [1, 64], but note the cross-engine token hash
    (_md5_int) carries 60 bits of entropy: fingerprint bits 60-63 are
    constant 0. That is BENIGN for correctness (constant bits agree for
    every pair, so hamming distances and the pigeonhole recall guarantee
    are unchanged, and the exact hamming verify fixes precision) — the
    only cost is some extra candidate fan-out in bands covering those
    bits. bits<=60 avoids even that.

    Round 6 reshape (guide §4.2, the MinHash pattern): fingerprints are
    computed PER TASK in a numpy Arrow stage — distinct tokens of the
    JVM-normalized text, md5 via hashlib with a worker-resident memo
    (Zipf repetition makes the common tokens free), the ±1 bit votes as
    one int8 matrix sum per doc — so the former token explode, 32-sum
    hash aggregate, and its SHUFFLE are gone. Values are bit-identical:
    same md5-prefix hash, same distinct-token multiplicity-free votes,
    same sign rule (vote sum > 0).
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    from pyspark.sql import types as T

    norm = widen_slim(df, id_col, text_col).select(
        F.col(id_col).alias("id"), normalized_text(F.col(text_col)).alias("_t")
    )
    id_type = norm.schema["id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("simhash", T.LongType()),
        ]
    )
    n_bits = bits

    def _simhash_batches(batches):
        import numpy as np
        import pyarrow as pa

        from fscrawler_spark.functions.lm_quality import _md5_int_py

        shifts = np.arange(n_bits, dtype=np.uint64)
        weights = (np.uint64(1) << shifts).astype(np.int64)
        for b in batches:
            texts = b.column(1).to_pylist()
            fps = np.zeros(len(texts), dtype=np.int64)
            keep = np.zeros(len(texts), dtype=bool)
            for r, s in enumerate(texts):
                if s is None:
                    continue
                keep[r] = True
                toks = dict.fromkeys(s.split(" "))
                hs = np.fromiter(
                    (_md5_int_py(t) for t in toks), dtype=np.uint64, count=len(toks)
                )
                votes = (
                    ((hs[:, None] >> shifts) & np.uint64(1))
                    .astype(np.int8)
                    .sum(axis=0, dtype=np.int64)
                )
                # vote rule: bit set iff (+1 count) > (-1 count), i.e.
                # ones > n_tokens - ones
                ones = votes  # count of set bits per position
                fps[r] = int(weights[ones * 2 > len(toks)].sum())
            if not keep.any():
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(0).filter(pa.array(keep)),
                    pa.array(fps[keep], type=pa.int64()),
                ],
                ["id", "simhash"],
            )

    return norm.mapInArrow(_simhash_batches, out_schema)
