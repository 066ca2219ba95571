"""Similarity search over an embedding column (array<float>).

* brute-force cosine top-k — the exact baseline: broadcast the (small)
  query set against the corpus, JVM-side dot products via zip_with +
  aggregate, window top-k. Correct at any corpus size as long as the
  QUERY side is broadcastable.
* random-hyperplane LSH top-k — the scale path (SimHash-for-vectors,
  Charikar '02): each of L tables hashes a vector to a B-bit bucket via
  the signs of B seeded random projections; candidates only join within
  a (table, bucket) pair, so the shuffle is keyed and bounded instead of
  a cross join. Recall is tuned by (bits, tables): fewer bits / more
  tables = more candidates = higher recall; P(hit) = 1-(1-p^B)^L with
  p = 1 - acos(sim)/pi. A per-bucket cardinality cap bounds the
  worst-case join fan-out (a degenerate bucket at 10^9 vectors would
  otherwise go quadratic — AQE splits the join, not the output).
* embedding-cosine near-duplicate pairs — dedup by cosine >= threshold
  within hyperplane buckets.

The bucket computation is ONE numpy matmul per Arrow batch
((batch x dim) @ (dim x tables*bits)) inside a vectorized arrow_udf —
measured far cheaper than 2k interpreted higher-order-function scalar
ops per row, and it is a pure map: no shuffle, embarrassingly parallel.
Verification-side dot products (cosine on the candidate pairs) stay
JVM-side via zip_with/aggregate.

Replaces the round-1 sign_bucket quantizer (sign bits of the FIRST 8
dimensions): that had max 256 data-dependent buckets — correlated
dimensions pile mass into a few buckets and the within-bucket self-join
goes quadratic. Seeded random projections distribute mass evenly
regardless of the data's axis alignment.
"""

from __future__ import annotations

import logging
import math
import random
from collections import OrderedDict

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

logger = logging.getLogger(__name__)

# ONE shared default across every operator in this module (lsh_topk,
# cosine_near_dup_pairs) so they all bucket the same way.
#
# SIZE THE BITS TO THE CORPUS: expected bucket size is n / 2^bits per
# table, and _cap_buckets drops WHOLE buckets above max_bucket — with too
# few bits every bucket crosses the cap and the operators would return
# EMPTY results. The join operators therefore AUTO-SIZE bits from a
# corpus count when ``bits`` is not given (one count job at plan time,
# or pass ``corpus_count`` to skip it), and WARN LOUDLY on an explicit
# ``bits`` whose expected bucket size already exceeds the cap (a warning,
# not an error: skewed corpora can still return valid tail-bucket
# results) — a SILENT empty result at exactly the scale the operator
# exists for is never ok.
# Recall follows 1-(1-p^bits)^tables, so add tables as you add bits.
DEFAULT_BITS = 8
DEFAULT_TABLES = 4
DEFAULT_SEED = 42
DEFAULT_MAX_BUCKET = 20_000
# bucket ids are packed into int32: 2^30 buckets/table (cap 20k each)
# covers ~2e13 vectors — past int32 we'd widen the bucket type, not bits.
MAX_BITS = 30
# auto-sizing targets an EXPECTED bucket of max_bucket / HEADROOM so
# ordinary skew (a few x the mean) stays under the cap.
AUTO_BITS_HEADROOM = 4


def _validate_bits(bits: int) -> None:
    if not 1 <= bits <= MAX_BITS:
        raise ValueError(
            f"bits must be in [1, {MAX_BITS}] (bucket ids are packed into "
            f"int32; 2^{MAX_BITS} buckets/table is the widest supported), got {bits}"
        )


def auto_bits(
    n: int,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    floor_bits: int = DEFAULT_BITS,
    headroom: int = AUTO_BITS_HEADROOM,
) -> int:
    """Bits sized to the corpus: smallest b >= floor_bits with expected
    bucket n/2^b <= max_bucket/headroom. Logged when it raises bits past
    the floor so a recall-sensitive caller knows to add tables. Raises
    (never silently returns empty-result sizing) when even MAX_BITS
    cannot bring the expected bucket under the cap (~2e13 vectors at the
    defaults — at that scale widen max_bucket or pre-partition)."""
    _validate_bits(floor_bits)
    if max_bucket is None or n <= 0:
        return floor_bits
    need = math.ceil(math.log2(max(1.0, headroom * n / max_bucket)))
    bits = max(floor_bits, need)
    if bits > MAX_BITS:
        if n / (1 << MAX_BITS) > max_bucket:
            raise ValueError(
                f"hyperplane LSH cannot bucket n={n} under max_bucket="
                f"{max_bucket} even at {MAX_BITS} bits (expected bucket "
                f"{n / (1 << MAX_BITS):.0f}); raise max_bucket or shard "
                "the corpus before bucketing"
            )
        bits = MAX_BITS
    if bits > floor_bits:
        logger.warning(
            "hyperplane LSH: auto-sized bits %d -> %d for corpus n=%d "
            "(expected bucket %.0f vs cap %d); recall per table drops with "
            "bits — consider raising tables",
            floor_bits, bits, n, n / (1 << bits), max_bucket,
        )
    return bits


_COUNT_CACHE: OrderedDict = OrderedDict()
_COUNT_CACHE_MAX = 64


def _cached_count(corpus: DataFrame) -> int:
    """Session-scoped LRU over (applicationId, plan semanticHash): the
    bits-sizing count is a full corpus scan at 100 TB, and one session
    typically calls several ANN operators over the SAME corpus plan
    (lsh_topk + cosine_near_dup_pairs) — they should
    pay ONE count job, not one each. Same trusted-caller caveat as
    ``corpus_count``: if the underlying files change mid-session (an
    incremental tick) the cached cardinality is stale — pass
    ``corpus_count`` explicitly or ``clear_count_cache()`` after
    mutating. Keyed on applicationId so a restarted session never reads
    a dead session's entry."""
    try:
        key = (corpus.sparkSession.sparkContext.applicationId, corpus.semanticHash())
    except Exception:  # semanticHash unavailable (exotic plan): just count
        return corpus.count()
    if key in _COUNT_CACHE:
        _COUNT_CACHE.move_to_end(key)
        return _COUNT_CACHE[key]
    n = corpus.count()
    _COUNT_CACHE[key] = n
    while len(_COUNT_CACHE) > _COUNT_CACHE_MAX:
        _COUNT_CACHE.popitem(last=False)
    return n


def clear_count_cache() -> None:
    """Drop cached bits-sizing cardinalities (call after mutating the
    files a cached corpus plan reads)."""
    _COUNT_CACHE.clear()


def _resolve_bits(
    corpus: DataFrame,
    bits: int | None,
    max_bucket: int | None,
    corpus_count: int | None,
    op: str,
) -> int:
    """Size/validate bits against the giant-bucket cap.

    The DEFAULT path (bits=None) is the footgun-proof one: it needs the
    corpus cardinality — ``corpus_count`` when the caller knows it, else
    ONE count job at plan time (skipped entirely when max_bucket is None
    — no cap, no footgun, floor bits) — and sizes bits so the cap can
    never drop every bucket.

    EXPLICIT bits are an expert override, but never a SILENT one: the
    crossover check still needs the cardinality (``corpus_count`` when
    supplied, else one count job cached per (session,
    plan) — see _cached_count — so repeat ANN calls over the same corpus
    pay it once), and a crossover WARNS rather than
    raising — a skewed corpus concentrates mass in a few dense buckets
    the cap drops while its tail still returns valid neighbors, so a
    hard error would refuse working configurations."""
    if bits is not None:
        _validate_bits(bits)
    if max_bucket is None:
        return bits if bits is not None else DEFAULT_BITS
    n = corpus_count if corpus_count is not None else _cached_count(corpus)
    if bits is None:
        return auto_bits(n, max_bucket)
    if n / (1 << bits) > max_bucket:
        need = math.ceil(math.log2(max(1.0, AUTO_BITS_HEADROOM * n / max_bucket)))
        if need <= MAX_BITS:
            remedy = (
                f"Raise bits (~{need}), raise max_bucket, or pass "
                "bits=None to auto-size"
            )
        else:
            # even MAX_BITS cannot satisfy the cap: more bits or
            # auto-sizing cannot help — say what can
            remedy = (
                f"No bits value <= {MAX_BITS} satisfies this cap at n={n}; "
                "raise max_bucket or shard the corpus before bucketing"
            )
        logger.warning(
            "%s: bits=%d gives an EXPECTED bucket of %.0f > max_bucket=%d "
            "for n=%d; under a near-uniform distribution most buckets "
            "exceed the cap and are dropped (empty or severely truncated "
            "result). %s.",
            op, bits, n / (1 << bits), max_bucket, n, remedy,
        )
    return bits


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + (v * v).cast("double")))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail for the three ANN operators: rank candidates by
    sim (desc, NULL/zero-norm last) with deterministic neighbor-id tie
    break. One definition so tie-break/NULL-ordering fixes can't drift
    between brute-force, LSH and IVF."""
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("sim", 6).alias("sim"))
    )


def cosine(a, b) -> F.Column:
    """Cosine similarity; NULL (not an ANSI DIVIDE_BY_ZERO crash, not a
    rank-first NaN) when either vector has zero norm OR contains NaN —
    a broken embedding (failed embed, padding row, partial NaN) must
    neither kill the query under ANSI nor rank first (Spark orders NaN
    above every real double) nor pass `sim >= threshold` filters. NULL
    sim drops from thresholds and sorts last under `sim DESC`."""
    return F.nanvl(
        F.try_divide(_dot(a, b), _norm(a) * _norm(b)),
        F.lit(None).cast("double"),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: (query_id, rank, neighbor_id, sim).

    queries MUST be small (broadcast side). Ties break on neighbor id for
    determinism. Self-matches excluded by id equality when
    ``exclude_self`` (pass False for synthetic query rows — e.g. the
    semantic-search sentinel — so an accidental id collision with a real
    corpus row can never silently hide that row from results).
    """
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = c.crossJoin(F.broadcast(q))
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    return _rank_topk(scored, k)


def random_hyperplanes(
    dim: int,
    bits: int = DEFAULT_BITS,
    tables: int = DEFAULT_TABLES,
    seed: int = DEFAULT_SEED,
) -> list[list[list[float]]]:
    """Seeded gaussian hyperplanes, shape (tables, bits, dim), rounded to
    6 decimals so the SAME literals are embeddable in any engine (the
    DuckDB oracle reproduces buckets from these exact values)."""
    _validate_bits(bits)  # packed int32 buckets: bits > 30 would overflow
    rng = random.Random(seed)
    return [
        [[round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(bits)]
        for _ in range(tables)
    ]


def make_bucket_udf(planes: list[list[list[float]]]):
    """arrow_udf: embedding -> array<int> of L bucket ids (one per table).
    One float64 GEMM per Arrow batch; sign bits packed per table."""
    mat = np.asarray(planes, dtype=np.float64)  # (tables, bits, dim)
    tables, bits, dim = mat.shape
    flat_mat = mat.reshape(tables * bits, dim)
    weights = 1 << np.arange(bits, dtype=np.int64)

    @F.arrow_udf(T.ArrayType(T.IntegerType()))
    def bucket_udf(emb: pa.Array) -> pa.Array:
        if isinstance(emb, pa.ChunkedArray):
            emb = emb.combine_chunks()
        if emb.null_count:
            raise ValueError("hyperplane LSH requires non-null embeddings")
        vals = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        n = len(emb)
        m = vals.reshape(n, dim)
        sign = (m @ flat_mat.T) > 0.0  # (n, tables*bits)
        buckets = (sign.reshape(n, tables, bits) * weights).sum(axis=2).astype(np.int32)
        return pa.array(buckets.tolist(), pa.list_(pa.int32()))

    return bucket_udf


def _infer_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Vector dimensionality: taken from ``dim`` when the caller knows it
    (no Spark job), else inferred from the first row (one tiny job —
    plan-construction time)."""
    if dim is not None:
        return dim
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot infer embedding dim from an empty DataFrame/{vec_col}; "
            "pass dim= explicitly"
        )
    return len(row[0])


def _bucketed(
    df: DataFrame, id_col: str, vec_col: str, planes, id_alias: str, vec_alias: str
) -> DataFrame:
    """(id, vec) -> one row per (table, bucket) membership."""
    udf = make_bucket_udf(planes)
    return df.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias(vec_alias),
        F.posexplode(udf(F.col(vec_col))).alias("table", "bucket"),
    )


def _cap_buckets(bucketed: DataFrame, max_bucket: int | None) -> DataFrame:
    """Drop (table, bucket) groups above the cardinality cap — the
    giant-bucket guard. A window count over the SAME (table, bucket) key
    the candidate join shuffles on shares that exchange, so the guard is
    effectively free (see the A/B note in dedup.lsh_candidate_pairs).
    Dropped mass is not logged inline (that would force an action on a
    lazy plan)."""
    from fscrawler_spark.functions.dedup import cap_groups

    return cap_groups(bucketed, ["table", "bucket"], max_bucket)


def make_ivf_assign_udf(centroids: list[tuple[int, list[float]]], nprobe: int = 1):
    """arrow_udf: embedding -> array<int> of the ``nprobe`` nearest
    centroid ids by cosine (one GEMM per Arrow batch; ties break on the
    LOWER centroid id, matching the SQL twin's ORDER BY sim DESC, cid)."""
    if not centroids:
        # a zero-row matrix would surface as a numpy AxisError deep in
        # the first Arrow batch; fail at plan-build time with the cause
        raise ValueError(
            "IVF assignment requires at least one centroid (empty corpus?)"
        )
    cids = np.asarray([c for c, _ in centroids], dtype=np.int64)
    mat = np.asarray([v for _, v in centroids], dtype=np.float64)  # (C, dim)
    cnorms = np.linalg.norm(mat, axis=1, keepdims=True)
    cnorms[cnorms == 0] = 1.0  # zero-vector centroid: keep finite sims
    mat_n = mat / cnorms
    dim = mat.shape[1]

    # LongType cells: int64 vec_ids used as centroid ids must not wrap
    # through an int32 cast (two centroids congruent mod 2^32 would
    # silently conflate into one cell)
    @F.arrow_udf(T.ArrayType(T.LongType()))
    def assign_udf(emb: pa.Array) -> pa.Array:
        if isinstance(emb, pa.ChunkedArray):
            emb = emb.combine_chunks()
        if emb.null_count:
            raise ValueError("IVF assignment requires non-null embeddings")
        vals = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
        n = len(emb)
        m = vals.reshape(n, dim)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (m / norms) @ mat_n.T  # (n, C)
        # stable top-nprobe: sort by (-sim, cid); argsort is stable on ties
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        out = cids[order]  # already int64 — no narrowing cast
        return pa.array(out.tolist(), pa.list_(pa.int64()))

    return assign_udf


def sampled_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """IVF coarse centroids = a deterministic hash-sample of the corpus
    (FAISS-style IVF commonly trains on a random subset; taking sampled
    vectors AS the centroids is the zero-training 'IVF-flat-random'
    variant — fully reproducible in any engine, no RNG/Lloyd state).
    Selection: the n_centroids smallest md5-hash ids (cross-engine).
    Returned sorted by cid so similarity TIES break on the lower cid in
    both the numpy argsort (stable over list order) and the SQL twin's
    ORDER BY sim DESC, cid."""
    from fscrawler_spark.functions.dedup import _md5_int

    rows = (
        corpus.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("v"),
            # the shared cross-engine hash (dedup._md5_int) so centroid
            # selection stays reproducible in the DuckDB twin
            _md5_int(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "cid")
        .limit(n_centroids)
        .collect()
    )
    cents = []
    for r in rows:
        cid = r["cid"]
        # a type check, not int(): a digit-string id would pass int()
        # silently, and a bad vector element must not be mislabeled as
        # an id-column problem
        if isinstance(cid, bool) or not isinstance(cid, int):
            raise TypeError(
                f"IVF centroids require an INTEGER {id_col!r} column (cell "
                "ids ride an int64 array and tie-breaks order by cid); for "
                "string-id corpora use lsh_topk/brute_force_topk, which "
                "accept any id type"
            )
        cents.append((cid, [float(x) for x in r["v"]]))
    return sorted(cents)


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Spherical k-means (Lloyd) coarse centroids for IVF — the trained
    upgrade over ``sampled_centroids`` (FAISS trains its IVF quantizer
    the same way: k-means over a sample, cosine/IP metric).

    Deterministic end to end: init = the hash-sampled corpus vectors
    (no RNG), assignment ties break on the lower centroid id (the
    shared ``make_ivf_assign_udf``), and the update is the per-cell
    mean renormalized to the unit sphere (spherical k-means; cosine
    assignment needs unit centroids for the GEMM to be the metric).
    Empty cells keep their previous centroid.

    Scale shape per iteration: ONE corpus pass — assignment is the same
    broadcast-matrix Arrow map as query-time IVF (no shuffle), and the
    update is a single hash aggregate producing ``dim`` column sums +
    a count per cell (codegen, map-side partial combine; NO posexplode,
    which would amplify rows dim×). Driver state is the (C × dim)
    centroid matrix — KB-scale by construction. Returned re-keyed to
    dense cids 0..C-1 (Lloyd means are no longer corpus vectors, so
    corpus ids would be misleading).
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0 (got {iters})")
    dim = _infer_dim(corpus, vec_col, dim)
    init = sampled_centroids(corpus, n_centroids, id_col, vec_col)
    cents: list[list[float]] = [v for _cid, v in init]

    def _unit(v: list[float]) -> list[float]:
        import math

        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n > 0 else v

    cents = [_unit(v) for v in cents]
    vec = F.col(vec_col)
    for _ in range(iters):
        assign = make_ivf_assign_udf(list(enumerate(cents)), nprobe=1)
        assigned = corpus.select(
            F.element_at(assign(vec), 1).alias("cell"),
            *[
                F.element_at(vec, i + 1).cast("double").alias(f"x{i}")
                for i in range(dim)
            ],
        )
        stats = (
            assigned.groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(f"x{i}").alias(f"s{i}") for i in range(dim)],
            )
            .collect()
        )
        nxt = list(cents)  # empty cells keep their previous centroid
        for r in stats:
            c, n = int(r["cell"]), int(r["n"])
            nxt[c] = _unit([r[f"s{i}"] / n for i in range(dim)])
        cents = nxt
    return list(enumerate(cents))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
    exclude_self: bool = True,
    train: str = "sample",
    train_iters: int = 5,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors partition into coarse
    cells (nearest sampled centroid); a query scans only its ``nprobe``
    nearest cells. The complementary scale path to hyperplane LSH —
    cells adapt to the data's density (clustered corpora concentrate
    comparisons where the mass is), while LSH is data-independent.

    Scale shape: cell assignment is a pure map (one GEMM per batch, no
    shuffle); the candidate join is keyed on cell id; expected work per
    query = nprobe/n_centroids of the corpus. Recall grows with nprobe
    (nprobe = n_centroids degenerates to exact search).

    ``train="sample"`` (default) uses the zero-training hash-sample
    centroids; ``train="kmeans"`` runs ``train_iters`` spherical-Lloyd
    iterations first (one corpus pass each) — cells then track the
    data's actual density, which evens out cell populations and raises
    recall at the same nprobe. Explicit ``centroids`` win over both.
    """
    if centroids is None:
        if train == "kmeans":
            centroids = kmeans_centroids(
                corpus, n_centroids, iters=train_iters,
                id_col=id_col, vec_col=vec_col,
            )
        elif train == "sample":
            centroids = sampled_centroids(corpus, n_centroids, id_col, vec_col)
        else:
            raise ValueError(
                f"train must be 'sample' or 'kmeans' (got {train!r})"
            )
    assign1 = make_ivf_assign_udf(centroids, nprobe=1)
    assignp = make_ivf_assign_udf(centroids, nprobe=nprobe)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(assignp(F.col(vec_col))).alias("cell"),
    )
    scored = c.join(F.broadcast(q), "cell")
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = (
        # no dedup needed (unlike lsh_topk): each corpus vector has ONE
        # cell and a query's probed cells are distinct, so a pair can
        # arise from at most one join row — a dropDuplicates here would
        # be a pure extra shuffle over the candidate set
        scored.select("query_id", "qv", "neighbor_id", "cv")
        .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    )
    return _rank_topk(scored, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int | None = None,
    tables: int = DEFAULT_TABLES,
    seed: int = DEFAULT_SEED,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    dim: int | None = None,
    corpus_count: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates restricted to vectors sharing the
    query's bucket in ANY of the L tables. Same output shape as
    brute_force_topk; recall < 1 by design and tunable via (bits,
    tables) — the candidate join is keyed on (table, bucket) instead of
    a cross join, which is what survives a 10^9-vector corpus.

    bits=None (default) auto-sizes to the corpus so the giant-bucket cap
    can never silently drop everything; ONE count job runs at plan time
    when max_bucket is set — pass ``corpus_count`` to skip it.
    corpus_count is TRUSTED: a stale undercount passes validation while
    the real bucketing overflows the cap (the silent-empty mode again) —
    supply it only from a fresh count/table snapshot, else leave None.
    Explicit bits warn (not raise) past the cap crossover — see
    _resolve_bits.
    """
    bits = _resolve_bits(corpus, bits, max_bucket, corpus_count, "lsh_topk")
    dim = _infer_dim(queries, vec_col, dim)
    planes = random_hyperplanes(dim, bits, tables, seed)
    q = _bucketed(queries, id_col, vec_col, planes, "query_id", "qv")
    c = _cap_buckets(_bucketed(corpus, id_col, vec_col, planes, "neighbor_id", "cv"), max_bucket)
    # score INSIDE the bucket join (both vectors are already co-located
    # there), so the dedup exchange below carries only (ids, sim) — the
    # vector payload never rides a shuffle. A pair matching in several
    # tables computes the same sim each time; dropDuplicates keeps one.
    scored = c.join(F.broadcast(q), ["table", "bucket"])
    if exclude_self:
        scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = scored.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("cv")).alias("sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    return _rank_topk(scored, k)


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int | None = None,
    tables: int = DEFAULT_TABLES,
    seed: int = DEFAULT_SEED,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    dim: int | None = None,
    corpus_count: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within hyperplane buckets
    (any table), capped per bucket. Exact near-dups (cosine ~= 1) agree
    on every sign bit, so they collide in every table — recall for the
    dedup use-case is ~1 by construction.

    bits auto-sizes to the corpus count like lsh_topk (same footgun
    guard: auto-sizing keeps the cap from ever dropping every bucket;
    same trusted-corpus_count caveat, same explicit-bits warning)."""
    bits = _resolve_bits(df, bits, max_bucket, corpus_count, "cosine_near_dup_pairs")
    dim = _infer_dim(df, vec_col, dim)
    planes = random_hyperplanes(dim, bits, tables, seed)
    v = _cap_buckets(_bucketed(df, id_col, vec_col, planes, "id", "v"), max_bucket)
    # score + threshold-filter INSIDE the bucket join, so the pair-dedup
    # exchange carries (id_a, id_b, sim) — never the two vectors. The
    # filter also shrinks the dedup input to just the rows that survive.
    pairs = (
        v.alias("a")
        .join(
            v.alias("b"),
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cosine(F.col("a.v"), F.col("b.v")).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.select("id_a", "id_b", F.round("sim", 6).alias("sim"))


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup within coarse embedding cells
# ---------------------------------------------------------------------------


def cell_assignments(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_cent_sim: bool = True,
) -> DataFrame:
    """(id, v, cell[, cent_sim]): each vector labeled with its nearest
    centroid (cosine, ties to the lower cid — the IVF assignment UDF's
    contract), plus — when ``with_cent_sim`` — its similarity TO that
    centroid. The centroid list is tiny (10^2..10^5), so cent_sim comes
    from a broadcast join against a literal centroid table with the
    cosine evaluated JVM-side — the embedding column never leaves the
    executor for this step and the whole assignment is a pure map (no
    shuffle). Callers that never read cent_sim (semantic_dedup's
    min_id path) pass with_cent_sim=False and skip the broadcast join
    and per-row cosine entirely."""
    from fscrawler_spark.session import widen_slim

    spark = df.sparkSession
    assign = make_ivf_assign_udf(centroids, nprobe=1)
    # widen the slim (id, vec) projection: the GEMM + downstream cosine
    # join amplify per-row CPU, and a dense embeddings parquet arrives
    # in byte-sized splits that under-parallelize both.
    # cell comes out of an EXPLODE of the (single-element, nprobe=1)
    # assignment array, not element_at: a Generate is a projection
    # barrier, so join-inserted isnotnull(cell) filters reference the
    # generated column instead of re-evaluating the Arrow UDF (the same
    # shape as _bucketed; element_at measured 2 UDF evals per join side)
    cells = widen_slim(df, id_col, vec_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.explode(assign(F.col(vec_col))).alias("cell"),
    )
    if not with_cent_sim:
        return cells
    cent_df = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "cell long, _cv array<double>",
    )
    return cells.join(F.broadcast(cent_df), "cell").select(
        "id", "v", "cell", cosine(F.col("v"), F.col("_cv")).alias("cent_sim")
    )


def semantic_pairs(
    cells: DataFrame, threshold: float, max_cell: int | None = DEFAULT_MAX_BUCKET
) -> DataFrame:
    """The SemDeDup candidate stage over a ``cell_assignments`` output:
    (id_a, id_b, sim) for every within-cell pair with cosine >=
    threshold. Exposed standalone so the pair graph can feed other
    consumers (audits, custom keeper policies) without running CC.

    Zero-norm/NaN vectors are DROPPED (their sim would be NULL and fail
    any threshold anyway — cosine()'s contract), and the drop happens
    BEFORE the max_cell group-size count, so they never crowd out real
    vectors under the cap. Round 6 moved BOTH the drop decision and the
    L2 normalization INSIDE the grouped stage: the former JVM transform
    evaluated two interpreted HOF passes per row (an aggregate for the
    norm + a per-element divide — measured 3.9s of the 4.6s stage at
    40k vectors), where one numpy pass per group is ~free and the
    exchange now carries the raw float32 arrays (half the bytes of the
    old double _vn). The drop predicate replicates the JVM fold
    bit-exactly — a vector is kept iff some float32 square is > 0 and
    none is NaN, the same float32-multiply underflow/NaN semantics
    ``_norm > 0`` had.

    The within-cell pairs themselves come from ONE numpy GEMM per cell
    (grouped-map Arrow stage): the former cell-keyed self-join evaluated
    an interpreted array-fold dot per PAIR — O(sum cell²) lambda
    evaluations — where the GEMM hands the whole cell matrix to BLAS
    (guide §4.2: batch work belongs in vectorized native code). Only
    pairs >= threshold leave the Python worker, so the boundary carries
    (ids, sim) rows, never the quadratic candidate set. The cell-keyed
    grouped-map exchange is the SAME exchange the self-join shuffled on,
    and the max_cell guard is the group-size check inside the stage
    (identical drop semantics to the shared window cap — the count runs
    over the same post-drop rows). Sims (and the norm) differ from the
    sequential JVM fold only by float64 summation order (~1e-16 —
    Spark never guaranteed a summation order here either)."""
    from pyspark.sql import types as T

    normed = cells.select("id", "cell", F.col("v").alias("_vn")).filter(
        F.col("_vn").isNotNull()
    )
    # squares must be taken in the SOURCE element precision: the JVM fold
    # multiplied float32 elements in float32 (then accumulated double),
    # and double elements in double — the underflow/NaN drop semantics
    # follow that precision
    src_f32 = isinstance(
        normed.schema["_vn"].dataType.elementType, T.FloatType
    )
    id_type = normed.schema["id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("sim", T.DoubleType()),
        ]
    )
    thr = float(threshold)
    cap = None if max_cell is None else int(max_cell)

    def _cell_pairs(tbl):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        id_t = tbl.schema.field("id").type
        schema = pa.schema([("id_a", id_t), ("id_b", id_t), ("sim", pa.float64())])
        empty = schema.empty_table()
        n = tbl.num_rows
        if not n:
            return empty
        # drop zero-norm/NaN vectors with the JVM fold's source-precision
        # square semantics (docstring), then normalize — BEFORE the cap;
        # null elements flatten to NaN, so their vector drops too
        flat = pc.list_flatten(tbl.column("_vn")).to_numpy(zero_copy_only=False)
        raw = flat.astype(np.float32 if src_f32 else np.float64, copy=False)
        raw = raw.reshape(n, len(flat) // n)
        sq = raw * raw
        good = (sq > 0).any(axis=1) & ~np.isnan(sq).any(axis=1)
        ids = tbl.column("id")
        if not good.all():
            ids = ids.filter(pa.array(good))
            raw = raw[good]
            sq = sq[good]
        n = len(ids)
        if n < 2 or (cap is not None and n > cap):
            return empty
        # sort by id so positional i<j reproduces the join's id_a < id_b
        order = pc.sort_indices(ids).to_numpy()
        ids = ids.take(order)
        ids_np = ids.to_numpy()
        m = raw[order].astype(np.float64)
        m /= np.sqrt(sq[order].astype(np.float64).sum(axis=1, keepdims=True))
        out_a, out_b, out_s = [], [], []
        # row-block GEMM bounds peak memory for uncapped giant cells
        block = 2048
        for lo in range(0, n, block):
            hi = min(lo + block, n)
            sims = m[lo:hi] @ m.T  # (hi-lo, n)
            bi, bj = np.nonzero(sims >= thr)
            keep = (bi + lo < bj) & (ids_np[bi + lo] != ids_np[bj])
            bi, bj = bi[keep], bj[keep]
            if len(bi):
                out_a.append(bi + lo)
                out_b.append(bj)
                out_s.append(sims[bi, bj])
        if not out_a:
            return empty
        return pa.Table.from_arrays(
            [ids.take(np.concatenate(out_a)), ids.take(np.concatenate(out_b)),
             pa.array(np.concatenate(out_s), pa.float64())],
            schema=schema,
        )

    return normed.groupBy("cell").applyInArrow(_cell_pairs, out_schema)


def semantic_dedup(
    df: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int | None = DEFAULT_MAX_BUCKET,
    keep: str = "min_id",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): drop semantic
    near-duplicates by clustering embeddings into coarse cells and
    deduping by cosine WITHIN each cell only. Returns (id, cluster_id,
    is_keeper) for every doc that belongs to some near-dup cluster —
    the same contract as dedup.near_dup_pipeline (docs absent from the
    result have no near-dup and are implicitly kept).

    keep='min_id'       — keeper = smallest id per cluster (deterministic
                          default, mirrors the text pipelines).
    keep='centroid_far' — the paper's §3 choice: keep the member with
                          the LOWEST similarity to its cell centroid
                          (prefers the outlier, discards the redundant
                          mass near the centroid); ties to the lower id.

    Shape at 100 TB: centroid selection is a bounded collect
    (sampled_centroids' deterministic hash-sample); assignment is a pure
    map (one GEMM per Arrow batch); the only corpus-scale exchange is
    the self-join keyed on cell — capped by ``max_cell`` via the shared
    giant-bucket guard, which reuses that same exchange. Pair rows carry
    (id_a, id_b, sim) only; vectors never ride a post-join shuffle.
    Exactness: within a cell the pairs are exact cosine (no LSH recall
    loss); across cells SemDeDup by construction never compares — the
    paper's documented approximation.
    """
    if keep not in ("min_id", "centroid_far"):
        raise ValueError(f"keep must be 'min_id' or 'centroid_far', got {keep!r}")
    from fscrawler_spark.functions.dedup import connected_components

    if centroids is None:
        centroids = sampled_centroids(df, n_cells, id_col=id_col, vec_col=vec_col)
    # cent_sim is only read by the centroid_far keeper — min_id skips
    # the broadcast centroid join and per-row cosine entirely
    cells = cell_assignments(
        df, centroids, id_col=id_col, vec_col=vec_col, with_cent_sim=False
    )
    pairs = semantic_pairs(cells, threshold, max_cell=max_cell)
    clusters = connected_components(pairs)
    if keep == "min_id":
        return clusters.withColumn("is_keeper", F.col("id") == F.col("cluster_id"))
    from pyspark.sql import Window

    # cent_sim for CLUSTER MEMBERS only: clusters (materialized by CC,
    # cheap to reference twice) semi-join-prunes the raw scan BELOW the
    # assignment UDF, so the second GEMM pass is dup-cluster-sized, not
    # corpus-sized (a full replay of the corpus-wide assignment was the
    # round-4 review's efficiency finding)
    members = df.join(
        clusters.select(F.col("id").alias(id_col)), id_col, "leftsemi"
    )
    member_sims = cell_assignments(
        members, centroids, id_col=id_col, vec_col=vec_col, with_cent_sim=True
    )
    scored = clusters.join(member_sims.select("id", "cent_sim"), "id", "left")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("cent_sim").asc_nulls_last(), F.col("id").asc()
    )
    return (
        scored.withColumn("is_keeper", F.row_number().over(w) == 1)
        .select("id", "cluster_id", "is_keeper")
    )


# --- max similarity vs a bounded reference set (pure map) -------------------


def make_max_sim_udf(ref_matrix):
    """arrow_udf: embedding -> max cosine against the (bounded)
    reference matrix. One GEMM per Arrow batch; rows and reference are
    normalized inside, so callers may pass un-normalized vectors. A
    zero vector scores 0.0 (no direction matches nothing)."""
    ref = np.asarray(ref_matrix, dtype=np.float64)  # (n_ref, dim)
    norms = np.linalg.norm(ref, axis=1)
    ref = ref[norms > 0.0] / norms[norms > 0.0, None]
    dim = ref.shape[1] if ref.size else 0

    @F.arrow_udf(T.DoubleType())
    def max_sim(emb: pa.Array) -> pa.Array:
        if isinstance(emb, pa.ChunkedArray):
            emb = emb.combine_chunks()
        n = len(emb)
        if not ref.size:
            return pa.array([0.0] * n, pa.float64())
        # externally-supplied embeddings tables carry hazards the
        # built-in embedder never produces: NULL rows (failed encoder)
        # score 0.0 like zero vectors, and a corpus/reference dimension
        # mismatch fails LOUDLY here instead of as an opaque numpy
        # reshape error mid-stage. Only NULL is excused: a NON-null
        # empty array is a dim mismatch like any other wrong length —
        # excusing it would let a table full of [] turn semantic
        # decontamination into a silent no-op (round-5 advice fix)
        offsets = emb.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        lens = np.diff(offsets)
        is_null = ~emb.is_valid().to_numpy(zero_copy_only=False)
        valid = ~is_null & (lens == dim)
        if not (valid | is_null).all():
            got = set(lens[~(valid | is_null)][:3].tolist())
            raise ValueError(
                f"embedding dim mismatch: reference is {dim}-dimensional, "
                f"corpus rows have lengths {sorted(got)}"
            )
        out = np.zeros(n, dtype=np.float64)
        if valid.any():
            # the RAW child buffer + absolute offsets, NOT flatten():
            # flatten() re-packs around null slots, silently misaligning
            # every row after the first null
            vals = emb.values.to_numpy(zero_copy_only=False).astype(
                np.float64, copy=False
            )
            take = (
                offsets[:-1][valid, None] + np.arange(dim, dtype=np.int64)
            ).reshape(-1)
            m = vals[take].reshape(-1, dim)
            vn = np.linalg.norm(m, axis=1)
            vn[vn == 0.0] = 1.0  # zero vectors stay zero -> sim 0.0
            out[valid] = ((m / vn[:, None]) @ ref.T).max(axis=1)
        return pa.array(out.tolist(), pa.float64())

    # asNondeterministic: callers filter on this UDF's OUTPUT (the
    # decontamination threshold), and Catalyst pushes such filters below
    # the widen repartition, dragging the whole embed+GEMM chain down to
    # the file's 1-2 natural splits (measured 0.9s -> 4.7s at 50k docs;
    # guide §4.4 — the marker pins the evaluation above the exchange;
    # per-row values are pure functions of the input either way)
    return max_sim.asNondeterministic()


def reference_max_sim(
    df: DataFrame,
    reference: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ref_vec_col: str = "embedding",
    max_reference: int = 100_000,
) -> DataFrame:
    """(id, ref_max_sim): each corpus vector's maximum cosine against
    the ENTIRE reference table — the primitive under semantic
    decontamination, seed-proximity scoring, and recall audits.

    Shape at 100 TB: the reference is collected ONCE (bounded by
    ``max_reference`` — it is an eval benchmark or a seed set, not a
    second corpus; loudly refuses anything bigger) and broadcast inside
    the UDF closure; the corpus side is a single widened pure map (one
    GEMM per Arrow batch), NO shuffle, NO join — the cheapest possible
    plan for 'compare everything against a small fixed set'."""
    rows = reference.select(ref_vec_col).limit(max_reference + 1).collect()
    if len(rows) > max_reference:
        raise ValueError(
            f"reference has more than max_reference={max_reference} rows; "
            "a corpus-sized 'reference' needs the keyed-join operators "
            "(cosine_near_dup_pairs / lsh_topk), not a broadcast matrix"
        )
    from fscrawler_spark.session import widen_slim

    mat = [r[0] for r in rows if r[0] is not None]
    dims = {len(v) for v in mat}
    if len(dims) > 1:
        raise ValueError(
            f"reference embeddings have mixed dimensions {sorted(dims)}"
        )
    udf = make_max_sim_udf(mat if mat else np.zeros((0, 1)))
    return widen_slim(df, id_col, vec_col).select(
        F.col(id_col).alias("id"), udf(F.col(vec_col)).alias("ref_max_sim")
    )


# --- deterministic text embeddings (the docs-table -> vector bridge) --------


def _gram_multiset(text_col, n: int):
    """Word n-grams of the normalized text as a MULTISET (repeats kept —
    term frequency is the feature weight, unlike word_shingles' distinct
    sets). NULL text -> empty array; fewer than n words -> one
    whole-text gram (word_shingles' short-text convention)."""
    from fscrawler_spark.functions.text_analysis import normalized_text

    words = F.filter(
        F.split(normalized_text(text_col), " "), lambda w: F.length(w) > 0
    )
    if n == 1:
        grams = words
    else:
        cnt = F.size(words)
        idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
        # ZERO words -> zero grams (the whole-text convention would emit
        # one "" gram, giving every blank doc the same non-zero vector)
        grams = (
            F.when(cnt == 0, F.array().cast("array<string>"))
            .when(cnt < n, F.array(F.array_join(words, " ")))
            .otherwise(
                F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " "))
            )
        )
    col = text_col if hasattr(text_col, "cast") else F.col(text_col)
    return F.when(col.isNotNull(), grams).otherwise(F.array().cast("array<string>"))


def make_hash_embed_udf(dim: int):
    """arrow_udf: array<long> gram hashes -> unit-L2 array<float> of
    ``dim`` dims via the hashing trick. One bincount per Arrow batch —
    per-row cost O(grams), never O(grams x dim)."""

    @F.arrow_udf(T.ArrayType(T.FloatType()))
    def embed_udf(hashes: pa.Array) -> pa.Array:
        if isinstance(hashes, pa.ChunkedArray):
            hashes = hashes.combine_chunks()
        n = len(hashes)
        offsets = hashes.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        vals = hashes.flatten().to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        # index = low bits (numpy int64 % follows Python sign rules ->
        # already non-negative); sign = bit 32, independent of the index
        idx = vals % dim
        sign = np.where((vals >> 32) & 1 == 1, 1.0, -1.0)
        lens = np.diff(offsets)
        out = np.zeros((n, dim), dtype=np.float64)
        # block the dense bincount buffer: at dim=4096 a 20k-row Arrow
        # batch would otherwise allocate a ~650 MB scratch array
        step = max(1, 2_000_000 // dim)
        for lo in range(0, n, step):
            hi = min(lo + step, n)
            g0, g1 = offsets[lo] - offsets[0], offsets[hi] - offsets[0]
            rows = np.repeat(np.arange(hi - lo, dtype=np.int64), lens[lo:hi])
            # bincount degrades to int64 zeros when the block has no
            # grams at all (weights empty) — force the float dtype
            out[lo:hi] = (
                np.bincount(
                    rows * dim + idx[g0:g1],
                    weights=sign[g0:g1],
                    minlength=(hi - lo) * dim,
                )
                .astype(np.float64, copy=False)
                .reshape(hi - lo, dim)
            )
        norms = np.linalg.norm(out, axis=1)
        nz = norms > 0.0
        out[nz] /= norms[nz, None]
        return pa.array(out.astype(np.float32).tolist(), pa.list_(pa.float32()))

    return embed_udf


def text_embeddings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    seed: int = 42,
    ngrams: int = 1,
) -> DataFrame:
    """Deterministic, vocabulary-free text embeddings: feature-hash word
    n-grams into ``dim`` signed buckets (the hashing trick, Weinberger
    et al. 2009 §3; sign from an independent hash bit is that paper's
    unbiased ξ) and L2-normalize — the dense-output cousin of SimHash
    (Charikar 2002). Bridges a docs table to the vector stack: output
    schema is the embeddings-table contract (vec_id, embedding:
    array<float>), so semantic_dedup / lsh_topk / ivf_topk / knn search
    run over corpora that ship no external embedding column. Two docs
    with similar n-gram multisets land close in cosine; disjoint
    vocabularies are near-orthogonal in expectation.

    NULL/empty text embeds as the ZERO vector: it never normalizes into
    a false direction, every cosine against it is 0/NaN (below any
    threshold; both guarded downstream), so extraction-failed docs can
    never semantic-match each other — the same clustering hazard
    word_shingles' NULL contract exists to prevent.

    Shape at 100 TB: gram build + salted xxhash64 are one codegen
    projection; the embedding is ONE Arrow boundary doing a single
    bincount per batch (O(grams) per row); no shuffle anywhere — the
    result rides the scan partitioning. The slim (id, text) projection
    is widened first (dense corpus parquet arrives in byte-sized splits
    that under-parallelize CPU-amplified maps — session.widen's
    contract, no-op at real scale). ``seed`` salts the gram hash, so
    two embedders with different seeds are independent projections.

    Determinism = reproducibility: the same (text, dim, seed, ngrams)
    embeds identically on any cluster, any partitioning, any Spark
    version that keeps xxhash64's spec (pinned by the pure-Python XXH64
    twin in tests/test_round4_fasthash_oracle.py).
    """
    if not 1 <= dim <= 4096:
        raise ValueError(f"dim must be in [1, 4096], got {dim}")
    if ngrams < 1:
        raise ValueError(f"ngrams must be >= 1, got {ngrams}")
    from fscrawler_spark.session import widen_slim

    salt = f"emb{seed}:"
    hashes = F.transform(
        _gram_multiset(F.col(text_col), ngrams),
        lambda g: F.xxhash64(F.concat(F.lit(salt), g)),
    )
    embed = make_hash_embed_udf(dim)
    return widen_slim(df, id_col, text_col).select(
        F.col(id_col).alias("vec_id"), embed(hashes).alias("embedding")
    )
