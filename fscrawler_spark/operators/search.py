"""Typed search surface: the analog of the reference's ES query algebra.

The reference builds a small query DSL (term/match/prefix/range/bool/
semantic) plus size/sort/highlighters/terms-aggregations and lowers it
to an ES _search JSON body
(/root/reference/elasticsearch-client/.../ESSearchRequest.java:27-95,
ESQuery subclasses, JSON lowering ElasticsearchClient.java:1313-1368,
request build 1180-1232, response parse incl. terms buckets 1250-1310;
semantic/vector variant 800-900,1313-1368).

Here the same algebra lowers to Catalyst column predicates — filters
push down to the scan, highlighting is a single JVM-side
regexp_replace, the semantic query routes to the embeddings ANN
operators, and "search" over the extracted-docs table is plain
DataFrame execution.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Term:
    """Exact value match (ES `term`)."""

    field: str
    value: object

    def to_column(self) -> Column:
        return F.col(self.field) == F.lit(self.value)


# standard-analyzer approximation shared by the engine, the highlighter
# and the DuckDB oracle twin: tokens are maximal letter/digit runs, so
# `match("hello!")` finds "hello" like ES's standard analyzer (which
# strips punctuation), not like a whitespace analyzer (which wouldn't).
# Deliberate divergence from full UAX#29: underscore splits here
# ("foo_bar" -> foo, bar) where ES's ExtendNumLet keeps it whole —
# documented, and identical on BOTH sides of the oracle comparison.
# The pattern is valid in Java regex AND RE2, so Spark and DuckDB
# tokenize identically.
ANALYZER_SPLIT = r"[^\p{L}\p{N}]+"


def analyze_terms(query: str) -> list[str]:
    """Driver-side twin of ANALYZER_SPLIT for the query string."""
    return [t for t in re.split(r"[\W_]+", query.lower()) if t]


@dataclass(frozen=True)
class Match:
    """Analyzed full-text match — lowered to case-insensitive token
    containment under the standard-analyzer approximation above
    (ES `match` with OR operator; punctuation never blocks a hit)."""

    field: str
    query: str

    def to_column(self) -> Column:
        tokens = analyze_terms(self.query)
        if not tokens:
            # ES `match` with zero analyzed terms matches NO documents
            # (zero_terms_query default "none") — an empty/whitespace
            # user query must not degrade to match-all, especially
            # inside Bool.must where it would silently drop the clause
            return F.lit(False)
        words = F.split(F.lower(F.col(self.field)), ANALYZER_SPLIT)
        pred = F.lit(False)
        for t in tokens:
            pred = pred | F.array_contains(words, t)
        return pred


@dataclass(frozen=True)
class Prefix:
    field: str
    value: str

    def to_column(self) -> Column:
        return F.col(self.field).startswith(self.value)


@dataclass(frozen=True)
class Range:
    """ES `range`: any of gt/gte/lt/lte."""

    field: str
    gt: object = None
    gte: object = None
    lt: object = None
    lte: object = None

    def to_column(self) -> Column:
        c, pred = F.col(self.field), F.lit(True)
        if self.gt is not None:
            pred = pred & (c > self.gt)
        if self.gte is not None:
            pred = pred & (c >= self.gte)
        if self.lt is not None:
            pred = pred & (c < self.lt)
        if self.lte is not None:
            pred = pred & (c <= self.lte)
        return pred


@dataclass(frozen=True)
class Bool:
    """ES `bool`: must AND, should OR (min 1), must_not NOT."""

    must: tuple = ()
    should: tuple = ()
    must_not: tuple = ()

    def to_column(self) -> Column:
        pred = F.lit(True)
        for q in self.must:
            pred = pred & q.to_column()
        if self.should:
            s = F.lit(False)
            for q in self.should:
                s = s | q.to_column()
            pred = pred & s
        for q in self.must_not:
            pred = pred & ~q.to_column()
        return pred


@dataclass(frozen=True)
class Semantic:
    """ES `semantic`/knn query analog (ElasticsearchClient.java:800-900):
    top-k rows of the corpus by cosine similarity of ``field`` (an
    array<float> embedding column) to ``vector``.

    Not a boolean predicate — a Semantic query ranks, so it is valid only
    as the top-level ``SearchRequest.query`` (like the reference, where
    the semantic variant replaces the query body). ``exact=True`` scores
    the whole corpus (brute force, broadcast query); the default routes
    through the random-hyperplane LSH candidates — the 10^9-vector path.
    ``id_col`` names the unique row id used to join hits back.
    """

    field: str
    vector: tuple
    k: int = 10
    id_col: str = "doc_id"
    exact: bool = False
    # corpus cardinality, when the caller knows it: lets the LSH route
    # auto-size its bucket bits WITHOUT a count job per search request.
    # None = one count job at plan time (correct, loud at scale, slower).
    # TRUSTED value — a stale undercount silently under-buckets (see
    # embeddings.lsh_topk); refresh it when the corpus grows.
    corpus_count: int | None = None


@dataclass(frozen=True)
class SearchRequest:
    """ESSearchRequest analog: query + size/sort/fields/highlight."""

    query: object = None
    size: int = 10  # ES default (ElasticsearchClient.java:1194)
    sort: tuple[tuple[str, str], ...] = ()  # (field, 'asc'|'desc')
    fields: tuple[str, ...] = ()
    # highlighter fields (ESSearchRequest.java:27-95 withHighlighter):
    # each emits a '<field>_highlight' column with query terms wrapped in
    # <em>..</em> (ES number_of_fragments=0 whole-field mode)
    highlight: tuple[str, ...] = ()


def _terms_for_field(q, fld: str) -> list[str]:
    """Collect the positive query terms touching ``fld`` (must/should
    branches only — ES highlighters likewise ignore must_not)."""
    if isinstance(q, Match) and q.field == fld:
        return analyze_terms(q.query)
    if isinstance(q, Term) and q.field == fld and isinstance(q.value, str):
        return [q.value.lower()]
    if isinstance(q, Bool):
        out: list[str] = []
        for sub in tuple(q.must) + tuple(q.should):
            out.extend(_terms_for_field(sub, fld))
        return out
    return []


def highlight_column(fld: str, terms: list[str]) -> Column:
    """One codegen'd regexp_replace wrapping every whole-word query-term
    occurrence in <em>..</em> — the match-offset information the spans
    infra already proves is exposed in the ES highlighter's own output
    shape (fragments with tags)."""
    if not terms:
        return F.col(fld)
    pat = "(?i)\\b(" + "|".join(re.escape(t) for t in sorted(set(terms))) + ")\\b"
    return F.regexp_replace(F.col(fld), pat, "<em>$1</em>")


def _semantic_hits(df: DataFrame, sem: Semantic) -> DataFrame:
    from pyspark.sql import types as T

    from fscrawler_spark.functions import embeddings

    corpus = df.select(
        F.col(sem.id_col).alias("vec_id"), F.col(sem.field).alias("embedding")
    )
    # the query row's id must be TYPED like the corpus id: the operators
    # compare neighbor_id != query_id, and a long sentinel against e.g. a
    # sha256 STRING doc_id fails at runtime under ANSI (CAST_INVALID_INPUT).
    # The sentinel value only needs to collide with no real id.
    id_type = df.schema[sem.id_col].dataType
    if isinstance(id_type, T.StringType):
        sentinel = "\x00__semantic_query__"  # NUL prefix: no real id starts with it
    elif isinstance(id_type, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        sentinel = -1
    elif isinstance(id_type, (T.DoubleType, T.FloatType)):
        sentinel = -1.0
    else:
        raise TypeError(
            f"Semantic.id_col {sem.id_col!r} has unsupported type {id_type}; "
            "use a string or numeric id column"
        )
    qdf = df.sparkSession.createDataFrame(
        [(sentinel, [float(x) for x in sem.vector])],
        T.StructType(
            [
                T.StructField("vec_id", id_type),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    # exclude_self=False: the query row is synthetic (not a corpus row),
    # so self-exclusion is meaningless — and skipping it means a corpus
    # row whose real id happens to equal the sentinel can still be a hit
    if sem.exact:
        topk = embeddings.brute_force_topk(corpus, qdf, k=sem.k, exclude_self=False)
    else:
        # dim is known from the query vector (no inference job); the
        # bucket-bit sizing needs the corpus cardinality — supplied via
        # Semantic.corpus_count, else lsh_topk runs one count job
        topk = embeddings.lsh_topk(
            corpus, qdf, k=sem.k, dim=len(sem.vector),
            corpus_count=sem.corpus_count, exclude_self=False,
        )
    topk = topk.select(F.col("neighbor_id").alias(sem.id_col), "rank", "sim")
    return df.join(topk, sem.id_col).orderBy("rank")


def execute_search(df: DataFrame, req: SearchRequest) -> DataFrame:
    """Lower a SearchRequest to a DataFrame plan (the hits side).

    The Semantic branch differs from the boolean branch only in the hits
    source (ANN join, default-ordered by rank) and in appending
    rank/sim to a ``fields`` projection; sort/highlight/limit are the
    same shared tail. Semantic highlight columns exist for a uniform hit
    shape but pass the field through unwrapped — a pure-knn query
    carries no analyzed text terms (same as a no-match ES highlight
    with number_of_fragments=0).
    """
    extra_cols: tuple[str, ...] = ()
    if isinstance(req.query, Semantic):
        out = _semantic_hits(df, req.query)
        extra_cols = ("rank", "sim")
    elif req.query is not None:
        out = df.filter(req.query.to_column())
    else:
        out = df
    if req.sort:
        # one orderBy with all keys — chained orderBy calls would each
        # REPLACE the previous global sort, keeping only the last key.
        # On the semantic path an explicit sort overrides similarity
        # rank (ES sort-on-knn); the default order is rank.
        out = out.orderBy(
            *[
                F.col(fld).desc() if direction == "desc" else F.col(fld).asc()
                for fld, direction in req.sort
            ]
        )
    hl_cols = [
        highlight_column(fld, _terms_for_field(req.query, fld)).alias(f"{fld}_highlight")
        for fld in req.highlight
    ]
    if req.fields:
        out = out.select(*req.fields, *hl_cols, *extra_cols)
    elif hl_cols:
        out = out.select("*", *hl_cols)
    return out.limit(req.size)
