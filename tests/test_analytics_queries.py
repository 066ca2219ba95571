"""Classic star-schema analytics shapes (TPC-H Q1/Q3, event windows,
top-k, folder summary, flat tag merge) checked against DuckDB.

These six were driver-registry rows through round 3; the round-4 swap
demoted them here so every round-4 curation operator could take a
driver-checked oracle slot within the driver's 50-query cap. The
capability evidence (joins, windows, aggregates, ordering match the
SQL twin value-for-value) is preserved unchanged at sf0.001.
"""

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def _match(sdf, con, sql):
    s_cols = sorted(sdf.columns)
    s_rows = sorted(
        tuple(str(r[c]) for c in s_cols) for r in (row.asDict() for row in sdf.collect())
    )
    res = con.execute(sql)
    d_cols = sorted(d[0] for d in res.description)
    assert s_cols == d_cols
    raw = res.fetchall()
    name_pos = {d[0]: i for i, d in enumerate(res.description)}
    d_rows = sorted(tuple(str(r[name_pos[c]]) for c in d_cols) for r in raw)
    assert s_rows == d_rows


def test_pricing_summary_tpch_q1(spark, con):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    sdf = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            (F.floor(F.sum("l_quantity") * 100) / 100).alias("sum_qty"),
            (F.floor(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100) / 100).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    _match(sdf, con, """
        SELECT l_returnflag, l_linestatus,
               floor(sum(l_quantity) * 100) / 100 AS sum_qty,
               floor(sum(l_extendedprice * (1 - l_discount)) * 100) / 100 AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        GROUP BY l_returnflag, l_linestatus
    """)


def test_top_customer_revenue_tpch_q3_shape(spark, con):
    c = spark.read.parquet(f"{SF}/customer.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    sdf = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg((F.floor(F.sum("o_totalprice") * 100) / 100).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
    )
    _match(sdf, con, """
        SELECT c_custkey, c_name, floor(sum(o_totalprice) * 100) / 100 AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey LIMIT 10
    """)


def test_events_window_functions(spark, con):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sdf = (
        ev.withColumn("seq", F.row_number().over(w))
        .filter(F.col("seq") <= 3)
        .select("user_id", F.col("seq").cast("long").alias("seq"), "event_id", "event_type")
    )
    _match(sdf, con, """
        SELECT user_id, seq, event_id, event_type FROM (
          SELECT user_id, event_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
          FROM events
        ) WHERE seq <= 3
    """)


def test_top_k_ordering(spark, con):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    sdf = (
        d.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
        .limit(10)
        .select("doc_id", "n_chars")
    )
    _match(sdf, con, """
        SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10
    """)


def test_folder_summary_agg(spark, con):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    sdf = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
    _match(sdf, con, """
        SELECT source, count(*) AS doc_count, sum(n_chars)::BIGINT AS total_chars,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM documents GROUP BY source
    """)


def test_simhash_signatures_demoted(spark, con):
    """Driver row through mid-round-4; demoted in the assembly-operator
    registry swap (the signature path stays driver-checked through
    q_simhash_pairs). Same Spark code and DuckDB twin."""
    from __spark_entry__ import SQL_NORM
    from fscrawler_spark.functions import dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    _match(dedup.simhash(d, id_col="doc_id", bits=32), con, f"""
        WITH toks AS (
          SELECT doc_id AS id,
                 unnest(list_distinct(string_split({SQL_NORM}, ' '))) AS tok
          FROM documents
        ),
        h AS (SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        votes AS (
          SELECT id, bit, sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
          FROM h, (SELECT unnest(generate_series(0, 31)) AS bit) bits
          GROUP BY id, bit
        )
        SELECT id, sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
        FROM votes GROUP BY id
    """)


def test_minhash_lsh_candidates_demoted(spark, con):
    """Driver row through mid-round-4; demoted in the C4 registry swap
    (the md5 candidate stage stays driver-checked inside q_near_dup_e2e's
    full-pipeline oracle). Same Spark code and DuckDB twin."""
    from __spark_entry__ import SQL_DUP_CORPUS, _dup_corpus, _sql_minhash_sig, _sql_shingles
    from fscrawler_spark.functions import dedup

    sigs = dedup.minhash_signatures(_dup_corpus(spark, SF), id_col="id", num_hashes=16)
    pairs = dedup.lsh_candidate_pairs(sigs, num_hashes=16, bands=4)

    band_selects = []
    for b in range(4):
        lo = b * 4 + 1
        band_selects.append(
            f"""SELECT id, {b} AS band,
            md5(array_to_string([x::VARCHAR for x in list_slice(sig, {lo}, {lo + 3})], ',')) AS bucket
            FROM sigs"""
        )
    _match(pairs, con, f"""
    WITH base AS (SELECT id, {_sql_shingles()} AS shingles FROM {SQL_DUP_CORPUS}),
    sigs AS (SELECT id, {_sql_minhash_sig(16)} AS sig FROM base),
    banded AS ({' UNION ALL '.join(band_selects)}),
    banded_ok AS (
      SELECT id, band, bucket FROM (
        SELECT *, count(*) OVER (PARTITION BY band, bucket) AS bsz FROM banded
      ) WHERE bsz <= 1000
    )
    SELECT DISTINCT a.id AS id_a, b.id AS id_b
    FROM banded_ok a JOIN banded_ok b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    """)


def test_fingerprint_demoted(spark, con):
    """Driver row through round 4; demoted in the export-tier registry
    swap. Same Spark code and DuckDB twin, value-for-value."""
    from fscrawler_spark.functions.text_analysis import fingerprint

    d = spark.read.parquet(f"{SF}/documents.parquet")
    _match(d.select("doc_id", fingerprint(F.col("text")).alias("fp")), con, """
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split_regex(lower(trim(text)), '\\s+'))), ' ')) AS fp
        FROM documents
    """)


def test_ngram_jaccard_pairs_demoted(spark, con):
    """Driver row through round 4; demoted in the export-tier registry
    swap (the jaccard verify machinery stays driver-checked inside
    q_near_dup_e2e). Same Spark code and DuckDB twin."""
    from __spark_entry__ import SQL_DUP_CORPUS, _dup_corpus, _sql_shingles
    from fscrawler_spark.functions import dedup

    pairs = dedup.jaccard_pairs(_dup_corpus(spark, SF), id_col="id", threshold=0.5)
    sdf = pairs.select(
        "id_a", "id_b",
        (F.floor(F.col("jaccard") * 1_000_000) / 1_000_000).alias("jaccard_f"),
    )
    _match(sdf, con, f"""
    WITH base AS (SELECT id, {_sql_shingles()} AS sh FROM {SQL_DUP_CORPUS}),
    sizes AS (SELECT id, len(sh) AS n FROM base),
    inv AS (SELECT id, unnest(sh) AS s FROM base),
    common AS (
      SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS common
      FROM inv a JOIN inv b ON a.s = b.s AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, floor((common / (na.n + nb.n - common)) * 1000000) / 1000000 AS jaccard_f
    FROM common
    JOIN sizes na ON na.id = common.id_a
    JOIN sizes nb ON nb.id = common.id_b
    WHERE common / (na.n + nb.n - common) >= 0.5
    """)


def test_ann_brute_force_topk_demoted(spark, con):
    """Driver row through round 4; demoted in the export-tier registry
    swap (brute force remains the recall ground truth for the LSH/IVF
    tests). Same Spark code and DuckDB twin."""
    from fscrawler_spark.functions import embeddings

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = embeddings.brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=5)
    sdf = out.select(
        "query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id"
    )
    _match(sdf, con, """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(c.embedding::DOUBLE[], q.qv::DOUBLE[]) AS sim
      FROM embeddings c, q WHERE c.vec_id <> q.query_id
    ),
    r AS (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
          FROM scored)
    SELECT query_id, rnk::BIGINT AS rank, neighbor_id FROM r WHERE rnk <= 5
    """)


def test_sft_pairs_demoted(spark, con):
    """Driver row through round 4; demoted in the preference-pair
    registry swap (q_preference_pairs drives the same sft_examples path
    end-to-end before pairing). Same Spark code and DuckDB twin."""
    from fscrawler_spark.functions.assembly import sft_examples

    d = spark.read.parquet(f"{SF}/documents.parquet")
    turns = d.select(
        F.concat(F.lit("conv-"), (F.col("doc_id") % 50).cast("string")).alias("conv_id"),
        F.expr("CAST(doc_id DIV 50 AS INT)").alias("turn_idx"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.col("text"),
    )
    sdf = sft_examples(turns, target_role="assistant", context_turns=4).select(
        "conv_id", F.col("turn_idx").cast("long").alias("turn_idx"), "prompt", "response"
    )
    _match(sdf, con, """
    WITH t AS (
      SELECT 'conv-' || (doc_id % 50)::VARCHAR AS conv_id,
             (doc_id // 50)::INT AS turn_idx,
             CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
             text
      FROM documents
    ),
    r AS (SELECT conv_id, turn_idx, role, coalesce(text, '') AS resp,
                 '<|' || role || '|>' || chr(10) || coalesce(text, '') AS rend
          FROM t),
    w AS (
      SELECT conv_id, turn_idx, role, resp,
             string_agg(rend, chr(10)) OVER (
               PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS prompt
      FROM r
    )
    SELECT conv_id, turn_idx::BIGINT AS turn_idx, prompt, resp AS response
    FROM w WHERE role = 'assistant' AND prompt IS NOT NULL AND length(prompt) > 0
    """)
