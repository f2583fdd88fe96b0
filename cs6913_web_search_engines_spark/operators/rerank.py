"""BM25 → embedding-cosine rerank pipeline (reference System 3).

Spark-first restatement of ``ranking_optimizer/src/ranking-optimizer/
query_rerank.py:104-129`` (SURVEY §2.10 E3): BM25 retrieves top-N
candidates, an embedding join attaches vectors, cosine against the
query vector re-scores, and the top-k survive.  In the reference this
is a per-query socket call + numpy dot; here the whole query set runs
as one job — candidates are a DataFrame, the embedding attach is a
doc_id equi-join (broadcast-able query side, shuffle-free corpus
side), and the rerank is the same ranking-window top-k used
everywhere else.

The reference loads precomputed MS MARCO query embeddings from HDF5
(``query_hnsw.py:8-27``); this sandbox has no encoder, so the query
vector is *selected deterministically from the embeddings table*
(vec_id = hash60(query_id) mod corpus size) — the operator shape
(join → fold-cosine → window) is identical with real encoders.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from cs6913_web_search_engines_spark.config import DEFAULT, EngineConfig
from cs6913_web_search_engines_spark.functions import hashing
from cs6913_web_search_engines_spark.functions.bm25 import bm25_sql
from cs6913_web_search_engines_spark.operators import query_exec as qe
from cs6913_web_search_engines_spark.operators.similarity import cosine_expr, cosine_sql


def query_vectors(embeddings: DataFrame, query_ids: list[str],
                  n_vectors: int | None = None) -> DataFrame:
    """(query_id, qv) — deterministic stand-in query embeddings.
    Pass ``n_vectors`` when known to skip the count job."""
    n = embeddings.count() if n_vectors is None else n_vectors
    spark = embeddings.sparkSession
    qids = spark.createDataFrame([(q,) for q in query_ids], "query_id string")
    qids = qids.withColumn("vec_id", hashing.hash60_col(F.col("query_id")) % n)
    return qids.join(embeddings, "vec_id").select(
        "query_id", F.col("embedding").alias("qv")
    )


def bm25_rerank(
    spark: SparkSession,
    postings: DataFrame,
    lexicon: DataFrame,
    doc_stats: DataFrame,
    stats: dict,
    embeddings: DataFrame,
    queries: dict[str, str],
    cfg: EngineConfig = DEFAULT,
    topn: int = 100,
    topk: int = 10,
    n_vectors: int | None = None,
) -> DataFrame:
    """(query_id, doc_id, bm25, sim, rank) — BM25 top-N → cosine
    rerank → top-k (sim DESC, doc_id ASC).

    Query tokenization follows ``cfg.length_norm`` like every other
    query tier (an hw2 config would otherwise score hw2 lengths over
    hw3-split terms — internally inconsistent and oracle-divergent)."""
    qt = qe.queries_to_terms(spark, queries, cfg.query_mode)
    cands = qe.score_query_set(
        postings, qt, lexicon, doc_stats, stats, replace(cfg, top_k=topn)
    ).select("query_id", "doc_id", F.col("score").alias("bm25"))
    qv = F.broadcast(query_vectors(embeddings, sorted(queries), n_vectors))
    joined = (
        cands.join(embeddings.withColumnRenamed("vec_id", "doc_id")
                   .select("doc_id", "embedding"), "doc_id")
        .join(qv, "query_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("doc_id").asc())
    return (
        joined.select(
            "query_id", "doc_id", F.round("bm25", 6).alias("bm25"),
            F.round(F.expr(cosine_expr("qv", "embedding")), 6).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
    )


def bm25_rerank_sql(
    postings_cte: str,
    query_terms: dict[str, list[str]],
    cfg: EngineConfig = DEFAULT,
    topn: int = 100,
    topk: int = 10,
    emb: str = "embeddings",
) -> str:
    """DuckDB oracle.  ``postings_cte`` must define CTEs ``postings``,
    ``doc_stats``, ``stats``, ``lexicon`` (the shared oracle corpus
    fragment); ``query_terms`` maps query_id → tokenized terms."""
    vals = ", ".join(
        f"('{qid}', '{t}')" for qid in sorted(query_terms) for t in query_terms[qid]
    )
    # length column follows cfg like the Spark side (hw2 normalizes by
    # byte length, hw3 by distinct-term count)
    len_col = "d.distinct_terms" if cfg.length_norm == "hw3" else "d.byte_len"
    score = bm25_sql("p.tf", "l.df", len_col,
                     "s.total_docs", "s.avg_len", cfg)
    qv_vec = hashing.hash60_sql("query_id")
    return f"""
WITH {postings_cte},
q(query_id, term) AS (VALUES {vals}),
scored AS (
    SELECT q.query_id, p.doc_id, SUM({score}) AS score
    FROM postings p
    JOIN q USING (term)
    JOIN lexicon l ON l.term = p.term
    JOIN doc_stats d ON d.doc_id = p.doc_id
    CROSS JOIN stats s
    GROUP BY q.query_id, p.doc_id),
cands AS (
    SELECT query_id, doc_id, score AS bm25 FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
        FROM scored)
    WHERE rn <= {topn}),
qv AS (
    SELECT query_id, e.embedding AS qv
    FROM (SELECT DISTINCT query_id,
                 {qv_vec} % (SELECT COUNT(*) FROM {emb}) AS vec_id
          FROM q) qq
    JOIN {emb} e USING (vec_id)),
reranked AS (
    SELECT c.query_id, c.doc_id, ROUND(c.bm25, 6) AS bm25,
           ROUND({cosine_sql("qv.qv", "e.embedding")}, 6) AS sim
    FROM cands c
    JOIN {emb} e ON e.vec_id = c.doc_id
    JOIN qv ON qv.query_id = c.query_id)
SELECT query_id, doc_id, bm25, sim, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY sim DESC, doc_id ASC) AS INT) AS rank
    FROM reranked)
WHERE rank <= {topk}
"""
