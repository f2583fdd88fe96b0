"""Seeded inputs for the benchmark workloads.

Documents are generated in Spark SQL only (``xxhash64`` + ``pow``, no
Python UDF), so the engine receives nothing but parquet.  Word slot
``i`` of doc ``d`` draws the term rank ``floor(V ** u)`` with ``u`` a
uniform hash of ``(d, i, seed)``: ``P(rank <= r) = ln r / ln V``, a
Zipf (s = 1) distribution over ``V`` terms named ``z1 .. z<V-1>``.
Queries are drawn with :class:`random.Random` from the same seed.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = 200_000
WORDS_PER_DOC = 24
# the hot family's term: tf = HOT_TF in the first HOT_DOCS docs only --
# a high-scoring term concentrated in one segment, the shape block-max
# pruning seeds its threshold from
HOT_TERM = "hotterm"
HOT_DOCS = 2048
HOT_TF = 100
HEAD_TERMS = range(1, 6)          # df ~ 30-75 % of the corpus
MID_TERMS = range(50, 2050)       # df ~ 0.1-2 %
TAIL_TERMS = range(5000, VOCAB)   # df ~ 0-0.02 %
CORPUS_FILES = 4


def docs(spark: SparkSession, first_id: int, n_docs: int, seed: int,
         files: int, hot: bool = False) -> DataFrame:
    """``n_docs`` Zipf documents with ids ``first_id ..`` in ``files``
    contiguous id ranges, in the column layout the streaming source
    expects (``incremental.DOCS_SCHEMA``)."""
    text = F.expr(
        f"concat_ws(' ', transform(sequence(1, {WORDS_PER_DOC}), i -> "
        f"concat('z', CAST(pow({VOCAB}, (abs(xxhash64(doc_id * 64 + i, "
        f"{int(seed)})) % 1048576) / 1048576.0) AS LONG))))")
    df = (spark.range(first_id, first_id + n_docs, 1, files)
          .withColumnRenamed("id", "doc_id").withColumn("text", text))
    if hot:
        planted = " " + " ".join([HOT_TERM] * HOT_TF)
        df = df.withColumn(
            "text", F.when(F.col("doc_id") < first_id + HOT_DOCS,
                           F.concat("text", F.lit(planted)))
            .otherwise(F.col("text")))
    return (df.withColumn("lang", F.lit("en"))
            .withColumn("source", F.lit("perfbench"))
            .withColumn("n_chars", F.length("text").cast("long")))


def write_corpus(spark: SparkSession, path: str, n_docs: int, seed: int,
                 hot: bool = False) -> None:
    docs(spark, 0, n_docs, seed, CORPUS_FILES, hot).write.parquet(path)


def write_drops(spark: SparkSession, path: str, n_drops: int, drop_docs: int,
                seed: int, first_id: int) -> None:
    """``n_drops`` drops of ``drop_docs`` consecutive docs from
    ``first_id`` on, one parquet file per ``drop=k`` directory."""
    (docs(spark, first_id, n_drops * drop_docs, seed, n_drops)
     .withColumn("drop", ((F.col("doc_id") - first_id) / drop_docs).cast("int"))
     .write.partitionBy("drop").parquet(path))


class QueryGen:
    """Distinct queries of two families, never repeating within a run.

    * ``zipf``: one head, one mid and one unique tail term;
    * ``hot``: ``hotterm`` plus a distinct (head, mid) pair.
    """

    def __init__(self, seed: int):
        self._rng = rng = random.Random(seed)
        self._tails = rng.sample(TAIL_TERMS, len(TAIL_TERMS))
        self._pairs = rng.sample(
            [(h, m) for h in HEAD_TERMS for m in MID_TERMS],
            len(HEAD_TERMS) * len(MID_TERMS))
        self._used = {"zipf": 0, "hot": 0}

    def batch(self, family: str, n: int) -> dict[str, str]:
        out = {}
        for _ in range(n):
            i = self._used[family]
            self._used[family] += 1
            if family == "zipf":
                head = self._rng.choice(HEAD_TERMS)
                mid = self._rng.choice(MID_TERMS)
                out[f"z{i:06d}"] = f"z{head} z{mid} z{self._tails[i]}"
            else:
                head, mid = self._pairs[i]
                out[f"h{i:06d}"] = f"{HOT_TERM} z{head} z{mid}"
        return out
