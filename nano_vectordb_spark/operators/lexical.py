"""BM25 lexical search over a document corpus.

The lexical complement to the embedding search ladder (doc_search /
doc_search_ivf): classic Okapi BM25 with k1=1.2, b=0.75 over the
whitespace tokenizer shared with functions/text.py.

Spark-first plan, designed so only query-term posting lists ever move:

  1. the query vocabulary is a constant literal array, so the token
     filter runs BEFORE the explode — non-query tokens never leave the
     scan projection, no join needed to restrict the corpus;
  2. tf per (doc, term) is the only corpus-sized shuffle (keyed on
     doc_id+term, cardinality = docs containing >= 1 query term);
  3. document frequency / idf is an aggregate over that same small
     posting set, broadcast back;
  4. per-(query, doc) scores sum term contributions via a sorted
     sequential fold, so the double-precision result is independent of
     partitioning and bit-reproducible in the DuckDB oracle.

At 100 TB the candidate set is bounded by the posting lists of the
query terms, not the corpus — the full-corpus stats (N, avgdl) are a
single cheap aggregate (sum/count only, exact integer math).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nano_vectordb_spark.functions.text import tokens_expr
from nano_vectordb_spark.session import persist

K1 = 1.2
B = 0.75


def bm25_term_scores(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[tuple[int, list[str]]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-(query, doc, term) BM25 contributions — the shared core of
    bm25_search (which folds them into ranked scores) and the
    score-explain entry (which surfaces them). Columns: query_id,
    doc_id, term, tf, df, dl, n_docs, sum_dl, s (the unrounded
    contribution)."""
    vocab = sorted({t for _, terms in queries for t in terms})
    qmap = spark.createDataFrame(
        [(qid, t) for qid, terms in queries for t in terms], "query_id int, term string"
    )

    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens_expr(text_col).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        # vocabulary filter BEFORE the explode: non-query tokens are
        # dropped inside the projection, so the explode + tf shuffle
        # only ever sees query-term postings
        F.filter("toks", lambda x: x.isin(vocab)).alias("qtoks"),
    )

    stats = toks.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )

    # persisted: tf feeds both the idf aggregate and the scoring join —
    # without it Spark re-scans the corpus for each use. tf holds only
    # query-term postings, a small fraction of the corpus at any scale.
    tf = persist(
        toks.select("doc_id", "dl", F.explode("qtoks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"), F.first("dl").alias("dl"))
    )

    # stats (1 row) attaches to the tiny idf relation, not the posting
    # table — the only nested-loop join in the plan is <=|vocab| x 1
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
        .crossJoin(F.broadcast(stats))
    )

    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(F.broadcast(qmap), "term")
        .select(
            "query_id",
            "doc_id",
            "term",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (
                    F.col("tf")
                    * F.lit(K1 + 1.0)
                    / (
                        F.col("tf")
                        + F.lit(K1)
                        * (
                            F.lit(1.0 - B)
                            + F.lit(B)
                            * (
                                F.col("dl").cast("double")
                                / (
                                    F.col("sum_dl").cast("double")
                                    / F.col("n_docs").cast("double")
                                )
                            )
                        )
                    )
                )
            ).alias("s"),
            "tf",
            "df",
            "dl",
            "n_docs",
            "sum_dl",
        )
    )
    return scored


def bm25_search(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
) -> DataFrame:
    """Top-k BM25 over `docs` for literal term queries.

    `queries` is [(query_id, [term, ...]), ...] with distinct terms per
    query. Returns (query_id, doc_id, score, rank), score rounded to
    `round_to` decimals (the cross-engine contract for order-dependent
    float math; ranking uses the rounded score).
    """
    scored = bm25_term_scores(spark, docs, queries, text_col, id_col)

    # order-independent double sum: fold term contributions in term order
    summed = scored.groupBy("query_id", "doc_id").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "s"))),
                F.lit(0.0),
                lambda a, x: a + x["s"],
            ),
            round_to,
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        summed.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )
