"""Exact-refine re-ranking of ANN candidates.

Reference surface (SURVEY.md §2.1):
  O29 exact refine (CPU)       (apps/nvdb_ivf_eval.cpp:278-307)
  O30 exact refine (CUDA batch)(src/cuda_refine.cu:405-1175 — physical
      detail; the Spark analog is columnar batch evaluation)
  O32 staged pipeline          (apps/nvdb_ivf_eval.cpp:465-695)

Shape: a candidate table (query_id, vec_id) from any approximate stage
(quantized ranking, IVF probing, PQ/ADC) is joined back to the
full-precision base and re-scored exactly, keeping the best k.

Scale notes: candidates are Q x R rows (R <= 500 in the reference,
cuda_refine.h:33) — always the small side, so the join broadcasts the
candidates and the base lookup is a hash join on vec_id with the scan
pruned to the candidate ids; no full-table shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nano_vectordb_spark.operators.topk import _ordering, score_expr
from nano_vectordb_spark.session import persist


def refine(
    base: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    metric: str = "dot",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "embedding",
    staged: bool = False,
) -> DataFrame:
    """Re-rank ``candidates`` (query_id, vec_id) exactly; return
    (query_id, vec_id, score, rank) with rank <= k.

    ``staged=True`` materializes the candidate set before the rerank —
    the reference's PIPELINE=staged mode (apps/nvdb_ivf_eval.cpp:465):
    two stages instead of one fused plan, so an expensive ANN stage is
    computed once even if the refine output is consumed repeatedly.
    Default is the fused (interleaved) plan and lets Catalyst decide.
    """
    cand_df = candidates.select("query_id", "vec_id").distinct()
    if staged:
        cand_df = persist(cand_df)
        cand_df.count()  # materialize stage A
    cand = F.broadcast(cand_df)
    fetched = cand.join(
        base.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__bvec")),
        "vec_id",
    )
    scored = fetched.join(
        F.broadcast(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(query_vec_col).alias("__qvec"),
            )
        ),
        "query_id",
    ).select(
        "query_id", "vec_id", score_expr(metric, "__bvec", "__qvec").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(*_ordering(metric))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )
