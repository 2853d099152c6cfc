"""Quantization ladder (O3, O6, O22, O23) + refine (O29, O32).

Sequential part of the registry — see registry.py (facade).
"""
from __future__ import annotations
from nano_vectordb_spark.registry_parts.p00_base import (  # noqa: F401
    DataFrame,
    F,
    K,
    SparkSession,
    _SQL_QUERIES,
    _SQL_TOPK_MULTI,
    _queries_df,
    _ser_int_col,
    gt_ops,
    load_table,
    memo,
    persist,
    qz,
    refine_ops,
    register,
    topk_ops,
)

# --------------------------------------------------------------------------
# Quantization ladder (reference O3, O6, O22, O23) + refine (O29, O32)
# --------------------------------------------------------------------------

# (vec_id, e double[], scale float) — the i8 codec preamble
_SQL_I8_PRE = """
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         CAST(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS REAL) AS scale
  FROM embeddings
"""

# (vec_id, scale, embedding_i8) — full encode
_SQL_I8_ENCODE = f"""
  SELECT vec_id, scale,
         list_transform(e, x -> CAST(
           CASE WHEN scale = 0 THEN 0
                ELSE greatest(-127.0, least(127.0, round_even(x / CAST(scale AS DOUBLE), 0)))
           END AS TINYINT)) AS embedding_i8
  FROM ({_SQL_I8_PRE})
"""

_SQL_TOPK_I8 = f"""
WITH q AS ({_SQL_QUERIES}),
enc AS ({_SQL_I8_ENCODE}),
scored AS (
  SELECT q.query_id, enc.vec_id,
         list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(enc.embedding_i8 AS DOUBLE[]))
           * CAST(enc.scale AS DOUBLE) AS score
  FROM enc CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= {K}
"""


@memo
def _i8_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The int8-quantized base. In the reference this is a STORED
    artifact — apps/nvdb_quantize_i8.cpp writes it once and every bench
    run mmaps it (vecbin_format.h:52-55); re-encoding per query would
    be scoring the quantizer, not the scan. The memoized persist is
    that artifact's in-memory analog (cluster analog: the quantized
    parquet written by the quantize_i8 sink)."""
    emb = load_table(spark, sf_dir, "embeddings")
    enc = emb.withColumn(
        "scale", qz.i8_scale_expr("embedding").cast("float")
    ).withColumn("embedding_i8", qz.i8_encode_expr("embedding", F.col("scale")))
    return persist(enc)


@memo
def _f16_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The f16-rounded base — same stored-artifact argument as
    _i8_base (tools/nvdb_convert_f16.cpp writes it once; the f16 vecbin
    sink is sources/vecbin.py's analog)."""
    enc = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding_f16", qz.f16_round_expr("embedding")
    )
    return persist(enc)


def _topk_i8_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = _i8_base(spark, sf_dir)
    q = F.broadcast(
        _queries_df(spark, sf_dir).select("query_id", F.col("embedding").alias("__qvec"))
    )
    scored = enc.crossJoin(q).select(
        "query_id",
        "vec_id",
        qz.dot_i8_expr("__qvec", "embedding_i8", F.col("scale").cast("double")).alias(
            "score"
        ),
    )
    return topk_ops.rank_topk(scored, K, metric="dot")


@register(
    "quantize_i8",
    oracle=f"""
SELECT vec_id, scale,
       array_to_string(embedding_i8, ',') AS embedding_i8
FROM ({_SQL_I8_ENCODE})
""",
)
def quantize_i8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row max-abs int8 quantization (reference O23,
    apps/nvdb_quantize_i8.cpp:57-85): f32 scale + tinyint codes
    (codes serialized to a canonical comma-joined string)."""
    return _i8_base(spark, sf_dir).select(
        "vec_id", "scale", _ser_int_col("embedding_i8").alias("embedding_i8")
    )


@register("topk_i8", oracle=_SQL_TOPK_I8)
def topk_i8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query top-k ranked in the int8-quantized scoring space
    (reference O6 + 'exact within quantized space', README.md:17)."""
    return _topk_i8_df(spark, sf_dir)


@register(
    "quant_error_stats",
    oracle=f"""
WITH enc AS (
  SELECT s.vec_id, s.e, s.scale,
         list_transform(s.e, x -> CAST(
           CASE WHEN s.scale = 0 THEN 0
                ELSE greatest(-127.0, least(127.0, round_even(x / CAST(s.scale AS DOUBLE), 0)))
           END AS TINYINT)) AS codes
  FROM ({_SQL_I8_PRE}) s
),
err AS (
  SELECT vec_id, scale,
         list_max(list_transform(list_zip(codes, e),
           p -> abs(CAST(p[1] AS DOUBLE) * CAST(scale AS DOUBLE) - p[2]))) AS max_err
  FROM enc
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count_if(max_err > CAST(scale AS DOUBLE) * 0.5000001) AS BIGINT) AS n_violations,
       max(max_err) AS max_abs_err,
       round(avg(max_err), 6) AS avg_max_err
FROM err
""",
)
def quant_error_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization round-trip invariant (SURVEY.md §5c): per-element
    error of dequant(i8) is bounded by scale/2."""
    enc = _i8_base(spark, sf_dir)
    max_err = F.array_max(
        F.zip_with(
            F.col("embedding_i8").cast("array<double>"),
            F.col("embedding").cast("array<double>"),
            lambda c, x: F.abs(c * F.col("scale").cast("double") - x),
        )
    )
    per_row = enc.select("vec_id", F.col("scale").cast("double").alias("scale"), max_err.alias("max_err"))
    return per_row.agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("max_err") > F.col("scale") * 0.5000001).cast("long")).alias(
            "n_violations"
        ),
        F.max("max_err").alias("max_abs_err"),
        F.round(F.avg("max_err"), 6).alias("avg_max_err"),
    )


@register(
    "recall_i8_vs_f32",
    oracle=f"""
WITH gt AS ({_SQL_TOPK_MULTI}),
pred AS ({_SQL_TOPK_I8}),
per_query AS (
  SELECT gt.query_id,
         CAST(count(pred.vec_id) AS DOUBLE) / {K} AS recall
  FROM gt LEFT JOIN pred
    ON gt.query_id = pred.query_id AND gt.vec_id = pred.vec_id
  GROUP BY gt.query_id
)
SELECT round(avg(recall), 6) AS recall_at_k,
       CAST(count(*) AS BIGINT) AS n_queries
FROM per_query
""",
)
def recall_i8_vs_f32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of int8-space ranking against the exact f32 ground truth
    (reference O17 with the quantized scan as the predictor)."""
    gt = gt_ops.gt_from_topk(
        topk_ops.topk_multi(
            load_table(spark, sf_dir, "embeddings"), _queries_df(spark, sf_dir), K
        ),
        K,
    ).select("query_id", "gt_ids")
    pred = gt_ops.gt_from_topk(_topk_i8_df(spark, sf_dir), K).select(
        "query_id", F.col("gt_ids").alias("pred_ids")
    )
    res = gt_ops.recall_at_k(gt, pred, K)
    return res.select(F.round("recall_at_k", 6).alias("recall_at_k"), "n_queries")


_REFINE_R = 50


@register(
    "refine_i8",
    oracle=f"""
WITH q AS ({_SQL_QUERIES}),
enc AS ({_SQL_I8_ENCODE}),
scored AS (
  SELECT q.query_id, enc.vec_id,
         list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(enc.embedding_i8 AS DOUBLE[]))
           * CAST(enc.scale AS DOUBLE) AS score
  FROM enc CROSS JOIN q
),
cand AS (
  SELECT query_id, vec_id
  FROM (SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS r
        FROM scored)
  WHERE r <= {_REFINE_R}
),
rescored AS (
  SELECT c.query_id, c.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS score
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN q ON q.query_id = c.query_id
),
ranked AS (
  SELECT query_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM rescored
)
SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= {K}
""",
)
def refine_i8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged ANN pipeline (reference O29+O32): top-R candidates in the
    int8 space, then exact full-precision rerank to top-k."""
    enc = _i8_base(spark, sf_dir)
    q = _queries_df(spark, sf_dir)
    qb = F.broadcast(q.select("query_id", F.col("embedding").alias("__qvec")))
    scored = enc.crossJoin(qb).select(
        "query_id",
        "vec_id",
        qz.dot_i8_expr("__qvec", "embedding_i8", F.col("scale").cast("double")).alias(
            "score"
        ),
    )
    cand = topk_ops.rank_topk(scored, _REFINE_R, metric="dot")
    emb = load_table(spark, sf_dir, "embeddings")
    return refine_ops.refine(emb, q, cand, K, metric="dot")


# IEEE-754 half RNE round-trip emulated arithmetically (DuckDB has no
# half type; spec: tools/nvdb_convert_f16.cpp:20-94): quantize to the
# f16 mantissa grid ulp = 2^(max(floor(log2|x|)-10, -24)) with
# round-half-even; x/ulp and *ulp are exact power-of-two scalings, so
# the result is bit-identical to NumPy's float16 cast (verified over the
# full fixture and a stress sweep into the subnormal range).
_SQL_F16 = (
    "CASE WHEN x = 0 THEN x ELSE "
    "round_even(x / power(2.0, greatest(floor(log2(abs(x))) - 10, -24)), 0) "
    "* power(2.0, greatest(floor(log2(abs(x))) - 10, -24)) END"
)

_SQL_TOPK_F16 = f"""
WITH q AS ({_SQL_QUERIES}),
h AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> {_SQL_F16}) AS emb16
  FROM embeddings
),
scored AS (
  SELECT q.query_id, h.vec_id,
         list_dot_product(h.emb16, CAST(q.embedding AS DOUBLE[])) AS score
  FROM h CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= {K}
"""


@register("topk_f16", oracle=_SQL_TOPK_F16)
def topk_f16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query top-k in the f16-rounded scoring space (reference
    O5/O22). Oracle: DuckDB emulates the half round-trip on the f16
    mantissa grid with round-half-even (bit-identical to NumPy float16);
    parity also covered by tests/test_quantize.py."""
    emb = _f16_base(spark, sf_dir)
    q = F.broadcast(
        _queries_df(spark, sf_dir).select("query_id", F.col("embedding").alias("__qvec"))
    )
    from nano_vectordb_spark.functions.vector import dot_expr

    scored = emb.crossJoin(q).select(
        "query_id", "vec_id", dot_expr("embedding_f16", "__qvec").alias("score")
    )
    return topk_ops.rank_topk(scored, K, metric="dot")


