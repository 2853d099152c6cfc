"""Registry infrastructure: ``Entry``, ``REGISTRY``, ``register()``,
``resolve_oracle()``, the shared SQL fragments and the canonical array
serialization helpers every part builds on.

The registry (assembled by the registry.py facade from the sequential
``registry_parts`` modules) is the single source of truth behind
``__spark_entry__.queries()`` and ``__spark_entry__.oracle_sql()`` —
the driver's correctness gate — and behind
tests/test_oracle_parity.py, which runs the same comparison locally at
sf0.01 before the driver does.

Cross-engine determinism rules used throughout:
  * vector math in double precision with sequential left-to-right folds
    (bit-identical to DuckDB's list_* functions — verified in tests);
  * seeded randomness via md5 keyed hashes, never engine RNGs;
  * order-dependent float aggregates (avg over many rows) rounded to 6
    decimals on both sides; order-independent ones (min/max) left exact;
  * every computed column aliased identically in both engines.
"""

from __future__ import annotations

import math as _math
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nano_vectordb_spark.functions import quantize as qz
from nano_vectordb_spark.functions import text as tx
from nano_vectordb_spark.functions.vector import has_nan_expr, norm_expr
from nano_vectordb_spark.operators import components as comp_ops
from nano_vectordb_spark.operators import dedup as dedup_ops
from nano_vectordb_spark.operators import globalrank as grank
from nano_vectordb_spark.operators import gt as gt_ops
from nano_vectordb_spark.operators import metrics as metrics_ops
from nano_vectordb_spark.operators import ivf as ivf_ops
from nano_vectordb_spark.operators import lexical as lexical_ops
from nano_vectordb_spark.operators import pipeline as pipe_ops
from nano_vectordb_spark.operators import pq as pq_ops
from nano_vectordb_spark.operators import refine as refine_ops
from nano_vectordb_spark.operators import rerank as rerank_ops
from nano_vectordb_spark.operators import sample as sample_ops
from nano_vectordb_spark.operators import textops as text_ops
from nano_vectordb_spark.operators import topk as topk_ops
from nano_vectordb_spark.session import memo, persist
from nano_vectordb_spark.sources.tables import load_table

K = 10
NQ = 20
SEED = 42


@dataclass(frozen=True)
class Entry:
    fn: Callable[[SparkSession, str], DataFrame]
    # DuckDB SQL, a zero-arg callable producing it lazily (used when the
    # SQL embeds literals computed from the fixture, e.g. seeded k-means
    # centroids), or None -> rows-only check
    oracle: str | Callable[[], str] | None


REGISTRY: dict[str, Entry] = {}


def register(name: str, oracle: str | Callable[[], str] | None = None):
    def deco(fn):
        REGISTRY[name] = Entry(fn, oracle)
        return fn

    return deco


_ORACLE_SQL_CACHE: dict[int, str] = {}


def resolve_oracle(entry: Entry) -> str | None:
    if entry.oracle is None or isinstance(entry.oracle, str):
        return entry.oracle
    key = id(entry.oracle)
    if key not in _ORACLE_SQL_CACHE:
        _ORACLE_SQL_CACHE[key] = entry.oracle()
    return _ORACLE_SQL_CACHE[key]


# --------------------------------------------------------------------------
# Shared SQL fragments (DuckDB dialect)
# --------------------------------------------------------------------------

# seeded sample of NQ query vectors (operators/sample.py semantics)
_SQL_QUERIES = f"""
  SELECT (row_number() OVER w - 1) AS query_id,
         vec_id AS source_vec_id,
         embedding
  FROM embeddings
  WINDOW w AS (ORDER BY md5('{SEED}:' || CAST(vec_id AS VARCHAR)) ASC, vec_id ASC)
  ORDER BY md5('{SEED}:' || CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
  LIMIT {NQ}
"""

_SQL_TOPK_MULTI = f"""
WITH q AS ({_SQL_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])) AS score
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, score, rank FROM ranked WHERE rank <= {K}
"""


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sample_ops.sample_queries(emb, NQ, seed=SEED, mode="random")


# --------------------------------------------------------------------------
# Canonical array serialization (driver's canonicalizer requires hashable
# columns, so registry entries emit arrays as deterministic strings).
#
# Floats: bround(x, 9) in Spark is bit-identical to round_even(x, 9) in
# DuckDB (RNE, verified in tests), and DECIMAL(12,9) formatting matches
# between the engines — verified exhaustively over sf0.01 embeddings.
# --------------------------------------------------------------------------


def _ser_f32_col(col: str):
    """Spark: array<float/double> -> canonical comma-joined string."""
    return F.expr(
        f"array_join(transform({col}, x -> cast(cast(bround(cast(x as double), 9)"
        f" as decimal(12,9)) as string)), ',')"
    )


def _sql_ser_f32(col: str) -> str:
    """DuckDB equivalent of :func:`_ser_f32_col`."""
    return (
        f"list_aggregate(list_transform(CAST({col} AS DOUBLE[]), "
        f"x -> CAST(CAST(round_even(x, 9) AS DECIMAL(12,9)) AS VARCHAR)), "
        f"'string_agg', ',')"
    )


def _ser_int_col(col: str):
    """Spark: integer array -> comma-joined string."""
    return F.expr(f"array_join(transform({col}, x -> cast(x as string)), ',')")




def _dlist(vals) -> str:
    """Exact DOUBLE[] literal. Elements are written as string casts:
    a bare decimal inside a LIST literal gets promoted to a common
    DECIMAL type BEFORE any ::DOUBLE[] cast (double rounding, off by
    one ulp), while '...'::DOUBLE parses correctly rounded."""
    return "[" + ", ".join(f"'{float(v)!r}'::DOUBLE" for v in vals) + "]"


def _sql_view_query(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    from nano_vectordb_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(sql)


# --------------------------------------------------------------------------
# Driver-side scalars derived from the immutable fixture (query vectors,
# embedding dim). Each recomputation is an identical Spark job, and at
# bench scale those jobs are 30-50% of a query's measured wall time —
# memoized per session, like the fitted indexes.
# --------------------------------------------------------------------------


@memo
def _qvec(spark: SparkSession, sf_dir: str, vec_id: int = 0):
    """The fixture query vector (embeddings.vec_id == N), fetched once."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()[0]
    )


@memo
def _emb_dim(spark: SparkSession, sf_dir: str) -> int:
    """The fixture embedding dimensionality, fetched once."""
    return int(
        load_table(spark, sf_dir, "embeddings").agg(F.max(F.size("embedding"))).first()[0]
    )
