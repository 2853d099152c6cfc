"""Round-8 capability wave: cross-run dedup state, semantic dedup,
compaction round-trip (r7 VERDICT items 5+6).

Sequential part of the registry — see registry.py (facade).
"""
from __future__ import annotations

from nano_vectordb_spark.registry_parts.p00_base import (  # noqa: F401
    DataFrame,
    F,
    SEED,
    SparkSession,
    _dlist,
    dedup_ops,
    load_table,
    register,
)
from nano_vectordb_spark.functions.vector import dot_expr
from nano_vectordb_spark.registry_parts.p03_ivf import (  # noqa: F401
    _ivf_index,
    _oracle_centroids_np,
    _sql_l2,
)
from nano_vectordb_spark.registry_parts.p06_dedup import (  # noqa: F401
    _COS_T,
    _sql_minhash_base,
)
from nano_vectordb_spark.registry_parts.p14_analytics_ops import (  # noqa: F401
    _compact_scratch,
)


# --------------------------------------------------------------------------
# Cross-run incremental dedup state (r7 VERDICT item 6a)
# --------------------------------------------------------------------------

# doc_id % _STATE_MOD == 0 stands in for the next corpus version's
# delta; the rest is the already-shipped v1 snapshot. Chosen different
# from p06's _INCR_MOD=10 so the two incremental-dedup entries cover
# different split shapes.
_STATE_MOD = 5


def _state_scratch(sf_dir: str) -> str:
    """Content-addressed scratch dir for the persisted v1 band state
    (the _csv_docs_path staleness rule: keyed by the source parquet's
    stat so a /tmp state written from a previous testdata generation is
    never reused)."""
    import hashlib
    import os as _os

    st = _os.stat(_os.path.join(sf_dir, "documents.parquet"))
    key = f"bandstate:{sf_dir}:{st.st_mtime_ns}:{st.st_size}"
    return "/tmp/nvdb_bandstate_" + hashlib.md5(key.encode()).hexdigest()[:8]


def _sql_dedup_state_merge() -> str:
    return f"""
WITH {_sql_minhash_base()}
SELECT CAST(band_id AS INT) AS band_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT band_sig) AS BIGINT) AS n_sigs,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
       TRUE AS merge_equals_rebuild
FROM banded
GROUP BY band_id
"""


@register("dedup_state_merge", oracle=_sql_dedup_state_merge())
def dedup_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-RUN incremental dedup state (the durable form of
    dedup_incremental's cost model): corpus v1's MinHash band table is
    WRITTEN to a band-partitioned parquet layout alongside the corpus
    version (operators/dedup.band_state_write), a later run READS it
    back, computes the state for only the v2 DELTA, and MERGES the two
    (pure append — per-document signatures, so
    state(v1) ∪ state(Δ) == state(v1 ∪ Δ) row-for-row). The entry
    hashes per-band stats of the MERGED state read through the
    persisted layout, plus an in-plan boolean proving merge ≡ rebuild
    (count + order-independent xxhash64 fingerprint equality against a
    from-scratch state over the full corpus). Oracle: DuckDB rebuilds
    the band table from scratch — if the persist/read/merge path
    dropped, duplicated, or mangled one row, the per-band stats or the
    boolean flip and the value-hash fails.

    100 TB shape: each corpus snapshot ships its band table; a new
    version's dedup cost is one signature pass over the delta plus a
    metadata append into the band dirs — history is never recomputed.
    The merge itself is shuffle-free (unionByName); only the final
    stats aggregate shuffles, on 4 band keys."""
    import os as _os

    docs = load_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % _STATE_MOD != 0)
    delta = docs.filter(F.col("doc_id") % _STATE_MOD == 0)

    path = _state_scratch(sf_dir)
    if not _os.path.isdir(path):  # content-addressed: write-once per fixture
        dedup_ops.band_state_write(dedup_ops.minhash_band_state(v1), path)
    prior = dedup_ops.band_state_read(spark, path)
    merged = dedup_ops.band_state_merge(
        prior, dedup_ops.minhash_band_state(delta)
    )

    def fingerprint(state: DataFrame):
        # order-independent: per-row xxhash64 summed as decimal(38,0)
        # (sum is commutative; the merged state's row order differs
        # from the rebuild's by construction)
        r = state.agg(
            F.count("*").alias("n"),
            F.sum(
                F.xxhash64("doc_id", "band_id", "band_sig").cast("decimal(38,0)")
            ).alias("fp"),
        ).first()
        return int(r["n"]), int(r["fp"])

    rebuild = dedup_ops.minhash_band_state(docs)
    ok = fingerprint(merged) == fingerprint(rebuild)
    return (
        merged.groupBy(F.col("band_id").cast("int").alias("band_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("band_sig").alias("n_sigs"),
            F.sum("doc_id").alias("doc_id_sum"),
        )
        .withColumn("merge_equals_rebuild", F.lit(bool(ok)))
    )


# --------------------------------------------------------------------------
# Semantic dedup at scale (r7 VERDICT item 6b — the SemDeDup shape)
# --------------------------------------------------------------------------


def _sql_semantic_dedup() -> str:
    cent = _oracle_centroids_np()
    values = ",\n    ".join(f"({i}, {_dlist(c)})" for i, c in enumerate(cent))
    l2_row = _sql_l2("CAST(e.embedding AS DOUBLE[])", "c.centroid")
    return f"""
WITH centroids(cluster_id, centroid) AS (VALUES
    {values}),
assigned AS (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {l2_row} ASC, c.cluster_id ASC) AS rn
    FROM embeddings e CROSS JOIN centroids c)
  WHERE rn = 1
),
pairs AS (
  SELECT a.cluster_id, a.vec_id AS a_id, b.vec_id AS b_id
  FROM assigned a
  JOIN assigned b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]),
                         CAST(b.embedding AS DOUBLE[])) >= {_COS_T}
),
removed AS (SELECT DISTINCT b_id FROM pairs)
SELECT CAST(a.cluster_id AS INT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(r.b_id) AS BIGINT) AS n_removed,
       CAST(coalesce(sum(CASE WHEN r.b_id IS NOT NULL THEN a.vec_id END), 0)
            AS BIGINT) AS removed_id_sum
FROM assigned a LEFT JOIN removed r ON r.b_id = a.vec_id
GROUP BY a.cluster_id
"""


@register("semantic_dedup", oracle=_sql_semantic_dedup)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup at corpus scale — the SemDeDup recipe (Abbas et
    al., 2023, arXiv:2303.09540): k-means-cluster the embeddings, then
    find cosine-near pairs WITHIN each cluster only, never globally.
    Composes the existing pieces per the r7 VERDICT: the IVF coarse
    clustering (ivf_build — same seeded fit, so the oracle replays
    assignment from the same centroid literals) blocks the O(N^2) pair
    search into per-cluster groups; within a cluster the exact
    sequential-fold dot verifies at the embedding_neardup threshold.
    Keeper policy: deterministic min-id — a vector is removed iff a
    near-dup with a smaller vec_id shares its cluster. Emits per-cluster
    (n_vectors, n_removed, removed_id_sum).

    100 TB shape: the pair join is keyed on cluster_id, so it shuffles
    each vector once and the quadratic term is bounded by the LARGEST
    CLUSTER, not the corpus (nlist scales with N to keep clusters
    ~constant-size; ivf_cluster_balance is the skew diagnostic). The
    cross-cluster recall loss is the documented SemDeDup tradeoff —
    near-dups in different clusters are missed by design; at tighter
    thresholds near-dups co-assign with high probability."""
    idx = _ivf_index(spark, sf_dir)
    assigned = idx.assigned.select("cluster_id", "vec_id", "embedding")
    a = assigned.select(
        "cluster_id",
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("va"),
    )
    b = assigned.select(
        "cluster_id",
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("vb"),
    )
    pairs = (
        a.join(b, ["cluster_id"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(dot_expr("va", "vb") >= F.lit(_COS_T))
    )
    removed = pairs.select(F.col("b_id").alias("vec_id")).distinct()
    flagged = assigned.join(
        removed.withColumn("__rm", F.lit(1)), "vec_id", "left"
    )
    return flagged.groupBy(F.col("cluster_id").cast("int").alias("cluster_id")).agg(
        F.count("*").alias("n_vectors"),
        F.count("__rm").alias("n_removed"),
        F.coalesce(
            F.sum(F.when(F.col("__rm").isNotNull(), F.col("vec_id"))), F.lit(0)
        ).alias("removed_id_sum"),
    )


# --------------------------------------------------------------------------
# Compaction round-trip aggregate (r7 VERDICT item 5)
# --------------------------------------------------------------------------

_SQL_COMPACT_ROUNDTRIP_AGG = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum
FROM events
GROUP BY event_type
"""


@register("compact_roundtrip_agg", oracle=_SQL_COMPACT_ROUNDTRIP_AGG)
def compact_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction round-trip made oracle-witnessed END-TO-END (r7
    VERDICT item 5): compact the events table into the ~1 MB-file
    layout (sources/compact.py — the measured 46 s -> 9.15 s sf100
    streaming-read win), then run a real aggregate over the COMPACTED
    table; the oracle runs the SAME aggregate over the ORIGINAL. Any
    row compaction drops, duplicates, or mutates shifts a group's
    count/distinct/sum and fails the value-hash — a stronger witness
    than compact_stats' fingerprint booleans because the proof flows
    through the rewritten bytes into downstream query results.
    Exactness: counts are integers; the value sum goes through the
    engine-identical double->DECIMAL(18,6) cast so it is
    order-independent (compaction reorders rows across files by
    design)."""
    import os as _os

    from nano_vectordb_spark.sources import compact as compact_src

    dst = _compact_scratch(sf_dir)
    if not _os.path.isdir(_os.path.join(dst, "events.parquet")):
        compact_src.compact_table(spark, sf_dir, dst, "events", target_mb=1)
    compacted = spark.read.parquet(_os.path.join(dst, "events.parquet"))
    return compacted.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("value_sum"),
    )
