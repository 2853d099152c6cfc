"""PQ / OPQ / ADC (O27).

Sequential part of the registry — see registry.py (facade).
"""
from __future__ import annotations
from nano_vectordb_spark.registry_parts.p00_base import (  # noqa: F401
    _dlist,
    DataFrame,
    K,
    SEED,
    SparkSession,
    _SQL_QUERIES,
    _queries_df,
    load_table,
    memo,
    persist,
    pq_ops,
    register,
)
from nano_vectordb_spark.registry_parts.p03_ivf import (  # noqa: F401
    _IVF_NLIST,
    _IVF_NPROBE,
    _ORACLE_FIT_CACHE,
    _ORACLE_SF,
    _fit_cached,
    _oracle_centroids_np,
    _sql_l2,
)

# --------------------------------------------------------------------------
# PQ / ADC (reference O27). Like the IVF oracle, the codebooks are
# seeded deterministic driver-side fits — the oracles recompute them in
# NumPy, embed them (and the OPQ rotation) as literals, and replay
# encode -> LUT -> ADC fold -> (refine) in DuckDB. The ADC score fold
# and LUT entries use sequential summation on both sides, so even the
# raw ADC scores hash-match. Recall-ladder self-oracle: tests/test_pq.py.
# --------------------------------------------------------------------------

_PQ_M, _PQ_NBITS = 8, 6
_IVFPQ_NBITS = 4
_PQ_REFINE_K = 50


@memo
def _pq_index(spark: SparkSession, sf_dir: str) -> pq_ops.PqIndex:
    base = load_table(spark, sf_dir, "embeddings")
    idx = pq_ops.pq_build(base, m=_PQ_M, nbits=_PQ_NBITS, seed=SEED)
    idx.codes = persist(idx.codes)
    return idx


def _oracle_train_mat() -> "object":
    import numpy as np
    import pyarrow.parquet as papq

    from nano_vectordb_spark.functions import kmeans as km

    def load():
        from nano_vectordb_spark.registry_parts.p03_ivf import _oracle_train_rows

        return np.asarray(
            _oracle_train_rows(km.train_rows_for(2**_PQ_NBITS)), dtype=np.float64
        )

    return _fit_cached("train_mat", load)


def _oracle_pq_books(rotation=None, centroids=None, nbits=_PQ_NBITS, seed_off=0):
    """Replay pq_build/ivfpq_build's codebook fit in NumPy: optional
    rotation, optional coarse-residual (IVF-PQ), per-subspace seeded
    Lloyd fits."""
    import hashlib as _hl

    import numpy as np

    from nano_vectordb_spark.functions import kmeans as km

    key = "pq_books:%s:%s:%s:%s" % (
        nbits,
        seed_off,
        "-" if rotation is None else _hl.md5(rotation.tobytes()).hexdigest()[:8],
        "-" if centroids is None else _hl.md5(
            np.ascontiguousarray(centroids).tobytes()
        ).hexdigest()[:8],
    )
    if key in _ORACLE_FIT_CACHE:
        return _ORACLE_FIT_CACHE[key]
    # the train set is sized by THIS fit's k = 2**nbits, matching the
    # Spark side's train_rows_for(k) — _oracle_train_mat() (sized for
    # _PQ_NBITS) was wrong for the ivfpq path's smaller nbits: invisible
    # at sf0.01 where both clamp to the whole table, caught by the r6
    # sf1 ANN oracle re-fit sweep
    from nano_vectordb_spark.functions import kmeans as _km
    from nano_vectordb_spark.registry_parts.p03_ivf import _oracle_train_rows

    mat = np.asarray(
        _oracle_train_rows(_km.train_rows_for(2**nbits)), dtype=np.float64
    )
    if rotation is not None:
        mat = mat @ rotation
    if centroids is not None:
        d2 = (
            (mat * mat).sum(axis=1)[:, None]
            - 2.0 * (mat @ centroids.T)
            + (centroids * centroids).sum(axis=1)[None, :]
        )
        mat = mat - centroids[d2.argmin(axis=1)]
    dsub = mat.shape[1] // _PQ_M
    books = np.stack(
        [
            km.lloyd_fit(
                mat[:, mi * dsub : (mi + 1) * dsub], 2**nbits, seed=SEED + seed_off + mi
            )
            for mi in range(_PQ_M)
        ]
    )
    _ORACLE_FIT_CACHE[key] = books
    return books


def _oracle_pca_rotation():
    import numpy as np

    def fit():
        from nano_vectordb_spark.registry_parts.p03_ivf import _oracle_train_rows

        # pq_ops.pca_rotation's sample: the 10k smallest vec_ids
        mat = np.asarray(_oracle_train_rows(10_000), dtype=np.float64)
        cov = np.cov(mat, rowvar=False)
        _w, v = np.linalg.eigh(cov)
        return v[:, ::-1]

    return _fit_cached("pca_rotation", fit)


def _books_values(books) -> str:
    return ",\n    ".join(
        f"({mi}, {code}, {_dlist(books[mi][code])})"
        for mi in range(books.shape[0])
        for code in range(books.shape[1])
    )


def _sql_sub(col: str, dsub: int, mi: str = "b.mi") -> str:
    """1-based inclusive DuckDB list slice of subspace ``mi``."""
    return f"({col})[({mi} * {dsub} + 1):(({mi} + 1) * {dsub})]"


def _sql_pq_core(books, emb_expr: str = "CAST(e.embedding AS DOUBLE[])",
                 q_expr: str = "CAST(q.embedding AS DOUBLE[])",
                 emb_src: str = "embeddings e",
                 q_src: str = "q") -> str:
    """Shared CTE block: codes (per-row subspace argmin) + lut (per-query
    subspace dot) + scored (ordered sequential ADC fold)."""
    dsub = books.shape[2]
    values = _books_values(books)
    return f"""
books(mi, code, v) AS (VALUES
    {values}),
pq_dists AS MATERIALIZED (
  -- materialize the flat (vec_id, mi, code, d) table ONCE: the r8
  -- sf10 sweep showed both windowed argmin (row_number over the
  -- N x M*2^nbits cross join pins the partition-sorted intermediate,
  -- OOM at 200k vectors even with spill) and min-over-struct (DuckDB
  -- allocates untracked per-update state for nested-type min — 70 GB
  -- RSS past a 32 GB memory_limit) blow up; primitive-typed columns
  -- + two streaming min() passes stay tracked and spillable
  SELECT e.vec_id, b.mi, b.code,
         {_sql_l2(_sql_sub(emb_expr, dsub), 'b.v')} AS d
  FROM {emb_src} CROSS JOIN books b
),
codes AS (
  -- argmin with (d ASC, code ASC) tie-break, value-identical to the
  -- former row_number formulation: d is computed once in pq_dists so
  -- the d = md equality is exact. PRECONDITION: no NaN embedding
  -- components — min(d)=NaN never equality-joins back (NaN=NaN is
  -- false in SQL), so a NaN row would silently drop out of codes
  -- where the old ORDER BY form still assigned a code. Fixture
  -- embeddings are finite by construction (TESTDATA.md); guard with
  -- an isnan filter before ever feeding untrusted vectors here.
  SELECT d.vec_id, d.mi, min(d.code) AS code
  FROM pq_dists d
  JOIN (SELECT vec_id, mi, min(d) AS md
        FROM pq_dists GROUP BY vec_id, mi) m
    ON m.vec_id = d.vec_id AND m.mi = d.mi AND d.d = m.md
  GROUP BY d.vec_id, d.mi
),
lut AS (
  SELECT q.query_id, b.mi, b.code,
         list_dot_product(b.v, {_sql_sub(q_expr, dsub)}) AS val
  FROM {q_src} q CROSS JOIN books b
),
scored AS (
  SELECT l.query_id, c.vec_id,
         list_aggregate(list(l.val ORDER BY l.mi), 'sum') AS score
  FROM codes c JOIN lut l ON l.mi = c.mi AND l.code = c.code
  GROUP BY l.query_id, c.vec_id
)"""


def _pq_adc_oracle() -> str:
    core = _sql_pq_core(_oracle_pq_books())
    return f"""
WITH q AS ({_SQL_QUERIES}),
{core}
SELECT query_id, vec_id, score, rank FROM (
  SELECT query_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored)
WHERE rank <= {K}
"""


_SQL_RESCORE_TOPK = f"""
rescored AS (
  SELECT c.query_id, c.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]),
                          CAST(q.embedding AS DOUBLE[])) AS score
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN q ON q.query_id = c.query_id
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT query_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM rescored)
WHERE rank <= {K}
"""


def _pq_refine_oracle() -> str:
    core = _sql_pq_core(_oracle_pq_books())
    return f"""
WITH q AS ({_SQL_QUERIES}),
{core},
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, vec_id ASC) AS r
    FROM scored)
  WHERE r <= {_PQ_REFINE_K}
),
{_SQL_RESCORE_TOPK}
"""


def _oracle_learned_rotation():
    from nano_vectordb_spark.operators import pq as pq_ops2

    return _fit_cached(
        "learned_rotation",
        lambda: pq_ops2.opq_learn_rotation(
            _oracle_train_mat(), m=_PQ_M, nbits=_PQ_NBITS, n_iter=8, seed=SEED
        ),
    )


def _opq_refine_oracle(rotation_fn=None) -> str:
    rot = (rotation_fn or _oracle_pca_rotation)()
    books = _oracle_pq_books(rotation=rot)
    rot_values = ",\n    ".join(
        f"({j}, {_dlist(rot[:, j])})" for j in range(rot.shape[1])
    )
    core = _sql_pq_core(
        books,
        emb_expr="e.rxv",
        q_expr="q.rxv",
        emb_src="rx e",
        q_src="qx",
    )
    return f"""
WITH q0 AS ({_SQL_QUERIES}),
rotc(j, v) AS (VALUES
    {rot_values}),
rx AS (
  SELECT e.vec_id,
         list(list_dot_product(CAST(e.embedding AS DOUBLE[]), r.v)
              ORDER BY r.j) AS rxv
  FROM embeddings e CROSS JOIN rotc r GROUP BY e.vec_id
),
qx AS (
  SELECT q.query_id,
         list(list_dot_product(CAST(q.embedding AS DOUBLE[]), r.v)
              ORDER BY r.j) AS rxv
  FROM q0 q CROSS JOIN rotc r GROUP BY q.query_id
),
{core},
q AS (SELECT query_id, embedding FROM q0),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, vec_id ASC) AS r
    FROM scored)
  WHERE r <= {_PQ_REFINE_K}
),
{_SQL_RESCORE_TOPK}
"""


def _ivfpq_refine_oracle() -> str:
    import numpy as np

    cent = np.asarray(_oracle_centroids_np())
    books = _oracle_pq_books(centroids=cent, nbits=_IVFPQ_NBITS, seed_off=1000)
    dsub = books.shape[2]
    cent_values = ",\n    ".join(
        f"({i}, {_dlist(c)})" for i, c in enumerate(cent)
    )
    books_values = _books_values(books)
    l2_row = _sql_l2("CAST(e.embedding AS DOUBLE[])", "c.centroid")
    l2_q = _sql_l2("CAST(q.embedding AS DOUBLE[])", "c.centroid")
    return f"""
WITH centroids(cluster_id, centroid) AS (VALUES
    {cent_values}),
books(mi, code, v) AS (VALUES
    {books_values}),
q AS ({_SQL_QUERIES}),
assigned AS (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {l2_row} ASC, c.cluster_id ASC) AS rn
    FROM embeddings e CROSS JOIN centroids c)
  WHERE rn = 1
),
resid AS (
  SELECT a.vec_id, a.cluster_id,
         list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), c.centroid),
                        p -> p[1] - p[2]) AS rv
  FROM assigned a JOIN centroids c USING (cluster_id)
),
codes AS (
  SELECT vec_id, cluster_id, mi, code FROM (
    SELECT e.vec_id, e.cluster_id, b.mi, b.code,
           row_number() OVER (PARTITION BY e.vec_id, b.mi
             ORDER BY {_sql_l2(_sql_sub('e.rv', dsub), 'b.v')} ASC,
                      b.code ASC) AS rn
    FROM resid e CROSS JOIN books b)
  WHERE rn = 1
),
probes AS (
  SELECT query_id, cluster_id FROM (
    SELECT q.query_id, c.cluster_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {l2_q} ASC, c.cluster_id ASC) AS rn
    FROM q CROSS JOIN centroids c)
  WHERE rn <= {_IVF_NPROBE}
),
qres AS (
  SELECT p.query_id, p.cluster_id,
         list_transform(list_zip(CAST(q.embedding AS DOUBLE[]), c.centroid),
                        p2 -> p2[1] - p2[2]) AS rv
  FROM probes p
  JOIN centroids c USING (cluster_id)
  JOIN q USING (query_id)
),
lut AS (
  SELECT r.query_id, r.cluster_id, b.mi, b.code,
         {_sql_l2('b.v', _sql_sub('r.rv', dsub))} AS val
  FROM qres r CROSS JOIN books b
),
scored AS (
  SELECT l.query_id, cd.vec_id,
         list_aggregate(list(l.val ORDER BY l.mi), 'sum') AS score
  FROM codes cd
  JOIN lut l ON l.cluster_id = cd.cluster_id
            AND l.mi = cd.mi AND l.code = cd.code
  GROUP BY l.query_id, cd.vec_id
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY score ASC, vec_id ASC) AS r
    FROM scored)
  WHERE r <= {_PQ_REFINE_K}
),
{_SQL_RESCORE_TOPK}
"""


@register("pq_adc_search", oracle=_pq_adc_oracle)
def pq_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC scan (reference O27): codes + per-query LUT fold, top-k.
    Oracle: DuckDB re-encodes against the reproduced codebook literals
    and replays the sequential ADC fold — raw ADC scores hash-match."""
    return pq_ops.pq_adc_search(_pq_index(spark, sf_dir), _queries_df(spark, sf_dir), K)


@register("pq_refine_search", oracle=_pq_refine_oracle)
def pq_refine_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ candidates + exact refine (reference Table 19/20 pipeline).
    Oracle replays ADC top-R candidate selection + exact dot rerank."""
    base = load_table(spark, sf_dir, "embeddings")
    return pq_ops.pq_search_refined(
        _pq_index(spark, sf_dir), base, _queries_df(spark, sf_dir), K,
        refine_k=_PQ_REFINE_K,
    )


@register("opq_refine_search", oracle=_opq_refine_oracle)
def opq_refine_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-PQ + refine (reference apps/nvdb_ivfpq_build.cpp:78-91): a
    PCA rotation balances variance across subspaces before PQ; queries
    are rotated at LUT build; refine reranks in the original space.
    Orthonormality preserves dot/L2 ranking semantics. Oracle embeds the
    rotation + codebook literals and replays the whole pipeline."""
    base = load_table(spark, sf_dir, "embeddings")
    return pq_ops.pq_search_refined(
        _opq_index(spark, sf_dir), base, _queries_df(spark, sf_dir), K,
        refine_k=_PQ_REFINE_K,
    )


@memo
def _opq_index(spark: SparkSession, sf_dir: str) -> pq_ops.PqIndex:
    base = load_table(spark, sf_dir, "embeddings")
    rot = pq_ops.pca_rotation(base)
    idx = pq_ops.pq_build(base, m=_PQ_M, nbits=_PQ_NBITS, seed=SEED, rotation=rot)
    idx.codes = persist(idx.codes)
    return idx


@register(
    "opq_learned_refine_search",
    oracle=lambda: _opq_refine_oracle(_oracle_learned_rotation),
)
def opq_learned_refine_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ with the LEARNED rotation (reference trains OPQMatrix,
    apps/nvdb_ivfpq_build.cpp:78-91; algorithm: OPQ-NP alternating
    codebook-fit / orthogonal-Procrustes, Ge et al. CVPR'13) + exact
    refine. The rotation-quality gain over naive subspace splitting is
    demonstrated in tests/test_pq.py on scrambled product-structured
    data (the reference's measured 0.69 -> 0.77 recall delta,
    Performance.md Table 19)."""
    base = load_table(spark, sf_dir, "embeddings")
    return pq_ops.pq_search_refined(
        _opq_learned_index(spark, sf_dir), base, _queries_df(spark, sf_dir), K,
        refine_k=_PQ_REFINE_K,
    )


@memo
def _opq_learned_index(spark: SparkSession, sf_dir: str) -> pq_ops.PqIndex:
    from nano_vectordb_spark.functions import kmeans as km

    base = load_table(spark, sf_dir, "embeddings")
    mat = km.collect_train_sample(base, "embedding", km.train_rows_for(2**_PQ_NBITS))
    rot = pq_ops.opq_learn_rotation(mat, m=_PQ_M, nbits=_PQ_NBITS, n_iter=8, seed=SEED)
    idx = pq_ops.pq_build(base, m=_PQ_M, nbits=_PQ_NBITS, seed=SEED, rotation=rot)
    idx.codes = persist(idx.codes)
    return idx


@register("ivfpq_refine_search", oracle=_ivfpq_refine_oracle)
def ivfpq_refine_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ composite (reference IndexIVFPQ semantics): coarse
    probe -> residual-PQ ADC scan over probed lists only -> exact
    refine. Oracle replays probe, residual encode, ADC candidate
    ranking and exact rerank from centroid + codebook literals. Recall
    ladder in tests/test_ivfpq.py."""
    from nano_vectordb_spark.operators import ivfpq as ivfpq_ops

    base = load_table(spark, sf_dir, "embeddings")
    return ivfpq_ops.ivfpq_search_refined(
        _ivfpq_index(spark, sf_dir), base, _queries_df(spark, sf_dir), K,
        nprobe=_IVF_NPROBE, refine_k=_PQ_REFINE_K,
    )


@memo
def _ivfpq_index(spark: SparkSession, sf_dir: str):
    from nano_vectordb_spark.operators import ivfpq as ivfpq_ops

    base = load_table(spark, sf_dir, "embeddings")
    idx = ivfpq_ops.ivfpq_build(
        base, nlist=_IVF_NLIST, m=_PQ_M, nbits=_IVFPQ_NBITS, seed=SEED
    )
    idx.codes = persist(idx.codes)
    return idx


