"""IVF build/search (O26, O28) + the /tmp materialization infra.

Sequential part of the registry — see registry.py (facade).
"""
from __future__ import annotations
from nano_vectordb_spark.registry_parts.p00_base import (  # noqa: F401
    _sql_view_query,
    _dlist,
    DataFrame,
    F,
    K,
    SEED,
    SparkSession,
    _SQL_QUERIES,
    _SQL_TOPK_MULTI,
    _queries_df,
    ivf_ops,
    load_table,
    memo,
    persist,
    register,
    topk_ops,
)

# --------------------------------------------------------------------------
# IVF (reference O26, O28). The coarse quantizer is a SEEDED driver-side
# fit on a deterministic training prefix, so the centroids are
# reproducible outside Spark: the oracle recomputes them in NumPy and
# embeds them as literals, letting DuckDB replay probe -> prune -> rank
# exactly — the reference's own exact-oracle methodology
# (apps/nvdb_ivf_eval.cpp:580-601). Self-oracle recall ladder lives in
# tests/test_ivf.py.
# --------------------------------------------------------------------------

_IVF_NLIST = 16
_IVF_NPROBE = 4


def _materialize_once(path: str, write_fn, marker: str = "_SUCCESS") -> None:
    """Concurrency-safe /tmp materialization for the content-addressed
    layout caches: write to a PID-suffixed temp dir and atomically
    rename into place. Two sessions racing over the same testdata can
    otherwise interleave `exists(_SUCCESS)` / `mode("overwrite")` and
    one reads a half-overwritten layout. The rename loser just discards
    its copy; a dead session's partial dir (no marker) is replaced."""
    import os as _os
    import shutil as _shutil

    if _os.path.exists(_os.path.join(path, marker)):
        return
    tmp = f"{path}.tmp.{_os.getpid()}"
    _shutil.rmtree(tmp, ignore_errors=True)
    write_fn(tmp)
    try:
        _os.rename(tmp, path)
    except OSError:
        if _os.path.exists(_os.path.join(path, marker)):
            _shutil.rmtree(tmp, ignore_errors=True)  # race lost: keep winner
        else:
            _shutil.rmtree(path, ignore_errors=True)  # stale partial dir
            _os.rename(tmp, path)

# the driver's correctness gate runs at this fixture; lazy oracles that
# embed fit-derived literals compute them from the same parquet.
# Overridable (SPARK_GRAFT_ORACLE_SF) so the scale-parity sweeps
# (tests/sf1_parity.py) can re-derive the fits on a scale fixture and
# hash-verify the ANN family at 10x — pyarrow reads both the
# single-file layout and Spark-written directories (files prefixed
# '_' are ignored by the dataset reader).
import os as _os

_ORACLE_SF = _os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def _sql_l2(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(list_zip({a}, {b}), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')"
    )



_ORACLE_FIT_CACHE: dict[str, object] = {}


def _fit_cached(key: str, fn):
    """Oracle fits are deterministic per fixture; cache them so a
    harness that calls oracle_sql() repeatedly (e.g. once per query
    subprocess) pays for each fit once per process.  Keyed on the
    oracle fixture dir so a future in-process override can never be
    served a stale fit."""
    key = f"{key}@{_ORACLE_SF}"
    if key not in _ORACLE_FIT_CACHE:
        _ORACLE_FIT_CACHE[key] = fn()
    return _ORACLE_FIT_CACHE[key]


def _oracle_train_rows(n: int, pred=None) -> "object":
    """The oracle's training prefix: the ``n`` embeddings with the
    SMALLEST vec_ids (after the optional ``pred(ids)`` row mask) —
    the NumPy twin of kmeans.collect_train_sample's id-keyed top-N, so
    the fit reproduces the Spark fit under any physical file layout
    (a raw row-order prefix is only stable on single-file fixtures)."""
    import numpy as np
    import pyarrow.parquet as papq

    tbl = papq.read_table(
        f"{_ORACLE_SF}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = np.asarray(tbl.column("vec_id").to_pylist(), dtype=np.int64)
    rows = np.asarray(tbl.column("embedding").to_pylist(), dtype=np.float64)
    if pred is not None:
        keep = pred(ids)
        ids, rows = ids[keep], rows[keep]
    order = np.argsort(ids, kind="stable")[:n]
    return rows[order]


def _oracle_centroids_np() -> "object":
    """Recompute the IVF coarse centroids for the oracle fixture with
    the IDENTICAL seeded NumPy fit Spark's ivf_build runs (same training
    prefix: parquet file order, same seed)."""

    def fit():
        import numpy as np

        from nano_vectordb_spark.functions import kmeans as km

        rows = _oracle_train_rows(km.train_rows_for(_IVF_NLIST))
        return km.lloyd_fit(
            np.asarray(rows, dtype=np.float64), _IVF_NLIST, seed=SEED
        )

    return _fit_cached("ivf_centroids", fit)


def _ivf_oracle(cent=None, pred: str | None = None) -> str:
    """DuckDB replay of ivf_search: assign every row to its nearest
    centroid literal, probe top-nprobe centroids per query, rank dot
    top-k within the probed lists. ``cent`` overrides the centroid set
    (default: the full-fixture fit) — assignment/probe/rank SQL is
    identical either way. ``pred`` optionally restricts the searched
    rows by a metadata predicate over the assigned relation (filtered
    ANN; assignment itself always runs over the full corpus, matching
    an index built before the filter is known)."""
    if cent is None:
        cent = _oracle_centroids_np()
    values = ",\n    ".join(f"({i}, {_dlist(c)})" for i, c in enumerate(cent))
    l2_row = _sql_l2("CAST(e.embedding AS DOUBLE[])", "c.centroid")
    l2_q = _sql_l2("CAST(q.embedding AS DOUBLE[])", "c.centroid")
    where_pred = f" AND ({pred})" if pred else ""
    return f"""
WITH centroids(cluster_id, centroid) AS (VALUES
    {values}),
q AS ({_SQL_QUERIES}),
assigned AS (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, e.label, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {l2_row} ASC, c.cluster_id ASC) AS rn
    FROM embeddings e CROSS JOIN centroids c)
  WHERE rn = 1{where_pred}
),
probes AS (
  SELECT query_id, cluster_id FROM (
    SELECT q.query_id, c.cluster_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {l2_q} ASC, c.cluster_id ASC) AS rn
    FROM q CROSS JOIN centroids c)
  WHERE rn <= {_IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id,
         list_dot_product(CAST(a.embedding AS DOUBLE[]),
                          CAST(q.embedding AS DOUBLE[])) AS score
  FROM probes p
  JOIN assigned a ON a.cluster_id = p.cluster_id
  JOIN q ON q.query_id = p.query_id
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT query_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM cand)
WHERE rank <= {K}
"""


@memo
def _ivf_index(spark: SparkSession, sf_dir: str) -> ivf_ops.IvfIndex:
    # memoized: builds are seeded/deterministic, and one session runs
    # many registry entries
    base = load_table(spark, sf_dir, "embeddings")
    idx = ivf_ops.ivf_build(base, nlist=_IVF_NLIST, seed=SEED)
    idx.assigned = persist(idx.assigned)
    return idx


@register("ivf_search", oracle=_ivf_oracle)
def ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probing search (reference O28): top-nprobe centroids ->
    pruned scan -> top-k. Oracle: DuckDB replays the same probe/prune/
    rank against the reproduced centroid literals (the reference's
    exact-oracle methodology, apps/nvdb_ivf_eval.cpp:580-601);
    exactness vs the flat scan at nprobe=nlist is additionally asserted
    in tests/test_ivf.py."""
    index = _ivf_index(spark, sf_dir)
    return ivf_ops.ivf_search(
        index, _queries_df(spark, sf_dir), K, nprobe=_IVF_NPROBE
    )


def _ivf_clusters_oracle() -> str:
    """DuckDB replay of the cluster profile: assign every row to its
    nearest centroid literal, then per-cluster count + min/max squared
    distance (min/max are order-independent, so doubles compare exactly
    — a float SUM would not)."""
    cent = _oracle_centroids_np()
    values = ",\n    ".join(f"({i}, {_dlist(c)})" for i, c in enumerate(cent))
    l2_row = _sql_l2("CAST(e.embedding AS DOUBLE[])", "c.centroid")
    l2_d = _sql_l2("CAST(a.embedding AS DOUBLE[])", "c.centroid")
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
d AS (
  SELECT a.cluster_id, {l2_d} AS d2
  FROM assigned a JOIN centroids c USING (cluster_id)
)
SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vectors,
       min(d2) AS min_d2, max(d2) AS max_d2
FROM d GROUP BY cluster_id
"""


@register("embedding_clusters", oracle=_ivf_clusters_oracle)
def embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus clustering profile: per-cluster population and tightness
    (min/max squared distance to the centroid) over the IVF k-means
    partitioning — the topic-bucketing / corpus-organization view of
    the same index the search path uses. min/max are order-independent,
    keeping doubles hash-exact across engines (a float sum would
    accumulate in engine-specific order)."""
    from nano_vectordb_spark.functions.vector import l2sq_expr

    idx = _ivf_index(spark, sf_dir)
    joined = idx.assigned.join(F.broadcast(idx.centroids), "cluster_id")
    d2 = l2sq_expr("embedding", "centroid")
    return joined.groupBy("cluster_id").agg(
        F.count("*").alias("n_vectors"),
        F.min(d2).alias("min_d2"),
        F.max(d2).alias("max_d2"),
    )


_SQL_TRAILING_SPARK = """
SELECT user_id, ts, event_type,
       CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS value_trailing_1h
FROM (SELECT *, timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) AS ts_us
      FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

_SQL_TRAILING_DUCK = """
SELECT user_id, ts, event_type,
       CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
       CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS value_trailing_1h
FROM (SELECT *, epoch_us(ts) AS ts_us FROM events)
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


@register("events_trailing_window", oracle=_SQL_TRAILING_DUCK)
def events_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window coverage: per event, the count and exact
    DECIMAL sum of the same user's events in the trailing hour. The
    frame orders by timezone-free epoch micros on BOTH engines, so peer
    -row (equal-timestamp) semantics coincide; the DECIMAL sum is exact
    in any accumulation order, which is what lets the doubles
    hash-match."""
    return _sql_view_query(spark, sf_dir, _SQL_TRAILING_SPARK)


_IVF_ADD_MOD = 10  # vec_id % 10 == 0 stands in for the inserted batch


def _oracle_centroids_add_np() -> "object":
    """Centroids for the incremental-add entry: the IDENTICAL seeded
    fit, but trained on the pre-insert corpus (vec_id % _IVF_ADD_MOD
    != 0) — the id-keyed first-N of the FILTERED table, exactly what
    collect_train_sample sees on the Spark side."""

    def fit():
        import numpy as np

        from nano_vectordb_spark.functions import kmeans as km

        rows = _oracle_train_rows(
            km.train_rows_for(_IVF_NLIST), pred=lambda ids: ids % _IVF_ADD_MOD != 0
        )
        return km.lloyd_fit(
            np.asarray(rows, dtype=np.float64), _IVF_NLIST, seed=SEED
        )

    return _fit_cached("ivf_centroids_add", fit)


def _ivf_add_oracle() -> str:
    return _ivf_oracle(cent=_oracle_centroids_add_np())


@register("ivf_search_after_add", oracle=_ivf_add_oracle)
def ivf_search_after_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance: build IVF on the pre-insert
    corpus (vec_id % {_IVF_ADD_MOD} != 0), ivf_add the remaining batch
    (assign-to-frozen-centroids, union into the layout — the FAISS
    add() contract), then search the whole index. The oracle replays
    assignment over ALL vectors against the pre-insert centroid
    literals, which equals build-then-add exactly because assignment
    depends only on the frozen centroids."""
    return ivf_ops.ivf_search(
        _ivf_added_index(spark, sf_dir), _queries_df(spark, sf_dir), K,
        nprobe=_IVF_NPROBE,
    )


@memo
def _ivf_added_index(spark: SparkSession, sf_dir: str) -> ivf_ops.IvfIndex:
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % _IVF_ADD_MOD != 0)
    batch = emb.filter(F.col("vec_id") % _IVF_ADD_MOD == 0)
    idx = ivf_ops.ivf_build(corpus, nlist=_IVF_NLIST, seed=SEED)
    idx = ivf_ops.ivf_add(idx, batch)
    idx.assigned = persist(idx.assigned)
    return idx


@register("ivf_search_persisted", oracle=_ivf_oracle)
def ivf_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search against the PERSISTED partitioned layout — the true
    scale path: the scan carries PartitionFilters on cluster_id and
    reads only the probed directories (asserted in tests/test_plans.py).
    """
    return ivf_ops.ivf_search(
        _ivf_disk_index(spark, sf_dir), _queries_df(spark, sf_dir), K,
        nprobe=_IVF_NPROBE,
    )


@memo
def _ivf_disk_index(spark: SparkSession, sf_dir: str) -> ivf_ops.IvfIndex:
    import hashlib

    idx = _ivf_index(spark, sf_dir)
    # content-addressed path: a layout written by an older fit (e.g.
    # a previous process's /tmp leftovers) must never be reused
    cent_rows = idx.centroids.orderBy("cluster_id").collect()
    fp = hashlib.md5(repr([tuple(r) for r in cent_rows]).encode()).hexdigest()[:12]
    path = "/tmp/nvdb_ivf_" + hashlib.md5(f"{sf_dir}:{fp}".encode()).hexdigest()[:8]
    _materialize_once(
        path,
        lambda p: ivf_ops.ivf_write(idx, p),
        marker="centroids/_SUCCESS",
    )
    return ivf_ops.ivf_read(spark, path, nlist=_IVF_NLIST)


_IVF_SWEEP_NPROBES = (1, 2, 4, 8, _IVF_NLIST)


def _ivf_sweep_oracle() -> str:
    """DuckDB replay of the whole recall ladder: rebuild assignment from
    the centroid literals, rank per nprobe, count exact-GT hits."""
    cent = _oracle_centroids_np()
    values = ",\n    ".join(f"({i}, {_dlist(c)})" for i, c in enumerate(cent))
    l2_row = _sql_l2("CAST(e.embedding AS DOUBLE[])", "c.centroid")
    l2_q = _sql_l2("CAST(q.embedding AS DOUBLE[])", "c.centroid")
    per_np = "\nUNION ALL\n".join(
        f"""
  SELECT {np} AS nprobe,
         CAST(count(*) AS BIGINT) AS n_hits,
         (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_queries,
         count(*) / ({K}.0 * (SELECT count(*) FROM q)) AS recall_at_k
  FROM (
    SELECT query_id, vec_id FROM (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, vec_id ASC) AS rank
      FROM cand WHERE probe_rn <= {np})
    WHERE rank <= {K}) pred
  JOIN gt USING (query_id, vec_id)"""
        for np in _IVF_SWEEP_NPROBES
    )
    return f"""
WITH centroids(cluster_id, centroid) AS (VALUES
    {values}),
q AS ({_SQL_QUERIES}),
assigned AS (
  SELECT vec_id, embedding, cluster_id FROM (
    SELECT e.vec_id, e.embedding, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {l2_row} ASC, c.cluster_id ASC) AS rn
    FROM embeddings e CROSS JOIN centroids c)
  WHERE rn = 1
),
probe_rank AS (
  SELECT q.query_id, c.cluster_id,
         row_number() OVER (PARTITION BY q.query_id
           ORDER BY {l2_q} ASC, c.cluster_id ASC) AS rn
  FROM q CROSS JOIN centroids c
),
cand AS (
  SELECT p.query_id, a.vec_id, p.rn AS probe_rn,
         list_dot_product(CAST(a.embedding AS DOUBLE[]),
                          CAST(q.embedding AS DOUBLE[])) AS score
  FROM probe_rank p
  JOIN assigned a ON a.cluster_id = p.cluster_id
  JOIN q ON q.query_id = p.query_id
),
gt AS (
  SELECT query_id, vec_id FROM ({_SQL_TOPK_MULTI})
)
SELECT * FROM ({per_np})
ORDER BY nprobe
"""


@register("ivf_recall_sweep", oracle=_ivf_sweep_oracle)
def ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall ladder over nprobe (reference Performance.md Table 16
    shape): one row per nprobe with exact-GT hit counts and recall@10.
    Hit counts are integers (order-independent, hash-exact); recall is
    the exact double division n_hits / (k * n_queries)."""
    index = _ivf_index(spark, sf_dir)
    q = _queries_df(spark, sf_dir)
    base = load_table(spark, sf_dir, "embeddings")
    gt_pairs = topk_ops.topk_multi(base, q, K).select("query_id", "vec_id")
    nq = q.count()
    rows = []
    for nprobe in _IVF_SWEEP_NPROBES:
        pred = ivf_ops.ivf_search(index, q, K, nprobe=nprobe).select(
            "query_id", "vec_id"
        )
        hits = pred.join(gt_pairs, ["query_id", "vec_id"]).count()
        rows.append((nprobe, hits, nq, hits / (K * nq)))
    return spark.createDataFrame(
        rows, "nprobe int, n_hits bigint, n_queries bigint, recall_at_k double"
    )


