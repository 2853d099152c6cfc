"""Round-9 capability wave: SPANN boundary replication for sharded
graph ANN, dedup band-state retirement (the compact half of the
merge/compact lifecycle), and quality-bucketed mixture reweighting
(r8 VERDICT items 2 + 5).

Sequential part of the registry — see registry.py (facade).
"""
from __future__ import annotations

from nano_vectordb_spark.registry_parts.p00_base import (  # noqa: F401
    DataFrame,
    F,
    SEED,
    SparkSession,
    dedup_ops,
    load_table,
    memo,
    persist,
    register,
    tx,
)
from nano_vectordb_spark.registry_parts.p05_text import (  # noqa: F401
    _SQL_EN_STOP,
    _SQL_TOKS,
)
from nano_vectordb_spark.registry_parts.p06_dedup import _sql_minhash_base
from nano_vectordb_spark.registry_parts.p13_analytics_graph import (
    _graph_eval_set,
    _shard_graph_index,
)
from nano_vectordb_spark.registry_parts.p16_r8_wave import (
    _STATE_MOD,
    _state_scratch,
)

import nano_vectordb_spark.operators.pipeline as pipe_ops


# --------------------------------------------------------------------------
# SPANN boundary replication (r8 VERDICT item 2)
# --------------------------------------------------------------------------

_REP_REPLICAS = 3
_REP_EPS = 0.4

_SQL_GRAPH_ANN_REPLICATED = """
SELECT * FROM (VALUES
  (1, 100, TRUE, TRUE),
  (2, 100, TRUE, TRUE),
  (8, 100, TRUE, TRUE)
) AS t(nprobe, n_queries, recall_ok, not_below_single)
ORDER BY nprobe
"""


@memo
def _replicated_shard_index(spark: SparkSession, sf_dir: str):
    """(rep, g_rep, st_rep, maxlist): the SPANN-replicated copy of the
    shared nlist=8 shard index, its per-list graphs and beam state, and
    the largest replicated list size."""
    from nano_vectordb_spark.operators import graphann
    from nano_vectordb_spark.operators.ivf import ivf_replicate

    rep = ivf_replicate(
        _shard_graph_index(spark, sf_dir)[0], replicas=_REP_REPLICAS, eps=_REP_EPS
    )
    rep.assigned = persist(rep.assigned)
    g_rep = persist(graphann.shard_graph_build(rep, k=16))
    maxlist = int(
        rep.assigned.groupBy("cluster_id").count().agg(F.max("count")).first()[0]
    )
    st_rep = persist(graphann.shard_search_state(rep, g_rep))
    return rep, g_rep, st_rep, maxlist


@register("graph_ann_replicated", oracle=_SQL_GRAPH_ANN_REPLICATED)
def graph_ann_replicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded graph ANN over a boundary-REPLICATED index
    (operators/ivf.ivf_replicate — SPANN's closure multi-assignment,
    Chen et al. NeurIPS 2021 §4.1): every vector lands in its nearest
    IVF list plus up to replicas-1 lists whose centroid distance is
    within (1+eps) of the nearest, so a probed list already contains
    the frontier vectors just across its Voronoi boundary. This is
    the high-recall path ABOVE the broadcast clamp, where recall was
    previously capped at the IVF coarse-probe ceiling.

    Hashed output is IN-PLAN booleans, deterministic by construction
    (per-shard beams are run exhaustively: ef, the entry sample AND
    n_entry all cover the largest list, so every shard node seeds the
    beam — the invariants do not depend on per-shard graph
    connectivity; ADVICE r9):

    * recall_ok — nprobe=1 recall >= 0.30 and nprobe=2 >= 0.55 (loose
      floors under the measured fixture values); nprobe=8 (= nlist)
      recall == 1.0 EXACTLY — full probe + dedup of replicas still
      equals the flat exact top-k (pinned in tests/test_graphann.py).
    * not_below_single — at each nprobe, replicated recall >= the
      single-assignment index's recall on the same probes: with
      exhaustive per-shard beams the replicated candidate set is a
      superset per query (each probed list is a superset of its
      single-assignment self), and under exact (dist, vec_id) final
      ranking a superset can only improve recall.
    """
    from nano_vectordb_spark.operators import graphann
    from nano_vectordb_spark.operators.gt import recall_at_k

    # The entry runs SIX exhaustive searches per
    # invocation over the two frozen (index, graph) pairs — each pair's
    # beam state plus the seeded query sample and its exact GT are
    # memoized, all pure functions of the frozen fixture.
    _, queries, gt = _graph_eval_set(spark, sf_dir)
    idx, g_single, st_single, _ = _shard_graph_index(spark, sf_dir)
    rep, g_rep, st_rep, maxlist = _replicated_shard_index(spark, sf_dir)

    def recall(index, g, nprobe):
        pred = graphann.shard_graph_search(
            index, g, queries, k=10, ef=maxlist, nprobe=nprobe,
            coarse=maxlist, n_entry=maxlist,
            state=st_rep if index is rep else st_single,
        )
        pids = pred.groupBy("query_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "vec_id"))),
                lambda s: s["vec_id"],
            ).alias("pred_ids")
        )
        r = recall_at_k(gt, pids, 10).first()
        return float(r["recall_at_k"]), int(r["n_queries"])

    # r13 (guide §2.6): the six recall evaluations are independent
    # multi-action computations over frozen inputs — run them from a
    # thread pool so the entry's wall is the slowest one, not the sum.
    from concurrent.futures import ThreadPoolExecutor

    plan = [(1, 0.30), (2, 0.55), (8, None)]
    with ThreadPoolExecutor(max_workers=6) as pool:
        f_rep = {np_: pool.submit(recall, rep, g_rep, np_) for np_, _ in plan}
        f_single = {
            np_: pool.submit(recall, idx, g_single, np_) for np_, _ in plan
        }
    rows = []
    for nprobe, floor in plan:
        rec_rep, nq = f_rep[nprobe].result()
        rec_single, _ = f_single[nprobe].result()
        ok = rec_rep == 1.0 if floor is None else rec_rep >= floor
        rows.append((nprobe, nq, bool(ok), bool(rec_rep >= rec_single)))
    return spark.createDataFrame(
        rows, "nprobe int, n_queries int, recall_ok boolean, not_below_single boolean"
    ).orderBy("nprobe")


# --------------------------------------------------------------------------
# Band-state retirement (r8 VERDICT item 5b — completes the
# dedup_state_merge lifecycle)
# --------------------------------------------------------------------------


def _sql_dedup_state_compact() -> str:
    live = (
        f"(SELECT doc_id, text FROM documents WHERE doc_id % {_STATE_MOD} <> 0)"
    )
    return f"""
WITH {_sql_minhash_base(live)}
SELECT CAST(band_id AS INT) AS band_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT band_sig) AS BIGINT) AS n_sigs,
       CAST(sum(doc_id) AS BIGINT) AS doc_id_sum,
       TRUE AS compact_equals_v1
FROM banded
GROUP BY band_id
"""


@register("dedup_state_compact", oracle=_sql_dedup_state_compact())
def dedup_state_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-state RETIREMENT — the vacuum half of the cross-run dedup
    lifecycle (dedup_state_merge is the append half): corpus v2 (the
    delta) is rolled back, so its rows must leave the merged state.
    operators/dedup.band_state_compact anti-joins the retired doc ids
    out; because signatures are per-document the identity
    compact(state(v1 ∪ Δ), retired=Δ) == state(v1) holds row-for-row.

    The entry replays the full lifecycle against the SAME persisted v1
    state dedup_state_merge wrote (content-addressed scratch): read
    state(v1) back from the band-partitioned layout, merge state(Δ),
    compact Δ away again, and hash per-band stats of the result plus
    an in-plan boolean proving compacted ≡ the state(v1) that was
    originally persisted (count + order-independent xxhash64
    fingerprint equality). Oracle: DuckDB rebuilds the band table over
    the LIVE docs only — one dropped or surviving retired row flips
    the stats or the boolean.

    100 TB shape: retirement is one anti-join over the state keyed on
    doc_id (strategy left to AQE — a retired version's id set may be
    large), rewriting only the band dirs it occupies; a maintenance
    pass on the retirement cadence, never on the probe path."""
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
    compacted = dedup_ops.band_state_compact(merged, delta.select("doc_id"))

    def fingerprint(state: DataFrame):
        r = state.agg(
            F.count("*").alias("n"),
            F.sum(
                F.xxhash64("doc_id", "band_id", "band_sig").cast("decimal(38,0)")
            ).alias("fp"),
        ).first()
        return int(r["n"]), int(r["fp"])

    ok = fingerprint(compacted) == fingerprint(prior)
    return (
        compacted.groupBy(F.col("band_id").cast("int").alias("band_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("band_sig").alias("n_sigs"),
            F.sum("doc_id").alias("doc_id_sum"),
        )
        .withColumn("compact_equals_v1", F.lit(bool(ok)))
    )


# --------------------------------------------------------------------------
# Quality-bucketed mixture reweighting (r8 VERDICT item 5c)
# --------------------------------------------------------------------------

_QMIX_HI = 0.8
_QMIX_MID = 0.7
_QMIX_SHARES = {"high": 0.6, "mid": 0.3, "low": 0.1}

# the Spark side normalizes by the FLOAT sum of the shares
# (pipeline.mixture_weights: v / total, total = sum(...) =
# 0.9999999999999999 here), so the SQL literals are the exact
# Python-normalized doubles — not the nominal decimals — and cast to
# DOUBLE so DuckDB never routes the ratio math through DECIMAL
_QMIX_TOTAL = sum(_QMIX_SHARES.values())
_SQL_QMIX_TGT = ",\n    ".join(
    f"('{s}', CAST({v / _QMIX_TOTAL!r} AS DOUBLE))"
    for s, v in sorted(_QMIX_SHARES.items())
)

_SQL_MIXTURE_QUALITY = f"""
WITH t AS ({_SQL_TOKS}),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, x -> list_contains([{_SQL_EN_STOP}], x))) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
         CASE WHEN length(lower(text)) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                   / CAST(length(lower(text)) AS DOUBLE) END AS punct_ratio
  FROM t
),
b AS (
  SELECT doc_id, n_tokens,
         CASE WHEN quality >= {_QMIX_HI} THEN 'high'
              WHEN quality >= {_QMIX_MID} THEN 'mid'
              ELSE 'low' END AS qbucket
  FROM (
    SELECT doc_id, n_tokens,
           0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 64.0)
           + 0.3 * (1.0 - stopword_ratio)
           + 0.2 * (1.0 - punct_ratio) AS quality
    FROM m
  )
),
per_src AS (
  SELECT qbucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM b GROUP BY qbucket
),
tgt(qbucket, target_share) AS (VALUES
    {_SQL_QMIX_TGT}),
shares AS (
  SELECT p.qbucket, p.n_docs, p.n_tokens,
         CAST(p.n_tokens AS DOUBLE) / CAST(sum(p.n_tokens) OVER () AS DOUBLE) AS natural_share,
         g.target_share
  FROM per_src p JOIN tgt g USING (qbucket)
),
rated AS (
  SELECT *, target_share / natural_share AS rate_raw FROM shares
),
weights AS (
  SELECT qbucket, n_docs, n_tokens, natural_share, target_share,
         rate_raw / max(rate_raw) OVER () AS keep_rate
  FROM rated
),
kept AS (
  SELECT b.qbucket,
         CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(b.n_tokens) AS BIGINT) AS kept_tokens
  FROM b JOIN weights w USING (qbucket)
  WHERE CAST(('0x' || substr(md5('{SEED}:' || CAST(b.doc_id AS VARCHAR)), 1, 7))::BIGINT AS DOUBLE)
        / 268435456.0 < w.keep_rate
  GROUP BY b.qbucket
)
SELECT w.qbucket, w.n_docs, w.n_tokens, w.natural_share, w.target_share,
       w.keep_rate,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
FROM weights w LEFT JOIN kept k USING (qbucket)
"""


@register("mixture_quality_reweight", oracle=_SQL_MIXTURE_QUALITY)
def mixture_quality_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-bucketed mixture reweighting — the standard pipeline
    composition the pieces already support (quality_expr buckets as
    the mixture 'source', mixture_weights plans the shares,
    mixture_sample realizes them): docs are scored with the composite
    quality expression (functions/text.quality_expr — the same score
    corpus_clean and quality_filter_quantile gate on), bucketed
    high/mid/low, and the corpus is downsample-only rebalanced toward
    a 60/30/10 token mixture — upweighting high-quality text exactly
    the way pretraining mixtures do.

    One scan computes tokens+quality (map-only), one aggregation
    shuffle on the 3-bucket key plans the weights, and the sample is a
    map-only keyed-hash Bernoulli thin against the broadcast rate
    table; the kept-stats aggregate shuffles on 3 keys. Oracle
    re-derives buckets, shares, keep rates and the md5-thinned kept
    counts in SQL."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", tx.tokens_expr("text")
    )
    scored = docs.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        tx.quality_expr(F.col("toks"), "text").alias("quality"),
    ).withColumn(
        "qbucket",
        F.when(F.col("quality") >= _QMIX_HI, "high")
        .when(F.col("quality") >= _QMIX_MID, "mid")
        .otherwise("low"),
    )
    w = pipe_ops.mixture_weights(scored, _QMIX_SHARES, source_col="qbucket")
    sampled = pipe_ops.mixture_sample(scored, w, seed=SEED, source_col="qbucket")
    kept = sampled.groupBy("qbucket").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_tokens").alias("kept_tokens"),
    )
    return (
        w.join(kept, "qbucket", "left")
        .select(
            "qbucket",
            "n_docs",
            "n_tokens",
            "natural_share",
            "target_share",
            "keep_rate",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Baseline JPEG codec witness (r8 VERDICT item 6 — "decide JPEG":
# decided by IMPLEMENTING it; operators/multimodal.jpeg_encode /
# _jpeg_decode are a from-the-spec T.81 baseline codec, stdlib+NumPy)
# --------------------------------------------------------------------------

_MM_JPEG_W = 16
_MM_JPEG_H = 16
_MM_JPEG_PSNR_FLOOR = 26.0

_SQL_MM_JPEG = f"""
SELECT doc_id,
       {_MM_JPEG_W} AS width,
       {_MM_JPEG_H} AS height,
       CAST({_MM_JPEG_W * _MM_JPEG_H} AS BIGINT) AS n_pixels,
       TRUE AS decode_ok,
       TRUE AS psnr_ok
FROM documents
"""


@register("multimodal_jpeg_stats", oracle=_SQL_MM_JPEG)
def multimodal_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG codec path — the last compressed-codec slot, now REAL: the
    same md5-chained RGB pixel recipe as multimodal_ppm_stats /
    multimodal_png_stats (16x16 here: JPEG is block-transform coded,
    so the payload spans 2x2 MCUs per component), encoded through
    operators/multimodal.jpeg_encode (baseline sequential T.81, 4:4:4,
    Annex K quantization + Huffman tables, quality 90) and decoded
    back by _jpeg_decode (marker walk, stream-defined DHT/DQT, Huffman
    MCU decode, dequantize + float64 IDCT).

    JPEG is LOSSY by specification (quantization is the codec, not a
    bug), so unlike the PPM/PNG entries the decoded pixels cannot hash
    against the generator chain; the hashed output is the in-plan
    estimator-bound pattern (graph_ann_recall's discipline):
    * decode_ok — decoded dims/pixel-count match the payload's.
    * psnr_ok — PSNR(original, decoded) >= {_MM_JPEG_PSNR_FLOOR} dB; md5 pixels are
      uniform noise (the DCT's worst case), which lands ~29-31 dB at
      q90, so the floor holds with margin while any entropy-coding or
      dequantization bug (wrong table, run slip, DC-prediction error)
      craters it. Encode+decode run per row inside the Arrow batch —
      narrow mapInPandas, no shuffle, the 100 TB multimodal shape."""
    from nano_vectordb_spark.operators.multimodal import (
        _jpeg_decode,
        jpeg_encode,
    )

    # r13 (guide §2/§4): the codec pass is pure per-row Python compute
    # (~1.4 ms/doc), and a single-file source scans as ONE partition —
    # the whole entry ran single-threaded (measured 16-27 s warm at
    # sf0.1). _spread is a no-op when the source already spans the
    # cluster parallelism (the 100 TB case).
    docs = dedup_ops._spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    n_px = _MM_JPEG_W * _MM_JPEG_H

    def run(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = {
                "doc_id": [], "width": [], "height": [], "n_pixels": [],
                "decode_ok": [], "psnr_ok": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                body = b"".join(
                    bytes.fromhex(
                        hashlib.md5(f"{text}:px{i}".encode()).hexdigest()[:6]
                    )
                    for i in range(n_px)
                )
                px = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
                blob = jpeg_encode(_MM_JPEG_W, _MM_JPEG_H, px, quality=90)
                w, h, _maxval, out = _jpeg_decode(blob)
                err = (out.astype(np.int64) - px.astype(np.int64)).astype(
                    np.float64
                )
                mse = float((err * err).mean())
                psnr = (
                    10.0 * np.log10(255.0 * 255.0 / mse)
                    if mse > 0
                    else float("inf")
                )
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(len(out))
                rows["decode_ok"].append(
                    w == _MM_JPEG_W and h == _MM_JPEG_H and len(out) == n_px
                )
                rows["psnr_ok"].append(psnr >= _MM_JPEG_PSNR_FLOOR)
            yield pd.DataFrame(rows)

    schema = (
        "doc_id long, width int, height int, n_pixels long, "
        "decode_ok boolean, psnr_ok boolean"
    )
    return docs.mapInPandas(run, schema)
