"""Round-10 capability wave: query-adaptive re-probe for sharded graph
ANN (r9 VERDICT item 2 — the FAISS/SPANN query-expansion mechanic with
a provable termination identity) and the MPEG-1 Layer III frame-header
walk (item 7 — the structural codec entry that closes the declared-stub
surface at the container level, paralleling the JPEG marker walk).

Sequential part of the registry — see registry.py (facade).
"""
from __future__ import annotations

from nano_vectordb_spark.registry_parts.p00_base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    load_table,
    memo,
    register,
)
from nano_vectordb_spark.registry_parts.p13_analytics_graph import (
    _graph_eval_set,
    _shard_graph_index,
)


# --------------------------------------------------------------------------
# Adaptive re-probe (r9 VERDICT item 2)
# --------------------------------------------------------------------------

_SQL_GRAPH_ANN_ADAPTIVE = """
SELECT * FROM (VALUES
  (1, 100, TRUE, TRUE, TRUE, TRUE),
  (2, 100, TRUE, TRUE, TRUE, TRUE)
) AS t(nprobe_init, n_queries, exact_ok, not_below_static, expanded_some,
       probes_bounded)
ORDER BY nprobe_init
"""


@memo
def _shard_list_radii(spark: SparkSession, sf_dir: str):
    from nano_vectordb_spark.operators.ivf import ivf_list_radii

    return ivf_list_radii(_shard_graph_index(spark, sf_dir)[0])


@register("graph_ann_adaptive_probe", oracle=_SQL_GRAPH_ANN_ADAPTIVE)
def graph_ann_adaptive_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-adaptive re-probe over the sharded graph index
    (operators/graphann.shard_graph_search_adaptive): probe nprobe_init
    lists, then expand exactly the queries whose triangle-inequality
    bound — per-list covering radii (operators/ivf.ivf_list_radii) vs
    the query's current exact k-th distance — says an unprobed list
    could still improve the result.

    Hashed output is IN-PLAN booleans, deterministic by construction
    (driver-side float64 bound math; exhaustive per-shard beams where
    the identity below requires them):

    * exact_ok — with ef/coarse/n_entry covering the largest list and
      nprobe_max = nlist, the adaptive result EQUALS the exact flat
      top-k from ANY nprobe_init: expansion stops only when every
      unprobed list is provably outside the k-th distance, and a list
      rejected against a round's k-th stays rejected as later rounds
      shrink it (pinned in tests/test_graphann.py too).
    * not_below_static — under a BINDING budget (ef=64,
      nprobe_max = nprobe_init + 2) recall never falls below the
      static search at the same nprobe_init/ef: candidates are a
      superset and the exact (dist, vec_id) re-rank can only improve.
    * expanded_some / probes_bounded — the bound actually engaged
      (>= 1 query expanded) and every query stayed within nprobe_max:
      adaptivity, not a blanket full probe.
    """
    from nano_vectordb_spark.operators import graphann
    from nano_vectordb_spark.operators.gt import recall_at_k

    # everything below is a pure function of the frozen index/fixture
    # (this entry runs SIX beam searches + two rescue
    # rounds per invocation, and rebuilding the beam state's
    # symmetrize/adjacency exchanges, the covering radii and the exact
    # GT per invocation was most of its 36 s warm wall at sf0.1): the
    # per-shard beam state, the per-list radii, the seeded query sample
    # and its exact GT are built once and memoized with the index.
    _, queries, gt = _graph_eval_set(spark, sf_dir)
    idx, g, state, maxlist = _shard_graph_index(spark, sf_dir)
    radii = _shard_list_radii(spark, sf_dir)

    def pred_ids(pred):
        return pred.groupBy("query_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "vec_id"))),
                lambda s: s["vec_id"],
            ).alias("pred_ids")
        )

    def recall(pred):
        r = recall_at_k(gt, pred_ids(pred), 10).first()
        return float(r["recall_at_k"]), int(r["n_queries"])

    # r13 (guide §2.6 — overlap independent jobs): the six evaluations
    # below (exact-identity, static-recall, budget-recall at each
    # np_init) are mutually independent multi-action computations over
    # frozen inputs; running them from a thread pool back-fills the
    # executors during each other's fixed per-job machinery, so the
    # entry's wall is the slowest chain, not the sum. Results are
    # bit-identical — each task's plan and collects are unchanged.
    from concurrent.futures import ThreadPoolExecutor

    def eval_exact(np_init: int):
        exact_pred, st = graphann.shard_graph_search_adaptive(
            idx, g, queries, k=10, ef=maxlist, nprobe=np_init,
            nprobe_max=idx.nlist, n_entry=maxlist, coarse=maxlist,
            return_stats=True, state=state, radii=radii,
        )
        exact_diff = (
            gt.join(pred_ids(exact_pred), "query_id")
            .filter(F.col("gt_ids") != F.col("pred_ids"))
            .count()
        )
        return exact_diff, st

    def eval_static(np_init: int):
        return recall(
            graphann.shard_graph_search(
                idx, g, queries, k=10, ef=64, nprobe=np_init, state=state
            )
        )

    def eval_budget(np_init: int):
        budget = min(np_init + 2, idx.nlist)
        return recall(
            graphann.shard_graph_search_adaptive(
                idx, g, queries, k=10, ef=64, nprobe=np_init,
                nprobe_max=budget, state=state, radii=radii,
            )
        )

    with ThreadPoolExecutor(max_workers=6) as pool:
        futs = {
            (np_init, fn.__name__): pool.submit(fn, np_init)
            for np_init in (1, 2)
            for fn in (eval_exact, eval_static, eval_budget)
        }
    rows = []
    for np_init in (1, 2):
        exact_diff, st = futs[(np_init, "eval_exact")].result()
        r_static, nq = futs[(np_init, "eval_static")].result()
        r_adapt, _ = futs[(np_init, "eval_budget")].result()
        rows.append(
            (
                np_init,
                nq,
                bool(exact_diff == 0),
                bool(r_adapt >= r_static - 1e-12),
                bool(st["expanded_queries"] >= 1),
                bool(
                    all(
                        np_init <= v <= idx.nlist
                        for v in st["probes_used"].values()
                    )
                ),
            )
        )
    return spark.createDataFrame(
        rows,
        "nprobe_init int, n_queries int, exact_ok boolean, "
        "not_below_static boolean, expanded_some boolean, "
        "probes_bounded boolean",
    ).orderBy("nprobe_init")


# --------------------------------------------------------------------------
# MPEG-1 Layer III frame-header walk (r9 VERDICT item 7)
# --------------------------------------------------------------------------

_SQL_MM_MP3 = """
WITH br(idx, kbps) AS (VALUES
  (1,32),(2,40),(3,48),(4,56),(5,64),(6,80),(7,96),(8,112),(9,128),
  (10,160),(11,192),(12,224),(13,256),(14,320)),
f AS (
  SELECT d.doc_id, t.f,
         CAST((d.doc_id + t.f * (d.doc_id % 2)) % 14 + 1 AS INT) AS bi,
         CAST(t.f % 2 AS BIGINT) AS pad
  FROM documents d,
       LATERAL (SELECT UNNEST(range(0, 3 + (d.doc_id % 5)))) AS t(f)
),
g AS (
  SELECT f.doc_id, b.kbps, (144 * b.kbps * 1000) // 44100 + f.pad AS flen
  FROM f JOIN br b ON b.idx = f.bi
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(44100 AS BIGINT) AS sample_rate,
       CAST(min(kbps) AS BIGINT) AS bitrate_min,
       CAST(max(kbps) AS BIGINT) AS bitrate_max,
       CAST(sum(kbps) AS BIGINT) AS bitrate_sum,
       min(kbps) = max(kbps) AS is_cbr,
       round(count(*) * 1152 * 1000.0 / 44100, 3) AS duration_ms,
       CAST(doc_id % 64 AS BIGINT) AS id3_bytes,
       CAST(sum(flen) AS BIGINT)
         + CASE WHEN doc_id % 64 > 0 THEN 10 + doc_id % 64 ELSE 0 END
         AS total_bytes
FROM g GROUP BY doc_id
"""


@register("multimodal_mp3_stats", oracle=_SQL_MM_MP3)
def multimodal_mp3_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-1 Layer III container-structure walk — the final
    compressed-codec slot, closed at the STRUCTURE level the reference
    itself operates at (media as opaque byte streams): per doc a
    deterministic frame stream is synthesized (ID3v2 tag of doc_id%64
    bytes; 3 + doc_id%5 frames; per-frame bitrate index
    (doc_id + f*(doc_id%2)) % 14 + 1, so even doc_ids are CBR and odd
    are VBR; padding bit f%2) through
    operators/multimodal.mp3_encode_frames and re-parsed by mp3_parse
    — a real sync-walk over the public ISO/IEC 11172-3 header layout
    (bitrate/sample-rate tables, padding-aware frame-length hop,
    syncsafe ID3v2 skip), no generator echo. The oracle recomputes
    every stat from the same arithmetic in SQL, so a mis-sized frame
    hop, a bad table, or a mis-skipped tag flips a hashed value.
    Encode+parse run per row inside the Arrow batch — narrow
    mapInPandas, no shuffle, the 100 TB multimodal shape."""
    from nano_vectordb_spark.operators.multimodal import (
        mp3_encode_frames,
        mp3_parse,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = {
                "doc_id": [], "n_frames": [], "sample_rate": [],
                "bitrate_min": [], "bitrate_max": [], "bitrate_sum": [],
                "is_cbr": [], "duration_ms": [], "id3_bytes": [],
                "total_bytes": [],
            }
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n_frames = 3 + doc_id % 5
                stride = doc_id % 2
                indices = [
                    (doc_id + f * stride) % 14 + 1 for f in range(n_frames)
                ]
                blob = mp3_encode_frames(indices, id3_bytes=doc_id % 64)
                st = mp3_parse(blob)
                rows["doc_id"].append(doc_id)
                for k in (
                    "n_frames", "sample_rate", "bitrate_min", "bitrate_max",
                    "bitrate_sum", "is_cbr", "duration_ms", "id3_bytes",
                    "total_bytes",
                ):
                    rows[k].append(st[k])
            yield pd.DataFrame(rows)

    schema = (
        "doc_id long, n_frames long, sample_rate long, bitrate_min long, "
        "bitrate_max long, bitrate_sum long, is_cbr boolean, "
        "duration_ms double, id3_bytes long, total_bytes long"
    )
    return docs.mapInPandas(run, schema)
