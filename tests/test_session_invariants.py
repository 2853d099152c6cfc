"""Mathematical invariants for the continuation-session operators —
properties the oracle hash can't express directly (it proves equality,
not sanity of the definition itself)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from nano_vectordb_spark import registry, session
from tests.conftest import SF_SMOKE


def _run(spark, name):
    return registry.REGISTRY[name].fn(spark, SF_SMOKE)


def test_pagerank_mass_conserved(spark):
    """Damped PageRank without dangling nodes preserves total mass:
    sum of ranks == 1 (to rounding)."""
    rows = _run(spark, "knn_pagerank").collect()
    total = sum(r["pagerank"] for r in rows)
    assert abs(total - 1.0) < 1e-3, total
    assert all(r["pagerank"] > 0 for r in rows)


def test_twa_within_value_bounds(spark):
    """A time-weighted average is a convex combination of readings:
    it must lie within the user's [min, max] value range."""
    from nano_vectordb_spark.sources.tables import load_table

    twa = {r["user_id"]: r["twa_value"] for r in _run(spark, "user_value_twa").collect()}
    bounds = {
        r["user_id"]: (r["mn"], r["mx"])
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
        .collect()
    }
    for uid, v in twa.items():
        if v is None:
            continue
        mn, mx = bounds[uid]
        assert mn - 1e-6 <= v <= mx + 1e-6, (uid, v, mn, mx)


def test_entropy_bounds(spark):
    """0 <= H <= log2(n_langs), and effective_langs <= n_langs."""
    for r in _run(spark, "corpus_diversity_entropy").collect():
        assert -1e-9 <= r["entropy_bits"] <= math.log2(max(2, r["n_langs"])) + 1e-6
        assert r["effective_langs"] <= r["n_langs"] + 1e-6


def test_pareto_sane(spark):
    r = _run(spark, "revenue_pareto").collect()[0]
    assert 1 <= r["n_for_80pct"] <= r["n_customers"]
    assert 0.0 < r["share_for_80pct"] <= 1.0
    assert 0.0 < r["top1_share"] <= 1.0


def test_ks_cdfs_monotone_and_end_at_one(spark):
    rows = sorted(_run(spark, "value_drift_ks").collect(), key=lambda r: r["bin"])
    prev_a = prev_b = 0.0
    for r in rows:
        assert r["cdf_a"] >= prev_a - 1e-9 and r["cdf_b"] >= prev_b - 1e-9
        prev_a, prev_b = r["cdf_a"], r["cdf_b"]
    assert abs(rows[-1]["cdf_a"] - 1.0) < 1e-6
    assert abs(rows[-1]["cdf_b"] - 1.0) < 1e-6


def test_weighted_sample_keys_in_unit_interval(spark):
    rows = _run(spark, "weighted_sample_docs").collect()
    assert len(rows) == 20
    for r in rows:
        assert 0.0 < r["sample_key"] <= 1.0
        assert 0.0 < r["w"] <= 1.0


def test_lsh_operating_point_consistency(spark):
    """Candidate recall/precision must be consistent with the verified
    pair count the production entry emits."""
    op = _run(spark, "lsh_operating_point").collect()[0]
    assert op["n_cand_true"] <= op["n_candidates"]
    assert op["n_cand_true"] <= op["n_true"]


def test_cluster_topics_shape(spark):
    rows = _run(spark, "cluster_topics").collect()
    clusters = {r["cluster_id"] for r in rows}
    assert len(clusters) >= 2  # kmeans produced a non-degenerate split
    for c in clusters:
        ranks = sorted(r["term_rank"] for r in rows if r["cluster_id"] == c)
        assert ranks == list(range(1, len(ranks) + 1))
    assert sum({r["cluster_id"]: r["n_docs"] for r in rows}.values()) > 0


def test_release_caches_drains_and_recovers(spark):
    """registry.release_caches() frees every tracked persist and the
    registry transparently re-materializes afterwards (round-3 ADVICE
    hygiene follow-through: no cache the session cannot drain)."""
    from nano_vectordb_spark import registry
    from tests.conftest import SF_SMOKE

    # populate: quantized-base memo + dedup persists
    registry.REGISTRY["topk_i8"].fn(spark, SF_SMOKE).count()
    registry.REGISTRY["minhash_lsh_pairs"].fn(spark, SF_SMOKE).count()
    released = registry.release_caches()
    assert released > 0
    assert not session._MEMO and not session._TRACKED
    # everything rebuilds on demand
    assert registry.REGISTRY["topk_i8"].fn(spark, SF_SMOKE).count() > 0


def test_release_caches_leaves_nothing_cached(spark):
    """Every frame an entry persists is tracked by the session store, so
    release_caches() leaves the session's CacheManager empty — not only
    the frames a walk over memo values happens to reach."""
    spark.catalog.clearCache()
    for name in ("topk_i8", "ivf_search", "minhash_lsh_pairs", "source_overlap"):
        assert _run(spark, name).count() > 0
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert not cache_manager.isEmpty()
    registry.release_caches()
    assert cache_manager.isEmpty()
    assert not session._MEMO and not session._TRACKED
    assert _run(spark, "source_overlap").count() > 0


def test_session_restart_does_not_serve_stale_caches():
    """Round-5 find: every registry memo must key on applicationId.
    A fourth-config sweep that built a SECOND session in one process
    hit 26 entries whose cached IVF/PQ/dedup DataFrames belonged to the
    stopped first session ('NoneType' has no attribute 'broadcast'/
    'sc'). Reproduce in a subprocess: run the formerly-failing entries
    in session A, stop it, run them again in session B — both must
    succeed."""
    import subprocess
    import sys

    script = r"""
import os, sys
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
from nano_vectordb_spark import registry

def run_once(tag):
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.sql.legacy.parquet.nanosAsLong", "true")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"
    for name in ("ivf_search", "minhash_lsh_pairs", "topk_i8"):
        n = registry.REGISTRY[name].fn(spark, sf).count()
        assert n >= 0, (tag, name)
    spark.stop()

run_once("A")
run_once("B")
print("RESTART_OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "RESTART_OK" in out.stdout, out.stderr[-2000:]
