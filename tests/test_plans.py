"""Plan-shape audits: assert Catalyst produced the physical plans the
100 TB design depends on (SURVEY.md §4). These tests pin:
  * global top-k -> TakeOrderedAndProject (partial top-k per partition,
    no full sort);
  * refine joins -> broadcast, never sort-merge;
  * parquet scans -> pushed filters + pruned read schema;
  * IVF persisted layout -> partition pruning on cluster_id;
  * two-phase top-k -> exactly one exchange (the tiny partial merge).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from nano_vectordb_spark.operators import ivf as ivf_ops
from nano_vectordb_spark.operators import refine as refine_ops
from nano_vectordb_spark.operators import sample as sample_ops
from nano_vectordb_spark.operators import topk as topk_ops
from nano_vectordb_spark.plans.inspect import count_exchanges, has_operator, physical_plan
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def base(spark):
    return spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries(spark, base):
    return sample_ops.sample_queries(base, 5, seed=42)


def test_single_topk_uses_take_ordered(spark, base):
    q = base.select("embedding").first()[0]
    df = topk_ops.topk(base, q, 10)
    assert has_operator(df, "TakeOrderedAndProject"), physical_plan(df, "simple")


def test_refine_joins_are_broadcast(spark, base, queries):
    cand = topk_ops.topk_multi(base, queries, 20, strategy="window").select(
        "query_id", "vec_id"
    )
    df = refine_ops.refine(base, queries, cand, 10)
    plan = physical_plan(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_parquet_scan_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
    )
    plan = physical_plan(df, "formatted")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan, plan
    # read schema pruned to exactly the projected columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0], plan


def test_ivf_layout_partition_pruning(spark, base, tmp_path):
    index = ivf_ops.ivf_build(base, nlist=8, seed=42)
    path = str(tmp_path / "ivf")
    ivf_ops.ivf_write(index, path)
    scan = spark.read.parquet(f"{path}/base").filter(F.col("cluster_id").isin(1, 3))
    plan = physical_plan(scan, "formatted")
    # the scan node carries the IN filter as a partition filter: only
    # the probed cluster directories are read
    assert "PartitionFilters: [cluster_id" in plan and "IN (1,3)" in plan, plan


def test_two_phase_topk_single_exchange(spark, base, queries):
    df = topk_ops.topk_multi(base, queries, 10, strategy="two_phase")
    # only the tiny partial-merge shuffle; the Q x N scoring never shuffles
    assert count_exchanges(df) <= 1, physical_plan(df, "simple")


def test_shipping_priority_plan_shape(spark):
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["shipping_priority"].fn(spark, SF_CORRECT)
    plan = physical_plan(df, "simple")
    assert "SortMergeJoin" not in plan, plan  # lineitem never shuffles to join
    assert "BroadcastHashJoin" in plan, plan
    assert has_operator(df, "TakeOrderedAndProject"), plan


def test_corpus_clean_no_cartesian(spark):
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["corpus_clean"].fn(spark, SF_CORRECT)
    plan = physical_plan(df, "simple")
    assert "CartesianProduct" not in plan, plan
    # final near-dup removal is a broadcast anti-join, not a shuffle
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_asof_join_single_exchange(spark):
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["events_asof_purchase"].fn(spark, SF_CORRECT)
    # union + window = exactly one hash shuffle on the key
    assert count_exchanges(df) == 1, physical_plan(df, "simple")


def test_q5_all_dimension_joins_broadcast(spark):
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["local_supplier_volume"].fn(spark, SF_CORRECT)
    plan = physical_plan(df, "simple")
    assert "SortMergeJoin" not in plan, plan  # lineitem joins all broadcast
    assert "BroadcastHashJoin" in plan, plan


def test_hypertable_rollup_single_scan(spark):
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["events_hypertable_rollup"].fn(spark, SF_CORRECT)
    plan = physical_plan(df, "simple")
    # all three grains come from ONE events scan (Expand), not re-reads
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan, plan


def test_corpus_shuffle_single_exchange(spark):
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["corpus_shuffle"].fn(spark, SF_CORRECT)
    # shard shuffle = exactly one hash exchange on the shard key; the
    # within-shard position is a window sort inside each partition (no
    # global single-reducer rank anywhere in the plan)
    assert count_exchanges(df) == 1, physical_plan(df, "simple")
    plan = physical_plan(df, "simple")
    assert "Exchange SinglePartition" not in plan, plan


def test_topk_filtered_pushes_predicate_to_scan(spark):
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["topk_filtered"].fn(spark, SF_CORRECT)
    plan = physical_plan(df, "formatted")
    # the metadata predicate must reach the parquet reader, and the
    # top-k must stay the per-partition-heap + merge shape
    assert "PushedFilters: [IsNotNull(label), EqualTo(label,1)]" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_returned_items_joins_broadcast(spark):
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["returned_items_report"].fn(spark, SF_CORRECT)
    plan = physical_plan(df, "simple")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_events_partitioned_scan_prunes_partitions(spark):
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["events_partitioned_scan"].fn(spark, SF_CORRECT)
    plan = physical_plan(df, "formatted")
    # the one-day filter must prune to a single event_date directory
    assert "PartitionFilters" in plan and "event_date" in plan, plan


def test_ivf_rescore_reuses_pruned_scan(spark, base, queries, tmp_path):
    """The exact-rescore pass must run against the SAME partition-pruned
    scan as the partial phase — a full-base rescore would re-read 100%
    of base bytes and forfeit the nprobe/nlist scan-skip at scale
    (round-2 VERDICT 'What's wrong' #1)."""
    index = ivf_ops.ivf_build(base, nlist=8, seed=42)
    path = str(tmp_path / "ivf_rescore")
    ivf_ops.ivf_write(index, path)
    disk = ivf_ops.ivf_read(spark, path, nlist=8)
    df = ivf_ops.ivf_search(disk, queries, 10, nprobe=2)
    plan = physical_plan(df, "formatted")
    pf_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters:" in ln
    ]
    base_pf = [ln for ln in pf_lines if "cluster_id" in ln]
    # both base scans (partial top-k AND rescore) carry the cluster_id
    # partition filter; no base scan reads the full layout
    assert len(base_pf) >= 2, plan
    assert all("cluster_id" in ln for ln in base_pf), plan
    empty = [ln for ln in pf_lines if "PartitionFilters: []" in ln and "cluster_id" not in ln]
    # only the (non-partitioned) centroids/queries scans may be unpruned
    assert len(pf_lines) - len(base_pf) == len(empty), plan


def test_binary_candidates_scan_only_signatures(spark, base, tmp_path):
    """Binary-quantized search stage 1 must rank the 8-byte signature
    table with a TakeOrderedAndProject (partial top-R per partition)
    and never read the f32 embedding column — the 32x scan-byte
    reduction IS the point of the codec."""
    from nano_vectordb_spark.operators import binaryq as binq

    path = str(tmp_path / "sig")
    binq.with_signature(base).select("vec_id", "sig_lo", "sig_hi").write.parquet(path)
    sig = spark.read.parquet(path)
    cand = binq.hamming_candidates(sig, 123, 456, r=50)
    plan = physical_plan(cand, "formatted")
    assert "TakeOrderedAndProject" in plan, plan
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "sig_lo" in read_schema and "embedding" not in read_schema, plan


def test_binary_rescore_join_is_broadcast(spark, base, tmp_path):
    from nano_vectordb_spark.operators import binaryq as binq

    path = str(tmp_path / "sig2")
    binq.with_signature(base).select("vec_id", "sig_lo", "sig_hi").write.parquet(path)
    sig = spark.read.parquet(path)
    qvec = base.select("embedding").first()[0]
    df = binq.topk_binary_rescore(sig, base, qvec, k=10, rescore_r=50)
    plan = physical_plan(df, "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sq8_search_is_single_scan_take_ordered(spark):
    """SQ8 scoring must stay one codegen pass over one parquet scan
    ending in TakeOrderedAndProject — no join, no second scan."""
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["sq8_search"].fn(spark, SF_CORRECT)
    plan = physical_plan(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_tfidf_never_goes_cartesian(spark):
    """TF-IDF's tf x df combine must be a keyed join on term — a
    nested-loop/cartesian plan would be quadratic in the vocabulary."""
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["tfidf_top_terms"].fn(spark, SF_CORRECT)
    plan = physical_plan(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_knn_self_join_partial_phase_single_exchange(spark, base):
    """The kNN self-join's candidate phase is the two-phase scan: the
    N x N score matrix must never shuffle — only Q x P x k partials."""
    from pyspark.sql import functions as FF

    q = base.select(FF.col("vec_id").alias("query_id"), "embedding")
    two = topk_ops.topk_multi(base, q, 4, strategy="two_phase")
    assert count_exchanges(two) <= 1, physical_plan(two, "simple")


def test_source_overlap_is_keyed_join(spark):
    """The cross-source shingle join must be an equi-join on the
    shingle hash (posting-list economics) — a nested-loop/cartesian
    plan would be quadratic in postings; and the per-source totals
    must broadcast into the final ratio join."""
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["source_overlap"].fn(spark, SF_CORRECT)
    plan = physical_plan(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_dedup_keep_longest_broadcasts_labels(spark):
    """The component label table (only docs appearing in some near-dup
    pair) must broadcast into the corpus join — a sort-merge join would
    shuffle the whole corpus for a label table thousands of times
    smaller."""
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["dedup_keep_longest"].fn(spark, SF_CORRECT)
    plan = physical_plan(df, "simple")
    assert "BroadcastHashJoin" in plan, plan


def test_embedding_dim_stats_partial_agg_no_generate_shuffle(spark):
    """posexplode must feed a hash aggregate with map-side partial
    combine: exactly one exchange (the D-key final agg), never a
    shuffle of the exploded N x D rows."""
    from nano_vectordb_spark import registry

    df = registry.REGISTRY["embedding_dim_stats"].fn(spark, SF_CORRECT)
    plan = physical_plan(df, "simple")
    assert count_exchanges(df) == 1, plan
    assert "HashAggregate" in plan, plan


# --------------------------------------------------------------------------
# Two-phase global rank: pin the PRESENCE of the good shape (r4 VERDICT
# item 7). tests/test_plan_guard.py proves the absence of unpartitioned
# data-sized windows repo-wide; these tests pin that the two_phase_rank
# consumers actually run their rank stage partitioned, so a refactor
# back to Window.orderBy() without partitionBy cannot land silently.
# --------------------------------------------------------------------------


def test_two_phase_rank_stage_is_multi_partition(spark):
    """The rank stage must range-partition the order key across >1
    partition (8 requested here): per-partition windows in parallel,
    offsets from a |partitions|-row prefix sum — never one task holding
    the whole relation."""
    from nano_vectordb_spark.operators import globalrank as grank

    df = spark.range(0, 10_000).withColumn("v", (F.col("id") * 37) % 1000)
    # AQE rightly coalesces an 8-way exchange of 10k rows into one
    # partition at this toy size; switch coalescing off so the assertion
    # sees the partitioning the plan REQUESTS (what survives at scale)
    old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        out = grank.two_phase_rank(
            df, [F.col("v").asc(), F.col("id").asc()], num_partitions=8
        )
        # the localCheckpoint pins the ranged RDD: its partition count IS
        # the rank stage's parallelism
        assert out.rdd.getNumPartitions() > 1
        plan = physical_plan(out, "simple")
        assert "__gr_pid" in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", old)


@pytest.mark.parametrize(
    "name", ["revenue_gini", "revenue_pareto", "customer_rfm_segments"]
)
def test_two_phase_rank_consumers_stay_partitioned(spark, name):
    """Every window in these entries' executed plans must carry a
    non-empty partitionSpec (the __gr_pid local-rank windows, or other
    keyed windows); the only permitted unpartitioned windows run over
    partition-count-sized totals, which the repo-wide guard
    (test_plan_guard.py) already bounds. Here we pin the positive: the
    rank windows reference __gr_pid."""
    from nano_vectordb_spark import registry

    df = registry.REGISTRY[name].fn(spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(__gr_pid" in plan, (
        f"{name}: expected the two-phase local-rank window partitioned "
        f"by __gr_pid; got:\n{plan[:2000]}"
    )


def test_lsh_neardup_single_exchange_map_only_after(spark):
    """The r10 LSH shape's load-bearing property: ONE exchange total
    (the banded table, hash-partitioned on (band_id, band_key)) and a
    map-only plan after it — no self-join, no distinct, nothing that
    scales with the ~sum C(occ,2) candidate volume. A second exchange
    appearing here means the exactly-once bucket verify regressed."""
    from nano_vectordb_spark.operators import dedup as dedup_ops

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    df = dedup_ops.embedding_neardup_lsh(emb, 0.4)
    n_ex = count_exchanges(df)
    assert n_ex == 1, physical_plan(df, "simple")
    plan = physical_plan(df, "simple")
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan
    assert "HashAggregate" not in plan, plan  # the old dropDuplicates


def test_minhash_lsh_candidates_single_exchange_map_only_after(spark):
    """r11 (r10 VERDICT item 1): the corpus-scale stage of
    minhash_lsh_pairs — exactly-once candidate generation — is ONE
    hash exchange (the skinny banded table) and map-only after it: the
    occupancy filter's window must reuse the exchange's partitioning
    (a second exchange appearing here means it stopped aligning) and
    the kernel needs no join, no distinct, no aggregate. The r9-shape
    plan had a banded self-join + candidate distinct + two shingle
    join-backs here — exchanges scaling with the x bands-duplicated
    candidate stream."""
    from nano_vectordb_spark.operators import dedup as dedup_ops

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    base = dedup_ops._shingles_and_sig(docs, 16, 3, "text", "doc_id")
    cand = dedup_ops.minhash_lsh_candidates(base, 4, 4)
    n_ex = count_exchanges(cand)
    assert n_ex == 1, physical_plan(cand, "simple")
    plan = physical_plan(cand, "simple")
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan
    assert "HashAggregate" not in plan, plan  # the old candidate distinct


def test_minhash_lsh_pairs_verify_never_reshuffles_the_corpus(spark):
    """The verify half of minhash_lsh_pairs moves candidate-scale data
    only: the shingle table is pruned to candidate docs by a BROADCAST
    semi join (scan-local on the corpus side — no corpus-wide shuffle
    for verification; the string payload was measured to kill the
    banded exchange when carried through it at 1M docs)."""
    from nano_vectordb_spark.operators import dedup as dedup_ops

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    df = dedup_ops.minhash_lsh_pairs(docs, 0.2)
    plan = physical_plan(df, "simple")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_simhash64_single_exchange_map_only_after(spark):
    """r11 (r10 VERDICT item 2): simhash64_pairs via the shared banded
    kernel — one hash exchange (the nibble-banded signature table),
    bucket-local Hamming verify, first-shared-band emission, no
    candidate distinct. Since r12 the signature table BELOW the
    persist boundary is the JVM aggregate plan (simhash64_agg — it
    owns one agg exchange of its own, printed inside the
    InMemoryRelation subtree), so the pair-generation pin applies to
    the plan ABOVE the cached signature table."""
    from nano_vectordb_spark.operators import dedup as dedup_ops

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    df = dedup_ops.simhash64_pairs(docs, 3)
    plan = physical_plan(df, "simple")
    pair_stage = plan.split("InMemoryRelation")[0]
    n_ex = pair_stage.count("Exchange hashpartitioning") + pair_stage.count(
        "Exchange rangepartitioning"
    )
    assert n_ex == 1, plan
    assert (
        "SortMergeJoin" not in pair_stage
        and "BroadcastHashJoin" not in pair_stage
    ), plan
    assert "HashAggregate" not in pair_stage, plan


def test_minhash_join_candidates_skinny_exchange_and_distinct(spark):
    """r12 dispatch, light-density path: the candidate stage is a
    band-key self-join + distinct over the SKINNY string-banded table
    — every exchange in the candidate plan partitions on
    (band_id, band_sig) or the distinct's (a_id, b_id); the kernel's
    sig-carrying band_key exchange never appears. (AQE does not
    stage-reuse the aliased self-join sides — the r11 5M head-to-head
    was measured with both skinny shuffles paid, so the dispatch
    thresholds price that shape.)"""
    from nano_vectordb_spark.operators import dedup as dedup_ops

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    base = dedup_ops._shingles_and_sig(docs, 16, 3, "text", "doc_id").persist()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cand = dedup_ops.minhash_lsh_candidates_join(base, 4, 4)
        pre = physical_plan(cand, "simple")
        assert "HashAggregate" in pre, pre  # the distinct
        assert "band_key" not in pre, pre  # never the kernel exchange
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", pre):
            keys = m.group(1)
            assert ("band_sig" in keys) or ("a_id" in keys), pre
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        base.unpersist()


def test_minhash_dispatch_light_vs_heavy(spark):
    """plan='auto' must pick the join form on a provably light corpus
    (the fixtures: ~0.2-0.45 candidates/doc) and the kernel on a
    candidate-heavy one (everything colliding in every band)."""
    from nano_vectordb_spark.operators import dedup as dedup_ops

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    light = dedup_ops.minhash_lsh_pairs(docs, 0.2, plan="auto")
    lplan = physical_plan(light, "simple")
    # join path: string band_sig keys, never the kernel's hashed
    # band_key exchange
    assert "band_sig" in lplan and "band_key" not in lplan, lplan

    row = docs.select("text").first()
    heavy_docs = spark.createDataFrame(
        [(i, row.text) for i in range(64)], "doc_id long, text string"
    )
    est, n = dedup_ops._banded_candidate_estimate(
        dedup_ops._shingles_and_sig(heavy_docs, 16, 3, "text", "doc_id"), 4, 4
    )
    assert est > dedup_ops.LIGHT_CANDIDATES_PER_DOC * n  # C(64,2)*4 vs 64
    heavy = dedup_ops.minhash_lsh_pairs(heavy_docs, 0.2, plan="auto")
    hplan = physical_plan(heavy, "simple")
    assert "band_key" in hplan, hplan  # kernel path engaged
