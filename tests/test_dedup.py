"""Dedup family invariants beyond oracle parity."""

from __future__ import annotations

from nano_vectordb_spark.operators import dedup
from tests.conftest import SF_CORRECT


def _docs(spark):
    return spark.read.parquet(f"{SF_CORRECT}/documents.parquet")


def test_lsh_pairs_subset_of_exhaustive(spark):
    docs = _docs(spark)
    lsh = {
        (r.a_id, r.b_id) for r in dedup.minhash_lsh_pairs(docs, 0.2).collect()
    }
    full = {
        (r.a_id, r.b_id) for r in dedup.ngram_jaccard_pairs(docs, 0.2).collect()
    }
    assert lsh <= full
    # at jaccard >= 0.2 with 16 perms / 4 bands, planted near-dups are
    # highly likely to collide in a band: expect substantial recall
    assert len(full) > 0
    assert len(lsh) >= len(full) * 0.5, (len(lsh), len(full))


def test_exact_dedup_on_planted_duplicates(spark):
    docs = _docs(spark).limit(10)
    dup = docs.unionAll(docs.selectExpr("doc_id + 1000 AS doc_id", "text", "lang", "source", "n_chars"))
    res = dedup.exact_dedup(dup)
    rows = res.collect()
    assert len(rows) == 10
    assert all(r.n_copies == 2 for r in rows)
    assert all(r.keep_doc_id < 1000 for r in rows)


def test_embedding_lsh_subset_of_exact(spark):
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    lsh = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.embedding_neardup_lsh(emb, 0.4).collect()
    }
    exact = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.embedding_neardup_pairs(emb, 0.4).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]  # verification stage is exact
    # deterministic across runs (seeded hyperplanes)
    again = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.embedding_neardup_lsh(emb, 0.4).collect()
    }
    assert again == lsh


def test_lsh_bucket_verify_survives_arrow_batch_splits(spark):
    """The r10 bucket-verify stage (dedup._bucket_verify_gen) streams
    sorted bucket runs through mapInPandas; an Arrow batch boundary can
    cut a run anywhere, and the trailing-run carry must reassemble it.
    Force pathologically small batches (7 rows — smaller than most
    buckets) and require the output to be IDENTICAL, pair-for-pair and
    value-for-value, to the default-batch run."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    want = {
        (r.a_id, r.b_id): r.cos_sim
        for r in dedup.embedding_neardup_lsh(emb, 0.4).collect()
    }
    assert want  # fixture must actually exercise the verify
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "7")
        got = {
            (r.a_id, r.b_id): r.cos_sim
            for r in dedup.embedding_neardup_lsh(emb, 0.4).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert got == want


def test_minhash_bucket_verify_survives_arrow_batch_splits(spark):
    """The r11 minhash port of the bucket-verify kernel must reassemble
    runs across Arrow batch boundaries exactly like the embedding one
    (same shared kit, but payload extraction differs) — 7-row batches
    vs default must be pair- and value-identical."""
    docs = _docs(spark)
    want = {
        (r.a_id, r.b_id): r.jaccard
        for r in dedup.minhash_lsh_pairs(docs, 0.2).collect()
    }
    assert want
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "7")
        got = {
            (r.a_id, r.b_id): r.jaccard
            for r in dedup.minhash_lsh_pairs(docs, 0.2).collect()
        }
        got64 = {
            (r.a_id, r.b_id): r.hamming
            for r in dedup.simhash64_pairs(docs, 3).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert got == want
    want64 = {
        (r.a_id, r.b_id): r.hamming
        for r in dedup.simhash64_pairs(docs, 3).collect()
    }
    assert want64 and got64 == want64


def test_spread_for_shingles_widens_by_amplified_bytes(spark, monkeypatch):
    """The 5M-doc OOM's guard: partitions for the shingle+signature
    pass are sized by the AMPLIFIED payload estimate, and the width
    check compares against the plan's actual partition count (file
    listings are defeated by small-file packing — the measured
    failure's exact shape). Shrink the per-partition target so a small
    fixture exercises the widening path."""
    monkeypatch.setattr(dedup, "_SHINGLE_PARTITION_BYTES", 1 << 10)
    docs = _docs(spark).limit(200)
    est_rows = 200
    spread = dedup._spread_for_shingles(docs, "text")
    n = spread.rdd.getNumPartitions()
    # ~200 docs x a few hundred chars x 3 amplification >> 1 KiB/part
    assert n > spark.sparkContext.defaultParallelism, n
    # and the output is row-identical to the input
    assert spread.count() == est_rows
    # wide-enough inputs pass through untouched: with the real 32 MiB
    # target the same 200 docs stay at the parallelism floor
    monkeypatch.setattr(dedup, "_SHINGLE_PARTITION_BYTES", 32 << 20)
    spread2 = dedup._spread_for_shingles(docs.repartition(64), "text")
    assert spread2.rdd.getNumPartitions() == 64


def test_minhash_mega_bucket_exactly_once(spark, monkeypatch):
    """Degenerate corpus: N identical documents form one mega-bucket in
    EVERY band. The chunked pair loop must bound memory, the
    first-shared-band rule must emit each pair exactly once (band 0
    only — any duplicate emission doubles the count), and jaccard must
    be exactly 1.0."""
    monkeypatch.setattr(dedup, "_VERIFY_CHUNK_PAIRS", 500)
    n = 150
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )
    rows = dedup.minhash_lsh_pairs(df, 0.9).collect()
    assert len(rows) == n * (n - 1) // 2
    assert all(r.jaccard == 1.0 for r in rows)
    ham = dedup.simhash64_pairs(df, 3).collect()
    assert len(ham) == n * (n - 1) // 2
    assert all(r.hamming == 0 for r in ham)


def test_lsh_bucket_verify_mega_bucket_chunking(spark, monkeypatch):
    """Degenerate data (many identical vectors -> one mega-bucket) must
    flow through the chunked pair generation and emit the full
    quadratic true-pair set — bounded memory, correct output. The
    chunk cap is shrunk so the anchor-block loop actually iterates."""
    import numpy as np

    monkeypatch.setattr(dedup, "_VERIFY_CHUNK_PAIRS", 500)
    n, dim = 300, 8
    v = [float(x) for x in (np.arange(dim) + 1) / np.linalg.norm(np.arange(dim) + 1)]
    df = spark.createDataFrame(
        [(i, v) for i in range(n)], "vec_id long, embedding array<float>"
    )
    out = dedup.embedding_neardup_lsh(
        df, 0.9, n_planes=16, bands=4, n_rows=n
    )
    assert out.count() == n * (n - 1) // 2


def test_lsh_sign_bits_matches_fold_spec_bitwise(spark):
    # the r9 vectorized signature pass (lsh_sign_bits via pandas UDF)
    # must reproduce the Catalyst sequential-fold spec bit-for-bit on
    # real fixture vectors — this is the hash-parity guarantee that
    # lets the official embedding_neardup_lsh rows stay byte-identical
    import numpy as np
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    n_planes = 16
    planes = np.random.default_rng(42).normal(size=(n_planes, dim))
    fold = emb.select(
        "vec_id",
        F.array(
            *[dedup.lsh_fold_bit_expr("embedding", planes[i].tolist())
              for i in range(n_planes)]
        ).alias("bits"),
    )
    fast = emb.select(
        "vec_id", dedup._lsh_bits_udf(planes)(F.col("embedding")).alias("bits")
    )
    a = {r.vec_id: r.bits for r in fold.collect()}
    b = {r.vec_id: r.bits for r in fast.collect()}
    assert a == b


def test_lsh_sign_bits_ambiguous_fallback_matches_fold():
    # adversarial cancellation: exact dot = 1e-17 > 0, but the
    # sequential fold rounds (1 + 1e-17) -> 1.0 so fold = 0.0 -> bit 0.
    # A naive matmul could land either side of zero; the bound must
    # route this through the literal-fold fallback and return 0.
    import numpy as np

    X = np.array([[1.0, 1e-17, -1.0]])
    planes = np.array([[1.0, 1.0, 1.0]])
    assert dedup.lsh_sign_bits(X, planes)[0, 0] == 0
    # control: a representable residual keeps the bit set on both paths
    X2 = np.array([[1.0, 1e-12, -1.0]])
    assert dedup.lsh_sign_bits(X2, planes)[0, 0] == 1
    # plain unambiguous signs
    X3 = np.array([[1.0, 2.0, 3.0], [-1.0, -2.0, -3.0]])
    assert dedup.lsh_sign_bits(X3, planes).tolist() == [[1], [0]]


def test_lsh_mixed_explicit_auto_params_rejected(spark):
    import pytest

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    with pytest.raises(ValueError, match="together or neither"):
        dedup.embedding_neardup_lsh(emb, 0.4, n_planes=16)
    with pytest.raises(ValueError, match="together or neither"):
        dedup.embedding_neardup_lsh(emb, 0.4, bands=4)


def test_lsh_auto_params_scaling():
    # gate fixtures (N <= ~512) land exactly on the historical (16, 4)
    # operating point, so official sf0.01 rows are unchanged
    assert dedup.lsh_auto_params(200) == (16, 4)
    assert dedup.lsh_auto_params(512) == (16, 4)
    # signature width grows with log2(N): bucket occupancy per band is
    # ~N / 2^rpb and must stay bounded (the r8 sf10 cliff). The clamp
    # moved 16 -> 20 in r10 (the 16 clamp saturated at N=2^21 and let
    # occupancy grow linearly past 2M rows); everything at or below
    # 2^21 is identical under either clamp, pinned here so official
    # rows and the 2M-fixture record stay byte-stable.
    assert dedup.lsh_auto_params(2_000_000) == (160, 10)
    assert dedup.lsh_auto_params(1 << 21) == (160, 10)
    assert dedup.lsh_auto_params((1 << 21) + 1) == (170, 10)
    assert dedup.lsh_auto_params(4_000_000) == (170, 10)
    for n in (2_000, 20_000, 200_000, 2_000_000, 32_000_000, 10**9):
        n_planes, bands = dedup.lsh_auto_params(n)
        rpb = n_planes // bands
        assert n_planes == rpb * bands
        occupancy = n / 2**rpb
        assert occupancy <= 64 or rpb == 20  # clamped tail
        assert 4 <= bands <= 10
    # monotone: more rows never narrows the signature
    widths = [dedup.lsh_auto_params(n)[0] // dedup.lsh_auto_params(n)[1]
              for n in (100, 10_000, 10**6, 10**8)]
    assert widths == sorted(widths)


def test_simhash_near_for_near_texts(spark):
    # simhash of a doc and a lightly perturbed copy should be within
    # the hamming threshold, while random doc pairs typically are not
    docs = _docs(spark).limit(1)
    row = docs.first()
    perturbed = row.text + " extra token"
    df = spark.createDataFrame(
        [(0, row.text, "en", "s", len(row.text)), (1, perturbed, "en", "s", len(perturbed))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    pairs = dedup.simhash_pairs(df, 6).collect()
    assert [(p.a_id, p.b_id) for p in pairs] == [(0, 1)]


def test_corpus_clean_stage_monotone(spark):
    from pyspark.sql import functions as F

    from nano_vectordb_spark import registry
    from tests.conftest import SF_CORRECT

    docs = _docs(spark)
    clean = registry.REGISTRY["corpus_clean"].fn(spark, SF_CORRECT)
    rows = clean.collect()
    n_docs = docs.count()
    assert 0 < len(rows) < n_docs  # every stage removes something
    assert all(r.quality >= 0.75 for r in rows)
    # survivors are unique by content: no two share an md5
    ids = [r.doc_id for r in rows]
    kept = docs.filter(F.col("doc_id").isin(ids))
    assert kept.select(F.md5("text")).distinct().count() == len(ids)


def test_simhash64_near_for_near_texts(spark):
    docs = _docs(spark).limit(1)
    row = docs.first()
    perturbed = row.text + " extra token"
    df = spark.createDataFrame(
        [(0, row.text, "en", "s", len(row.text)), (1, perturbed, "en", "s", len(perturbed))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    pairs = dedup.simhash64_pairs(df, 12).collect()
    assert [(p.a_id, p.b_id) for p in pairs] == [(0, 1)]
    # the two halves are independent hashes: a doc is hamming-0 to itself
    sh = dedup.simhash64(df).filter("doc_id = 0").first()
    assert sh.sim_hi != sh.sim_lo  # distinct rehash constants actually used


def test_connected_components_chain_and_cliques(spark):
    """A long chain forces multiple propagation rounds (pointer
    jumping); disjoint cliques and singleton-free coverage come along.
    Expected components from a brute-force union-find."""
    from nano_vectordb_spark.operators.components import (
        connected_components,
        dedup_groups,
    )

    edges = (
        # chain 0-1-2-...-9 (diameter 9: exercises the log-round jump)
        [(i, i + 1) for i in range(9)]
        # separate triangle {20,21,22}
        + [(20, 21), (21, 22), (20, 22)]
        # pair {30, 31}
        + [(31, 30)]
    )
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got = {
        (r.id, r.component)
        for r in connected_components(df).collect()
    }
    want = {(i, 0) for i in range(10)}
    want |= {(i, 20) for i in (20, 21, 22)}
    want |= {(30, 30), (31, 30)}
    assert got == want

    groups = {r.id: r for r in dedup_groups(df).collect()}
    assert groups[5].group_size == 10 and not groups[5].keep
    assert groups[0].keep and groups[20].keep and groups[30].keep
    assert not groups[31].keep and groups[31].group_size == 2


def test_incremental_consistent_with_full_pairs(spark):
    """dedup_incremental must equal the cross (batch x corpus) slice of
    minhash_lsh_pairs over the full table, aggregated per batch doc —
    same band scheme, so incremental ingest and batch dedup compose
    into one policy with no seam."""
    from pyspark.sql import functions as F

    from nano_vectordb_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    t = 0.6
    batch_pred = F.col("doc_id") % 10 == 0
    incr = dedup.minhash_lsh_incremental(
        docs.filter(~batch_pred), docs.filter(batch_pred), t
    )
    pairs = dedup.minhash_lsh_pairs(docs, t)
    cross = pairs.filter(
        ((F.col("a_id") % 10 == 0) & (F.col("b_id") % 10 != 0))
        | ((F.col("a_id") % 10 != 0) & (F.col("b_id") % 10 == 0))
    ).select(
        F.when(F.col("a_id") % 10 == 0, F.col("a_id"))
        .otherwise(F.col("b_id"))
        .alias("doc_id"),
        "jaccard",
    )
    expected = cross.groupBy("doc_id").agg(
        F.count("*").alias("n_corpus_dups"),
        F.max("jaccard").alias("max_jaccard"),
    )
    a = sorted(tuple(r) for r in incr.collect())
    b = sorted(tuple(r) for r in expected.collect())
    assert a == b and len(a) > 0


def test_substring_dup_spans_hand_corpus(spark, tmp_path):
    """Span math on a constructed corpus: K=32, stride=8.

    doc 0 and doc 1 share an 80-char block -> 7 shared gram positions
    (1..49 step 8), one contiguous run -> span = 6*8+32 = 80. doc 2 is
    64 unique chars -> grams but no dups. doc 3 is shorter than K ->
    zero grams.
    """
    import pyspark.sql.functions as F

    from nano_vectordb_spark import registry

    shared = "".join(chr(ord("a") + (i * 7) % 26) for i in range(80))
    rows = [
        (0, shared, "en", "s", len(shared)),
        (1, shared, "en", "s", len(shared)),
        (2, "".join(chr(ord("A") + (i * 11) % 26) + str(i % 10) for i in range(32)), "en", "s", 64),
        (3, "tiny", "en", "s", 4),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in registry.REGISTRY["substring_dup_spans"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert len(out) == 4
    for d in (0, 1):
        assert out[d]["n_grams"] == 7
        assert out[d]["n_dup_grams"] == 7
        assert out[d]["max_dup_span_chars"] == 80
    assert out[2]["n_grams"] == 5 and out[2]["n_dup_grams"] == 0
    assert out[2]["max_dup_span_chars"] == 0
    assert out[3]["n_grams"] == 0 and out[3]["max_dup_span_chars"] == 0


def test_band_state_merge_equals_rebuild(spark, tmp_path):
    """The cross-run identity dedup_state_merge's boolean pins:
    state(v1) persisted -> read back -> union state(delta) must equal a
    from-scratch state over the full corpus row-for-row (MinHash
    signatures are per-document, so a split/persist/merge cycle can
    never change the banded table)."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    v1 = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "bandstate")
    dedup.band_state_write(dedup.minhash_band_state(v1), path)
    merged = dedup.band_state_merge(
        dedup.band_state_read(spark, path), dedup.minhash_band_state(delta)
    )
    key = lambda r: (r.doc_id, r.band_id, r.band_sig)
    got = sorted(map(key, merged.collect()))
    want = sorted(map(key, dedup.minhash_band_state(docs).collect()))
    assert got == want and len(got) > 0


def test_band_state_compact_equals_live_rebuild(spark, tmp_path):
    """The retirement identity dedup_state_compact's boolean pins:
    compact(state(A ∪ B), retired=B) == state(A) row-for-row, and a
    write/read round-trip of the compacted state preserves it (the
    vacuum is a pure anti-join — per-document signatures never
    recombine)."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    live = docs.filter(F.col("doc_id") % 3 != 0)
    retired = docs.filter(F.col("doc_id") % 3 == 0)
    full = dedup.minhash_band_state(docs)
    compacted = dedup.band_state_compact(full, retired.select("doc_id"))
    key = lambda r: (r.doc_id, r.band_id, r.band_sig)
    got = sorted(map(key, compacted.collect()))
    want = sorted(map(key, dedup.minhash_band_state(live).collect()))
    assert got == want and len(got) > 0
    # round-trip through the partitioned layout
    path = str(tmp_path / "compacted")
    dedup.band_state_write(compacted, path)
    back = sorted(map(key, dedup.band_state_read(spark, path).collect()))
    assert back == got


def test_band_state_layout_partitioned_by_band(spark, tmp_path):
    """The persisted layout is partitionBy(band_id): a single-band probe
    prunes to one band directory (the 100 TB probe cost model)."""
    import os

    path = str(tmp_path / "bandstate")
    dedup.band_state_write(dedup.minhash_band_state(_docs(spark).limit(50)), path)
    dirs = sorted(d for d in os.listdir(path) if d.startswith("band_id="))
    assert dirs == [f"band_id={i}" for i in range(4)]
    one = spark.read.parquet(path).filter("band_id = 2")
    plan = one._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the scan reads one of four band dirs
    assert one.count() > 0


def test_simhash_banded_pairs_drops_null_hash_rows(spark):
    """r12 ADVICE: a null hash column must be dropped at the kernel
    boundary (null band keys would bucket together under the window's
    SQL null-equality and then crash the kernel's int64 cast) — direct
    callers of _simhash_banded_pairs get silence, not a crash."""
    sh = spark.createDataFrame(
        [(1, 5, 7), (2, 5, 7), (3, None, None), (4, None, None)],
        "doc_id long, sim_hi long, sim_lo long",
    )
    pairs = dedup._simhash_banded_pairs(sh, 3, ("sim_hi", "sim_lo"), 2, 16, 4)
    got = {(p.a_id, p.b_id) for p in pairs.collect()}
    assert got == {(1, 2)}  # null-hash docs pair with nothing, no crash


def test_simhash64_vocab_memo_reset_preserves_hashes(spark, monkeypatch):
    """The per-task token-hash memo cap: force the reset path on every
    batch (cap=0 clears an already-populated memo) and pin that the
    signatures are unchanged — the memo is a pure cache."""
    docs = _docs(spark).limit(50)
    base = {
        (r.doc_id, r.sim_hi, r.sim_lo) for r in dedup.simhash64_udf(docs).collect()
    }
    monkeypatch.setattr(dedup, "_VOCAB_MEMO_CAP", -1)
    capped = {
        (r.doc_id, r.sim_hi, r.sim_lo) for r in dedup.simhash64_udf(docs).collect()
    }
    assert base == capped


def test_simhash_pairs_n_docs_hint_matches_eager_count(spark):
    """n_docs_hint only sizes the banded exchange — pairs must be
    byte-identical with and without it (and with a WRONG-but-positive
    hint, since the hint is a sizing input, not a semantic one)."""
    docs = _docs(spark).limit(200)
    base = sorted(
        (p.a_id, p.b_id, p.hamming)
        for p in dedup.simhash64_pairs(docs, 3).collect()
    )
    hinted = sorted(
        (p.a_id, p.b_id, p.hamming)
        for p in dedup.simhash64_pairs(docs, 3, n_docs_hint=200).collect()
    )
    rough = sorted(
        (p.a_id, p.b_id, p.hamming)
        for p in dedup.simhash64_pairs(docs, 3, n_docs_hint=10_000).collect()
    )
    assert base == hinted == rough


def test_minhash_pairs_identical_across_dispatch_plans(spark):
    """r12 dispatch contract: kernel, join, and auto produce the SAME
    (a_id, b_id, jaccard) rows — the dispatch may only change the
    candidate-stage plan, never the pair set (also checked at sf0.001
    and sf0.1 in the round's measurement scripts)."""
    docs = _docs(spark)
    outs = {
        plan: sorted(
            (p.a_id, p.b_id, p.jaccard)
            for p in dedup.minhash_lsh_pairs(docs, 0.2, plan=plan).collect()
        )
        for plan in ("kernel", "join", "auto")
    }
    assert outs["kernel"] == outs["join"] == outs["auto"]
    assert len(outs["kernel"]) > 0


def test_minhash_pairs_rejects_unknown_plan(spark):
    import pytest

    with pytest.raises(ValueError, match="unknown plan"):
        dedup.minhash_lsh_pairs(_docs(spark), 0.2, plan="bogus")


def test_simhash64_agg_bit_identical_to_udf(spark):
    """r12 (r11 VERDICT item 4): the pure-JVM explode->md5->aggregate
    form of simhash64 must be BIT-identical to the pandas-UDF form on
    real fixture text — same md5 hex-prefix token hash, same rehash
    constants, same majority rule."""
    docs = _docs(spark)
    a = {(r.doc_id, r.sim_hi, r.sim_lo) for r in dedup.simhash64_udf(docs).collect()}
    b = {(r.doc_id, r.sim_hi, r.sim_lo) for r in dedup.simhash64_agg(docs).collect()}
    assert a == b and len(a) > 0


def test_simhash32_agg_bit_identical_to_reference_fold(spark):
    """r12: the 32-bit simhash moved from 32 interpreted array folds to
    the explode->md5->aggregate plan. Pin bit-identity against a plain
    Python recomputation of the definition (tokenize on single spaces,
    md5 hex-prefix 28-bit hash, rehash onto 32 bits with the simhash64
    "hi" constants, ±1 majority per bit) on real fixture text."""
    import hashlib

    docs = _docs(spark).limit(50)
    got = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    rows = docs.select("doc_id", "text").collect()
    expect = {}
    for r in rows:
        toks = [t for t in r.text.split(" ") if t != ""]
        if not toks:
            continue
        sums = [0] * 32
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:7], 16)
            hu = (h * 2_654_435_761 + 40_503) % 2**32
            for j in range(32):
                sums[j] += 1 if (hu >> j) & 1 else -1
        expect[r.doc_id] = sum(1 << j for j in range(32) if sums[j] > 0)
    assert got == expect and len(expect) > 0


def test_ngram_shingles_match_python_reference(spark):
    """r12: ngram_shingles gained a generator barrier (explode of a
    single-element array) so the tokenizer evaluates once per row
    instead of once per gram reference. Pin output identity against a
    plain-Python recomputation (distinct space-joined word n-grams,
    docs with < n tokens dropped) on real fixture text, n=3 and n=8."""
    docs = _docs(spark).limit(60)
    rows = docs.select("doc_id", "text").collect()
    for n in (3, 8):
        got = {
            r.doc_id: sorted(r.shingles)
            for r in dedup.ngram_shingles(docs, n=n).collect()
        }
        expect = {}
        for r in rows:
            toks = [t for t in r.text.split(" ") if t != ""]
            if len(toks) < n:
                continue
            grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
            expect[r.doc_id] = sorted(dict.fromkeys(grams))
        assert got == expect and len(expect) > 0, f"n={n}"


def test_embedding_neardup_pairs_matches_literal_cartesian(spark):
    """r13: embedding_neardup_pairs prefilters with a certified-bound
    blocked matmul before the exact fold — the pair set AND scores
    must equal the literal cartesian + exact-fold definition (which is
    also the entry's DuckDB oracle shape)."""
    from pyspark.sql import functions as F

    from nano_vectordb_spark.functions.vector import dot_expr

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    for thr in (0.4, 0.0):
        got = {
            (r.a_id, r.b_id): r.cos_sim
            for r in dedup.embedding_neardup_pairs(emb, thr).collect()
        }
        lhs = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("va"))
        rhs = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("vb"))
        want = {
            (r.a_id, r.b_id): r.cos_sim
            for r in lhs.join(rhs, F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id", dot_expr("va", "vb").alias("cos_sim"))
            .filter(F.col("cos_sim") >= thr)
            .collect()
        }
        assert set(got) == set(want)
        assert got == want  # exact-fold scores, not matmul scores


def test_minhash_verify_hash_prefilter_is_output_identical(spark, monkeypatch):
    """r13: above VERIFY_HASH_PREFILTER_MIN_CANDIDATES the verify runs
    a 64-bit-hash prefilter stage before the exact string verify. The
    prefilter is a superset filter (hash-set intersect >= string-set
    intersect) whenever xxhash64 is injective on each document's
    shingle set — a collision between two shared shingles could prune
    a pair, at a per-pair risk of about n_sh^2 * 2^-64, which no
    fixture reaches — so pairs AND jaccard values must be
    byte-identical with the gate forced on vs forced off."""
    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")

    def pairs():
        got = {
            (r.a_id, r.b_id): r.jaccard
            for r in dedup.minhash_lsh_pairs(docs, 0.2).collect()
        }
        dedup.release_caches()
        return got

    monkeypatch.setattr(dedup, "VERIFY_HASH_PREFILTER_MIN_CANDIDATES", 0)
    with_pref = pairs()
    monkeypatch.setattr(
        dedup, "VERIFY_HASH_PREFILTER_MIN_CANDIDATES", 1 << 60
    )
    without = pairs()
    assert with_pref == without
    assert len(without) > 0
