"""Deduplication family for training-data pipelines (north-star
extension per BASELINE.json; built on the same hashing/similarity
primitives as the vector core).

Operators:
  * exact_dedup            — content-hash groupBy (the 100 TB shape:
                             one shuffle on a 16-byte key)
  * ngram_shingles         — word n-gram shingle sets
  * ngram_jaccard_pairs    — exact Jaccard near-dup pairs via
                             shingle-inverted-index join (shuffle on
                             shingle, never an N^2 cross join)
  * minhash_signatures /
    minhash_lsh_pairs      — MinHash + banded LSH candidate generation,
                             then exact-Jaccard verification
  * simhash / simhash_pairs— 32-bit SimHash; pair generation uses an
                             8x4-bit band join which by pigeonhole is
                             EXACT for hamming <= 7 (no missed pairs),
                             then verifies the true hamming distance
  * embedding_neardup_pairs— exact cosine near-dup pairs (brute force;
                             the scale path composes with the IVF index
                             to block candidates first)

All hashes derive from md5 hex slices (28-bit) so every engine with md5
reproduces signatures bit-for-bit — the oracle runs the same algorithm,
including the same MinHash permutation constants.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nano_vectordb_spark.functions.text import token_hash_expr, tokens_expr
from nano_vectordb_spark.functions.vector import dot_expr
from nano_vectordb_spark.session import persist, release_caches  # noqa: F401

MINHASH_P = 2_147_483_647

# Cap on the per-task token->hash memo in the signature UDFs: ~4M
# entries is ~0.5 GB of dict at worst-case token sizes — large enough
# that realistic vocabularies never hit it, small enough that an
# adversarial all-distinct-token stream can't grow a long-lived task's
# memory without bound.
_VOCAB_MEMO_CAP = 4_000_000


# Every persist this module takes goes through the session store
# (session.persist) so long-lived sessions (bench loops, correctness
# gates, notebooks) can free the cached blocks deterministically — a
# bare .persist() with no release path leaks executor storage for the
# session's lifetime. Entry-level memoization (session.memo) keeps
# re-invocations from re-persisting; release_caches() is the explicit
# drain.


def _spread(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster parallelism before a
    UDF-heavy stage — a single input file otherwise yields one
    partition and a single-threaded Arrow pass. No-op when the source
    already spans enough files (the 100 TB case, where adding a
    repartition would be a pure extra shuffle).

    The narrowness heuristic reads the scan's file listing
    (``df.inputFiles()``) instead of ``df.rdd.getNumPartitions()``:
    the latter compiles the full physical plan on every call and, under
    AQE, reports the pre-AQE partition count. Non-file sources (local
    relations) return an empty listing and are left untouched — Spark
    already parallelizes them across defaultParallelism slices."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # pragma: no cover - defensive: source w/o listing
        n_files = 0
    if 0 < n_files < target:
        return df.repartition(target)
    return df


# target bytes of AMPLIFIED shingle payload per partition for the
# fused shingle+signature pass (see _spread_for_shingles); a module
# constant so tests can shrink it to exercise the widening path
# without multi-GB fixtures
_SHINGLE_PARTITION_BYTES = 32 << 20


def _spread_for_shingles(df: DataFrame, text_col: str) -> DataFrame:
    """Byte-aware spread for the shingle+signature pass: the fused
    pass amplifies each text byte into ~3 bytes of shingle strings
    (every word opens one 3-gram) plus a 16-slot signature, and the
    persisted base materializes per-partition cache blocks — so
    partitions must be sized by the AMPLIFIED payload, not the scan
    bytes. Measured failure this guards (r11, 5M docs / 36 file
    partitions / 32 concurrent tasks on an 8 GB local heap): ~400 MB
    of shingle payload per partition OOM'd the JVM during cache-block
    build; the same arithmetic holds on a real cluster, where a
    default 128 MB parquet scan partition amplifies past 400 MB of
    task working set. Targets ~32 MB of estimated shingle payload per
    partition (floor: the cluster parallelism, same as _spread), at
    the cost of one pruned-column aggregate over the input.

    The width check compares against the plan's ACTUAL partition
    count, not the file listing: Spark packs small files into
    maxPartitionBytes-sized scan partitions, so a 1000-file fixture
    still scans as 36 oversized partitions (the measured OOM's exact
    shape — an inputFiles()-based check silently passed it)."""
    stats = df.select(
        F.count(F.lit(1)).alias("n"),
        # octet_length, not length: the OOM model is in BYTES and
        # multi-byte UTF-8 text undercounts by up to 4x under a
        # character count, eroding the per-partition headroom
        F.sum(F.octet_length(F.col(text_col))).alias("tb"),
    ).first()
    est = 3 * int(stats["tb"] or 0) + 136 * int(stats["n"] or 0)
    target = df.sparkSession.sparkContext.defaultParallelism
    n_parts = int(max(target, -(-est // _SHINGLE_PARTITION_BYTES)))
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive
        current = 0
    if current >= n_parts:
        return df
    return df.repartition(n_parts)


def minhash_perms(k: int) -> list[tuple[int, int]]:
    """Fixed, engine-independent permutation constants (embedded
    literally into the oracle SQL as well)."""
    out = []
    for i in range(k):
        a = ((2 * i + 1) * 2_654_435_761) % MINHASH_P
        b = (i * 40_503 + 2_531_011) % MINHASH_P
        out.append((a if a != 0 else 1, b))
    return out


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: one row per distinct content hash with the
    kept (minimum) id and the duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_md5"), F.col(id_col).alias("doc_id"))
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def ngram_shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, *extra_cols, shingles) with shingles = distinct word
    n-grams; docs with fewer than n tokens are dropped (no shingle
    exists). ``extra_cols`` rides metadata (e.g. ``source``) through
    without a join back to the input."""
    toks = tokens_expr(F.col(text_col))
    # explode(array(toks)) is a GENERATOR BARRIER: it materializes the
    # token array once per row as a concrete attribute. Without it,
    # CollapseProject substitutes the tokenizer expression into the
    # gram transform, where every outer `toks` reference inside the
    # lambda re-evaluates the split PER GRAM — measured r12 at sf0.1
    # (n=8): 12.3 s -> 1.0 s for the identical 235,704-shingle output.
    # The array always has exactly one element, so the explode neither
    # adds nor drops rows; null/short docs fall to the same size()
    # filter as before.
    d = df.select(
        F.col(id_col).alias("doc_id"),
        *extra_cols,
        F.explode(F.array(toks)).alias("toks"),
    ).filter(F.size("toks") >= n)
    idx = F.sequence(F.lit(1), F.size("toks") - (n - 1))
    gram = lambda i: F.concat_ws(
        " ", *[F.element_at(F.col("toks"), i + j) for j in range(n)]
    )
    return d.select(
        "doc_id",
        *extra_cols,
        F.array_distinct(F.transform(idx, gram)).alias("shingles"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard near-dup pairs (a_id < b_id, jaccard >= threshold)
    via the inverted-index join: explode shingles, join on shingle,
    count common, jaccard = common / (|A| + |B| - common). Scales as
    the shingle posting lists, not N^2."""
    sh = ngram_shingles(df, n, text_col, id_col)
    # tracked persist (r13): the sized shingle frame feeds BOTH sides
    # of the posting self-join below — unpersisted, the tokenize +
    # shingle pass ran twice per action. Doc-level rows (one per doc),
    # released via release_caches() like every dedup persist.
    sized = persist(
        sh.select("doc_id", "shingles", F.size("shingles").alias("n_sh"))
    )
    ex = sized.select("doc_id", "n_sh", F.explode("shingles").alias("shingle"))
    a, b = ex.alias("a"), ex.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    jac = common.select(
        "a_id",
        "b_id",
        (
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double")
        ).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= threshold)


def shingle_hashes(sh: DataFrame) -> DataFrame:
    """(doc_id, hs) — 28-bit md5-derived hash per shingle."""
    return sh.select(
        "doc_id",
        F.transform("shingles", lambda s: token_hash_expr(s)).alias("hs"),
        F.size("shingles").alias("n_sh"),
    )


def _signatures_from_shingles(sh: DataFrame, k: int) -> DataFrame:
    """Vectorized MinHash: one md5 per distinct shingle per Arrow batch
    (hashlib at C speed, memoized) and all k permutations in a single
    NumPy broadcast. The expression form costs k interpreted array
    walks per row (higher-order functions never enter codegen) — same
    trick that took simhash64 from 11 s to 1-2 s at sf0.1. Hash and
    permutation constants are unchanged, so the DuckDB oracle replay
    still matches bit-for-bit: h = int(md5(shingle)[:7], 16), then
    min((h*a + b) mod P) per permutation."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    perms = minhash_perms(k)
    pa = np.array([p[0] for p in perms], dtype=np.int64)
    pb = np.array([p[1] for p in perms], dtype=np.int64)
    p_mod = MINHASH_P

    @pandas_udf("array<long>")
    def _sig(shingle_arrs):  # pd.Series[list[str]] -> pd.Series[list[int]]
        cache: dict[str, int] = {}

        def sh_hash(s: str) -> int:
            h = cache.get(s)
            if h is None:
                h = cache[s] = int(hashlib.md5(s.encode()).hexdigest()[:7], 16)
            return h

        out = []
        for shingles in shingle_arrs:
            if shingles is None or len(shingles) == 0:
                out.append(None)
                continue
            hs = np.fromiter(
                (sh_hash(s) for s in shingles), dtype=np.int64, count=len(shingles)
            )
            # hs < 2^28 and a < P < 2^31, so hs*a + b < 2^59: no overflow
            sig = ((hs[:, None] * pa[None, :] + pb[None, :]) % p_mod).min(axis=0)
            out.append(sig)
        return pd.Series(out)

    return sh.select("doc_id", _sig("shingles").alias("sig"))


def minhash_signatures(
    df: DataFrame, k: int = 16, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, sig array<long> of length k): sig[i] = min over shingles
    of (a_i * h + b_i) mod P."""
    return _signatures_from_shingles(ngram_shingles(df, n, text_col, id_col), k)


def _minhash_sig_frame(S: DataFrame, k: int) -> DataFrame:
    """(doc_id, sig): the k-slot MinHash signature as a pure-JVM
    explode -> md5 -> k-min aggregate over a shingle frame
    (doc_id, shingles, ...). r12 head-to-head at 2M docs: the JVM base
    (native ngram_shingles + this aggregate) runs 19.8 s cold / 13.3 s
    warm vs 36.1 / 30.1 s for the fused pandas pass, identical
    checksums — the md5 and the k affine minima all stay in codegen,
    and the only data movement is a partial-agg shuffle of k+1 longs
    per doc. Bit-identical to _shingles_and_sig's sig column (same
    28-bit md5 hex-prefix hash, same permutation constants)."""
    perms = minhash_perms(k)
    from nano_vectordb_spark.functions.text import token_hash_expr as _th

    e = S.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", _th(F.col("s")).alias("h")
    )
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(
            f"m{i}"
        )
        for i, (a, b) in enumerate(perms)
    ]
    return (
        e.groupBy("doc_id")
        .agg(*aggs)
        .select(
            "doc_id", F.array(*[f"m{i}" for i in range(len(perms))]).alias("sig")
        )
    )


def _shingles_and_sig(
    df: DataFrame, k: int, n: int, text_col: str, id_col: str
) -> DataFrame:
    """One fused pass: (doc_id, shingles, n_sh, sig). Tokenize, build
    distinct word n-grams, hash each once (hashlib md5, memoized per
    batch), and take all k permutation minima in a single NumPy
    broadcast. Semantically identical to ngram_shingles +
    minhash_signatures (same tokens: split on ' ' dropping empties;
    docs with < n tokens are dropped), but one Arrow pass instead of
    interpreted higher-order expressions per row — shingle building and
    k array walks never enter codegen in expression form."""
    import hashlib

    import numpy as np
    import pandas as pd

    perms = minhash_perms(k)
    pa = np.array([p[0] for p in perms], dtype=np.int64)
    pb = np.array([p[1] for p in perms], dtype=np.int64)
    p_mod = MINHASH_P
    ngram = n

    def run(batches):
        cache: dict[str, int] = {}

        def sh_hash(s):
            h = cache.get(s)
            if h is None:
                h = cache[s] = int(hashlib.md5(s.encode()).hexdigest()[:7], 16)
            return h

        for pdf in batches:
            ids, shingles_out, n_sh, sigs = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in (text or "").split(" ") if t]
                if len(toks) < ngram:
                    continue  # no shingle exists; ngram_shingles drops too
                grams = list(
                    dict.fromkeys(
                        " ".join(toks[i : i + ngram])
                        for i in range(len(toks) - ngram + 1)
                    )
                )
                hs = np.fromiter(
                    (sh_hash(s) for s in grams), dtype=np.int64, count=len(grams)
                )
                # hs < 2^28, a < P < 2^31: products stay under 2^59
                sig = ((hs[:, None] * pa[None, :] + pb[None, :]) % p_mod).min(axis=0)
                ids.append(doc_id)
                shingles_out.append(grams)
                n_sh.append(len(grams))
                sigs.append(sig)
            yield pd.DataFrame(
                {"doc_id": ids, "shingles": shingles_out, "n_sh": n_sh, "sig": sigs}
            )

    return df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).mapInPandas(
        run, "doc_id long, shingles array<string>, n_sh int, sig array<long>"
    )


def _minhash_candidate_gen(bands: int, rows: int):
    """mapInPandas body for MinHash LSH candidate generation — the
    exactly-once half of the r10 bucket-verify shape (see
    _make_bucket_kit): the input stream is hash-partitioned AND sorted
    by (band_id, band_key, doc_id) with band_key = xxhash64 of the
    band's signature slice, so every LSH bucket is one contiguous run
    inside one task, and a pair is emitted only from its FIRST
    truly-shared band. This is what kills the r9-shape plan's disease:
    no pair is ever materialized once per shared band (~x bands
    duplication) and no downstream `.distinct()` exists — the emitted
    candidate stream is already the UNIQUE band-sharing pair set, the
    minimum any exact verify must touch.

    Jaccard is NOT computed here: carrying shingle payload through the
    banded exchange (the literal embedding-LSH port) was measured at
    1M docs and LOST — string-array payload x bands blew the exchange
    and the Arrow crossing (217 s warm; executor RPC death under
    default memory), where this skinny form's exchange measures ~9 s.
    Candidates leave this kernel as bare (a_id, b_id) pairs and the
    exact string-set Jaccard runs JVM-side against the shingle table,
    pruned to candidate docs (minhash_lsh_pairs).

    Because the bucket key is a 64-bit HASH of the band slice, two
    rows can share a bucket without sharing the band (collision):
    candidacy is re-checked against the carried signature slices —
    TRUE band equality at this band_id, no earlier truly-shared band —
    so a collision can only waste a comparison, never fabricate or
    suppress a candidate."""
    import numpy as np
    import pandas as pd

    CHUNK_PAIRS = _VERIFY_CHUNK_PAIRS
    FLUSH_ROWS = _VERIFY_FLUSH_ROWS
    pair_chunks, earlier_band, bucket_runs = _make_bucket_kit()

    def extract(pdf):
        n = len(pdf)
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        sig = np.array(pdf["sig"].tolist(), dtype=np.int64)
        # surplus signature slots beyond bands*rows never form a band
        Kb = sig[:, : bands * rows].reshape(n, bands, rows)
        return ids, Kb

    def to_frame(acc):
        return pd.DataFrame(
            {"a_id": np.concatenate(acc[0]), "b_id": np.concatenate(acc[1])}
        )

    def gen(batches):
        acc: tuple[list, list] = ([], [])
        n_acc = 0
        for band_id, (ids, Kb) in bucket_runs(batches, extract):
            for ii, jj in pair_chunks(len(ids), CHUNK_PAIRS):
                cand = (Kb[ii, band_id, :] == Kb[jj, band_id, :]).all(
                    axis=1
                )
                if band_id > 0:
                    cand &= ~earlier_band(Kb, ii, jj, band_id)
                if cand.any():
                    acc[0].append(ids[ii[cand]])
                    acc[1].append(ids[jj[cand]])
                    n_acc += int(cand.sum())
            if n_acc >= FLUSH_ROWS:
                yield to_frame(acc)
                acc = ([], [])
                n_acc = 0
        if acc[0]:
            yield to_frame(acc)

    return gen


def _occupancy_ge2(banded: DataFrame) -> DataFrame:
    """Drop rows whose (band_id, band_key) bucket has occupancy 1 —
    they can never pair — BEFORE the Python crossing. The count window
    partitions by exactly the keys the caller just repartitioned on
    and is satisfied by the existing sort prefix, so WindowExec adds
    NO exchange and NO extra sort: one JVM pass that typically removes
    the vast majority of banded rows from the Arrow stream (healthy
    banding = mostly singleton buckets)."""
    from pyspark.sql import Window

    w = Window.partitionBy("band_id", "band_key")
    return (
        banded.withColumn("__occ", F.count(F.lit(1)).over(w))
        .filter(F.col("__occ") >= 2)
        .drop("__occ")
    )


def minhash_lsh_candidates(
    base: DataFrame, bands: int, rows: int
) -> DataFrame:
    """The corpus-scale half of minhash_lsh_pairs, exposed so its plan
    shape can be pinned: (a_id, b_id) pairs sharing >= 1 signature
    band, each emitted EXACTLY ONCE (first truly-shared band). ONE
    hash exchange total — the skinny banded table (doc_id, sig),
    linear in N x bands — and a map-only plan after it: the occupancy
    filter reuses the exchange's partitioning (no shuffle, see
    _occupancy_ge2) and the kernel never materializes a duplicate or
    needs a downstream distinct. ``base`` is a (doc_id, sig, ...)
    table from _shingles_and_sig / minhash_signatures."""
    band_structs = [
        F.struct(
            F.lit(bi).alias("band_id"),
            F.xxhash64(F.slice("sig", bi * rows + 1, rows)).alias(
                "band_key"
            ),
        )
        for bi in range(bands)
    ]
    banded = base.select(
        "doc_id", "sig", F.explode(F.array(*band_structs)).alias("b")
    ).select(
        "doc_id",
        "sig",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_key").alias("band_key"),
    )
    return (
        banded.repartition(F.col("band_id"), F.col("band_key"))
        .sortWithinPartitions("band_id", "band_key", "doc_id")
        .transform(_occupancy_ge2)
        .mapInPandas(
            _minhash_candidate_gen(bands, rows), "a_id long, b_id long"
        )
    )


# Density-adaptive dispatch threshold (r12, from the r11 5M head-to-
# head): the exactly-once kernel's cost is the sig-carrying banded
# exchange (~200 B/row, immune to candidate volume); the banded
# self-join + distinct's cost scales with Σ C(occ,2) (candidate rows
# through a distinct) but its exchange is a 40 B string row REUSED for
# both join sides. At the measured low-density point (5M docs,
# ~0.02 candidates/doc) the join form wins ~2x warm; in the
# candidate-explosion regime (r6 sf100: ~19.5k docs/bucket) it dies
# quadratically while the kernel stays linear. The factor is in
# candidates per DOC: provably-light corpora dispatch to the join
# form, heavy or unknown to the kernel. bands x occupancy-2 buckets
# everywhere puts est/doc at exactly this scale, so 2.0 keeps the
# join form confined to the regime where its candidate stream is
# strictly smaller than the banded table it joins.
LIGHT_CANDIDATES_PER_DOC = 2.0

# Candidate-count gate for the two-stage hash-prefiltered verify in
# minhash_lsh_pairs (r13): below it the single-stage exact verify is
# cheaper (the extra join layer is overhead at fixture scale — the
# whole candidate payload fits a broadcast); above it the string
# payload of the verify equi-joins dominates (measured 5M: ~23 s of
# the 27 s warm LSH stage) and the 8 B/element hash prefilter pays.
# The gate reads the SAME estimate the auto dispatch already computed,
# so it adds no eager work. Both verify forms are output-identical as
# long as xxhash64 is injective on each document's shingle set (see
# the comment above use_prefilter: the per-pair risk is about
# n_sh^2 * 2^-64); the tests pin the identity on the fixtures.
VERIFY_HASH_PREFILTER_MIN_CANDIDATES = 20_000


def _banded_candidate_estimate(
    base: DataFrame, bands: int, rows: int
) -> tuple[int, int]:
    """(Σ_buckets C(occ, 2), n_docs) over the hashed banded table —
    the minhash_band_occupancy decision variable as one cheap
    aggregate: the skinny (band_id, band_key) explode is 16 B/row and
    map-side combines to the distinct-bucket count before its only
    exchange. This is what an operator (or the auto dispatch below)
    runs BEFORE committing a cluster to a pair-generation plan."""
    band_structs = [
        F.struct(
            F.lit(bi).alias("band_id"),
            F.xxhash64(F.slice("sig", bi * rows + 1, rows)).alias("band_key"),
        )
        for bi in range(bands)
    ]
    banded = base.select(F.explode(F.array(*band_structs)).alias("b")).select(
        "b.band_id", "b.band_key"
    )
    row = (
        banded.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.expr("c * (c - 1) DIV 2")).alias("cand"),
            F.sum("c").alias("banded_rows"),
        )
        .first()
    )
    cand = int(row["cand"] or 0)
    n_docs = int(row["banded_rows"] or 0) // bands
    return cand, n_docs


def minhash_lsh_candidates_join(
    base: DataFrame, bands: int, rows: int
) -> DataFrame:
    """The LIGHT-DENSITY candidate plan: band-string self-join +
    distinct over the skinny banded table. Exchange payload is one
    ~40 B string row per band (vs the kernel's ~200 B sig-carrying
    row); at fixture scale the planner broadcasts one side outright
    (AQE does not stage-reuse the aliased self-join sides — lambda
    exprIds defeat canonical equality — so at scale the two skinny
    shuffles are both paid; the r11 5M head-to-head was measured with
    exactly this shape). Candidate semantics are identical to
    minhash_lsh_candidates (docs sharing >= 1 TRUE band; the string
    band_sig is the injective '_'-join of the signature slice, so no
    hash-collision false candidates), the duplicates-per-shared-band
    are removed by the distinct instead of the kernel's
    first-shared-band rule — which is exactly the trade the dispatch
    prices: distinct cost ∝ candidate volume."""
    banded = _banded_sigs(base.select("doc_id", "sig"), bands, rows)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    plan: str = "auto",
) -> DataFrame:
    """MinHash banded LSH near-dup pairs: docs sharing any band of
    k/bands consecutive signature values become candidates; candidates
    are verified with exact Jaccard and filtered at threshold.

    Plan shape (r11 kernel; r12 JVM two-frame base): the persisted
    native shingle frame S feeds BOTH the signature aggregate
    (_minhash_sig_frame — explode -> JVM md5 -> k-min partial agg;
    replaced the fused pandas pass at 2.3x, see its docstring) and the
    candidate-pruned verify. The signature frame feeds a SKINNY
    banded explode (doc_id +
    signature; ~200 B/row), hash-partitioned on (band_id, band_key)
    with band_key = xxhash64(signature slice), sorted within
    partitions; singleton buckets are dropped JVM-side before the
    Arrow crossing (_occupancy_ge2 — no extra exchange); the kernel
    emits each band-sharing pair exactly once from its FIRST
    truly-shared band (_minhash_candidate_gen — no `.distinct()`, no
    x bands duplication, which was the r9 plan's candidate-volume
    disease); exact string-set Jaccard then runs JVM-side
    (array_intersect — the oracle's own definition) against the
    shingle table pruned to candidate docs by a broadcast semi join,
    so the corpus is never re-shuffled for verification.

    Why not carry shingles through the exchange (the literal r10
    embedding recipe)? Measured at 1M docs: the string-array payload
    x bands blew the exchange and the Arrow crossing (217 s warm,
    executor RPC death under default memory), while this skinny form's
    exchange+sort+Arrow measures ~9 s. Vectors are fixed-width and
    dominate their plan's cost either way; text payload is wide,
    variable, and only needed for the tiny candidate set. The verify
    joins move ONLY candidate-scale data (the exactly-once pair set ~
    output size), the corpus-scale stages are the signature pass and
    one skinny exchange.

    Reference parity: nano-vectordb has no text dedup; this is
    north-star extension surface following the reference's staged
    narrow-then-exact discipline (Performance.md:224-276).

    Candidate-stage dispatch (r12): ``plan`` picks the candidate
    generator — "kernel" (the exactly-once banded kernel above),
    "join" (band-string self-join + distinct: minhash_lsh_candidates_
    join), or "auto" (default): measure Σ C(occ, 2) over the banded
    table (_banded_candidate_estimate — one skinny aggregate, the
    minhash_band_occupancy health check inlined) and take the join
    form only when the corpus is PROVABLY light (candidates/doc <=
    LIGHT_CANDIDATES_PER_DOC), the kernel when heavy or unknown. The
    verify stage is shared, so the pair set is byte-identical across
    all three (pinned at three scale factors in tests/test_dedup.py).

    NOTE: building the plan runs one EAGER count+byte aggregate over
    the input at construction time (_spread_for_shingles sizes the
    shingle pass by amplified payload bytes — the measured 5M-doc OOM
    guard), and plan="auto" adds the EAGER occupancy aggregate.
    Callers composing lazily should build once and reuse, or pass an
    explicit plan."""
    rows = k // bands
    # r12 two-frame base: the shingle frame S (native ngram transform,
    # map-only — the wide payload, persisted with partitions sized by
    # the AMPLIFIED payload, see _spread_for_shingles) and the skinny
    # signature frame (JVM explode -> md5 -> k-min aggregate over S —
    # persisted so the estimate, the candidate stage, and benchmark
    # reps share one pass). The wide shingles never ride the sig path
    # and the sig never rides the verify path.
    S = persist(
        ngram_shingles(
            _spread_for_shingles(df, text_col), n, text_col, id_col
        ).withColumn("n_sh", F.size("shingles"))
    )
    base = persist(_minhash_sig_frame(S, k))
    if plan not in ("auto", "kernel", "join"):
        raise ValueError(f"unknown plan {plan!r}")
    est = n_docs = None
    if plan == "auto":
        est, n_docs = _banded_candidate_estimate(base, bands, rows)
        plan = (
            "join"
            if est <= LIGHT_CANDIDATES_PER_DOC * n_docs
            else "kernel"
        )
    gen = (
        minhash_lsh_candidates if plan == "kernel" else minhash_lsh_candidates_join
    )
    # candidate pairs feed both the id-prune and the verify join:
    # persist the (small, deduplicated) pair set so the candidate
    # stage runs once
    cand = persist(gen(base, bands, rows))
    # exact-Jaccard verify over the candidate docs' shingle sets: prune
    # the (persisted) base to candidate ids with a broadcast semi join
    # — candidate ids are ~2 x pair count, tiny next to the corpus —
    # then equi-join the candidate pairs against the pruned sides
    ids = (
        cand.select(F.explode(F.array("a_id", "b_id")).alias("doc_id"))
        .distinct()
    )
    sh = S.join(F.broadcast(ids), "doc_id", "left_semi").select(
        "doc_id", "shingles", "n_sh"
    )
    # r13 (guide §2.3/§8 + r12 VERDICT item 3): above the prefilter
    # threshold, the candidate equi-joins carry 64-bit shingle HASHES
    # (xxhash64, ~8 B/element) instead of the shingle strings
    # (~25 B/element) — the verify payload was the dominant warm term
    # of the 5M corpus_clean run (~0.4 GB of candidate shingle
    # strings). Two-stage form: the hash-Jaccard filter keeps every
    # qualifying pair iff per pair |hash-set intersect| >=
    # |string-set intersect|, and the exact STRING verify then decides
    # on survivors only (~output-sized). That inequality holds when
    # xxhash64 is injective on each document's shingle set. A
    # collision between a shingle only A holds and one only B holds
    # just raises the hash intersection (one extra exact check); but
    # array_intersect deduplicates, so two SHARED shingles that collide
    # count once while na/nb stay string counts — the hash-Jaccard
    # falls below the string Jaccard and a pair at the threshold can
    # be pruned. The risk per candidate pair is about n_sh^2 * 2^-64
    # (any two of a document's n_sh shingles colliding): ~5e-14 at
    # n_sh = 1000. Below the threshold (fixture scale) the single-stage exact
    # verify is cheaper — the extra join layer is pure overhead when
    # the payload fits a broadcast; the estimate is already computed
    # for the auto dispatch, so the gate adds no action.
    use_prefilter = (
        est is not None and est >= VERIFY_HASH_PREFILTER_MIN_CANDIDATES
    )
    if use_prefilter:
        shh = sh.select(
            "doc_id",
            F.transform("shingles", lambda s: F.xxhash64(s)).alias("hs"),
            "n_sh",
        )
        hc = F.size(F.array_intersect("ha", "hb"))
        pre = (
            cand.join(
                shh.select(
                    F.col("doc_id").alias("a_id"),
                    F.col("hs").alias("ha"),
                    F.col("n_sh").alias("na"),
                ),
                "a_id",
            )
            .join(
                shh.select(
                    F.col("doc_id").alias("b_id"),
                    F.col("hs").alias("hb"),
                    F.col("n_sh").alias("nb"),
                ),
                "b_id",
            )
            .select("a_id", "b_id", hc.alias("__hc"), "na", "nb")
            .filter(
                F.col("__hc").cast("double")
                / (F.col("na") + F.col("nb") - F.col("__hc")).cast("double")
                >= F.lit(threshold)
            )
            .select("a_id", "b_id")
        )
        pair_src = pre
    else:
        pair_src = cand
    j = (
        pair_src.join(
            sh.select(
                F.col("doc_id").alias("a_id"),
                F.col("shingles").alias("sa"),
                F.col("n_sh").alias("na"),
            ),
            "a_id",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("b_id"),
                F.col("shingles").alias("sb"),
                F.col("n_sh").alias("nb"),
            ),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            (
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / (
                    F.col("na") + F.col("nb") - F.size(F.array_intersect("sa", "sb"))
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def _banded_sigs(
    sig: DataFrame,
    bands: int,
    rows: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, band_id, band_sig [, *extra_cols]): one row per LSH
    band, band_sig = '_'-joined slice of the signature (the
    minhash_lsh_pairs recipe). ``extra_cols`` rides payload columns
    (e.g. shingles for in-stream verification) through the explode
    without a join back."""
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bi: F.struct(
            bi.alias("band_id"),
            F.concat_ws(
                "_",
                F.transform(
                    F.slice("sig", bi * rows + 1, rows), lambda v: v.cast("string")
                ),
            ).alias("band_sig"),
        ),
    )
    return sig.select(
        "doc_id", *extra_cols, F.explode(band_arr).alias("band")
    ).select(
        "doc_id",
        *extra_cols,
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_sig").alias("band_sig"),
    )


def minhash_band_state(
    df: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persistable cross-run LSH dedup state: (doc_id, band_id,
    band_sig) — the banded MinHash table minhash_lsh_pairs joins on,
    exposed as a first-class artifact so it can be WRITTEN alongside a
    corpus version and MERGED with later versions' states instead of
    recomputed (minhash_lsh_incremental's "the corpus band table is
    built once" cost model made durable across sessions/runs).

    Same constants and recipe as minhash_lsh_pairs (same permutations,
    same band slicing), so states produced by different runs compose:
    state(A) UNION state(B) == state(A UNION B) row-for-row — MinHash
    signatures are per-document, so the merge is a pure append with no
    recombination step. That identity is what makes the 100 TB story
    work: each corpus snapshot ships its own band table; a new
    version's dedup cost is one signature pass over the DELTA plus an
    append, never a recompute over history."""
    S = ngram_shingles(_spread_for_shingles(df, text_col), n, text_col, id_col)
    return _banded_sigs(_minhash_sig_frame(S, k), bands, k // bands)


def band_state_write(state: DataFrame, path: str) -> None:
    """Persist a band-state table partitionBy(band_id): probes and
    merges join on (band_id, band_sig), so the band dirs prune a probe
    to 1/bands of the state before the sig equi-join; appends of later
    corpus versions land in the same dirs (merge = metadata append,
    zero shuffle)."""
    state.write.mode("overwrite").partitionBy("band_id").parquet(path)


def band_state_read(spark, path: str) -> DataFrame:
    """Read a persisted band state; band_id returns as the partition
    column (int), band_sig/doc_id from the files."""
    df = spark.read.parquet(path)
    return df.select("doc_id", F.col("band_id").cast("int").alias("band_id"), "band_sig")


def band_state_merge(*states: DataFrame) -> DataFrame:
    """Merge band states from multiple corpus versions. Pure unionByName
    — valid because signatures are per-document (see minhash_band_state);
    dedup across versions (same doc_id re-ingested) is the caller's
    upsert policy, not the state's."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out


def band_state_compact(
    state: DataFrame, retired: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Vacuum RETIRED documents out of a band state — the lifecycle
    complement of band_state_merge: when a corpus version is rolled
    back or ages out of the training window, its rows leave the state
    so later probes never surface candidates against dead documents.

    Because signatures are per-document (minhash_band_state), removal
    is closed under the same identity the merge is:
    compact(state(A ∪ B), retired=B) == state(A) row-for-row — no
    recombination, no signature recompute. Implemented as one anti
    join on the id; the join strategy is left to Catalyst/AQE (a
    version's id set may be large at scale, so no forced broadcast).
    The compacted result re-persisted through band_state_write lands
    back in the band_id-partitioned layout, so the on-disk state stays
    probe-prunable; history is rewritten only for the bands it
    actually occupies (a maintenance pass, amortized across the
    retirement cadence, never on the query path)."""
    dead = retired.select(F.col(id_col).alias("doc_id")).distinct()
    return state.join(dead, "doc_id", "left_anti")


def minhash_estimator_error(
    df: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Estimator-quality audit for MinHash (the dedup-family analog of
    the quantization ladder's quant_error_stats): over the LSH
    candidate pairs, compare the signature estimate of Jaccard
    (fraction of equal signature slots) against the exact shingle-set
    Jaccard. One row: pair count, mean/max absolute error, mean bias —
    the numbers that justify a chosen k before scaling the near-dup
    pass to the full corpus.

    Scale shape: identical to minhash_lsh_pairs (fused shingle+sig
    pass, band join, candidate-keyed verification) plus a single-row
    final aggregate."""
    rows = k // bands
    base = persist(_shingles_and_sig(_spread(df), k, n, text_col, id_col))
    banded = _banded_sigs(base.select("doc_id", "sig"), bands, rows)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    sides = base.select("doc_id", "shingles", "n_sh", "sig")
    pair = (
        cand.join(
            sides.select(
                F.col("doc_id").alias("a_id"),
                F.col("shingles").alias("sa"),
                F.col("n_sh").alias("na"),
                F.col("sig").alias("siga"),
            ),
            "a_id",
        )
        .join(
            sides.select(
                F.col("doc_id").alias("b_id"),
                F.col("shingles").alias("sb"),
                F.col("n_sh").alias("nb"),
                F.col("sig").alias("sigb"),
            ),
            "b_id",
        )
        .select(
            (
                F.size(
                    F.filter(
                        F.zip_with("siga", "sigb", lambda x, y: x == y),
                        lambda eq: eq,
                    )
                ).cast("double")
                / F.lit(float(k))
            ).alias("est_j"),
            (
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / (
                    F.col("na") + F.col("nb") - F.size(F.array_intersect("sa", "sb"))
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return pair.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg(F.abs(F.col("est_j") - F.col("jaccard"))), 6).alias(
            "mean_abs_err"
        ),
        F.round(F.max(F.abs(F.col("est_j") - F.col("jaccard"))), 6).alias(
            "max_abs_err"
        ),
        F.round(F.avg(F.col("est_j") - F.col("jaccard")), 6).alias("mean_bias"),
    )


def minhash_lsh_incremental(
    corpus: DataFrame,
    batch: DataFrame,
    threshold: float,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingest dedup: which docs of an incoming batch
    near-duplicate an existing corpus (same MinHash constants and band
    scheme as minhash_lsh_pairs, so the two compose into one policy).

    Only batch x corpus candidates are generated — never corpus x
    corpus (the corpus is already deduplicated) and never batch x
    batch (that is minhash_lsh_pairs' job on the batch alone). The
    corpus side is hashed once (in production the band table persists
    alongside the corpus and this stage is a read); each ingest then
    costs one shingle+signature pass over the BATCH plus a band
    equi-join whose shuffle is sized by the batch's posting lists —
    per-ingest work scales with the batch, not the corpus.

    Returns (doc_id, n_corpus_dups, max_jaccard) for every batch doc
    with at least one verified near-dup in the corpus.
    """
    rows = k // bands
    # Only the BATCH side is spread: per-ingest cost must scale with the
    # batch, and in production the corpus band table is precomputed and
    # persisted alongside the corpus (already wide at scale) — adding a
    # corpus repartition per ingest would contradict that cost model.
    c_base = persist(_shingles_and_sig(corpus, k, n, text_col, id_col))
    b_base = persist(_shingles_and_sig(_spread(batch), k, n, text_col, id_col))
    c_bands = _banded_sigs(c_base.select("doc_id", "sig"), bands, rows)
    b_bands = _banded_sigs(b_base.select("doc_id", "sig"), bands, rows)
    cand = (
        b_bands.alias("a")
        .join(
            c_bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig")),
        )
        .select(
            F.col("a.doc_id").alias("new_id"), F.col("b.doc_id").alias("corpus_id")
        )
        .distinct()
    )
    j = (
        cand.join(
            b_base.select(
                F.col("doc_id").alias("new_id"),
                F.col("shingles").alias("sa"),
                F.col("n_sh").alias("na"),
            ),
            "new_id",
        )
        .join(
            c_base.select(
                F.col("doc_id").alias("corpus_id"),
                F.col("shingles").alias("sb"),
                F.col("n_sh").alias("nb"),
            ),
            "corpus_id",
        )
        .select(
            "new_id",
            (
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / (
                    F.col("na") + F.col("nb") - F.size(F.array_intersect("sa", "sb"))
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return (
        j.filter(F.col("jaccard") >= threshold)
        .groupBy("new_id")
        .agg(
            F.count("*").alias("n_corpus_dups"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .withColumnRenamed("new_id", "doc_id")
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash long): 32-bit SimHash — bit j is set when the
    sum over tokens of ±1 (by bit j of the 28->32-bit token hash,
    rehashed so all 32 bits are populated) is positive.

    r12: the same explode -> JVM md5 -> one hash aggregate plan as
    simhash64_agg (its "hi" half uses these exact rehash constants),
    built from SQL strings. The retired form ran 32 interpreted
    higher-order folds over the token array per row (measured 11 s at
    sf0.1) and cost ~1-2 s of driver py4j time per plan CONSTRUCTION;
    this form is one codegen'd aggregate. Bit-identical: the ±1 fold
    sum is positive iff (2 * ones - n) > 0, integer sums are
    order-exact, and the occurrence multiset is unchanged under
    explode (pinned in tests/test_dedup.py)."""
    toks = tokens_expr(F.col(text_col))
    h = "cast(conv(substring(md5(tok), 1, 7), 16, 10) as bigint)"
    c1, c2 = _SIMHASH64_CONSTS[0]
    e = (
        _spread(df.filter(F.size(toks) > 0))
        .select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok"))
        .selectExpr("doc_id", f"(({h} * {c1}L + {c2}L) % 4294967296L) AS hu")
    )
    aggs = [F.expr("count(1) AS n")] + [
        F.expr(f"sum((shiftright(hu, {j}) & 1)) AS s{j}") for j in range(32)
    ]
    g = e.groupBy("doc_id").agg(*aggs)
    terms = " + ".join(
        f"(CASE WHEN ((2 * s{j}) - n) > 0 THEN {1 << j}L ELSE 0L END)"
        for j in range(32)
    )
    return g.selectExpr("doc_id", f"({terms}) AS simhash")


def _hamming_verify_gen(max_hamming: int, n_cols: int, per_col: int, width: int):
    """mapInPandas body for the SimHash banded verify — the shared
    exactly-once kit (_make_bucket_kit) with an in-row Hamming check:
    the input is hash-partitioned AND sorted by (band_id, band_key,
    doc_id) where band_key is the TRUE band nibble (no hashing — a
    nibble already fits a long), so bucket co-membership IS band
    equality and the only in-bucket checks are the first-shared-band
    emission rule and the Hamming distance itself.

    Hash columns arrive as __h0..__h{n_cols-1} (one 32-bit half for
    the 32-bit SimHash, two for the 64-bit variant); band_id =
    col*per_col + band-within-col, matching the JVM-side explode
    order, and Hamming(pair) = sum over columns of
    popcount(xor) — computed vectorized with the SWAR popcount
    (numpy < 2 has no bitwise_count). Values are exact small ints, so
    parity with the bit_count expression form is trivial."""
    import numpy as np
    import pandas as pd

    CHUNK_PAIRS = _VERIFY_CHUNK_PAIRS
    FLUSH_ROWS = _VERIFY_FLUSH_ROWS
    pair_chunks, earlier_band, bucket_runs = _make_bucket_kit()
    u = np.uint64
    mask = u((1 << width) - 1)

    def popcount64(x):
        m1 = u(0x5555555555555555)
        m2 = u(0x3333333333333333)
        m4 = u(0x0F0F0F0F0F0F0F0F)
        h01 = u(0x0101010101010101)
        x = x - ((x >> u(1)) & m1)
        x = (x & m2) + ((x >> u(2)) & m2)
        x = (x + (x >> u(4))) & m4
        return (x * h01) >> u(56)

    def extract(pdf):
        n = len(pdf)
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        H = np.column_stack(
            [pdf[f"__h{c}"].to_numpy(dtype=np.int64) for c in range(n_cols)]
        ).astype(np.uint64)
        # nib tensor in band_id order (col-major over cols, then bands
        # within the col — the same order the JVM explode emits)
        nibs = np.empty((n, n_cols * per_col), dtype=np.int64)
        for c in range(n_cols):
            for bi in range(per_col):
                nibs[:, c * per_col + bi] = (
                    (H[:, c] >> u(bi * width)) & mask
                ).astype(np.int64)
        return ids, H, nibs[:, :, None]

    def to_frame(acc):
        return pd.DataFrame(
            {
                "a_id": np.concatenate(acc[0]),
                "b_id": np.concatenate(acc[1]),
                "hamming": np.concatenate(acc[2]),
            }
        )

    def gen(batches):
        acc: tuple[list, list, list] = ([], [], [])
        n_acc = 0
        for band_id, (ids, H, Kb) in bucket_runs(batches, extract):
            for ii, jj in pair_chunks(len(ids), CHUNK_PAIRS):
                keep = ~earlier_band(Kb, ii, jj, band_id)
                if not keep.any():
                    continue
                ii_k, jj_k = ii[keep], jj[keep]
                ham = np.zeros(ii_k.size, dtype=np.int64)
                for c in range(n_cols):
                    ham += popcount64(H[ii_k, c] ^ H[jj_k, c]).astype(
                        np.int64
                    )
                ok = ham <= max_hamming
                if ok.any():
                    acc[0].append(ids[ii_k[ok]])
                    acc[1].append(ids[jj_k[ok]])
                    acc[2].append(ham[ok].astype(np.int32))
                    n_acc += int(ok.sum())
            if n_acc >= FLUSH_ROWS:
                yield to_frame(acc)
                acc = ([], [], [])
                n_acc = 0
        if acc[0]:
            yield to_frame(acc)

    return gen


def _simhash_banded_pairs(
    sh: DataFrame,
    max_hamming: int,
    hash_cols: tuple[str, ...],
    per_col: int,
    width: int,
    n_docs_hint: int,
) -> DataFrame:
    """The shared SimHash pair plan: explode each hash column into
    per_col width-bit nibble bands (band_key = the nibble itself, an
    exact key), hash-partition + sort the banded table on
    (band_id, band_key, doc_id) — the ONE exchange, linear in
    N x bands and ~50 bytes/row — and verify bucket-locally with
    exactly-once first-shared-band emission (_hamming_verify_gen).
    Replaces the r9-shape banded self-join + candidate `.distinct()`,
    whose exchanges scaled with candidate volume (r10 VERDICT item 2:
    verify was already in-row, so the rebuild is strictly a win).

    Null hash columns are dropped HERE, where the kernel's int64
    contract lives: a null band_key would otherwise bucket together
    under the occupancy window's SQL null-equality (unlike the old
    banded self-join, where null never matched) and then crash the
    kernel's to_numpy(int64). Unreachable from the public simhash*
    entry points (they filter zero-token docs before signing) — this
    enforces the invariant for any future direct caller."""
    mask = (1 << width) - 1
    n_cols = len(hash_cols)
    sh = sh.filter(
        functools.reduce(
            lambda a, b: a & b, [F.col(c).isNotNull() for c in hash_cols]
        )
    )
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(c * per_col + bi).alias("band_id"),
                F.shiftright(F.col(col), bi * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for c, col in enumerate(hash_cols)
            for bi in range(per_col)
        ]
    )
    banded = sh.select(
        "doc_id",
        *[F.col(col).alias(f"__h{c}") for c, col in enumerate(hash_cols)],
        F.explode(bands_arr).alias("b"),
    ).select(
        "doc_id",
        *[f"__h{c}" for c in range(n_cols)],
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_key").alias("band_key"),
    )
    default_parts = int(
        sh.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    est_bytes = n_docs_hint * n_cols * per_col * (8 * (n_cols + 1) + 48)
    n_parts = max(default_parts, -(-est_bytes // (96 << 20)))
    return (
        banded.repartition(int(n_parts), F.col("band_id"), F.col("band_key"))
        .sortWithinPartitions("band_id", "band_key", "doc_id")
        .transform(_occupancy_ge2)
        .mapInPandas(
            _hamming_verify_gen(max_hamming, n_cols, per_col, width),
            "a_id long, b_id long, hamming int",
        )
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs_hint: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs (a_id < b_id, hamming <= max_hamming).
    Pair generation buckets on the COARSEST exact banding (pigeonhole:
    two hashes agreeing on no band differ in >= B bits, so B bands are
    exact for max_hamming <= B-1; fewer/wider bands square the bucket
    count and keep the bucket verify out of its quadratic occupancy
    regime — see simhash64_pairs for the measured sf100 cliff). Plan
    shape: one banded exchange, bucket-local exactly-once verify
    (_simhash_banded_pairs).

    NOTE: building the plan sizes the banded exchange from the doc
    count — when ``n_docs_hint`` is None this runs one EAGER df.count()
    Spark job at construction time. Callers composing plans lazily (or
    who already know N) pass the hint to keep construction action-free.
    """
    if max_hamming > 7:
        raise ValueError("banding is exact only for max_hamming <= 7")
    n_bands = next(b for b in (2, 4, 8) if b >= max_hamming + 1)
    return _simhash_banded_pairs(
        simhash(df, text_col, id_col),
        max_hamming,
        ("simhash",),
        n_bands,
        32 // n_bands,
        df.count() if n_docs_hint is None else int(n_docs_hint),
    )


def lsh_auto_params(n_rows: int) -> tuple[int, int]:
    """(n_planes, bands) for random-hyperplane LSH, scaled to corpus
    size so expected band-bucket occupancy stays O(2^5)=O(32) instead
    of growing linearly with N: rows_per_band = ceil(log2 N) - 5
    (clamped to [4, 20]), so each band hashes into ~N/32 buckets and
    the candidate-pair count stays ~N * occupancy * bands — LINEAR in
    N. The r8 sf10 sweep caught the fixed-width cliff this replaces:
    4-bit band signatures mean 16 buckets per band at ANY scale, so
    at 200k vectors every band bucket held ~12.5k rows and the
    "banded" join degenerated to ~N^2/16 candidate dots (billions).
    Bands grow half as fast as rows_per_band to partially offset the
    per-band recall decay (collision prob p^rpb per band, p = 1 -
    theta/pi; the full operating curve is lsh_operating_point's
    subject), capped at 10. At the gate fixtures (N <= ~512) this
    lands exactly on the historical (16, 4) point, so official sf0.01
    rows are byte-identical. The rpb clamp is 20 (r10 — raised from
    16, which saturated at N = 2^21 and let occupancy, and with it the
    verified-candidate volume ~Σ C(occ,2), grow linearly past 2M
    rows); every N <= 2^21 derives identical params under either
    clamp, so all official rows and the 2M-fixture record are
    unchanged. MUST stay importable without Spark — the DuckDB
    oracle derives the identical literals through this function."""
    import math

    rpb = min(20, max(4, math.ceil(math.log2(max(n_rows, 2))) - 5))
    bands = min(10, 4 + max(0, (rpb - 4) // 2))
    return rpb * bands, bands


def lsh_fold_bit_expr(vec_col: str, plane: list[float]):
    """The SPEC for one signature bit: sign of the sequential
    double-precision left-fold dot of the vector against a hyperplane
    literal — the exact Catalyst expression the original (pre-r9)
    signature pass evaluated per plane, kept as the bit-parity
    reference for lsh_sign_bits (tests/test_dedup.py pins UDF == fold
    on real fixtures plus adversarial near-zero dots)."""
    return (
        F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.lit(list(plane)).cast("array<double>"),
                lambda x, h: x * h,
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        > 0
    ).cast("int")


def _make_sign_bits():
    """Factory for the vectorized sign-bit kernel. A NESTED function so
    cloudpickle serializes it BY VALUE into the pandas UDF (workers
    never need nano_vectordb_spark importable — the repo's UDF
    self-containment convention); the module-level ``lsh_sign_bits``
    binding is the same code object, so the unit tests and the UDF
    exercise one implementation."""

    def sign_bits(X, planes):
        """Sign bits of hyperplane dots for a batch of vectors,
        BIT-IDENTICAL to the sequential-fold spec (lsh_fold_bit_expr)
        but computed as one BLAS matmul instead of n_planes interpreted
        folds per row (the r8 PERF.md sore spot: 848 s of the 2M-vector
        LSH run was this pass as Catalyst folds).

        Parity argument: the fold evaluates ((0 + x0*h0) + x1*h1) + ...
        in IEEE754 doubles, so |fold - exact| <= gamma_n * sum|x_i*h_i|
        with gamma_n ~ n*2^-53; the matmul's error obeys the same
        bound. Where |matmul dot| > 4*dim*2^-53 * (|x| . |h|) the two
        signs provably agree; the (measure-zero in practice) ambiguous
        entries are recomputed with the literal Python left fold, which
        performs the identical rounding sequence to the Catalyst fold.
        Returns an int8 matrix of shape (len(X), len(planes))."""
        import numpy as np

        X = np.ascontiguousarray(X, dtype=np.float64)
        P = np.ascontiguousarray(planes, dtype=np.float64)
        fast = X @ P.T
        bound = (4.0 * X.shape[1] * 2.0**-53) * (np.abs(X) @ np.abs(P).T)
        bits = fast > bound
        amb = np.abs(fast) <= bound
        if amb.any():
            for r, c in zip(*np.nonzero(amb)):
                acc = 0.0
                for x, h in zip(X[r].tolist(), P[c].tolist()):
                    acc += x * h
                bits[r, c] = acc > 0.0
        return bits.astype(np.int8)

    return sign_bits


lsh_sign_bits = _make_sign_bits()


def _lsh_bits_udf(planes):
    """Arrow-batched pandas UDF wrapping lsh_sign_bits: one JVM→Python
    transfer per batch, one matmul for all planes at once. Null vectors
    map to a null signature (the fold's aggregate-over-null contract)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.ascontiguousarray(planes, dtype=np.float64)
    impl = _make_sign_bits()  # closure copy: pickled by value

    @pandas_udf("array<int>")
    def _bits(vecs):  # pd.Series -> pd.Series (scalar UDF)
        import numpy as np
        import pandas as pd

        live = [
            (i, np.asarray(v, dtype=np.float64))
            for i, v in enumerate(vecs)
            if v is not None
        ]
        out: list = [None] * len(vecs)
        if live:
            X = np.stack([v for _, v in live])
            B = impl(X, P).astype(np.int32)
            for (i, _), row in zip(live, B):
                out[i] = row.tolist()
        return pd.Series(out, dtype=object)

    return _bits


def _lsh_band_keys_udf(planes, bands: int):
    """Arrow-batched signature pass emitting PACKED INTEGER band keys
    as a struct of int64 columns — band key j = Σ_r bit[j*rpb+r] << r
    over the same lsh_sign_bits sign bits (bit-identical to the fold
    spec). Fully columnar on both sides: no per-row Python lists out
    (the r9 array<int> form built a 160-element list per row — a
    measured chunk of the 2M signature wall), no element_at/concat_ws
    band construction JVM-side, and the downstream exchange sorts
    8-byte ints instead of signature strings. The key↔bit-pattern map
    is bijective, so bucketing by key partitions rows exactly as
    bucketing by the oracle's sign strings does. Callers must filter
    null vectors FIRST (they can never produce verified pairs — the
    old self-join path dropped them via NULL != NULL)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.ascontiguousarray(planes, dtype=np.float64)
    impl = _make_sign_bits()  # closure copy: pickled by value
    n_planes = P.shape[0]
    rpb = n_planes // bands
    schema = ", ".join(f"b{i} long" for i in range(bands))

    @pandas_udf(f"struct<{schema.replace(' long', ':long')}>")
    def _keys(vecs):  # pd.Series -> pd.DataFrame (scalar struct UDF)
        import numpy as np
        import pandas as pd

        if len(vecs) == 0:
            return pd.DataFrame(
                {f"b{i}": np.array([], dtype=np.int64) for i in range(bands)}
            )
        X = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        B = impl(X, P)  # (n, n_planes) int8 sign bits
        w = 1 << np.arange(rpb, dtype=np.int64)
        # surplus planes beyond bands*rpb never form a band (ADVICE
        # r10: an indivisible n_planes must not die as an opaque
        # reshape error inside the executor — the pre-r10 element_at
        # path ignored the tail, matched here)
        K = B[:, : bands * rpb].reshape(len(X), bands, rpb).astype(np.int64) @ w
        return pd.DataFrame({f"b{i}": K[:, i] for i in range(bands)})

    return _keys


# pair-generation memory bound for the LSH bucket verify: each anchor-
# block slice materializes ~this many (A, B) pair rows at once — at
# dim 64 float64 that is ~130 MB transient per slice per task, so 32
# concurrent tasks stay within a few GB even when every task hits a
# mega-bucket. A module constant so tests can shrink it to exercise
# the chunk loop.
_VERIFY_CHUNK_PAIRS = 1 << 17

# rows of verified output buffered inside a bucket-verify generator
# before a frame is yielded back to Arrow (bounds generator memory on
# pair-dense data without yielding a tiny frame per bucket run)
_VERIFY_FLUSH_ROWS = 1 << 18


def _make_bucket_kit():
    """Factory for the shared exactly-once banded-verify kit — the
    r10 embedding-LSH plan shape (one banded exchange, bucket-local
    verify, first-shared-band emission) factored so the MinHash and
    SimHash pair generators run the identical machinery (r10 VERDICT
    item 6: one kernel, three call sites, no drift).

    NESTED defs so cloudpickle serializes them BY VALUE into the
    mapInPandas closures (the repo's UDF self-containment convention —
    workers never need nano_vectordb_spark importable; see
    _make_sign_bits).

    Returns (pair_chunk_blocks, earlier_shared_band, bucket_runs):

    * pair_chunk_blocks(occ, chunk_pairs) — yields (ii, jj) index
      arrays enumerating all i<j pairs of a bucket in anchor-block
      slices of at most ~chunk_pairs pairs, so a pathological
      mega-bucket (degenerate data: thousands of identical items)
      bounds MEMORY while its quadratic true output streams out chunk
      by chunk.
    * earlier_shared_band(Kb, ii, jj, band_id) — the exactly-once
      emission predicate: True where a pair already shares a band
      BEFORE band_id and is therefore that earlier bucket's to emit.
      Kb is the (n, bands, rpb) int64 band-key tensor; band equality =
      all rpb slots equal (rpb=1 for scalar keys).
    * bucket_runs(batches, extract) — segments a mapInPandas batch
      stream, sorted by (band_id, band_key, doc_id) within its hash
      partition, into complete bucket runs; yields (band_id, arrays)
      with arrays = extract(pdf) columns sliced to the run. An Arrow
      batch boundary can cut a run anywhere, so each batch's trailing
      run is carried and reassembled (np.concatenate) against the next
      batch's head. Interior runs of occupancy 1 — the common case in
      a healthy banding regime — are skipped without materializing a
      slice."""
    import numpy as np

    def pair_chunk_blocks(occ, chunk_pairs):
        bs = max(1, chunk_pairs // occ)
        for i0 in range(0, occ - 1, bs):
            i1 = min(occ, i0 + bs)
            ii = np.repeat(np.arange(i0, i1), occ)
            jj = np.tile(np.arange(occ), i1 - i0)
            m = jj > ii
            ii, jj = ii[m], jj[m]
            if ii.size:
                yield ii, jj

    def earlier_shared_band(Kb, ii, jj, band_id):
        if band_id == 0 or ii.size == 0:
            return np.zeros(ii.shape, dtype=bool)
        return (
            (Kb[ii, :band_id, :] == Kb[jj, :band_id, :])
            .all(axis=2)
            .any(axis=1)
        )

    def bucket_runs(batches, extract):
        carry_key = None
        carry = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bid = pdf["band_id"].to_numpy()
            bkey = pdf["band_key"].to_numpy()
            arrays = extract(pdf)
            n = len(bid)
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = (bid[1:] != bid[:-1]) | (bkey[1:] != bkey[:-1])
            starts = np.flatnonzero(change)
            ends = np.r_[starts[1:], n]
            first_key = (int(bid[0]), int(bkey[0]))
            if carry_key is not None and carry_key == first_key:
                head = tuple(
                    np.concatenate([c, a[starts[0] : ends[0]]])
                    for c, a in zip(carry, arrays)
                )
            else:
                if carry_key is not None and len(carry[0]) >= 2:
                    yield carry_key[0], carry
                head = tuple(a[starts[0] : ends[0]] for a in arrays)
            if len(starts) == 1:
                # whole batch is one run: keep carrying
                carry_key, carry = first_key, head
            else:
                if len(head[0]) >= 2:
                    yield first_key[0], head
                for s0, e0 in zip(starts[1:-1], ends[1:-1]):
                    if e0 - s0 >= 2:
                        yield int(bid[s0]), tuple(a[s0:e0] for a in arrays)
                carry_key = (int(bid[starts[-1]]), int(bkey[starts[-1]]))
                carry = tuple(a[starts[-1] : ends[-1]] for a in arrays)
        if carry_key is not None and len(carry[0]) >= 2:
            yield carry_key[0], carry

    return pair_chunk_blocks, earlier_shared_band, bucket_runs


# module-level bindings of the same code objects, for unit tests
_pair_chunk_blocks, _earlier_shared_band, _bucket_runs = _make_bucket_kit()


def _bucket_verify_gen(threshold: float, bands: int):
    """mapInPandas body for the LSH bucket verify: the input stream is
    hash-partitioned AND sorted by (band_id, band_key), so each LSH
    bucket is one contiguous run; for every run the generator forms all
    i<j pairs (doc_id-ascending — the stream is also sorted by doc_id
    within the bucket) and computes the EXACT sequential-fold dot,
    vectorized ACROSS pairs instead of interpreted per pair: products
    a_d*b_d first (each one IEEE float64 op, bit-identical in any
    order), then a strict left-fold accumulation over the dimension
    index — the identical rounding sequence to
    F.aggregate(zip_with(a,b,*), 0.0, +) (pinned in tests/test_dedup),
    and the same per-dim trick operators/ivf.probe_ids_np uses for
    probe parity.

    EXACTLY-ONCE emission: each row carries ALL its band keys, and a
    surviving pair is emitted only from the FIRST band the two rows
    share (any pair sharing band b and some j < b is emitted by band
    j's bucket instead — the same pair, same deterministic dot). The
    operator therefore needs NO downstream dropDuplicates: at 2M
    vectors that exchange carried 156M pre-distinct survivor rows
    (pairs share ~6.9 bands on the near-dup-heavy fixture), and with
    this check the plan after the one banded exchange is map-only.

    An Arrow batch boundary can split a bucket run, so the trailing
    (possibly incomplete) run of each batch is carried into the next
    batch and flushed at iterator end (bucket_runs in the shared kit).
    Pair generation is chunked by anchor-row blocks so a pathological
    mega-bucket (degenerate data: thousands of identical vectors)
    bounds MEMORY at ~CHUNK pairs per slice — the wall on such data is
    inherent to its quadratic true output, but the stage never OOMs."""
    import numpy as np
    import pandas as pd

    CHUNK_PAIRS = _VERIFY_CHUNK_PAIRS  # captured at plan time
    FLUSH_ROWS = _VERIFY_FLUSH_ROWS
    pair_chunks, earlier_band, bucket_runs = _make_bucket_kit()
    key_cols = [f"b{i}" for i in range(bands)]

    def extract(pdf):
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        V = np.array(pdf["__v"].tolist(), dtype=np.float64)
        Kb = np.column_stack(
            [pdf[c].to_numpy(dtype=np.int64) for c in key_cols]
        )[:, :, None]
        return ids, V, Kb

    def to_frame(acc):
        return pd.DataFrame(
            {
                "a_id": np.concatenate(acc[0]),
                "b_id": np.concatenate(acc[1]),
                "cos_sim": np.concatenate(acc[2]),
            }
        )

    def gen(batches):
        acc: tuple[list, list, list] = ([], [], [])
        n_acc = 0
        for band_id, (ids, V, Kb) in bucket_runs(batches, extract):
            for ii, jj in pair_chunks(len(ids), CHUNK_PAIRS):
                A, B = V[ii], V[jj]
                s = np.zeros(ii.size)
                for d in range(V.shape[1]):
                    s = s + A[:, d] * B[:, d]  # strict left fold
                keep = s >= threshold
                if keep.any() and band_id > 0:
                    # first-shared-band check: drop pairs an earlier
                    # band's bucket already emitted
                    earlier = earlier_band(Kb, ii[keep], jj[keep], band_id)
                    keep[np.flatnonzero(keep)[earlier]] = False
                if keep.any():
                    acc[0].append(ids[ii[keep]])
                    acc[1].append(ids[jj[keep]])
                    acc[2].append(s[keep])
                    n_acc += int(keep.sum())
            if n_acc >= FLUSH_ROWS:
                yield to_frame(acc)
                acc = ([], [], [])
                n_acc = 0
        if acc[0]:
            yield to_frame(acc)

    return gen


def embedding_neardup_lsh(
    df: DataFrame,
    threshold: float,
    n_planes: int | None = None,
    bands: int | None = None,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """Scale path for cosine near-dup: random-hyperplane LSH blocking,
    then exact verification. Signs of n_planes fixed seeded hyperplane
    dots form a signature; docs sharing any of `bands` sign-bands
    become candidates; candidates are exactly verified at threshold.
    Output ⊆ embedding_neardup_pairs (probabilistic recall, exact
    precision) — the candidate join shuffles on band keys whose
    signature width scales with log2(N) (lsh_auto_params), so bucket
    occupancy — and with it candidate-pair work per row — stays
    bounded at any corpus size, never N^2.

    ``n_planes``/``bands`` must be given together or not at all: mixing
    one explicit value with one auto-derived value can silently yield
    1-bit band signatures (the N^2 cliff lsh_auto_params exists to
    prevent). When both are None they derive from the corpus size —
    pass ``n_rows`` (e.g. the parquet footer's num_rows) to skip the
    extra count() action; auto-params assume the UNFILTERED table so
    the DuckDB oracle (which reads the footer) derives identical
    literals."""
    import numpy as np

    if (n_planes is None) != (bands is None):
        raise ValueError(
            "pass n_planes and bands together or neither; a lone explicit "
            "value silently combines with an auto-derived one (ADVICE r8)"
        )
    # id contract (ADVICE r10): the bucket-verify kernel emits a_id/b_id
    # as int64 — fail fast on non-integral id columns instead of
    # crashing inside the executor UDF or silently retyping the output
    id_type = df.schema[id_col].dataType.typeName()
    if id_type not in ("byte", "short", "integer", "long"):
        raise TypeError(
            f"embedding_neardup_lsh requires an integral {id_col!r} "
            f"(emitted as int64 pair ids); got {id_type}"
        )
    if n_rows is None:
        n_rows = df.count()
    if n_planes is None:
        n_planes, bands = lsh_auto_params(n_rows)

    dim = len(df.select(vec_col).first()[0])
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_planes, dim))
    # one Arrow-batched signature pass emitting integer band keys as
    # struct columns (fully columnar — no per-row Python lists and no
    # element_at/concat_ws band strings, both measured costs at 2M);
    # a single downstream consumer, so no persist is needed — the UDF
    # runs exactly once per row in one linear plan. Null vectors are
    # dropped first: they can never produce verified pairs (the old
    # self-join path dropped them via NULL != NULL).
    key_cols = [f"b{i}" for i in range(bands)]
    sigs = (
        _spread(df.filter(F.col(vec_col).isNotNull()))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(vec_col).alias("__v"),
            _lsh_band_keys_udf(planes, bands)(F.col(vec_col)).alias("__k"),
        )
        .select(
            "doc_id", "__v", *[F.col(f"__k.{c}").alias(c) for c in key_cols]
        )
    )
    band_structs = [
        F.struct(F.lit(bi).alias("band_id"), F.col(key_cols[bi]).alias("band_key"))
        for bi in range(bands)
    ]
    banded = sigs.select(
        "doc_id",
        "__v",
        *key_cols,
        F.explode(F.array(*band_structs)).alias("b"),
    ).select(
        "doc_id",
        "__v",
        *key_cols,
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_key").alias("band_key"),
    )
    # BUCKET-LOCAL VERIFY, candidates never leave their task and pairs
    # emit exactly once. The candidate population is sum-over-buckets
    # C(occ, 2) — ~750M at 2M vectors — and the r9 plan already kept
    # that stream out of every exchange (verify inside the band
    # self-join stage), but paid an interpreted sequential fold per
    # pair (~28 µs·thread; ~650 s of the 790 s wall) plus a distinct
    # over 156M band-duplicated survivors. This shape removes both:
    # hash-partition the banded table on (band_id, band_key) and sort
    # each partition, so every LSH bucket is one contiguous run inside
    # one task; verify runs in NumPy (_bucket_verify_gen) — exact
    # left-fold dots vectorized across a bucket's pairs at memory-
    # bandwidth speed — and each row carries all its band keys, so a
    # surviving pair is emitted only by its FIRST shared band (no
    # dropDuplicates stage at all). The single shuffle is the banded
    # table itself: linear in N x bands, float32 vectors, int64 keys.
    # Nothing scales with the candidate count. Values are
    # bit-identical to the Catalyst fold (products then strict left
    # fold — see _bucket_verify_gen), so oracle hash parity holds.
    #
    # Exchange width: the sort buffers whole partitions of vector-
    # carrying rows, and at 2M x 10 bands the session default (32)
    # left ~190 MB per sort partition — measured GC thrash in the 8 GB
    # local heap. Size partitions to ~96 MB of banded payload instead
    # (floor: the session's shuffle.partitions, so small inputs keep
    # their default plan and full parallelism).
    default_parts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    est_bytes = n_rows * bands * (dim * 4 + 8 * bands + 48)
    n_parts = max(default_parts, -(-est_bytes // (96 << 20)))
    return (
        banded.repartition(int(n_parts), F.col("band_id"), F.col("band_key"))
        .sortWithinPartitions("band_id", "band_key", "doc_id")
        .mapInPandas(
            _bucket_verify_gen(threshold, bands),
            "a_id long, b_id long, cos_sim double",
        )
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 20_000,
) -> DataFrame:
    """Exact cosine near-dup pairs over L2-normalized embeddings
    (cosine == dot). Brute-force all-pairs — the small-scale
    VERIFICATION baseline for embedding_neardup_lsh, deliberately
    O(N^2): the ``max_rows`` guard refuses to run the cartesian beyond
    verification scale instead of silently melting a cluster. The
    default/scale path is embedding_neardup_lsh (banded candidates);
    for exact dedup at 100 TB block candidates with the IVF index
    before this verify."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"embedding_neardup_pairs is an O(N^2) verification baseline; "
            f"got {n} rows (max {max_rows}). Use embedding_neardup_lsh "
            f"(LSH blocking) or IVF-blocked verification at scale."
        )
    lhs = df.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("va"))
    rhs = df.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("vb"))
    if n <= 1:
        pairs = lhs.join(rhs, F.col("a_id") < F.col("b_id"))
        scored = pairs.select(
            "a_id", "b_id", dot_expr("va", "vb").alias("cos_sim")
        )
        return scored.filter(F.col("cos_sim") >= threshold)
    # r13 (guide §4.2 + the graphann certified-bound discipline): the
    # literal cartesian ran the INTERPRETED sequential-fold dot over
    # every one of the N(N-1)/2 pairs (measured 35.6 s warm at sf0.1's
    # 2k vectors — higher-order folds never enter codegen). Every pair
    # is still considered, but by one blocked float64 matmul against
    # the broadcast matrix (bounded: max_rows caps it at verification
    # scale by contract); only pairs whose dot + certified slack can
    # reach the threshold pay the exact fold, which still decides the
    # output. Lossless: slack = 1e-11 * (Σ|a_i*b_i| + 1) bounds the
    # f64-matmul-vs-sequential-fold reduction-order error by orders of
    # magnitude (~d*eps*Σ|a_i*b_i|), so a qualifying pair can never be
    # pruned; near-boundary pairs are settled by the exact fold.
    # Pair-set parity vs the literal cartesian is pinned in
    # tests/test_dedup.py.
    import numpy as np

    base = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .filter(F.col("v").isNotNull())  # null vectors never qualify:
        # the exact fold yields NULL, which the threshold filter drops
        .orderBy("id")
        .toPandas()
    )
    ids = base["id"].to_numpy()
    mat = np.asarray([np.asarray(v, dtype=np.float64) for v in base["v"]])
    amat = np.abs(mat)
    b = df.sparkSession.sparkContext.broadcast((ids, mat, amat))
    thr = float(threshold)
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        import numpy as np
        import pandas as pd

        ids_, mat_, amat_ = b.value
        for pdf in batches:
            out_a, out_b = [], []
            for a_id, va in zip(pdf["a_id"], pdf["va"]):
                if va is None:
                    continue
                x = np.asarray(va, dtype=np.float64)
                dots = mat_ @ x
                slack = (amat_ @ np.abs(x)) + 1.0
                keep = (dots + slack * 1e-11 >= thr) & (ids_ > a_id)
                if keep.any():
                    sel = ids_[keep]
                    out_a.extend([a_id] * len(sel))
                    out_b.extend(sel.tolist())
            yield pd.DataFrame({"a_id": out_a, "b_id": out_b})

    cand = df.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("va")
    ).mapInPandas(gen, f"a_id {id_type}, b_id {id_type}")
    scored = (
        cand.join(F.broadcast(lhs), "a_id")
        .join(F.broadcast(rhs), "b_id")
        .select("a_id", "b_id", dot_expr("va", "vb").alias("cos_sim"))
    )
    return scored.filter(F.col("cos_sim") >= threshold)


# 64-bit SimHash, materialized as two independent 32-bit halves: long
# arithmetic never exceeds 2^60 (ANSI-safe), and every engine with md5
# reproduces both halves bit-for-bit. Hamming(64) = hamming(hi) +
# hamming(lo); 16 nibble bands over the halves are exact for <= 15.
_SIMHASH64_CONSTS = ((2_654_435_761, 40_503), (2_246_822_519, 3_266_489_917))


def simhash64_udf(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, sim_hi, sim_lo): 64-bit SimHash for real-text corpora —
    the 32-bit variant saturates on large shared-vocabulary collections
    (birthday collisions at ~2^16 docs); 64 bits keeps the near-dup
    hamming gap open at corpus scale.

    Computed by a vectorized pandas UDF: 64 bit-sums as native
    expression folds cost 64 array walks per row (measured 11 s at
    sf0.1 vs 1-2 s here); the UDF does one md5 per distinct token per
    batch and all bit accumulation in NumPy. Hashes are identical to
    the expression form (md5 hex prefix), so the oracle still matches
    bit-for-bit."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    consts = _SIMHASH64_CONSTS

    # per-TASK token-hash memo, shared across the task's Arrow batches
    # (cloudpickle ships the empty dict by value; each task
    # deserializes its own copy once): token -> md5-derived 28-bit
    # hash, so md5 runs once per distinct token per task. The
    # per-batch distinctness then runs on the NUMERIC hashes
    # (np.unique over int64 — a machine sort) instead of the object
    # strings (an O(n log n) Python-string sort per batch, which was
    # the signature pass's wall once the bit matrix stopped being
    # widened). Two tokens colliding at 28 bits collapse into one
    # unique row — identical semantics, the bits depend only on the
    # hash. BOUNDED: an adversarial all-distinct-token corpus would
    # otherwise grow a long-lived task's memo without limit, so once
    # the memo passes _VOCAB_MEMO_CAP entries it is reset (correctness
    # is unaffected — the memo is a pure cache over a deterministic
    # hash; the reset only costs re-hashing tokens seen before it).
    vocab: dict = {}

    @pandas_udf("struct<sim_hi:long,sim_lo:long>")
    def _sig(texts):  # pd.Series -> pd.DataFrame (scalar struct UDF)
        # One flattened pass over the whole Arrow batch: md5 each
        # DISTINCT token once (per task), then segment-sum the gathered
        # bit rows per document with add.reduceat — no per-document
        # Python loop.
        tok_lists = [
            [t for t in (text or "").split(" ") if t] for text in texts
        ]
        lens = np.array([len(ts) for ts in tok_lists], dtype=np.int64)
        nonempty = lens > 0
        n_docs = len(tok_lists)
        if not nonempty.any():
            return pd.DataFrame(
                {"sim_hi": [None] * n_docs, "sim_lo": [None] * n_docs}
            )
        if len(vocab) > _VOCAB_MEMO_CAP:
            vocab.clear()
        vget = vocab.get

        def tok_hash(t):
            h = vget(t)
            if h is None:
                h = vocab[t] = int(
                    hashlib.md5(t.encode()).hexdigest()[:7], 16
                )
            return h

        total = int(lens.sum())
        hs_tok = np.fromiter(
            (tok_hash(t) for ts in tok_lists for t in ts),
            dtype=np.int64,
            count=total,
        )
        uh, inv = np.unique(hs_tok, return_inverse=True)
        # segment offsets over the nonempty docs only (reduceat needs
        # strictly valid starts; empty docs are filled with None below)
        seg_lens = lens[nonempty]
        offsets = np.zeros(len(seg_lens), dtype=np.int64)
        np.cumsum(seg_lens[:-1], out=offsets[1:])
        out = {}
        shifts = np.arange(32, dtype=np.uint64)
        for name, (c1, c2) in zip(("sim_hi", "sim_lo"), consts):
            # rehash + unpack per DISTINCT token, then GATHER the uint8
            # bit rows per token occurrence: the old per-occurrence form
            # materialized an int64 (total_tokens, 32) matrix (~200 MB
            # per Arrow batch per half — measured as ~10x the cost of
            # the minhash signature pass at 1M docs); the gather stays
            # uint8 (~25 MB) and reduceat accumulates in int64 without
            # materializing the widened input. Identical integer math,
            # bit-identical output.
            hu32 = ((uh * c1 + c2) % 4_294_967_296).astype(np.uint32)
            bits_u = np.unpackbits(
                hu32.view(np.uint8).reshape(-1, 4), axis=1, bitorder="little"
            )  # (n_uniq, 32), column j = bit j
            bits = bits_u[inv]  # (total_tokens, 32) uint8 gather
            ones = np.add.reduceat(
                bits, offsets, axis=0, dtype=np.int64
            )  # (n_nonempty, 32)
            positive = (2 * ones - seg_lens[:, None]) > 0  # +/-1 sums
            vals = (positive.astype(np.uint64) << shifts[None, :]).sum(axis=1)
            col = np.full(n_docs, None, dtype=object)
            col[nonempty] = [int(v) for v in vals]
            out[name] = col
        return pd.DataFrame(out)

    return (
        _spread(df.filter(F.size(tokens_expr(F.col(text_col))) > 0))
        .select(F.col(id_col).alias("doc_id"), _sig(F.col(text_col)).alias("__s"))
        .select("doc_id", "__s.sim_hi", "__s.sim_lo")
    )


def simhash64_agg(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """simhash64 as a pure-JVM explode -> md5 -> aggregate plan
    (bit-identical to the pandas-UDF form; r11 VERDICT item 4's
    prescribed head-to-head variant): explode token occurrences,
    md5-hash each occurrence JVM-side (token_hash_expr — the same
    28-bit hex-prefix definition), project the two rehashed uint32
    halves once per row, then ONE hash aggregate per doc summing the
    64 bit columns; the majority rule composes the final longs from
    the 64 sums + count. Everything stays in whole-stage codegen; the
    cost vs the UDF is one shuffle of ~65-long partial-agg rows per
    doc (the UDF form is map-only). Measured head-to-head in PERF.md
    round 12."""
    toks = tokens_expr(F.col(text_col))
    # The 65-aggregate / 64-CASE plan is built from SQL STRINGS, not
    # composed Column objects: the Column form cost ~1000 py4j round
    # trips and 1.2-2.5 s of DRIVER time per plan construction
    # (measured r12 — construction dominated the whole sf0.1 query).
    # One parsed expression string per column keeps it at ~70 calls
    # (~0.1 s) and produces the IDENTICAL resolved plan (bit-parity
    # with simhash64_udf is pinned in tests/test_dedup.py).
    # h is token_hash_expr's definition in SQL form (28-bit md5 hex
    # prefix); the two rehashed uint32 halves are projected once per
    # exploded row, so md5 evaluates twice per token occurrence.
    h = "cast(conv(substring(md5(tok), 1, 7), 16, 10) as bigint)"
    (c1h, c2h), (c1l, c2l) = _SIMHASH64_CONSTS
    # _spread: a single-file source otherwise scans as ONE partition
    # and the explode -> md5 stage (the plan's dominant compute) runs
    # single-threaded; no-op when the source already spans the cluster
    # parallelism (the 100 TB case).
    e = (
        _spread(df.filter(F.size(toks) > 0))
        .select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("tok"))
        .selectExpr(
            "doc_id",
            f"(({h} * {c1h}L + {c2h}L) % 4294967296L) AS hu_hi",
            f"(({h} * {c1l}L + {c2l}L) % 4294967296L) AS hu_lo",
        )
    )
    aggs = [F.expr("count(1) AS n")]
    for name in ("hi", "lo"):
        aggs.extend(
            F.expr(f"sum((shiftright(hu_{name}, {j}) & 1)) AS {name}{j}")
            for j in range(32)
        )
    g = e.groupBy("doc_id").agg(*aggs)

    def half_val(name: str) -> str:
        terms = " + ".join(
            f"(CASE WHEN ((2 * {name}{j}) - n) > 0 THEN {1 << j}L ELSE 0L END)"
            for j in range(32)
        )
        return f"({terms}) AS sim_{name}"

    return g.selectExpr("doc_id", half_val("hi"), half_val("lo"))


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, sim_hi, sim_lo): 64-bit SimHash — THE shipped form is
    the pure-JVM aggregate plan (simhash64_agg). r12 head-to-head at
    2M docs, same session/host: agg 23.1 s cold / 15.9 s warm vs the
    memoized pandas-UDF form (simhash64_udf) 685.8 s — the UDF's
    per-task Python tokenize + hash-memo walk dominates at corpus
    scale (it was the measured 5M cold wall of 926.6 s in r11), while
    the JVM form's only extra cost is one partial-agg shuffle of ~65
    longs per doc. Bit-identical (pinned in tests/test_dedup.py on
    fixture text and replayed on the 2M checksum)."""
    return simhash64_agg(df, text_col, id_col)


def simhash64_pairs(
    df: DataFrame,
    max_hamming: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs_hint: int | None = None,
) -> DataFrame:
    """64-bit SimHash near-dup pairs (a_id < b_id, hamming <=
    max_hamming). Band width adapts to the threshold via the COARSEST
    exact banding (pigeonhole: B bands are exact for hamming <= B-1,
    so the fewest/widest bands that satisfy B >= t+1 win): bucket
    count per band is 2^(64/B), so each halving of B squares the
    bucket count and divides per-bucket occupancy — and the bucket
    verify's candidate volume grows ~quadratically in occupancy. The
    r6 sf100 decade run (5M docs) measured the difference: 8-bit
    bands (2^8 buckets, ~19.5k docs/bucket) put pair generation in its
    quadratic regime (>20 min, killed), while the t=3-exact 16-bit
    bands (2^16 buckets, ~76 docs/bucket) keep candidates near-linear.
    At any corpus size, occupancy = n_docs / 2^(64/B): re-check the
    regime when n_docs approaches the bucket count.

    Plan shape (r11): one banded exchange, bucket-local exactly-once
    verify via the shared kit (_simhash_banded_pairs) — the r9-shape
    banded self-join and its candidate `.distinct()` are gone.

    NOTE: building the plan sizes the banded exchange from the doc
    count — when ``n_docs_hint`` is None this runs one EAGER df.count()
    Spark job at construction time. Callers composing plans lazily (or
    who already know N) pass the hint to keep construction action-free.
    """
    if max_hamming > 15:
        raise ValueError("banding is exact only for max_hamming <= 15")
    n_bands = next(b for b in (2, 4, 8, 16) if b >= max_hamming + 1)
    per_half = n_bands // 2  # bands per 32-bit half
    # the plan is one consumer chain now (no self-join), but the
    # signature table stays persisted so repeated ACTIONS on the
    # returned frame (benchmark reps, count-then-collect consumers)
    # don't re-run the signature pass — since r12 that's the JVM
    # aggregate plan (~16-23 s at 2M docs vs the retired in-path UDF's
    # 686 s), still the dominant stage ahead of the banded kernel
    return _simhash_banded_pairs(
        persist(simhash64(df, text_col, id_col)),
        max_hamming,
        ("sim_hi", "sim_lo"),
        per_half,
        32 // per_half,
        df.count() if n_docs_hint is None else int(n_docs_hint),
    )
