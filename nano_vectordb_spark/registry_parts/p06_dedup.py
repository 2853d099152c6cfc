"""Deduplication family (exact, MinHash-LSH, SimHash, embedding near-dup).

Sequential part of the registry — see registry.py (facade).
"""
from __future__ import annotations
from nano_vectordb_spark.registry_parts.p00_base import (  # noqa: F401
    DataFrame,
    F,
    K,
    SparkSession,
    Window,
    _SQL_QUERIES,
    _queries_df,
    comp_ops,
    dedup_ops,
    load_table,
    memo,
    persist,
    register,
    rerank_ops,
    tx,
)
from nano_vectordb_spark.registry_parts.p03_ivf import _ORACLE_SF  # noqa: F401
from nano_vectordb_spark.registry_parts.p00_base import _dlist  # noqa: F401
from nano_vectordb_spark.registry_parts.p05_text import (  # noqa: F401
    _SQL_EN_STOP,
    _SQL_TOKS,
    _sql_marker_hits,
    _toks_df,
)

# --------------------------------------------------------------------------
# Deduplication family (north-star extension; exact + MinHash-LSH +
# SimHash + n-gram Jaccard + embedding cosine)
# --------------------------------------------------------------------------

_JACCARD_T = 0.2
# Hamming threshold chosen from the corpus: planted near-dups land at
# hamming 0-2 under 32-bit SimHash while the background (shared small
# vocabulary) floods in from <=3 up — 2 keeps 24/25 planted pairs.
_SIMHASH_T = 2
# 64-bit: planted near-dups sit at hamming 0-3; background floods from
# ~4 up (measured ladder at sf0.001: 19 pairs <=2, 50 <=3, 148 <=4)
_SIMHASH64_T = 3
_COS_T = 0.4

def _sql_shingles(source: str = "documents") -> str:
    return f"""
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS shingles
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM {source})
  WHERE len(toks) >= 3
"""


_SQL_SHINGLES = _sql_shingles()


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_md5,
       min(doc_id) AS keep_doc_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup: one shuffle on a 16-byte key; the kept
    row is the minimum doc_id per group."""
    return dedup_ops.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
           / CAST(len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT a_id, b_id, jaccard FROM pairs WHERE jaccard >= {_JACCARD_T}
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via the shingle inverted-
    index join (scales with posting lists, not N^2; the oracle computes
    the same exact semantics all-pairs)."""
    return dedup_ops.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), _JACCARD_T
    )


def _sql_minhash_base(source: str = "documents") -> str:
    """Shared CTE prefix: shingles -> token hashes -> 16-slot MinHash
    signature -> 4-band table (identical constants to
    operators/dedup.py)."""
    perms = dedup_ops.minhash_perms(16)
    p = dedup_ops.MINHASH_P
    mins = ",\n         ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {p})) AS m{i}"
        for i, (a, b) in enumerate(perms)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {bi} AS band_id, "
        + " || '_' || ".join(f"CAST(m{bi * 4 + r} AS VARCHAR)" for r in range(4))
        + " AS band_sig FROM sig"
        for bi in range(4)
    )
    return f"""sh AS ({_sql_shingles(source)}),
hs AS (
  SELECT doc_id,
         list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 7))::BIGINT) AS hs
  FROM sh
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM hs
),
banded AS (
{band_selects}
)"""


def _sql_minhash_lsh(source: str = "documents") -> str:
    return f"""
WITH {_sql_minhash_base(source)},
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.a_id, c.b_id,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           / CAST(len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS jaccard
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a_id
  JOIN sh sb ON sb.doc_id = c.b_id
)
SELECT a_id, b_id, jaccard FROM verified WHERE jaccard >= {_JACCARD_T}
"""


@register("minhash_lsh_pairs", oracle=_sql_minhash_lsh())
@memo
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + 4-band LSH candidates, exact-Jaccard verified.
    The oracle runs the identical algorithm (same permutation
    constants), so candidate sets match exactly. The built plan is
    memoized per session: the op persists TWO frames (the shingle+
    signature base and the verified pair set), so the memo is
    load-bearing twice over — it avoids stacking persists per
    invocation AND re-running the plan-build-time sizing aggregate."""
    return dedup_ops.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), _JACCARD_T
    )


def _sql_corpus_release() -> str:
    clean = _sql_corpus_clean()
    return f"""
WITH cleaned AS ({clean}),
assigned AS (
  SELECT doc_id, n_tokens,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, n_tokens,
               ('0x' || substr(md5('split0:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100 AS bucket
        FROM cleaned)
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_md5
FROM assigned
GROUP BY split
"""


@register("corpus_release", oracle=_sql_corpus_release)
def corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone composition a dataset release runs end-to-end:
    quality filter -> language filter -> exact dedup -> near-dup
    removal (all of corpus_clean) -> deterministic train/val/test
    assignment -> per-split counts, token totals, and an md5 over the
    ordered surviving ids. Every stage is an oracle-matched primitive,
    so the release manifest itself hash-matches — membership of each
    split is proven, not sampled."""
    cleaned = corpus_clean(spark, sf_dir)
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split0:"), F.col("doc_id").cast("string"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    assigned = cleaned.select(
        "doc_id",
        "n_tokens",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )
    return assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list(F.col("doc_id"))).cast("array<string>"), ",")
        ).alias("ids_md5"),
    )


_SPLIT_SEED = "split0"

_SQL_DATA_SPLIT = f"""
WITH assigned AS (
  SELECT doc_id, n_chars,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id, n_chars,
               ('0x' || substr(md5('{_SPLIT_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT % 100 AS bucket
        FROM documents)
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS ids_md5
FROM assigned
GROUP BY split
"""


@register("data_split", oracle=_SQL_DATA_SPLIT)
def data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by keyed md5 of the
    doc id — stable under corpus growth (a doc's split never changes
    when other docs arrive), reproducible in any engine, no RNG. The
    md5 over the ordered id list proves the exact membership of every
    split, not just its size."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{_SPLIT_SEED}:"), F.col("doc_id").cast("string"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(100),
    )
    assigned = docs.select(
        "doc_id",
        "n_chars",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )
    return assigned.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.md5(
            F.array_join(F.array_sort(F.collect_list(F.col("doc_id"))).cast("array<string>"), ",")
        ).alias("ids_md5"),
    )


_SQL_BIGRAM_COMMONNESS = f"""
WITH t AS ({_SQL_TOKS}),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM t WHERE len(toks) >= 2
),
counts AS (SELECT bg, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY bg)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(min(c.c) AS BIGINT) AS min_freq,
       CAST(sum(c.c) AS DOUBLE) / count(*) AS avg_freq
FROM bg b JOIN counts c USING (bg)
GROUP BY b.doc_id
"""


@register("bigram_commonness", oracle=_SQL_BIGRAM_COMMONNESS)
def bigram_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistical fluency signal: per document, how common its
    word bigrams are in the corpus (count of bigrams, rarest-bigram
    frequency, average frequency) — the cheap stand-in for LM
    perplexity filtering that needs no model. Deliberately built on
    integer sums (exact in any order) plus one IEEE division, never a
    float log whose libm rounding differs across engines. Scale shape:
    explode -> count (map-side partial) -> posting join on the bigram,
    like every inverted-index op here."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.tokens_expr("text")
    big = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> concat(element_at(toks, i), ' ',"
                    " element_at(toks, i + 1)))"
                )
            ).alias("bg"),
        )
    )
    counts = big.groupBy("bg").agg(F.count("*").alias("c"))
    return (
        big.join(counts, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.min("c").alias("min_freq"),
            (F.sum("c").cast("double") / F.count("*")).alias("avg_freq"),
        )
    )


_UPSERT_MOD = 7

_SQL_UPSERT = f"""
WITH base AS (
  SELECT doc_id, text, lang, source, 1 AS version FROM documents
),
updates AS (
  SELECT doc_id, text || ' [v2]' AS text, lang, source, 2 AS version
  FROM documents WHERE doc_id % {_UPSERT_MOD} = 0
),
merged AS (
  SELECT * FROM base UNION ALL SELECT * FROM updates
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn
  FROM merged
)
SELECT doc_id, md5(text) AS text_md5, lang, source,
       CAST(version AS INT) AS version
FROM ranked WHERE rn = 1
"""


@register("corpus_upsert", oracle=_SQL_UPSERT)
def corpus_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus refresh by last-write-wins upsert: a batch of updated
    documents (doc_id % {_UPSERT_MOD} == 0, text amended) merges into
    the corpus, newest version winning per doc_id — the SCD-style merge
    every corpus snapshot pipeline runs. Scale shape: union + one
    shuffle on doc_id (window rank), no join; the text md5 in the
    output proves exactly which version survived."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "text", "lang", "source", F.lit(1).alias("version")
    )
    updates = docs.filter(F.col("doc_id") % _UPSERT_MOD == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" [v2]")).alias("text"),
        "lang",
        "source",
        F.lit(2).alias("version"),
    )
    merged = base.unionByName(updates)
    w = Window.partitionBy("doc_id").orderBy(F.col("version").desc())
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.md5("text").alias("text_md5"),
            "lang",
            "source",
            F.col("version").cast("int").alias("version"),
        )
    )


_VOCAB_TOP = 100

_SQL_VOCAB = f"""
WITH t AS ({_SQL_TOKS}),
terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
agg AS (
  SELECT term,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM terms GROUP BY term
)
SELECT term, n_occurrences, n_docs,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, term ASC) AS INT) AS rank
FROM agg
ORDER BY n_occurrences DESC, term ASC
LIMIT {_VOCAB_TOP}
"""


@register("vocab_top_terms", oracle=_SQL_VOCAB)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-{_VOCAB_TOP} terms by occurrence count
    with document frequency — the input a tokenizer-training or
    stopword-selection pass needs. Scale shape: explode -> hash
    aggregate (count partials map-side before the term shuffle), then
    a TakeOrdered top-k; the full vocabulary never sorts globally.
    Window rank over {_VOCAB_TOP} surviving rows is driver-trivial."""
    docs = load_table(spark, sf_dir, "documents")
    agg = (
        docs.select(F.explode(tx.tokens_expr("text")).alias("term"), "doc_id")
        .groupBy("term")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
        .limit(_VOCAB_TOP)
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("term").asc())
    return agg.withColumn("rank", F.row_number().over(w))


_SQL_TEXT_NORM = """
SELECT doc_id,
       md5(norm) AS norm_md5,
       CAST(length(norm) AS BIGINT) AS n_chars_norm
FROM (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[ \t\n\r]+', ' ', 'g')) AS norm
  FROM documents
)
"""


@register("text_normalize", oracle=_SQL_TEXT_NORM)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (corpus-cleaning stage): lowercase, collapse
    all whitespace runs to one space, trim. Pure native expressions —
    zero shuffle, whole-stage codegen; the md5 of the normalized text
    proves byte-identical output across engines without shipping the
    text column through the gate."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[ \t\n\r]+", " ")
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("long").alias("n_chars_norm"),
    )


_MMR_POOL = 50

_SQL_MMR = f"""
WITH RECURSIVE
q AS ({_SQL_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]),
                          CAST(q.embedding AS DOUBLE[])) AS score
  FROM embeddings e CROSS JOIN q
),
cand AS (
  SELECT query_id, vec_id, score FROM (
    SELECT query_id, vec_id, score,
           row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, vec_id ASC) AS rn
    FROM scored) WHERE rn <= {_MMR_POOL}
),
norms AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
           x -> x / sqrt(list_aggregate(
             list_transform(CAST(embedding AS DOUBLE[]), y -> y * y),
             'sum'))) AS en
  FROM embeddings
),
cn AS (
  SELECT c.query_id, c.vec_id, c.score, n.en
  FROM cand c JOIN norms n USING (vec_id)
),
sel(query_id, step, vec_id, score, selected) AS (
  SELECT query_id, 1, vec_id, score, [vec_id]
  FROM (SELECT query_id, vec_id, score,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, vec_id ASC) AS rn
        FROM cn) WHERE rn = 1
  UNION ALL
  SELECT s.query_id, s.step + 1, pick.vec_id, pick.score,
         list_append(s.selected, pick.vec_id)
  FROM sel s, LATERAL (
    SELECT c.vec_id, c.score
    FROM cn c
    WHERE c.query_id = s.query_id
      AND NOT list_contains(s.selected, c.vec_id)
    ORDER BY 0.5 * c.score - 0.5 * (
        SELECT max(list_dot_product(c.en, c2.en))
        FROM cn c2
        WHERE c2.query_id = s.query_id
          AND list_contains(s.selected, c2.vec_id)
      ) DESC, c.vec_id ASC
    LIMIT 1) pick
  WHERE s.step < {K}
)
SELECT query_id, vec_id, score, CAST(step AS INT) AS mmr_rank FROM sel
"""


@register("topk_mmr", oracle=_SQL_MMR)
def topk_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified search: MMR rerank (operators/rerank.py) of the
    two-phase top-{_MMR_POOL} candidate head down to {K} results per
    query with lambda=0.5 (exact dyadic — no decimal-literal rounding
    risk). The greedy is driver-side NumPy over the head only — zero
    extra Spark jobs, like IVF probing — and the oracle replays every
    selection decision in a DuckDB recursive CTE with LATERAL argmax,
    bit-exact thanks to sequential-fold dots and per-element
    normalization."""
    return rerank_ops.mmr_rerank(
        load_table(spark, sf_dir, "embeddings"),
        _queries_df(spark, sf_dir),
        K,
        pool=_MMR_POOL,
    )


_CM_TOP = 20

_SQL_HEAVY_HITTERS = f"""
WITH t AS ({_SQL_TOKS}),
terms AS (SELECT unnest(toks) AS term FROM t),
tc AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM terms GROUP BY term),
rows_(r) AS (VALUES (0), (1), (2), (3)),
cells AS (
  SELECT r.r AS row,
         CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || term), 1, 7))::BIGINT
              % 1024 AS INT) AS bucket,
         CAST(sum(n) AS BIGINT) AS n
  FROM tc, rows_ r
  GROUP BY 1, 2
),
top AS (SELECT term, n AS true_n FROM tc ORDER BY n DESC, term ASC LIMIT {_CM_TOP}),
lk AS (
  SELECT term, true_n, r.r AS row,
         CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || term), 1, 7))::BIGINT
              % 1024 AS INT) AS bucket
  FROM top, rows_ r
)
SELECT lk.term, lk.true_n, CAST(min(c.n) AS BIGINT) AS est_n,
       CAST(min(c.n) - lk.true_n AS BIGINT) AS overcount
FROM lk JOIN cells c ON c.row = lk.row AND c.bucket = lk.bucket
GROUP BY lk.term, lk.true_n
"""


@register("heavy_hitters_cm", oracle=_SQL_HEAVY_HITTERS)
def heavy_hitters_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters (operators/sketch.cm_sketch): the
    mergeable frequency summary next to the HLL distinct sketch. The
    sketch is at most depth x width cells built from map-side-partial
    term counts; per-partition (or per-day) sketches merge by cell-wise
    addition without rescanning, and point estimates never
    underestimate (overcount >= 0 by construction). md5 bucket
    arithmetic makes the whole sketch — and every estimate — replayable
    in DuckDB exactly."""
    from nano_vectordb_spark.operators import sketch as sketch_ops

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select(F.explode(tx.tokens_expr("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    sk = sketch_ops.cm_sketch(tc)
    top = tc.orderBy(F.col("n").desc(), F.col("term").asc()).limit(_CM_TOP)
    est = sketch_ops.cm_estimate(sk, top.select("term"))
    return top.withColumnRenamed("n", "true_n").join(est, "term").select(
        "term",
        "true_n",
        "est_n",
        (F.col("est_n") - F.col("true_n")).alias("overcount"),
    )


_INCR_MOD = 10  # doc_id % 10 == 0 stands in for the incoming batch


def _sql_minhash_incremental() -> str:
    return f"""
WITH {_sql_minhash_base()},
cand AS (
  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig
   AND a.doc_id % {_INCR_MOD} = 0 AND b.doc_id % {_INCR_MOD} <> 0
),
verified AS (
  SELECT c.new_id, c.corpus_id,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           / CAST(len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS jaccard
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.new_id
  JOIN sh sb ON sb.doc_id = c.corpus_id
)
SELECT new_id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_corpus_dups,
       max(jaccard) AS max_jaccard
FROM verified WHERE jaccard >= {_JACCARD_T}
GROUP BY new_id
"""


@register("dedup_incremental", oracle=_sql_minhash_incremental())
@memo
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: flag incoming-batch docs (doc_id %
    {_INCR_MOD} == 0 stands in for the new batch) that near-duplicate
    the existing corpus (operators/dedup.minhash_lsh_incremental).
    The production shape for continuous ingestion: only batch x corpus
    candidates are generated — the corpus band table is built once and
    persisted alongside the corpus, so per-ingest cost scales with the
    batch, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % _INCR_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % _INCR_MOD != 0)
    # memoized like minhash_lsh_pairs: the op persists its two
    # signature DataFrames, so re-running the entry per gate/bench
    # invocation would re-persist both sides
    return dedup_ops.minhash_lsh_incremental(corpus, batch, _JACCARD_T)


# component = min reachable id; DuckDB walks the transitive closure
# recursively (fine at oracle scale), Spark runs log-diameter
# min-label propagation (operators/components.py)
_SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({_sql_minhash_lsh()}),
e AS (
  SELECT a_id AS s, b_id AS d FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
walk(id, r) AS (
  SELECT s, d FROM e
  UNION
  SELECT w.id, e2.d FROM walk w JOIN e e2 ON w.r = e2.s
),
comp AS (
  SELECT id, least(id, min(r)) AS component FROM walk GROUP BY id
),
sizes AS (
  SELECT component, CAST(count(*) AS BIGINT) AS group_size
  FROM comp GROUP BY component
)
SELECT CAST(c.id AS BIGINT) AS id, CAST(c.component AS BIGINT) AS component,
       s.group_size, c.id = c.component AS keep
FROM comp c JOIN sizes s USING (component)
"""


@register("dedup_components", oracle=_SQL_DEDUP_COMPONENTS)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUP resolution: MinHash-LSH pairs -> connected
    components -> one keeper per cluster. Duplicates are transitive,
    so corpus cleaning must decide keep/drop per component, not per
    pair (pairwise removal over-deletes or leaves transitive dups).
    Spark side: log-diameter min-label propagation with pointer
    jumping over the label table (operators/components.py); oracle
    walks the same graph's transitive closure with a recursive CTE."""
    edges = minhash_lsh_pairs(spark, sf_dir)
    return comp_ops.dedup_groups(edges)


def _sql_simhash_pairs() -> str:
    bit_sums = ",\n         ".join(
        f"list_aggregate(list_transform(th, h -> CASE WHEN (h >> {j}) & 1 = 1 "
        f"THEN 1 ELSE -1 END), 'sum') AS s{j}"
        for j in range(32)
    )
    val = " + ".join(f"CASE WHEN s{j} > 0 THEN {2**j}::BIGINT ELSE 0 END" for j in range(32))
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
th AS (
  SELECT doc_id,
         list_transform(toks, x ->
           ((('0x' || substr(md5(x), 1, 7))::BIGINT * 2654435761 + 40503) % 4294967296)) AS th
  FROM t WHERE len(toks) > 0
),
sums AS (
  SELECT doc_id,
         {bit_sums}
  FROM th
),
sh AS (SELECT doc_id, {val} AS simhash FROM sums)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_T}
"""


def _sql_simhash64_pairs() -> str:
    halves = []
    for name, (c1, c2) in zip(("hi", "lo"), dedup_ops._SIMHASH64_CONSTS):
        bit_sums = ",\n         ".join(
            f"list_aggregate(list_transform(th_{name}, h -> CASE WHEN (h >> {j}) & 1 = 1 "
            f"THEN 1 ELSE -1 END), 'sum') AS s_{name}{j}"
            for j in range(32)
        )
        val = " + ".join(
            f"CASE WHEN s_{name}{j} > 0 THEN {2**j}::BIGINT ELSE 0 END"
            for j in range(32)
        )
        halves.append((name, c1, c2, bit_sums, val))
    th_cols = ",\n         ".join(
        f"list_transform(toks, x -> ((('0x' || substr(md5(x), 1, 7))::BIGINT "
        f"* {c1} + {c2}) % 4294967296)) AS th_{name}"
        for name, c1, c2, _, _ in halves
    )
    all_sums = ",\n         ".join(h[3] for h in halves)
    all_vals = ", ".join(f"{h[4]} AS sim_{h[0]}" for h in halves)
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
th AS (
  SELECT doc_id,
         {th_cols}
  FROM t WHERE len(toks) > 0
),
sums AS (
  SELECT doc_id,
         {all_sums}
  FROM th
),
sh AS (SELECT doc_id, {all_vals} FROM sums)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.sim_hi, b.sim_hi))
            + bit_count(xor(a.sim_lo, b.sim_lo)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo))
      <= {_SIMHASH64_T}
"""


@register("simhash64_pairs", oracle=_sql_simhash64_pairs())
@memo
def simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs at hamming <= 3 — the real-corpus
    variant (32 bits saturates once shared-vocabulary collections grow
    past ~2^16 docs; measured here: t=3 admits 50 pairs at sf0.001 vs
    901 for 32-bit t=2). Spark generates candidates with the 16-nibble
    band join (exact for hamming <= 15 by pigeonhole); the oracle
    checks all pairs — identical result sets.

    Memoized per session (the minhash_lsh_pairs
    convention): plan construction runs an eager df.count() to size
    the banded exchange (the documented n_docs_hint contract), so
    re-invocation otherwise pays one Spark job + plan build per rep."""
    return dedup_ops.simhash64_pairs(
        load_table(spark, sf_dir, "documents"), _SIMHASH64_T
    )


@register("simhash_pairs", oracle=_sql_simhash_pairs())
@memo
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash near-dup pairs at hamming <= 2. Spark generates
    pairs with the 8-nibble band join (exact for hamming <= 7 by
    pigeonhole); the oracle checks all pairs — identical result sets.
    Memoized per session — see simhash64_pairs."""
    return dedup_ops.simhash_pairs(
        load_table(spark, sf_dir, "documents"), _SIMHASH_T
    )


@register(
    "embedding_neardup_pairs",
    oracle=f"""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= {_COS_T}
""",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs (cosine == dot on the
    normalized table). Brute-force all-pairs VERIFICATION baseline —
    guarded to verification scale (operator raises beyond 20k rows);
    the default path at scale is embedding_neardup_lsh."""
    return dedup_ops.embedding_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), _COS_T
    )


def _lsh_oracle() -> str:
    """DuckDB replay of the hyperplane-LSH near-dup path: the seeded
    hyperplanes are embedded as literals; sign-band blocking, candidate
    join and exact cosine verify re-run in SQL. This makes the SCALE
    path the oracle-checked one (the brute-force all-pairs sibling is
    the sf-small verification baseline)."""
    import numpy as np
    import pyarrow.parquet as papq

    from nano_vectordb_spark.operators.dedup import lsh_auto_params

    tbl = papq.read_table(f"{_ORACLE_SF}/embeddings.parquet", columns=["embedding"])
    # identical parameter derivation to the Spark side (shared
    # lsh_auto_params, N = the same table's row count), so the seeded
    # hyperplane literals match at EVERY fixture scale — the r8 sf10
    # sweep runs this entry at 200k vectors with log-scaled signatures
    n_planes, bands = lsh_auto_params(tbl.num_rows)
    seed = 42
    rpb = n_planes // bands
    dim = len(tbl.column("embedding")[0])
    planes = np.random.default_rng(seed).normal(size=(n_planes, dim))
    values = ",\n    ".join(f"({i}, {_dlist(p)})" for i, p in enumerate(planes))
    return f"""
WITH planes(plane_id, v) AS (VALUES
    {values}),
bits AS (
  SELECT e.vec_id, p.plane_id,
         CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), p.v) > 0
              THEN 1 ELSE 0 END AS bit
  FROM embeddings e CROSS JOIN planes p
),
bands AS (
  SELECT vec_id, plane_id // {rpb} AS band_id,
         string_agg(CAST(bit AS VARCHAR), '' ORDER BY plane_id) AS band_sig
  FROM bits GROUP BY vec_id, plane_id // {rpb}
),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
             AND a.vec_id < b.vec_id
)
SELECT c.a_id, c.b_id,
       list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                        CAST(eb.embedding AS DOUBLE[])) AS cos_sim
FROM cand c
JOIN embeddings ea ON ea.vec_id = c.a_id
JOIN embeddings eb ON eb.vec_id = c.b_id
WHERE list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                       CAST(eb.embedding AS DOUBLE[])) >= {_COS_T}
"""


@register("embedding_neardup_lsh", oracle=_lsh_oracle)
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH blocking + exact verify — THE default
    embedding near-dup path at scale (banded candidate join, never
    N^2). Oracle: DuckDB replays blocking + verify against the seeded
    hyperplane literals. Probabilistic recall, exact precision; the
    subset relation vs brute force is tested in tests/test_dedup.py."""
    return dedup_ops.embedding_neardup_lsh(
        load_table(spark, sf_dir, "embeddings"), _COS_T
    )


_QUALITY_T = 0.75


def _sql_corpus_clean() -> str:
    quality = (
        "0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 64.0) "
        "+ 0.3 * (1.0 - stopword_ratio) + 0.2 * (1.0 - punct_ratio)"
    )
    return f"""
WITH t AS ({_SQL_TOKS}),
m AS (
  SELECT doc_id, text,
         CAST(len(toks) AS INT) AS n_tokens,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, x -> list_contains([{_SQL_EN_STOP}], x))) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
         CASE WHEN length(lower(text)) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                   / CAST(length(lower(text)) AS DOUBLE) END AS punct_ratio,
         {_sql_marker_hits("en")} AS en_hits,
         {_sql_marker_hits("de")} AS de_hits,
         {_sql_marker_hits("es")} AS es_hits,
         {_sql_marker_hits("fr")} AS fr_hits
  FROM t
),
s AS (
  SELECT doc_id, text, n_tokens, {quality} AS quality,
         CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
              WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
              WHEN es_hits >= fr_hits THEN 'es'
              ELSE 'fr' END AS pred_lang
  FROM m
),
f AS (
  SELECT doc_id, text, n_tokens, quality FROM s
  WHERE quality >= {_QUALITY_T} AND pred_lang = 'en'
),
u AS (
  SELECT * FROM f
  WHERE doc_id IN (SELECT min(doc_id) FROM f GROUP BY md5(text))
),
pairs AS ({_sql_minhash_lsh("u")})
SELECT doc_id, n_tokens, quality FROM u
WHERE doc_id NOT IN (SELECT b_id FROM pairs)
ORDER BY doc_id
"""


@register("corpus_clean", oracle=_sql_corpus_clean())
@memo
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus cleaning — the composition a 100 TB
    pre-training pipeline actually runs: quality filter -> language
    filter -> exact dedup -> MinHash-LSH near-dup removal (drop the
    higher doc_id of each verified pair). Every stage reuses an
    oracle-matched primitive, so the whole pipeline hash-matches.

    Scale shape: the filters are scan-local (no shuffle); exact dedup is
    one shuffle on a 16-byte hash; LSH is the banded shuffle from
    minhash_lsh_pairs; the final removals are a broadcast anti-join.

    r12: the quality/lang stage runs via tx.scored_docs — ONE
    Arrow-batched integer-profile pass instead of five interpreted
    token folds evaluated twice (filter + project); hash-identical by
    the parity contract in functions/text.py (2M docs: 36 s -> 5 s).

    The built plan is memoized per session — the same
    convention as minhash_lsh_pairs, load-bearing twice over: each
    invocation otherwise stacks FOUR persists (uniq + the LSH op's
    shingle/signature/candidate frames) and re-runs the two eager
    plan-build jobs (shingle-payload sizing, dispatch occupancy
    estimate), which measured 0.87 s of the query's 1.4 s warm wall
    at sf0.1."""
    scored = tx.scored_docs(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    filt = scored.filter(
        (F.col("quality") >= _QUALITY_T) & (F.col("pred_lang") == "en")
    ).drop("pred_lang")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    # uniq feeds BOTH the LSH pair generation and the final anti-join:
    # persist so the filter/dedup pipeline runs once
    uniq = persist(
        filt.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    pairs = dedup_ops.minhash_lsh_pairs(uniq.select("doc_id", "text"), _JACCARD_T)
    removed = pairs.select(F.col("b_id").alias("doc_id")).distinct()
    return (
        uniq.join(F.broadcast(removed), "doc_id", "left_anti")
        .select("doc_id", "n_tokens", "quality")
        .orderBy("doc_id")
    )




# --------------------------------------------------------------------------
# r11: LSH observability — the two numbers an operator watches when the
# near-dup pass scales (both over the SAME banded table the pair
# generators bucket on, so they diagnose the real plan, not a model)
# --------------------------------------------------------------------------


def _sql_minhash_band_occupancy() -> str:
    return f"""
WITH {_sql_minhash_base()},
occ AS (
  SELECT band_id, band_sig, count(*) AS c
  FROM banded GROUP BY band_id, band_sig
)
SELECT band_id,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(c) AS BIGINT) AS max_occupancy,
       CAST(sum(c * (c - 1) // 2) AS BIGINT) AS candidate_pairs
FROM occ GROUP BY band_id
"""


@register("minhash_band_occupancy", oracle=_sql_minhash_band_occupancy())
def minhash_band_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-occupancy profile of the MinHash LSH banding — per band:
    bucket count, max occupancy, and the candidate-pair volume
    sum-over-buckets C(occ, 2) the bucket verify will pay. THE
    quadratic-regime health check the dedup docstrings prescribe
    ("re-check the regime when n_docs approaches the bucket count"):
    at 100 TB this one cheap aggregate — two shuffles over the banded
    table, nothing pairwise — is what says whether the near-dup pass
    is still in its linear regime BEFORE committing the cluster to it
    (the r6 sf100 decade run measured the cliff: ~19.5k docs/bucket
    put pair generation >20 min; ~76 docs/bucket kept it linear)."""
    state = dedup_ops.minhash_band_state(
        load_table(spark, sf_dir, "documents")
    )
    occ = state.groupBy("band_id", "band_sig").agg(F.count("*").alias("c"))
    return occ.groupBy("band_id").agg(
        F.count("*").alias("n_buckets"),
        F.max("c").alias("max_occupancy"),
        F.sum(F.expr("c * (c - 1) DIV 2")).alias("candidate_pairs"),
    )


def _sql_neardup_first_band_profile() -> str:
    lsh = _sql_minhash_lsh()
    return f"""
WITH kept AS ({lsh}),
{_sql_minhash_base()},
shared AS (
  SELECT v.a_id, v.b_id, ba.band_id
  FROM kept v
  JOIN banded ba ON ba.doc_id = v.a_id
  JOIN banded bb ON bb.doc_id = v.b_id
   AND bb.band_id = ba.band_id AND bb.band_sig = ba.band_sig
)
SELECT first_band, CAST(count(*) AS BIGINT) AS n_pairs
FROM (SELECT a_id, b_id, min(band_id) AS first_band
      FROM shared GROUP BY a_id, b_id)
GROUP BY first_band
"""


@register("neardup_first_band_profile", oracle=_sql_neardup_first_band_profile())
def neardup_first_band_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which band EMITS each verified near-dup pair — the declarative
    witness of the r11 exactly-once emission rule (a pair belongs to
    its first truly-shared band) and the LSH tuning signal: bands
    whose first-emission count is ~0 add recall nobody uses, so their
    slots could widen the remaining bands instead. Computed OUTSIDE
    the kernel — pairs from the gated generator, first-shared-band by
    joining the pair set back to the banded state — so the oracle
    hash-match proves the kernel's in-stream rule coincides with the
    independent SQL definition. Scale shape: the joins carry only the
    verified PAIR set (tiny next to the corpus) against the banded
    state; the pair side is broadcast."""
    pairs = minhash_lsh_pairs(spark, sf_dir).select("a_id", "b_id")
    state = dedup_ops.minhash_band_state(
        load_table(spark, sf_dir, "documents")
    )
    b1 = state.select(
        F.col("doc_id").alias("a_id"), "band_id", "band_sig"
    )
    b2 = state.select(
        F.col("doc_id").alias("b_id"), "band_id", "band_sig"
    )
    shared = F.broadcast(pairs).join(b1, "a_id").join(
        F.broadcast(b2.join(
            F.broadcast(pairs.select("b_id").distinct()), "b_id", "left_semi"
        )),
        ["b_id", "band_id", "band_sig"],
    )
    first = shared.groupBy("a_id", "b_id").agg(
        F.min("band_id").alias("first_band")
    )
    return first.groupBy("first_band").agg(F.count("*").alias("n_pairs"))


def _sql_minhash_dispatch_decision() -> str:
    f = dedup_ops.LIGHT_CANDIDATES_PER_DOC
    return f"""
WITH {_sql_minhash_base()},
occ AS (
  SELECT band_id, band_sig, count(*) AS c
  FROM banded GROUP BY band_id, band_sig
),
agg AS (
  SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS est_candidates,
         CAST(sum(c) AS BIGINT) // 4 AS n_docs
  FROM occ
)
SELECT est_candidates, n_docs,
       round(CASE WHEN n_docs = 0 THEN 0.0
                  ELSE CAST(est_candidates AS DOUBLE) / CAST(n_docs AS DOUBLE)
             END, 6) AS candidates_per_doc,
       CASE WHEN est_candidates <= {f} * n_docs THEN 'join' ELSE 'kernel' END
         AS chosen_plan
FROM agg
"""


@register("minhash_dispatch_decision", oracle=_sql_minhash_dispatch_decision())
def minhash_dispatch_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r12 density-adaptive dispatch, exposed as one auditable row:
    Σ_buckets C(occ, 2) over the banded MinHash table (the
    minhash_band_occupancy decision variable, totalled), docs in the
    banding, candidates/doc, and the plan minhash_lsh_pairs(plan=
    "auto") takes at LIGHT_CANDIDATES_PER_DOC — "join" only when the
    corpus is provably light, the exactly-once kernel when heavy. At
    100 TB this is the one cheap aggregate an operator reads BEFORE
    committing the cluster to a near-dup pass (the in-op estimate runs
    the same arithmetic over xxhash64 band keys; this audit row uses
    the exact string banding so the oracle replays it verbatim)."""
    state = dedup_ops.minhash_band_state(
        load_table(spark, sf_dir, "documents")
    )
    occ = state.groupBy("band_id", "band_sig").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = occ.agg(
        F.sum(F.expr("c * (c - 1) DIV 2")).alias("est_candidates"),
        (F.sum("c") / F.lit(4)).cast("long").alias("n_docs"),
    )
    light = F.col("est_candidates") <= (
        F.lit(dedup_ops.LIGHT_CANDIDATES_PER_DOC) * F.col("n_docs")
    )
    return agg.select(
        "est_candidates",
        "n_docs",
        F.round(
            F.when(F.col("n_docs") == 0, F.lit(0.0)).otherwise(
                F.col("est_candidates").cast("double")
                / F.col("n_docs").cast("double")
            ),
            6,
        ).alias("candidates_per_doc"),
        F.when(light, F.lit("join")).otherwise(F.lit("kernel")).alias(
            "chosen_plan"
        ),
    )
