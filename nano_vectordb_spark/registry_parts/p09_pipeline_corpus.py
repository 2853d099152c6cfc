"""Training-data pipeline: sampling, mixtures, packing, PII, corpus hygiene, hybrid retrieval.

Sequential part of the registry — see registry.py (facade).
"""
from __future__ import annotations
from nano_vectordb_spark.registry_parts.p00_base import (  # noqa: F401
    DataFrame,
    F,
    K,
    SEED,
    SparkSession,
    Window,
    _SQL_QUERIES,
    _queries_df,
    dedup_ops,
    ivf_ops,
    lexical_ops,
    load_table,
    memo,
    pipe_ops,
    register,
    text_ops,
    topk_ops,
    tx,
)
from nano_vectordb_spark.registry_parts.p03_ivf import (  # noqa: F401
    _IVF_NPROBE,
    _ivf_index,
    _ivf_oracle,
)
from nano_vectordb_spark.registry_parts.p05_text import (  # noqa: F401
    _EMBED_DIM,
    _SQL_EN_STOP,
    _SQL_TOKS,
    _sql_embed_ctes,
    _toks_df,
)

# --------------------------------------------------------------------------
# Training-data pipeline: stratified sampling, mixture weighting,
# sequence packing, BM25 lexical search (operators/pipeline.py,
# operators/lexical.py)
# --------------------------------------------------------------------------

_STRAT_N = 20

_SQL_STRATIFIED = f"""
SELECT doc_id, lang, source, n_chars, CAST(rn AS INT) AS sample_rank FROM (
  SELECT doc_id, lang, source, n_chars,
         row_number() OVER (PARTITION BY lang
           ORDER BY md5('{SEED}:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
  FROM documents)
WHERE rn <= {_STRAT_N}
"""


@register("sample_stratified", oracle=_SQL_STRATIFIED)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded stratified sample: {_STRAT_N} docs per language (the
    per-stratum analog of reference O21 seeded query sampling,
    tools/nvdb_make_query.cpp:56-75). One shuffle on the stratum key."""
    docs = load_table(spark, sf_dir, "documents")
    s = pipe_ops.stratified_sample(docs, "lang", _STRAT_N, seed=SEED)
    return s.select("doc_id", "lang", "source", "n_chars", "sample_rank")


_SHUFFLE_SEED = "epoch0"
_SHUFFLE_SHARDS = 8

_SQL_SHUFFLE = f"""
WITH k AS (
  SELECT doc_id,
         md5('{_SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS key
  FROM documents
)
SELECT doc_id,
       CAST(('0x' || substr(key, 1, 15))::BIGINT % {_SHUFFLE_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (
         PARTITION BY ('0x' || substr(key, 1, 15))::BIGINT % {_SHUFFLE_SHARDS}
         ORDER BY key, doc_id) AS INT) AS pos
FROM k
"""


@register("corpus_shuffle", oracle=_SQL_SHUFFLE)
def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle into {_SHUFFLE_SHARDS} training
    shards (operators/pipeline.seeded_shuffle): keyed-md5 shard
    assignment + within-shard position. The scale-correct global
    permutation — per-shard window sorts, never a one-reducer global
    rank."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return pipe_ops.seeded_shuffle(
        docs, seed=_SHUFFLE_SEED, n_shards=_SHUFFLE_SHARDS
    ).select("doc_id", "shard", "pos")


# target mixture shares: source src{i} gets weight i+1 (normalized) — a
# deliberately non-uniform plan so every keep_rate is distinct
_MIX_SHARES = {f"src{i}": float(i + 1) for i in range(20)}
_MIX_TOTAL = sum(_MIX_SHARES.values())

# CAST('…' AS DOUBLE) from a *string*: DuckDB types bare decimal
# literals as DECIMAL and its decimal->double cast double-rounds, both
# off Spark's double literal by 1 ulp; string->double parsing is
# correctly rounded, so the repr round-trips bit-exactly
_SQL_MIX_TGT = ",\n    ".join(
    f"('{s}', CAST('{v / _MIX_TOTAL!r}' AS DOUBLE))"
    for s, v in sorted(_MIX_SHARES.items())
)

_SQL_MIX_WEIGHTS_CTES = f"""
toks_m AS (
  SELECT doc_id, source, lang, n_chars,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
per_src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM toks_m GROUP BY source
),
tgt(source, target_share) AS (VALUES
    {_SQL_MIX_TGT}),
shares AS (
  SELECT p.source, p.n_docs, p.n_tokens,
         CAST(p.n_tokens AS DOUBLE) / CAST(sum(p.n_tokens) OVER () AS DOUBLE) AS natural_share,
         g.target_share
  FROM per_src p JOIN tgt g USING (source)
),
rated AS (
  SELECT *, target_share / natural_share AS rate_raw FROM shares
),
weights AS (
  SELECT source, n_docs, n_tokens, natural_share, target_share,
         rate_raw / max(rate_raw) OVER () AS keep_rate
  FROM rated
)"""


@register(
    "mixture_weights",
    oracle=f"""
WITH {_SQL_MIX_WEIGHTS_CTES}
SELECT * FROM weights
""",
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mixture plan: per-source token counts, natural vs target
    share, downsample-only keep rates. One aggregation shuffle; the
    share math runs over the 20-row per-source aggregate."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tx.tokens_expr("text")).cast("long")
    )
    return pipe_ops.mixture_weights(docs, _MIX_SHARES)


@register(
    "mixture_sample",
    oracle=f"""
WITH {_SQL_MIX_WEIGHTS_CTES}
SELECT d.doc_id, d.source, d.lang, d.n_chars
FROM documents d JOIN weights w USING (source)
WHERE CAST(('0x' || substr(md5('{SEED}:' || CAST(d.doc_id AS VARCHAR)), 1, 7))::BIGINT AS DOUBLE)
      / 268435456.0 < w.keep_rate
""",
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realize the mixture plan: deterministic keyed-hash Bernoulli
    thinning against the broadcast keep-rate table — map-only over the
    corpus, no shuffle."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tx.tokens_expr("text")).cast("long")
    )
    w = pipe_ops.mixture_weights(docs, _MIX_SHARES)
    s = pipe_ops.mixture_sample(docs, w, seed=SEED)
    return s.select("doc_id", "source", "lang", "n_chars")


_PACK_BUDGET = 256
_PACK_BUCKETS = 8


_SQL_PACK_CTES = f"""WITH RECURSIVE toks_p AS (
  SELECT doc_id, doc_id % {_PACK_BUCKETS} AS bucket,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
o AS (
  SELECT bucket, doc_id, n_tokens,
         row_number() OVER (PARTITION BY bucket ORDER BY doc_id ASC) AS rn
  FROM toks_p
),
packed AS (
  SELECT bucket, rn, doc_id, n_tokens, 0 AS pack_id, n_tokens AS acc
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.bucket, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN p.acc + o.n_tokens > {_PACK_BUDGET} THEN p.pack_id + 1 ELSE p.pack_id END,
         CASE WHEN p.acc + o.n_tokens > {_PACK_BUDGET} THEN o.n_tokens ELSE p.acc + o.n_tokens END
  FROM packed p JOIN o ON o.bucket = p.bucket AND o.rn = p.rn + 1
)"""


@register(
    "pack_sequences",
    oracle=f"""
{_SQL_PACK_CTES}
SELECT bucket, CAST(pack_id AS INT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id ASC), ',') AS doc_ids
FROM packed GROUP BY bucket, pack_id
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into {_PACK_BUDGET}-token packs across
    {_PACK_BUCKETS} parallel hash buckets; the per-bucket fold is a
    native JVM aggregate (no Python). Oracle: the identical greedy
    recurrence as a DuckDB recursive CTE."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tx.tokens_expr("text")).cast("long")
    )
    return pipe_ops.pack_sequences(docs, _PACK_BUDGET, _PACK_BUCKETS)


_BM25_QUERIES = [
    (0, ["hash", "join"]),
    (1, ["window", "sort", "stream"]),
    (2, ["batch", "scan", "merge", "part"]),
]
_BM25_K = 10


def _bm25_oracle(k: int = _BM25_K) -> str:
    from nano_vectordb_spark.operators.lexical import B, K1

    vocab = sorted({t for _, terms in _BM25_QUERIES for t in terms})
    vlist = ", ".join(f"'{t}'" for t in vocab)
    qvals = ",\n    ".join(
        f"({qid}, '{t}')" for qid, terms in _BM25_QUERIES for t in terms
    )
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
d AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         list_filter(toks, x -> list_contains([{vlist}], x)) AS qtoks
  FROM t
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM d
),
posting AS (SELECT doc_id, dl, unnest(qtoks) AS term FROM d),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
  FROM posting GROUP BY doc_id, term
),
idf AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
qmap(query_id, term) AS (VALUES
    {qvals}),
scored AS (
  SELECT q.query_id, tf.doc_id, tf.term,
         ln(1.0 + (CAST(s.n_docs AS DOUBLE) - i.df + 0.5) / (i.df + 0.5))
         * (tf.tf * {K1 + 1.0!r}
            / (tf.tf + {K1!r} * ({1.0 - B!r} + {B!r}
               * (CAST(tf.dl AS DOUBLE)
                  / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE)))))) AS s
  FROM tf JOIN idf i USING (term) JOIN qmap q USING (term) CROSS JOIN stats s
),
summed AS (
  SELECT query_id, doc_id,
         round(list_aggregate(list(s ORDER BY term ASC), 'sum'), 6) AS score
  FROM scored GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY score DESC, doc_id ASC) AS INT) AS rank
  FROM summed)
WHERE rank <= {k}
"""


@register("doc_search_bm25", oracle=_bm25_oracle)
def doc_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical top-k over documents — the lexical complement
    of doc_search / doc_search_ivf. The query-vocabulary filter runs
    before the explode, so only query-term postings shuffle; scores sum
    via a term-ordered sequential fold (cross-engine bit contract)."""
    docs = load_table(spark, sf_dir, "documents")
    return lexical_ops.bm25_search(spark, docs, _BM25_QUERIES, k=_BM25_K)


# ---------------------------------------------------------------------------
# Training-corpus hygiene: repetition signals, PII redaction,
# benchmark decontamination. Extensions past the reference's text
# pipeline (scripts/build_vecbin_chunked.py:144-225) toward what an
# LLM training-data pipeline filters on before embedding.
# ---------------------------------------------------------------------------

_SQL_REPETITION = f"""
WITH t AS ({_SQL_TOKS}),
bg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         i -> toks[i] || ' ' || toks[i+1])) AS g
  FROM t WHERE len(toks) >= 2
),
bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
bstat AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg FROM bgc GROUP BY doc_id),
tg AS (
  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
  FROM t WHERE len(toks) >= 3
),
tgc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g),
tstat AS (
  SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_occ,
         sum(c) AS n_tg
  FROM tgc GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(t.toks)) AS DOUBLE)
         / CAST(len(t.toks) AS DOUBLE) AS distinct_ratio,
       COALESCE(CAST(b.top_c AS DOUBLE) / CAST(b.n_bg AS DOUBLE), 0.0)
         AS top_bigram_frac,
       COALESCE(CAST(s.dup_occ AS DOUBLE) / CAST(s.n_tg AS DOUBLE), 0.0)
         AS dup_trigram_frac
FROM t
LEFT JOIN bstat b ON t.doc_id = b.doc_id
LEFT JOIN tstat s ON t.doc_id = s.doc_id
"""


@register("repetition_stats", oracle=_SQL_REPETITION)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition signals: distinct-token
    ratio, share of tokens in the most frequent bigram, share of
    trigram occurrences that are duplicated.

    Scale shape: entirely per-row native folds over sorted n-gram
    arrays (functions/text.py max_run_expr / dup_run_total_expr) —
    zero shuffle, embarrassingly parallel, vs the oracle's
    explode + groupBy formulation which shuffles every n-gram at
    100 TB. The oracle states the semantics; the fold is the plan.
    """
    d = _toks_df(spark, sf_dir)
    n = F.size("toks")
    bg = F.array_sort(tx.ngrams_expr(F.col("toks"), 2))
    tg = F.array_sort(tx.ngrams_expr(F.col("toks"), 3))
    n_bg = F.size(bg)
    n_tg = F.size(tg)
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        (F.size(F.array_distinct("toks")).cast("double") / n.cast("double")).alias(
            "distinct_ratio"
        ),
        F.when(
            n_bg > 0, tx.max_run_expr(bg).cast("double") / n_bg.cast("double")
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
        F.when(
            n_tg > 0, tx.dup_run_total_expr(tg).cast("double") / n_tg.cast("double")
        )
        .otherwise(F.lit(0.0))
        .alias("dup_trigram_frac"),
    )


# PII patterns kept to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repetition, no
# backrefs/lookaround.
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\+\d{1,2}-\d{3}-\d{4}"
_PII_IP = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"

# The synthetic corpus contains no PII, so both engines inject the same
# deterministic doc_id-derived contacts — the oracle then checks real
# match/replace behavior instead of vacuous zeros.
_SQL_PII_AUG = """
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS aug
  FROM documents
"""

_SQL_PII = f"""
WITH a AS ({_SQL_PII_AUG})
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(aug, '{_PII_PHONE}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(aug, '{_PII_IP}')) AS INT) AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(aug,
           '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_PHONE}', '<PHONE>', 'g'),
           '{_PII_IP}', '<IP>', 'g')) AS redacted_md5
FROM a
"""


@register("pii_redact", oracle=_SQL_PII)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and redact emails / phone numbers /
    IPv4 addresses with native regexp expressions (codegen'd, no
    Python). Output carries md5(redacted) so the full redacted text is
    value-checked without shipping long strings through the gate.
    """
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        did.cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."),
        (did % 256).cast("string"),
        F.lit("."),
        ((did * 7) % 256).cast("string"),
    )
    d = docs.select("doc_id", aug.alias("aug"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("aug"), _PII_EMAIL, "<EMAIL>"),
            _PII_PHONE,
            "<PHONE>",
        ),
        _PII_IP,
        "<IP>",
    )
    return d.select(
        "doc_id",
        F.regexp_count("aug", F.lit(_PII_EMAIL)).alias("n_emails"),
        F.regexp_count("aug", F.lit(_PII_PHONE)).alias("n_phones"),
        F.regexp_count("aug", F.lit(_PII_IP)).alias("n_ips"),
        F.md5(redacted).alias("redacted_md5"),
    )


_DECON_N = 8  # shingle width (13-gram is the published norm; 8 fits the corpus)
_DECON_MOD = 10  # doc_id % MOD == 0 -> benchmark split

_SQL_DECON = f"""
WITH t AS ({_SQL_TOKS}),
s AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(toks) - {_DECON_N - 2}),
           i -> array_to_string(toks[i:i+{_DECON_N - 1}], ' ')))) AS sh
  FROM t WHERE len(toks) >= {_DECON_N}
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS hh FROM s
),
bench AS (SELECT doc_id AS bench_id, hh FROM h WHERE doc_id % {_DECON_MOD} = 0),
train AS (SELECT doc_id, hh FROM h WHERE doc_id % {_DECON_MOD} <> 0)
SELECT train.doc_id AS doc_id,
       CAST(count(DISTINCT train.hh) AS BIGINT) AS n_shared_shingles,
       CAST(count(DISTINCT bench_id) AS BIGINT) AS n_benchmark_docs
FROM train JOIN bench ON train.hh = bench.hh
GROUP BY train.doc_id
"""


@register("decontaminate", oracle=_SQL_DECON)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any
    {_DECON_N}-token shingle with the held-out benchmark split
    (doc_id % {_DECON_MOD} == 0 stands in for the eval set). The
    standard contamination check run before training-corpus release.

    Scale shape: distinct shingles per doc, 60-bit md5 hashes, then an
    inverted-index equi-join on the hash — posting-list sized shuffle,
    never doc x doc. Both engines hash identically, so the comparison
    is exact even under (astronomically unlikely) hash collisions.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup_ops.ngram_shingles(docs, n=_DECON_N)
    hashed = sh.select(
        "doc_id", F.explode("shingles").alias("sh")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long").alias("hh"),
    )
    bench = hashed.filter(F.col("doc_id") % _DECON_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "hh"
    )
    train = hashed.filter(F.col("doc_id") % _DECON_MOD != 0)
    return (
        train.join(bench, "hh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("hh").alias("n_shared_shingles"),
            F.countDistinct("bench_id").alias("n_benchmark_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval + corpus-shaping extensions (round 3): RRF fusion of
# the lexical and semantic rankers, quantile-threshold quality
# filtering, and the token-length histogram that sizes sequence
# packing. All native expressions; oracles replay every stage.
# ---------------------------------------------------------------------------

_RRF_POOL = 20
_RRF_K = 10
_RRF_C = 60


def _rrf_oracle() -> str:
    qvals = ",\n    ".join(
        f"({-(qid + 1)}, 0, '{' '.join(terms)}', 0)"
        for qid, terms in _BM25_QUERIES
    )
    return f"""
WITH lex AS (
  SELECT query_id, doc_id, rank FROM ({_bm25_oracle(_RRF_POOL)})
),
units AS (
  SELECT doc_id, 0 AS chunk_id, text AS chunk,
         CAST(length(text) AS INT) AS chunk_chars
  FROM documents
  UNION ALL
  SELECT * FROM (VALUES
    {qvals}) v(doc_id, chunk_id, chunk, chunk_chars)
),
{_sql_embed_ctes('units')},
demb AS (SELECT doc_id AS vec_id, emb FROM embedded WHERE doc_id >= 0),
qemb AS (SELECT -doc_id - 1 AS query_id, emb FROM embedded WHERE doc_id < 0),
sem AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT q.query_id, d.vec_id AS doc_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_dot_product(d.emb, q.emb) DESC, d.vec_id ASC) AS rank
    FROM demb d CROSS JOIN qemb q)
  WHERE rank <= {_RRF_POOL}
),
fused AS (
  SELECT CAST(coalesce(l.query_id, s.query_id) AS BIGINT) AS query_id,
         coalesce(l.doc_id, s.doc_id) AS doc_id,
         coalesce(1.0 / ({_RRF_C} + l.rank), 0.0)
           + coalesce(1.0 / ({_RRF_C} + s.rank), 0.0) AS rrf_score
  FROM lex l FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.doc_id = s.doc_id
)
SELECT query_id, doc_id, rrf_score, rank FROM (
  SELECT query_id, doc_id, rrf_score,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS rank
  FROM fused)
WHERE rank <= {_RRF_K}
"""


@register("hybrid_search_rrf", oracle=_rrf_oracle)
@memo
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking fused with semantic
    embedding ranking by reciprocal-rank fusion (Cormack et al. 2009:
    score = sum over rankers of 1/(C + rank), C=60) — the
    standard hybrid-search surface a vector database exposes next to
    pure ANN. Both rankers are the proven entries (doc_search_bm25 /
    doc_search machinery): lexical top-pool via posting-list
    shuffles, semantic top-pool via the two-phase broadcast
    scan; fusion is one full-outer join on (query, doc) — tiny, Q x
    2*pool rows. RRF needs only ranks, never score calibration, so the
    plan stays join-of-two-topk at any corpus size.

    r13: the embedded corpus frame is pinned with a lazy
    localCheckpoint (it feeds the two-phase base, the rescore base and
    the query split — the hash-embed fold otherwise re-executed per
    consumer) and the built plan is memoized per session — the
    two-phase build collects its query batch eagerly."""
    docs = load_table(spark, sf_dir, "documents")
    lex = lexical_ops.bm25_search(spark, docs, _BM25_QUERIES, k=_RRF_POOL).select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )
    units = docs.select(
        "doc_id",
        F.lit(0).alias("chunk_id"),
        F.col("text").alias("chunk"),
        F.length("text").cast("int").alias("chunk_chars"),
    )
    qrows = docs.sparkSession.createDataFrame(
        [(-(qid + 1), 0, " ".join(terms), 0) for qid, terms in _BM25_QUERIES],
        "doc_id long, chunk_id int, chunk string, chunk_chars int",
    )
    emb = text_ops.hash_embed(units.unionByName(qrows), dim=_EMBED_DIM)
    emb = emb.localCheckpoint(eager=False)
    demb = emb.filter(F.col("doc_id") >= 0).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    qemb = emb.filter(F.col("doc_id") < 0).select(
        (-F.col("doc_id") - 1).alias("query_id"), "embedding"
    )
    sem = topk_ops.topk_multi(demb, qemb, _RRF_POOL, strategy="two_phase")
    sem = topk_ops.exact_rescore(demb, qemb, sem).select(
        "query_id", F.col("vec_id").alias("doc_id"), F.col("rank").alias("sem_rank")
    )
    fused = lex.join(sem, ["query_id", "doc_id"], "full_outer").select(
        F.col("query_id").cast("long").alias("query_id"),
        "doc_id",
        (
            F.when(
                F.col("lex_rank").isNotNull(),
                F.lit(1.0) / (F.lit(_RRF_C) + F.col("lex_rank")),
            ).otherwise(F.lit(0.0))
            + F.when(
                F.col("sem_rank").isNotNull(),
                F.lit(1.0) / (F.lit(_RRF_C) + F.col("sem_rank")),
            ).otherwise(F.lit(0.0))
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return fused.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).filter(F.col("rank") <= _RRF_K)


_QF_Q = 0.25


@register(
    "quality_filter_quantile",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS INT) AS n_tokens,
         CASE WHEN len(toks) = 0 THEN 0.0
              ELSE CAST(len(list_filter(toks, x -> list_contains([{_SQL_EN_STOP}], x))) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) END AS stopword_ratio,
         CASE WHEN length(lower(text)) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                   / CAST(length(lower(text)) AS DOUBLE) END AS punct_ratio
  FROM t
),
s AS (
  SELECT doc_id, lang,
         0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 64.0)
           + 0.3 * (1.0 - stopword_ratio)
           + 0.2 * (1.0 - punct_ratio) AS quality
  FROM m
),
thr AS (SELECT lang, quantile_cont(quality, {_QF_Q}) AS q_thr FROM s GROUP BY lang)
SELECT s.lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE s.quality >= t.q_thr) AS BIGINT) AS n_kept,
       max(t.q_thr) AS q_threshold
FROM s JOIN thr t ON s.lang = t.lang
GROUP BY s.lang
""",
)
def quality_filter_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-threshold quality filtering — the corpus-shaping form
    of quality_score: per-language P25 threshold
    (exact interpolated percentile, the proven
    F.percentile/quantile_cont cross-engine pair), docs below it
    dropped. Per-lang thresholds avoid one language's score
    distribution starving another. The threshold relation is
    |languages| rows — broadcast back; the corpus sees one scan + one
    group-agg, no self-shuffle."""
    d = _toks_df(spark, sf_dir)
    s = d.select(
        "doc_id",
        "lang",
        tx.quality_expr(F.col("toks"), "text").alias("quality"),
    )
    thr = s.groupBy("lang").agg(
        F.percentile("quality", F.lit(_QF_Q)).alias("q_thr")
    )
    return (
        s.join(F.broadcast(thr), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_if(F.col("quality") >= F.col("q_thr")).alias("n_kept"),
            F.max("q_thr").alias("q_threshold"),
        )
    )


_TLH_WIDTH = 16


@register(
    "token_length_histogram",
    oracle=f"""
WITH t AS ({_SQL_TOKS}),
b AS (
  SELECT CAST(len(toks) // {_TLH_WIDTH} AS INT) AS bucket,
         CAST(len(toks) AS INT) AS n
  FROM t
)
SELECT bucket,
       CAST(bucket * {_TLH_WIDTH} AS INT) AS bucket_lo,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS sum_tokens,
       CAST(min(n) AS INT) AS min_tokens,
       CAST(max(n) AS INT) AS max_tokens
FROM b
GROUP BY bucket
""",
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram in fixed 16-token buckets
    (integer arithmetic — exact cross-engine, unlike log buckets) —
    the distribution pack_sequences' budget is sized from. One scan,
    one map-side-combined agg on a small key space."""
    d = _toks_df(spark, sf_dir)
    n = F.size("toks")
    return (
        d.select((n.cast("long") / F.lit(_TLH_WIDTH)).cast("int").alias("__b"), n.alias("__n"))
        .select(
            F.col("__b").alias("bucket"),
            (F.col("__b") * _TLH_WIDTH).cast("int").alias("bucket_lo"),
            "__n",
        )
        .groupBy("bucket", "bucket_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__n").cast("long").alias("sum_tokens"),
            F.min("__n").cast("int").alias("min_tokens"),
            F.max("__n").cast("int").alias("max_tokens"),
        )
    )


_RADIUS_THR = 0.3


@register(
    "radius_search",
    oracle=f"""
WITH q AS ({_SQL_QUERIES})
SELECT query_id, vec_id, score FROM (
  SELECT q.query_id, e.vec_id,
         list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))
           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
              * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))) AS score
  FROM embeddings e CROSS JOIN q)
WHERE score >= {_RADIUS_THR}
""",
)
def radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search (the FAISS range_search contract, the k-less
    sibling of top-k): every (query, vector) pair with cosine
    similarity at or above a radius threshold. The plan is the scan
    shape range search wants at 100 TB: broadcast the query batch,
    score inside whole-stage codegen, filter — map-only, zero
    shuffles, output size bounded by the radius rather than Q x k."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _queries_df(spark, sf_dir)
    qb = F.broadcast(q.select("query_id", F.col("embedding").alias("__qvec")))
    return (
        emb.crossJoin(qb)
        .select(
            "query_id",
            "vec_id",
            topk_ops.score_expr("cosine", "embedding", "__qvec").alias("score"),
        )
        .filter(F.col("score") >= _RADIUS_THR)
    )


def _ivf_filtered_oracle() -> str:
    return _ivf_oracle(pred="label = 1")


@register("ivf_search_filtered", oracle=_ivf_filtered_oracle)
def ivf_search_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ANN over the IVF index — the searched rows are
    restricted by a predicate (label = 1) at probe time, on an index
    that was built before the filter was known (the vector-DB filtered
    -search contract; assignment is unchanged, so no refit). The
    predicate composes with partition pruning: the scan reads only
    probed cluster directories AND pushes the label filter into the
    parquet reader, so selectivity multiplies with the nprobe/nlist
    byte skip. Post-filtering a plain ANN result would under-fill k."""
    idx = _ivf_index(spark, sf_dir)
    filtered = ivf_ops.IvfIndex(
        centroids=idx.centroids,
        assigned=idx.assigned.filter(F.col("label") == 1),
        nlist=idx.nlist,
        centroids_np=idx.centroids_np,
    )
    return ivf_ops.ivf_search(
        filtered, _queries_df(spark, sf_dir), K, nprobe=_IVF_NPROBE
    )


