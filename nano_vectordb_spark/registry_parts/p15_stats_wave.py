"""Statistics wave: Gini, Simpson, Holt, CUSUM, Heaps/Zipf, waterfill, containment, novelty, tail-at-scale, skyline.

Sequential part of the registry — see registry.py (facade).
"""
from __future__ import annotations
from nano_vectordb_spark.registry_parts.p00_base import (  # noqa: F401
    _emb_dim,
    DataFrame,
    F,
    REGISTRY,
    SEED,
    SparkSession,
    Window,
    _math,
    dedup_ops,
    grank,
    lexical_ops,
    load_table,
    memo,
    register,
    resolve_oracle,
    tx,
)
from nano_vectordb_spark.registry_parts.p05_text import _SQL_QUALITY, _toks_df  # noqa: F401
from nano_vectordb_spark.registry_parts.p06_dedup import _SQL_SHINGLES  # noqa: F401
from nano_vectordb_spark.registry_parts.p09_pipeline_corpus import _BM25_QUERIES  # noqa: F401
from nano_vectordb_spark.registry_parts.p14_analytics_ops import _bm25_explain_oracle  # noqa: F401

@register("bm25_score_explain", oracle=_bm25_explain_oracle)
def bm25_score_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search explainability: the per-term decomposition of the
    winning BM25 score — for query 0's top document, each query
    term's tf, df, idf and contribution next to the total — the
    "why did this doc rank first" breakdown a relevance engineer (or
    a user-facing 'matched because') reads, made possible because
    bm25_term_scores is now the shared core under both the ranker
    and this explainer (same plan, same numbers, no drift between
    what's served and what's explained). Scale shape: identical to
    doc_search_bm25 plus one broadcast top-1 join. Contributions and
    idf carry round-6; tf/df are exact integers."""
    docs = load_table(spark, sf_dir, "documents")
    scored = lexical_ops.bm25_term_scores(spark, docs, _BM25_QUERIES)
    top1 = (
        lexical_ops.bm25_search(spark, docs, _BM25_QUERIES, k=1)
        .where(F.col("query_id") == 0)
        .select(F.col("doc_id").alias("__d"), F.col("score").alias("total_score"))
    )
    expl = scored.where(F.col("query_id") == 0).join(
        F.broadcast(top1), F.col("doc_id") == F.col("__d")
    )
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    return expl.select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        idf.alias("idf"),
        F.round("s", 6).alias("contribution"),
        "total_score",
    )


_LATE_SPLIT_DAY = 8

_SQL_LATE_DROP = f"""
WITH ontime AS (
  SELECT * FROM events WHERE EXTRACT(day FROM ts) >= {_LATE_SPLIT_DAY}
),
wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM ontime),
daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
         CAST(count(*) AS BIGINT) AS n_events
  FROM ontime GROUP BY 1
)
SELECT d.window_start, d.n_events
FROM daily d CROSS JOIN wm
WHERE d.window_start + INTERVAL 1 DAY <= wm.w
"""


@register("stream_late_drop", oracle=_SQL_LATE_DROP)
def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting, proven end to end: a REAL
    three-microbatch streaming run (file source ordered by mtime,
    maxFilesPerTrigger=1; bulk -> tail -> late) where the final batch
    delivers days 1..{_LATE_SPLIT_DAY - 1} AFTER the watermark has
    advanced past them — the engine must DROP every late row, and the append-mode
    output must contain exactly the on-time daily windows whose end
    cleared the final watermark. The oracle states that closed form;
    if late rows leaked into state their long-past windows would
    finalize instantly and surface as extra rows, failing the hash.
    This is the semantics that bounds streaming state at scale:
    state follows the watermark horizon, not stream history (the
    sixth streaming entry, completing window/dedup/join/sessionize/
    rank with the late-data contract)."""
    from nano_vectordb_spark.streaming.events import late_drop_stream

    return late_drop_stream(spark, sf_dir, split_day=_LATE_SPLIT_DAY)


_GDPR_MOD = 37  # user_id % 37 == 0 stands in for the erasure request list

_SQL_GDPR = f"""
WITH req AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % {_GDPR_MOD} = 0
),
ev AS (
  SELECT CAST(count(*) AS BIGINT) AS n_before,
         CAST(sum(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_deleted
  FROM events e LEFT JOIN req r ON r.user_id = e.user_id
),
sess AS (
  SELECT CAST(count(*) AS BIGINT) AS n_before,
         CAST(sum(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_deleted
  FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events) s
  LEFT JOIN req r ON r.user_id = s.user_id
)
SELECT t.tbl, t.n_before, t.n_deleted,
       CAST(t.n_before - t.n_deleted AS BIGINT) AS n_after,
       CAST(0 AS BIGINT) AS n_residual
FROM (
  SELECT 'events' AS tbl, n_before, n_deleted FROM ev
  UNION ALL
  SELECT 'user_days' AS tbl, n_before, n_deleted FROM sess
) t
"""


@register("gdpr_erasure_audit", oracle=_SQL_GDPR)
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade, audited: for a deterministic
    erasure-request list (user_id % {_GDPR_MOD} == 0), delete the
    users from the raw events AND from a derived user-day rollup, and
    report per table: rows before, rows deleted, rows after, and —
    the line compliance actually signs off on — the RESIDUAL count of
    surviving rows that still reference a requested user, re-measured
    from the post-delete tables by anti-join (provably 0, not assumed
    0). Scale shape: the request list broadcasts into anti-joins on
    every table (the tombstone pattern ivf_search_after_delete uses
    for vectors); the audit is one conditional aggregate per table.
    Integer-exact throughout."""
    ev = load_table(spark, sf_dir, "events")
    req = (
        ev.where(F.col("user_id") % _GDPR_MOD == 0)
        .select("user_id")
        .distinct()
    )
    user_days = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()

    def audit(df: DataFrame, tbl: str) -> DataFrame:
        kept = df.join(F.broadcast(req), "user_id", "left_anti")
        residual = kept.join(F.broadcast(req), "user_id", "left_semi")
        n_before = df.count()
        n_after = kept.count()
        n_residual = residual.count()
        return spark.createDataFrame(
            [(tbl, n_before, n_before - n_after, n_after, n_residual)],
            "tbl string, n_before long, n_deleted long, n_after long, n_residual long",
        )

    return audit(ev, "events").unionByName(audit(user_days, "user_days"))


def _frontier_oracle() -> str:
    sweep = resolve_oracle(REGISTRY["ivf_recall_sweep"])
    cost = resolve_oracle(REGISTRY["ivf_probe_cost"])
    return f"""
WITH s AS ({sweep}),
c AS ({cost}),
dim_(d) AS (SELECT CAST(max(len(embedding)) AS BIGINT) FROM embeddings),
j AS (
  SELECT s.nprobe, s.recall_at_k, c.scan_fraction,
         c.total_rows_scanned * dim_.d * 4 AS bytes_f32
  FROM s JOIN c ON c.nprobe = s.nprobe CROSS JOIN dim_
)
SELECT nprobe, recall_at_k, scan_fraction,
       CAST(bytes_f32 AS BIGINT) AS bytes_f32,
       round(recall_at_k / scan_fraction, 6) AS recall_per_scan,
       round((recall_at_k - lag(recall_at_k) OVER w)
             / (scan_fraction - lag(scan_fraction) OVER w), 6)
         AS marginal_recall_per_scan
FROM j
WINDOW w AS (ORDER BY nprobe)
"""


@register("ann_cost_frontier", oracle=_frontier_oracle)
@memo
def ann_cost_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN operating-point decision table, composed: recall@k
    (ivf_recall_sweep) joined to scan cost (ivf_probe_cost) per
    nprobe, with f32 bytes per query batch, recall-per-scan
    efficiency, and the MARGINAL recall bought by each extra unit of
    scan fraction — the declining-marginal column IS the knee the
    autotuner and the reference's Performance.md tables eyeball; a
    capacity planner multiplies bytes_f32 by QPS and reads the
    memory-bandwidth budget straight off this table. Pure composition
    of two proven entries plus one lag window over 5 rows; recall and
    fractions are exact-integer ratios, divisions carry round-6.

    r13: the two constituent tables (5 rows each, but whole recall
    sweeps to produce) are pinned with lazy localCheckpoints so
    repeated materialization of this entry re-reads them instead of
    re-running both sweeps, and the built plan is memoized per
    session so re-invocation reuses those pins."""
    sweep = REGISTRY["ivf_recall_sweep"].fn(spark, sf_dir).localCheckpoint(eager=False)
    cost = REGISTRY["ivf_probe_cost"].fn(spark, sf_dir).localCheckpoint(eager=False)
    emb = load_table(spark, sf_dir, "embeddings")
    dim = _emb_dim(spark, sf_dir)
    j = sweep.select("nprobe", "recall_at_k").join(
        cost.select("nprobe", "scan_fraction", "total_rows_scanned"), "nprobe"
    )
    w = Window.orderBy("nprobe")
    return j.select(
        "nprobe",
        "recall_at_k",
        "scan_fraction",
        (F.col("total_rows_scanned") * F.lit(int(dim)) * 4)
        .cast("long")
        .alias("bytes_f32"),
        F.round(F.col("recall_at_k") / F.col("scan_fraction"), 6).alias(
            "recall_per_scan"
        ),
        F.round(
            (F.col("recall_at_k") - F.lag("recall_at_k").over(w))
            / (F.col("scan_fraction") - F.lag("scan_fraction").over(w)),
            6,
        ).alias("marginal_recall_per_scan"),
    )


_SQL_GINI = """
WITH rev AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS r
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT r, CAST(row_number() OVER (ORDER BY r ASC, o_custkey ASC) AS BIGINT) AS i
  FROM rev
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(r) AS tot,
         sum(r * i) AS weighted
  FROM ranked
)
SELECT n AS n_customers,
       CAST(tot AS DOUBLE) AS total_revenue,
       round((2.0 * CAST(weighted AS DOUBLE)) / (n * CAST(tot AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / n, 6) AS gini
FROM s
"""


@register("revenue_gini", oracle=_SQL_GINI)
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality measurement: the Gini coefficient of per-customer
    revenue, G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over
    ascending-sorted x — the single-number concentration summary next
    to revenue_pareto's 80/20 cut (and, for a corpus, the mixture-
    imbalance score of per-source token counts). Every sum is EXACT
    DECIMAL weighted by exact integer ranks over a total order; only
    the final closed form touches doubles, with round-6. Scale shape:
    one keyed aggregate + a TWO-PHASE global rank (range partition +
    per-partition row_number + broadcast offsets,
    operators/globalrank.py) — at 100 TB |customers| is 10^8-10^9 and
    an unpartitioned rank window would be a one-task straggler."""
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r")
    )
    ranked = grank.two_phase_rank(
        rev, [F.col("r").asc(), F.col("o_custkey").asc()], rn_name="i"
    ).select("r", "i")
    s = ranked.agg(
        F.count("*").alias("n"),
        F.sum("r").alias("tot"),
        F.sum(F.col("r") * F.col("i")).alias("weighted"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("tot").cast("double").alias("total_revenue"),
        F.round(
            (F.lit(2.0) * F.col("weighted").cast("double"))
            / (F.col("n") * F.col("tot").cast("double"))
            - (F.col("n").cast("double") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


_SQL_SIMPSON = f"""
WITH assign AS (
  SELECT e.user_id, d.lang,
         CASE WHEN ('0x' || substr(md5('ab{SEED}:' || CAST(e.user_id AS VARCHAR)),
                    1, 7))::BIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS arm
  FROM (SELECT DISTINCT user_id FROM events) e
  JOIN documents d ON d.doc_id = e.user_id % 500
),
conv AS (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  GROUP BY user_id HAVING count(*) >= 15
),
cells AS (
  SELECT a.lang, a.arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS conv
  FROM assign a LEFT JOIN conv c ON c.user_id = a.user_id
  GROUP BY a.lang, a.arm
),
strata AS (
  SELECT lang,
         max(CASE WHEN arm = 'A' THEN n END) AS na,
         max(CASE WHEN arm = 'A' THEN conv END) AS ca,
         max(CASE WHEN arm = 'B' THEN n END) AS nb,
         max(CASE WHEN arm = 'B' THEN conv END) AS cb
  FROM cells GROUP BY lang
),
overall AS (
  SELECT sum(na) AS na, sum(ca) AS ca, sum(nb) AS nb, sum(cb) AS cb FROM strata
)
SELECT s.lang AS stratum,
       CAST(s.na AS BIGINT) AS n_a, CAST(s.ca AS BIGINT) AS conv_a,
       CAST(s.nb AS BIGINT) AS n_b, CAST(s.cb AS BIGINT) AS conv_b,
       round(CAST(s.ca AS DOUBLE) / s.na - CAST(s.cb AS DOUBLE) / s.nb, 6)
         AS rate_diff,
       round(CAST(o.ca AS DOUBLE) / o.na - CAST(o.cb AS DOUBLE) / o.nb, 6)
         AS overall_rate_diff,
       CAST(CASE WHEN (CAST(s.ca AS DOUBLE) / s.na - CAST(s.cb AS DOUBLE) / s.nb)
                      * (CAST(o.ca AS DOUBLE) / o.na - CAST(o.cb AS DOUBLE) / o.nb)
                      < 0 THEN 1 ELSE 0 END AS INT) AS sign_reversed
FROM strata s CROSS JOIN overall o
"""


@register("simpson_paradox_audit", oracle=_SQL_SIMPSON)
def simpson_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confounding audit (Simpson's paradox detector): the A/B
    conversion gap recomputed inside strata — users keyed to a
    document attribute (lang, via the deterministic user->doc map) —
    with a flag wherever a stratum's effect direction REVERSES the
    pooled one; any reversal means the pooled ab_test_conversion
    readout is confounded and per-stratum (or weighted) estimates
    must be reported instead. Same md5 arm assignment and heavy-buyer
    conversion as the pooled test, so the two entries reconcile
    exactly. Integer counts, round-6 rate gaps (the flag multiplies
    unrounded gaps identically in both engines)."""
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    users = ev.select("user_id").distinct()
    arm = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"ab{SEED}:"), F.col("user_id").cast("string"))),
                1,
                7,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    assign = users.join(
        F.broadcast(docs.select("doc_id", "lang")),
        users["user_id"] % 500 == docs["doc_id"],
    ).select("user_id", "lang", arm.alias("arm"))
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("__np"))
        .where(F.col("__np") >= 15)
        .select("user_id")
        .withColumn("__c", F.lit(1))
    )
    cells = (
        assign.join(F.broadcast(conv), "user_id", "left")
        .groupBy("lang", "arm")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("__c").isNotNull().cast("long")).alias("conv"),
        )
    )
    strata = cells.groupBy("lang").agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("conv"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("conv"))).alias("cb"),
    )
    tot = strata.agg(
        F.sum("na").alias("ona"),
        F.sum("ca").alias("oca"),
        F.sum("nb").alias("onb"),
        F.sum("cb").alias("ocb"),
    ).collect()[0]
    odiff = float(tot["oca"]) / float(tot["ona"]) - float(tot["ocb"]) / float(
        tot["onb"]
    )
    sdiff = F.col("ca").cast("double") / F.col("na") - F.col("cb").cast(
        "double"
    ) / F.col("nb")
    return strata.select(
        F.col("lang").alias("stratum"),
        F.col("na").alias("n_a"),
        F.col("ca").alias("conv_a"),
        F.col("nb").alias("n_b"),
        F.col("cb").alias("conv_b"),
        F.round(sdiff, 6).alias("rate_diff"),
        F.round(F.lit(odiff), 6).alias("overall_rate_diff"),
        ((sdiff * F.lit(odiff)) < 0).cast("int").alias("sign_reversed"),
    )


_SQL_HOLT = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1
),
arr AS (SELECT list([y, 0.0] ORDER BY d) AS items, CAST(count(*) AS BIGINT) AS n FROM daily),
folded AS (
  SELECT n,
         list_reduce(
           list_prepend([items[1][1], 0.0], items[2:]),
           (a, x) -> [
             0.5 * x[1] + 0.5 * (a[1] + a[2]),
             0.3 * ((0.5 * x[1] + 0.5 * (a[1] + a[2])) - a[1]) + 0.7 * a[2]
           ]) AS st
  FROM arr
)
SELECT n AS n_days,
       round(st[1], 6) AS level,
       round(st[2], 6) AS trend,
       round(st[1] + 1.0 * st[2], 6) AS forecast_1d,
       round(st[1] + 2.0 * st[2], 6) AS forecast_2d,
       round(st[1] + 3.0 * st[2], 6) AS forecast_3d
FROM folded
"""


@register("holt_forecast_daily", oracle=_SQL_HOLT)
def holt_forecast_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecasting: Holt's linear exponential smoothing (alpha=0.5,
    beta=0.3) over daily event volume, with 1/2/3-day-ahead forecasts
    — the next step up the ladder from user_value_ewma (level only)
    and event_type_trend (one global line): a recency-weighted level
    PLUS trend, which is what a short-horizon capacity forecast
    actually runs on. The recurrence is inherently sequential, so
    it runs as the same day-ordered fold (2-slot state) as the
    clamped ledger — reduced over the 30-row day-grain rollup, a
    constant-size driver of work at any event volume. Smoothing
    constants are shared literals; both engines evaluate the
    identically-structured IEEE expressions over identical inputs;
    outputs carry round-6."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(F.col("ts").cast("date").alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("double").alias("y"))
    )
    g = daily.agg(
        F.count("*").alias("n"),
        F.array_sort(F.collect_list(F.struct("d", "y"))).alias("items"),
    )
    ys = F.transform(F.col("items"), lambda s: s["y"])
    init = F.struct(
        F.element_at(ys, 1).alias("l"), F.lit(0.0).alias("b")
    )
    rest = F.slice(ys, 2, F.size(ys) - 1)

    def step(a, x):
        l_new = F.lit(0.5) * x + F.lit(0.5) * (a["l"] + a["b"])
        b_new = (
            F.lit(0.3)
            * ((F.lit(0.5) * x + F.lit(0.5) * (a["l"] + a["b"])) - a["l"])
            + F.lit(0.7) * a["b"]
        )
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    st = F.aggregate(rest, init, step)
    return g.select(
        F.col("n").alias("n_days"),
        F.round(st["l"], 6).alias("level"),
        F.round(st["b"], 6).alias("trend"),
        F.round(st["l"] + F.lit(1.0) * st["b"], 6).alias("forecast_1d"),
        F.round(st["l"] + F.lit(2.0) * st["b"], 6).alias("forecast_2d"),
        F.round(st["l"] + F.lit(3.0) * st["b"], 6).alias("forecast_3d"),
    )


_SQL_DISPERSION = """
WITH c AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS k FROM orders GROUP BY o_custkey
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(k) AS BIGINT) AS sk,
         CAST(sum(k * k) AS BIGINT) AS skk
  FROM c
)
SELECT n AS n_customers, sk AS n_orders,
       round(CAST(sk AS DOUBLE) / n, 6) AS mean_orders,
       round((CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n)
             / (CAST(n AS DOUBLE) - 1.0), 6) AS var_orders,
       round(((CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n)
              / (CAST(n AS DOUBLE) - 1.0)) / (CAST(sk AS DOUBLE) / n), 6)
         AS dispersion_index
FROM s
"""


@register("order_count_dispersion", oracle=_SQL_DISPERSION)
def order_count_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-model diagnostics: the variance-to-mean (Poisson
    dispersion) index of orders per customer — the one number that
    says whether a Poisson assumption holds (~1), the population is
    bursty/heterogeneous (>1, reach for negative-binomial), or
    suspiciously regular (<1, often a synthetic generator — which
    this fixture honestly shows). One map-side-combined moment
    aggregate; sufficient statistics are exact integers, the closed
    forms carry round-6."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(F.count("*").alias("k"))
    s = c.agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sk"),
        F.sum(F.col("k") * F.col("k")).alias("skk"),
    )
    mean = F.col("sk").cast("double") / F.col("n")
    var = (
        F.col("skk").cast("double") - F.col("sk").cast("double") * F.col("sk") / F.col("n")
    ) / (F.col("n").cast("double") - F.lit(1.0))
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("sk").alias("n_orders"),
        F.round(mean, 6).alias("mean_orders"),
        F.round(var, 6).alias("var_orders"),
        F.round(var / mean, 6).alias("dispersion_index"),
    )


_SQL_ENTROPY_RATE = """
WITH seq AS (
  SELECT user_id, event_type AS f,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t
  FROM events
),
tr AS (
  SELECT f, t, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE t IS NOT NULL GROUP BY f, t
),
fr AS (SELECT f, CAST(sum(c) AS BIGINT) AS c_f FROM tr GROUP BY f),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tr),
terms AS (
  SELECT tr.f,
         -(CAST(tr.c AS DOUBLE) / tot.n)
           * log2(CAST(tr.c AS DOUBLE) / fr.c_f) AS h
  FROM tr JOIN fr ON fr.f = tr.f CROSS JOIN tot
)
SELECT CAST((SELECT count(*) FROM tr) AS BIGINT) AS n_transition_types,
       round(list_aggregate(list(h ORDER BY h), 'sum'), 6) AS entropy_rate_bits
FROM terms
"""


@register("event_entropy_rate", oracle=_SQL_ENTROPY_RATE)
def event_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral predictability: the entropy rate of the first-order
    event chain, H(next | current) = -sum p(f,t) log2 p(t|f) — how
    many bits each next action actually carries given the current one
    (the information-theoretic summary of event_markov_transitions;
    compare against corpus_diversity_entropy's static mix:
    rate << log2(5) means behavior is predictable and journey-level
    caching/prefetch pays). One lead() window + a 25-cell aggregate;
    probabilities are exact-integer ratios, the per-cell terms fold
    in value order with the round-6 log2 contract."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("f"),
        F.lead("event_type").over(w).alias("t"),
    ).where(F.col("t").isNotNull())
    tr = seq.groupBy("f", "t").agg(F.count("*").alias("c"))
    fr = tr.groupBy("f").agg(F.sum("c").alias("c_f"))
    n = tr.agg(F.sum("c")).collect()[0][0]
    terms = tr.join(F.broadcast(fr), "f").select(
        (
            -(F.col("c").cast("double") / F.lit(int(n)))
            * F.log2(F.col("c").cast("double") / F.col("c_f"))
        ).alias("h")
    )
    return terms.agg(
        F.count("*").alias("n_transition_types"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("h")), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("entropy_rate_bits"),
    )


_XCORR_MAX_LAG = 3

_SQL_XCORR = f"""
WITH d AS (
  SELECT CAST(EXTRACT(day FROM ts) AS INT) AS day,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1
),
lags AS (SELECT unnest(range(-{_XCORR_MAX_LAG}, {_XCORR_MAX_LAG + 1})) AS lag),
pairs AS (
  SELECT l.lag, a.x, b.y
  FROM lags l
  JOIN d a ON TRUE
  JOIN d b ON b.day = a.day + l.lag
),
m AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, n AS n_pairs,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS xcorr
FROM m
"""


@register("error_purchase_xcorr", oracle=_SQL_XCORR)
def error_purchase_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag analysis: cross-correlation of the daily error series
    against the purchase series at lags -{_XCORR_MAX_LAG}..
    +{_XCORR_MAX_LAG} — the "does X lead Y" table that turns two
    monitoring curves into a causal hypothesis (a peak at positive
    lag means errors PRECEDE purchase changes: investigate checkout;
    at zero, shared load). Every sufficient statistic is an exact
    integer over day-grain counts, so each lag's correlation is
    exact-rational into one round-6 — same normal-equation shape as
    event_type_trend, swept over a 7-row lag dimension via a
    day-offset self-join of the 30-row rollup."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            F.dayofmonth("ts").cast("int").alias("day"),
            (F.col("event_type") == "error").cast("long").alias("is_x"),
            (F.col("event_type") == "purchase").cast("long").alias("is_y"),
        )
        .groupBy("day")
        .agg(F.sum("is_x").alias("x"), F.sum("is_y").alias("y"))
    )
    a = d.select(
        F.col("day").alias("da"),
        F.col("x"),
        F.explode(
            F.array(
                *[F.lit(l) for l in range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1)]
            )
        ).alias("lag"),
    )
    b = d.select(F.col("day").alias("db"), F.col("y"))
    pairs = a.join(b, F.col("db") == F.col("da") + F.col("lag"))
    m = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.round(
            num.cast("double")
            / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double"))),
            6,
        ).alias("xcorr"),
    )


_CUSUM_K = 0.5   # slack, in sigma units
_CUSUM_H = 4.0   # decision threshold, in sigma units

_SQL_CUSUM = f"""
WITH d AS (
  SELECT CAST(EXTRACT(day FROM ts) AS INT) AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS sc,
         CAST(sum(c * c) AS BIGINT) AS scc
  FROM d
),
z AS (
  SELECT d.day, d.c,
         (CAST(d.c AS DOUBLE) - CAST(s.sc AS DOUBLE) / s.n)
         / sqrt((CAST(s.scc AS DOUBLE) - CAST(s.sc AS DOUBLE) * s.sc / s.n)
                / (CAST(s.n AS DOUBLE) - 1.0)) AS zv
  FROM d CROSS JOIN s
),
pref AS (
  SELECT a.day, a.c, round(a.zv, 6) AS z,
         list(round(b.zv, 6) ORDER BY b.day) AS zs
  FROM z a JOIN z b ON b.day <= a.day
  GROUP BY a.day, a.c, a.zv
),
folded AS (
  SELECT day, c, z,
         list_reduce(list_prepend([0.0, 0.0], list_transform(zs, v -> [v, 0.0])),
           (a, x) -> [
             greatest(0.0, a[1] + x[1] - {_CUSUM_K!r}),
             greatest(0.0, a[2] - x[1] - {_CUSUM_K!r})
           ]) AS st
  FROM pref
)
SELECT day, c AS n_events, z,
       round(st[1], 6) AS cusum_hi, round(st[2], 6) AS cusum_lo,
       CAST(CASE WHEN st[1] > {_CUSUM_H!r} OR st[2] > {_CUSUM_H!r}
            THEN 1 ELSE 0 END AS INT) AS shift_detected
FROM folded
"""


@register("volume_cusum_chart", oracle=_SQL_CUSUM)
def volume_cusum_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-point detection (tabular CUSUM): daily volume
    standardized against the month's mean/sd, then the classic
    one-sided cumulative sums C+ = max(0, C+ + z - k) and
    C- = max(0, C- - z - k) with a 4-sigma decision threshold — the
    SPC chart that catches SMALL SUSTAINED level shifts the p-chart's
    per-day 3-sigma test misses entirely. The recurrence is the
    clamp-fold family again (per-day prefix folds over the 30-row
    rollup; at scale the per-key sequential state is the streaming
    applyInPandasWithState shape). z-scores round to 6 BEFORE
    entering the fold, so every engine folds identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(F.dayofmonth("ts").cast("int").alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("c"))
    )
    s = d.agg(
        F.count("*").alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    ).collect()[0]
    n, sc, scc = int(s["n"]), int(s["sc"]), int(s["scc"])
    mean = float(sc) / n
    sd = _math.sqrt((float(scc) - float(sc) * sc / n) / (float(n) - 1.0))
    z = d.select(
        "day",
        "c",
        F.round((F.col("c").cast("double") - F.lit(mean)) / F.lit(sd), 6).alias("z"),
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    zs = F.transform(
        F.array_sort(F.collect_list(F.struct("day", "z")).over(w_cum)),
        lambda x: x["z"],
    )
    st = F.aggregate(
        zs,
        F.struct(F.lit(0.0).alias("hi"), F.lit(0.0).alias("lo")),
        lambda a, x: F.struct(
            F.greatest(F.lit(0.0), a["hi"] + x - F.lit(_CUSUM_K)).alias("hi"),
            F.greatest(F.lit(0.0), a["lo"] - x - F.lit(_CUSUM_K)).alias("lo"),
        ),
    )
    out = z.select(
        "day",
        F.col("c").alias("n_events"),
        "z",
        F.round(st["hi"], 6).alias("cusum_hi"),
        F.round(st["lo"], 6).alias("cusum_lo"),
        ((st["hi"] > _CUSUM_H) | (st["lo"] > _CUSUM_H)).cast("int").alias(
            "shift_detected"
        ),
    )
    return out


_SQL_HEAPS = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
w AS (SELECT doc_id, unnest(toks) AS term FROM t),
tc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY term),
half AS (
  SELECT CAST(count(DISTINCT term) AS BIGINT) AS v1,
         CAST(count(*) AS BIGINT) AS n1
  FROM w WHERE doc_id % 2 = 0
),
full_ AS (
  SELECT CAST(count(*) AS BIGINT) AS v2,
         CAST(sum(c) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
  FROM tc
)
SELECT full_.v2 AS vocab_size, full_.n2 AS n_tokens, full_.hapax,
       round(CAST(full_.hapax AS DOUBLE) / full_.v2, 6) AS hapax_rate,
       half.v1 AS vocab_half, half.n1 AS tokens_half,
       round(ln(CAST(full_.v2 AS DOUBLE) / half.v1)
             / ln(CAST(full_.n2 AS DOUBLE) / half.n1), 6) AS heaps_beta
FROM full_ CROSS JOIN half
"""


@register("vocab_growth_heaps", oracle=_SQL_HEAPS)
def vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth diagnostics: hapax-legomenon rate (terms seen
    exactly once — the OOV-pressure signal a tokenizer budget is sized
    against) and the Heaps'-law exponent estimated from a half-corpus
    vs full-corpus vocabulary pair, V = K*N^beta — natural text sits
    near beta ~0.5; this fixture's closed vocabulary honestly reads
    ~0 (vocabulary saturates), exactly what the measurement is FOR
    (detecting template/synthetic text). Two distinct-count
    aggregates and one frequency table; ln carries round-6."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", F.explode(tx.tokens_expr("text")).alias("term"))
    tc = w.groupBy("term").agg(F.count("*").alias("c"))
    half = w.where(F.col("doc_id") % 2 == 0).agg(
        F.count_distinct("term").alias("v1"), F.count("*").alias("n1")
    ).collect()[0]
    fullr = tc.agg(
        F.count("*").alias("v2"),
        F.sum("c").alias("n2"),
        F.sum((F.col("c") == 1).cast("long")).alias("hapax"),
    )
    v1, n1 = int(half["v1"]), int(half["n1"])
    return fullr.select(
        F.col("v2").alias("vocab_size"),
        F.col("n2").alias("n_tokens"),
        "hapax",
        F.round(F.col("hapax").cast("double") / F.col("v2"), 6).alias(
            "hapax_rate"
        ),
        F.lit(v1).cast("long").alias("vocab_half"),
        F.lit(n1).cast("long").alias("tokens_half"),
        F.round(
            F.log(F.col("v2").cast("double") / F.lit(v1))
            / F.log(F.col("n2").cast("double") / F.lit(n1)),
            6,
        ).alias("heaps_beta"),
    )


_PD_TOP = 15

_SQL_PRICE_DISPERSION = f"""
WITH up AS (
  SELECT l_partkey AS part, l_suppkey AS supp,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS r,
         sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
  FROM lineitem GROUP BY 1, 2
),
pp AS (
  SELECT part, supp,
         round(CAST(r AS DOUBLE) / CAST(q AS DOUBLE), 6) AS unit_price
  FROM up
),
m AS (
  SELECT part, CAST(count(*) AS BIGINT) AS n_suppliers,
         round(avg(unit_price), 6) AS mean_price,
         min(unit_price) AS min_price, max(unit_price) AS max_price
  FROM pp GROUP BY part HAVING count(*) >= 3
)
SELECT part, n_suppliers, mean_price, min_price, max_price,
       round((max_price - min_price) / mean_price, 6) AS price_range_ratio,
       CAST(row_number() OVER (
         ORDER BY round((max_price - min_price) / mean_price, 6) DESC,
                  part ASC) AS INT) AS dispersion_rank
FROM m
QUALIFY dispersion_rank <= {_PD_TOP}
"""


@register("price_dispersion_by_part", oracle=_SQL_PRICE_DISPERSION)
def price_dispersion_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketplace price dispersion: for parts sold by >= 3 suppliers,
    the spread of quantity-weighted unit prices across suppliers,
    ranked by range-over-mean — the procurement arbitrage (or data-
    error) shortlist, and the classic industrial-organization
    dispersion measure. Unit prices are exact-decimal revenue /
    exact-decimal quantity rounded to 6 (engine-identical), min/max
    exact compares, the mean avg+round-6; ranking orders on the
    ROUNDED ratio with a part tie-break. One (part, supplier)
    aggregate then a part-keyed reduce; the top-{_PD_TOP} head is
    taken with orderBy+limit (TakeOrderedAndProject — parallel
    partial top-N per partition) and only the bounded head is ranked,
    never the open part dimension (20M parts at sf100)."""
    li = load_table(spark, sf_dir, "lineitem")
    up = li.groupBy(
        F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("supp")
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("q"),
    )
    pp = up.select(
        "part",
        F.round(F.col("r").cast("double") / F.col("q").cast("double"), 6).alias(
            "unit_price"
        ),
    )
    m = (
        pp.groupBy("part")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.avg("unit_price"), 6).alias("mean_price"),
            F.min("unit_price").alias("min_price"),
            F.max("unit_price").alias("max_price"),
        )
        .where(F.col("n_suppliers") >= 3)
    )
    ratio = F.round(
        (F.col("max_price") - F.col("min_price")) / F.col("mean_price"), 6
    )
    head = (
        m.select(
            "part",
            "n_suppliers",
            "mean_price",
            "min_price",
            "max_price",
            ratio.alias("price_range_ratio"),
        )
        .orderBy(F.col("price_range_ratio").desc(), F.col("part").asc())
        .limit(_PD_TOP)
    )
    w = Window.orderBy(F.col("price_range_ratio").desc(), F.col("part").asc())
    return head.withColumn("dispersion_rank", F.row_number().over(w).cast("int"))


_SQL_WATERFILL = """
WITH caps AS (
  SELECT source,
         CAST(sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
              AS BIGINT) AS cap
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(cap) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS ns FROM caps),
budget AS (SELECT CAST(total * 9 // 10 AS BIGINT) AS t FROM tot),
ranked AS (
  SELECT source, cap,
         CAST(row_number() OVER (ORDER BY cap ASC, source ASC) AS BIGINT) AS i,
         sum(cap) OVER (ORDER BY cap ASC, source ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref
  FROM caps
),
lev AS (
  -- the water level: smallest-cap sources saturate; the first rank i
  -- where distributing the remaining budget over the remaining
  -- sources stays below the NEXT cap fixes the level
  SELECT max(CAST(b.t - (r.pref - r.cap) AS DOUBLE) / (tot.ns - r.i + 1)) AS level
  FROM ranked r CROSS JOIN budget b CROSS JOIN tot
  WHERE CAST(b.t - (r.pref - r.cap) AS DOUBLE) / (tot.ns - r.i + 1) <= r.cap
),
alloc AS (
  SELECT r.source, r.cap,
         CASE WHEN CAST(r.cap AS DOUBLE) <= lev.level
              THEN CAST(r.cap AS DOUBLE) ELSE lev.level END AS a
  FROM ranked r CROSS JOIN lev
)
SELECT source, cap AS available_tokens,
       round(a, 6) AS allocated_tokens,
       round(a / cap, 6) AS take_fraction,
       CAST(CASE WHEN CAST(cap AS DOUBLE) <= a THEN 1 ELSE 0 END AS INT)
         AS saturated
FROM alloc
"""


@register("mixture_waterfill", oracle=_SQL_WATERFILL)
def mixture_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture allocation by water-filling: given a token budget (90%
    of the corpus), give every source an EQUAL share except where a
    source's availability caps it — small sources saturate and their
    shortfall redistributes to the rest, the max-min-fair allocation
    (waterfilling) that mixture_weights' proportional and
    temperature schemes do NOT produce. The water level has a closed
    form over the cap-sorted prefix sums (no iteration): the first
    rank where the evenly-split remainder fits under the next cap
    fixes it — one |sources|-row window pass. Caps and budget are
    exact integers; the level and allocations carry round-6. At
    scale: one token-count aggregate then arithmetic over the tiny
    source table."""
    docs = load_table(spark, sf_dir, "documents")
    caps = docs.groupBy("source").agg(
        F.sum(F.size(tx.tokens_expr("text"))).cast("long").alias("cap")
    )
    tot = caps.agg(
        F.sum("cap").alias("total"), F.count("*").alias("ns")
    ).collect()[0]
    total, ns = int(tot["total"]), int(tot["ns"])
    t = total * 9 // 10
    w = Window.orderBy(F.col("cap").asc(), F.col("source").asc())
    ranked = caps.select(
        "source",
        "cap",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("cap")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("pref"),
    )
    cand = (F.lit(t) - (F.col("pref") - F.col("cap"))).cast("double") / (
        F.lit(ns) - F.col("i") + 1
    )
    # the first valid rank carries the true level; later ranks'
    # candidates only shrink (their prefixes over-subtract), so the
    # level is the MAX of the valid candidates
    lev = (
        ranked.where(cand <= F.col("cap"))
        .agg(F.max(cand).alias("level"))
        .collect()[0]["level"]
    )
    a = F.when(
        F.col("cap").cast("double") <= F.lit(lev), F.col("cap").cast("double")
    ).otherwise(F.lit(lev))
    return ranked.select(
        "source",
        F.col("cap").alias("available_tokens"),
        F.round(a, 6).alias("allocated_tokens"),
        F.round(a / F.col("cap"), 6).alias("take_fraction"),
        (F.col("cap").cast("double") <= a).cast("int").alias("saturated"),
    )


_SQL_CHI2_INDEP = """
WITH cells AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS o
  FROM documents GROUP BY source, lang
),
marg_s AS (SELECT source, CAST(sum(o) AS BIGINT) AS ns FROM cells GROUP BY source),
marg_l AS (SELECT lang, CAST(sum(o) AS BIGINT) AS nl FROM cells GROUP BY lang),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
grid AS (
  SELECT s.source, l.lang, s.ns, l.nl, tot.n,
         coalesce(c.o, 0) AS o,
         CAST(s.ns AS DOUBLE) * l.nl / tot.n AS e
  FROM marg_s s CROSS JOIN marg_l l CROSS JOIN tot
  LEFT JOIN cells c ON c.source = s.source AND c.lang = l.lang
),
terms AS (SELECT (o - e) * (o - e) / e AS t FROM grid),
chis AS (
  SELECT round(list_aggregate(list(t ORDER BY t), 'sum'), 6) AS chi2 FROM terms
),
dims AS (
  SELECT CAST((SELECT count(*) FROM marg_s) AS BIGINT) AS r,
         CAST((SELECT count(*) FROM marg_l) AS BIGINT) AS c
)
SELECT dims.r AS n_sources, dims.c AS n_langs,
       CAST((dims.r - 1) * (dims.c - 1) AS BIGINT) AS dof,
       chis.chi2,
       round(chis.chi2 / ((dims.r - 1) * (dims.c - 1)), 6) AS chi2_per_dof
FROM dims CROSS JOIN chis
"""


@register("source_lang_independence", oracle=_SQL_CHI2_INDEP)
def source_lang_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between source and language —
    the contingency-table audit that says whether vendors specialize
    by language (chi2/dof >> 1) or the mix is exchangeable (~1, so
    per-source language stratification in mixture design buys
    nothing); the independence sibling of benford_price_audit's
    goodness-of-fit. The full marginal grid (including
    zero-observed cells, which carry weight (0-e)^2/e) comes from a
    marginals cross join — bounded by |sources| x |langs|, never by
    rows; expected counts are exact-integer products through one
    division; the term sum folds in value order with round-6."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(F.count("*").alias("o"))
    ms = cells.groupBy("source").agg(F.sum("o").alias("ns"))
    ml = cells.groupBy("lang").agg(F.sum("o").alias("nl"))
    tot = cells.agg(F.sum("o")).collect()[0][0]
    r = ms.count()
    c = ml.count()
    grid = (
        ms.crossJoin(F.broadcast(ml))
        .join(cells, ["source", "lang"], "left")
        .select(
            F.coalesce("o", F.lit(0)).alias("o"),
            (
                F.col("ns").cast("double") * F.col("nl") / F.lit(int(tot))
            ).alias("e"),
        )
    )
    t = (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
    agg = grid.agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(t)), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("chi2")
    )
    dof = (r - 1) * (c - 1)
    return agg.select(
        F.lit(r).cast("long").alias("n_sources"),
        F.lit(c).cast("long").alias("n_langs"),
        F.lit(dof).cast("long").alias("dof"),
        "chi2",
        F.round(F.col("chi2") / F.lit(float(dof)), 6).alias("chi2_per_dof"),
    )


_CONT_T = 0.6  # containment threshold |A ∩ B| / |A|

_SQL_CONTAINMENT = f"""
WITH sh AS ({_SQL_SHINGLES}),
post AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n FROM sh),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(count(*) AS BIGINT) AS i
  FROM post a JOIN post b ON b.g = a.g AND b.doc_id <> a.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.a_id, i.b_id, i.i AS n_shared,
       sa.n AS n_a, sb.n AS n_b,
       round(CAST(i.i AS DOUBLE) / sa.n, 6) AS containment_a_in_b,
       round(CAST(i.i AS DOUBLE)
             / CAST(sa.n + sb.n - i.i AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a_id
JOIN sizes sb ON sb.doc_id = i.b_id
WHERE CAST(i.i AS DOUBLE) / sa.n >= {_CONT_T}
"""


@register("containment_pairs", oracle=_SQL_CONTAINMENT)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    |A∩B| / |A| >= {_CONT_T} — the excerpt/quote/subset relation that
    symmetric Jaccard structurally misses (a paragraph fully embedded
    in a long doc has tiny Jaccard but containment ~1; Broder's
    original resemblance-AND-containment pair). Emitted next to the
    pair's Jaccard so the asymmetry is visible: high containment +
    low Jaccard = A lives inside B, the rows a keep-longest policy
    must see. Scale shape: the same shingle inverted-index join as
    ngram_jaccard_pairs (posting-list bound, never N^2), one
    intersection count per co-shingled ORDERED pair, broadcast size
    lookups. Integer-exact but for two round-6 ratios."""
    docs = load_table(spark, sf_dir, "documents")
    # r13: lazy lineage pin — the shingle frame feeds BOTH posting
    # sides and the size lookup, so the tokenize+shingle pass otherwise
    # ran three times per action
    sh = dedup_ops.ngram_shingles(docs).localCheckpoint(eager=False)
    post = sh.select("doc_id", F.explode("shingles").alias("g"))
    sizes = sh.select("doc_id", F.size("shingles").cast("long").alias("n"))
    a = post.select(F.col("doc_id").alias("a_id"), "g")
    b = post.select(F.col("doc_id").alias("b_id"), "g")
    inter = (
        a.join(b, "g")
        .where(F.col("b_id") != F.col("a_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n").alias("n_b"))
    j = inter.join(F.broadcast(sa), "a_id").join(F.broadcast(sb), "b_id")
    cont = F.col("i").cast("double") / F.col("n_a")
    return (
        j.where(cont >= _CONT_T)
        .select(
            "a_id",
            "b_id",
            F.col("i").alias("n_shared"),
            "n_a",
            "n_b",
            F.round(cont, 6).alias("containment_a_in_b"),
            F.round(
                F.col("i").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("i")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


_SQL_NOVELTY = f"""
WITH sh AS ({_SQL_SHINGLES}),
post AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
first_seen AS (SELECT g, CAST(min(doc_id) AS BIGINT) AS fs FROM post GROUP BY g)
SELECT p.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.fs = p.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(CAST(sum(CASE WHEN f.fs = p.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty_share
FROM post p JOIN first_seen f ON f.g = p.g
GROUP BY p.doc_id
"""


@register("doc_novelty_share", oracle=_SQL_NOVELTY)
def doc_novelty_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty attribution: per document (in doc_id ingest order), the
    share of its shingles that NO earlier document contained — the
    marginal-contribution number that turns dedup from binary
    keep/drop into a budgeted ranking (a doc that is 95% re-used
    shingles adds almost nothing even if it is nobody's near-dup;
    streaming pipelines compute exactly this against a Bloom/shingle
    store before paying for a document). Scale shape: one min-
    aggregate over the shingle postings (first-seen owner), one
    posting join back, one doc-keyed conditional count — all
    inverted-index bound. Integer-exact plus one round-6 share."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup_ops.ngram_shingles(docs)
    # r13: lazy lineage pin — the posting explode feeds the first-seen
    # aggregate AND the join back, otherwise re-tokenizing per consumer
    post = sh.select(
        "doc_id", F.explode("shingles").alias("g")
    ).localCheckpoint(eager=False)
    first_seen = post.groupBy("g").agg(F.min("doc_id").alias("fs"))
    j = post.join(first_seen, "g")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum((F.col("fs") == F.col("doc_id")).cast("long")).alias("n_novel"),
        F.round(
            F.sum((F.col("fs") == F.col("doc_id")).cast("long")).cast("double")
            / F.count("*"),
            6,
        ).alias("novelty_share"),
    )


_FANOUT_KS = (1, 10, 100)
_FANOUT_QS = (0.5, 0.99)


def _fanout_levels() -> list[tuple[int, float, float]]:
    """(k, q, q^(1/k)) triples — the quantile of max-of-k i.i.d. draws
    is the base distribution's quantile at level q^(1/k)."""
    return [(k, q, q ** (1.0 / k)) for k in _FANOUT_KS for q in _FANOUT_QS]


def _fanout_oracle() -> str:
    rows = ",\n    ".join(
        f"({k}, CAST({q!r} AS DOUBLE), CAST({lv!r} AS DOUBLE))"
        for k, q, lv in _fanout_levels()
    )
    return f"""
WITH lat AS (
  SELECT round(value, 6) AS v,
         row_number() OVER (ORDER BY round(value, 6) ASC, event_id ASC) AS rn,
         count(*) OVER () AS n
  FROM events
),
levels(k, q, lv) AS (VALUES
    {rows})
SELECT l.k AS fanout, l.q AS quantile,
       round(l.lv, 6) AS effective_level,
       (SELECT v FROM lat
        WHERE rn = CAST(ceil(l.lv * lat2.n) AS BIGINT)) AS latency_value
FROM levels l CROSS JOIN (SELECT max(n) AS n FROM lat) lat2
"""


@register("fanout_tail_amplification", oracle=_fanout_oracle)
def fanout_tail_amplification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-latency amplification under fan-out (Dean & Barroso, "The
    Tail at Scale"): when a request fans out to k parallel workers and
    waits for ALL, its q-quantile latency is the worker distribution's
    quantile at level q^(1/k) — this table reads the median and p99 of
    max-of-k straight off the EXACT order statistics of the measured
    latency column for k = 1/10/100, which is why a 1000-executor
    stage runs at its stragglers' pace and why the two-phase top-k's
    bounded per-partition work matters. Levels are shared
    Python-double literals; the lookup is an exact rank into the
    6-decimal-rounded values via the MERGEABLE counting histogram
    (latency_quantiles_counting's pattern): per-value counts partially
    aggregate map-side, the cumulative window runs over |distinct
    round-6 values| rows (value-domain bounded, never the fact table),
    and the value at rank r is min(v : cum >= r) — identical to the
    order-statistic lookup, with NO single-partition sort of events."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(F.round("value", 6).alias("v"))
        .agg(F.count("*").cast("long").alias("c"))
        .persist()
    )
    n = counts.agg(F.sum("c")).collect()[0][0]
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select("v", F.sum("c").over(wcum).cast("long").alias("cumc"))
    targets = [
        (k, q, lv, int(_math.ceil(lv * n))) for k, q, lv in _fanout_levels()
    ]
    aggs = [
        F.min(F.when(F.col("cumc") >= r, F.col("v"))).alias(f"t{i}")
        for i, (_, _, _, r) in enumerate(targets)
    ]
    row = cum.agg(*aggs).collect()[0]
    counts.unpersist()
    out = [
        (k, q, round(lv, 6), row[f"t{i}"])
        for i, (k, q, lv, _) in enumerate(targets)
    ]
    return spark.createDataFrame(
        out, "fanout int, quantile double, effective_level double, latency_value double"
    )


_ZIPF_FIT_R = 10_000  # head size for the log-log fit, mirrored in the oracle

_SQL_ZIPF = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
w AS (SELECT unnest(toks) AS term FROM t),
tc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY term),
ranked AS (
  SELECT term, c,
         CAST(row_number() OVER (ORDER BY c DESC, term ASC) AS BIGINT) AS r
  FROM tc
),
head AS (SELECT * FROM ranked WHERE r <= {_ZIPF_FIT_R}),
xy AS (
  SELECT round(log2(CAST(r AS DOUBLE)), 6) AS x,
         round(log2(CAST(c AS DOUBLE)), 6) AS y
  FROM head
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         round(list_aggregate(list(x ORDER BY x), 'sum'), 6) AS sx,
         round(list_aggregate(list(y ORDER BY y), 'sum'), 6) AS sy,
         round(list_aggregate(list(x * x ORDER BY x * x), 'sum'), 6) AS sxx,
         round(list_aggregate(list(x * y ORDER BY x * y), 'sum'), 6) AS sxy
  FROM xy
),
v AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size FROM tc)
SELECT v.vocab_size,
       m.n AS n_fit,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
FROM m, v
"""


@register("zipf_slope", oracle=_SQL_ZIPF)
def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: the log-log OLS slope of term frequency against
    frequency rank — natural language sits near -1; this fixture's
    closed near-uniform vocabulary honestly reads near 0, which
    (with vocab_growth_heaps' beta ~ 0) is the two-line fingerprint
    that text is templated/synthetic rather than natural. log2 terms
    round to 6 BEFORE the moment sums, each sum folds in value order
    and re-rounds, so the normal equations see identical doubles in
    both engines. The OLS fits the TOP-{_ZIPF_FIT_R} frequency ranks
    only (Zipf is a head fit; the shared literal is mirrored in the
    oracle): orderBy+limit plans as a parallel partial top-R per
    partition (TakeOrderedAndProject), the rank window and the ordered
    fold arrays are then bounded by R — never the open-ended
    vocabulary, which is 10^7-10^8 terms at web scale."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select(F.explode(tx.tokens_expr("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    vocab = tc.agg(F.count("*").cast("long").alias("vocab_size"))
    head = tc.orderBy(F.col("c").desc(), F.col("term").asc()).limit(_ZIPF_FIT_R)
    w = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    xy = head.select(
        F.round(F.log2(F.row_number().over(w).cast("double")), 6).alias("x"),
        F.round(F.log2(F.col("c").cast("double")), 6).alias("y"),
    )

    def fold(col):
        return F.round(
            F.aggregate(
                F.array_sort(F.collect_list(col)), F.lit(0.0), lambda a, b: a + b
            ),
            6,
        )

    m = xy.agg(
        F.count("*").alias("n"),
        fold(F.col("x")).alias("sx"),
        fold(F.col("y")).alias("sy"),
        fold(F.col("x") * F.col("x")).alias("sxx"),
        fold(F.col("x") * F.col("y")).alias("sxy"),
    )
    return m.crossJoin(F.broadcast(vocab)).select(
        "vocab_size",
        F.col("n").cast("long").alias("n_fit"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


_SQL_SKYLINE = f"""
WITH qual AS ({_SQL_QUALITY}),
pts AS (
  SELECT d.doc_id,
         CAST(round(round(q.quality, 6) * 1000000.0, 0) AS BIGINT) AS q6,
         round(q.quality, 6) AS quality,
         d.n_chars
  FROM documents d JOIN qual q ON q.doc_id = d.doc_id
),
groups AS (SELECT q6, CAST(max(n_chars) AS BIGINT) AS gmax FROM pts GROUP BY q6),
gprior AS (
  SELECT q6, gmax,
         max(gmax) OVER (ORDER BY q6 DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prior_max
  FROM groups
)
SELECT p.doc_id, p.quality, p.n_chars
FROM pts p JOIN gprior g ON g.q6 = p.q6
WHERE (g.prior_max IS NULL OR g.prior_max < p.n_chars)
  AND p.n_chars = g.gmax
"""


@register("doc_skyline", oracle=_SQL_SKYLINE)
def doc_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SKYLINE operator (Borzsony et al., ICDE'01): documents not
    Pareto-dominated in (quality, length) — no other doc is at least
    as good on both axes and strictly better on one. The multi-
    criteria shortlist no single score can produce (diverse_topk
    caps per source; this keeps every undominated tradeoff point).
    Algorithm: group by the quantized quality level, keep each
    level's max-length rows, then one DESCENDING running-max window
    over the ~|levels| group rows — the classic sort-based skyline,
    never a pairwise dominance join. Quality quantizes to an exact
    integer key (round*1e6), lengths are exact integers; equal
    (quality, length) ties all survive (no strict domination)."""
    docs = load_table(spark, sf_dir, "documents")
    d = _toks_df(spark, sf_dir)
    pts = d.select(
        "doc_id",
        "n_chars",
        F.round(tx.quality_expr(F.col("toks"), "text"), 6).alias("quality"),
    ).withColumn(
        "q6", F.round(F.col("quality") * 1000000.0, 0).cast("long")
    )
    groups = pts.groupBy("q6").agg(F.max("n_chars").alias("gmax"))
    w = Window.orderBy(F.col("q6").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    gprior = groups.withColumn("prior_max", F.max("gmax").over(w))
    return (
        pts.join(F.broadcast(gprior), "q6")
        .where(
            (F.col("prior_max").isNull() | (F.col("prior_max") < F.col("n_chars")))
            & (F.col("n_chars") == F.col("gmax"))
        )
        .select("doc_id", "quality", "n_chars")
    )


