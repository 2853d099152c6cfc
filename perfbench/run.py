"""Closed-loop, operation-level benchmark of nano_vectordb_spark.

One client and one driver thread on ``local[<cores>]`` call the
engine's public functions directly (``session.get_spark``,
``operators.*``, ``functions.*``), on inputs generated from ``--seed``
(see gen.py). Every operation's answer is checked afterwards, outside
the timed spans, against a NumPy / pure-Python recomputation
(checks.py). The last line of standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

with the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics. Run from the root of a checkout:

    python3 perfbench/run.py --workload vector-search --seed 1 --seconds 20 --trace 0

Workloads (``perfbench/README.md`` has the reasons and sizes):
``vector-search`` and ``corpus-clean``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import numpy as np  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
from spans import (  # noqa: E402
    Tracer,
    TreeMemory,
    empty_stats,
    seconds_since_process_start,
    span_job_stats,
)

K = 10
DIM = 64

# vector-search: base rows, generating clusters, IVF lists and probes,
# query batch sizes per path, and the int8 candidate depth R; the
# appended chunk's rows, and the batch searching the appended index (its
# last VS_SELF queries are copies of appended vectors)
VS_ROWS, VS_CLUSTERS, VS_NLIST, VS_NPROBE = 50_000, 64, 64, 8
VS_Q, VS_Q_I8, VS_R = 64, 2, 50
VS_CHUNK, VS_Q_ADD, VS_SELF = 5_000, 32, 4
# corpus-clean: documents per batch and the cleaning thresholds
CC_DOCS, CC_QUALITY, CC_JACCARD, CC_PERM, CC_BANDS = 2_000, 0.75, 0.7, 16, 4

WORKLOADS = ("vector-search", "corpus-clean")
DRIVER_MEMORY = "2g"
WARMUP_ROUNDS = 3
# the first timed rounds, whose operations make the throughput figure
# (warm_round_s); every run holds at least these
SAMPLE_ROUNDS = 2
# JIT settings of the driver JVM. A corpus-clean round is mostly the
# driver planning and scheduling many small jobs; under the default
# tiered JIT the optimizing (C2) compiler keeps recompiling that code
# for minutes, so round times fall through every round of a run and a
# run's figure says how far compilation got. With the C1 compiler alone
# its rounds are level from the second one on. A vector-search round is
# mostly data work and levels off within three rounds under the default
# JIT, which it keeps: with C1 alone it was about 30 % slower.
JIT_OPTS = {"vector-search": "", "corpus-clean": "-XX:TieredStopAtLevel=1"}

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "items_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "sources.cached_mb": "MB",
    "ivf.build_s": "s",
    "quantize.encode_s": "s",
    "topk.plan_s": "s",
    "topk.action_s": "s",
    "topk.jobs": "count",
    "topk.tasks": "count",
    "topk.executor_run_s": "s",
    "topk.shuffle_write_mb": "MB",
    "topk.bytes_per_query": "B",
    "topk.scan_gbps": "GB/s",
    "ivf.plan_s": "s",
    "ivf.action_s": "s",
    "ivf.jobs": "count",
    "ivf.executor_run_s": "s",
    "ivf.shuffle_write_mb": "MB",
    "ivf.probed_row_share": "ratio",
    "ivf.recall_at_10": "ratio",
    "ivf.add_s": "s",
    "ivf.appended_search_s": "s",
    "kmeans.assign_rows_per_s": "1/s",
    "refine.i8_scan_s": "s",
    "refine.rerank_s": "s",
    "refine.executor_run_s": "s",
    "refine.recall_gain": "ratio",
    "text.profile_s": "s",
    "text.profile_docs_per_s": "1/s",
    "text.executor_run_s": "s",
    "dedup.plan_s": "s",
    "dedup.eager_jobs": "count",
    "dedup.action_s": "s",
    "dedup.shuffle_write_mb": "MB",
    "dedup.spill_mb": "MB",
    "dedup.cached_mb": "MB",
    "dedup.pairs_per_planted": "ratio",
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Run:
    """State of one benchmark run: data directory, tracer, counters."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        tag = f"{workload}-{seed}-{os.getpid()}"
        self.data = os.path.join(HERE, "_data", tag)
        self.out = os.path.join(HERE, "_out")
        self.memory = TreeMemory()
        self.tracer = Tracer(traced)
        self.gen_s = 0.0  # input generation inside the set-up window
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.items = 0
        self.round_s = 0.0
        self.peak_mb = 0.0
        self.report: dict[str, tuple[float, str]] = {}  # named figures
        self.layer: dict[str, float] = {}
        self.spark = None

    def path(self, name: str) -> str:
        return os.path.join(self.data, name)

    def generate(self, fn, *args):
        t = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.gen_s += time.perf_counter() - t

    def span(self, name: str):
        return self.tracer.span(name)

    def check(self, errs: list[str]) -> None:
        self.errors += errs


# --------------------------------------------------------------------------
# environment and session
# --------------------------------------------------------------------------


def configure_env(run: Run) -> None:
    """Keep every file Spark and Python write inside the checkout, size
    the local master to this host, and in a traced run enable the Spark
    event log at submit time, outside the engine."""
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(run.path(sub), exist_ok=True)
    os.makedirs(run.out, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = run.path("spark-local")
    os.environ["TMPDIR"] = run.path("tmp")
    confs = [
        "--conf spark.ui.showConsoleProgress=false",
        # a heap of fixed size: its growth steps would otherwise decide
        # the resident memory more than the engine does
        f"--driver-java-options '-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
        f"{JIT_OPTS[run.workload]} -Djava.io.tmpdir={run.path('tmp')}'",
    ]
    if run.traced:
        confs += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{run.path('events')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(confs + ["pyspark-shell"])


def start_session(run: Run):
    with run.span("session.start"):
        from nano_vectordb_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{run.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    run.tracer.attach(spark.sparkContext)
    return spark


def stop_session(run: Run) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exit."""
    if run.spark is None:
        return
    sc = run.spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    run.spark.stop()
    run.spark = None
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


def write_queries(run: Run, name: str, mat: np.ndarray) -> str:
    path = run.path(name)
    gen.write_vectors(path, np.arange(len(mat)), mat, "query_id")
    return path


def ranked_rows(rows):
    return [(r["query_id"], r["vec_id"], r["score"], r["rank"]) for r in rows]


def probed_share(cent: np.ndarray, sizes: dict[int, int], q: np.ndarray, nprobe: int) -> float:
    """Share of the index rows inside the clusters a query batch probes
    (NumPy L2 probe against the index's centroids)."""
    d2 = ((q.astype(np.float64)[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
    probed = set(np.argsort(d2, axis=1, kind="stable")[:, :nprobe].ravel().tolist())
    return sum(sizes.get(c, 0) for c in probed) / sum(sizes.values())


def closed_loop(run: Run, one_round) -> None:
    """``WARMUP_ROUNDS`` warm-up rounds (``one_round(-1)``, ``one_round(-2)``,
    ...), then rounds ``one_round(0), one_round(1), ...`` until
    ``run.seconds`` have passed, and at least ``SAMPLE_ROUNDS`` of them.
    A round always runs whole, so every run holds the same mix of
    operations. The warm-up rounds, on fresh inputs of full size,
    pay the first-use costs that a long-lived session pays once (Python
    worker start, code generation, then the JIT compiling the driver's
    planning code); their answers are checked like the others but not
    timed."""
    run.memory.sample()  # after the set-up
    run.tracer.phase = "warmup"
    for w in range(WARMUP_ROUNDS):
        one_round(-1 - w)
    run.tracer.phase = "timed"
    start = time.perf_counter()
    i = 0
    while True:
        one_round(i)
        run.memory.sample()
        i += 1
        if i >= SAMPLE_ROUNDS and time.perf_counter() - start >= run.seconds:
            break
    run.round_s = warm_round_s(run)
    run.peak_mb = run.memory.peak_mb()  # before the checks allocate


def warm_round_s(run: Run) -> float:
    """Sum, over the operations of a round, of each one's fastest latency
    over the first ``SAMPLE_ROUNDS`` timed rounds. A shared host adds
    bursts that only ever slow an operation down; the fastest latency of
    each operation is the warmed state, and steadier from run to run
    than a median of a few rounds. The same rounds in every run, because
    how many rounds fit into the run depends on the host's speed, and
    both the fastest of more samples and a later round are faster: taken
    over all timed rounds, or over the last two, vector-search runs that
    fitted three rounds read some 10 % higher than runs that fitted two."""
    rounds = [s["id"] for s in run.tracer.spans if s["name"] == "round" and s["phase"] == "timed"]
    rounds = set(rounds[:SAMPLE_ROUNDS])
    ops: dict[str, list[float]] = {}
    for s in run.tracer.spans:
        if s["parent"] in rounds:
            ops.setdefault(s["name"], []).append(s["end"] - s["start"])
    return sum(min(v) for v in ops.values())


def throughput(run: Run) -> float:
    """Items of one round over the warm round time."""
    return run.items / len(run.tracer.durations("round", "timed")) / run.round_s


def timed_items(run: Run, n: int) -> None:
    if run.tracer.phase == "timed":
        run.items += n


# --------------------------------------------------------------------------
# vector-search
# --------------------------------------------------------------------------


def vector_search(run: Run) -> float:
    from pyspark.sql import functions as F

    from nano_vectordb_spark.functions import quantize as qz
    from nano_vectordb_spark.operators import gt as gt_ops
    from nano_vectordb_spark.operators import ivf as ivf_ops
    from nano_vectordb_spark.operators import refine as refine_ops
    from nano_vectordb_spark.operators import topk as topk_ops
    from nano_vectordb_spark.operators.metrics import effective_bandwidth_gbps

    space = gen.VectorSpace(run.seed, DIM, VS_CLUSTERS)
    base = run.generate(space.base, VS_ROWS)
    base_ids = np.arange(VS_ROWS, dtype=np.int64)
    run.generate(gen.write_vectors, run.path("base.parquet"), base_ids, base)

    spark = start_session(run)
    with run.span("sources.load"):
        base_df = spark.read.parquet(run.path("base.parquet")).persist()
        base_df.count()
    run.layer["sources.cached_mb"] = cached_mb(spark)
    with run.span("ivf.build"):
        idx = ivf_ops.ivf_build(base_df, nlist=VS_NLIST, seed=run.seed)
        idx.assigned = idx.assigned.persist()
        idx.assigned.count()
    with run.span("quantize.encode"):
        enc = qz.quantize_i8_df(base_df).select("vec_id", "scale", "embedding_i8").persist()
        enc.count()
    setup_done = seconds_since_process_start()

    vectors = dict(zip(base_ids.tolist(), base))
    batches = []  # (round, queries, flat, ivf, int8 refined)
    appends = []  # (round, cluster counts, queries, self-query map, answer)

    def search(op: str, index, qpath: str):
        with run.span(op):
            q = spark.read.parquet(qpath)
            with run.span(f"{op[3:]}.plan"):
                df = ivf_ops.ivf_search(index, q, K, nprobe=VS_NPROBE)
            with run.span(f"{op[3:]}.action"):
                return ranked_rows(df.collect())

    def one_round(i: int) -> None:
        b = i + WARMUP_ROUNDS  # input batch: 0, 1, ... over warm-up and timed rounds
        q = gen.perturbed_queries(run.seed, b, base, VS_Q)
        qpath = write_queries(run, f"q{i}.parquet", q)
        q8path = write_queries(run, f"q8_{i}.parquet", q[:VS_Q_I8])
        chunk = space.chunk(b, VS_CHUNK)
        ids = VS_ROWS + b * VS_CHUNK + np.arange(VS_CHUNK, dtype=np.int64)
        cpath = run.path(f"chunk{i}.parquet")
        gen.write_vectors(cpath, ids, chunk)
        vectors.update(zip(ids.tolist(), chunk))
        qa = gen.perturbed_queries(run.seed, b, base, VS_Q_ADD, stream="chunk_queries")
        qa[-VS_SELF:] = chunk[:VS_SELF]  # copies of appended vectors
        qapath = write_queries(run, f"qa{i}.parquet", qa)
        with run.span("round"):
            with run.span("op.flat"):
                qdf = spark.read.parquet(qpath)
                with run.span("topk.plan"):
                    df = topk_ops.topk_multi(base_df, qdf, K, strategy="two_phase")
                with run.span("topk.action"):
                    flat = ranked_rows(df.collect())
            ivf = search("op.ivf", idx, qpath)
            with run.span("op.i8"):
                q8 = spark.read.parquet(q8path)
                with run.span("refine.i8_scan"):
                    qb = F.broadcast(q8.select("query_id", F.col("embedding").alias("__qvec")))
                    scored = enc.crossJoin(qb).select(
                        "query_id",
                        "vec_id",
                        qz.dot_i8_expr("__qvec", "embedding_i8", "scale").alias("score"),
                    )
                    cand = topk_ops.rank_topk(scored, VS_R, metric="dot")
                    # staged: the int8 top-R stage is materialized here,
                    # so this span is the int8 scan and the next the rerank
                    ref_df = refine_ops.refine(base_df, q8, cand, K, staged=True)
                with run.span("refine.rerank"):
                    refined = ranked_rows(ref_df.collect())
            # ingest: append a chunk to the freshly built index (a new
            # IvfIndex; `idx` itself is unchanged), materialize, search it
            with run.span("op.append"):
                with run.span("ivf.add"):
                    appended = ivf_ops.ivf_add(idx, spark.read.parquet(cpath))
                    counts = {
                        int(x["cluster_id"]): int(x["count"])
                        for x in appended.assigned.groupBy("cluster_id").count().collect()
                    }
            added = search("op.ivf_appended", appended, qapath)
        run.attempted += 5
        timed_items(run, 2 * VS_Q + VS_Q_I8 + VS_Q_ADD)
        batches.append((i, q, flat, ivf, refined))
        self_map = {VS_Q_ADD - VS_SELF + s: int(ids[s]) for s in range(VS_SELF)}
        appends.append((i, counts, qa, self_map, added))

    closed_loop(run, one_round)

    # ---- checks, outside the timed loop --------------------------------
    id_to_row = {int(v): int(v) for v in base_ids}
    sizes = {
        int(r["cluster_id"]): int(r["count"])
        for r in idx.assigned.groupBy("cluster_id").count().collect()
    }
    run.check(checks.check_cluster_counts(sizes, VS_NLIST, VS_ROWS))
    ivf_recall, gains, shares = [], [], []
    for i, q, flat, ivf, refined in batches:
        qids = np.arange(len(q))
        exp_ids, exp_s = checks.exact_topk(base_ids, base, q, K)
        run.check([f"flat batch {i}: {e}" for e in checks.check_topk(
            flat, qids, exp_ids, exp_s, id_to_row, base, q)])
        run.check([f"ivf batch {i}: {e}" for e in checks.check_ranked(
            ivf, qids, K, vectors, q)])
        q8, qids8, exp8 = q[:VS_Q_I8], qids[:VS_Q_I8], exp_ids[:VS_Q_I8]
        i8_ids, ref_ids, ref_s = checks.i8_refine_expected(base_ids, base, q8, K, VS_R)
        run.check([f"i8 batch {i}: {e}" for e in checks.check_topk(
            refined, qids8, ref_ids, ref_s, id_to_row, base, q8)])
        got = checks.recall(exp8, checks.ranked_ids(refined), qids8, K)
        i8_only = checks.recall(exp8, dict(zip(qids8.tolist(), i8_ids.tolist())), qids8, K)
        if got < i8_only:
            run.check([f"i8 batch {i}: refined recall {got} < int8-only recall {i8_only}"])
        if i >= 0:
            ivf_recall.append(checks.recall(exp_ids, checks.ranked_ids(ivf), qids, K))
            shares.append(probed_share(idx.centroids_np, sizes, q, VS_NPROBE))
            gains.append(got - i8_only)
    for i, counts, qa, self_map, added in appends:
        run.check([f"append {i}: {e}" for e in checks.check_cluster_counts(
            counts, VS_NLIST, VS_ROWS + VS_CHUNK)])
        run.check([f"appended search {i}: {e}" for e in checks.check_self_hits(added, self_map)])
        run.check([f"appended search {i}: {e}" for e in checks.check_ranked(
            added, np.arange(len(qa)), K, vectors, qa)])

    # IVF probing every list is the exact scan
    _, q0, flat0, ivf0, _ = batches[WARMUP_ROUNDS]  # the first timed round
    q0df = spark.read.parquet(run.path("q0.parquet"))
    full = ranked_rows(ivf_ops.ivf_search(idx, q0df, K, nprobe=VS_NLIST).collect())
    run.check(checks.check_same_ids(full, flat0, "ivf nprobe=nlist vs flat"))
    # the engine's recall_at_k against an independent NumPy recall
    schema = "query_id long, vec_id long, score double, rank int"
    gt = gt_ops.gt_from_topk(spark.createDataFrame(flat0, schema), K)
    pred = gt_ops.gt_from_topk(spark.createDataFrame(ivf0, schema), K)
    engine_recall = gt_ops.recall_at_k(
        gt, pred.withColumnRenamed("gt_ids", "pred_ids"), K
    ).first()["recall_at_k"]
    flat_ids = checks.ranked_ids(flat0)
    exp0 = np.array([flat_ids[j] for j in range(len(q0))])
    run.check(checks.check_recall_value(
        engine_recall, checks.recall(exp0, checks.ranked_ids(ivf0), np.arange(len(q0)), K)))
    # int8 codes of a fixed subset of rows: dequantization error
    sample = enc.filter(F.col("vec_id") % 50 == 0).orderBy("vec_id").collect()
    rows = np.array([r["vec_id"] for r in sample])
    run.check(checks.check_dequant(
        np.array([r["embedding_i8"] for r in sample], dtype=np.float64),
        np.array([r["scale"] for r in sample], dtype=np.float64),
        base[rows],
    ))

    def timed(name):
        return run.tracer.durations(name, "timed")

    flat_s = median(timed("op.flat"))
    adds = timed("ivf.add")
    payload = VS_ROWS * DIM * 4  # float32 payload of one full base scan
    run.report.update({
        "search_qps": (throughput(run), "queries/s"),
        "flat_batch_s": (flat_s, "s"),
        "ivf_batch_s": (median(timed("op.ivf")), "s"),
        "i8_refine_batch_s": (median(timed("op.i8")), "s"),
        "ingest_rows_per_s": (VS_CHUNK * len(adds) / sum(timed("op.append")), "rows/s"),
        "ingest_search_batch_s": (median(timed("op.ivf_appended")), "s"),
    })
    run.layer.update({
        "sources.load_s": run.tracer.durations("sources.load")[0],
        "ivf.build_s": run.tracer.durations("ivf.build")[0],
        "quantize.encode_s": run.tracer.durations("quantize.encode")[0],
        "topk.bytes_per_query": payload / VS_Q,
        "topk.scan_gbps": effective_bandwidth_gbps(payload, flat_s * 1000.0),
        "ivf.probed_row_share": float(np.mean(shares)),
        "ivf.recall_at_10": float(np.mean(ivf_recall)),
        "ivf.add_s": median(adds),
        # the appended rows stay uncached: every action on the appended
        # index assigns them again (the add's count and the search)
        "ivf.appended_search_s": median(timed("op.ivf_appended")),
        "kmeans.assign_rows_per_s": VS_CHUNK * len(adds) / sum(adds),
        "refine.recall_gain": float(np.mean(gains)),
    })
    return setup_done


# --------------------------------------------------------------------------
# corpus-clean
# --------------------------------------------------------------------------


def corpus_clean(run: Run) -> float:
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from nano_vectordb_spark.functions import text as tx
    from nano_vectordb_spark.operators import dedup

    edge = pd.DataFrame({"doc_id": np.arange(len(gen.EDGE_DOCS)), "text": list(gen.EDGE_DOCS)})
    edge_path = run.path("edge.parquet")
    run.generate(gen.write_docs, edge_path, edge)
    edge_texts = dict(enumerate(gen.EDGE_DOCS))
    corpus = gen.Corpus(run.seed)

    spark = start_session(run)
    setup_done = seconds_since_process_start()

    batches = []
    cached = []

    def one_round(i: int) -> None:
        b = i + WARMUP_ROUNDS  # input batch: 0, 1, ... over warm-up and timed rounds
        frame, manifest = corpus.batch(b, CC_DOCS, b * CC_DOCS)
        dpath = run.path(f"docs{i}.parquet")
        gen.write_docs(dpath, frame)
        with run.span("round"):
            with run.span("op.clean"):
                docs = spark.read.parquet(dpath)
                with run.span("text.profile"):
                    scored = tx.scored_docs(docs)
                    kept = scored.filter(
                        (F.col("quality") >= CC_QUALITY) & (F.col("pred_lang") == "en")
                    ).drop("pred_lang")
                    # exact dedup on the content hash: keep the lowest id
                    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
                    uniq = (
                        kept.withColumn("__rn", F.row_number().over(w))
                        .filter(F.col("__rn") == 1)
                        .drop("__rn")
                        .persist()
                    )
                    uniq.count()
                with run.span("dedup.plan"):
                    pairs_df = dedup.minhash_lsh_pairs(
                        uniq.select("doc_id", "text"), CC_JACCARD, k=CC_PERM, bands=CC_BANDS
                    )
                with run.span("dedup.action"):
                    pairs = [(p["a_id"], p["b_id"], p["jaccard"]) for p in pairs_df.collect()]
                with run.span("dedup.antijoin"):
                    removed = pairs_df.select(F.col("b_id").alias("doc_id")).distinct()
                    out = (
                        uniq.join(F.broadcast(removed), "doc_id", "left_anti")
                        .select("doc_id", "n_tokens", "quality")
                        .collect()
                    )
                if run.tracer.phase == "timed":
                    cached.append(cached_mb(spark))
                with run.span("dedup.release"):
                    dedup.release_caches()
                    uniq.unpersist()
            with run.span("op.edge_probe"):
                probe = tx.scored_docs(spark.read.parquet(edge_path))
                probe_rows = probe.select("doc_id", "n_tokens").collect()
        run.attempted += 2
        timed_items(run, CC_DOCS)
        probe_counts = {int(x["doc_id"]): int(x["n_tokens"]) for x in probe_rows}
        if checks.check_token_counts(probe_counts, edge_texts):
            run.failed += 1  # the Arrow-batch-edge token-count defect
        batches.append((i, frame, manifest, pairs, [(x["doc_id"], x["n_tokens"]) for x in out]))

    closed_loop(run, one_round)

    n_pairs = n_planted = 0
    rows = CC_PERM // CC_BANDS
    for i, frame, manifest, pairs, out in batches:
        texts = dict(zip(frame["doc_id"].tolist(), frame["text"].tolist()))
        run.check([f"batch {i}: {e}" for e in checks.check_pairs(pairs, texts, CC_JACCARD)])
        errs, _found = checks.check_planted_recall(pairs, manifest["near"], CC_BANDS, rows)
        run.check([f"batch {i}: {e}" for e in errs])
        run.check([f"batch {i}: {e}" for e in checks.check_clean_output(
            out, texts, pairs, manifest["exact"])])
        if i >= 0:
            n_pairs += len(pairs)
            n_planted += len(manifest["near"])

    profile = run.tracer.durations("text.profile", "timed")
    run.report.update({
        "corpus_docs_per_s": (throughput(run), "docs/s"),
        "clean_batch_s": (median(run.tracer.durations("op.clean", "timed")), "s"),
    })
    run.layer.update({
        "text.profile_s": median(profile),
        "text.profile_docs_per_s": CC_DOCS / median(profile),
        "dedup.plan_s": median(run.tracer.durations("dedup.plan", "timed")),
        "dedup.action_s": median(run.tracer.durations("dedup.action", "timed")),
        "dedup.cached_mb": median(cached),
        "dedup.pairs_per_planted": n_pairs / n_planted,
    })
    return setup_done


# --------------------------------------------------------------------------
# per-layer figures from the trace
# --------------------------------------------------------------------------

# layer -> the spans of one operation's calls into it
_JOB_LAYERS = {
    "topk": ("topk.plan", "topk.action"),
    "ivf": ("ivf.plan", "ivf.action"),
    "refine": ("refine.i8_scan", "refine.rerank"),
    "text": ("text.profile",),
    "dedup": ("dedup.plan", "dedup.action", "dedup.antijoin"),
}


def job_layers(run: Run, stats: dict[int, dict]) -> None:
    """Per-operation medians of the Spark figures of each layer's spans."""
    spans = run.tracer.spans
    for layer, names in _JOB_LAYERS.items():
        # one operation = the consecutive spans of one layer under one parent
        per_op: dict[int, dict] = {}
        for s in spans:
            if s["name"] in names and s["phase"] == "timed":
                acc = per_op.setdefault(s["parent"], empty_stats())
                for key, v in stats.get(s["id"], {}).items():
                    acc[key] += v
        ops = list(per_op.values())
        for key in empty_stats():
            name = f"{layer}.{key}"
            if name in PER_LAYER:
                run.layer[name] = median([o[key] for o in ops])
    eager = [
        stats.get(s["id"], {}).get("jobs", 0)
        for s in spans
        if s["name"] == "dedup.plan" and s["phase"] == "timed"
    ]
    run.layer["dedup.eager_jobs"] = median(eager)
    for name in ("topk.plan", "topk.action", "ivf.plan", "ivf.action",
                 "refine.i8_scan", "refine.rerank"):
        run.layer[f"{name}_s"] = median(run.tracer.durations(name, "timed"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="nano_vectordb_spark operation benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "nano_vectordb_spark", "__init__.py")):
        print(f"engine package nano_vectordb_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    configure_env(run)
    body = {"vector-search": vector_search, "corpus-clean": corpus_clean}[args.workload]
    try:
        setup_done = body(run)
        run.layer["session.start_s"] = run.tracer.durations("session.start")[0]
        stop_session(run)
        if run.traced:
            job_layers(run, span_job_stats(run.path("events")))
            run.tracer.write(
                os.path.join(run.out, f"spans-{args.workload}-{args.seed}.jsonl"),
                run.tracer.spans[0]["start"],
            )
    finally:
        stop_session(run)
        shutil.rmtree(run.data, ignore_errors=True)

    metrics = {
        "setup_s": setup_done - run.gen_s,
        "peak_rss_mb": run.peak_mb,
        "items_per_s": throughput(run),
    }
    for name, (value, unit) in run.report.items():
        print(f"{name:28s} {value:14.6f} {unit}")
    for name, value in metrics.items():
        print(f"{name:28s} {value:14.6f} {END_TO_END[name]}")
    if run.traced:
        for name, unit in PER_LAYER.items():
            print(f"{name:28s} {run.layer.get(name, 0.0):14.6f} {unit}")
    for e in run.errors[:20]:
        print(f"CHECK FAILED: {e}")
    if run.traced:
        out = {n: {"value": float(run.layer.get(n, 0.0)), "unit": u} for n, u in PER_LAYER.items()}
    else:
        out = {n: {"value": float(v), "unit": END_TO_END[n]} for n, v in metrics.items()}
    print(json.dumps({
        "correct": not run.errors,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
