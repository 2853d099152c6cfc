"""SparkSession factory with scale-aware defaults, and the
session-scoped cache store.

Local-mode settings mirror what we would set on a real cluster: AQE on
(runtime re-plan, skew-join handling), shuffle partitions sized to the
parallelism, Arrow enabled for the Pandas-UDF slow path.

The store is the one place that decides what a cached value is keyed
on and how it is freed — the in-memory analog of the reference's
build-once artifacts (apps/nvdb_quantize_i8.cpp writes the int8 base
once; every bench run mmaps it):
  * ``memo`` caches ``fn(spark, *args)`` per (applicationId, fn, args),
    so a stopped session's DataFrames never leak into its successor;
  * ``persist`` persists a DataFrame that outlives its call and tracks it;
  * ``release_caches`` unpersists every tracked frame and clears every
    memo — long-lived sessions (bench loops, notebooks) call it to
    return executor storage; every entry re-materializes on next use.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

_MEMO: dict[tuple, object] = {}
_TRACKED: list[DataFrame] = []


def memo(fn):
    """Cache ``fn(spark, *args)`` for the life of the session.

    Not locked: a lock held across ``fn`` would deadlock a build whose
    thread pool calls another memo. Two threads that miss the same key
    at once both build it; every persist either takes is tracked, and
    the last result is kept."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, *args):
        key = (spark.sparkContext.applicationId, fn.__module__, fn.__qualname__, *args)
        if key not in _MEMO:
            _MEMO[key] = fn(spark, *args)
        return _MEMO[key]

    return wrapper


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and track it for :func:`release_caches`."""
    out = df.persist()
    _TRACKED.append(out)
    return out


def release_caches() -> int:
    """Unpersist every tracked frame and clear every memo; returns how
    many frames were released."""
    n = len(_TRACKED)
    for df in _TRACKED:
        try:
            df.unpersist()
        except Exception:  # pragma: no cover - session already stopped
            pass
    _TRACKED.clear()
    _MEMO.clear()
    return n


def get_spark(
    app_name: str = "nano-vectordb-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", None) else max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start every shuffle WIDE and let AQE coalesce using real map
        # output sizes — the cluster-correct default. With the initial
        # number pinned to the (small) shuffle_partitions, a 5M-doc
        # window/aggregate pushes ~400+ MB through each reducer task
        # and the sort spills (measured r12: corpus_clean's md5 window
        # went 7x over linear at 5M docs); wide-then-coalesce keeps
        # per-reducer bytes near the 64 MB advisory at any input scale
        # while small gate queries still collapse to a handful of
        # partitions.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", "256"),
        )
        # Let AQE re-plan (and so coalesce) the shuffles that feed
        # CACHED plans too — off by default, which made every persisted
        # frame materialize at the full initialPartitionNum width: the
        # operators' persisted bases (LSH signature/shingle frames,
        # candidate sets) were cached as 256 near-empty partitions and
        # every downstream stage scheduled 256 tasks to read them.
        # Measured at sf0.1 (warm, this flag false -> true):
        # corpus_clean 3.1 -> 1.3 s, minhash_lsh_pairs 0.95 -> 0.24 s,
        # simhash64_pairs 2.9 -> 1.8 s. The trade documented in Spark
        # (output partitioning of a cached plan may change across
        # actions) only affects consumers that rely on cached
        # partitioning alignment, which none of these operators do —
        # all downstream joins/aggregations declare their own keys.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize the NumPy matmul in the two-phase
        # scan (the mapInPandas analog of the reference's tile loop)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        # Parquet TIMESTAMP(NANOS) (events.ts) is otherwise unreadable in
        # Spark; we read it as long and convert in sources.tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
