"""Parquet table loaders for the driver testdata layout.

Replaces the reference's mmap vecbin loader (SURVEY.md O1,
src/vector_dataset.cpp:24-119): Parquet gives us the same
"schema fixed, validated at load" contract via an explicit expected
schema check, plus columnar pruning + predicate pushdown for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from nano_vectordb_spark.session import memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Plan-construction cost matters: spark.read.parquet is several py4j
# round-trips plus a footer read, and registry entries call load_table
# 1-10 times EACH — at bench scale that's 30-70% of a query's wall
# time. DataFrames are immutable, so the per-(session, dir, table)
# instance is memoized and shared (session.memo).


@memo
def ensure_read_confs(spark: SparkSession) -> None:
    """Session confs required to read the driver's parquet layout.

    events.parquet stores TIMESTAMP(NANOS), which Spark 4 rejects unless
    nanosAsLong is set. session.py sets it at build time, but callers may
    hand us an already-built session (e.g. an external harness) — a runtime
    conf.set works on a live session and is a no-op when already set.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


@memo
def raw_parquet_schema(spark: SparkSession, path: str):
    """The UNNORMALIZED schema of a parquet table, memoized per
    session. Stream sources must declare the on-disk
    schema (the file source reads raw files; any ts normalization
    happens downstream), so they cannot reuse load_table's normalized
    plan — but the footer read + py4j round-trips are the same
    per-call tax, so the schema gets the same memo treatment."""
    ensure_read_confs(spark)
    return spark.read.parquet(path).schema


@memo
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_read_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts normalizes to TIMESTAMP_NTZ — wall-clock micros with no
    # session-timezone dependence, matching DuckDB's naive TIMESTAMP on
    # the oracle side. Two parquet layouts appear in the wild:
    #   * TIMESTAMP(MICROS, isAdjustedToUTC=false) -> already NTZ; no-op.
    #   * TIMESTAMP(NANOS) + nanosAsLong -> epoch-ns LongType; values are
    #     microsecond-aligned so `div 1000` is lossless; timestampadd
    #     against the NTZ epoch is timezone-free (timestamp_micros would
    #     yield LTZ, whose wall time shifts with the session timezone).
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


# (applicationId -> sf_dir) most recently registered as views; temp-view
# names are session-global, so a different sf_dir must re-register
_VIEWS_STATE: dict[str, str] = {}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (matches the driver's DuckDB
    side, where the same names are pre-registered). Skipped when this
    session already has views for the same sf_dir — entries call this
    per invocation, and 10 createOrReplaceTempView round-trips per call
    were a measurable slice of plan-construction time."""
    app_id = spark.sparkContext.applicationId
    if _VIEWS_STATE.get(app_id) == sf_dir:
        return
    # Partial fixtures are legitimate (the sf100 decade ships only
    # documents+events; a 100 TB job mounts only the tables it reads),
    # so register what exists — but an sf_dir with NO tables is a typo,
    # not a partial fixture: fail loudly.
    if "://" in sf_dir:  # object-store URI: existence probe is not a stat()
        present = list(TABLES)
    else:
        present = [
            t for t in TABLES if os.path.exists(os.path.join(sf_dir, f"{t}.parquet"))
        ]
        if not present:
            raise FileNotFoundError(f"no *.parquet tables under {sf_dir!r}")
    for t in present:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    _VIEWS_STATE[app_id] = sf_dir
