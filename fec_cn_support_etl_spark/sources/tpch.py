"""Loaders for the driver-generated synthetic star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf dir.

Parquet + an imposed lazy plan means Catalyst gets column pruning and
predicate pushdown for free; loaders deliberately do NOT cache or
collect anything.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


# path -> (stamp, schema Spark inferred for the files with that stamp).
# Process-wide: it records facts about files, which every session the
# package builds reads with the same parquet settings.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _stamp(path: str) -> tuple | None:
    """``(mtime_ns, size)`` of a parquet file, or of every file under a
    parquet directory; None when the path cannot be stat'ed (missing,
    or not on the local file system), which leaves it unmemoized."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (st.st_mtime_ns, st.st_size)
        stamp = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                stamp.append((p, st.st_mtime_ns, st.st_size))
        return tuple(sorted(stamp))
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one table. Spark infers a parquet schema with a job
    that reads a footer (~98 ms per load against ~16 ms with a known
    schema, 4-core VM), so the schema it inferred is remembered per path
    and handed to later loads until the files' stamp changes."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    stamp = _stamp(path)
    hit = _SCHEMAS.get(path)
    if stamp is not None and hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if stamp is not None:
        _SCHEMAS[path] = (stamp, df.schema)
    return df


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition a narrow scan UP to the session's default
    parallelism — only when the scan is under-partitioned.

    Why (round 7, guide §2.5 "input skew"): the driver fixtures are one
    parquet file with one row group per table, so every scan is ONE
    task and all pre-shuffle compute (shingle hashing, regex feature
    extraction, hyperplane dot products) serializes onto a single core
    — measured 15-20 s single-threaded for the sf1.0 shingle stage on a
    32-core host. A round-robin exchange of the (small) scan output
    unlocks the other cores for ~100x more downstream compute.

    Scale-adaptive by construction: when the input already has >=
    parallelism splits (any real table at cluster scale), this returns
    the plan UNCHANGED — no shuffle is added, so it cannot regress the
    100 TB case where re-shuffling raw text/vectors would be the bug.
    Deterministic: Spark's sort-before-repartition (SPARK-23207, on by
    default) makes the row->partition assignment reproducible, and no
    downstream result depends on partitioning (aggregates are exact-
    decimal/associative, windows totally ordered, set results hashed
    order-insensitively).
    """
    n = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(prefix + t)
