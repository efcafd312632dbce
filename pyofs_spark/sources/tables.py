"""Table loaders.

Testdata parquet loading (driver-provided TPC-H-ish star schema plus
documents/embeddings, TESTDATA.md) and view registration. At production
scale these reads become Iceberg catalog reads (`spark.read.table`); the
parquet path keeps identical semantics (columnar scan, predicate pushdown,
partition pruning on directory layout).

Round 6 (guide §5 "the driver should do almost no data work"): both
`load_table` and `register_views` are memoized per live SparkSession.
Every `spark.read.parquet` is a driver-side py4j round-trip plus a footer
schema read (~90 ms measured warm); the query registry calls these on
EVERY query invocation, so the un-memoized cost was ~0.9 s per invocation
x 26 invocations in the headline bench — pure driver overhead, zero bytes
of useful work. DataFrames are immutable plans, so handing back the same
object is semantics-preserving; the cache is keyed on the session OBJECT
(WeakKeyDictionary — dies with the session) plus the directory, so a new
session or a different sf_dir always re-reads, and the testdata itself is
immutable by contract (read-only mount, `_DONE` marker).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
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
]

# session -> {parquet path -> DataFrame plan}
_DF_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)
# session -> sf_dir whose tables the session's temp views currently point at
_VIEWS_FOR: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    per_session = _DF_CACHE.setdefault(spark, {})
    df = per_session.get(path)
    if df is None:
        df = spark.read.parquet(path)
        per_session[path] = df
    return df


def spread_single_split(df: DataFrame, path: str) -> DataFrame:
    """Fan a SINGLE-SPLIT scan out before a compute-heavy Arrow stage
    (guide §2.6 idle capacity).

    A parquet file smaller than `spark.sql.files.maxPartitionBytes` (one
    row group, as the testdata files are) scans as ONE task, so the whole
    downstream map stage — Arrow serialization + Python kernel — runs
    serially no matter how many cores exist. When the input is below one
    split, a round-robin repartition sized at ~1 MB of file per partition
    (capped at defaultParallelism) costs one bounded exchange and unlocks
    full-width execution; measured 1.5 s -> 0.6 s for the MinHash kernel
    on a 8 MB / 50k-doc corpus, and a deliberate NO-OP both for tiny
    inputs (where task overhead would dominate: sf0.1 repartition(32) was
    measured SLOWER than serial) and at production scale, where inputs
    carry >= 1 split per 128 MB already — it can never trigger a
    full-corpus shuffle (the exchange is capped at maxPartitionBytes by
    construction).

    That "task overhead" was mostly the per-task re-read of pyspark.zip's
    directory that `session.install_stat_checked_zipimport` now skips.
    With it skipped, forcing the fan-out on the 5 000-doc benchmark
    corpus (4-core host) cut txt_crossdoc_shingles from 1.37 s to 0.96 s
    in one traced run, and the text_dedup round won 3 of 4 pairs
    (1 535/1 419/1 630/1 395 vs 1 328/1 521/1 288/1 121 docs/s): too few
    pairs to change the size rule above, which stays as it is."""
    try:
        size = os.path.getsize(path)
    except OSError:
        return df
    spark = df.sparkSession
    try:
        max_split = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
    except ValueError:  # size-suffixed form ("128m"): keep the default
        max_split = 128 * 1024 * 1024
    if size >= max_split:
        return df
    n = min(
        spark.sparkContext.defaultParallelism, max(1, size // (1024 * 1024))
    )
    if n <= 1:
        return df
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view named after itself.

    Idempotent per (session, sf_dir): re-registering identical views on
    every query invocation cost ~0.9 s of driver time each; switching
    sf_dir (oracle runs walk sf0.001 -> sf0.01) still re-registers."""
    if _VIEWS_FOR.get(spark) == sf_dir:
        return
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_FOR[spark] = sf_dir
