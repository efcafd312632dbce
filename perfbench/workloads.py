"""The workloads: what each operation calls in the engine, and the
per-layer numbers only that workload can give.

Each workload runs its operations in rounds; a round is one pass over the
workload's inputs, and `items` is the work one round completes (pages,
documents or partitions).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import inputs
from perfbench.checks import checksum


TEXT_QUERIES = [
    "dedup_minhash_lsh",
    "txt_crossdoc_shingles",
    "dedup_simhash",
    "dedup_components",
]


class CheckFailed(Exception):
    """An operation finished but its output is wrong."""


class Context:
    def __init__(self, spark, work: str, data_dir: str, variant: int):
        self.spark = spark
        self.work = work
        self.data_dir = data_dir
        self.variant = variant


class Workload:
    name = ""
    item = ""
    # what `items_per_s` is called on this workload
    rate = ""
    # per-layer metrics this workload alone produces (0 on the others)
    LAYERS: tuple[str, ...] = ()

    def __init__(self, ctx: Context):
        self.ctx = ctx

    @property
    def spark(self):
        return self.ctx.spark

    def items(self) -> int:
        raise NotImplementedError

    def ops(self) -> list[str]:
        raise NotImplementedError

    def build(self, op: str) -> DataFrame:
        """Call into the engine; returns the plan whose checksum the run
        then computes."""
        raise NotImplementedError

    def cleanup(self) -> None:
        pass

    def op_layers(self) -> dict[str, float]:
        """Per-layer numbers of the operation that just ran."""
        return {}

    def layers(self, warm: list[dict]) -> dict[str, float]:
        """Workload-specific per-layer metrics from the warm rounds."""
        return {}

    def probes(self) -> dict[str, float]:
        """Extra traced-run measurements, made after the timed rounds."""
        return {}


class FlagshipTiles(Workload):
    """synth_pages -> tile_assignment(k=3): one map-only codegen stage, no
    shuffle, no Python, no parquet scan."""

    name = "flagship_tiles"
    item = "pages"
    rate = "flagship_pages_per_s"
    LAYERS = (
        "synth.gen_s",
        "functions.geocode_cells_s",
        "operators.pip_s",
        "operators.knn_inline_s",
    )
    BASE_COLS = ["page_id", "url", "warc_ts", "lang"]
    PROBE_REPEATS = 2

    def items(self) -> int:
        return inputs.FLAGSHIP_PAGES

    def ops(self) -> list[str]:
        return ["tile_assignment"]

    def pages(self) -> DataFrame:
        from pyofs_spark.synth import synth_pages

        offset = self.ctx.variant * inputs.FLAGSHIP_OFFSET_STEP
        pages = synth_pages(
            self.spark, inputs.FLAGSHIP_PAGES, inputs.FLAGSHIP_PARTITIONS
        )
        return pages.withColumn("page_id", F.col("page_id") + F.lit(offset))

    def build(self, op: str) -> DataFrame:
        from pyofs_spark.plans.pipeline import tile_assignment

        return tile_assignment(self.spark, self.pages(), k=3)

    def probes(self) -> dict[str, float]:
        """Layer times by prefix plans: each prefix adds one layer to the
        one before, and a layer's time is the difference of the two."""
        from pyofs_spark.operators.pip import pip_fixed
        from pyofs_spark.plans.pipeline import assign_cells, geocode_pages

        def synth():
            return self.pages().select(*self.BASE_COLS)

        def cells():
            return assign_cells(geocode_pages(synth()))

        def pip():
            return pip_fixed(cells()).select(
                *self.BASE_COLS, "lon", "lat", "cell_id", "polygon_id"
            )

        def full():
            return self.build("tile_assignment")

        times = []
        for plan in (synth, cells, pip, full):
            runs = []
            for _ in range(self.PROBE_REPEATS):
                t0 = time.perf_counter()
                checksum(plan())
                runs.append(time.perf_counter() - t0)
            times.append(statistics.median(runs))
        return {
            "synth.gen_s": times[0],
            "functions.geocode_cells_s": times[1] - times[0],
            "operators.pip_s": times[2] - times[1],
            "operators.knn_inline_s": times[3] - times[2],
        }


class TextDedup(Workload):
    """Four dedup queries over a generated corpus: shuffles, Arrow kernels
    and the iterative connected-components driver loop."""

    name = "text_dedup"
    item = "docs"
    rate = "text_dedup_docs_per_s"
    LAYERS = ("operators.components_jobs",) + tuple(
        f"plans.{m}.{q}" for m in ("build_s", "exec_s", "jobs") for q in TEXT_QUERIES
    )

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        import __spark_entry__

        self.queries = __spark_entry__.queries()

    def items(self) -> int:
        return inputs.TEXT_DOCS

    def ops(self) -> list[str]:
        return TEXT_QUERIES

    def build(self, op: str) -> DataFrame:
        return self.queries[op](self.spark, self.ctx.data_dir)


class DailyRaster(Workload):
    """lineage.run_partitioned over (variable, day) partitions built by
    jobs.daily.build_day_raster, on a fresh output root each pass, then an
    immediate re-run that must skip every partition."""

    name = "daily_raster"
    item = "partitions"
    rate = "daily_partitions_per_s"
    LAYERS = (
        "jobs.build_day_raster_s",
        "lineage.write_commit_s",
        "lineage.resume_s",
        "lineage.partitions_skipped",
        "lineage.commit_collisions",
        "sources.sink_bytes",
    )

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        self.keys = [
            f"{v}__{d}"
            for v in inputs.DAILY_VARIABLES
            for d in inputs.daily_days(ctx.variant)
        ]
        self.out_base = os.path.join(ctx.work, "out", f"daily_{os.getpid()}")
        self.passes = 0
        self.out_root = ""
        self.last: dict[str, float] = {}

    def items(self) -> int:
        return len(self.keys)

    def ops(self) -> list[str]:
        return ["daily_pass"]

    def build(self, op: str) -> DataFrame:
        from pyofs_spark.jobs.daily import build_day_raster
        from pyofs_spark.lineage import read_output, run_partitioned

        self.passes += 1
        self.out_root = os.path.join(self.out_base, f"pass{self.passes}")
        rasters = os.path.join(self.out_root, "rasters")
        build_s = []

        def build_partition(spark, key):
            variable, day = key.split("__")
            t0 = time.perf_counter()
            df = build_day_raster(spark, self.ctx.data_dir, variable, day, rasters)
            build_s.append(time.perf_counter() - t0)
            return df

        def must_not_build(spark, key):
            raise CheckFailed(f"re-run rebuilt committed partition {key}")

        t0 = time.perf_counter()
        first = run_partitioned(self.spark, self.out_root, self.keys, build_partition)
        t1 = time.perf_counter()
        rerun = run_partitioned(self.spark, self.out_root, self.keys, must_not_build)
        t2 = time.perf_counter()
        if sorted(first["ran"]) != sorted(self.keys):
            raise CheckFailed(f"first pass ran {first['ran']}, expected {self.keys}")
        if sorted(rerun["skipped"]) != sorted(self.keys):
            raise CheckFailed(f"re-run skipped {rerun['skipped']}")
        for key in self.keys:
            variable, day = key.split("__")
            for f in (f"{variable}_{day}.tif", f"{variable}_{day}.nc", f"{day}.gpkg"):
                path = os.path.join(rasters, f)
                if not os.path.isfile(path) or os.path.getsize(path) == 0:
                    raise CheckFailed(f"sink file missing or empty: {f}")
        self.last = {
            "jobs.build_day_raster_s": sum(build_s),
            "lineage.write_commit_s": (t1 - t0) - sum(build_s),
            "lineage.resume_s": t2 - t1,
            "lineage.partitions_skipped": len(rerun["skipped"]),
            "lineage.commit_collisions": first["commit_collisions"]
            + rerun["commit_collisions"],
            "sources.sink_bytes": _tree_bytes(self.out_root),
        }
        return read_output(self.spark, self.out_root)

    def cleanup(self) -> None:
        shutil.rmtree(self.out_base, ignore_errors=True)

    def op_layers(self) -> dict[str, float]:
        return dict(self.last)

    def layers(self, warm: list[dict]) -> dict[str, float]:
        recs = [r["ops"]["daily_pass"]["layers"] for r in warm if r["ops"]["daily_pass"]["ok"]]
        if not recs:
            return {}
        return {k: statistics.median(r[k] for r in recs) for k in self.LAYERS}


def _tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


WORKLOADS = {w.name: w for w in (FlagshipTiles, TextDedup, DailyRaster)}
