"""Seeded input generation for the workloads.

The seed picks one of `VARIANTS` input variants (`variant = seed %
VARIANTS`). Each variant is fully determined by its number, so the same seed
always gives the same inputs, and every variant has a golden checksum in
`goldens/` that the run compares its outputs against.

Table data comes from `scripts/make_sf_scaled.py`'s `gen_*` functions,
imported read-only, at the row counts of the sf0.1 testdata. Generated
parquet is cached under the work directory, one directory per (workload,
variant), published by an atomic rename so an interrupted run never leaves a
partial dataset behind.
"""

from __future__ import annotations

import importlib.util
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VARIANTS = 8


# flagship_tiles: pages per operation; the variant shifts the page_id range
FLAGSHIP_PAGES = 2_000_000
FLAGSHIP_PARTITIONS = 32
FLAGSHIP_OFFSET_STEP = 1_000_000_000

# text_dedup: documents in the corpus (sf0.1 size). Every variant is the
# same corpus under shifted doc ids: the work, and so the run time, is the
# same for every seed, while each seed's outputs, and so its golden, differ.
TEXT_DOCS = 5_000
TEXT_ID_STEP = 100_000_000

# daily_raster: rows of the events table (sf0.1 size) and the (variable,
# day) partitions per pass
DAILY_EVENTS = 100_000
DAILY_VARIABLES = ("sst", "ssh")
DAILY_DAYS = 1


def variant_of(seed: int) -> int:
    return seed % VARIANTS


def _rng(workload: str, variant: int) -> np.random.Generator:
    # one independent stream per (workload, variant)
    tag = sum(ord(c) for c in workload)
    return np.random.default_rng([tag, variant])


def load_sf_scaled(root: str):
    """Import `scripts/make_sf_scaled.py` from the checkout (read-only)."""
    path = os.path.join(root, "scripts", "make_sf_scaled.py")
    spec = importlib.util.spec_from_file_location("make_sf_scaled", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tables(root: str, workload: str, variant: int) -> dict:
    """Thunks producing every parquet table the workload reads."""
    gen = load_sf_scaled(root)
    rng = _rng(workload, variant)
    if workload == "text_dedup":
        return {"documents": lambda: _shift_ids(
            gen.gen_documents(_rng(workload, 0), TEXT_DOCS),
            "doc_id",
            variant * TEXT_ID_STEP,
        )}
    if workload == "daily_raster":
        return {"events": lambda: gen.gen_events(rng, DAILY_EVENTS)}
    return {}


def _shift_ids(table: pa.Table, column: str, offset: int) -> pa.Table:
    i = table.schema.get_field_index(column)
    shifted = pc.add(table.column(i), pa.scalar(offset, pa.int64()))
    return table.set_column(i, column, shifted)


def prepare(root: str, work: str, workload: str, variant: int) -> str:
    """Materialize the workload's parquet inputs for `variant` (cached) and
    return the directory holding them."""
    out = os.path.join(work, "data", f"{workload}_v{variant}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, make in _tables(root, workload, variant).items():
        pq.write_table(make(), os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def daily_days(variant: int) -> list[str]:
    """The seed-chosen days of the 30 in the generated events table."""
    rng = _rng("daily_raster_days", variant)
    days = sorted(rng.choice(30, DAILY_DAYS, replace=False))
    return [f"2024-01-{d + 1:02d}" for d in days]
