"""Output checks that cannot lie: row count plus an exact hash sum.

`checksum(df)` runs one aggregate over every output column and returns
`(rows, hash_sum)`, where `hash_sum` is the exact integer
`sum(cast(xxhash64(all columns) as decimal(38,0)))`:

- a sum is order-insensitive, so partitioning and task order do not matter;
- a sum, unlike `bit_xor`, counts every duplicate row;
- the sum is taken as two 32-bit halves, each summed in a bigint, and joined
  on the driver. That never overflows under Spark 4's default ANSI mode
  (a plain `sum(xxhash64)` does) and avoids a per-row decimal add;
- double values, also inside arrays, structs and maps, are rounded to float
  precision (24-bit mantissa, about 7 significant digits) first, so a change
  in summation order that moves the last bits of an aggregate does not read
  as a wrong answer.

Nothing is collected but the single aggregate row, so a large result can
never come back truncated.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _narrow(dtype: T.DataType) -> T.DataType:
    """`dtype` with every double inside it replaced by float."""
    if isinstance(dtype, T.DoubleType):
        return T.FloatType()
    if isinstance(dtype, T.ArrayType):
        return T.ArrayType(_narrow(dtype.elementType), dtype.containsNull)
    if isinstance(dtype, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _narrow(f.dataType), f.nullable) for f in dtype]
        )
    if isinstance(dtype, T.MapType):
        return T.MapType(
            _narrow(dtype.keyType), _narrow(dtype.valueType), dtype.valueContainsNull
        )
    return dtype


def normalize(c: Column, dtype: T.DataType) -> Column:
    """`c` with every double inside it rounded to float precision."""
    narrow = _narrow(dtype)
    return c if narrow == dtype else c.cast(narrow)


def checksum(df: DataFrame) -> tuple[int, int]:
    """(row count, exact hash sum) of `df`, computed by one Spark job."""
    h = F.xxhash64(*[normalize(F.col(f"`{f.name}`"), f.dataType) for f in df.schema])
    row = (
        df.select(h.alias("h"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
            F.sum(F.shiftright("h", 32)).alias("hi"),
        )
        .collect()[0]
    )
    n = int(row["n"])
    if n == 0:
        return 0, 0
    return n, int(row["hi"]) * 2**32 + int(row["lo"])


class Goldens:
    """Per-variant expected (rows, hash_sum) of every operation of one
    workload, stored as `goldens/<workload>.json`."""

    def __init__(self, path: str):
        self.path = path
        self.data: dict[str, dict[str, list[int]]] = {}
        if os.path.exists(path):
            with open(path) as fh:
                self.data = json.load(fh)

    def expected(self, variant: int, op: str) -> tuple[int, int] | None:
        got = self.data.get(str(variant), {}).get(op)
        return tuple(got) if got is not None else None

    def record(self, variant: int, op: str, value: tuple[int, int]) -> None:
        self.data.setdefault(str(variant), {})[op] = list(value)

    def save(self) -> None:
        ordered = {
            v: dict(sorted(ops.items()))
            for v, ops in sorted(self.data.items(), key=lambda kv: int(kv[0]))
        }
        tmp = f"{self.path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(ordered, fh, indent=1)
            fh.write("\n")
        os.replace(tmp, self.path)
