"""Distributed kNN join (and its k=1 special case, the nearest-neighbor
regrid join).

Reference semantics being generalized:
- 1-NN scattered regrid `interpolate_grid(..., 'nearest')`
  (ref: PyOFS/model/wcofs.py:1791-1827) — scipy cKDTree over all pairs.
- kNN station lookup (north_rule; ref context: station layers
  hf_radar.py:198-252, data_buoy.py:64-71).

Strategies (knn_join), one tie-break contract: the k best by (squared-degree
distance, point_id), point_id compared in its own type, so every strategy
returns the same rows with the same schema.

- inline: the points are a literal (dist2, idx) struct array in the plan,
  sorted per query row; ids are sorted in their own type, so idx order is
  id order. Map only. knn_inline_arrays (the flagship) shares this code.
- rings: the Spark-first algorithm (no KD-tree, no driver collect of the
  big side):
  1. Index both sides into quad cells at resolution `res` (functions/cells.py).
  2. Pass r = 1, 2, ..., max_ring: for the still-unsettled queries, explode
     the (2r+1)² cell disk around each query cell, hash-join against the
     points bucketed by cell, take the k best with a window.
  3. A query is SETTLED after pass r iff it found ≥ k candidates and its
     k-th distance < (r * cell_size)² — any point in an unexplored cell is
     at least r*cell_size away (chebyshev ring ≥ r+1 ⇒ coordinate gap ≥
     r*cell_size), so the answer cannot change. This makes the output
     EXACTLY equal to the brute-force result.
  4. Queries still unsettled after max_ring take the brute-force tail: a
     cross join to all points plus the same window top-k (they are the
     sparse tail — isolated mid-ocean points).
- brute: the rings plan with zero rings, i.e. the tail alone, with the
  points broadcast.

Scale notes (100 TB): pass 1 dominates and is a single shuffle join keyed by
cell id; the points side is small (stations/grid) → broadcast; the disk
explode multiplies queries ×9 only. Skewed hot cells on the QUERY side are
harmless (queries never group by cell); skew on the points side is handled
by broadcasting. For large-large NN joins, `salt_hot_cells` in
operators/skew.py pre-splits hot buckets.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize as _materialize

from ..functions import cells
from ..functions.sqlgen import flit


# point id type -> SQL literal for the inline id array. Only these types
# render as literals; any other id type raises instead of changing the answer.
_ID_LITERAL = {
    "string": lambda v: "'" + v.replace("'", "''") + "'",
    "bigint": lambda v: f"{v}L",
    "int": str,
    "double": flit,
}
_PY_ID_TYPE = {("str",): "string", ("int",): "bigint", ("float",): "double"}


def _inline_topk(
    rows: list[tuple], k: int, lon: str, lat: str, id_type: str | None = None
) -> tuple[str, str]:
    """The inline top-k over a literal point list [(id, lon, lat), ...] as
    two SQL strings: `topk`, the k smallest of the sorted (dist2, idx)
    struct array, and `ids`, the literal array of point ids sorted in their
    own type, so idx order is id order and struct order (dist2, idx) is the
    (dist2, point_id) tie-break. `id_type` is the point
    key's Spark type (simpleString); None derives it from the Python type
    of the ids (str -> string, int -> bigint, float -> double).

    sort_array + GetArrayStructFields stay inside whole-stage codegen;
    array_sort/transform lambdas are CodegenFallback and would interpret
    per row (verified via explain, PLANS.md). One generated SQL string is
    one F.expr parse instead of ~8 py4j calls per point (round 6:
    expression construction was the dominant cost of the flagship plan
    build at 13 points x 2 builds per bench query)."""
    if id_type is None:
        names = tuple(sorted({type(r[0]).__name__ for r in rows}))
        id_type = _PY_ID_TYPE.get(names, f"Python {list(names)}")
    render = _ID_LITERAL.get(id_type)
    nulls = any(r[0] is None for r in rows)
    if render is None or nulls:
        what = "a null point id" if nulls else "point ids"
        raise TypeError(f"knn: cannot inline {what} of type {id_type}")
    rows_sorted = sorted(rows, key=lambda r: r[0])
    terms = ", ".join(
        "named_struct('dist2', "
        f"({lon} - {flit(px)}) * ({lon} - {flit(px)})"
        f" + ({lat} - {flit(py)}) * ({lat} - {flit(py)}), 'idx', {i})"
        for i, (_, px, py) in enumerate(rows_sorted)
    )
    ids = ", ".join(render(pid) for pid, _, _ in rows_sorted)
    return f"slice(sort_array(array({terms})), 1, {k})", f"array({ids})"


def _with_cell_xy(df: DataFrame, res: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    return df.withColumn("_cx", F.expr(cells.cell_x_sql(lon, res))).withColumn(
        "_cy", F.expr(cells.cell_y_sql(lat, res))
    )


INLINE_POINTS_THRESHOLD = 512  # below this, fold points into the plan (no shuffle)
BRUTE_POINTS_THRESHOLD = 20_000  # below this, broadcast brute-force wins


def knn_join(
    queries: DataFrame,
    points: DataFrame | None,
    k: int,
    res: int = 6,
    query_key: str = "query_id",
    point_key: str = "point_id",
    max_ring: int = 4,
    strategy: str = "auto",
    points_rows: list[tuple] | None = None,
) -> DataFrame:
    """Exact kNN join: for each query row, the k nearest point rows.

    queries: (query_key, lon, lat, ...); points: (point_key, lon, lat, ...).
    Returns (query_key, point_key, dist2, knn_rank) with knn_rank ∈ [1, k]
    ordered by (dist2, point_key), point_key compared in its own type. Every
    strategy returns the same rows with the same schema.

    strategy:
      'inline' — the points folded into the plan as a literal array: map
                 only, no shuffle (dimension-sized points such as stations).
      'brute'  — the rings plan with zero rings: the cross join to the
                 broadcast points plus a window top-k is the whole plan.
      'rings'  — expanding-cell-ring passes (scales to large points sides).
      'auto'   — 'inline' when points_rows is given, else count the points
                 side (the small side by contract) and pick. This mirrors
                 Catalyst's broadcast-vs-shuffle decision, which cannot see
                 through the ring loop.

    points_rows: optional pre-collected [(point_id, lon, lat), ...] for the
    inline strategy; points may then be None. It skips the points.collect()
    Spark job (a dimension table the caller already holds driver-side, e.g.
    the STATIONS constant, costs ~0.5 s of createDataFrame+collect per call
    otherwise; no driver data work on the query path). The id
    type comes from the points schema when points is given, else from the
    ids' Python type; ids of another type, or null ids, raise TypeError.
    """
    if strategy not in ("auto", "inline", "brute", "rings"):
        raise ValueError(f"knn_join: unknown strategy {strategy!r}")
    if points is None and (points_rows is None or strategy in ("brute", "rings")):
        raise ValueError(
            "knn_join: points=None needs points_rows and strategy 'inline' "
            "or 'auto'; pass a points DataFrame for 'brute' or 'rings'"
        )
    if strategy == "auto" and points_rows is not None:
        strategy = "inline"
    elif strategy == "auto":
        n_points = points.count()
        if n_points <= INLINE_POINTS_THRESHOLD:
            strategy = "inline"
        elif n_points <= BRUTE_POINTS_THRESHOLD:
            strategy = "brute"
        else:
            strategy = "rings"
    q = _with_cell_xy(queries, res).select(
        query_key, F.col("lon").alias("_qlon"), F.col("lat").alias("_qlat"), "_cx", "_cy"
    )
    if strategy == "inline":
        if points_rows is None:
            points_rows = [tuple(r) for r in points.select(point_key, "lon", "lat").collect()]
        id_type = None if points is None else points.schema[point_key].dataType.simpleString()
        topk, ids = _inline_topk(points_rows, k, "_qlon", "_qlat", id_type)
        return q.select(query_key, F.posexplode(F.expr(topk)).alias("_r", "_s")).select(
            query_key,
            F.expr(f"element_at({ids}, _s.idx + 1)").alias(point_key),
            F.col("_s.dist2").alias("dist2"),
            (F.col("_r") + 1).alias("knn_rank"),
        )

    size = cells.cell_size_deg(res)
    nx = cells.nx(res)
    p = _with_cell_xy(points, res).select(
        point_key,
        F.col("lon").alias("_plon"),
        F.col("lat").alias("_plat"),
        (F.col("_cy") * nx + F.col("_cx")).alias("_pcell"),
    )
    if strategy == "brute":
        # dimension-sized points: broadcast them. 'rings' exists because the
        # points side is too big to broadcast, so it gets no hint.
        p, max_ring = F.broadcast(p), 0
    win = Window.partitionBy(query_key).orderBy("dist2", point_key)

    def top_k(pairs: DataFrame) -> DataFrame:
        dist2 = (F.col("_qlon") - F.col("_plon")) * (F.col("_qlon") - F.col("_plon")) + (
            F.col("_qlat") - F.col("_plat")
        ) * (F.col("_qlat") - F.col("_plat"))
        return (
            pairs.withColumn("dist2", dist2)
            .withColumn("knn_rank", F.row_number().over(win))
            .filter(F.col("knn_rank") <= k)
            .select(query_key, point_key, "dist2", "knn_rank")
        )

    remaining = q
    settled_parts: list[DataFrame] = []
    for ring in range(1, max_ring + 1):
        # truncate lineage so each pass doesn't recompute all prior passes
        remaining = _materialize(remaining)
        offsets = F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx, dy in cells.disk_offsets(ring)
            ]
        )
        cand_cells = remaining.withColumn("_o", F.explode(offsets)).select(
            query_key,
            "_qlon",
            "_qlat",
            (
                F.least(
                    F.lit(cells.ny(res) - 1),
                    F.greatest(F.lit(0), F.col("_cy") + F.col("_o.dy")),
                )
                * nx
                + F.pmod(F.col("_cx") + F.col("_o.dx") + nx, F.lit(nx))
            ).alias("_qcell"),
        ).dropDuplicates([query_key, "_qcell"])
        topk = top_k(cand_cells.join(p, cand_cells["_qcell"] == p["_pcell"], "inner"))
        # settled: k found and k-th distance strictly inside the explored radius
        kth = topk.groupBy(query_key).agg(
            F.count("*").alias("_n"), F.max("dist2").alias("_kth")
        )
        bound = (ring * size) ** 2
        done_keys = kth.filter((F.col("_n") >= k) & (F.col("_kth") < F.lit(bound))).select(
            query_key
        )
        settled_parts.append(topk.join(done_keys, query_key, "left_semi"))
        remaining = remaining.join(done_keys, query_key, "left_anti")

    # brute-force tail (the whole plan for 'brute'): remaining x all points
    settled_parts.append(top_k(remaining.crossJoin(p.drop("_pcell"))))
    return reduce(DataFrame.unionByName, settled_parts)


def knn_inline_arrays(
    df: DataFrame,
    points_rows: list[tuple],
    k: int,
    lon: str = "lon",
    lat: str = "lat",
    out_prefix: str = "knn",
) -> DataFrame:
    """Map-only kNN against a literal point list: appends
    `{prefix}_stations: array<id>` and `{prefix}_dist2: array<double>`
    ordered by (dist2, point_id). Zero shuffle — the scale-optimal plan for
    the flagship pipeline's station lookup."""
    # sort (dist2, idx:int) structs — no string copying inside the sort;
    # ids materialize only for the k winners via a literal-array lookup
    topk, ids = _inline_topk(points_rows, k, lon, lat)
    stations_sql = "array({})".format(
        ", ".join(f"element_at({ids}, element_at(_topk.idx, {s + 1}) + 1)" for s in range(k))
    )
    return (
        df.withColumn("_topk", F.expr(topk))
        .withColumn(f"{out_prefix}_stations", F.expr(stations_sql))
        .withColumn(f"{out_prefix}_dist2", F.col("_topk.dist2"))
        .drop("_topk")
    )


def nn_value_join(
    queries: DataFrame,
    points: DataFrame,
    value_col: str,
    res: int = 6,
    query_key: str = "query_id",
    point_key: str = "point_id",
    max_ring: int = 4,
) -> DataFrame:
    """1-NN value transfer — the regrid-nearest spatial join
    (semantics of wcofs.py:1791-1827 with tie-break (d², point_id)).
    Returns (query_key, point_key, value_col, dist2)."""
    nn = knn_join(
        queries,
        points.filter(F.col(value_col).isNotNull()),
        k=1,
        res=res,
        query_key=query_key,
        point_key=point_key,
        max_ring=max_ring,
    )
    return nn.join(
        points.select(point_key, value_col), point_key, "left"
    ).select(query_key, point_key, value_col, "dist2")
