"""Distributed kNN join (and its k=1 special case, the nearest-neighbor
regrid join).

Reference semantics being generalized:
- 1-NN scattered regrid `interpolate_grid(..., 'nearest')`
  (ref: PyOFS/model/wcofs.py:1791-1827) — scipy cKDTree over all pairs.
- kNN station lookup (north_rule; ref context: station layers
  hf_radar.py:198-252, data_buoy.py:64-71).

Spark-first algorithm (no KD-tree, no driver collect of the big side):

1. Index both sides into quad cells at resolution `res` (functions/cells.py).
2. Pass r = 1, 2, ..., max_ring: for the still-unsettled queries, explode
   the (2r+1)² cell disk around each query cell, hash-join against the
   points bucketed by cell, take the k best by (squared-degree distance,
   point_id) with a window.
3. A query is SETTLED after pass r iff it found ≥ k candidates and its k-th
   distance < (r * cell_size)² — any point in an unexplored cell is at least
   r*cell_size away (chebyshev ring ≥ r+1 ⇒ coordinate gap ≥ r*cell_size),
   so the answer cannot change. This makes the output EXACTLY equal to the
   brute-force result, with the deterministic tie-break (d², point_id).
4. Queries still unsettled after max_ring fall back to a broadcast
   brute-force join (they are the sparse tail — isolated mid-ocean points).

Scale notes (100 TB): pass 1 dominates and is a single shuffle join keyed by
cell id; the points side is small (stations/grid) → broadcast; the disk
explode multiplies queries ×9 only. Skewed hot cells on the QUERY side are
harmless (queries never group by cell); skew on the points side is handled
by broadcasting. For large-large NN joins, `salt_hot_cells` in
operators/skew.py pre-splits hot buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize as _materialize

from ..functions import cells
from ..functions.sqlgen import flit


def _sql_str(s: str) -> str:
    """Single-quoted SQL string literal."""
    return "'" + str(s).replace("'", "''") + "'"


def _inline_topk_sql(
    rows: list[tuple], k: int, point_key: str, lon_sql: str, lat_sql: str
) -> str:
    """topk expression over a literal point list as ONE generated SQL string.

    slice(sort_array(array(named_struct('dist2', ..., '<key>', ...))), 1, k)
    — identical semantics to the Column-by-Column construction (struct
    ordering is lexicographic by field: dist2 then point id), but a single
    F.expr parse instead of ~8 py4j round-trips per point (guide §1/§5:
    measured 0.85 s of pure driver time per invocation at 13 points)."""
    terms = ", ".join(
        "named_struct('dist2', "
        f"(({lon_sql}) - {flit(px)}) * (({lon_sql}) - {flit(px)})"
        f" + (({lat_sql}) - {flit(py)}) * (({lat_sql}) - {flit(py)}), "
        f"{_sql_str(point_key)}, {_sql_str(pid)})"
        for pid, px, py in rows
    )
    return f"slice(sort_array(array({terms})), 1, {k})"


def _with_cell_xy(df: DataFrame, res: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    return df.withColumn("_cx", F.expr(cells.cell_x_sql(lon, res))).withColumn(
        "_cy", F.expr(cells.cell_y_sql(lat, res))
    )


INLINE_POINTS_THRESHOLD = 512  # below this, fold points into the plan (no shuffle)
BRUTE_POINTS_THRESHOLD = 20_000  # below this, broadcast brute-force wins


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    res: int = 6,
    query_key: str = "query_id",
    point_key: str = "point_id",
    max_ring: int = 4,
    broadcast_points: bool = True,
    strategy: str = "auto",
    points_rows: list[tuple] | None = None,
) -> DataFrame:
    """Exact kNN join: for each query row, the k nearest point rows.

    queries: (query_key, lon, lat, ...); points: (point_key, lon, lat, ...).
    Returns (query cols..., point_key, dist2, knn_rank) with
    knn_rank ∈ [1, k] ordered by (dist2, point_key).

    strategy:
      'brute' — broadcast the points and window over the full cross product.
                Optimal when the points side is dimension-sized (stations):
                one map-side join + one window shuffle, no iteration.
      'rings' — expanding-cell-ring passes (scales to large points sides).
      'auto'  — count the points side (cheap: it's the small side by
                contract) and pick. This mirrors Catalyst's broadcast-vs-
                shuffle decision, which cannot see through the ring loop.

    points_rows: optional pre-collected [(point_id, lon, lat), ...] for the
    'inline' strategy — skips the per-invocation points.collect() Spark job
    (a dimension table the caller already holds driver-side, e.g. the
    STATIONS constant, costs ~0.5 s of createDataFrame+collect per call
    otherwise; guide §5: no driver data work on the query path).
    """
    inline_rows = strategy == "inline" and points_rows is not None
    if points is None and not inline_rows:
        raise ValueError(
            "knn_join: points=None works only with strategy='inline' and "
            "points_rows; pass both, or pass a points DataFrame"
        )
    size = cells.cell_size_deg(res)
    nx = cells.nx(res)
    q = _with_cell_xy(queries, res).select(
        query_key, F.col("lon").alias("_qlon"), F.col("lat").alias("_qlat"), "_cx", "_cy"
    )
    # the inline fast path never touches the points DataFrame (the caller
    # may pass points=None with points_rows instead), so only build the
    # celled points projection for the join-based strategies
    p = None
    if not inline_rows:
        p = _with_cell_xy(points, res).select(
            point_key,
            F.col("lon").alias("_plon"),
            F.col("lat").alias("_plat"),
            (F.col("_cy") * nx + F.col("_cx")).alias("_pcell"),
        )
    if strategy == "auto":
        n_points = points.count()
        if n_points <= INLINE_POINTS_THRESHOLD:
            strategy = "inline"
        elif n_points <= BRUTE_POINTS_THRESHOLD:
            strategy = "brute"
        else:
            strategy = "rings"
    # The broadcast hint only makes sense for the dimension-sized paths;
    # 'rings' exists precisely because the points side is too big to
    # broadcast — hinting it there would push the full table to every
    # executor (and the driver) in each ring join.
    if broadcast_points and strategy != "rings" and p is not None:
        p = F.broadcast(p)
    if strategy == "inline":
        # SHUFFLE-FREE path for dimension-sized points (stations): the point
        # list is folded into the plan as a literal struct array; per query
        # row we sort (dist2, point_id) structs and slice the top k. Pure
        # map → embarrassingly parallel, the optimal plan at any scale when
        # the dim side is tiny. Struct ordering = lexicographic by field
        # (dist2 then point_id) — the same deterministic tie-break.
        if points_rows is None:
            points_rows = [
                (r[point_key], r["lon"], r["lat"])
                for r in points.select(point_key, "lon", "lat").collect()
            ]
        topk = F.expr(
            _inline_topk_sql(points_rows, k, point_key, "_qlon", "_qlat")
        )
        return q.select(
            query_key, F.posexplode(topk).alias("_r", "_s")
        ).select(
            query_key,
            F.col(f"_s.{point_key}").alias(point_key),
            F.col("_s.dist2").alias("dist2"),
            (F.col("_r") + 1).alias("knn_rank"),
        )
    if strategy == "brute":
        win = Window.partitionBy(query_key).orderBy("dist2", point_key)
        return (
            q.crossJoin(p.drop("_pcell"))
            .withColumn(
                "dist2",
                (F.col("_qlon") - F.col("_plon")) * (F.col("_qlon") - F.col("_plon"))
                + (F.col("_qlat") - F.col("_plat")) * (F.col("_qlat") - F.col("_plat")),
            )
            .withColumn("knn_rank", F.row_number().over(win))
            .filter(F.col("knn_rank") <= k)
            .select(query_key, point_key, "dist2", "knn_rank")
        )

    remaining = q
    settled_parts: list[DataFrame] = []
    win = Window.partitionBy(query_key).orderBy("dist2", point_key)

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
            "_cx",
            "_cy",
            (
                F.least(
                    F.lit(cells.ny(res) - 1),
                    F.greatest(F.lit(0), F.col("_cy") + F.col("_o.dy")),
                )
                * nx
                + F.pmod(F.col("_cx") + F.col("_o.dx") + nx, F.lit(nx))
            ).alias("_qcell"),
        ).dropDuplicates([query_key, "_qcell"])
        cand = cand_cells.join(p, cand_cells["_qcell"] == p["_pcell"], "inner").withColumn(
            "dist2",
            (F.col("_qlon") - F.col("_plon")) * (F.col("_qlon") - F.col("_plon"))
            + (F.col("_qlat") - F.col("_plat")) * (F.col("_qlat") - F.col("_plat")),
        )
        topk = (
            cand.withColumn("knn_rank", F.row_number().over(win))
            .filter(F.col("knn_rank") <= k)
            .select(query_key, "_qlon", "_qlat", "_cx", "_cy", point_key, "dist2", "knn_rank")
        )
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
        if ring == max_ring:
            break

    # brute-force tail: tiny remaining set x all points
    tail = (
        remaining.crossJoin(p.drop("_pcell"))
        .withColumn(
            "dist2",
            (F.col("_qlon") - F.col("_plon")) * (F.col("_qlon") - F.col("_plon"))
            + (F.col("_qlat") - F.col("_plat")) * (F.col("_qlat") - F.col("_plat")),
        )
        .withColumn("knn_rank", F.row_number().over(win))
        .filter(F.col("knn_rank") <= k)
        .select(query_key, "_qlon", "_qlat", "_cx", "_cy", point_key, "dist2", "knn_rank")
    )
    settled_parts.append(tail)

    out = settled_parts[0]
    for part in settled_parts[1:]:
        out = out.unionByName(part)
    return out.select(query_key, point_key, "dist2", "knn_rank")


def knn_inline_arrays(
    df: DataFrame,
    points_rows: list[tuple[str, float, float]],
    k: int,
    lon: str = "lon",
    lat: str = "lat",
    out_prefix: str = "knn",
) -> DataFrame:
    """Map-only kNN against a literal point list: appends
    `{prefix}_stations: array<string>` and `{prefix}_dist2: array<double>`
    ordered by (dist2, point_id). Zero shuffle — the scale-optimal plan for
    the flagship pipeline's station lookup."""
    # sort (dist2, idx:int) structs — no string copying inside the sort;
    # names materialize only for the k winners via a literal-array lookup.
    # Point ids must be sorted so idx order == id order on distance ties
    # (keeps the (dist2, point_id) tie-break contract).
    rows_sorted = sorted(points_rows, key=lambda r: r[0])
    names_sql = "array({})".format(
        ", ".join(_sql_str(pid) for pid, _, _ in rows_sorted)
    )
    # sort_array (natural struct order = (dist2, idx)) + GetArrayStructFields
    # keep the whole expression inside whole-stage codegen; array_sort/
    # transform lambdas are CodegenFallback and would interpret per row
    # (verified via explain, PLANS.md). The whole thing is ONE generated SQL
    # string — a single F.expr parse instead of ~8 py4j calls per point
    # (round 6, guide §1: expression construction was the dominant cost of
    # the flagship plan build at 13 points x 2 builds per bench query).
    struct_terms = ", ".join(
        "named_struct('dist2', "
        f"({lon} - {flit(px)}) * ({lon} - {flit(px)})"
        f" + ({lat} - {flit(py)}) * ({lat} - {flit(py)}), 'idx', {i})"
        for i, (pid, px, py) in enumerate(rows_sorted)
    )
    out = df.withColumn(
        "_topk", F.expr(f"slice(sort_array(array({struct_terms})), 1, {k})")
    )
    # idx→name via nested element_at on the literal names array per slot
    stations_sql = "array({})".format(
        ", ".join(
            f"element_at({names_sql}, element_at(_topk.idx, {s + 1}) + 1)"
            for s in range(k)
        )
    )
    return (
        out.withColumn(f"{out_prefix}_stations", F.expr(stations_sql))
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
