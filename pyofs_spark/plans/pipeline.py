"""End-to-end tile-assignment pipeline (the north-star job).

    pages → geocode → cell index (res R) → PIP vs study polygons →
    kNN station lookup → tile assignment table (+ lineage)

Reference lifecycle being re-expressed (SURVEY §3.1,
main/leaflet/write_daily_average.py): scan → spatial filter → align/join →
derive → sink, with skip-if-exists resumability (write_daily_average.py:
289-311) done properly as a lineage anti-join (lineage.py).

Plan shape (all JVM-side except nothing — the default path uses the
fixed-polygon codegen PIP and arithmetic geocode):

    scan pages (column-pruned: key, url, warc_ts, lang)
      → withColumn lon/lat          [closed-form, WSCG]
      → withColumn cell_id(res)     [closed-form, WSCG]
      → withColumn in_*/polygon_id  [unrolled ray cast, WSCG]
      → broadcast kNN join to stations (expanding-ring exact kNN)
      → write, partitioned by (warc_day, cell_prefix)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells, geocode, stations
from ..operators import knn as knn_op
from ..operators.pip import pip_fixed

TILE_RES = 8  # 0.70° tiles for the assignment output


def geocode_pages(pages: DataFrame, key_col: str = "page_id") -> DataFrame:
    """Deterministic geocode. A STRING key column (e.g. url) is reduced to
    a nonnegative bigint working key via JVM xxhash64 first — both paths
    are zero-Python, whole-stage-codegen projections."""
    key_expr = key_col
    if dict(pages.dtypes).get(key_col) == "string":
        key_expr = geocode.geocode_url_key_sql(key_col)
    return pages.withColumn(
        "lon", F.expr(geocode.geocode_id_lon_sql(key_expr))
    ).withColumn("lat", F.expr(geocode.geocode_id_lat_sql(key_expr)))


def assign_cells(df: DataFrame, res: int = TILE_RES) -> DataFrame:
    return df.withColumn("cell_id", F.expr(cells.cell_id_sql("lon", "lat", res)))


def tile_assignment(
    spark: SparkSession,
    pages: DataFrame,
    key_col: str = "page_id",
    k: int = 3,
    tile_res: int = TILE_RES,
    with_knn: bool = True,
) -> DataFrame:
    """The flagship query: per page → (cell_id, polygon_id, k nearest stations).

    Output: (key, url, warc_ts, lang, lon, lat, cell_id, polygon_id,
             knn_stations: array<string> ordered by (dist², station_id)).
    """
    g = assign_cells(geocode_pages(pages, key_col), tile_res)
    g = pip_fixed(g)
    cols = [key_col, "url", "warc_ts", "lang", "lon", "lat", "cell_id", "polygon_id"]
    base = g.select(*dict.fromkeys(c for c in cols if c in g.columns))
    if not with_knn:
        return base
    # station list is dimension-sized by contract → fold it into the plan:
    # the whole pipeline (geocode → cells → PIP → kNN) is then ONE map-only
    # stage — zero shuffles, linear scaling with cores/executors.
    return knn_op.knn_inline_arrays(base, stations.STATIONS, k)
