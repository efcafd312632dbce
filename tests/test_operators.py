"""Operator-level Spark tests: kNN ring path vs brute force, kNN strategy
equivalence, PIP SQL vs numpy kernel, NN regrid vs golden kernel, byte
identity through the full pipeline (SURVEY §5 items 1, 2, 4)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from pyofs_spark.functions import kernels as K
from pyofs_spark.functions import polygons as P
from pyofs_spark.operators.knn import knn_join, nn_value_join
from pyofs_spark.operators.pip import pip_fixed, pip_join_broadcast
from pyofs_spark.plans.pipeline import geocode_pages, tile_assignment
from pyofs_spark.synth import synth_pages


def _knn_brute_py(qs, ps, k):
    out = {}
    for qid, qx, qy in qs:
        d = sorted(
            ((qx - px) * (qx - px) + (qy - py) * (qy - py), pid) for pid, px, py in ps
        )
        out[qid] = [(pid, d2) for d2, pid in d[:k]]
    return out


def test_knn_rings_exact_vs_brute(spark):
    """Force the ring strategy and check exactness against pure-python brute
    force, with a clustered + sparse points side (ring expansion + tail)."""
    rng = np.random.default_rng(7)
    n_q, n_p = 400, 300
    qs = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        zip(rng.uniform(-130, -110, n_q), rng.uniform(25, 50, n_q)))]
    # clustered points + a few isolated
    px = np.concatenate([rng.normal(-122, 0.5, n_p - 5), rng.uniform(60, 170, 5)])
    py = np.concatenate([rng.normal(37, 0.5, n_p - 5), rng.uniform(-60, 60, 5)])
    ps = [(f"p{i:03d}", float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))]

    qdf = spark.createDataFrame(qs, "query_id long, lon double, lat double")
    pdf = spark.createDataFrame(ps, "point_id string, lon double, lat double")
    got = knn_join(qdf, pdf, k=3, res=6, max_ring=3, strategy="rings").collect()
    exp = _knn_brute_py(qs, ps, 3)
    got_by_q = {}
    for r in got:
        got_by_q.setdefault(r.query_id, []).append((r.knn_rank, r.point_id, r.dist2))
    assert len(got_by_q) == n_q
    for qid, rows in got_by_q.items():
        rows.sort()
        assert [(pid, d2) for _, pid, d2 in rows] == exp[qid], f"query {qid}"


def test_knn_points_none_needs_inline_strategy(spark):
    """points=None is only valid with points_rows, which 'auto' turns into
    the inline path; any other strategy must say so instead of failing
    inside the planner."""
    qdf = spark.createDataFrame([(1, -122.0, 37.0)], "query_id long, lon double, lat double")
    rows = [("p0", -122.1, 37.1)]
    for strategy in ("auto", "inline"):
        with pytest.raises(ValueError, match="points_rows"):
            knn_join(qdf, None, k=1, strategy=strategy)
    for strategy in ("rings", "brute"):
        with pytest.raises(ValueError, match="points_rows"):
            knn_join(qdf, None, k=1, strategy=strategy, points_rows=rows)
    for strategy in ("auto", "inline"):
        got = knn_join(qdf, None, k=1, strategy=strategy, points_rows=rows).collect()
        assert [(r.query_id, r.point_id, r.knn_rank) for r in got] == [(1, "p0", 1)]


# query 1 is equidistant (dist2 = 1) from ids 2, 7 and 10, whose order
# differs between bigint (2 < 7 < 10) and string ('10' < '2' < '7') ids;
# query 2 ties 3 and 30; query 4 lies beyond max_ring=2 (brute-force tail)
_TIE_QUERIES = [(1, 0.0, 0.0), (2, 5.0, 5.0), (3, -3.0, 2.0), (4, 150.0, 60.0)]
_TIE_POINTS = [
    (2, 1.0, 0.0), (10, 0.0, 1.0), (7, -1.0, 0.0),
    (3, 5.0, 6.0), (30, 6.0, 5.0), (4, -3.0, 2.5), (99, 100.0, -40.0),
]


@pytest.mark.parametrize("k", [1, 2])
@pytest.mark.parametrize("id_type", ["bigint", "string"])
@pytest.mark.parametrize("strategy", ["inline", "brute", "rings"])
def test_knn_strategies_equivalent_on_ties(spark, strategy, id_type, k):
    """Every kNN strategy is a pure performance choice: the same rows and
    the same point_id type as pure-python brute force and as 'brute', with
    (dist2, point_id) ties broken in the id's own type."""
    cast = str if id_type == "string" else int
    ps = [(cast(pid), x, y) for pid, x, y in _TIE_POINTS]
    qdf = spark.createDataFrame(_TIE_QUERIES, "query_id long, lon double, lat double")
    pdf = spark.createDataFrame(ps, f"point_id {id_type}, lon double, lat double")
    ref = knn_join(qdf, pdf, k=k, max_ring=2, strategy="brute")
    exp = _knn_brute_py(_TIE_QUERIES, ps, k)
    runs = [lambda: knn_join(qdf, pdf, k=k, max_ring=2, strategy=strategy)]
    if strategy == "inline":  # the id type then comes from the Python ids
        runs.append(lambda: knn_join(qdf, None, k=k, points_rows=ps))
    def rows_of(df):  # (query_id, point_id, dist2, knn_rank) by query, rank
        return sorted(map(tuple, df.collect()), key=lambda r: (r[0], r[3]))

    ref_rows = rows_of(ref)
    for run in runs:
        got = run()
        assert dict(got.dtypes)["point_id"] == dict(ref.dtypes)["point_id"] == id_type
        rows = rows_of(got)
        assert rows == ref_rows
        by_q = {}
        for qid, pid, d2, _ in rows:
            by_q.setdefault(qid, []).append((pid, d2))
        assert by_q == exp


def test_knn_inline_rejects_ids_it_cannot_type(spark):
    """An id the inline literal array cannot carry in its own type raises a
    TypeError naming the type, never a different answer."""
    qdf = spark.createDataFrame([(1, 0.0, 0.0)], "query_id long, lon double, lat double")
    for ids, name in (([None], "NoneType"), ([True], "bool"), ([1, "a"], "int', 'str")):
        with pytest.raises(TypeError, match=name):
            knn_join(qdf, None, k=1, points_rows=[(i, 0.0, 0.0) for i in ids])
    dates = spark.sql("SELECT date'2020-01-01' AS point_id, 0.0D AS lon, 0.0D AS lat")
    with pytest.raises(TypeError, match="date"):
        knn_join(qdf, dates, k=1, strategy="inline")
    nulls = spark.createDataFrame([(None, 0.0, 0.0)], "point_id string, lon double, lat double")
    with pytest.raises(TypeError, match="null point id"):
        knn_join(qdf, nulls, k=1, strategy="inline")


def test_geo_knn_stations_plan_build_runs_no_job(spark):
    """Building geo_knn_stations runs no Spark job: its points_rows make
    'auto' inline, so neither the count nor a points collect runs."""
    from pyofs_spark.plans.queries import geo_knn_stations, geodocs

    geodocs(spark, SF_DIR)  # warm the memoized table load
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = sc.getLocalProperty("spark.jobGroup.id")
    before = set(tracker.getJobIdsForGroup(group))
    geo_knn_stations(spark, SF_DIR)
    assert set(tracker.getJobIdsForGroup(group)) == before


def test_nn_regrid_matches_golden_kernel(spark):
    """nn_value_join == kernels.regrid_nearest (the reference-exact
    interpolate_grid 'nearest' twin, wcofs.py:1791-1827)."""
    rng = np.random.default_rng(3)
    n_src = 200
    slon = rng.uniform(-125, -115, n_src)
    slat = rng.uniform(30, 40, n_src)
    sval = np.round(rng.uniform(0, 30, n_src), 3)
    sval[::17] = np.nan  # NaN sources must be dropped
    # regular output lattice
    qlon, qlat = np.meshgrid(np.linspace(-124, -116, 20), np.linspace(31, 39, 15))
    qlon, qlat = qlon.ravel(), qlat.ravel()

    golden = K.regrid_nearest(slon, slat, sval, qlon, qlat)

    src = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(n_src), "lon": slon, "lat": slat, "val": sval})
    )
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(len(qlon)), "lon": qlon, "lat": qlat})
    )
    got = nn_value_join(q, src, "val", res=8, max_ring=3).collect()
    got_map = {r.query_id: r.val for r in got}
    assert len(got_map) == len(qlon)
    for i in range(len(qlon)):
        assert got_map[i] == golden[i], f"query {i}: {got_map[i]} != {golden[i]}"


def test_pip_sql_matches_numpy(spark):
    """The unrolled SQL ray cast and the numpy kernel agree on random and
    boundary points for every fixture polygon."""
    rng = np.random.default_rng(11)
    lon = np.concatenate([rng.uniform(-180, 180, 2000), [-126.0, -116.0, 170.0, -180.0]])
    lat = np.concatenate([rng.uniform(-90, 90, 2000), [32.0, 32.0, -10.0, 10.0]])
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(lon)), "lon": lon, "lat": lat}))
    for pid, rings in P.POLYGONS.items():
        got = (
            df.withColumn("inside", F.expr(P.pip_sql("lon", "lat", rings)))
            .orderBy("i")
            .select("inside")
            .toPandas()["inside"]
            .to_numpy()
        )
        expect = P.pip_numpy(lon, lat, rings)
        assert (got == expect).all(), pid


def test_pip_broadcast_udf_path(spark):
    """Path B (broadcast polygons + pandas UDF) agrees with Path A
    (codegen) on which points fall in which polygon."""
    pages = geocode_pages(synth_pages(spark, 500, 4))
    a = pip_fixed(pages).filter(F.col("polygon_id").isNotNull())
    a_rows = {(r.page_id, r.polygon_id) for r in a.select("page_id", "polygon_id").collect()}

    polys = spark.createDataFrame(
        P.polygons_long_rows(),
        "polygon_id string, ring_idx int, vertex_idx int, lon double, lat double",
    )
    b = pip_join_broadcast(spark, pages.select("page_id", "lon", "lat"), polys, res=4)
    b_rows = {(r.page_id, r.polygon_id) for r in b.collect()}
    # path A assigns ONE polygon (priority); path B returns all containments.
    # every A assignment must appear in B, and B restricted to priority = A.
    assert a_rows <= b_rows
    prio = {pid: i for i, pid in enumerate(P.POLYGONS)}
    b_first = {}
    for page, pid in sorted(b_rows, key=lambda t: (t[0], prio[t[1]])):
        b_first.setdefault(page, pid)
    assert {(k, v) for k, v in b_first.items()} == a_rows


def test_pipeline_byte_identity(spark):
    """north_star invariant: text passes through the full pipeline
    byte-identical per url (checked via md5 + direct equality)."""
    pages = synth_pages(spark, 300, 4)
    out = tile_assignment(spark, pages, k=2, with_knn=False)
    joined = (
        out.select("page_id")
        .join(pages.select("page_id", F.md5("text").alias("h1"), "text"), "page_id")
        .join(
            synth_pages(spark, 300, 8).select(
                "page_id", F.md5("text").alias("h2"), F.col("text").alias("text2")
            ),
            "page_id",
        )
    )
    assert joined.count() == 300
    assert joined.filter("h1 != h2 OR text != text2").count() == 0


def test_tile_assignment_deterministic_across_parallelism(spark):
    """Same tile assignments regardless of partitioning (scaling-correctness
    precondition for the two-cluster-size rule)."""
    a = tile_assignment(spark, synth_pages(spark, 400, 2), k=1).collect()
    b = tile_assignment(spark, synth_pages(spark, 400, 16), k=1).collect()
    ka = {r.page_id: (r.cell_id, r.polygon_id, r.knn_stations, r.knn_dist2) for r in a}
    kb = {r.page_id: (r.cell_id, r.polygon_id, r.knn_stations, r.knn_dist2) for r in b}
    assert ka == kb


def test_station_fixture_pip():
    """One fixture station lies outside the coastal polygon (FIXTURES §5)."""
    from pyofs_spark.functions.stations import STATIONS

    lon = np.array([s[1] for s in STATIONS])
    lat = np.array([s[2] for s in STATIONS])
    inside = P.pip_numpy(lon, lat, P.COASTAL_POLY)
    names_out = {s[0] for s, i in zip(STATIONS, inside) if not i}
    assert "41001" in names_out and "51001" in names_out


def test_url_keyed_flagship_zero_python_plan(spark):
    """Flagship on a STRING (url) key: xxhash64-based geocode keeps the
    whole pipeline JVM-side — no Python eval node, no shuffle (single
    map-only stage), deterministic per url."""
    pages = synth_pages(spark, 2000, 8)
    out = tile_assignment(spark, pages, key_col="url", k=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # no row-wise or Arrow Python eval
    assert "Exchange" not in plan  # zero-shuffle map-only plan
    rows = out.collect()
    assert len(rows) == 2000
    # deterministic: same url -> same assignment on a re-run
    again = {r.url: (r.cell_id, r.polygon_id) for r in
             tile_assignment(spark, pages, key_col="url", k=1).collect()}
    for r in rows:
        assert again[r.url] == (r.cell_id, r.polygon_id)
    # coast bias survives the hash route: a plurality of pages in hot cells
    n_hot = sum(1 for r in rows if r.polygon_id is not None)
    assert 0.2 * len(rows) < n_hot < 0.8 * len(rows)


def test_portable_url_key_stays_in_codegen(spark):
    """The md5-polynomial portable url key (oracle-gated path) must keep
    the geocode projection inside whole-stage codegen — no EvalPython, no
    CodegenFallback drop-out."""
    from pyspark.sql import functions as F

    from pyofs_spark.functions import cells, geocode

    url = "concat('https://example.org/', cast(id as string))"
    key = geocode.geocode_url_key_portable_sql(url)
    df = (
        spark.range(0, 1000)
        .withColumn("url_key", F.expr(key))
        .withColumn("lon", F.expr(geocode.geocode_id_lon_sql("url_key")))
        .withColumn("lat", F.expr(geocode.geocode_id_lat_sql("url_key")))
        .withColumn("cell_id", F.expr(cells.cell_id_sql("lon", "lat", 8)))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    # executedPlan marks codegen stages with '*(n)' prefixes
    assert any(line.lstrip().startswith("*(") for line in plan.splitlines())
    assert df.where("cell_id IS NULL OR url_key < 0").count() == 0
