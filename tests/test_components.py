"""Connected components over the near-dup pair graph (round 5).

Covers: (1) graph-shape unit semantics of the operator, (2) the O(log d)
round bound the pointer jump buys — a 64-vertex path must converge in 8
rounds where plain min-propagation needs 63, (3) full dedup_components
query parity against an independent DuckDB WITH RECURSIVE reachability
closure at sf0.001 (rows-only in the driver; this is the CI hash gate,
same policy as txt_repetition).

The operator's driver edge budget comes from
spark.sql.autoBroadcastJoinThreshold, so the semantic tests run under
three settings of it: the session default (local finish only), 128 bytes
= 8 edges (distributed rounds, then the local finish of a non-empty
quotient graph) and -1 (distributed rounds only).
"""

from __future__ import annotations

from contextlib import contextmanager

import duckdb
import pytest

from conftest import SF_DIR

SF001 = SF_DIR  # sf0.001 by default; parity holds at any sf

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"
# one per budget regime: default, 8 edges, off
_THRESHOLDS = (None, "128", "-1")


@contextmanager
def _threshold(spark, value):
    """Run the block with the broadcast threshold at `value` (None keeps
    the session's), restoring the session's setting afterwards."""
    old = spark.conf.get(_THRESHOLD)
    spark.conf.set(_THRESHOLD, old if value is None else value)
    try:
        yield
    finally:
        spark.conf.set(_THRESHOLD, old)


def _cc(spark, pairs, **kw):
    from pyofs_spark.operators.components import connected_components

    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
    out = connected_components(edges, **kw)
    return {r["id"]: r["comp"] for r in out.collect()}


def test_two_components_and_star(spark):
    for value in _THRESHOLDS:
        with _threshold(spark, value):
            got = _cc(spark, [(5, 3), (3, 9), (20, 21), (21, 22), (20, 23)])
            assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20, 22: 20, 23: 20}


def test_duplicate_and_reversed_edges(spark):
    for value in _THRESHOLDS:
        with _threshold(spark, value):
            got = _cc(spark, [(1, 2), (2, 1), (1, 2), (2, 3)])
            assert got == {1: 1, 2: 1, 3: 1}


def test_self_loop_only_vertex_absent(spark):
    # self-loops are dropped; a vertex with only a self-loop has no edge
    # and is a singleton the caller handles (query layer left-joins docs)
    for value in _THRESHOLDS:
        with _threshold(spark, value):
            got = _cc(spark, [(7, 7), (1, 2)])
            assert got == {1: 1, 2: 1}


def test_all_self_loops_empty_frame(spark):
    """Only self-loops: no edge survives, so the result is an empty frame
    with the operator's schema, whichever path produced it."""
    from pyofs_spark.operators.components import connected_components

    edges = spark.createDataFrame([(7, 7), (3, 3)], "src bigint, dst bigint")
    schemas = set()
    for value in _THRESHOLDS:
        with _threshold(spark, value):
            out = connected_components(edges)
            assert out.dtypes == [("id", "bigint"), ("comp", "bigint")]
            assert out.count() == 0
            schemas.add(out.schema.simpleString())
    assert len(schemas) == 1


def test_path64_converges_in_log_rounds(spark):
    """Pointer jumping must collapse a 64-vertex path well under its
    diameter: label distance to the minimum grows ~2x per round
    (d=2,6,14,30,62,126), so 8 rounds suffice where plain neighbor-min
    propagation needs 63 — the bound that keeps the operator safe on
    adversarial long-chain graphs at web scale. The threshold is off, so
    every round runs on the cluster."""
    with _threshold(spark, "-1"):
        got = _cc(spark, [(i, i + 1) for i in range(63)], max_rounds=8)
    assert got == {i: 0 for i in range(64)}


def test_nonconvergence_raises(spark):
    from pyofs_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src bigint, dst bigint"
    )
    with _threshold(spark, "-1"), pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges, max_rounds=2).collect()


def test_dedup_components_duckdb_parity(spark):
    from pyofs_spark.plans.queries_text import (
        _COMPONENTS_DUCK,
        _dedup_components,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF001}/documents.parquet'"
    )
    d = sorted(tuple(r) for r in con.execute(_COMPONENTS_DUCK).fetchall())
    for value in _THRESHOLDS:
        with _threshold(spark, value):
            sdf = _dedup_components(spark, SF001)
            assert sdf.columns == ["doc_id", "component_id", "is_canonical"]
            s = sorted(tuple(r) for r in sdf.collect())
            assert len(s) == len(d) > 0
            assert s == d
            # the corpus must actually exercise clustering, not just singletons
            assert any(not r[2] for r in s)


def test_keep_list_invariants(spark):
    """Every non-canonical doc's component head must itself be a kept
    canonical row — the invariant a downstream anti-join dedup relies on."""
    from pyofs_spark.plans.queries_text import _dedup_components

    for value in _THRESHOLDS:
        with _threshold(spark, value):
            rows = _dedup_components(spark, SF001).collect()
            comp = {r["doc_id"]: r["component_id"] for r in rows}
            canon = {r["doc_id"] for r in rows if r["is_canonical"]}
            for d, c in comp.items():
                assert c <= d
                assert c in canon
                assert comp[c] == c


from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

_edges = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)),
    min_size=1,
    max_size=20,
)


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(_edges)
# a 16-vertex path: at the 8-edge budget it takes rounds, then finishes a
# non-empty quotient graph on the driver
@example([(i, i + 1) for i in range(15)])
def test_components_match_union_find(spark, edges):
    """Random multigraphs (dups, self-loops, both orientations) against a
    sequential union-find reference — an independent algorithm, not just
    an independent engine."""
    for value in _THRESHOLDS:
        with _threshold(spark, value):
            got = _cc(spark, [(int(a), int(b)) for a, b in edges])
            assert got == _union_find(edges)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)), max_size=80))
def test_local_finish_matches_union_find(edges):
    """The driver-side numpy kernel alone, on many more random graphs than
    the Spark-backed property test can afford, against union-find."""
    import numpy as np

    from pyofs_spark.operators.components import _local_components

    e = np.array([(a, b) for a, b in edges if a != b], dtype=np.int64).reshape(-1, 2)
    ids, comp = _local_components(e[:, 0], e[:, 1])
    assert dict(zip(ids.tolist(), comp.tolist())) == _union_find(edges)
