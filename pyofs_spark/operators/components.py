"""Connected components over a near-duplicate pair graph.

The dedup suite's missing last step: MinHash/LSH (plans/queries_text.py)
emits candidate *pairs*, but shipping a dedup keep-list needs the
transitive closure of those pairs — one canonical document per connected
component of the similarity graph (the shape used by every production
web-corpus dedup: C4, RefinedWeb, Dolma all cluster LSH pairs before
dropping non-canonical members).

Algorithm: contraction on the cluster while the graph is too big for the
driver, then a local finish on the driver.

Distributed contraction. The operator keeps a vertex→label map L and a
quotient edge set Q: the distinct label pairs (a < b) of the input edges,
self-pairs dropped. Each round is min-label propagation with pointer
jumping (the alternating-star family of Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) run on the quotient graph:

  step:  comp'(u)  = min(L(u), min_{(a, L(u)) in Q} a)
  jump:  comp''(u) = comp'(comp'(u))

Every vertex of one label moves to the same new label, so Q is relabelled
through the old→new label map and its internal edges dropped; Q shrinks to
empty at the fixpoint. Labels are vertex ids, start at L(u) = u, are
monotone non-increasing and always ids *within u's component*, so the
fixpoint labels every vertex with its component's minimum id —
deterministic, no RNG. The pointer jump halves label-chain lengths each
round, so convergence is O(log d) rounds. L and Q are materialized per
round via session.materialize (localCheckpoint on the bench, durable
checkpoint under PYOFS_DURABLE_MATERIALIZE=1).

Local finish. The rounds stop as soon as |Q| fits the edge budget. Q is
collected once with toArrow(), labelled by a vectorized numpy hook +
pointer-jump pass, and the labels come back through createDataFrame; when
rounds ran, L is broadcast-joined to those roots. The budget is the size
the engine already agrees to hold on the driver and broadcast:
spark.sql.autoBroadcastJoinThreshold at 16 bytes per (bigint, bigint)
edge, 4 194 304 edges at the session's 64 MB. A threshold <= 0 gives a
budget of 0, which runs the distributed rounds to their fixpoint.

The reference has no graph operator; this extends SURVEY's LLM-pipeline
section (dedup family) beyond the reference surface.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize


def _label_pairs(df: DataFrame, x, y) -> DataFrame:
    """Materialized distinct (a < b) pairs of columns x, y, self-pairs dropped."""
    return materialize(
        df.select(F.least(x, y).alias("a"), F.greatest(x, y).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _local_components(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ids, comp) for every vertex of the edge list a[i]–b[i], where comp
    is the minimum id of the vertex's component. Vertices are renumbered in
    id order, so a forest whose parents only ever point to smaller indices
    has each component's minimum as its root."""
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = inv[: len(a)], inv[len(a) :]
    parent = np.arange(len(ids))
    while len(ea):
        # min-label step on roots: every larger root hooks to its
        # smallest neighbouring root
        np.minimum.at(parent, np.maximum(ea, eb), np.minimum(ea, eb))
        # pointer jump until every vertex points at a root
        while not np.array_equal(parent[parent], parent):
            parent = parent[parent]
        ea, eb = parent[ea], parent[eb]
        crossing = ea != eb
        ea, eb = ea[crossing], eb[crossing]
    return ids, ids[parent]


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 64,
) -> DataFrame:
    """Return (id, comp) for every vertex incident to an edge, where comp
    is the minimum vertex id in the vertex's connected component.

    `edges` is undirected input (each pair listed once suffices); vertices
    with no edges are absent — callers left-join and default comp = id.
    Raises RuntimeError if the quotient graph still exceeds the driver's
    edge budget after max_rounds distributed rounds.
    64 is a true worst-case bound: labels reach any vertex's component
    minimum in <= diameter propagation steps and the pointer jump halves
    the remaining label-chain length every round, so even a 2^63-vertex
    path graph (more vertices than a bigint can address) converges within
    64 rounds; the loop exits at the budget, so the headroom is free
    (ADVICE r5: 30 was short of the claim for diameters beyond ~2^30).
    """
    spark = edges.sparkSession
    q = _label_pairs(edges, F.col(src).cast("long"), F.col(dst).cast("long"))
    # driver edge budget: the broadcast threshold at 16 bytes per edge
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    budget = max(threshold, 0) // 16
    n = q.limit(budget + 1).count()
    # the vertex→label map L, identity until a round runs
    comp = q.select(F.explode(F.array("a", "b")).alias("id")).distinct()
    comp = comp.withColumn("comp", F.col("id"))
    rounds = 0
    while n > budget:
        if rounds == max_rounds:
            raise RuntimeError(
                f"connected_components: no fixpoint after {max_rounds} rounds"
            )
        rounds += 1
        # min label over the label's closed neighborhood in Q (a < b, so
        # only the smaller endpoint of an edge can lower a label); the
        # round-start label rides along as `prev`
        hook = q.groupBy("b").agg(F.min("a").alias("m"))
        stepped = comp.join(hook.withColumnRenamed("b", "comp"), "comp", "left").select(
            "id", F.col("comp").alias("prev"), F.coalesce("m", "comp").alias("comp")
        )
        # pointer jump: comp(u) <- comp(comp(u)); labels are always vertex
        # ids so the lookup hits (left join is belt-and-braces)
        s, p = stepped.alias("s"), stepped.alias("p")
        jumped = materialize(
            s.join(p, F.col("s.comp") == F.col("p.id"), "left").select(
                F.col("s.id").alias("id"),
                F.col("s.prev").alias("prev"),
                F.coalesce(F.col("p.comp"), F.col("s.comp")).alias("comp"),
            )
        )
        comp = jumped.select("id", "comp")
        # every vertex of one old label moved to the same new label, so Q
        # relabels through old→new and loses the edges that became internal
        moved = jumped.select("prev", "comp").distinct()
        q = _label_pairs(
            q.join(moved.toDF("a", "na"), "a").join(moved.toDF("b", "nb"), "b"),
            "na",
            "nb",
        )
        n = q.limit(budget + 1).count()
    # local finish: label the remaining quotient graph on the driver
    t = q.toArrow()
    ids, roots = _local_components(t["a"].to_numpy(), t["b"].to_numpy())
    finish = spark.createDataFrame(pa.table({"id": ids, "comp": roots}))
    if not rounds:
        return finish
    finish = F.broadcast(finish.toDF("prev", "root"))
    return comp.join(finish, comp["comp"] == finish["prev"], "left").select(
        "id", F.coalesce("root", "comp").alias("comp")
    )
