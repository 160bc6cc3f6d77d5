"""Triangle counting with degree orientation — the O(m^1.5) wedge bound.

Triangles are the backbone of graph-quality signals (clustering
coefficient, community density, spam/bot subgraph detection) the
reference's graph side (follows edges/counts, ``src/fetch_data.py``
transforms) never computes; like PageRank this is the natural Spark
extension over the same edge data.

The naive formulation — three-way self-join of the undirected edge
list — enumerates every wedge at every vertex: a single celebrity node
of degree d contributes C(d, 2) wedges, so one hot node quadratically
dominates the shuffle.  The classic fix (Schank's node-iterator++ /
"forward" algorithm) orients each undirected edge from the
lower-(degree, id) endpoint to the higher one:

- every out-degree is then O(sqrt(m)), so the wedge join generates at
  most O(m^1.5) candidate wedges TOTAL, independent of skew;
- each triangle survives exactly once (its unique (deg,id)-smallest
  vertex emits the wedge, closed by the oriented third edge);
- the orientation key is deterministic integer data (degree, then id as
  tie-break), so the whole pipeline — canonical edges, degrees,
  orientation, wedge join, closure join — replays as static ANSI SQL
  and every output is an exact integer.  (A float-free graph metric,
  same discipline as the fixed-point PageRank.)

All three joins are equi-joins on node ids; the degree frame is
node-sized and broadcasts into the edge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonical_edges(df: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge set as (a, b) with a < b, distinct, loops
    dropped — the canonical form every downstream count assumes."""
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    return (
        df.select(a, b).filter(F.col("a") != F.col("b")).distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(node, deg) over canonical edges."""
    return (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def oriented_edges(
    edges: DataFrame,
    broadcast_degrees: bool = True,
    deg: DataFrame | None = None,
) -> DataFrame:
    """(u, v): each canonical edge directed from the lower-(deg, id)
    endpoint to the higher — the skew-bounding orientation.

    ``broadcast_degrees``: the degree frame is node-sized; fine to
    broadcast for graphs whose NODE set fits an executor (the default,
    right for dimension-keyed graphs like co-suppliers), but on a
    billion-node follows graph pass False and let the two decorations
    shuffle-join — the explicit hint would otherwise force an OOM
    regardless of autoBroadcastJoinThreshold.

    ``deg``: pass an already-(persisted) ``degrees(edges)`` frame to
    share it; without one the two broadcast decorations below are
    DISTINCT exchanges (different projections), so each would rebuild
    the degree aggregate from scratch — measured as the bulk of the
    orientation's cost at sf0.1 (r10). The default persists through the
    shared registry that ``release_cached()`` drains."""
    if deg is None:
        from ..operators.dedup import _persist

        deg = _persist(degrees(edges))
    da = deg.select(
        F.col("node").alias("a"), F.col("deg").alias("deg_a")
    )
    db = deg.select(
        F.col("node").alias("b"), F.col("deg").alias("deg_b")
    )
    if broadcast_degrees:
        da, db = F.broadcast(da), F.broadcast(db)
    j = edges.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return j.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )


def triangles(
    edges: DataFrame,
    broadcast_degrees: bool = True,
    deg: DataFrame | None = None,
) -> DataFrame:
    """(x, y, z): one row per triangle, each exactly once, as the sorted
    node triple. Wedge join on the common oriented source; the closure
    is an EQUI-join against the canonical edge set — the wedge's open
    pair is emitted id-ordered (v1 < v2), which is exactly the canonical
    form, so no OR-of-directions condition (which would plan as a
    nested-loop join) is ever needed."""
    o = oriented_edges(edges, broadcast_degrees, deg=deg)
    w1 = o.select(F.col("u"), F.col("v").alias("v1"))
    w2 = o.select(F.col("u"), F.col("v").alias("v2"))
    # out-neighbor pairs of u, ordered v1 < v2 to emit each wedge once
    wedges = w1.join(w2, "u").filter(F.col("v1") < F.col("v2"))
    close = edges.select(
        F.col("a").alias("v1"), F.col("b").alias("v2")
    )
    closed = wedges.join(close, ["v1", "v2"], "left_semi")
    return closed.select(
        F.least("u", "v1", "v2").alias("x"),
        (
            F.col("u") + F.col("v1") + F.col("v2")
            - F.least("u", "v1", "v2")
            - F.greatest("u", "v1", "v2")
        ).alias("y"),
        F.greatest("u", "v1", "v2").alias("z"),
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """One row: n_nodes, n_edges, n_wedges (sum C(deg,2) — open+closed),
    n_triangles, and the global clustering coefficient
    ``3*T / n_wedges`` (the only float, one division of exact ints,
    rounded at 6 dp).

    The edge frame feeds four subtrees (degree stats, edge count, the
    orientation's degree join, the closure join) with differing
    projections, so exchange reuse alone doesn't collapse the repeats —
    persist it through the shared thread-local registry that
    ``release_cached()`` drains (the dedup/corpus discipline), sparing
    ~4 recomputations of what is usually the most expensive subplan
    (e.g. the lineitem self-join behind the co-supplier graph)."""
    from ..operators.dedup import _persist

    edges = _persist(edges)
    # BLOCKING materialization (r10 SQL-tab audit): the stats subtrees
    # (degree aggregate, edge count, orientation, closure) materialize
    # CONCURRENTLY under AQE, and on a cold cache each races through the
    # full edge-build pipeline — the execution graph showed the
    # edge-build Exchange twice with 5.1 s + 3.1 s of shuffle-write task
    # time at sf0.1. One eager pass fills the cache before the fan-out.
    edges.count()
    # one persisted degree frame shared by the wedge stats AND the
    # orientation's two broadcast decorations (r10: each broadcast is a
    # distinct exchange, so an unpersisted deg was rebuilt twice)
    deg = _persist(degrees(edges))
    base = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # integer `div`, not float /: sum(deg*(deg-1)) passes 2^53 on a
        # skewed 100 TB graph (one degree-2^27 node suffices) and the
        # double-precision division would round — breaking the module's
        # exact-integer contract. The sum is even, so div 2 is exact.
        F.expr("sum(deg * (deg - 1)) div 2").alias("n_wedges"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_tri = triangles(edges, deg=deg).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    return (
        base.crossJoin(n_edges)
        .crossJoin(n_tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering_coeff"),
        )
    )


def node_triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, n_triangles): per-node triangle membership — each triangle
    credits all three corners (explode of the triple). Edges persist
    through the shared registry for the same multi-subtree reason as
    :func:`triangle_stats`."""
    from ..operators.dedup import _persist

    edges = _persist(edges)
    # same cold-cache race as triangle_stats: the orientation's degree
    # build and the closure join materialize concurrently — block once
    edges.count()
    t = triangles(edges)
    node = F.explode(F.array("x", "y", "z")).alias("node")
    return t.select(node).groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
