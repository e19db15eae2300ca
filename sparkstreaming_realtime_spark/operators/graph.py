"""Iterative graph algorithms beyond connected components: PageRank
with engine-portable integer arithmetic.

The reference's serving layer ranks hot actors with a terms
aggregation (EsTest.scala:128 — top-k by doc count); PageRank is the
graph-native form of "which entities matter", and for the engine it
doubles as the showcase of a NUMERIC iterative DataFrame loop (the
dedup family's connected_components is the SET-valued one).

Determinism is the hard part, solved the same way as money_sum /
lm.py's micro-nats: **all rank mass is integer micro-units**, so
every aggregation is a bigint sum — order-independent under any
partitioning — and both engines (Spark `div`, DuckDB `//`, both
truncating) compute bit-identical iterates. Double-precision
PageRank would hash-diverge across engines from float summation
order alone.

Per iteration (damping d = 85/100, teleport mass 150 000 of the
1 000 000-unit start):

    r'(v) = 150000 + (85 · Σ_{u→v} (r(u) div out_deg(u))) div 100

Scale shape: one shuffle per iteration (the contribution groupBy);
the rank and degree frames are node-keyed and re-partition
consistently; `materialize(eager=True)` cuts lineage each round so
plan re-analysis stays flat (the connected_components lesson —
persist-only loops go exponential past ~5 rounds). The iteration
count is FIXED (an analytics rollup, not convergence detection), so
the oracle replays it as a chain of CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: integer micro-rank constants shared with the SQL oracle: start
#: mass per node, teleport term, damping numerator/denominator
PR_START = 1_000_000
PR_TELEPORT = 150_000
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    dedup_edges: bool = True,
) -> DataFrame:
    """Integer-arithmetic PageRank over a directed edge list.

    ``edges`` must cover every node as a source at least once
    (callers with dangling nodes add reverse edges or self-loops
    first — the registry query feeds a bidirectional edge set, where
    out-degree ≥ 1 holds by construction). Returns (node,
    rank_micro): bigint micro-units, bit-identical across engines.
    """
    from ..materialize import ensure_checkpoint_dir, materialize

    ensure_checkpoint_dir(edges.sparkSession)
    # pre-partition the (deduped) edge list by join key BEFORE the
    # checkpoint: every iteration joins on __src, and a checkpointed
    # frame keeps its partitioning, so the three per-iteration joins
    # reuse this one exchange instead of re-shuffling the full edge
    # list each round (the edge list is the big side — 120M rows at
    # the ×100 probe; ranks is |nodes|, ~1% of it)
    e = edges.select(
        F.col(src).cast("long").alias("__src"),
        F.col(dst).cast("long").alias("__dst"),
    )
    if dedup_edges:
        # callers whose edge list is distinct BY CONSTRUCTION (e.g. a
        # union of two direction-disjoint distinct sets) pass
        # dedup_edges=False and skip a full edge-list shuffle — at the
        # ×100 probe that is a 100M-row dedup avoided
        e = e.distinct()
    e = materialize(e.repartition(F.col("__src")))
    deg = materialize(
        e.groupBy("__src").agg(F.count(F.lit(1)).alias("__deg"))
    )
    # carry out-degree INSIDE the rank frame: one edges⋈ranks join
    # per iteration instead of edges⋈ranks⋈deg — the re-attach join
    # after each aggregate is node-keyed (tiny side), never the edges
    rd = deg.select(
        F.col("__src").alias("node"),
        F.lit(PR_START).cast("long").alias("rank_micro"),
        F.col("__deg"),
    )
    for _ in range(iters):
        contribs = e.join(rd, e["__src"] == rd["node"]).select(
            F.col("__dst").alias("node"),
            F.expr("rank_micro div __deg").alias("__c"),
        )
        ranks = contribs.groupBy("node").agg(
            (
                F.lit(PR_TELEPORT)
                + F.expr(f"({PR_DAMP_NUM} * sum(__c)) div {PR_DAMP_DEN}")
            ).cast("long").alias("rank_micro")
        )
        rd = materialize(
            ranks.join(
                deg.select(F.col("__src").alias("node"), "__deg"), "node"
            ),
            eager=True,
        )
    return rd.select("node", "rank_micro")


def triangle_stats(
    edges: DataFrame,
    node_a: str = "a",
    node_b: str = "b",
) -> DataFrame:
    """Exact per-node triangle counts and local clustering
    coefficient over an undirected edge list — the degree-ordered
    orientation algorithm (Schank & Wagner 2005; the MapReduce
    formulation is Suri & Vassilvitskii 2011, "Counting Triangles and
    the Curse of the Last Reducer").

    ``edges`` must be DISTINCT undirected edges with ``node_a`` <
    ``node_b`` per row (no self-loops) — the shape
    :func:`~..operators.basket.copurchase_pairs`'s pair aggregation
    emits. Returns (node, deg, tri_n, clustering): every node of the
    graph, its degree, the exact number of triangles through it, and
    2·tri/(deg·(deg−1)) rounded 4dp — ONE fixed-order double division
    of exact int64 counts (the lift/money_sum convention), so the
    frame hashes across engines.

    Scale shape — why this survives hubs at 100 TB:

    - Each edge is ORIENTED from its (degree, id)-smaller endpoint to
      the larger. Wedges enumerate only between ORIENTED out-edges,
      so a degree-10⁶ hub (the "last reducer" killer: C(10⁶, 2)
      wedges if enumerated naively) is the *target* of almost all its
      edges and the wedge-center of almost none; total wedge work is
      O(m^{3/2}) regardless of skew, vs O(Σ deg²) unoriented.
    - The wedge self-join keys on the oriented source: the oriented
      frame is hash-partitioned on ``__src`` once (materialize +
      repartition), so BOTH self-join sides reuse that single
      exchange.
    - The closure probe joins wedge (v, w) pairs against the oriented
      edge set on the composite key — by construction the closing
      edge is oriented v→w (v precedes w in the same total order), so
      ONE equi-join suffices, no union of directions.
    - Per-node counts explode each triangle's 3 corners and
      partial-aggregate map-side; the final left join re-attaches
      zero-triangle nodes.

    The total (degree, id) order is replayed verbatim by the SQL
    oracle, so wedge/triangle sets are identical in both engines —
    no float anywhere until the final 4dp coefficient."""
    deg, oriented = _degree_oriented(edges, node_a, node_b)
    wedges = _wedges(oriented)
    closing = oriented.select(
        F.col("__src").alias("__v"), F.col("__dst").alias("__w")
    )
    # closure probe: the wedge frame is O(m^1.5) rows while the edge
    # side is m — hint SHUFFLE_HASH so the big side streams into a
    # hash of the small side instead of SORT-merge (sorting 386M
    # wedge rows dominated the ×100 probe before the hint; AQE can
    # still upgrade to broadcast when the edge side fits)
    tris = wedges.join(
        closing.hint("shuffle_hash"), ["__v", "__w"]
    ).select(F.col("__src").alias("__u"), "__v", "__w")
    per_node = (
        tris.select(
            F.explode(F.array(F.col("__u"), F.col("__v"), F.col("__w"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__t"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("__t"), F.lit(0)).cast("bigint").alias("tri_n"),
        F.when(
            F.col("deg") >= 2,
            F.round(
                (2 * F.coalesce(F.col("__t"), F.lit(0))).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
                4,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def _degree_oriented(
    edges: DataFrame, node_a: str, node_b: str
) -> tuple[DataFrame, DataFrame]:
    """Degree frame + degree-ordered oriented edge list shared by
    :func:`triangle_stats` and :func:`link_prediction`. ``oriented``
    is (__src, __dst, __sd, __dd): each undirected edge oriented from
    its (degree, id)-smaller endpoint, both endpoint degrees riding
    along (src's for Adamic-Adar weights, dst's for wedge ordering —
    neither needs another join later). Hash-partitioned on ``__src``
    once so the wedge self-join reuses a single exchange."""
    from ..materialize import materialize

    # NOTE on (not) caching the edge list: this function references
    # ``edges`` three times (twice for degrees, once for
    # orientation), and when the caller hands in a derived frame the
    # derivation re-runs per reference — but persisting it here
    # measured 3.5× WORSE at sf0.1 (8.4 s -> 29.9 s: the disk-persist
    # barrier serializes the three branches that otherwise re-derive
    # CONCURRENTLY from the upstream cache, and hides the stats AQE
    # used to coalesce the wedge exchanges). Callers whose edge
    # derivation is genuinely expensive should materialize it
    # themselves; co-purchase pair enumeration from the cached rolled
    # frame is cheaper re-run than persisted.
    e = edges.select(
        F.col(node_a).cast("long").alias("__a"),
        F.col(node_b).cast("long").alias("__b"),
    )
    deg = materialize(
        e.select(F.col("__a").alias("node"))
        .unionAll(e.select(F.col("__b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    da = deg.select(F.col("node").alias("__a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("node").alias("__b"), F.col("deg").alias("__db"))
    ed = e.join(da, "__a").join(db, "__b")
    lo_a = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("__a") < F.col("__b"))
    )
    oriented = ed.select(
        F.when(lo_a, F.col("__a")).otherwise(F.col("__b")).alias("__src"),
        F.when(lo_a, F.col("__b")).otherwise(F.col("__a")).alias("__dst"),
        F.when(lo_a, F.col("__da")).otherwise(F.col("__db")).alias("__sd"),
        F.when(lo_a, F.col("__db")).otherwise(F.col("__da")).alias("__dd"),
    )
    oriented = materialize(oriented.repartition(F.col("__src")))
    return deg, oriented


def _wedges(oriented: DataFrame) -> DataFrame:
    """(__src, __sd, __v, __w) wedge frame: unordered out-neighbor
    pairs of each wedge center, canonicalized so (__v, __w) follows
    the SAME (deg, id) total order as the orientation — the closing
    edge, if it exists, is oriented __v→__w, so one equi-join decides
    closure."""
    e1 = oriented.select(
        F.col("__src"),
        F.col("__sd"),
        F.col("__dst").alias("__v"),
        F.col("__dd").alias("__dv"),
    )
    e2 = oriented.select(
        F.col("__src"), F.col("__dst").alias("__w"), F.col("__dd").alias("__dw")
    )
    return e1.join(e2, "__src").filter(
        (F.col("__dv") < F.col("__dw"))
        | ((F.col("__dv") == F.col("__dw")) & (F.col("__v") < F.col("__w")))
    )


def link_prediction(
    edges: DataFrame,
    node_a: str = "a",
    node_b: str = "b",
    k: int = 20,
    max_degree: int | None = None,
    threshold_prune: bool = False,
    hub_probe: int = 64,
) -> DataFrame:
    """Top-``k`` predicted links: non-adjacent node pairs ranked by
    common-neighbor count with the Adamic-Adar tie-breaker (Liben-
    Nowell & Kleinberg 2003; Adamic & Adar 2003) — the candidate-
    generation primitive of collaborative filtering ("customers who
    bought X also bought..." one hop further than the co-purchase
    edge itself).

    A pair (v, w)'s common-neighbor count is its wedge count over the
    FULL adjacency — unlike triangle closure, the wedge center's
    edges may point either way under the triangle orientation (a
    center both of whose edges point INWARD still witnesses a common
    neighbor), so wedges enumerate from the bidirectional neighbor
    list, Σ C(deg, 2) total. That is quadratic in a hub's degree;
    ``max_degree`` drops over-connected wedge CENTERS entirely (the
    max_bucket/max_basket move — a boilerplate hub shared by
    everything carries no signal and C(10⁶, 2) cost), loudly bounding
    the work at |V|·C(cap, 2). The canonical (deg, id) pair order
    still matches the edge orientation, so one left-anti equi-join
    removes already-linked pairs.

    Adamic-Adar down-weights promiscuous shared neighbors by
    1/ln(deg): each wedge center contributes ``round(1e6/ln(deg_u))``
    integer micro-units (deg_u ≥ 2 whenever a wedge exists, so the
    log never vanishes; the lm.py micro-nat convention), summed as
    bigints — order-independent, and one final 4dp division makes the
    readable score. Returns (node_a, node_b, common_n, aa_micro,
    aa_score) ordered by (common_n desc, aa_micro desc, node_a,
    node_b).

    ``threshold_prune`` (the cost left once degrees are capped): after
    the ``max_degree`` cap, the cost is the (v, w) pair-shuffle —
    ~wedge-count nearly-distinct pairs that map-side combine cannot
    reduce. The served top-k admits an EXACT prune via the containment
    bound ``common_n(v, w) ≤ min(deg(v), deg(w))`` (every common
    neighbor is a neighbor of both): any lower bound τ on the final
    k-th common_n lets every wedge pair with min(deg) < τ drop BEFORE
    the shuffle, since such a pair can never reach common_n ≥ τ. τ
    comes from a probe aggregate restricted to pairs whose BOTH
    endpoints sit in the top-``hub_probe`` degrees — a subset of the
    full candidate set, so its k-th best common_n can only
    UNDERestimate the global k-th (subset top-k ≤ global top-k,
    elementwise) — and degenerates to τ=1 (prune nothing, still
    exact) when the probe returns fewer than k open pairs. Ranking is
    common_n-first, so pairs below τ cannot enter the top-k on the
    aa tie-breaker either; pairs AT the k-th value all survive the
    filter (their min-deg ≥ their common_n = k-th ≥ τ), so ties
    resolve identically to the unpruned operator
    (test_link_prediction_threshold_prune_is_exact fuzzes this).
    Cost: one extra tiny probe aggregate + a second pass over the
    wedge join (enumeration was NOT the bottleneck); shuffle volume
    drops to the pairs with min-deg ≥ τ."""
    deg, oriented = _degree_oriented(edges, node_a, node_b)
    # full adjacency with the center's degree first: both directions
    # of every oriented edge, re-partitioned on the center so the
    # wedge self-join reuses one exchange
    fwd = oriented.select(
        F.col("__src").alias("__c"),
        F.col("__sd").alias("__cd"),
        F.col("__dst").alias("__n"),
        F.col("__dd").alias("__nd"),
    )
    rev = oriented.select(
        F.col("__dst").alias("__c"),
        F.col("__dd").alias("__cd"),
        F.col("__src").alias("__n"),
        F.col("__sd").alias("__nd"),
    )
    adj = fwd.unionAll(rev)
    if max_degree is not None:
        adj = adj.filter(F.col("__cd") <= max_degree)
    from ..materialize import materialize

    adj = materialize(adj.repartition(F.col("__c")))
    e1 = adj.select(
        "__c",
        "__cd",
        F.col("__n").alias("__v"),
        F.col("__nd").alias("__dv"),
    )
    e2 = adj.select(
        "__c", F.col("__n").alias("__w"), F.col("__nd").alias("__dw")
    )
    w = (
        e1.join(e2, "__c")
        .filter(
            (F.col("__dv") < F.col("__dw"))
            | ((F.col("__dv") == F.col("__dw")) & (F.col("__v") < F.col("__w")))
        )
        .select(
            "__v",
            "__dv",
            "__w",
            "__dw",
            F.round(F.lit(1e6) / F.log(F.col("__cd").cast("double")))
            .cast("bigint")
            .alias("__aa"),
        )
    )
    closing = oriented.select(
        F.col("__src").alias("__v"), F.col("__dst").alias("__w")
    )

    def _open_pairs(wedge_frame: DataFrame) -> DataFrame:
        return (
            wedge_frame.groupBy("__v", "__w")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("common_n"),
                F.sum("__aa").cast("bigint").alias("aa_micro"),
            )
            .join(closing, ["__v", "__w"], "left_anti")
        )

    if threshold_prune:
        # probe: k-th best common_n among hub-endpoint pairs — a
        # subset of the candidates, so a VALID lower bound τ on the
        # global k-th (see docstring); τ=1 (no prune) when the hub
        # set is the whole graph or yields < k open pairs
        hub = deg.orderBy(F.desc("deg"), "node").limit(hub_probe).collect()
        if len(hub) == hub_probe:
            d_hub = int(hub[-1]["deg"])
            kth = (
                _open_pairs(
                    w.filter(
                        (F.col("__dv") >= d_hub) & (F.col("__dw") >= d_hub)
                    )
                )
                .select("common_n")
                .orderBy(F.desc("common_n"))
                .limit(k)
                .collect()
            )
            tau = int(kth[-1]["common_n"]) if len(kth) == k else 1
        else:
            tau = 1
        if tau > 1:
            # map-side, BEFORE the pair shuffle: a pair with
            # min(deg) < τ can never reach common_n ≥ τ
            w = w.filter(F.least("__dv", "__dw") >= tau)

    open_pairs = _open_pairs(w)
    return (
        open_pairs.select(
            F.col("__v").alias(node_a),
            F.col("__w").alias(node_b),
            "common_n",
            "aa_micro",
            F.round(F.col("aa_micro").cast("double") / 1e6, 4).alias(
                "aa_score"
            ),
        )
        .orderBy(
            F.desc("common_n"),
            F.desc("aa_micro"),
            F.asc(node_a),
            F.asc(node_b),
        )
        .limit(k)
    )
