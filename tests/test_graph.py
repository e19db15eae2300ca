"""Integer PageRank (operators/graph.py): hand-computed iterates on
a tiny star graph — every value is pinned exactly because the whole
loop is bigint arithmetic (truncating div), never float."""

from __future__ import annotations

from sparkstreaming_realtime_spark.operators.graph import pagerank


def test_pagerank_matches_hand_computed_integer_iterates(spark):
    # star: node 1 <-> {2, 3}; deg(1)=2, deg(2)=deg(3)=1
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1), (3, 1)], "src long, dst long"
    )
    # hand-run: r0 = 1_000_000 each
    # i1: r(1) = 150000 + 85*2_000_000//100          = 1_850_000
    #     r(2) = r(3) = 150000 + 85*500_000//100     =   575_000
    # i2: r(1) = 150000 + 85*1_150_000//100          = 1_127_500
    #     r(2) = r(3) = 150000 + 85*925_000//100     =   936_250
    # i3: r(1) = 150000 + 85*1_872_500//100          = 1_741_625
    #     r(2) = r(3) = 150000 + (85*563_750)//100   =   629_187
    for iters, expect in [
        (1, {1: 1_850_000, 2: 575_000, 3: 575_000}),
        (2, {1: 1_127_500, 2: 936_250, 3: 936_250}),
        (3, {1: 1_741_625, 2: 629_187, 3: 629_187}),
    ]:
        got = {
            r.node: r.rank_micro
            for r in pagerank(edges, iters=iters).collect()
        }
        assert got == expect, f"iters={iters}"


def test_pagerank_is_partitioning_independent(spark):
    # the integer-sum claim: the same graph through a different
    # physical partitioning produces identical micro-units
    edges = [(i, (i * 7) % 23 + 100) for i in range(60)]
    edges += [(d, s) for s, d in edges]  # bidirectional
    a = spark.createDataFrame(edges, "src long, dst long")
    b = a.repartition(17, "dst")
    ra = {r.node: r.rank_micro for r in pagerank(a, iters=3).collect()}
    rb = {r.node: r.rank_micro for r in pagerank(b, iters=3).collect()}
    assert ra == rb
    assert len(ra) == len({s for s, _ in edges})

def test_order_graph_supplier_namespace_disjoint_on_scaled_fixtures(spark):
    """The order-graph query namespaces
    suppliers by NEGATION (s = -l_suppkey - 1), never by adding an
    offset — make_scaled offsets copy i's keys by i * BASE
    (1_000_000_000), so an additive supplier offset equal to BASE
    merged copy i's suppliers with copy i+1's customers, silently
    degenerating the x N probe graph. Replays the query's pairs
    construction over a two-copy (factor-2) key layout and asserts
    the two node namespaces stay disjoint and the graph stays exactly
    two independent copies."""
    from pyspark.sql import functions as F

    from scripts.make_scaled import BASE

    base_orders = [(ok, ok % 3 + 1) for ok in range(1, 7)]
    base_lines = [(ok, ok % 2 + 1) for ok in range(1, 7)]
    orders = spark.createDataFrame(
        base_orders + [(ok + BASE, ck + BASE) for ok, ck in base_orders],
        "o_orderkey long, o_custkey long",
    )
    lineitem = spark.createDataFrame(
        base_lines + [(ok + BASE, sk + BASE) for ok, sk in base_lines],
        "l_orderkey long, l_suppkey long",
    )
    pairs = (
        orders.join(
            lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
        )
        .select(
            F.col("o_custkey").alias("c"),
            (-F.col("l_suppkey") - F.lit(1)).alias("s"),
        )
        .distinct()
    )
    rows = pairs.collect()
    custs = {r.c for r in rows}
    supps = {r.s for r in rows}
    assert custs & supps == set()
    assert all(c > 0 for c in custs) and all(s < 0 for s in supps)
    # two copies -> exactly 2x the distinct pairs of one copy, and no
    # cross-copy edge (copy-0 customer never meets a copy-1 supplier)
    base_pairs = {(ck, -sk - 1) for (ok, ck) in base_orders
                  for (ok2, sk) in base_lines if ok == ok2}
    assert len(rows) == 2 * len(base_pairs)
    assert all(
        (r.c < BASE) == (r.s > -BASE - 1) for r in rows
    ), "cross-copy edge: customer and supplier from different copies"


def _tri_rows(spark, edges):
    from sparkstreaming_realtime_spark.operators.graph import (
        triangle_stats,
    )

    df = spark.createDataFrame(edges, "a long, b long")
    return {
        r.node: (r.deg, r.tri_n, r.clustering)
        for r in triangle_stats(df).collect()
    }


def test_triangle_stats_hand_computed(spark):
    # K4 on {1,2,3,4} plus a pendant 5-1: C(4,3)=4 triangles, each
    # K4 node on 3 of them; node 5 on none.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    got = _tri_rows(spark, k4 + [(1, 5)])
    assert got[5] == (1, 0, 0.0)
    # node 1: deg 4 (K4 + pendant), 3 triangles, cc = 6/12
    assert got[1] == (4, 3, 0.5)
    # nodes 2-4: deg 3, 3 triangles, cc = 6/6 = 1.0
    for n in (2, 3, 4):
        assert got[n] == (3, 3, 1.0)


def test_triangle_stats_counts_each_triangle_once_under_skew(spark):
    # hub 100 connected to 1..20; consecutive spokes also connected:
    # triangles are exactly (100, i, i+1) for i in 1..19
    edges = [(i, 100) for i in range(1, 21)] + [
        (i, i + 1) for i in range(1, 20)
    ]
    got = _tri_rows(spark, edges)
    assert got[100][1] == 19
    assert got[1][1] == 1 and got[20][1] == 1
    for i in range(2, 20):
        assert got[i][1] == 2
    total = sum(t for _, t, _ in got.values())
    assert total == 3 * 19


def test_triangle_stats_partitioning_independent(spark):
    import random

    rng = random.Random(7)
    edges = sorted(
        {
            (a, b)
            for _ in range(300)
            for a, b in [sorted(rng.sample(range(1, 40), 2))]
        }
    )
    df1 = spark.createDataFrame(edges, "a long, b long").repartition(1)
    df17 = spark.createDataFrame(edges, "a long, b long").repartition(17)
    from sparkstreaming_realtime_spark.operators.graph import (
        triangle_stats,
    )

    r1 = sorted(map(tuple, triangle_stats(df1).collect()))
    r17 = sorted(map(tuple, triangle_stats(df17).collect()))
    assert r1 == r17


def test_link_prediction_hand_computed(spark):
    import math

    from sparkstreaming_realtime_spark.operators.graph import (
        link_prediction,
    )

    # path 1-2-3 plus 3-4: open pairs (1,3) share {2}; (2,4) share
    # {3}; (1,4) share nothing
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "a long, b long"
    )
    rows = link_prediction(edges).collect()
    got = {
        tuple(sorted((r.a, r.b))): (r.common_n, r.aa_micro, r.aa_score)
        for r in rows
    }
    aa2 = round(1e6 / math.log(2))
    assert got[(1, 3)] == (1, aa2, round(aa2 / 1e6, 4))
    assert got[(2, 4)] == (1, aa2, round(aa2 / 1e6, 4))
    assert (1, 4) not in got
    # no existing edge may appear
    assert not {(1, 2), (2, 3), (3, 4)} & set(got)


def test_link_prediction_excludes_closed_triangles(spark):
    from sparkstreaming_realtime_spark.operators.graph import (
        link_prediction,
    )

    # K3 is fully closed: no open wedge pairs at all
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "a long, b long"
    )
    assert link_prediction(edges).count() == 0


def test_link_prediction_aa_prefers_selective_neighbors(spark):
    from sparkstreaming_realtime_spark.operators.graph import (
        link_prediction,
    )

    # (1,2) share selective hub 10 (deg 2); (3,4) share promiscuous
    # hub 20 (deg 5): equal common_n, AA must rank (1,2) first
    edges = [(1, 10), (2, 10), (3, 20), (4, 20)] + [
        (20, x) for x in (31, 32, 33)
    ]
    df = spark.createDataFrame(edges, "a long, b long")
    rows = link_prediction(df, k=50).collect()
    ranked = [tuple(sorted((r.a, r.b))) for r in rows]
    assert ranked.index((1, 2)) < ranked.index((3, 4))


def test_link_prediction_max_degree_drops_hub_centers(spark):
    from sparkstreaming_realtime_spark.operators.graph import (
        link_prediction,
    )

    # hub 10 (deg 4) is the only shared neighbor of (1,2); capping
    # at 3 removes the hub as a wedge center, so no prediction
    edges = [(1, 10), (2, 10), (3, 10), (4, 10)]
    df = spark.createDataFrame(edges, "a long, b long")
    assert link_prediction(df).count() == 6  # C(4,2) open pairs
    assert link_prediction(df, max_degree=3).count() == 0


def test_link_prediction_threshold_prune_is_exact(spark):
    """The min-degree containment prune (common_n <= min(deg_v,
    deg_w), τ from the hub-subset probe) must return EXACTLY the
    unpruned top-k — values AND tie order — on random graphs, with a
    hub_probe small enough that τ > 1 actually prunes."""
    import random

    from sparkstreaming_realtime_spark.operators.graph import (
        link_prediction,
    )

    rng = random.Random(13)
    for trial in range(3):
        n = 60
        edges = {
            tuple(sorted((rng.randrange(n), rng.randrange(n))))
            for _ in range(260)
        }
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "a long, b long")
        key = lambda r: (r.a, r.b, r.common_n, r.aa_micro, r.aa_score)  # noqa: E731
        for k in (5, 20):
            want = [key(r) for r in link_prediction(df, k=k).collect()]
            got = [
                key(r)
                for r in link_prediction(
                    df, k=k, threshold_prune=True, hub_probe=12
                ).collect()
            ]
            assert got == want, f"trial {trial} k={k}"


def test_link_prediction_threshold_prune_degenerates_safely(spark):
    """Graphs smaller than hub_probe (or probes yielding < k open
    pairs) must fall back to τ=1 — no pruning, identical output."""
    from sparkstreaming_realtime_spark.operators.graph import (
        link_prediction,
    )

    edges = [(1, 10), (2, 10), (3, 10), (4, 10)]
    df = spark.createDataFrame(edges, "a long, b long")
    want = sorted(map(tuple, link_prediction(df).collect()))
    got = sorted(
        map(tuple, link_prediction(df, threshold_prune=True).collect())
    )
    assert got == want and len(got) == 6
