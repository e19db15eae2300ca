"""Market-basket co-occurrence: within-group pair enumeration with
association metrics.

The reference's serving layer answers single-entity popularity (ES
terms aggs, EsTest.scala:128); the immediate next analytics question
— "which items appear TOGETHER" — needs pair enumeration inside each
basket, the canonical a-priori first pass (Agrawal & Srikant 1994's
L2 candidates). The same shape powers co-occurrence statistics over
training corpora (token/document co-occurrence, PMI tables).

Engine shape at 100 TB: ONE basket-keyed shuffle (collect_set —
partial-aggregated map-side) rolls each basket to its sorted item
array, then pairs enumerate INSIDE the row (nested transform/slice —
C(k, 2) per basket with k bounded by the basket width: 13 in TPC-H
lineitem, schema-bounded in most retail/log schemas; a `max_basket`
cap drops degenerate baskets LOUDLY, same semantics as the LSH
max_bucket caps). A present⋈present self-join on the basket id
computes the same pairs but shuffles the (basket, item) list twice —
measured ×76.6 at the ×100 probe before this shape replaced it. No
corpus-wide window, no cross join; support counts partial-aggregate
map-side.

Association metrics stay engine-deterministic: supports are exact
bigints; lift = (pair_n · N) / (n_a · n_b) is ONE fixed-order double
division rounded 4dp (numerator/denominator exact int64 — pair_n·N
bounded by baskets² ≈ 10^18 at 10^9 baskets, inside int64; past that
the column widens to decimal the same way money_sum's wide mode
does)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def copurchase_pairs(
    baskets: DataFrame,
    basket_col: str = "basket_id",
    item_col: str = "item_id",
    k: int = 20,
    min_pair_support: int = 2,
    max_basket: int | None = None,
) -> DataFrame:
    """Top-``k`` co-occurring item pairs with support and lift.

    Input: (basket_col, item_col) rows, duplicates allowed (an item
    twice in one basket counts once — presence, not quantity: the
    frame dedupes per basket first, which also bounds the pair fan-out
    at C(distinct items, 2)).

    Returns (item_a, item_b, pair_n, n_a, n_b, lift) with
    item_a < item_b, ordered by (pair_n desc, item_a, item_b), top-k
    via TakeOrdered. ``lift`` > 1 means the pair co-occurs more often
    than independent popularity predicts — rounded to 4dp from exact
    integer counts, so it hashes across engines.

    ``max_basket`` drops baskets wider than the cap ENTIRELY (a
    degenerate mega-basket contributes C(width, 2) pairs and no
    signal — the max_bucket move from the LSH joins)."""
    rolled = _rolled_items(baskets, basket_col, item_col, max_basket)
    n_baskets = rolled.agg(F.count("*").cast("bigint").alias("__n"))
    item_n = (
        rolled.select(F.explode("__items").alias("__i"))
        .groupBy("__i")
        .agg(F.count("*").cast("bigint").alias("__in"))
    )
    pairs = _pair_counts(rolled, min_pair_support)
    # item popularity scales with the CATALOG, not the corpus — like
    # the customer dim in order_wide_join it gets no forced broadcast:
    # AQE picks BHJ while it fits and falls back to SMJ beyond. The
    # 1-row basket count does broadcast.
    na = item_n.select(
        F.col("__i").alias("item_a"), F.col("__in").alias("n_a")
    )
    nb = item_n.select(
        F.col("__i").alias("item_b"), F.col("__in").alias("n_b")
    )
    enriched = (
        pairs.join(na, "item_a")
        .join(nb, "item_b")
        .crossJoin(F.broadcast(n_baskets))
    )
    return (
        enriched.select(
            "item_a",
            "item_b",
            "pair_n",
            "n_a",
            "n_b",
            F.round(
                (F.col("pair_n") * F.col("__n")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("pair_n"), F.asc("item_a"), F.asc("item_b"))
        .limit(k)
    )


def _rolled_items(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket: int | None,
) -> DataFrame:
    """ONE basket-keyed shuffle: collect_set partial-aggregates
    map-side, dedupes presence, and sort_array makes the in-row pair
    order deterministic. (The alternative — a present⋈present
    self-join on the basket id — shuffles the (basket, item) list
    TWICE; measured ~76.6× at the ×100 probe, this shape halves the
    wide bytes.)"""
    from ..materialize import materialize

    rolled = baskets.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).groupBy("__b").agg(F.sort_array(F.collect_set("__i")).alias("__items"))
    if max_basket is not None:
        rolled = rolled.filter(F.size("__items") <= max_basket)
    return materialize(rolled.select("__items"))


#: the in-row pair enumeration as ONE SQL string: the nested-lambda
#: F.transform build costs ~115 ms of py4j round trips per plan
#: (measured) — paid per micro-batch in copurchase_sink — while
#: F.expr parses the identical tree in one crossing. ``__items`` is
#: the fixed internal column _rolled_items emits.
_PAIR_STRUCTS_SQL = (
    "flatten(transform(__items, (x, i) ->"
    " transform(slice(__items, i + 2, size(__items)),"
    " y -> struct(x AS item_a, y AS item_b))))"
)


def _pair_counts(rolled: DataFrame, min_pair_support: int) -> DataFrame:
    """(item_a, item_b, pair_n) with item_a < item_b from the rolled
    basket arrays — pairs enumerate INSIDE the row (C(k, 2) per
    basket); `items` inside the nested lambdas is a plain column
    reference, so the no-CSE-in-HOF rule costs nothing."""
    return (
        rolled.select(F.explode(F.expr(_PAIR_STRUCTS_SQL)).alias("__p"))
        .select("__p.item_a", "__p.item_b")
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("bigint").alias("pair_n"))
        .filter(F.col("pair_n") >= min_pair_support)
    )


def copurchase_edges(
    baskets: DataFrame,
    basket_col: str = "basket_id",
    item_col: str = "item_id",
    min_pair_support: int = 1,
    max_basket: int | None = None,
) -> DataFrame:
    """Distinct undirected co-occurrence edges (item_a, item_b) with
    item_a < item_b — the co-purchase GRAPH feeding
    graph.triangle_stats and any downstream graph analytics. Same
    single-shuffle in-row pair enumeration as
    :func:`copurchase_pairs`, minus the association metrics."""
    rolled = _rolled_items(baskets, basket_col, item_col, max_basket)
    return _pair_counts(rolled, min_pair_support).select(
        "item_a", "item_b"
    )
