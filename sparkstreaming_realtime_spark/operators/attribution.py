"""Marketing-style revenue attribution: split each conversion's value
across the touch events that preceded it.

The reference serves per-entity popularity and DAU rollups; the next
question a growth/analytics team asks the same event stream is "which
CHANNEL gets credit for this revenue" — the attribution join. This is
the linear (equal-credit) model: every touch inside the lookback
window gets an equal share of the order's cents, integer-exactly —
``cents div k`` each, remainder to the LAST touch (most recent ts,
ties to the highest event id), the money_sum convention of never
letting float division near money. Orders with no touches in the
window stay whole in a ``(direct)`` bucket, so the attributed total
always reconciles to the revenue total — an invariant the unit tests
pin.

Scale shape: the touch join is the bucketed range join
(operators/range_join.py's technique): both sides bucket by
``floor(epoch / window)``, the event side explodes into its own
bucket and the NEXT (an order at ``ots`` looks back exactly one
window, so its touches live in bucket(ots) or bucket(ots)−1), and the
join is (user, bucket) EQUI-join + an exact range filter — never
user-only (a power user's full history × their every order). Per-
order credit math runs in a window partitioned by the order key —
partitions are touch-counts, bounded by user activity inside ONE
window, not corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: attribution bucket label for conversions with no preceding touch
DIRECT_LABEL = "(direct)"


def linear_attribution(
    orders: DataFrame,
    events: DataFrame,
    window_seconds: int,
    order_id: str = "order_id",
    order_user: str = "user_id",
    order_ts: str = "ots",
    cents_col: str = "cents",
    event_user: str = "user_id",
    event_ts: str = "ts",
    channel_col: str = "event_type",
    event_id: str = "event_id",
) -> DataFrame:
    """Per-channel linear attribution totals.

    ``orders``: one row per conversion (id, user, timestamp, integer
    cents). ``events``: the touch stream. A touch matches an order
    when same user and ``order_ts - window < event_ts <= order_ts``.
    Returns (channel, attributed_cents, n_touches, n_orders) with one
    extra ``(direct)`` row for untouched conversions; the
    attributed_cents column sums EXACTLY to total order cents."""
    w = window_seconds
    o = orders.select(
        F.col(order_id).alias("__oid"),
        F.col(order_user).alias("__u"),
        F.col(order_ts).alias("__ots"),
        F.col(cents_col).alias("__cents"),
        F.floor(F.unix_timestamp(F.col(order_ts)) / w).alias("__b"),
    )
    esec = F.floor(F.unix_timestamp(F.col("__ets")) / w)
    e = events.select(
        F.col(event_user).alias("__u"),
        F.col(event_ts).alias("__ets"),
        F.col(channel_col).alias("__ch"),
        F.col(event_id).alias("__eid"),
    ).withColumn("__b", F.explode(F.array(esec, esec + 1)))
    # one representation for BOTH bounds: full-precision
    # timestamp comparisons, so sub-second touches at exactly ots-w are
    # excluded and at ots included, matching the documented
    # (ots-w, ots] semantics and the oracle's INTERVAL arithmetic. The
    # bucket explode above may stay second-truncated: unix() commutes
    # with whole-second subtraction, so (ots-w, ots] always lands in
    # bucket(ots) or bucket(ots)-1 regardless of fractional seconds.
    in_range = (F.col("__ets") <= F.col("__ots")) & (
        F.col("__ets")
        > F.col("__ots") - F.expr(f"INTERVAL {int(w)} SECOND")
    )
    touches = o.join(e, ["__u", "__b"]).filter(in_range)
    wo = Window.partitionBy("__oid")
    rn = F.row_number().over(
        Window.partitionBy("__oid").orderBy(
            F.desc("__ets"), F.desc("__eid")
        )
    )
    credited = touches.select(
        "__oid",
        "__ch",
        "__cents",
        F.count(F.lit(1)).over(wo).alias("__k"),
        rn.alias("__rn"),
    ).select(
        "__ch",
        "__oid",
        (
            F.expr("__cents div __k")
            + F.when(
                F.col("__rn") == 1,
                F.col("__cents") - F.col("__k") * F.expr("__cents div __k"),
            ).otherwise(F.lit(0))
        ).alias("__credit"),
    )
    per_channel = credited.groupBy(F.col("__ch").alias("channel")).agg(
        F.sum("__credit").cast("bigint").alias("attributed_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.countDistinct("__oid").cast("bigint").alias("n_orders"),
    )
    direct = (
        o.join(
            touches.select("__oid").distinct(), "__oid", "left_anti"
        )
        .agg(
            F.sum("__cents").cast("bigint").alias("attributed_cents"),
            F.lit(0).cast("bigint").alias("n_touches"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
        .select(
            F.lit(DIRECT_LABEL).alias("channel"),
            "attributed_cents",
            "n_touches",
            "n_orders",
        )
        # a corpus where EVERY conversion had touches would emit a
        # (NULL, 0, 0) placeholder here — drop it
        .filter(F.col("n_orders") > 0)
    )
    return per_channel.unionByName(direct).orderBy("channel")
