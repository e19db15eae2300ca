"""Event-sequence analytics: ordered funnels and retention cohorts.

The reference's DAU pipeline answers "who was active today"
(DwdDauApp's first-visit filter + the hour rollup the endpoints
serve); product analytics asks the two natural follow-ups — "how far
do users get through an ORDERED sequence of actions" (funnel) and
"do they come back" (retention) — and both are pure DataFrame
compositions over the same events table.

Funnel semantics (first-touch, strictly ordered): a user completes
stage k at t_k = min ts of a stage-k event with ts > t_{k-1}
(t_0 = −∞). This is the standard ordered-funnel definition
(a later-stage event BEFORE the earlier stage does not count), and
it is deliberately non-windowed — add a predicate upstream to bound
the period. Each stage is one user-keyed aggregate joined back, so a
k-stage funnel is k hash aggregates over user-keyed frames: the
partitioning is established once and reused, never a per-user window
sort over the whole event log.

Retention semantics: a user's cohort is the date of their FIRST
event; activity is distinct (user, date); the cell (cohort_date,
day_offset) counts users of that cohort active exactly offset days
later. Two aggregates and one broadcast-sized join back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_times(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user funnel completion times: (``__u``, __t0..__t{k−1}),
    one row per user with at least a stage-0 event, __tk null where
    the ordered chain stops. The per-user first step of
    :func:`funnel`."""
    if not stages:
        raise ValueError("funnel needs at least one stage")
    u = F.col(user_col)
    completed = None
    for k, stage in enumerate(stages):
        ev_k = events.filter(F.col(type_col) == stage).select(
            u.alias("__u"), F.col(ts_col).alias("__ts")
        )
        if completed is None:
            tk = ev_k.groupBy("__u").agg(F.min("__ts").alias(f"__t{k}"))
            completed = tk
        else:
            prev = f"__t{k - 1}"
            tk = (
                ev_k.join(completed.select("__u", prev), "__u")
                .filter(F.col("__ts") > F.col(prev))
                .groupBy("__u")
                .agg(F.min("__ts").alias(f"__t{k}"))
            )
            completed = completed.join(tk, "__u", "left")
    return completed


def funnel_counts_from_times(times: DataFrame, stages: list[str]) -> DataFrame:
    """Fold a :func:`funnel_times` frame to the public funnel shape
    (stage_idx, stage, n_users)."""
    counts = times.agg(
        *[
            F.count(F.col(f"__t{k}")).alias(f"__n{k}")
            for k in range(len(stages))
        ]
    )
    # unpivot the single counts row into (stage_idx, stage, n_users)
    pairs = []
    for k, stage in enumerate(stages):
        pairs += [F.lit(k), F.struct(F.lit(stage).alias("s"), F.col(f"__n{k}").alias("n"))]
    return (
        counts.select(
            F.explode(F.create_map(*pairs)).alias("stage_idx", "__sn")
        )
        .select(
            F.col("stage_idx").cast("int"),
            F.col("__sn.s").alias("stage"),
            F.col("__sn.n").cast("bigint").alias("n_users"),
        )
    )


def funnel(
    events: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered first-touch funnel. Returns one row per stage:
    (stage_idx, stage, n_users) with n_users weakly decreasing by
    construction — a user counts for stage k only if a stage-k event
    exists strictly after their stage-(k−1) completion time."""
    return funnel_counts_from_times(
        funnel_times(events, stages, user_col, type_col, ts_col), stages
    )


def active_days(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Distinct (``__u``, ``__d``) activity days — the decomposable
    unit of retention: user-day presence is a SET, so per-batch
    distinct frames over any row split union+distinct to the corpus
    set exactly (the streaming maintainer's contract,
    streaming/sinks.py:retention_sink)."""
    return events.select(
        F.col(user_col).alias("__u"),
        F.to_date(F.col(ts_col)).alias("__d"),
    ).distinct()


def retention_from_active(active: DataFrame) -> DataFrame:
    """Fold a distinct (``__u``, ``__d``) frame to the retention
    matrix — shared VERBATIM by the one-shot operator and the
    streaming read path so both produce identical cells."""
    first = active.groupBy("__u").agg(F.min("__d").alias("__cohort"))
    return (
        active.join(first, "__u")
        .groupBy(
            F.col("__cohort").cast("string").alias("cohort_date"),
            F.datediff(F.col("__d"), F.col("__cohort")).alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_active"))
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Retention matrix: (cohort_date, day_offset, n_active) — users
    whose FIRST event fell on cohort_date and who were active exactly
    day_offset days later (offset 0 = the cohort itself, so
    n_active(c, 0) is the cohort size). Distinct activity first, so a
    chatty user costs one row per active day, not per event."""
    return retention_from_active(active_days(events, user_col, ts_col))


def transition_matrix(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over event types:
    (from_event, to_event, n, prob) counting consecutive same-user
    pairs whose gap is ≤ ``gap_seconds`` (a transition across a
    session boundary is behaviorally meaningless — the same 30-min
    gap rule as user_sessions). ``prob`` is row-normalized
    (Σ_to prob ≈ 1 per from_event), one fixed-order double division
    of exact int64 counts rounded 4dp.

    The behavior-modeling primitive behind next-event prediction and
    bot detection; the reference's action/display fan-outs
    (OdsBaseLogApp's action arrays) expose the events, this gives
    their dynamics.

    Engine shape at 100 TB: one per-user window (lag of type + ts —
    the standard sessionization sort, same cost class as
    user_sessions), then a map-side-combinable count into a
    |types|² frame; the row-total join is matrix-sized, broadcast."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    pairs = (
        events.select(
            F.col(type_col).alias("to_event"),
            F.lag(type_col).over(w).alias("from_event"),
            # microsecond gap arithmetic: a seconds cast TRUNCATES, so
            # a 1800.5 s gap could round differently than the oracle's
            # full-precision interval compare — epoch_us is exact in
            # both engines
            (
                F.unix_micros(ts_col) - F.unix_micros(F.lag(ts_col).over(w))
            ).alias("__gap"),
        )
        .filter(
            F.col("from_event").isNotNull()
            & (F.col("__gap") <= gap_seconds * 1_000_000)
        )
        .groupBy("from_event", "to_event")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return transition_matrix_from_counts(pairs)


def transition_matrix_from_counts(pairs: DataFrame) -> DataFrame:
    """Final normalization over exact (from_event, to_event, n)
    counts: one fixed-order double division per cell, so ``prob`` is
    bit-identical wherever the counts come from."""
    totals = pairs.groupBy("from_event").agg(
        F.sum("n").cast("bigint").alias("__total")
    )
    return (
        pairs.join(F.broadcast(totals), "from_event")
        .select(
            "from_event",
            "to_event",
            F.col("n").cast("bigint").alias("n"),
            F.round(
                F.col("n").cast("double") / F.col("__total").cast("double"),
                4,
            ).alias("prob"),
        )
        .orderBy("from_event", "to_event")
    )
