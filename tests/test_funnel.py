"""Ordered funnel + retention cohorts (operators/funnel.py):
sequence semantics pinned on hand-built event logs."""

from __future__ import annotations

import datetime as dt

from sparkstreaming_realtime_spark.operators.funnel import (
    funnel,
    retention_cohorts,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, t, dt.datetime(2024, 1, day, hour)) for u, t, day, hour in rows],
        "user_id long, event_type string, ts timestamp",
    )


def test_funnel_requires_strict_order(spark):
    ev = _ev(spark, [
        # user 1 completes all three in order
        (1, "view", 1, 1), (1, "click", 1, 2), (1, "purchase", 1, 3),
        # user 2: click BEFORE view — click must not count
        (2, "click", 1, 1), (2, "view", 1, 2),
        # user 3: view only
        (3, "view", 1, 1),
        # user 4: purchase first, then view+click in order — purchase
        # must not count (no purchase after the click)
        (4, "purchase", 1, 1), (4, "view", 1, 2), (4, "click", 1, 3),
    ])
    out = {r.stage: (r.stage_idx, r.n_users) for r in funnel(
        ev, ["view", "click", "purchase"]).collect()}
    assert out == {
        "view": (0, 4),      # users 1,2,3,4 all viewed
        "click": (1, 2),     # users 1 and 4 clicked after viewing
        "purchase": (2, 1),  # only user 1
    }


def test_funnel_same_timestamp_does_not_complete_next_stage(spark):
    # strict > : a click at EXACTLY the view instant doesn't count
    ev = _ev(spark, [(1, "view", 1, 1), (1, "click", 1, 1)])
    out = {r.stage: r.n_users for r in funnel(ev, ["view", "click"]).collect()}
    assert out == {"view": 1, "click": 0}


def test_retention_cohorts_counts_offsets_and_cohort_size(spark):
    ev = _ev(spark, [
        # user 1: first on day 1, returns day 2 and day 4
        (1, "view", 1, 1), (1, "click", 2, 5), (1, "view", 4, 9),
        # user 2: first on day 1, never returns (two events same day)
        (2, "view", 1, 2), (2, "click", 1, 8),
        # user 3: first on day 2
        (3, "view", 2, 1),
    ])
    out = {(r.cohort_date, r.day_offset): r.n_active
           for r in retention_cohorts(ev).collect()}
    assert out == {
        ("2024-01-01", 0): 2,  # cohort size day-1
        ("2024-01-01", 1): 1,  # user 1 back on day 2
        ("2024-01-01", 3): 1,  # user 1 back on day 4
        ("2024-01-02", 0): 1,  # cohort size day-2
    }


def test_funnel_sink_late_stage0_cascades_and_replay_is_idempotent(
    spark, tmp_path
):
    """The reason the funnel sink keeps raw events: a LATE stage-0
    arrival must retroactively move t_0 and re-open the chain for
    later stages already seen. Batch 1 delivers click@2 then view@3
    (click doesn't count — it precedes the view); batch 2 delivers a
    late view@1, after which the click@2 qualifies. Replaying batch 2
    must change nothing (event_id dedup)."""
    import datetime as dt

    from sparkstreaming_realtime_spark.streaming.sinks import (
        funnel_sink,
        read_funnel,
    )

    def batch(rows):
        return spark.createDataFrame(
            [
                (eid, u, t, dt.datetime(2024, 1, 1, h))
                for eid, u, t, h in rows
            ],
            "event_id long, user_id long, event_type string,"
            " event_time timestamp",
        )

    state = str(tmp_path / "funnel_state")
    sink = funnel_sink(state, ["view", "click"])
    b1 = batch([(1, 7, "click", 2), (2, 7, "view", 3)])
    sink(b1, 0)
    counts = {
        r.stage: r.n_users
        for r in read_funnel(spark, state, ["view", "click"]).collect()
    }
    assert counts == {"view": 1, "click": 0}

    b2 = batch([(3, 7, "view", 1)])  # LATE: earlier than everything
    sink(b2, 1)
    counts = {
        r.stage: r.n_users
        for r in read_funnel(spark, state, ["view", "click"]).collect()
    }
    assert counts == {"view": 1, "click": 1}  # click@2 now qualifies

    sink(b2, 1)  # replay: event_id dedup must make this a no-op
    counts2 = {
        r.stage: r.n_users
        for r in read_funnel(spark, state, ["view", "click"]).collect()
    }
    assert counts2 == counts


def test_funnel_sink_untouched_users_carry_over(spark, tmp_path):
    import datetime as dt

    from sparkstreaming_realtime_spark.streaming.sinks import (
        funnel_sink,
        read_funnel,
    )

    def batch(rows):
        return spark.createDataFrame(
            [(eid, u, t, dt.datetime(2024, 1, 1, h)) for eid, u, t, h in rows],
            "event_id long, user_id long, event_type string,"
            " event_time timestamp",
        )

    state = str(tmp_path / "s2")
    sink = funnel_sink(state, ["view", "click"])
    sink(batch([(1, 1, "view", 1), (2, 1, "click", 2)]), 0)
    # batch 2 touches ONLY user 2 — user 1's completed chain persists
    sink(batch([(3, 2, "view", 5)]), 1)
    counts = {
        r.stage: r.n_users
        for r in read_funnel(spark, state, ["view", "click"]).collect()
    }
    assert counts == {"view": 2, "click": 1}


def test_funnel_sink_null_users_match_batch(spark, tmp_path):
    """A NULL user's cross-batch chain must round-trip streaming state
    exactly as the batch operator treats it — funnel_times groups NULL
    as one user at stage 0 (its stage-1+ joins drop NULL by
    column-name join semantics, in BOTH paths, so shared code keeps
    parity by construction)."""
    import datetime as dt

    from sparkstreaming_realtime_spark.operators.funnel import funnel
    from sparkstreaming_realtime_spark.streaming.sinks import (
        funnel_sink,
        read_funnel,
    )

    def batch(rows):
        return spark.createDataFrame(
            [(eid, u, t, dt.datetime(2024, 1, 1, h)) for eid, u, t, h in rows],
            "event_id long, user_id long, event_type string,"
            " event_time timestamp",
        )

    b1 = batch([(1, None, "view", 1), (2, 7, "view", 1)])
    b2 = batch([(3, None, "click", 2), (4, 7, "click", 2)])
    state = str(tmp_path / "nulls")
    sink = funnel_sink(state, ["view", "click"])
    sink(b1, 0)
    sink(b2, 1)
    got = {
        r.stage: r.n_users
        for r in read_funnel(spark, state, ["view", "click"]).collect()
    }
    want = {
        r.stage: r.n_users
        for r in funnel(
            b1.union(b2), ["view", "click"], ts_col="event_time"
        ).collect()
    }
    assert got == want  # streaming == batch, NULLs included


def test_transition_matrix_hand_computed_with_session_gap(spark):
    """a: view->click->view within gaps; the 40-min gap transition is
    EXCLUDED; user b contributes one view->view. Probabilities are
    row-normalized 4dp."""
    import datetime as dt

    from sparkstreaming_realtime_spark.operators.funnel import (
        transition_matrix,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def s(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        (1, "view", s(0), 1),
        (1, "click", s(5), 2),
        (1, "view", s(10), 3),
        (1, "purchase", s(50), 4),  # 40-min gap: dropped
        (2, "view", s(0), 5),
        (2, "view", s(1), 6),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long"
    )
    got = {
        (r.from_event, r.to_event): (r.n, r.prob)
        for r in transition_matrix(ev).collect()
    }
    assert got == {
        ("view", "click"): (1, 0.5),
        ("click", "view"): (1, 1.0),
        ("view", "view"): (1, 0.5),
    }


def test_transition_matrix_ties_break_by_order_col(spark):
    """Two events at the SAME timestamp order by event_id — the
    transition direction must be deterministic."""
    import datetime as dt

    from sparkstreaming_realtime_spark.operators.funnel import (
        transition_matrix,
    )

    t = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, "a", t, 2), (1, "b", t, 1)],
        "user_id long, event_type string, ts timestamp, event_id long",
    )
    got = [(r.from_event, r.to_event) for r in transition_matrix(ev).collect()]
    assert got == [("b", "a")]


def _attr(spark, orders, events, w=3600):
    from sparkstreaming_realtime_spark.operators.attribution import (
        linear_attribution,
    )

    o = spark.createDataFrame(
        orders, "order_id long, user_id long, ots timestamp, cents long"
    )
    e = spark.createDataFrame(
        events, "event_id long, user_id long, ts timestamp, event_type string"
    )
    return {
        r.channel: (r.attributed_cents, r.n_touches, r.n_orders)
        for r in linear_attribution(o, e, window_seconds=w).collect()
    }


def test_linear_attribution_hand_computed(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    orders = [
        (1, 7, m(0), 100),    # touches: ad(-30m), email(-5m) -> 50/50
        (2, 7, m(90), 101),   # touch: email(85m=5m before) -> all 101
        (3, 8, m(0), 40),     # no touches -> (direct)
    ]
    events = [
        (10, 7, m(-30), "ad"),
        (11, 7, m(-5), "email"),
        (12, 7, m(85), "email"),
        (13, 9, m(-1), "ad"),      # other user, never matches
        (14, 7, m(-70), "ad"),     # outside the 1h window of order 1
    ]
    got = _attr(spark, orders, events)
    assert got["ad"] == (50, 1, 1)
    # email: 50 from order1 (last touch of an even split) + 101
    assert got["email"] == (151, 2, 2)
    assert got["(direct)"] == (40, 0, 1)
    # reconciliation: attributed == total order cents
    assert sum(v[0] for v in got.values()) == 100 + 101 + 40


def test_linear_attribution_remainder_goes_to_last_touch(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    orders = [(1, 7, t0, 100)]
    events = [
        (10, 7, t0 - dt.timedelta(minutes=50), "a"),
        (11, 7, t0 - dt.timedelta(minutes=40), "b"),
        (12, 7, t0 - dt.timedelta(minutes=30), "c"),
    ]
    got = _attr(spark, orders, events)
    # 100 div 3 = 33 each; remainder 1 to the LAST touch (channel c)
    assert got["a"] == (33, 1, 1)
    assert got["b"] == (33, 1, 1)
    assert got["c"] == (34, 1, 1)


def test_linear_attribution_boundary_inclusive_exclusive(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    orders = [(1, 7, t0, 10)]
    events = [
        (10, 7, t0, "at_order_ts"),                       # included
        (11, 7, t0 - dt.timedelta(hours=1), "at_minus_w"),  # excluded
    ]
    got = _attr(spark, orders, events)
    assert got["at_order_ts"] == (10, 1, 1)
    assert "at_minus_w" not in got


def test_linear_attribution_subsecond_boundary(spark):
    """Both window bounds compare at full timestamp precision. A touch half a second INSIDE the lower bound is
    credited; half a second outside (either side) is not. The old
    second-truncated lower bound wrongly excluded the first case."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    orders = [(1, 7, t0, 10)]
    events = [
        (10, 7, t0 - dt.timedelta(seconds=3599.5), "just_inside"),
        (11, 7, t0 - dt.timedelta(seconds=3600.5), "just_outside"),
        (12, 7, t0 + dt.timedelta(seconds=0.5), "after_order"),
    ]
    got = _attr(spark, orders, events)
    assert got["just_inside"] == (10, 1, 1)
    assert "just_outside" not in got
    assert "after_order" not in got
