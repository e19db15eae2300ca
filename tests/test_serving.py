"""HTTP serving layer: the two reference REST endpoints
(publishController.java:26-47) served over the warehouse by the
oracle-checked engine plans — start a real server, curl it, compare
JSON against the registry frames."""

from __future__ import annotations

import json
import urllib.request

import pytest

from sparkstreaming_realtime_spark.serving import serve

TD = "2024-01-15"  # the registry endpoint queries' pinned day


@pytest.fixture(scope="module")
def endpoint(spark, sf_dir):
    srv, thread = serve(spark, sf_dir, port=0)
    port = srv.server_address[1]
    yield f"http://127.0.0.1:{port}"
    srv.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as resp:
        return resp.status, json.loads(resp.read())


def test_dau_realtime_endpoint_matches_registry(endpoint, spark, sf_dir):
    from sparkstreaming_realtime_spark.plans import REGISTRY

    status, got = _get(f"{endpoint}/dauRealtime?td={TD}")
    assert status == 200
    frame = REGISTRY["dau_realtime_endpoint"].fn(spark, sf_dir).collect()
    want_total = next(r["ct"] for r in frame if r["metric"] == "dauTotal")
    want_td = {r["hr"]: r["ct"] for r in frame if r["metric"] == "dauTd"}
    want_yd = {r["hr"]: r["ct"] for r in frame if r["metric"] == "dauYd"}
    assert got["dauTotal"] == want_total
    assert got["dauTd"] == want_td
    assert got["dauYd"] == want_yd
    assert got["dauTotal"] == sum(got["dauTd"].values())


def test_stats_by_item_endpoint_matches_registry(endpoint, spark, sf_dir):
    from sparkstreaming_realtime_spark.plans import REGISTRY

    status, got = _get(f"{endpoint}/statsByItem?itemName=widget&t=segment")
    assert status == 200
    frame = REGISTRY["stats_by_item_segment"].fn(spark, sf_dir).collect()
    want = sorted(
        (r["segment"], r["sum_amount"]) for r in frame
    )
    assert [(d["name"], d["amount"]) for d in got] == want
    # the alternate grouping axis (the reference's t=age/gender switch)
    status, bands = _get(f"{endpoint}/statsByItem?itemName=widget&t=band")
    assert status == 200
    assert {d["name"] for d in bands} <= {"low", "mid", "high"}
    # both groupings partition the same joined rows: totals agree
    assert round(sum(d["amount"] for d in bands), 2) == round(
        sum(d["amount"] for d in got), 2
    )


def test_dau_endpoint_served_from_streaming_store(spark, sf_dir, tmp_path):
    """The reference's architecture end-to-end: the streaming dedup
    pipeline maintains the DAU store (DwdDauApp → ES index) and the
    controller serves ONLY that store (PublishDaoImpl). Run the real
    pipeline (file source → watermarked dropDuplicates → idempotent
    sink), point the server at the store, and check the served
    day-level counts against the batch fact scan. Which physical row
    wins per (mid, dt) is arrival-order dependent, so hour buckets
    are checked at the membership-deterministic level: they must sum
    to the day totals."""
    import uuid

    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.serving import serve
    from sparkstreaming_realtime_spark.sources.files import (
        events_with_ts,
        read_table,
    )
    from sparkstreaming_realtime_spark.streaming import (
        idempotent_parquet_sink,
        streaming_dau_dedup,
    )
    from sparkstreaming_realtime_spark.streaming.pipelines import (
        run_available_now,
    )

    batch_ev = read_table(spark, sf_dir, "events")  # sets temporal confs
    raw = (
        spark.readStream.schema(
            spark.read.parquet(f"{sf_dir}/events.parquet").schema
        )
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    page_log = events_with_ts(
        raw.filter(F.col("event_type") == "view")
    ).select(
        F.col("user_id").cast("string").alias("mid"),
        F.lit(None).cast("string").alias("last_page_id"),
        F.col("ts").cast("timestamp").alias("event_time"),
    )
    store = str(tmp_path / "dau_store")
    q = run_available_now(
        streaming_dau_dedup(page_log),
        idempotent_parquet_sink(store, key_cols=("mid", "dt"),
                                partition_col="dt"),
        str(tmp_path / "ckpt"),
        query_name="dau_store_" + uuid.uuid4().hex[:8],
    )
    q.awaitTermination(180)
    assert not q.isActive

    srv, _ = serve(spark, sf_dir, port=0, dau_store=store)
    try:
        port = srv.server_address[1]
        _, got = _get(f"http://127.0.0.1:{port}/dauRealtime?td={TD}")
    finally:
        srv.shutdown()

    days = {
        r["dt"]: r["n"]
        for r in batch_ev.filter(F.col("event_type") == "view")
        .select(F.date_format("ts", "yyyy-MM-dd").alias("dt"), "user_id")
        .distinct()
        .groupBy("dt")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    yd = "2024-01-14"
    assert got["dauTotal"] == days[TD]
    assert sum(got["dauTd"].values()) == days[TD]
    assert sum(got["dauYd"].values()) == days.get(yd, 0)


def test_dau_store_cache_serves_and_invalidates(spark, tmp_path):
    """The store-backed endpoint caches the folded response per store
    snapshot (the reference's controller-reads-the-index economics —
    no compute job per request): repeat requests serve from the
    cache, and a new micro-batch landing in the store invalidates it
    so the next request sees the new data."""
    import datetime as dt_

    from sparkstreaming_realtime_spark import serving
    from sparkstreaming_realtime_spark.streaming.sinks import (
        idempotent_parquet_sink,
    )

    store = str(tmp_path / "dau_store")
    sink = idempotent_parquet_sink(
        store, key_cols=("mid", "dt"), partition_col="dt"
    )

    def mk(rows):
        return spark.createDataFrame(
            [(m, TD, dt_.datetime(2024, 1, 15, h)) for m, h in rows],
            "mid string, dt string, event_time timestamp",
        )

    sink(mk([("u1", 10), ("u2", 11)]), 0)
    serving._DAU_STORE_CACHE.clear()
    srv, _ = serve(spark, str(tmp_path), port=0, dau_store=store)
    try:
        port = srv.server_address[1]
        url = f"http://127.0.0.1:{port}/dauRealtime?td={TD}"
        _, got1 = _get(url)
        assert got1["dauTotal"] == 2
        assert len(serving._DAU_STORE_CACHE) == 1  # folded once
        _, got2 = _get(url)  # cache hit: same snapshot, same day
        assert got2 == got1
        assert len(serving._DAU_STORE_CACHE) == 1
        # a new batch lands -> new snapshot -> next request refolds
        sink(mk([("u3", 12)]), 1)
        _, got3 = _get(url)
        assert got3["dauTotal"] == 3
        assert got3["dauTd"]["12"] == 1
        assert len(serving._DAU_STORE_CACHE) == 2  # old snapshot entry kept
        # an in-place replay of committed batch 1 with other rows is a
        # new snapshot too: the next request serves the replayed rows
        sink(mk([("u4", 13), ("u5", 13)]), 1)
        _, got4 = _get(url)
        assert got4["dauTotal"] == 4
        assert got4["dauTd"] == {"10": 1, "11": 1, "13": 2}
    finally:
        srv.shutdown()


def test_dau_store_cache_is_bounded(spark, tmp_path):
    """The response cache cannot grow without bound over a long-lived
    server: at the cap it clears and keeps serving correctly."""
    from sparkstreaming_realtime_spark import serving

    serving._DAU_STORE_CACHE.clear()
    try:
        for i in range(serving._DAU_STORE_CACHE_MAX):
            serving._DAU_STORE_CACHE[("p", ((("batch=0", i, i),),), "d")] = {
                "dauTotal": i
            }
        assert len(serving._DAU_STORE_CACHE) == serving._DAU_STORE_CACHE_MAX
        # the insert path (dau_realtime_cached) clears at the cap and
        # re-seeds with the fresh fold
        import datetime as dt_

        from sparkstreaming_realtime_spark.streaming.sinks import (
            idempotent_parquet_sink,
        )

        store = str(tmp_path / "tiny_store")
        idempotent_parquet_sink(
            store, key_cols=("mid", "dt"), partition_col="dt"
        )(
            spark.createDataFrame(
                [("u1", TD, dt_.datetime(2024, 1, 15, 9))],
                "mid string, dt string, event_time timestamp",
            ),
            0,
        )
        got = serving.dau_realtime_cached(spark, store, TD)
        assert got["dauTotal"] == 1
        assert len(serving._DAU_STORE_CACHE) == 1  # cleared, re-seeded
    finally:
        serving._DAU_STORE_CACHE.clear()


def test_stats_by_item_store_serves_and_invalidates(spark, tmp_path):
    """/statsByItem served from the streaming-maintained rollup store:
    the match-AND and grouping apply at read time over the merged
    cents partials, repeat requests hit the snapshot-keyed cache, and
    a new micro-batch invalidates it. The cents fold reassembles
    money_sum's presentation exactly."""
    from sparkstreaming_realtime_spark import serving
    from sparkstreaming_realtime_spark.streaming.sinks import (
        rollup_sum_sink,
    )

    store = str(tmp_path / "item_store")
    sink = rollup_sum_sink(
        store, key_cols=serving.ITEM_STATS_KEYS, value_col="cents"
    )
    schema = (
        "p_partkey long, p_name string, segment string, band string,"
        " cents long"
    )
    sink(
        spark.createDataFrame(
            [
                (1, "small widget box", "AUTO", "low", 1000),
                (2, "plain gadget", "BUILD", "mid", 500),
            ],
            schema,
        ),
        0,
    )
    sink(
        spark.createDataFrame(
            [(1, "small widget box", "AUTO", "low", 250)], schema
        ),
        1,
    )
    serving._ITEM_STORE_CACHE.clear()
    srv, _ = serve(spark, str(tmp_path), port=0, item_store=store)
    try:
        port = srv.server_address[1]
        url = f"http://127.0.0.1:{port}/statsByItem?itemName=widget"
        _, got1 = _get(url)
        # cross-batch cents merged: 1000 + 250 = $12.50, gadget filtered
        assert got1 == [{"name": "AUTO", "amount": 12.5}]
        assert len(serving._ITEM_STORE_CACHE) == 1
        _, got2 = _get(url)  # cache hit
        assert got2 == got1 and len(serving._ITEM_STORE_CACHE) == 1
        # the band grouping serves from the SAME query-agnostic store
        _, band = _get(url + "&t=band")
        assert band == [{"name": "low", "amount": 12.5}]
        # a new batch lands -> new snapshot -> next request refolds
        sink(
            spark.createDataFrame(
                [(3, "giant widget", "AUTO", "high", 100)], schema
            ),
            2,
        )
        _, got3 = _get(url)
        assert got3 == [{"name": "AUTO", "amount": 13.5}]
    finally:
        srv.shutdown()
        serving._ITEM_STORE_CACHE.clear()


def test_endpoint_errors_are_4xx_not_500(endpoint):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{endpoint}/dauRealtime")  # missing td
    assert e.value.code == 400
    # td must be yyyy-MM-dd; yesterday is computed without Spark
    for td in ("2024-13-40", "x"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(f"{endpoint}/dauRealtime?td={td}")
        assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{endpoint}/statsByItem?itemName=w&t=nope")
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{endpoint}/nosuch")
    assert e.value.code == 404


def test_retention_and_bm25_reads_cached_and_invalidated(spark, tmp_path):
    """The retention-matrix and BM25 analytics reads ride the same
    snapshot-keyed cache as the HTTP endpoints: repeated reads of an
    unchanged store never re-fold (pinned by a fold-counting wrapper),
    and a new micro-batch landing starts a new key, so the next read
    refolds."""
    from sparkstreaming_realtime_spark import serving
    from sparkstreaming_realtime_spark.streaming import sinks as sk

    # retention store: two users, day-0 signup, day-1 return for one
    ev = "user_id long, event_time timestamp"

    def batch(rows):
        return spark.createDataFrame(rows, ev)

    import datetime as dt

    d0 = dt.datetime(2023, 1, 2, 10, 0, 0)
    d1 = d0 + dt.timedelta(days=1)
    store = str(tmp_path / "retention")
    sink = sk.retention_sink(store)
    sink(batch([(1, d0), (2, d0)]), 0)
    sink(batch([(1, d1)]), 1)

    folds = {"n": 0}
    real = sk.read_retention

    def counting(spark_, path):
        folds["n"] += 1
        return real(spark_, path)

    serving._RETENTION_STORE_CACHE.clear()
    import unittest.mock as mock

    with mock.patch.object(sk, "read_retention", counting):
        got1 = serving.retention_matrix_cached(spark, store)
        got2 = serving.retention_matrix_cached(spark, store)
        assert got1 == got2 and folds["n"] == 1  # second read: dict hit
        assert {(r["day_offset"], r["n_active"]) for r in got1} == {
            (0, 2), (1, 1),
        }
        sink(batch([(2, d1)]), 2)  # new batch -> new snapshot
        got3 = serving.retention_matrix_cached(spark, store)
        assert folds["n"] == 2  # refolded
        assert {(r["day_offset"], r["n_active"]) for r in got3} == {
            (0, 2), (1, 2),
        }
    serving._RETENTION_STORE_CACHE.clear()

    # bm25: cache keyed by normalized term set
    docs = "doc_id long, text string"
    bstore = str(tmp_path / "bm25")
    bsink = sk.bm25_index_sink(bstore)
    bsink(
        spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "alpha alpha delta")], docs
        ),
        0,
    )
    serving._BM25_STORE_CACHE.clear()
    r1 = serving.bm25_search_cached(spark, bstore, ["Alpha", "beta"], k=5)
    # same terms, different case/order -> same cache entry
    r2 = serving.bm25_search_cached(spark, bstore, ["beta", "alpha"], k=5)
    assert r1 == r2 and len(serving._BM25_STORE_CACHE) == 1
    assert r1[0]["doc_id"] == 1  # doc 1 matches both terms
    serving._BM25_STORE_CACHE.clear()


# --- the store folds: parity with Spark, no job per request, races ----------

#: p_names for the item store parity: mixed case, punctuation, ``_``,
#: non-ASCII letters and digits, leading/trailing spaces, a null
_PARITY_NAMES = [
    "Small WIDGET box",
    "widget-box, deluxe!",
    "widget_box",
    "  Widget  ",
    "Café widget №5",
    "grüne Widget 2000",
    "Über-widget2000",
    "naïve box",
    "١٢٣ widget",
    "ｗｉｄｇｅｔ ｂｏｘ",
    "gadget",
    None,
]
_PARITY_QUERIES = [
    "widget", "Widget box", "box-widget", "café", "ÜBER", "2000",
    "widget2000", "١٢٣", "ｗｉｄｇｅｔ", "", "!!!", "nomatch",
]
_ITEM_SCHEMA = (
    "p_partkey long, p_name string, segment string, band string, cents long"
)
_DAU_SCHEMA = "mid string, dt string, event_time timestamp"


def _item_rows(batch: int) -> list[tuple]:
    segs = ["AUTO", "BUILD", None]
    bands = ["low", "mid", "high"]
    return [
        (k, name, segs[(k + batch) % 3], bands[(k * 7 + batch) % 3],
         None if (k + batch) % 5 == 4 else 100 * k + 7 * batch + 1)
        for k, name in enumerate(_PARITY_NAMES)
    ]


def _dau_rows(batch: int, n: int = 12) -> list[tuple]:
    import datetime as dt_

    base = dt_.datetime(2024, 1, 14, 0, 30)
    return [
        (
            f"b{batch}_u{i}",
            ("2024-01-14", "2024-01-15", "2024-01-16")[i % 3],
            None if i == 5 else base + dt_.timedelta(hours=5 * i + batch),
        )
        for i in range(n)
    ]


def _as_json(body):
    """``body`` as it reads back from an HTTP response (a null hour
    key becomes ``"null"``)."""
    return json.loads(json.dumps(body))


def _spark_dau(spark, store: str, td: str) -> dict:
    """The /dauRealtime body as a Spark groupBy over read_sink."""
    import datetime as dt_

    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.streaming.sinks import read_sink

    yd = (dt_.date.fromisoformat(td) - dt_.timedelta(days=1)).isoformat()
    rows = (
        read_sink(spark, store)
        .select(
            F.col("dt").cast("string").alias("dt"),
            F.date_format("event_time", "HH").alias("hr"),
        )
        .filter(F.col("dt").isin(td, yd))
        .groupBy("dt", "hr")
        .agg(F.count("*").alias("ct"))
        .collect()
    )
    td_hr = {r["hr"]: r["ct"] for r in rows if r["dt"] == td}
    return {
        "dauTotal": sum(td_hr.values()),
        "dauTd": td_hr,
        "dauYd": {r["hr"]: r["ct"] for r in rows if r["dt"] == yd},
    }


def _spark_items(spark, store: str, item_name: str, t: str) -> list[dict]:
    """The /statsByItem body as a Spark groupBy over read_rollup_sum."""
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_spark.functions.text import match_all_terms
    from sparkstreaming_realtime_spark.serving import ITEM_STATS_KEYS
    from sparkstreaming_realtime_spark.streaming.sinks import read_rollup_sum

    rows = (
        read_rollup_sum(spark, store, ITEM_STATS_KEYS, "cents")
        .filter(match_all_terms("p_name", item_name))
        .groupBy(F.col(t).alias("name"))
        .agg((F.sum("cents").cast("double") / 100.0).alias("amount"))
        .orderBy("name")
        .collect()
    )
    return [{"name": r["name"], "amount": r["amount"]} for r in rows]


def _build_stores(spark, root) -> tuple[str, str]:
    """A DAU store and an item store, each with a compacted segment
    (batches 0-1, ``compact_every=2``), a live tail (batches 2-3) and
    a replay of batch 3 with other rows."""
    from sparkstreaming_realtime_spark.serving import ITEM_STATS_KEYS
    from sparkstreaming_realtime_spark.streaming.sinks import (
        idempotent_parquet_sink,
        rollup_sum_sink,
    )
    from sparkstreaming_realtime_spark.streaming.store import load_manifest

    dau, item = str(root / "dau"), str(root / "item")
    dau_sink = idempotent_parquet_sink(
        dau, key_cols=("mid", "dt"), partition_col="dt", compact_every=2
    )
    item_sink = rollup_sum_sink(
        item, key_cols=ITEM_STATS_KEYS, value_col="cents", compact_every=2
    )
    for b in range(4):
        dau_sink(spark.createDataFrame(_dau_rows(b), _DAU_SCHEMA), b)
        item_sink(spark.createDataFrame(_item_rows(b), _ITEM_SCHEMA), b)
    dau_sink(spark.createDataFrame(_dau_rows(7, n=5), _DAU_SCHEMA), 3)
    item_sink(spark.createDataFrame(_item_rows(7), _ITEM_SCHEMA), 3)
    for path in (dau, item):
        assert load_manifest(path)["upto"] == 1
    return dau, item


def test_store_folds_match_spark(spark, tmp_path):
    """The pyarrow folds equal a Spark groupBy over read_sink /
    read_rollup_sum on a store with a compacted segment, a live tail
    and a replayed batch: every item query under both groupings, and
    the DAU hours under UTC and America/Los_Angeles."""
    from sparkstreaming_realtime_spark import serving

    dau, item = _build_stores(spark, tmp_path)
    for q in _PARITY_QUERIES:
        for t in ("segment", "band"):
            got = serving.stats_by_item_from_store(spark, item, q, t)
            assert got == _spark_items(spark, item, q, t), (q, t)
    assert serving.stats_by_item_from_store(spark, item, "widget", "band")

    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)
    try:
        for tz in ("UTC", "America/Los_Angeles"):
            spark.conf.set(key, tz)
            for td in ("2024-01-15", "2024-01-16"):
                got = serving.dau_realtime_from_store(spark, dau, td)
                assert got == _spark_dau(spark, dau, td), (tz, td)
                assert got["dauTotal"] > 0
    finally:
        spark.conf.set(key, saved)


def _jobs_since(spark, since: int) -> list[int]:
    """Ungrouped job ids above ``since``, read once the listener bus
    has caught up: a barrier job in a group of its own is submitted
    last, and the tracker lists it only after every earlier job."""
    import time
    import uuid

    sc = spark.sparkContext
    group = "barrier-" + uuid.uuid4().hex
    sc.setJobGroup(group, "listener bus barrier")
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 60
    while not tracker.getJobIdsForGroup(group) and time.time() < deadline:
        time.sleep(0.05)
    return sorted(j for j in tracker.getJobIdsForGroup() if j > since)


def test_store_requests_after_a_commit_launch_no_spark_job(spark, tmp_path):
    """After a commit, one request per key over HTTP serves the new
    data without launching a Spark job (counted through the status
    tracker, which does see the commit's own jobs)."""
    from sparkstreaming_realtime_spark import serving
    from sparkstreaming_realtime_spark.streaming.sinks import (
        idempotent_parquet_sink,
        rollup_sum_sink,
    )

    dau, item = _build_stores(spark, tmp_path)
    dau_sink = idempotent_parquet_sink(
        dau, key_cols=("mid", "dt"), partition_col="dt", compact_every=2
    )
    item_sink = rollup_sum_sink(
        item, key_cols=serving.ITEM_STATS_KEYS, value_col="cents",
        compact_every=2,
    )
    paths = [f"/dauRealtime?td={td}" for td in ("2024-01-15", "2024-01-16")]
    paths += [
        f"/statsByItem?itemName={q}&t={t}"
        for q in ("widget", "box") for t in ("segment", "band")
    ]
    srv, _ = serve(spark, str(tmp_path), port=0, dau_store=dau,
                   item_store=item)
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        before = {p: _get(base + p)[1] for p in paths}
        mark = max(_jobs_since(spark, -1), default=-1)
        dau_sink(spark.createDataFrame(_dau_rows(4), _DAU_SCHEMA), 4)
        item_sink(spark.createDataFrame(_item_rows(4), _ITEM_SCHEMA), 4)
        commit_jobs = _jobs_since(spark, mark)
        assert commit_jobs  # the counter sees jobs
        after = {p: _get(base + p)[1] for p in paths}
        assert _jobs_since(spark, max(commit_jobs)) == []
    finally:
        srv.shutdown()
    assert all(after[p] != before[p] for p in paths)
    for td in ("2024-01-15", "2024-01-16"):
        want = _as_json(_spark_dau(spark, dau, td))
        assert after[f"/dauRealtime?td={td}"] == want
    for q in ("widget", "box"):
        for t in ("segment", "band"):
            assert after[f"/statsByItem?itemName={q}&t={t}"] == _spark_items(
                spark, item, q, t
            )


def test_store_reads_racing_commits_see_pre_or_post(spark, tmp_path):
    """Requests racing a sink commit return the pre-commit or the
    post-commit body, never a mix: through HTTP (cached) and through
    the uncached fold, across a plain commit and a commit whose
    compaction publishes a new segment. A ``batch=<id>`` dir without
    its ``_SUCCESS`` marker is not served. The body cached after the
    commit is the post-commit one. More reader threads than cores and
    a short switch interval stress the shared partial cache."""
    import os
    import sys
    import threading

    from sparkstreaming_realtime_spark import serving
    from sparkstreaming_realtime_spark.streaming.sinks import (
        idempotent_parquet_sink,
    )
    from sparkstreaming_realtime_spark.streaming.store import (
        live_dirs,
        load_manifest,
    )

    td = "2024-01-15"
    dau = str(tmp_path / "dau")
    sink = idempotent_parquet_sink(
        dau, key_cols=("mid", "dt"), partition_col="dt", compact_every=2
    )
    sink(spark.createDataFrame(_dau_rows(0), _DAU_SCHEMA), 0)
    srv, _ = serve(spark, str(tmp_path), port=0, dau_store=dau)
    url = f"http://127.0.0.1:{srv.server_address[1]}/dauRealtime?td={td}"
    try:
        # batch 1 is a plain commit, batch 2 also compacts batches 0-1
        for b in (1, 2):
            pre = _as_json(_spark_dau(spark, dau, td))
            assert _get(url)[1] == pre
            seen, errors, done = [], [], threading.Event()

            def reader():
                try:
                    while not done.is_set():
                        seen.append(_get(url)[1])
                        seen.append(_as_json(
                            serving.dau_realtime_from_store(spark, dau, td)
                        ))
                except Exception as e:  # noqa: BLE001 — asserted below
                    errors.append(e)

            threads = [
                threading.Thread(target=reader)
                for _ in range(len(os.sched_getaffinity(0)) + 2)
            ]
            interval = sys.getswitchinterval()
            sys.setswitchinterval(1e-5)
            try:
                for th in threads:
                    th.start()
                sink(spark.createDataFrame(_dau_rows(b), _DAU_SCHEMA), b)
            finally:
                done.set()
                for th in threads:
                    th.join(120)
                sys.setswitchinterval(interval)
            assert not any(th.is_alive() for th in threads)
            assert not errors, errors
            post = _as_json(_spark_dau(spark, dau, td))
            assert post != pre and seen
            assert all(s in (pre, post) for s in seen), b
            assert _get(url)[1] == post
            key = (dau, (live_dirs(dau),), td)
            assert _as_json(serving._DAU_STORE_CACHE[key]) == post
        assert load_manifest(dau)["segments"][""] == ["seg=0"]

        # a batch dir whose marker is not written yet is not served
        sink(spark.createDataFrame(_dau_rows(3), _DAU_SCHEMA), 3)
        marker = os.path.join(dau, "batch=3", "_SUCCESS")
        os.rename(marker, marker + ".held")
        got = _get(url)[1]
        assert got == post
        assert _as_json(serving.dau_realtime_from_store(spark, dau, td)) == post
        os.rename(marker + ".held", marker)
        assert _get(url)[1] == _as_json(_spark_dau(spark, dau, td)) != post
    finally:
        srv.shutdown()
