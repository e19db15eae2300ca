"""Registry bindings for the CDC split family (P10/P11/K4) and the
``dauRealtime`` serving endpoint (SURVEY §2.11).

Like the log-split family, the Spark side runs the real path
(synthesize Maxwell envelope → to_json → from_json → normalize →
route / snapshot) while the DuckDB oracle derives outputs directly
from the flat events table, so envelope handling is genuinely under
test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cdc
from ..operators.dau import dedup_first_daily
from ..functions.datetimes import hr_col
from .queries import _drain, _money_sum_sql, _stream_t, _t, register

#: synthesis mapping (keep in lockstep with _synthesize_cdc)
#: event_type → Maxwell type; user_id % 5 → table (4 → unknown table,
#: exercising the drop branch).
_TYPE_SQL = """CASE event_type
    WHEN 'signup' THEN 'bootstrap-insert' WHEN 'click' THEN 'insert'
    WHEN 'view' THEN 'update' WHEN 'purchase' THEN 'update'
    WHEN 'error' THEN 'delete' END"""
_TABLE_SQL = """CASE user_id % 5
    WHEN 0 THEN 'order_info' WHEN 1 THEN 'order_detail'
    WHEN 2 THEN 'user_info' WHEN 3 THEN 'base_province'
    ELSE 'comment_info' END"""
_OP_SQL = """CASE event_type
    WHEN 'signup' THEN 'I' WHEN 'click' THEN 'I'
    WHEN 'view' THEN 'U' WHEN 'purchase' THEN 'U'
    WHEN 'error' THEN 'D' END"""
_DATA_SQL = """'{"id":' || (user_id % 100) || ',"v":' || floor("value" * 100)::BIGINT || '}'"""


def _synthesize_cdc(events: DataFrame) -> DataFrame:
    """Deterministic ODS_BASE_DB (Maxwell) records from events, with
    (ts, event_id) carried along as the write order."""
    uid = F.col("user_id")
    mtype = (
        F.when(F.col("event_type") == "signup", "bootstrap-insert")
        .when(F.col("event_type") == "click", "insert")
        .when(F.col("event_type").isin("view", "purchase"), "update")
        .when(F.col("event_type") == "error", "delete")
    )
    table = (
        F.when(uid % 5 == 0, "order_info")
        .when(uid % 5 == 1, "order_detail")
        .when(uid % 5 == 2, "user_info")
        .when(uid % 5 == 3, "base_province")
        .otherwise("comment_info")
    )
    data = F.struct(
        (uid % 100).alias("id"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
    )
    envelope = F.struct(
        mtype.alias("type"), table.alias("table"),
        F.to_json(data).alias("data"),
    )
    return events.select(
        F.to_json(envelope).alias("value"),
        F.unix_millis("ts").alias("ts_ms"),
        F.col("event_id"),
    )


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the synthesized envelope, carrying the (ts_ms, event_id)
    write order alongside — the streaming analog is Kafka's
    (timestamp, offset).

    Same two plan moves as the log-split family (see
    ``operators/log_split.py:parse_ods_log``): rebalance the
    single-file scan to core count before the CPU-bound JSON work, and
    pin exactly ONE ``from_json`` per row with an ``explode(array())``
    barrier — downstream routing filters would otherwise push through
    the projection and re-parse the envelope per predicate."""
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    raw = _synthesize_cdc(ev)
    from ..schemas import ODS_BASE_DB_SCHEMA

    return raw.select(
        F.explode(F.array(F.from_json("value", ODS_BASE_DB_SCHEMA))).alias("j"),
        "ts_ms",
        "event_id",
    ).select(
        F.col("j.type").alias("type"),
        F.col("j.table").alias("table"),
        F.col("j.data").alias("data"),
        "ts_ms",
        "event_id",
    )


@register(
    "cdc_route_counts",
    oracle=f"""
    SELECT route, count(*)::BIGINT AS n FROM (
      SELECT CASE
               WHEN tbl IN ('order_info', 'order_detail')
                 THEN 'kafka:DWD_' || upper(tbl) || '_' || op
               WHEN tbl IN ('user_info', 'base_province')
                 THEN 'redis:DIM:' || upper(tbl)
               ELSE 'drop' END AS route
      FROM (SELECT {_TABLE_SQL} AS tbl, {_OP_SQL} AS op FROM events)
      WHERE op IS NOT NULL
    ) GROUP BY route
    """,
    tags=("P10", "P11"),
)
def cdc_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10+P11 for real: op normalization then fact/dim/drop routing
    with per-topic labels (OdsBaseDbApp.scala:100-141)."""
    df = cdc.normalize_op(_parsed(spark, sf_dir))
    return (
        df.select(cdc.route_label("table", "op").alias("route"))
        .groupBy("route")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


@register(
    "cdc_fact_rows",
    oracle=f"""
    SELECT 'kafka:DWD_' || upper(tbl) || '_' || op AS topic,
           (user_id % 100)::VARCHAR AS key,
           {_DATA_SQL} AS value,
           tbl AS "table", op
    FROM (SELECT *, {_TABLE_SQL} AS tbl, {_OP_SQL} AS op FROM events)
    WHERE op IS NOT NULL AND tbl IN ('order_info', 'order_detail')
    """,
    tags=("P11", "K1", "K2"),
)
def cdc_fact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact branch in Kafka sink shape: (topic, key, value) — keyed
    send (K2) so one entity's changes stay ordered within a
    partition."""
    return cdc.route_facts(cdc.normalize_op(_parsed(spark, sf_dir)))


@register(
    "cdc_dim_snapshot",
    oracle=f"""
    SELECT "table", id, data FROM (
      SELECT tbl AS "table",
             (user_id % 100)::VARCHAR AS id,
             {_DATA_SQL} AS data,
             op,
             row_number() OVER (
               PARTITION BY tbl, user_id % 100
               ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      FROM (SELECT *, {_TABLE_SQL} AS tbl, {_OP_SQL} AS op FROM events)
      WHERE op IS NOT NULL AND tbl IN ('user_info', 'base_province')
    ) WHERE rn = 1 AND op <> 'D'
    """,
    tags=("K4",),
)
def cdc_dim_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4: last-write-wins dim snapshot via max_by — one shuffle with
    map-side partial agg (the oracle uses a rank window; the engine
    keeps max_by, which sorts no key's rows). Deletes
    tombstone their key."""
    dims = cdc.route_dims(cdc.normalize_op(_parsed(spark, sf_dir)))
    return cdc.dim_snapshot(dims, ord_cols=("ts_ms", "event_id"))


@register(
    "cdc_scd2_history",
    oracle=f"""
    SELECT "table", id, data, version, valid_from, valid_to, is_current
    FROM (
      SELECT tbl AS "table",
             (user_id % 100)::VARCHAR AS id,
             {_DATA_SQL} AS data,
             op,
             row_number() OVER (
               PARTITION BY tbl, user_id % 100
               ORDER BY epoch_ms(ts), event_id)::INT AS version,
             epoch_ms(ts) AS valid_from,
             lead(epoch_ms(ts)) OVER (
               PARTITION BY tbl, user_id % 100
               ORDER BY epoch_ms(ts), event_id) AS valid_to,
             (lead(epoch_ms(ts)) OVER (
               PARTITION BY tbl, user_id % 100
               ORDER BY epoch_ms(ts), event_id) IS NULL)::INT AS is_current
      FROM (SELECT *, {_TABLE_SQL} AS tbl, {_OP_SQL} AS op FROM events)
      WHERE op IS NOT NULL AND tbl IN ('user_info', 'base_province')
    ) WHERE op <> 'D'
    """,
    tags=("K4", "warehouse"),
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history (operators/cdc.py:scd2_history):
    every dim version with its [valid_from, valid_to) interval —
    what the reference's last-write-wins Redis store throws away, and
    what an as-of fact join needs. One entity-keyed window shuffle;
    a delete closes the version it follows and emits no row."""
    dims = cdc.route_dims(cdc.normalize_op(_parsed(spark, sf_dir)))
    return cdc.scd2_history(dims, ord_cols=("ts_ms", "event_id"))


@register(
    "streaming_cdc_dim_parity",
    oracle=f"""
    SELECT "table", id, data FROM (
      SELECT tbl AS "table",
             (user_id % 100)::VARCHAR AS id,
             {_DATA_SQL} AS data,
             op,
             row_number() OVER (
               PARTITION BY tbl, user_id % 100
               ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
      FROM (SELECT *, {_TABLE_SQL} AS tbl, {_OP_SQL} AS op FROM events)
      WHERE op IS NOT NULL AND tbl IN ('user_info', 'base_province')
    ) WHERE rn = 1 AND op <> 'D'
    """,
    tags=("K4", "T5", "streaming"),
)
def streaming_cdc_dim_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4's STREAMING side end-to-end under the hard oracle: the
    Maxwell dim branch run through real Structured Streaming (file
    source → synthesize → parse → normalize → route_dims →
    ``dim_upsert_sink`` foreachBatch, AvailableNow) maintaining the
    last-write-wins snapshot across micro-batches — the engine's
    ``jedis.set("DIM:<TABLE>:<id>")`` loop (OdsBaseDbApp.scala:128-140)
    as per-batch writes folded to the newest write per key instead of
    point writes. The read snapshot must match the batch oracle exactly;
    cross-batch merge and replay idempotency are additionally pinned
    by tests/test_streaming.py."""
    from ..materialize import engine_tmpdir
    from ..streaming.sinks import dim_upsert_sink, read_dim_snapshot

    snap = engine_tmpdir("dim_parity_") + "/snapshot"
    _drain(_streamed_dims(spark, sf_dir), dim_upsert_sink(snap), "dimp")
    return read_dim_snapshot(spark, snap).select("table", "id", "data")


def _streamed_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Maxwell dim branch over the streamed events table: synthesize
    the CDC envelope, parse, normalize the op and route the dim rows."""
    from ..schemas import ODS_BASE_DB_SCHEMA
    from ..sources.files import events_with_ts

    _t(spark, sf_dir, "events")  # sets the temporal read confs
    env = _synthesize_cdc(events_with_ts(_stream_t(spark, sf_dir, "events")))
    parsed = env.select(
        F.from_json("value", ODS_BASE_DB_SCHEMA).alias("j"),
        "ts_ms",
        "event_id",
    ).select(
        F.col("j.type").alias("type"),
        F.col("j.table").alias("table"),
        F.col("j.data").alias("data"),
        "ts_ms",
        "event_id",
    )
    return cdc.route_dims(cdc.normalize_op(parsed))


@register(
    "cdc_scd2_asof_enrich",
    oracle=f"""
    WITH hist AS (
      SELECT id, data, version, valid_from, valid_to FROM (
        SELECT (user_id % 100)::VARCHAR AS id,
               {_DATA_SQL} AS data,
               op,
               row_number() OVER (
                 PARTITION BY user_id % 100
                 ORDER BY epoch_ms(ts), event_id)::INT AS version,
               epoch_ms(ts) AS valid_from,
               lead(epoch_ms(ts)) OVER (
                 PARTITION BY user_id % 100
                 ORDER BY epoch_ms(ts), event_id) AS valid_to
        FROM (SELECT *, {_TABLE_SQL} AS tbl, {_OP_SQL} AS op FROM events)
        WHERE op IS NOT NULL AND tbl = 'user_info'
      ) WHERE op <> 'D')
    SELECT e.event_id, (e.user_id % 100)::VARCHAR AS id,
           epoch_ms(e.ts) AS ts_ms,
           h.data AS dim_data, h.version AS dim_version
    FROM events e LEFT JOIN hist h
      ON h.id = (e.user_id % 100)::VARCHAR
     AND h.valid_from <= epoch_ms(e.ts)
     AND (h.valid_to IS NULL OR epoch_ms(e.ts) < h.valid_to)
    WHERE e.user_id % 5 = 2
    """,
    tags=("K4", "J4", "warehouse"),
)
def cdc_scd2_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 CONSUMPTION end-to-end: every event of a dim-covered user
    enriched with the dim VERSION VALID AT EVENT TIME — the temporal
    dim join the reference's last-write-wins Redis store cannot
    answer (it always serves the newest payload; OdsBaseDbApp.scala
    :128-140), and the reason scd2_history keeps intervals at all.

    Engine shape: ONE entity-keyed shuffle via the as-of
    union-and-carry window (operators/asof.py) — never an inequality
    range join (candidate explosion) or per-row subquery. The version
    payload rides as one packed struct so NULL fields (an open
    version's valid_to) can't cross-contaminate between carried
    columns; validity masks the carried version where the event falls
    after a delete. The oracle computes the same enrichment as a
    declarative interval join — at most one version matches by the
    non-overlap construction."""
    from ..operators.asof import as_of_join

    dims = cdc.route_dims(cdc.normalize_op(_parsed(spark, sf_dir)))
    hist = cdc.scd2_history(
        dims.filter(F.col("table") == "user_info"),
        ord_cols=("ts_ms", "event_id"),
    )
    # one version per (id, valid_from): equal-timestamp writes keep
    # only the effective (max-version) row — its zero-length
    # predecessor can never satisfy ts < valid_to anyway, and the
    # as-of carry needs unique (key, ts) right rows
    hist1 = (
        hist.groupBy("id", "valid_from")
        .agg(
            F.max_by(
                F.struct("data", "version", "valid_to"), F.col("version")
            ).alias("dim_v")
        )
    )
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 2)
    facts = ev.select(
        "event_id",
        (F.col("user_id") % 100).cast("string").alias("id"),
        F.unix_millis("ts").alias("ts_ms"),
    )
    joined = as_of_join(
        facts,
        hist1.select("id", "valid_from", "dim_v"),
        key="id",
        left_ts="ts_ms",
        right_ts="valid_from",
        payload_cols=("dim_v",),
    )
    valid = F.col("dim_v").isNotNull() & (
        F.col("dim_v.valid_to").isNull()
        | (F.col("ts_ms") < F.col("dim_v.valid_to"))
    )
    return joined.select(
        "event_id",
        "id",
        "ts_ms",
        F.when(valid, F.col("dim_v.data")).alias("dim_data"),
        F.when(valid, F.col("dim_v.version")).alias("dim_version"),
    )


@register(
    "streaming_scd2_parity",
    oracle=f"""
    SELECT "table", id, data, version, valid_from, valid_to, is_current
    FROM (
      SELECT tbl AS "table",
             (user_id % 100)::VARCHAR AS id,
             {_DATA_SQL} AS data,
             op,
             row_number() OVER (
               PARTITION BY tbl, user_id % 100
               ORDER BY epoch_ms(ts), event_id)::INT AS version,
             epoch_ms(ts) AS valid_from,
             lead(epoch_ms(ts)) OVER (
               PARTITION BY tbl, user_id % 100
               ORDER BY epoch_ms(ts), event_id) AS valid_to,
             (lead(epoch_ms(ts)) OVER (
               PARTITION BY tbl, user_id % 100
               ORDER BY epoch_ms(ts), event_id) IS NULL)::INT AS is_current
      FROM (SELECT *, {_TABLE_SQL} AS tbl, {_OP_SQL} AS op FROM events)
      WHERE op IS NOT NULL AND tbl IN ('user_info', 'base_province')
    ) WHERE op <> 'D'
    """,
    tags=("K4", "warehouse", "streaming"),
)
def streaming_scd2_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2's STREAMING side end-to-end under the batch oracle: the
    Maxwell dim branch through real Structured Streaming into
    ``streaming/sinks.py:scd2_sink`` — each batch lands its writes in
    the sink's store, and the read runs the one-shot ``scd2_history``
    over the deduped writes; the history must equal the batch
    ``cdc_scd2_history`` exactly. Cross-batch interval closing
    and replay idempotency are additionally pinned by
    tests/test_streaming.py."""
    from ..materialize import engine_tmpdir
    from ..streaming.sinks import read_scd2, scd2_sink

    hist = engine_tmpdir("scd2_parity_") + "/history"
    _drain(_streamed_dims(spark, sf_dir), scd2_sink(hist), "scd2p")
    return read_scd2(spark, hist)


_TD = "2024-01-15"
_YD = "2024-01-14"


@register(
    "dau_realtime_endpoint",
    oracle=f"""
    WITH firsts AS (
      SELECT dt, user_id, hr FROM (
        SELECT strftime(ts, '%Y-%m-%d') AS dt, user_id,
               strftime(ts, '%H') AS hr,
               row_number() OVER (
                 PARTITION BY strftime(ts, '%Y-%m-%d'), user_id
                 ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'view')
      WHERE rn = 1)
    SELECT 'dauTotal' AS metric, NULL::VARCHAR AS hr, count(*)::BIGINT AS ct
    FROM firsts WHERE dt = '{_TD}'
    UNION ALL
    SELECT 'dauTd' AS metric, hr, count(*)::BIGINT AS ct
    FROM firsts WHERE dt = '{_TD}' GROUP BY hr
    UNION ALL
    SELECT 'dauYd' AS metric, hr, count(*)::BIGINT AS ct
    FROM firsts WHERE dt = '{_YD}' GROUP BY hr
    """,
    tags=("A1", "A2", "F5", "endpoint"),
)
def dau_realtime_endpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``GET /dauRealtime?td=`` golden endpoint
    (PublishDaoImpl.java:104-176) as one oracle-checkable frame:
    total actives for td plus hour buckets for td and td-1, labeled by
    metric. Partition pruning on dt makes each leg a one-partition
    scan on a dt-partitioned warehouse layout."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    d = dedup_first_daily(ev, key="user_id", ts="ts", tiebreak="event_id")
    base = d.select("dt", "user_id", hr_col("ts", d).alias("hr"))
    # ONE scan for all three legs: a union of three filtered
    # aggregates re-executes the dedup window per branch (3 full
    # scans at 100 TB); ROLLUP(dt, hr) emits the hour rows AND the
    # per-day totals from a single aggregate, and the labels project
    # out of the grouping shape.
    rolled = (
        base.filter(F.col("dt").isin(_TD, _YD))
        .rollup("dt", "hr")
        .agg(F.count("*").cast("bigint").alias("ct"))
    )
    metric = (
        F.when(F.col("hr").isNull() & (F.col("dt") == _TD), "dauTotal")
        .when(F.col("dt") == _TD, "dauTd")
        .when(F.col("hr").isNotNull() & (F.col("dt") == _YD), "dauYd")
    )
    return (
        rolled.filter(F.col("dt").isNotNull())  # drop the grand total
        .withColumn("metric", metric)
        .filter(F.col("metric").isNotNull())  # drop yd's day total
        .select("metric", "hr", "ct")
    )


_AS_OF = "2024-06-30"


def _user_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized user_info dim (id, gender, birthday) from customer —
    deterministic modular derivations, so the oracle rebuilds it."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.select(
        k.alias("id"),
        F.when(k % 2 == 0, "F").otherwise("M").alias("gender"),
        F.make_date(
            F.lit(1970) + k % 40, F.lit(1) + k % 12, F.lit(1) + k % 28
        ).alias("birthday"),
    )


def _province_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized base_province dim from nation."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    return n.select(
        k.alias("id"),
        F.col("n_name").alias("name"),
        F.concat(F.lit("ISO-"), k.cast("string")).alias("iso_code"),
        F.concat(F.lit("CN-"), k.cast("string")).alias("iso_3166_2"),
        (F.lit(100) + k).cast("string").alias("area_code"),
    )


@register(
    "dau_enriched",
    oracle=f"""
    WITH firsts AS (
      SELECT dt, user_id FROM (
        SELECT strftime(ts, '%Y-%m-%d') AS dt, user_id,
               row_number() OVER (
                 PARTITION BY strftime(ts, '%Y-%m-%d'), user_id
                 ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'view')
      WHERE rn = 1),
    u AS (SELECT c_custkey AS id,
                 CASE WHEN c_custkey % 2 = 0 THEN 'F' ELSE 'M' END AS gender,
                 make_date((1970 + c_custkey % 40)::INT,
                           (1 + c_custkey % 12)::INT,
                           (1 + c_custkey % 28)::INT) AS birthday
          FROM customer),
    p AS (SELECT n_nationkey AS id, n_name AS name FROM nation)
    SELECT f.dt, f.user_id,
           u.gender AS user_gender,
           (year(DATE '{_AS_OF}') - year(u.birthday)
            - CASE WHEN month(DATE '{_AS_OF}') < month(u.birthday)
                     OR (month(DATE '{_AS_OF}') = month(u.birthday)
                         AND day(DATE '{_AS_OF}') < day(u.birthday))
                   THEN 1 ELSE 0 END)::INT AS user_age,
           p.name AS province_name
    FROM firsts f
    LEFT JOIN u ON f.user_id = u.id
    LEFT JOIN p ON f.user_id % 25 = p.id
    """,
    tags=("J4", "J5", "F4", "T2"),
)
def dau_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DAU pipeline row shape (DauInfo, DwdDauApp.scala:102-155):
    session-entry dedup → broadcast dim joins (user gender/age,
    province name) with the explicit as_of age (F4). The dims are
    broadcast hash joins — zero per-row lookups, the scalable
    replacement for the reference's per-row Redis GETs."""
    from ..operators.dau import enrich_dims

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    d = dedup_first_daily(ev, key="user_id", ts="ts", tiebreak="event_id")
    fact = d.select("dt", "user_id", (F.col("user_id") % 25).alias("province_id"))
    enriched = enrich_dims(
        fact,
        _user_dim(spark, sf_dir),
        _province_dim(spark, sf_dir),
        as_of=_AS_OF,
    )
    return enriched.select(
        "dt", "user_id", "user_gender", "user_age", "province_name"
    )


@register(
    "user_sessions",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, "value",
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
      SELECT user_id, ts, "value",
             sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, new_session
               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked)
    SELECT user_id,
           min(ts) AS session_start,
           count(*)::BIGINT AS n_events,
           {_money_sum_sql('"value"', 2)} AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
    """,
    tags=("T6", "P12", "extension"),
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user (30-minute inactivity gap) via
    Spark's native session_window (operators/dau.py:sessionize). The
    oracle derives the same sessions with the lag+cumsum islands
    technique — two independent formulations agreeing on every
    session boundary."""
    from ..operators.dau import sessionize

    return sessionize(_t(spark, sf_dir, "events"))


@register(
    "events_asof_last_order",
    oracle="""
    WITH o AS (
      SELECT o_custkey,
             (o_orderdate + INTERVAL 360 MONTH)::TIMESTAMP AS ots,
             max(o_orderkey) AS last_order_key
      FROM orders
      GROUP BY o_custkey, o_orderdate),
    e AS (SELECT event_id, user_id, ts FROM events)
    SELECT e.event_id, e.user_id, o.last_order_key,
           o.ots AS last_order_ts
    FROM e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.ots
    """,
    tags=("extension", "asof"),
)
def events_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each event picks up the user's
    most recent order at or before the event time. Orders are shifted
    +360 months into the event-time era and collapsed to one row per
    (customer, day) so the as-of target is unique. The oracle is
    DuckDB's NATIVE ``ASOF LEFT JOIN`` — a fully independent
    implementation agreeing row-for-row with the union-and-carry
    window composition."""
    from ..operators.asof import as_of_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_order_key"))
        .select(
            "o_custkey",
            F.add_months("o_orderdate", 360).cast("timestamp").alias("ots"),
            "last_order_key",
        )
        .withColumnRenamed("o_custkey", "user_id")
    )
    joined = as_of_join(
        ev, o, key="user_id", left_ts="ts", right_ts="ots",
        payload_cols=("last_order_key", "ots"),
    )
    return joined.select(
        "event_id", "user_id", "last_order_key",
        F.col("ots").alias("last_order_ts"),
    )


@register(
    "orders_events_range_join",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             o_custkey AS user_id,
             (o_orderdate + INTERVAL 360 MONTH)::TIMESTAMP AS ots
      FROM orders)
    SELECT o.o_orderkey,
           count(e.event_id)::BIGINT AS n_in_range
    FROM o LEFT JOIN events e
      ON e.user_id = o.user_id
     AND e.ts >= o.ots
     AND e.ts < o.ots + INTERVAL 7 DAY
    GROUP BY o.o_orderkey
    """,
    tags=("extension", "range-join"),
)
def orders_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators/range_join.py): events per order
    within 7 days after the (era-shifted) order time. The engine side
    is a pure equi-join on (key, time-bucket) with a ≤2× candidate
    factor; the oracle is DuckDB's planner running the plain
    inequality join — independent implementations, same counts."""
    from ..operators.range_join import range_join_count

    o = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("user_id"),
            F.add_months("o_orderdate", 360).cast("timestamp").alias("ots"),
        )
    )
    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    counted = range_join_count(
        o, ev, key="user_id", left_ts="ots", right_ts="ts",
        window_seconds=7 * 86400,
    )
    return counted.select("o_orderkey", "n_in_range")
