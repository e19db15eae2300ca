"""DAU (daily-active-user) pipeline — the reference's ``DwdDauApp``
re-expressed as DataFrame transforms.

Reference flow (DwdDauApp.scala:39-187): Kafka page-log → parse →
session-entry filter (``last_page_id == null``, :69-71) → cross-batch
dedup against a Redis set ``DAU:<date>`` (:83-100) → per-row Redis dim
lookups (:102-155) → ES bulk write to a per-day index (:163-183).

Engine flow: ``filter(isNull) → first-per-(dt,key) dedup →
broadcast dim joins → derived cols → partitioned table``. The Redis
set becomes groupBy/dropDuplicates state (bounded by watermark in the
streaming binding — fixing the reference's never-expired set leak,
DwdDauApp.scala:79); the point lookups become one broadcast hash join
per dim, which is the scalable shape: 1000 executors do zero network
round-trips per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.datetimes import age_as_of, dt_col, hr_col
from ..functions.money import money_sum


def session_entries(page_log: DataFrame) -> DataFrame:
    """P12: keep page views that start a visit (DwdDauApp.scala:69-71)."""
    return page_log.filter(F.col("last_page_id").isNull())


def dedup_first_daily(
    df: DataFrame, key: str = "mid", ts: str = "ts", tiebreak: str | None = None
) -> DataFrame:
    """T2: cross-batch exact dedup, daily scope — keep the *first*
    record per (dt, key), like the reference's ``sadd``-wins semantics
    (DwdDauApp.scala:83-100), but deterministic via an explicit
    tiebreak column.

    ``tiebreak`` defaults to the key itself, which makes the result
    deterministic only when (dt, key, ts) is unique — pass a unique
    column (event id) whenever two records of one key can share a
    timestamp.

    Scale: one shuffle on (dt, key) — as a ``min_by`` AGGREGATION, not
    a rank window: partial aggregation runs map-side, so each map
    partition ships one candidate row per (dt, key) instead of every
    duplicate through the exchange (a row_number window gets no
    partial agg). State is a plain aggregation in batch; the
    streaming binding uses ``dropDuplicates`` + watermark
    (streaming/pipelines.py).
    """
    d = df.withColumn("dt", dt_col(ts, df))
    payload = F.struct(*[F.col(c) for c in d.columns])
    order = F.struct(F.col(ts), F.col(tiebreak or key))
    return (
        d.groupBy("dt", key)
        .agg(F.min_by(payload, order).alias("__first"))
        .select("__first.*")
    )


def enrich_dims(
    fact: DataFrame,
    user_dim: DataFrame,
    province_dim: DataFrame,
    as_of: str,
    user_key: str = "user_id",
    province_key: str = "province_id",
) -> DataFrame:
    """J4+J5: dimension enrichment as hash joins, replacing per-row
    Redis GETs (DwdDauApp.scala:115-143, DwdOrderApp.scala:102-133).

    ``as_of`` pins the age computation (F4) — the reference uses wall
    clock, which is nondeterministic (DwdDauApp.scala:126).

    Only the province dim carries a broadcast hint: it is fixed-size
    (one row per province). The user dim scales with the user base —
    AQE broadcasts it while it fits and shuffle-joins beyond, instead
    of a hardcoded hint OOMing executors at 100 TB.
    """
    u = user_dim.select(
        F.col("id").alias("__uid"),
        F.col("gender").alias("user_gender"),
        age_as_of("birthday", as_of).alias("user_age"),
    )
    p = F.broadcast(
        province_dim.select(
            F.col("id").alias("__pid"),
            F.col("name").alias("province_name"),
            F.col("iso_code").alias("province_iso_code"),
            F.col("iso_3166_2").alias("province_3166_2"),
            F.col("area_code").alias("province_area_code"),
        )
    )
    out = (
        fact.join(u, fact[user_key].cast("long") == u["__uid"], "left")
        .drop("__uid")
        .join(p, fact[province_key].cast("long") == p["__pid"], "left")
        .drop("__pid")
    )
    return out


def dau_rows(
    page_log: DataFrame,
    user_dim: DataFrame,
    province_dim: DataFrame,
    as_of: str,
    ts: str = "ts",
) -> DataFrame:
    """Full DAU pipeline: one deduped, enriched row per (dt, mid) —
    the engine's ``gmall_day_info_<date>`` equivalent, a table
    partitioned by dt instead of per-day ES indexes
    (DwdDauApp.scala:177)."""
    entries = session_entries(page_log)
    deduped = dedup_first_daily(entries, key="mid", ts=ts)
    enriched = enrich_dims(deduped, user_dim, province_dim, as_of)
    return enriched.withColumn("hr", hr_col(ts, enriched))


def dau_realtime(dau_table: DataFrame, td: str) -> dict[str, DataFrame]:
    """A1+A2 / the ``GET /dauRealtime?td=`` query
    (PublishDaoImpl.java:104-176): total deduped actives for ``td``
    plus hour-bucket counts for ``td`` and ``td - 1 day``.

    Returns three DataFrames (total / today-by-hour / yesterday-by-
    hour); partition pruning on ``dt`` makes each a single-partition
    scan on the warehouse layout.
    """
    yd = F.date_sub(F.to_date(F.lit(td)), 1).cast("string")
    total = dau_table.filter(F.col("dt") == td).agg(
        F.count("*").cast("bigint").alias("dau_total")
    )
    by_hr = (
        dau_table.filter(F.col("dt") == td)
        .groupBy("hr")
        .agg(F.count("*").cast("bigint").alias("ct"))
    )
    by_hr_yd = (
        dau_table.filter(F.col("dt") == yd)
        .groupBy("hr")
        .agg(F.count("*").cast("bigint").alias("ct"))
    )
    return {"dauTotal": total, "dauTd": by_hr, "dauYd": by_hr_yd}


def sessionize(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessionization via ``session_window`` — the engine
    upgrade of the reference's session-entry heuristic (P12 just
    filters ``last_page_id IS NULL``; real session analytics needs the
    grouping itself).

    One shuffle on the key; Spark merges overlapping windows per key
    internally (no self-join, no window-function sort at global
    scope). Streaming binding: identical expression under
    ``withWatermark`` — session windows close when the watermark
    passes last-event + gap."""
    return (
        events.groupBy(F.session_window(ts, gap).alias("sw"), F.col(key))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            money_sum(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            F.col(key),
            F.col("sw.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
