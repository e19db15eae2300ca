"""Registry bindings for the log-split family (P3–P9).

Spark runs the full path: synthesize envelope → ``to_json`` →
``from_json`` → split/explode. The DuckDB oracle derives each output
*directly* from the flat events table — so a parse bug on the Spark
side (field mix-up, null mishandling, array explode off-by-one)
cannot cancel out and will show as a value mismatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import log_split as ls
from .queries import _drain, _stream_t, _t, register

#: shared derivations (keep in lockstep with synthesize_ods_log)
_COMMON_SQL = """
       'mid_' || user_id AS mid,
       user_id::VARCHAR AS user_id,
       (user_id % 34 + 1)::VARCHAR AS province_id,
       'ch_' || (user_id % 5) AS channel,
       (user_id % 2)::VARCHAR AS is_new,
       'model_' || (user_id % 7) AS model,
       CASE WHEN user_id % 2 = 0 THEN 'Android' ELSE 'iOS' END AS operate_system,
       'v' || (user_id % 3) AS version_code,
       'brand_' || (user_id % 6) AS brand
"""

_PAGE_SQL = """
       'page_' || (event_id % 10) AS page_id,
       CASE WHEN event_id % 3 = 0 THEN NULL
            ELSE 'page_' || (event_id % 7) END AS last_page_id,
       (event_id % 100)::VARCHAR AS page_item,
       'sku_id' AS page_item_type,
       floor("value" * 1000)::BIGINT AS during_time,
       'src_' || (event_id % 4) AS "sourceType"
"""


def _raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The events table arrives as one small parquet file → one input
    # split, but the JSON round-trip downstream is CPU-bound, so the
    # file-size-derived parallelism is the wrong unit of work. Rebalance
    # to the cluster's core count before the expensive per-row work —
    # the shuffle moves 5 narrow columns, the win is every core parsing.
    # (The production binding reads Kafka, whose topic partitions supply
    # this parallelism for free.)
    ev = _t(spark, sf_dir, "events").repartition(
        spark.sparkContext.defaultParallelism
    )
    return ls.synthesize_ods_log(ev)


@register(
    "log_split_error",
    oracle="""
    SELECT 'mid_' || user_id AS mid,
           'err_' || (event_id % 5) AS err,
           epoch_ms(ts) AS ts
    FROM events WHERE event_type = 'error'
    """,
    tags=("P3", "P9"),
)
def log_split_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: error branch of the 1→5 split (whole-record routing,
    OdsBaseLogApp.scala:97-101)."""
    return ls.split_error(ls.parse_ods_log(_raw(spark, sf_dir), branch="error"))


@register(
    "log_split_page",
    oracle=f"""
    SELECT {_COMMON_SQL}, {_PAGE_SQL}, epoch_ms(ts) AS ts
    FROM events WHERE event_type IN ('view', 'click', 'purchase')
    """,
    tags=("P4", "P5"),
)
def log_split_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P5: PageLog projection with the reference's renames
    (ar→province_id etc., OdsBaseLogApp.scala:117-130) after a real
    from_json round-trip."""
    return ls.split_page(ls.parse_ods_log(_raw(spark, sf_dir), branch="page"))


@register(
    "log_split_displays",
    oracle=f"""
    SELECT {_COMMON_SQL}, {_PAGE_SQL},
           CASE WHEN (event_id + i) % 2 = 0 THEN 'promotion'
                ELSE 'query' END AS display_type,
           ((event_id + i) % 50)::VARCHAR AS display_item,
           'sku_id' AS display_item_type,
           (i + 1)::VARCHAR AS display_order,
           (i + 1)::VARCHAR AS display_pos_id,
           epoch_ms(ts) AS ts
    FROM (SELECT *, unnest(range(0, event_id % 3 + 1)) AS i
          FROM events WHERE event_type = 'click')
    """,
    tags=("P6",),
)
def log_split_displays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: displays[] fan-out — explode() vs the reference's per-row
    loop (OdsBaseLogApp.scala:133-151); 1 + event_id % 3 rows per
    click."""
    return ls.split_displays(ls.parse_ods_log(_raw(spark, sf_dir), branch="display"))


@register(
    "log_split_actions",
    oracle=f"""
    SELECT {_COMMON_SQL}, {_PAGE_SQL},
           'action_' || ((event_id + i) % 5) AS action_id,
           ((event_id + i) % 50)::VARCHAR AS action_item,
           'sku_id' AS action_item_type,
           epoch_ms(ts) + i AS action_ts,
           epoch_ms(ts) AS ts
    FROM (SELECT *, unnest(range(0, event_id % 2 + 1)) AS i
          FROM events WHERE event_type = 'purchase')
    """,
    tags=("P7",),
)
def log_split_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: actions[] fan-out (OdsBaseLogApp.scala:153-168); 1 +
    event_id % 2 rows per purchase."""
    return ls.split_actions(ls.parse_ods_log(_raw(spark, sf_dir), branch="action"))


@register(
    "log_split_start",
    oracle=f"""
    SELECT {_COMMON_SQL},
           CASE WHEN event_id % 2 = 0 THEN 'icon' ELSE 'notice' END AS entry,
           (event_id % 20)::VARCHAR AS open_ad_id,
           floor("value" * 50)::BIGINT AS loading_time_ms,
           floor("value" * 100)::BIGINT AS open_ad_ms,
           floor("value" * 10)::BIGINT AS open_ad_skip_ms,
           epoch_ms(ts) AS ts
    FROM events WHERE event_type = 'signup'
    """,
    tags=("P8",),
)
def log_split_start(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: StartLog projection (OdsBaseLogApp.scala:170-184)."""
    return ls.split_start(ls.parse_ods_log(_raw(spark, sf_dir), branch="start"))


@register(
    "streaming_multiplex_parity",
    oracle="""
    SELECT branch, n FROM (
      SELECT 'error' AS branch, count(*)::BIGINT AS n
      FROM events WHERE event_type = 'error'
      UNION ALL SELECT 'page', count(*)::BIGINT
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
      UNION ALL SELECT 'display', coalesce(sum(event_id % 3 + 1), 0)::BIGINT
      FROM events WHERE event_type = 'click'
      UNION ALL SELECT 'action', coalesce(sum(event_id % 2 + 1), 0)::BIGINT
      FROM events WHERE event_type = 'purchase'
      UNION ALL SELECT 'start', count(*)::BIGINT
      FROM events WHERE event_type = 'signup'
    )
    """,
    tags=("P9", "T5", "streaming"),
)
def streaming_multiplex_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9's STREAMING side end-to-end: the 1→5 multiplex run through
    real Structured Streaming — file source → synthesized envelope →
    ``multiplex_sink`` foreachBatch (ONE persisted scan feeding all
    five branch sinks, the declarative OdsBaseLogApp.scala:88-198) →
    per-branch row counts off the committed parquet. Counts cover
    every branch including the explode fan-outs, so a lost batch,
    double-write, or explode off-by-one all surface. Row-level typed
    outputs are pinned batch-side by the log_split_* oracles and
    streaming-side by tests/test_streaming.py's multiplex test."""
    import glob

    from ..materialize import engine_tmpdir
    from ..sources.files import events_with_ts
    from ..streaming.pipelines import multiplex_sink
    from ..streaming.store import batch_dir

    _t(spark, sf_dir, "events")  # sets the temporal read confs
    raw = _stream_t(spark, sf_dir, "events")
    base = engine_tmpdir("mux_parity_")
    _drain(ls.synthesize_ods_log(events_with_ts(raw)), multiplex_sink(base), "muxp")
    counts = []
    for name in ("error", "page", "display", "action", "start"):
        dirs = [
            d for d in glob.glob(batch_dir(f"{base}/{name}", "*"))
            if glob.glob(f"{d}/*.parquet")
        ]
        n = spark.read.parquet(*dirs).count() if dirs else 0
        counts.append((name, n))
    return spark.createDataFrame(counts, "branch string, n bigint")
