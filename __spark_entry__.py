"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query on sf0.001;
``queries()`` / ``oracle_sql()`` expose the full operator registry in
``sparkstreaming_realtime_spark/plans/queries.py`` (one entry per
implemented SURVEY §2 operator, each with a DuckDB oracle unless the
op is not SQL-expressible).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkstreaming_realtime_spark.plans import queries as _queries
from sparkstreaming_realtime_spark.plans import oracle_sql as _oracle_sql


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: deduped actives per (day, hour) on sf0.001 —
    the reference's dauRealtime surface (SURVEY §2.11)."""
    return _queries()["dau_by_hour"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _queries()


def oracle_sql() -> dict[str, str]:
    return _oracle_sql()
