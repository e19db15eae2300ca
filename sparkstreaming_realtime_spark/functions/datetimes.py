"""Date/time derivations (SURVEY §2.8 F1-F5).

The reference derives ``dt``/``hr`` by formatting epoch millis with
``SimpleDateFormat`` and splitting strings (``DwdDauApp.scala:144-149``,
``DwdOrderApp.scala:136-143``); ages come from wall-clock
``LocalDate.now()`` (``DwdDauApp.scala:126`` — nondeterministic, and a
comment at ``DwdOrderApp.scala:114`` admits plain year subtraction is
wrong). Engine versions are deterministic: dt/hr via ``date_format``,
age via ``months_between`` against an explicit ``as_of`` date.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dt_col(ts: Column | str, df: DataFrame | None = None) -> Column:
    """Event-time date string 'yyyy-MM-dd' (F1/F2). Accepts a timestamp
    column or epoch-millis bigint column; pass ``df`` so the
    millis-vs-timestamp decision is made once from the schema instead
    of per row."""
    return F.date_format(_as_timestamp(ts, df), "yyyy-MM-dd")


def hr_col(ts: Column | str, df: DataFrame | None = None) -> Column:
    """Event-time hour string 'HH' (F2/F3)."""
    return F.date_format(_as_timestamp(ts, df), "HH")


def _as_timestamp(ts: Column | str, df: DataFrame | None = None) -> Column:
    """Normalize epoch-millis longs vs native timestamps (both appear
    in the reference's data model, SURVEY §1.3).

    The decision is static per column: when the DataFrame (or a
    string column name on it) is available, branch on the schema's
    dataType — zero per-row cost. The per-row regex heuristic only
    remains as the last-ditch fallback for bare-Column callers, where
    no schema exists to inspect (digit-count sniffing
    misclassifies pre-1973 millis and 12+-digit strings)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    dtype = None
    if df is not None and isinstance(ts, str):
        dtype = df.schema[ts].dataType
    if dtype is not None:
        if isinstance(dtype, T.LongType):
            return F.timestamp_millis(c)
        if isinstance(dtype, T.TimestampType):
            return c
        return c.cast("timestamp")
    return F.when(
        c.cast("string").rlike(r"^\d{12,}$"),
        F.timestamp_millis(c.cast("bigint")),
    ).otherwise(c.cast("timestamp"))


def ts_to_dt_hr(df: DataFrame, ts: str = "ts") -> DataFrame:
    """Attach dt/hr derived columns — replaces the reference's
    format-then-split (DwdDauApp.scala:105,144-149)."""
    return df.withColumn("dt", dt_col(ts, df)).withColumn("hr", hr_col(ts, df))


def age_as_of(birthday: Column | str, as_of: str) -> Column:
    """Whole years between a 'yyyy-MM-dd' birthday and a fixed
    ``as_of`` date (F4). Deterministic replacement for
    ``Period.between(parse(birthday), LocalDate.now()).getYears``
    (DwdDauApp.scala:124-130).

    Explicit calendar formula (year delta, minus one before the
    birthday-in-year) rather than ``months_between/12``: identical
    results for real birthdays, and portable — every engine agrees on
    year/month/day extraction while fractional-month semantics differ
    (the reference's own comment at DwdOrderApp.scala:114 flags the
    naive year subtraction this replaces)."""
    b = F.to_date(F.col(birthday) if isinstance(birthday, str) else birthday)
    ao = F.to_date(F.lit(as_of))
    before_birthday = (F.month(ao) < F.month(b)) | (
        (F.month(ao) == F.month(b)) & (F.dayofmonth(ao) < F.dayofmonth(b))
    )
    return (
        F.year(ao) - F.year(b) - F.when(before_birthday, 1).otherwise(0)
    ).cast("int")
