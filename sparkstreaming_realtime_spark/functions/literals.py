"""Fast constant-table literals: one py4j call per table, not one per
element.

Building a plan-literal matrix with ``F.array(*[F.array(*[F.lit(x)
for x in row]) for row in rows])`` costs one Python→JVM round-trip
per ELEMENT — ~1.5 s of pure py4j for a 36×64 hyperplane table, paid
at every plan BUILD (so per micro-batch in an ingest loop, per
k-means iteration in training). The guide's Python-boundary rule
(§4: control how often you cross) applies to the driver exactly as
it does to executors: serialize the whole table into one SQL
expression string and hand it to ``F.expr`` — a single crossing, a
sub-millisecond JVM parse, and the IDENTICAL ``CreateArray``/
``CreateNamedStruct`` expression tree (same dtype, bit-identical
values — ``repr`` of a Python float is its shortest round-trip form
and Spark's literal parser is ``Double.parseDouble``, so the double
survives exactly; pinned by tests/test_literals.py).

Only for finite values — a non-finite would need engine-specific
spellings and none of the callers (hyperplanes, centroids, codebooks,
dot tables — all bounded by construction) can produce one, so this
raises instead of guessing.
"""

from __future__ import annotations

import math
import re
from typing import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

#: struct field names interpolate into SQL text — restrict to plain
#: identifiers so a quote or other metacharacter can't produce a
#: broken/unintended expression (all callers pass
#: constants, but the function is public)
_FIELD_NAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _fmt_double(x: float) -> str:
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"non-finite value {x!r} cannot ride a SQL double literal"
        )
    return repr(x) + "D"


def double_array_sql(values: Sequence[float]) -> str:
    """SQL text for a non-empty array<double> literal."""
    if len(values) == 0:
        raise ValueError("empty array literal has no element type")
    return "array(" + ",".join(_fmt_double(x) for x in values) + ")"


def double_array_lit(values: Sequence[float]) -> Column:
    """``array<double>`` literal column — one py4j call."""
    return F.expr(double_array_sql(values))


def double_matrix_lit(rows: Sequence[Sequence[float]]) -> Column:
    """``array<array<double>>`` literal column — one py4j call."""
    if len(rows) == 0:
        raise ValueError("empty matrix literal has no element type")
    return F.expr(
        "array(" + ",".join(double_array_sql(r) for r in rows) + ")"
    )


def keyed_vector_lit(
    pairs: Iterable[tuple[int, Sequence[float]]],
    key_name: str,
    vec_name: str,
) -> Column:
    """``array<struct<key int, vec array<double>>>`` literal column —
    the centroid/codebook table shape — in one py4j call. Keys must be
    int32-range (they are cell/code ids by construction)."""
    pairs = list(pairs)
    if not pairs:
        raise ValueError("empty keyed-vector literal has no element type")
    for name in (key_name, vec_name):
        if not _FIELD_NAME.match(name):
            raise ValueError(
                f"field name {name!r} is not a plain identifier"
            )
    parts = []
    for k, vec in pairs:
        k = int(k)
        if not (-(2**31) <= k < 2**31):
            raise ValueError(f"key {k} outside int32 range")
        parts.append(
            f"named_struct('{key_name}',{k},"
            f"'{vec_name}',{double_array_sql(vec)})"
        )
    return F.expr("array(" + ",".join(parts) + ")")
